"""Seeded Sparkify feeds in the reference layout, with expected row counts.

- ``song_data/A/<x>/<y>/TR*.json`` — one song per file, the track id's
  characters 2–4 naming the directories, as in the reference bucket;
- ``log_data/2018/11/2018-11-DD-events.json`` — one line-delimited file per
  day of November 2018, about 80 % ``NextSong`` events;
- ``expected.json`` — the row count of each star-schema table the reference
  ETL must write from these feeds, computed here in plain Python.

The same seed gives byte-identical files.

    python3 perfbench/feeds.py --seed 7 --out feeds
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import random
import string

# sizes: about 45 (year, artist_id) songs partitions and 2·10⁴ events
N_SONGS, N_ARTISTS, N_USERS, N_EVENTS = 60, 20, 96, 20_000
DAYS = 30
# Rates of the reference's golden run on its sample feeds (71 songs, 6820
# NextSong events; FIXTURES.md, BASELINE.md): 4 songplays, 1 of them
# credited to an artist; 96 users, 8 of whom switch level (104 users rows).
PLAY_HIT_RATE = 4 / 6820
CREDITED_SHARE = 1 / 4
SWITCHERS = 8
PAGES = ["Home", "Settings", "Help", "Upgrade", "About", "Downgrade", "Save Settings", "Error"]
FIRST = ["Ann", "Bob", "Cara", "Dan", "Eve", "Finn", "Gia", "Hal", "Ivy", "Jon", "Kim", "Lea"]
LAST = ["Alpha", "Beta", "Cruz", "Diaz", "Evans", "Fox", "Gray", "Hill", "Ito", "Jones"]
AGENTS = [
    '"Mozilla/5.0 (Windows NT 6.1; WOW64) Chrome/36.0.1985.143 Safari/537.36"',
    '"Mozilla/5.0 (Macintosh; Intel Mac OS X 10_9_4) Safari/537.77.4"',
    "Mozilla/5.0 (X11; Linux x86_64; rv:31.0) Gecko/20100101 Firefox/31.0",
]
CITIES = [f"City{k}, {string.ascii_uppercase[k % 26]}{string.ascii_uppercase[k // 26]}" for k in range(300)]
USER_CITIES = CITIES[:60]
EPOCH_NOV = int(dt.datetime(2018, 11, 1, tzinfo=dt.timezone.utc).timestamp() * 1000)


def _ident(rng: random.Random, prefix: str, n: int = 16) -> str:
    return prefix + "".join(rng.choices(string.ascii_uppercase + string.digits, k=n))


def make_songs(rng: random.Random, n_songs: int, n_artists: int) -> list[dict]:
    """Song records (reference song-file fields); every song has its own
    title."""
    artists = []
    for k in range(n_artists):
        coords = None if rng.random() < 0.5 else (round(rng.uniform(-40, 60), 5), round(rng.uniform(-120, 40), 5))
        artists.append(
            {
                "artist_id": _ident(rng, "AR"),
                "artist_name": f"Artist {k} {rng.choice(string.ascii_uppercase)}",
                "artist_location": "" if rng.random() < 0.2 else rng.choice(CITIES),
                "coords": coords,
            }
        )
    songs = []
    for k in range(n_songs):
        a = artists[rng.randrange(n_artists)] if k >= n_artists else artists[k]
        lat_long = a["coords"]
        songs.append(
            {
                "num_songs": 1,
                "artist_id": a["artist_id"],
                "artist_latitude": lat_long[0] if lat_long else None,
                "artist_longitude": lat_long[1] if lat_long else None,
                "artist_location": a["artist_location"],
                "artist_name": a["artist_name"],
                "song_id": _ident(rng, "SO"),
                "title": f"Title {k}",
                "duration": round(rng.uniform(30.0, 600.0), 5),
                "year": 0 if rng.random() < 0.5 else rng.randint(1960, 2010),
            }
        )
    return songs


def write_song_feed(root: str, songs: list[dict], rng: random.Random) -> None:
    for s in songs:
        track = "TRA" + rng.choice("AB") + rng.choice(string.ascii_uppercase) + _ident(rng, "", 13)
        d = os.path.join(root, "song_data", track[2], track[3], track[4])
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"{track}.json"), "w") as f:
            f.write(json.dumps(s))


def make_users(rng: random.Random, n_users: int) -> list[dict]:
    """Users; ``SWITCHERS`` of them switch level on some day of the month."""
    switchers = set(rng.sample(range(n_users), SWITCHERS))
    users = []
    for k in range(n_users):
        users.append(
            {
                "userId": str(k + 2),
                "firstName": rng.choice(FIRST),
                "lastName": rng.choice(LAST),
                "gender": rng.choice("FM"),
                "level": rng.choice(["free", "paid"]),
                "switch_day": rng.randint(2, DAYS) if k in switchers else None,
                "location": rng.choice(USER_CITIES),
                "userAgent": rng.choice(AGENTS),
                "registration": float(EPOCH_NOV - rng.randrange(10**9, 10**10)),
            }
        )
    return users


def make_events(rng: random.Random, n_events: int, users: list[dict], songs: list[dict]) -> list[list[dict]]:
    """Per-day event lists, about 80 % ``NextSong``.  Plays hit a feed song
    at the golden run's rate, a quarter of the hits credited to the song's
    artist (at least one credited and one uncredited hit, so the OR-join
    meets both); every other play is a track the song feed does not have."""
    per_day = n_events // DAYS
    days, plays = [], []
    for day in range(1, DAYS + 1):
        day_ms = EPOCH_NOV + (day - 1) * 86_400_000
        events = []
        for ts in sorted(day_ms + rng.randrange(86_400_000) for _ in range(per_day)):
            u = rng.choice(users)
            level = u["level"]
            if u["switch_day"] is not None and day >= u["switch_day"]:
                level = "paid" if level == "free" else "free"
            e = {
                "artist": None, "auth": "Logged In", "firstName": u["firstName"],
                "gender": u["gender"], "itemInSession": rng.randrange(100),
                "lastName": u["lastName"], "length": None, "level": level,
                "location": u["location"], "method": "PUT", "page": "NextSong",
                "registration": u["registration"], "sessionId": day * 1000 + int(u["userId"]),
                "song": None, "status": 200, "ts": ts, "userAgent": u["userAgent"],
                "userId": u["userId"],
            }
            r = rng.random()
            if r < 0.02:
                e.update(auth="Logged Out", firstName=None, gender=None, lastName=None,
                         location=None, page="Login", registration=None, userAgent=None,
                         userId="", method="GET", status=307)
            elif r < 0.2:
                e.update(page=rng.choice(PAGES), method="GET")
            else:
                e.update(song=f"Track {rng.randrange(20000)}", length=round(rng.uniform(30, 600), 5),
                         artist=f"Band {rng.randrange(500)}")
                plays.append(e)
            events.append(e)
        days.append(events)
    hits = rng.sample(plays, max(2, round(len(plays) * PLAY_HIT_RATE)))
    n_credited = min(max(1, round(len(hits) * CREDITED_SHARE)), len(hits) - 1)
    for k, e in enumerate(hits):
        s = rng.choice(songs)
        e.update(song=s["title"], length=s["duration"])
        if k < n_credited:
            e["artist"] = s["artist_name"]
    return days


def write_log_feed(root: str, days: list[list[dict]]) -> None:
    d = os.path.join(root, "log_data", "2018", "11")
    os.makedirs(d, exist_ok=True)
    for day, events in enumerate(days, start=1):
        with open(os.path.join(d, f"2018-11-{day:02d}-events.json"), "w") as f:
            f.write("\n".join(json.dumps(e) for e in events) + "\n")


def expected_counts(songs: list[dict], days: list[list[dict]]) -> dict[str, int]:
    """Row counts of the five tables, by the reference's semantics: full-row
    distinct dims, a ``time`` row per NextSong event, and songplays as
    events ⋈ songs ON title, ⟕ artists ON name OR location, distinct."""
    song_rows = {(s["song_id"], s["title"], s["artist_id"], s["year"], s["duration"]) for s in songs}
    artist_rows = {
        (s["artist_id"], s["artist_name"], s["artist_location"], s["artist_latitude"], s["artist_longitude"])
        for s in songs
    }
    plays = [e for events in days for e in events if e["page"] == "NextSong"]
    by_title: dict[str, list[str]] = {}
    for song_id, title, *_ in song_rows:
        by_title.setdefault(title, []).append(song_id)
    by_name: dict[str, set[str]] = {}
    by_location: dict[str, set[str]] = {}
    for artist_id, name, location, *_ in artist_rows:
        by_name.setdefault(name, set()).add(artist_id)
        by_location.setdefault(location, set()).add(artist_id)
    songplays = set()
    for e in plays:
        start = e["ts"] // 1000
        artist_ids = by_name.get(e["artist"], set()) | by_location.get(e["location"], set())
        for song_id in by_title.get(e["song"], []):
            for artist_id in artist_ids or {None}:
                songplays.add((start, e["userId"], e["level"], song_id, artist_id,
                               e["sessionId"], e["location"], e["userAgent"]))
    users = {(e["userId"], e["firstName"], e["lastName"], e["gender"], e["level"]) for e in plays}
    return {"songs": len(song_rows), "artists": len(artist_rows), "users": len(users), "time": len(plays),
            "songplays": len(songplays)}


def write_feeds(out: str, seed: int) -> dict[str, int]:
    """Write the song and log feeds under ``out`` and return the expected row
    counts (also saved as expected.json)."""
    rng = random.Random(seed)
    songs = make_songs(rng, N_SONGS, N_ARTISTS)
    write_song_feed(out, songs, rng)
    days = make_events(rng, N_EVENTS, make_users(rng, N_USERS), songs)
    write_log_feed(out, days)
    counts = expected_counts(songs, days)
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(counts, f, sort_keys=True)
    return counts


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    print(json.dumps(write_feeds(args.out, args.seed)))


if __name__ == "__main__":
    main()
