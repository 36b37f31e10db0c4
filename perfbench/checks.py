"""Output checks, run once per invocation outside the timed region.

ETL tables are compared by row count and an order-independent checksum
(the sum of per-row hashes, all computed by DuckDB) against two independent
computations: the generator's expected counts, and a DuckDB twin of the
reference ETL run over the same JSON feeds.  Registered queries are compared
with their ``ORACLE_SQL`` twins, run by DuckDB over the same parquet tables,
with ``tests/oracle.py``'s comparison.
"""

from __future__ import annotations

import duckdb

# Canonical column types, so the written parquet and the twin hash alike.
TABLE_COLUMNS = {
    "songs": {"song_id": "VARCHAR", "title": "VARCHAR", "artist_id": "VARCHAR", "year": "BIGINT",
              "duration": "DOUBLE"},
    "artists": {"artist_id": "VARCHAR", "name": "VARCHAR", "location": "VARCHAR", "latitude": "DOUBLE",
                "longitude": "DOUBLE"},
    "users": {"user_id": "VARCHAR", "first_name": "VARCHAR", "last_name": "VARCHAR", "gender": "VARCHAR",
              "level": "VARCHAR"},
    "time": {"start_time": "TIMESTAMP", "hour": "INTEGER", "day": "INTEGER", "week": "INTEGER",
             "month": "INTEGER", "year": "INTEGER", "weekday": "VARCHAR"},
    "songplays": {"start_time": "TIMESTAMP", "user_id": "VARCHAR", "level": "VARCHAR", "song_id": "VARCHAR",
                  "artist_id": "VARCHAR", "session_id": "BIGINT", "location": "VARCHAR",
                  "user_agent": "VARCHAR", "year": "INTEGER", "month": "INTEGER"},
}

SONG_COLUMNS = ("{song_id: 'VARCHAR', title: 'VARCHAR', artist_id: 'VARCHAR', artist_name: 'VARCHAR', "
                "artist_location: 'VARCHAR', artist_latitude: 'DOUBLE', artist_longitude: 'DOUBLE', "
                "year: 'BIGINT', duration: 'DOUBLE', num_songs: 'BIGINT'}")
LOG_COLUMNS = ("{artist: 'VARCHAR', auth: 'VARCHAR', firstName: 'VARCHAR', gender: 'VARCHAR', "
               "itemInSession: 'BIGINT', lastName: 'VARCHAR', length: 'DOUBLE', level: 'VARCHAR', "
               "location: 'VARCHAR', method: 'VARCHAR', page: 'VARCHAR', registration: 'DOUBLE', "
               "sessionId: 'BIGINT', song: 'VARCHAR', status: 'BIGINT', ts: 'BIGINT', userAgent: 'VARCHAR', "
               "userId: 'VARCHAR'}")

# The reference ETL (etl.py) restated in DuckDB SQL.
TWINS = {
    "songs": "SELECT DISTINCT song_id, title, artist_id, year, duration FROM song",
    "artists": """SELECT DISTINCT artist_id, artist_name AS name, artist_location AS location,
                         artist_latitude AS latitude, artist_longitude AS longitude FROM song""",
    "users": """SELECT DISTINCT userId AS user_id, firstName AS first_name, lastName AS last_name,
                       gender, level FROM ev""",
    "time": """SELECT st AS start_time, hour(st) AS hour, day(st) AS day, week(st) AS week,
                      month(st) AS month, year(st) AS year, dayname(st) AS weekday FROM ev""",
    "songplays": """
        SELECT DISTINCT e.st AS start_time, e.userId AS user_id, e.level, s.song_id, a.artist_id,
               e.sessionId AS session_id, e.location, e.userAgent AS user_agent,
               year(e.st) AS year, month(e.st) AS month
        FROM ev e
        JOIN (SELECT song_id, title, duration FROM twin_songs) s ON e.song = s.title
        LEFT JOIN twin_artists a ON e.artist = a.name OR e.location = a.location""",
}


def _fingerprint(con, table: str, source: str) -> tuple[int, int]:
    cols = ", ".join(f"CAST({c} AS {t})" for c, t in TABLE_COLUMNS[table].items())
    n, h = con.sql(f"SELECT count(*), coalesce(sum(hash({cols})::HUGEINT), 0) FROM ({source})").fetchone()
    return int(n), int(h)


def check_etl(feed_dir: str, lake_dir: str, tables: list[str], expected: dict[str, int]) -> list[str]:
    """Failures (empty when every table matches) for the tables under ``lake_dir``."""
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    con.sql(f"CREATE VIEW song AS SELECT * FROM read_json('{feed_dir}/song_data/*/*/*/*.json', "
            f"format='newline_delimited', columns={SONG_COLUMNS})")
    con.sql("CREATE TABLE twin_songs AS " + TWINS["songs"])
    con.sql("CREATE TABLE twin_artists AS " + TWINS["artists"])
    if any(t in tables for t in ("users", "time", "songplays")):
        con.sql(f"CREATE VIEW log AS SELECT * FROM read_json('{feed_dir}/log_data/*/*/*.json', "
                f"format='newline_delimited', columns={LOG_COLUMNS})")
        con.sql("CREATE TABLE ev AS SELECT *, make_timestamp((ts // 1000) * 1000000) AS st "
                "FROM log WHERE page = 'NextSong'")
    failures = []
    for t in tables:
        actual = _fingerprint(con, t, f"SELECT * FROM read_parquet('{lake_dir}/{t}/**/*.parquet', "
                                      "hive_partitioning = true)")
        twin = _fingerprint(con, t, TWINS[t])
        if actual != twin or actual[0] != expected[t]:
            failures.append(f"{t}: written (rows, checksum) {actual}, DuckDB twin {twin}, "
                            f"generator rows {expected[t]}")
    con.close()
    return failures


def _oracle(sql: str, lake_dir: str, tables: list[str]):
    """``sql`` run by DuckDB with a view per table of ``lake_dir``."""
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{lake_dir}/{t}.parquet'")
    try:
        return con.sql(sql).df()
    finally:
        con.close()


def check_queries(spark, names: list[str], lake_dir: str, tables: list[str]) -> list[str]:
    """Failures among ``names``: each query's result against its oracle twin
    over ``tables``, the tables under ``lake_dir``."""
    from tests.oracle import assert_frames_match
    from udacity_datalake_spark_spark.plans import ORACLE_SQL, QUERIES

    failures = []
    for name in names:
        try:
            assert_frames_match(QUERIES[name](spark, lake_dir).toPandas(), _oracle(ORACLE_SQL[name], lake_dir, tables))
        except Exception as e:  # a wrong result and a crash both count
            failures.append(f"{name}: {type(e).__name__}: {str(e).splitlines()[0][:200] if str(e) else ''}")
    return failures
