"""One-command repro entry (round-8 VERDICT #7): every evidence artifact
the judge reads, regenerated in one invocation with a one-line PASS/FAIL
per stage.  Exit 0 iff every stage passes.

Stages (each a subprocess, so one stage's Spark session never bleeds
into the next):
  1. suite     — sharded pytest (scripts/run_tests_sharded.py; records
                 wall time in SUITE_TIME.jsonl)
  2. driver    — full-registry correctness sim at sf0.01 AND sf0.1
                 (scripts/driver_sim.py --summary --full-volume →
                 CORRECTNESS_LOCAL.md; + sf1 sensitive subset when the
                 .localdata/sf1 fixture exists)
  3. bench     — frozen-42 headline sweep at sf0.1 (bench.py; prints
                 its JSON lines to stdout and writes no file)
The slower bench.py tiers are opt-in via --tiers: the frozen-42 at sf1,
the dim-bound set at sf1d, the graph trio at sf1ds and the whole
registry at sf0.1, each against its base tier.  Each writes bench.py's
full sweep record (its "bench_sweep" line) to its artifact:
BENCH_SF1.json, BENCH_SF1D.json (the sf1ds record under "skew_variant")
and BENCH_REGISTRY.json.  They need the .localdata fixtures
(scripts/make_sf1.py [--grow-dims [--skew]]) and a verifiably idle host.

--quick (round 10, VERDICT r9 #7): the pre-commit loop (~9 min) —
sharded suite (which already contains the full 411-query oracle-parity
sweep) + an __spark_entry__ contract smoke (entry() and one registered
query per operator family through the driver comparator).  Full
verify_all remains the round's evidence bar.

Usage: python scripts/verify_all.py [--skip suite,driver,bench]
           [--tiers] [--quick]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

STAGES: list[tuple[str, list[str]]] = [
    ("suite", [sys.executable, "scripts/run_tests_sharded.py"]),
    # --full-volume (round 8): the driver stage verifies the WHOLE
    # registry at sf0.1 too, not just the data-sensitive subset — its
    # first run caught q374's long-sum overflow and q368's oracle
    # spill, both invisible at sf0.01.  Sharded since round 10 (VERDICT
    # r9 #2): the serial single-session form cost 2,128 s of the
    # 3,153 s repro; 4 subprocess shards (same isolation audit as the
    # test runner) cut it ~3x with an identical merged
    # CORRECTNESS_LOCAL.md.
    # 6 shards: the 4-way run's 854-1049 s spread is per-slice query-cost
    # imbalance (the sim is scheduling-latency-bound, not CPU-bound, so
    # finer slices smooth stragglers and mild thread oversubscription is
    # free)
    # --update-costs (round 11, VERDICT r10 #1): every complete green
    # full-volume run refreshes the measured per-query cost table that
    # LPT shard packing reads, so the packing tracks plan changes
    # automatically instead of drifting stale.
    ("driver", [sys.executable, "scripts/driver_sim_sharded.py", "--full-volume", "--workers", "6", "--update-costs"]),
    ("bench", [sys.executable, "bench.py"]),
]
# The quick driver stage is an __spark_entry__ CONTRACT smoke (entry()
# plus one registered query per operator family), not a second full
# parity sweep: the suite stage already executes all 411 oracle-parity
# checks (tests/test_oracle_parity.py), so a full driver_sim pass in
# quick mode re-verified the same queries through a second comparator
# for +7 minutes (measured 418.7 s sharded).  Full verify_all keeps the
# full-volume sharded sim as the round's evidence bar.
QUICK_STAGES: list[tuple[str, list[str]]] = [
    ("suite", [sys.executable, "scripts/run_tests_sharded.py"]),
    (
        "driver_quick",
        [
            sys.executable, "scripts/driver_sim.py", "/root/testdata/sf0.01",
            "q01_", "q65_", "q95_", "q48_", "q133_", "q302_", "q311_",
        ],
    ),
]
# (name, bench.py args, env, (artifact, key or None for the whole file))
TIER_STAGES: list[tuple[str, list[str], dict, tuple[str, str | None]]] = [
    (
        "tier_sf1",
        ["--base", "/root/testdata/sf0.1"],
        {"SPARK_GRAFT_SF_DIR": ".localdata/sf1", "SPARK_GRAFT_BENCH_REPEATS": "3"},
        ("BENCH_SF1.json", None),
    ),
    (
        "tier_sf1d",
        ["dim", "--base", "/root/testdata/sf0.1"],
        {"SPARK_GRAFT_SF_DIR": ".localdata/sf1d", "SPARK_GRAFT_BENCH_REPEATS": "3"},
        ("BENCH_SF1D.json", None),
    ),
    # skewed-dim variant (round 9): graph trio on the mega-dim-replica
    # tier against the uniform one, equal volume (bar 4); needs
    # .localdata/sf1ds (make_sf1.py --grow-dims --skew)
    (
        "tier_sf1ds",
        ["graph", "--base", ".localdata/sf1d"],
        {"SPARK_GRAFT_SF_DIR": ".localdata/sf1ds", "SPARK_GRAFT_BENCH_REPEATS": "3"},
        ("BENCH_SF1D.json", "skew_variant"),
    ),
    # full-registry slope sweep (round 8): ~30 min, every registered
    # query timed at sf0.01+sf0.1
    (
        "tier_registry",
        ["all"],
        {"SPARK_GRAFT_BENCH_REPEATS": "2"},
        ("BENCH_REGISTRY.json", None),
    ),
]


def write_artifact(stdout: str, artifact: tuple[str, str | None]) -> None:
    """Write bench.py's full sweep record (its ``bench_sweep`` stdout
    line) to ``artifact``: the whole file, or one key of the existing
    file."""
    for line in stdout.splitlines():
        try:
            record = json.loads(line)
        except ValueError:
            continue
        if isinstance(record, dict) and record.get("metric") == "bench_sweep":
            break
    else:
        return
    name, key = artifact
    path = os.path.join(REPO, name)
    if key:
        try:
            with open(path) as f:
                record = {**json.load(f), key: record}
        except (OSError, ValueError):
            record = {key: record}
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")


def main() -> None:
    skip = set()
    for i, a in enumerate(sys.argv):
        if a == "--skip" and i + 1 < len(sys.argv):
            skip = set(sys.argv[i + 1].split(","))
    base = QUICK_STAGES if "--quick" in sys.argv else STAGES
    stages = [(n, c, {}, None) for n, c in base if n not in skip]
    if "--tiers" in sys.argv:
        stages += [
            (n, [sys.executable, "bench.py", *args], env, artifact)
            for n, args, env, artifact in TIER_STAGES
            if n not in skip
        ]

    results: list[tuple[str, bool, float, str]] = []
    for name, cmd, env, artifact in stages:
        t0 = time.perf_counter()
        proc = subprocess.run(
            cmd, cwd=REPO, capture_output=True, text=True, env={**os.environ, **env}
        )
        if artifact:
            write_artifact(proc.stdout, artifact)
        wall = round(time.perf_counter() - t0, 1)
        ok = proc.returncode == 0
        last = ""
        for line in reversed(proc.stdout.splitlines()):
            if line.strip():
                last = line.strip()[:200]
                break
        # a bench.py stage PASS additionally requires the parseable
        # summary as the final line
        if ok and cmd[1:2] == ["bench.py"]:
            try:
                ok = json.loads(last).get("metric") == "headline_queries_total"
            except (ValueError, AttributeError):
                ok = False
        results.append((name, ok, wall, last))
        print(f"[{name}] {'PASS' if ok else 'FAIL'} {wall}s  {last}")
        if not ok:
            print(proc.stdout[-3000:])
            print(proc.stderr[-2000:], file=sys.stderr)
    all_ok = all(ok for _, ok, _, _ in results)
    # Round-loop economics (round 9, VERDICT r8 #6): one committed line
    # per invocation with per-stage wall times, so tier-sweep cost (the
    # ~30-min registry sweep, sf1/sf1d) is tracked like suite time and
    # the next round can decide which tiers to re-run from data.  The
    # "metric" key distinguishes these lines from the driver's own
    # PROGRESS.jsonl heartbeat records (which have none).
    try:
        with open(os.path.join(REPO, "PROGRESS.jsonl"), "a") as f:
            f.write(
                json.dumps(
                    {
                        "metric": "verify_all_stages",
                        "ts": int(time.time()),
                        "ok": all_ok,
                        "tiers": "--tiers" in sys.argv,
                        "quick": "--quick" in sys.argv,
                        "stage_wall_sec": {n: w for n, _, w, _ in results},
                        "failures": [n for n, ok, _, _ in results if not ok],
                    }
                )
                + "\n"
            )
    except OSError:
        pass
    print(
        "verify_all: "
        + ("ALL PASS" if all_ok else "FAILURES: "
           + ",".join(n for n, ok, _, _ in results if not ok))
    )
    sys.exit(0 if all_ok else 1)


if __name__ == "__main__":
    main()
