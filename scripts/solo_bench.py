"""Solo-query clean-window timing: python scripts/solo_bench.py q302_png_decode [q...]

Times each named registry query at $SPARK_GRAFT_SF_DIR (default sf0.1)
with bench.py's own warm-up + noop-sink + min-of-N loop, but
for a hand-picked subset — the tool for before/after measurements of a
single plan change without paying for the full frozen-42 sweep.
Writes nothing; prints one line per query.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from udacity_datalake_spark_spark.plans import QUERIES
from udacity_datalake_spark_spark.session import get_session


def main() -> None:
    names = sys.argv[1:]
    if not names:
        print("usage: solo_bench.py <query-name> [...]", file=sys.stderr)
        sys.exit(2)
    # Validate BEFORE starting the (expensive) Spark session: an unknown
    # name used to raise a raw KeyError from the warm-up loop after the
    # JVM was already up (ADVICE r7).
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(
            f"unknown query name(s): {', '.join(unknown)} "
            f"(registry has {len(QUERIES)} queries, q01..q411)",
            file=sys.stderr,
        )
        sys.exit(2)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))
    spark = get_session(app_name="udacity-datalake-spark-solo-bench")
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    bench.warm_up(spark, names, warm_dir)
    for name in names:
        best = bench.time_query(spark, name, sf_dir, repeats)
        print(f"{name} {best:.3f}s (min of {repeats}, {sf_dir})")


if __name__ == "__main__":
    main()
