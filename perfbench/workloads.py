"""The workloads.  A run is one closed-loop pass of the workload; the harness
in run.py repeats runs and never overlaps them.

- ``etl``: the reference ETL.  ``read_json_feed`` + ``process_song_data``
  over a song feed of one tiny JSON file per song (listing and opening many
  files, and a write that commits one file per (year, artist_id) partition),
  then ``read_json_feed`` + ``process_log_data`` over 30 daily log files
  (JSON parsing, several scans of the feed, the OR-join rewrite, and
  single-partition writes of ``time`` and ``songplays``);
- ``headline_core``: four of the frozen-42 headline queries, each built,
  planned and run into a ``noop`` sink, one after another in a seeded order,
  over a seeded star schema (construction and scheduler bound).
"""

from __future__ import annotations

import os
import random
import shutil

from perfbench import checks, feeds, tables
from perfbench.probes import MB, duration, total, tree_size
from udacity_datalake_spark_spark.plans import QUERIES, sparkify
from udacity_datalake_spark_spark.schemas import LOG_DATA_SCHEMA, SONG_DATA_SCHEMA
from udacity_datalake_spark_spark.sources.readers import read_json_feed

ETL_TABLES = ["songs", "artists", "users", "time", "songplays"]


class WriteHook:
    """Stands in for ``plans.sparkify.write_parquet`` until closed: one op and
    one job-grouped span per table write, then the real writer."""

    def __init__(self) -> None:
        self.real = sparkify.write_parquet
        self.tracer = self.ops = None
        sparkify.write_parquet = self

    def __call__(self, df, path, *args, **kwargs):
        table = os.path.basename(path)
        with self.ops.op():
            if self.tracer.enabled:
                # traced runs only: Catalyst planning of the table, which the
                # write then repeats, so its cost lands in trace.overhead_s
                with self.tracer.span(f"plan:{table}", "plan", jobs=True):
                    df._jdf.queryExecution().executedPlan()
            with self.tracer.span(table, "write", jobs=True):
                self.real(df, path, *args, **kwargs)

    def close(self) -> None:
        sparkify.write_parquet = self.real


class Workload:
    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.inputs = os.path.join(work, "input")
        self.out = os.path.join(work, "out")

    def generate(self) -> None:
        """Write the seeded inputs afresh."""
        shutil.rmtree(self.inputs, ignore_errors=True)
        self._write_inputs()

    def _write_inputs(self) -> None:
        raise NotImplementedError

    def run(self, spark, tracer, ops) -> None:
        raise NotImplementedError

    def clear(self, spark) -> None:
        """Remove what a run left behind (untimed)."""
        raise NotImplementedError

    def lake(self) -> list[str]:
        """Tables a downstream reader scans after a run."""
        raise NotImplementedError

    def input_bytes(self) -> int:
        raise NotImplementedError

    def check(self, spark) -> list[str]:
        raise NotImplementedError

    def close(self) -> None:
        pass


class Etl(Workload):
    """The reference ETL (etl.py): the song feed through ``process_song_data``,
    then the log feed through ``process_log_data``, which reads the songs and
    artists tables back from the lake."""

    def __init__(self, seed: int, work: str) -> None:
        super().__init__(seed, work)
        self.hook = WriteHook()

    def _write_inputs(self) -> None:
        self.expected = feeds.write_feeds(self.inputs, self.seed)

    def run(self, spark, tracer, ops) -> None:
        self.hook.tracer, self.hook.ops = tracer, ops
        with tracer.span("read_json_feed:song_data", "build", jobs=True):
            songs = read_json_feed(spark, f"{self.inputs}/song_data/*/*/*", SONG_DATA_SCHEMA)
        with tracer.span("process_song_data", "etl", jobs=True):
            sparkify.process_song_data(spark, songs, self.out)
        with tracer.span("read_json_feed:log_data", "build", jobs=True):
            logs = read_json_feed(spark, f"{self.inputs}/log_data/*/*", LOG_DATA_SCHEMA)
        with tracer.span("process_log_data", "etl", jobs=True):
            sparkify.process_log_data(spark, logs, self.out)

    def clear(self, spark) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def lake(self) -> list[str]:
        return [os.path.join(self.out, t) for t in ETL_TABLES]

    def input_bytes(self) -> int:
        feeds_bytes = sum(tree_size(os.path.join(self.inputs, d), ".json")[2] for d in ("song_data", "log_data"))
        return feeds_bytes + sum(tree_size(os.path.join(self.out, t))[2] for t in ("songs", "artists"))

    def check(self, spark) -> list[str]:
        return checks.check_etl(self.inputs, self.out, ETL_TABLES, self.expected)

    def close(self) -> None:
        self.hook.close()


class HeadlineCore(Workload):
    sf = 0.001
    # one per family: aggregate, OR-join rewrite, sessionize, and a graph
    # query that runs Spark jobs while it is built
    queries = [
        "q01_pricing_summary",
        "q07_or_join_decomposed",
        "q65_sessionize",
        "q212_triangle_count",
    ]

    def __init__(self, seed: int, work: str) -> None:
        super().__init__(seed, work)
        self.order = list(self.queries)
        random.Random(seed).shuffle(self.order)

    def _write_inputs(self) -> None:
        tables.write_tables(self.inputs, self.seed, self.sf)

    def run(self, spark, tracer, ops) -> None:
        for name in self.order:
            with ops.op(), tracer.span(name, "query"):
                with tracer.span("build", "build", jobs=True):
                    df = QUERIES[name](spark, self.inputs)
                with tracer.span("plan", "plan", jobs=True):
                    df._jdf.queryExecution().executedPlan()
                with tracer.span("exec", "exec", jobs=True):
                    df.write.format("noop").mode("overwrite").save()

    def clear(self, spark) -> None:
        # some operators persist frames and leave un-persisting to the caller
        spark.catalog.clearCache()

    def lake(self) -> list[str]:
        # read-only workload: its lake is the tables the queries scan
        return [os.path.join(self.inputs, f"{t}.parquet") for t in tables.TABLES]

    def input_bytes(self) -> int:
        return sum(tree_size(p)[2] for p in self.lake())

    def check(self, spark) -> list[str]:
        return checks.check_queries(spark, self.order, self.inputs, tables.TABLES)


WORKLOADS = {"etl": Etl, "headline_core": HeadlineCore}


def layer_metrics(tracer, workload: Workload) -> dict[str, float]:
    """Per-layer metrics of one traced run (counters already attached)."""
    spans = tracer.spans
    grouped = [s for s in spans if "counters" in s]
    build = tracer.of_kind("build")
    execs = [s for s in grouped if s["kind"] != "build"]
    action = tracer.of_kind("exec") + tracer.of_kind("write")
    m = {
        "plans.build_s": duration(build),
        "plans.build_jobs": total(build, "jobs"),
        "catalyst.plan_s": duration(tracer.of_kind("plan")),
        "exec.exec_s": duration(action),
    }
    for k in ("jobs", "stages", "tasks", "failed_tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_mb", "spill_mb"):
        m[f"exec.{k}"] = total(execs, k)
    m["exec.parallelism"] = m["exec.run_s"] / m["exec.exec_s"] if m["exec.exec_s"] else 0.0
    m["readers.input_mb"] = total(grouped, "input_mb")
    m["readers.scan_amplification"] = m["readers.input_mb"] * MB / workload.input_bytes()
    m["readers.scan_tasks"] = total(grouped, "scan_tasks")
    writes = {s["name"]: s for s in tracer.of_kind("write")}
    for t in ETL_TABLES:
        s = writes.get(t)
        files, parts, size = tree_size(os.path.join(workload.out, t)) if s else (0, 0, 0)
        m[f"writers.{t}.write_s"] = s["end"] - s["start"] if s else 0.0
        m[f"writers.{t}.commit_s"] = s["end_epoch"] - s["counters"]["last_job_end"] if s else 0.0
        m[f"writers.{t}.write_tasks"] = s["counters"]["tasks"] if s else 0.0
        m[f"writers.{t}.files"] = files
        m[f"writers.{t}.partitions"] = parts
        m[f"writers.{t}.mb"] = size / MB
    return m


def op_summary(tracer) -> dict[str, dict[str, float]]:
    """Per-query (build/plan/exec) or per-table (write) figures of a traced run."""
    out = {}
    for s in tracer.spans:
        if s["kind"] == "query":
            kids = {c["name"]: c for c in tracer.spans if c["parent"] == s["id"]}
            out[s["name"]] = {f"{k}_s": round(c["end"] - c["start"], 4) for k, c in kids.items()}
            out[s["name"]]["jobs"] = total(list(kids.values()), "jobs")
            out[s["name"]]["tasks"] = total(list(kids.values()), "tasks")
        elif s["kind"] == "write":
            out[s["name"]] = {"write_s": round(s["end"] - s["start"], 4), "jobs": s["counters"]["jobs"],
                              "tasks": s["counters"]["tasks"]}
    return out
