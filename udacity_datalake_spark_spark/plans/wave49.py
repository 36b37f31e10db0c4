"""Wave 49: BMP container decode (third image format cross-checking the
PPM/PNG pixel formula), ingest admission caps (per-user-per-day quota
enforcement), and common-neighbor link prediction over the co-supply
graph (the classic candidate-scoring primitive for graph-based
recommendation / near-dup edge completion).

Reference parity note: the reference (etl.py, /root/reference) has none
of these; they extend the multimodal (q193/q194/q302), event-time
(q135/q136), and graph (q212/q217/q229) families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from udacity_datalake_spark_spark.operators.topk import ranked_topk
from udacity_datalake_spark_spark.plans.registry import query
from udacity_datalake_spark_spark.plans.wave15 import (
    COSUPPLY_EDGES_SQL,
    DENSE_GATE_EDGES,
    DENSE_GATE_NODES,
    cosupply_edges,
    dense_adjacency,
    dense_gate_fetch,
)
from udacity_datalake_spark_spark.sources.readers import read_table
from udacity_datalake_spark_spark.scratch import spersist


@query(
    "q317_bmp_decode",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               CAST(16 + doc_id % 8 AS INT) AS width,
               CAST(8 + doc_id % 5 AS INT) AS height
        FROM documents
    )
    SELECT doc_id, width, height,
           CAST(list_sum(list_transform(range(width * height),
                p -> (doc_id * 31 + (p * 3 + 0) * 97) % 256)) AS BIGINT) AS sum_r,
           CAST(list_sum(list_transform(range(width * height),
                p -> (doc_id * 31 + (p * 3 + 1) * 97) % 256)) AS BIGINT) AS sum_g,
           CAST(list_sum(list_transform(range(width * height),
                p -> (doc_id * 31 + (p * 3 + 2) * 97) % 256)) AS BIGINT) AS sum_b
    FROM dims
    """,
)
def q317_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real BMP container decode over synthesized 24-bit BI_RGB payloads
    (cites /root/reference/etl.py — no multimodal surface to mirror; this
    extends q193/q194/q302's codec family): the encoder writes genuine
    BMP files (file + info headers, bottom-up BGR rows, 4-byte stride
    padding) from q194's pixel formula, and ``decode_media('bmp')``
    must undo the row reversal, channel swap and padding to reproduce
    the SAME closed-form per-channel sums the PPM and PNG paths are
    oracle-checked against — three independent containers, one pixel
    truth.

    Scale shape: synth and decode are one Arrow-batched mapInPandas
    stage each (payload bytes never shuffle); the oracle is closed-form
    per doc, so the whole pipeline is value-checked end-to-end."""
    from udacity_datalake_spark_spark.operators.multimodal import (
        decode_media,
        synthesize_bmp_payload,
    )

    d = read_table(spark, sf_dir, "documents", columns=["doc_id"])
    return decode_media(synthesize_bmp_payload(d), "bmp").select(
        "doc_id", "width", "height", "sum_r", "sum_g", "sum_b"
    )


ADMIT_CAP = 5


@query(
    "q318_admission_caps",
    oracle=f"""
    WITH ranked AS (
        SELECT event_type, user_id,
               row_number() OVER (
                   PARTITION BY user_id, date_trunc('day', ts)
                   ORDER BY ts, event_id) AS rn
        FROM events
    )
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CASE WHEN rn <= {ADMIT_CAP} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_admitted,
           CAST(sum(CASE WHEN rn > {ADMIT_CAP} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dropped,
           CAST(count(DISTINCT CASE WHEN rn > {ADMIT_CAP} THEN user_id END)
                AS BIGINT) AS n_throttled_users
    FROM ranked
    GROUP BY event_type
    """,
)
def q318_admission_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest admission control: each user admits at most {CAP} events
    per calendar day (fixed-window quota — the deterministic batch twin of
    an ingest-edge rate limiter), ordered by (ts, event_id) so admission
    is reproducible; the report prices the policy per event type —
    dropped volume and how many users ever hit the throttle.

    Scale shape: ONE (user, day)-keyed window (per-key state is a
    single counter) on the same exchange the per-user analytics family
    (q65/q129/q135) reuses; the rollup is event-type-grain.  A hot user
    is bounded by construction — that is the point of the operator."""
    e = read_table(
        spark, sf_dir, "events", columns=["event_id", "event_type", "user_id", "ts"]
    )
    rn = F.row_number().over(
        Window.partitionBy("user_id", F.date_trunc("day", "ts")).orderBy(
            "ts", "event_id"
        )
    )
    return (
        e.withColumn("rn", rn)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("rn") <= ADMIT_CAP, 1).otherwise(0))
            .cast("long")
            .alias("n_admitted"),
            F.sum(F.when(F.col("rn") > ADMIT_CAP, 1).otherwise(0))
            .cast("long")
            .alias("n_dropped"),
            F.count_distinct(
                F.when(F.col("rn") > ADMIT_CAP, F.col("user_id"))
            ).alias("n_throttled_users"),
        )
    )


def link_prediction_topk(
    spark: SparkSession,
    edges: DataFrame,
    k: int = 20,
    dense_gate_edges: int = DENSE_GATE_EDGES,
    dense_gate_nodes: int = DENSE_GATE_NODES,
) -> DataFrame:
    """Top-``k`` NON-adjacent pairs of the undirected graph ``edges``
    (columns u < w) ranked by common-neighbor count (ties → smaller x,
    then smaller y).  Two physical forms, identical output (pinned by
    tests/test_wave4x_ops.py::test_link_prediction_dense_equals_wedge):

    - **dense/small** (both gates pass): ONE ``take`` fetches the edge
      list, counts come from a symmetric adjacency matmul (A·A in
      float32 BLAS — exact: counts ≤ n < 2²⁴), non-edges masked, top-k
      sorted driver-side.  The wedge join's Σ deg² fan-out (91 M rows
      on the sf0.1 co-supply graph — a DENSE 1000-node graph) collapses
      to an O(n²) matmul that BLAS finishes in milliseconds.
    - **distributed** (either gate exceeded): the wedge self-join keyed
      on the CENTER node — both join inputs are the SAME projection of
      the mirrored edge list keyed the same way, so the join's build
      side is constructed once (guide §2.4) — map-side-combined into
      (x, y) counts, edge anti-join, ranked_topk (no global sort).
    """
    from pyspark.sql import types as T

    # Arrow-columnar fetch, NOT take(): take() deserializes one py4j Row
    # per edge (~1-2 s at 151 k edges), toPandas moves the two int64
    # columns as Arrow buffers in milliseconds (guide §6 Arrow-for-
    # driver-transfers; the session enables arrow.pyspark).  Shared
    # gate helper (ADVICE r11): schema-checked, conversion-guarded —
    # None means distributed.
    fetched = dense_gate_fetch(
        edges, [edges.columns[0], edges.columns[1]], dense_gate_edges
    )
    # mirror the distributed path's schema exactly, nullability included
    # (x/y inherit the edge columns'; count/row_number are non-null)
    out_schema = T.StructType(
        [
            T.StructField("x", edges.schema[0].dataType, edges.schema[0].nullable),
            T.StructField("y", edges.schema[1].dataType, edges.schema[1].nullable),
            T.StructField("n_common", T.LongType(), False),
            T.StructField("rn", T.IntegerType(), False),
        ]
    )
    dense = None if fetched is None else dense_adjacency(*fetched, dense_gate_nodes)
    if dense is not None:
        import numpy as np

        ids, A = dense
        # A@A[i,j] = |N(i) ∩ N(j)|
        C = (A @ A).astype(np.int64)
        iu, ju = np.triu_indices(len(ids), k=1)
        nc = C[iu, ju]
        keep = (nc > 0) & (A[iu, ju] == 0.0)
        # ids is ascending, so compacted i < j ⟺ original x < y
        cands = sorted(
            zip(nc[keep].tolist(), iu[keep].tolist(), ju[keep].tolist()),
            key=lambda t: (-t[0], t[1], t[2]),
        )[:k]
        rows = [
            (int(ids[i]), int(ids[j]), int(c), r + 1)
            for r, (c, i, j) in enumerate(cands)
        ]
        return spark.createDataFrame(rows, out_schema)
    und = edges.select("u", "w").unionAll(
        edges.select(F.col("w").alias("u"), F.col("u").alias("w"))
    )
    a = und.select(F.col("u").alias("m"), F.col("w").alias("x"))
    b = und.select(F.col("u").alias("m"), F.col("w").alias("y"))
    cand = (
        a.join(b, "m")
        .where(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    non_edges = cand.join(
        edges.select(F.col("u").alias("x"), F.col("w").alias("y")),
        ["x", "y"],
        "left_anti",
    )
    return ranked_topk(
        non_edges.select(
            "x", "y", F.col("n_common").cast("long").alias("n_common")
        ),
        [F.col("n_common").desc(), F.col("x"), F.col("y")],
        k,
        rank_col="rn",
    )



@query(
    "q319_link_prediction",
    oracle=f"""
    WITH {COSUPPLY_EDGES_SQL},
    und AS (
        SELECT u, w FROM edges UNION ALL SELECT w, u FROM edges
    ),
    cand AS (
        SELECT a.u AS x, b.w AS y, count(*) AS n_common
        FROM und a JOIN und b ON b.u = a.w
        WHERE a.u < b.w
        GROUP BY 1, 2
    ),
    non_edges AS (
        SELECT c.x, c.y, c.n_common
        FROM cand c LEFT JOIN edges e ON e.u = c.x AND e.w = c.y
        WHERE e.u IS NULL
    ),
    top AS (
        SELECT x, y, CAST(n_common AS BIGINT) AS n_common,
               row_number() OVER (ORDER BY n_common DESC, x, y) AS rn
        FROM non_edges
    )
    SELECT x, y, n_common, CAST(rn AS INT) AS rn
    FROM top WHERE rn <= 20
    """,
)
def q319_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction over the supplier co-supply graph:
    the top-20 NON-adjacent supplier pairs ranked by shared-neighbor
    count — the classic candidate generator for graph completion (and
    the same score q229's item recommender thresholds).

    Scale shape (``link_prediction_topk``): past the bounded-size gate
    the wedge self-join's fan-out is Σ deg² (the q212 analysis),
    candidates collapse map-side into (x, y) counts before one
    pair-keyed exchange, the existing-edge anti-join is edge-sized, and
    the top-20 plans as TakeOrderedAndProject via ranked_topk — no
    global sort.  Below the gate (the co-supply graph is DENSE and
    small at bench SFs: 1000 nodes / 151 k edges / 91 M wedge rows at
    sf0.1) the identical ranking comes from one driver-side BLAS
    matmul over the collected edge list — the union-find-gate pattern
    (operators.graph) applied to common-neighbor counting; measured
    2.97 s → ~1.1 s at sf0.1."""
    edges = cosupply_edges(spark, sf_dir).transform(spersist)
    return link_prediction_topk(spark, edges, k=20)
