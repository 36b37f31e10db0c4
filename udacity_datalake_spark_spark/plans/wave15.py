"""Wave 15: distribution-comparison statistics (Kolmogorov–Smirnov,
Mann–Whitney U), graph triangle counting, and time-series
autocorrelation — four analysis families the surface did not yet cover.

All four follow the registry's determinism rules: exact integer /
DECIMAL accumulation end-to-end, with one rounded double conversion per
output row.  The two rank statistics pre-aggregate the fact into a
VALUE-BOUNDED bin frame (events.value spans a fixed range, so
0.1-granularity bins are bounded by the range, not the row count) before
any ordered window runs — the q137/q208 discipline that keeps
unpartitioned windows off row-count-sized inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from udacity_datalake_spark_spark.functions.numeric import dec
from udacity_datalake_spark_spark.plans.registry import query
from udacity_datalake_spark_spark.sources.readers import read_table
from udacity_datalake_spark_spark.scratch import spersist


def _two_sample_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bin counts of the two compared samples: events.value rounded
    to one decimal, split purchase vs click.  One map-side-combined
    aggregate over the filtered fact; output is bounded by the value
    range (~5k bins), independent of row count."""
    e = read_table(spark, sf_dir, "events", columns=["event_type", "value"])
    return (
        e.where(F.col("event_type").isin("purchase", "click"))
        .select(F.round("value", 1).alias("v"), "event_type")
        .groupBy("v")
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("c1"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("c2"),
        )
    )


_TWO_SAMPLE_BINS_SQL = """
        SELECT round(value, 1) AS v,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c1,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c2
        FROM events WHERE event_type IN ('purchase', 'click')
        GROUP BY v
"""


@query(
    "q210_ks_two_sample",
    oracle=f"""
    WITH cells AS ({_TWO_SAMPLE_BINS_SQL}),
    tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
            FROM cells),
    cum AS (
        SELECT CAST(sum(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum1,
               CAST(sum(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum2
        FROM cells
    )
    SELECT n1, n2,
           CAST(max(abs(CAST(cum1 AS HUGEINT) * n2
                        - CAST(cum2 AS HUGEINT) * n1)) AS BIGINT) AS ks_num,
           round(CAST(max(abs(CAST(cum1 AS HUGEINT) * n2
                              - CAST(cum2 AS HUGEINT) * n1)) AS DOUBLE)
                 / (n1 * CAST(n2 AS DOUBLE)), 6) AS ks_stat
    FROM cum CROSS JOIN tot
    GROUP BY n1, n2
    """,
)
def q210_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the purchase and
    click value distributions: D = max |F1(v) − F2(v)| over the (0.1-
    granularity) empirical CDFs — the standard drift test between two
    observed distributions.

    The fact collapses to value-bounded bins first, so the single
    cumulative window runs over ~5k rows regardless of scale; the sup
    is computed on the EXACT integer cross-product |cum1·n2 − cum2·n1|
    (no float CDFs), and only the final D divides in double."""
    cells = _two_sample_bins(spark, sf_dir)
    tot = cells.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = cells.select(
        F.sum("c1").over(w).alias("cum1"), F.sum("c2").over(w).alias("cum2")
    )
    # Widen the cross-product to DECIMAL(38,0): cum·n is count², which
    # exceeds int64 once each side passes ~3e9 events — Spark would wrap
    # silently while the HUGEINT oracle stays exact (q213/q246 discipline).
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    d_num = F.max(F.abs(d38("cum1") * F.col("n2") - d38("cum2") * F.col("n1")))
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n1", "n2")
        .agg(
            d_num.cast("long").alias("ks_num"),
            F.round(
                d_num.cast("double") / (F.col("n1") * F.col("n2").cast("double")), 6
            ).alias("ks_stat"),
        )
    )


@query(
    "q211_mann_whitney",
    oracle=f"""
    WITH cells AS ({_TWO_SAMPLE_BINS_SQL}),
    tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
            FROM cells),
    ranked AS (
        SELECT c1, c2,
               CAST(sum(c1 + c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                    - (c1 + c2) AS BIGINT) AS prev_cum
        FROM cells
    )
    SELECT n1, n2,
           CAST(sum(CAST(c1 AS HUGEINT) * (2 * CAST(prev_cum AS HUGEINT)
                                           + c1 + c2 + 1)) AS BIGINT) AS two_r1,
           CAST(sum(CAST(c1 AS HUGEINT) * (2 * CAST(prev_cum AS HUGEINT)
                                           + c1 + c2 + 1))
                - CAST(n1 AS HUGEINT) * (n1 + 1) AS BIGINT) AS two_u1,
           round(CAST(sum(CAST(c1 AS HUGEINT) * (2 * CAST(prev_cum AS HUGEINT)
                                                 + c1 + c2 + 1))
                      - CAST(n1 AS HUGEINT) * (n1 + 1) AS DOUBLE)
                 / (2 * n1 * CAST(n2 AS DOUBLE)), 6) AS auc
    FROM ranked CROSS JOIN tot
    GROUP BY n1, n2
    """,
)
def q211_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (rank-sum) statistic for purchase vs click values,
    with midrank tie handling, plus the equivalent AUC = U/(n1·n2) —
    the nonparametric "is one distribution stochastically larger"
    companion to q210's KS.

    Ties get the textbook average rank, kept EXACT by doubling: a tie
    group starting after prev_cum pooled observations has
    2·avgrank = 2·prev_cum + (c1+c2) + 1, an integer — so the rank sum
    2R1, and U via 2U1 = 2R1 − n1(n1+1), are exact BIGINTs, and
    AUC = U1/(n1·n2) is P(purchase > click) (+½·ties) as documented —
    round-2 review caught the first cut emitting 2U2/1−AUC under the
    U1 labels.  Same bounded bin frame as q210; one window, one
    aggregate."""
    cells = _two_sample_bins(spark, sf_dir)
    tot = cells.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = cells.select(
        "c1",
        "c2",
        (F.sum(F.col("c1") + F.col("c2")).over(w) - (F.col("c1") + F.col("c2"))).alias(
            "prev_cum"
        ),
    )
    # Same DECIMAL(38,0) widening as q210: c1·prev_cum and n1² are count²
    # products that outgrow int64 at billions of events per arm.
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    two_r1 = F.sum(
        d38(F.col("c1"))
        * (2 * d38(F.col("prev_cum")) + F.col("c1") + F.col("c2") + 1)
    )
    two_u1 = two_r1 - d38(F.col("n1")) * (F.col("n1") + 1)
    return (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy("n1", "n2")
        .agg(
            two_r1.cast("long").alias("two_r1"),
            two_u1.cast("long").alias("two_u1"),
            F.round(
                two_u1.cast("double")
                / (2 * F.col("n1") * F.col("n2").cast("double")),
                6,
            ).alias("auc"),
        )
    )


#: Shared CTE chain: the supplier co-supply graph (suppliers linked when
#: they co-supply ≥1.1× the mean number of shared parts).  Used by q212
#: and wave16's q217 so both query pairs agree on the exact edge set.
COSUPPLY_EDGES_SQL = """
    sp AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
    pairs AS (
        SELECT a.sk AS u, b.sk AS w, count(*) AS shared
        FROM sp a JOIN sp b ON a.pk = b.pk AND a.sk < b.sk
        GROUP BY 1, 2
    ),
    stats AS (SELECT count(*) AS n_pairs, CAST(sum(shared) AS BIGINT) AS total_occ
              FROM pairs),
    edges AS (
        SELECT u, w FROM pairs CROSS JOIN stats
        WHERE shared * n_pairs * 10 >= 11 * total_occ
    )
"""


def cosupply_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge list (u < w) of the supplier co-supply graph — the Spark twin
    of COSUPPLY_EDGES_SQL.  The bipartite fact reduces to DISTINCT
    (part, supplier) first, so pair generation blows up only within a
    part's supplier list (never suppliers²); the 1.1×-mean threshold is
    scale-adaptive pure-integer arithmetic.  Callers persist: the
    pair-generation join dominates and every consumer reuses it."""
    # DISTINCT + codegen self-join on pk: benched ~1.6× faster than the
    # collect_set + local-explode alternative (ObjectHashAggregate's set
    # buffers lose to the whole-stage-codegen hash join here); the pair
    # stream still map-side-combines into the (u, w) count before its
    # one shuffle.  Round 4: hash-repartition on pk FIRST — the (pk, sk)
    # dedup aggregate only needs same-pk colocation (HashPartitioning(pk)
    # satisfies ClusteredDistribution(pk, sk)), and the self-join needs
    # pk partitioning too, so dedup and join share ONE exchange instead
    # of distinct-by-(pk,sk) + a re-shuffle to pk.  Halved the edge-build
    # wall-clock at sf0.1 (3.5s → 1.7s).
    sp = (
        read_table(spark, sf_dir, "lineitem", columns=["l_partkey", "l_suppkey"])
        .select(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk"))
        .repartition("pk")
        .dropDuplicates(["pk", "sk"])
    )
    a = sp.select("pk", F.col("sk").alias("u"))
    b = sp.select("pk", F.col("sk").alias("w"))
    # persisted: consumed twice (threshold stats + the filter itself)
    pairs = (
        a.join(b, "pk")
        .where(F.col("u") < F.col("w"))
        .groupBy("u", "w")
        .agg(F.count(F.lit(1)).alias("shared"))
        .transform(spersist)
    )
    stats = pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"), F.sum("shared").alias("total_occ")
    )
    return (
        pairs.crossJoin(F.broadcast(stats))
        .where(F.col("shared") * F.col("n_pairs") * 10 >= 11 * F.col("total_occ"))
        .select("u", "w")
    )


#: Degree CTE over COSUPPLY_EDGES_SQL's ``edges`` — shared by the
#: q217/q230/q231/q241 oracles so every graph metric agrees on one
#: degree definition.
COSUPPLY_DEG_SQL = """
    deg AS (
        SELECT x, count(*) AS d
        FROM (SELECT u AS x FROM edges UNION ALL SELECT w FROM edges)
        GROUP BY x
    )
"""


def cosupply_degrees(edges: DataFrame) -> DataFrame:
    """Per-node degree ``(x, d)`` of an undirected (u < w) edge list —
    the Spark twin of COSUPPLY_DEG_SQL.  One count over the exploded
    endpoint list (graph-sized, not fact-sized)."""
    return (
        edges.select(F.col("u").alias("x"))
        .unionAll(edges.select("w"))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
    )


def oriented_by_degree(edges: DataFrame) -> DataFrame:
    """Re-orient an undirected (u < w) edge list by (degree, id): each
    edge points from its lower-(degree, id) endpoint ``a`` to the higher
    one ``b``, carrying both endpoints' (degree, id) keys.  This is the
    Suri–Vassilvitskii orientation: out-degree is capped at O(√m) —
    a node with out-degree t has t neighbors of degree ≥ its own, so
    t · t ≤ Σ deg = 2m — which bounds the wedge join's per-node fan-out
    at O(m) total even on power-law graphs where raw-id orientation
    concentrates Σ out-deg² on hub nodes."""
    # No forced broadcast: the degree table is node-sized, and a general
    # edge list (e.g. a billion-doc near-dup graph) can have far more
    # nodes than any broadcast budget — AQE upgrades to broadcast at
    # runtime when the graph is dimension-sized (as co-supply is).
    deg = cosupply_degrees(edges)
    e = edges.join(
        deg.select(F.col("x").alias("u"), F.col("d").alias("du")), "u"
    ).join(deg.select(F.col("x").alias("w"), F.col("d").alias("dw")), "w")
    u_first = (F.col("du") < F.col("dw")) | (
        (F.col("du") == F.col("dw")) & (F.col("u") < F.col("w"))
    )
    return e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("w")).alias("a"),
        F.when(u_first, F.col("du")).otherwise(F.col("dw")).alias("da"),
        F.when(u_first, F.col("w")).otherwise(F.col("u")).alias("b"),
        F.when(u_first, F.col("dw")).otherwise(F.col("du")).alias("db"),
    )


#: Dense/small-graph gate for ``triangles`` and
#: ``wave49.link_prediction_topk``: below BOTH bounds the result comes
#: from one Arrow fetch + BLAS matmul on the driver — the same
#: bounded-driver-materialization class as the ≤1e5-edge union-find
#: gate in operators.graph (collected bytes ≤ ~3 MB; the n×n matrices
#: at the node cap are 4096² × 4 B = 64 MB each).  Above either bound
#: the distributed wedge join runs unchanged.
DENSE_GATE_EDGES = 200_000
DENSE_GATE_NODES = 4_096


def dense_gate_fetch(edges: DataFrame, cols: list[str], gate_edges: int):
    """One bounded Arrow fetch deciding a dense/small-graph gate: the
    ``(u, w)`` int64 numpy pair when the edge list fits under
    ``gate_edges`` AND converts cleanly, else ``None`` (distributed
    path).  Shared by ``triangles`` and ``link_prediction_topk``.

    ``limit(gate+1)`` IS the count check (the one-action pattern of
    connected_components' union-find gate), so above the gate the fetch
    still moves ≤ gate+1 rows (~3 MB Arrow) and is discarded — the
    documented price of deciding with a single action.  Guards (ADVICE
    r11): non-integral id columns skip the fetch entirely (fractional
    ids cannot index an adjacency matrix), and a conversion failure
    (NULL ids arrive as a pandas object/float column that int64
    conversion rejects) falls through to the distributed path instead
    of raising.  Input contract: a DISTINCT u < w edge list —
    duplicate edges would be collapsed by a binary adjacency matrix
    but double-counted by the wedge joins, so callers must dedup
    upstream (every in-repo edge builder does)."""
    import numpy as np
    from pyspark.sql import types as T

    integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    if not all(isinstance(edges.schema[c].dataType, integral) for c in cols):
        return None
    pdf = edges.limit(gate_edges + 1).select(*cols).toPandas()
    if len(pdf) > gate_edges:
        return None
    # NULL ids arrive as a float/object column; numpy's float→int64
    # conversion of NaN does NOT reliably raise — it can silently wrap
    # to INT64_MIN (observed on this platform) and corrupt the matrix
    # indices, so nulls are rejected explicitly before conversion.
    if any(pdf[c].isna().any() for c in cols):
        return None
    try:
        return (
            pdf[cols[0]].to_numpy(dtype=np.int64, copy=False),
            pdf[cols[1]].to_numpy(dtype=np.int64, copy=False),
        )
    except (ValueError, TypeError):
        return None


def dense_adjacency(u, w, gate_nodes: int):
    """``(ids, A)`` for the fetched edge arrays of ``dense_gate_fetch``:
    ``ids`` the ascending distinct node ids, ``A`` the symmetric float32
    adjacency matrix indexed by position in ``ids`` (A @ A counts common
    neighbors exactly while n < 2²⁴).  ``None`` when the graph has more
    than ``gate_nodes`` nodes (distributed path)."""
    import numpy as np

    ids = np.unique(np.concatenate([u, w]))
    if len(ids) > gate_nodes:
        return None
    ui = np.searchsorted(ids, u)
    wi = np.searchsorted(ids, w)
    A = np.zeros((len(ids), len(ids)), dtype=np.float32)
    A[ui, wi] = 1.0
    A[wi, ui] = 1.0
    return ids, A


def triangles(
    edges: DataFrame,
    orientation: str = "auto",
    wedge_budget: int = 1_000_000,
    packable_ids: bool = False,
    dense_gate_edges: int = DENSE_GATE_EDGES,
    dense_gate_nodes: int = DENSE_GATE_NODES,
) -> DataFrame:
    """Single-row triangle count of an undirected (u < w) edge list via
    an oriented wedge join.  Two orientations, both exact (the count is
    orientation-invariant):

    - ``"id"``: use the input's u < w orientation as-is — zero extra
      joins, but per-node fan-out is C(out-deg, 2) with no degree cap,
      so a low-id hub can dominate the wedge count.
    - ``"degree"``: Suri–Vassilvitskii (degree, id) re-orientation —
      two degree joins + persist up front, but out-degree is capped at
      O(√m), so power-law hubs cannot blow up the wedge stream.

    ``"auto"`` (default) picks adaptively: one graph-sized aggregate
    computes the EXACT id-orientation wedge count Σ C(out-deg, 2); if
    it fits the budget (max(256·m, wedge_budget) rows), the two degree
    joins cost more than they save and the id path wins.  Break-even
    measured on the sf0.1 co-supply graph (m=151k, wedges_id=15.7M =
    104·m): id 1.76s vs degree 2.84s — the wedge stream collapses
    map-side before its one shuffle, so generation is cheap codegen
    rows, while the degree path pays two extra m-row joins + a persist.
    256·m means id is only abandoned when it generates ≥ ~100× more
    wedges than the S-V √(2m) out-degree bound guarantees — the true
    power-law-hub regime (a degree-h hub alone contributes h²/2; the
    cut trips at h ≈ 23√m).  The decision aggregate's ``.first()`` is
    a bounded driver action (one 2-column row), mirroring
    ``connected_components``'s small-graph threshold.

    Dense/small-graph fast path (round 11): when the edge list fits
    BOTH gate bounds, the count is sum(A ∘ A²)/6 over the symmetric
    adjacency matrix — one Arrow-columnar fetch + one float32 BLAS
    matmul (exact: every common-neighbor count ≤ n < 2²⁴, summed in
    int64) on the driver.  The sf0.1 co-supply graph is exactly this
    regime (1000 nodes / 151 k edges, wedge stream 15.7 M rows); the
    wedge-join paths are unchanged above the gate and pinned equal to
    the dense path (and to brute force) on arbitrary small graphs by
    tests/test_properties.py::test_degree_oriented_triangles_property."""
    fetched = dense_gate_fetch(edges, ["u", "w"], dense_gate_edges)
    dense = None if fetched is None else dense_adjacency(*fetched, dense_gate_nodes)
    if dense is not None:
        import numpy as np
        from pyspark.sql import types as T

        out_schema = T.StructType(
            [T.StructField("n_triangles", T.LongType(), False)]
        )
        _, A = dense
        C = (A @ A).astype(np.int64)
        # each triangle contributes one common-neighbor hit per ordered
        # adjacent pair: 3 edges × 2 directions = 6
        tri = int(C[A > 0.0].sum()) // 6
        return edges.sparkSession.createDataFrame([(tri,)], out_schema)
    if orientation == "auto":
        stats = (
            edges.groupBy("u")
            .agg(F.count(F.lit(1)).alias("od"))
            .agg(
                F.sum(
                    (F.col("od") * (F.col("od") - F.lit(1)) / 2).cast("long")
                ).alias("wedges_id"),
                F.sum("od").alias("m"),
            )
            .first()
        )
        m = stats.m or 0
        wedges_id = stats.wedges_id or 0
        orientation = "id" if wedges_id <= max(256 * m, wedge_budget) else "degree"

    if orientation == "id":
        # Input is already (u < w)-oriented: wedge (p, q) at source a
        # with p < q, closed by the edge p→q.  Each triangle a < b < c
        # appears exactly once as the wedge (b, c) at a.
        o = edges.select(F.col("u").alias("a"), F.col("w").alias("b"))
        if packable_ids:
            # caller guarantees ids < 2^31: pack the wedge endpoint pair
            # into ONE int64 (p·2^32 + q) so the wedge aggregate and the
            # closing join shuffle half the key width — at 100 TB the
            # wedge exchange is the dominant byte volume of this plan
            w1 = o.select("a", F.col("b").alias("p"))
            w2 = o.select("a", F.col("b").alias("q"))
            wedges = (
                w1.join(w2, "a")
                .where(F.col("p") < F.col("q"))
                .select(
                    (F.col("p") * F.lit(4294967296) + F.col("q")).alias("__pq")
                )
                .groupBy("__pq")
                .agg(F.count(F.lit(1)).alias("__n_wedges"))
            )
            closing = o.select(
                (F.col("a") * F.lit(4294967296) + F.col("b")).alias("__pq")
            )
            return wedges.join(closing, "__pq").agg(
                F.coalesce(F.sum("__n_wedges"), F.lit(0))
                .cast("long")
                .alias("n_triangles")
            )
        w1 = o.select("a", F.col("b").alias("p"))
        w2 = o.select("a", F.col("b").alias("q"))
        wedge_cond = F.col("p") < F.col("q")
    else:
        # Persist the oriented list: it feeds both wedge sides and the
        # closing join, and recomputing the degree joins per consumer
        # dominated the first cut's runtime.  Edge-sized cache.
        o = oriented_by_degree(edges).transform(spersist)
        w1 = o.select("a", F.col("b").alias("p"), F.col("db").alias("dp"))
        w2 = o.select("a", F.col("b").alias("q"), F.col("db").alias("dq"))
        wedge_cond = (F.col("dp") < F.col("dq")) | (
            (F.col("dp") == F.col("dq")) & (F.col("p") < F.col("q"))
        )
    # Pre-aggregate wedges per (p, q) BEFORE the closing join: the wedge
    # stream collapses map-side to ≤ distinct-endpoint-pair rows before
    # its one shuffle; the closing join and final sum run on the
    # collapsed frame.  Benched 2-5× over both the 3-way edge join and
    # the adjacency-array intersection formulation on the co-supply
    # graph.
    wedges = (
        w1.join(w2, "a")
        .where(wedge_cond)
        .groupBy("p", "q")
        .agg(F.count(F.lit(1)).alias("__n_wedges"))
    )
    closing = o.select(F.col("a").alias("p"), F.col("b").alias("q"))
    return wedges.join(closing, ["p", "q"]).agg(
        F.coalesce(F.sum("__n_wedges"), F.lit(0)).cast("long").alias("n_triangles")
    )


@query(
    "q212_triangle_count",
    oracle=f"""
    WITH {COSUPPLY_EDGES_SQL}
    SELECT
        (SELECT count(DISTINCT x) FROM (
            SELECT u AS x FROM edges UNION SELECT w FROM edges)) AS n_nodes,
        (SELECT count(*) FROM edges) AS n_edges,
        (SELECT count(*)
         FROM edges e1 JOIN edges e2 ON e2.u = e1.w
                       JOIN edges e3 ON e3.u = e1.u AND e3.w = e2.w) AS n_triangles
    """,
)
def q212_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the supplier co-supply graph: suppliers are
    linked when they supply the same part at least 1.1× the mean number
    of shared parts (a scale-adaptive integer threshold — the edge rule
    tracks corpus density instead of a fixed constant), and triangles
    are counted by the classic oriented wedge join.

    Scale shape: the bipartite fact reduces to DISTINCT (part, supplier)
    first, so pair generation blows up only within a part's supplier
    list (never suppliers²); orientation is chosen adaptively (see
    ``triangles``) — id-as-is when the exact wedge count fits the
    budget, Suri–Vassilvitskii (degree, id) otherwise, which caps
    per-node wedge fan-out at O(√m)² and keeps power-law hub nodes from
    dominating the join.  The count is orientation-invariant, so the
    brute-force id-oriented DuckDB oracle checks it unchanged.

    Round 5: n_nodes, n_edges, AND the orientation probe now come from
    ONE endpoint-grain scan of the persisted edge list (previously
    three separate aggregate passes) — the probe's Σ C(outdeg, 2) rides
    the same groupBy that counts nodes.  The ``.first()`` is the same
    bounded driver action the auto-probe already took (one 3-column
    row); the scalars re-attach as literals.  Driver-visible sf0.1
    wall: 2.65s → ~2.35s."""
    # the pair-gen join is the expensive part; every pass below reuses it
    edges = cosupply_edges(spark, sf_dir).transform(spersist)
    ep = edges.select(F.col("u").alias("x"), F.lit(1).alias("is_u")).unionAll(
        edges.select(F.col("w").alias("x"), F.lit(0).alias("is_u"))
    )
    s = (
        ep.groupBy("x")
        .agg(F.sum("is_u").alias("od"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("od").alias("m"),
            F.sum((F.col("od") * (F.col("od") - F.lit(1)) / 2).cast("long")).alias(
                "wedges_id"
            ),
        )
        .first()
    )
    m, wedges_id = int(s.m or 0), int(s.wedges_id or 0)
    orientation = "id" if wedges_id <= max(256 * m, 1_000_000) else "degree"
    tri = triangles(edges, orientation=orientation, packable_ids=True)
    return tri.select(
        F.lit(int(s.n_nodes)).cast("long").alias("n_nodes"),
        F.lit(m).cast("long").alias("n_edges"),
        "n_triangles",
    )


@query(
    "q213_hourly_autocorr",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h,
               CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS x
        FROM events WHERE event_type = 'purchase' GROUP BY h
    ),
    lagged AS (
        SELECT x,
               lag(x, 1) OVER (ORDER BY h) AS x1,
               lag(x, 24) OVER (ORDER BY h) AS x24
        FROM hourly
    ),
    k1 AS (
        SELECT 1 AS lag_hours, count(*) AS n_pairs,
               sum(x) AS sx, sum(x1) AS sy,
               sum(CAST(x AS HUGEINT) * x) AS sxx,
               sum(CAST(x1 AS HUGEINT) * x1) AS syy,
               sum(CAST(x AS HUGEINT) * x1) AS sxy
        FROM lagged WHERE x1 IS NOT NULL
    ),
    k24 AS (
        SELECT 24 AS lag_hours, count(*) AS n_pairs,
               sum(x) AS sx, sum(x24) AS sy,
               sum(CAST(x AS HUGEINT) * x) AS sxx,
               sum(CAST(x24 AS HUGEINT) * x24) AS syy,
               sum(CAST(x AS HUGEINT) * x24) AS sxy
        FROM lagged WHERE x24 IS NOT NULL
    ),
    u AS (SELECT * FROM k1 UNION ALL SELECT * FROM k24)
    SELECT lag_hours, CAST(n_pairs AS BIGINT) AS n_pairs,
           round(CAST(n_pairs * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)
                        * CAST(n_pairs * syy - sy * sy AS DOUBLE)), 6)
               AS autocorr
    FROM u
    """,
)
def q213_hourly_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 and lag-24 autocorrelation of hourly purchase revenue — the
    time-series self-similarity probe (lag-24 exposes daily
    seasonality; lag-1 short-term momentum).

    The fact reduces to an hourly series (time-window-bounded, ~720
    rows per month at any SF) in integer CENTS, and every product or
    sum that could outgrow int64 — the squared-cent power sums AND the
    sx·sy cross terms — accumulates in DECIMAL(38,0) (q128's
    discipline; the oracle mirrors with HUGEINT), so only the final
    Pearson ratio is double.  One fact aggregate, one bounded window,
    one 2-row result."""
    e = read_table(spark, sf_dir, "events", columns=["event_type", "ts", "value"])
    hourly = (
        e.where(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg((F.sum(dec("value")) * 100).cast("long").alias("x"))
    )
    w = Window.orderBy("h")
    lagged = hourly.select(
        "x", F.lag("x", 1).over(w).alias("x1"), F.lag("x", 24).over(w).alias("x24")
    )

    def corr_at(xl: str, k: int) -> DataFrame:
        d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
        s = lagged.where(F.col(xl).isNotNull()).agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("x").alias("sx"),
            F.sum(xl).alias("sy"),
            F.sum(d38(F.col("x")) * F.col("x")).alias("sxx"),
            F.sum(d38(F.col(xl)) * F.col(xl)).alias("syy"),
            F.sum(d38(F.col("x")) * F.col(xl)).alias("sxy"),
        )
        n = F.col("n_pairs")
        num = d38(n * F.col("sxy")) - d38(F.col("sx")) * d38(F.col("sy"))
        vx = d38(n * F.col("sxx")) - d38(F.col("sx")) * d38(F.col("sx"))
        vy = d38(n * F.col("syy")) - d38(F.col("sy")) * d38(F.col("sy"))
        return s.select(
            F.lit(k).cast("int").alias("lag_hours"),
            n.alias("n_pairs"),
            F.round(
                num.cast("double") / F.sqrt(vx.cast("double") * vy.cast("double")), 6
            ).alias("autocorr"),
        )

    return corr_at("x1", 1).unionAll(corr_at("x24", 24))
