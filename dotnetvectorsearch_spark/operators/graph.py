"""Graph analytics over document/similarity graphs.

Connected components (the dedup-clustering workhorse) lives in
``operators/dedup.py``; this module holds ranking-style iterative
algorithms. First resident: fixed-iteration PageRank over an undirected
similarity graph — the curation signal web-scale pipelines propagate
over dup/link graphs to pick WHICH copy of near-duplicate content to
keep (keep the authoritative node, drop the mirrors).

Scale shape: pure DataFrame joins/aggregations — the standard
"SQL PageRank". Per iteration: one equi-join of the edge list against
the rank table (edges pre-partitioned by source once, persisted, so
every iteration reuses the same exchange side) and one groupBy(dst) with
map-side partial aggregation. Driver holds nothing; rank sums go
through DECIMAL so results are partition-order independent (the same
order-independence discipline as ``ann.centroids_by``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dotnetvectorsearch_spark import localdf
from dotnetvectorsearch_spark.caching import transient_persist
from dotnetvectorsearch_spark.localdf import local_df

_DEC = "decimal(27,15)"

# Row bound of pagerank_undirected's driver path, in undirected edges
# (both directions are collected: twice this many rows).
_PAGERANK_DRIVER_EDGES = 200_000


def pagerank_undirected(pairs: DataFrame, src: str = "id_a",
                        dst: str = "id_b", iters: int = 5,
                        damping: float = 0.85,
                        round_digits: int = 6) -> DataFrame:
    """Fixed-iteration PageRank on an undirected pair list.

    ``pairs`` is one row per undirected edge (id_a, id_b); both
    directions are materialized internally. Every endpoint has degree
    >= 1, so there are no dangling nodes and the per-iteration update is
    exactly ``r_v = (1-d)/N + d * sum_{u in nbr(v)} r_u / deg_u`` with
    N = number of distinct endpoints. Returns (node, pagerank) with
    pagerank rounded to ``round_digits``.

    Determinism: each contribution ``r_u / deg_u`` is an IEEE double
    computed identically on any engine; the per-node SUM is cast to
    decimal so reduce order can't flip low bits — an oracle running the
    same unrolled recurrence gets bit-equal rounded output.

    Fixed ``iters`` (not convergence-tested) keeps the plan finite and
    the oracle expressible; 5 iterations is plenty for ranking stability
    on similarity graphs, and a caller can raise it. Lineage grows one
    join per iteration — past ~20 iterations add a localCheckpoint like
    ``dedup.connected_components`` does.
    """
    # Both directions via one explode, NOT a self-union: a union
    # evaluates the (expensive) pairs plan once per branch, so the
    # old nodes-then-edges persist order ran the upstream similarity
    # join up to 4x (2 for nodes.count through the unpersisted union,
    # 2 again when the edges persist materialized). One explode per
    # pair row + persisting edges FIRST and deriving nodes from the
    # persisted frame evaluates pairs exactly once.
    edges = (pairs.select(F.explode(F.array(
        F.struct(F.col(src).alias("src"), F.col(dst).alias("dst")),
        F.struct(F.col(dst).alias("src"), F.col(src).alias("dst")),
    )).alias("e")).select("e.src", "e.dst"))
    edges = transient_persist(edges.repartition("src"))
    # Small-graph fast path (same enforced-bound doctrine as
    # dedup.connected_components): each distributed iteration costs a
    # join + an aggregation of pure job scheduling on a frame that is
    # tiny at similarity-graph densities. Under the bound the whole
    # recurrence runs on the driver with bit-identical arithmetic (see
    # _pagerank_driver; parity with the distributed loop is pinned in
    # tests/test_graph.py). Past the bound the iterative join plan
    # runs — the only formulation that survives 100 TB. Integral ids
    # only: the driver path indexes ids through int64.
    #
    # The gate is one bounded collect: its bound+1 LIMIT short-circuits
    # on a 100 TB edge list, and two fixed-width columns need no sizing
    # job, so one job gates AND collects. A null id never reaches the
    # int64 index: such an edge list takes the distributed loop.
    integral = {"tinyint", "smallint", "int", "bigint"}
    if all(t in integral for _, t in edges.dtypes):
        table, _ = localdf.collect_bounded(
            edges, 2 * _PAGERANK_DRIVER_EDGES, localdf.DRIVER_BYTES)
        if table is not None and not table.column("src").null_count:
            return _pagerank_driver(edges.sparkSession, table,
                                    dict(edges.dtypes)["src"],
                                    iters, damping, round_digits)
    nodes = transient_persist(
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")))
    n = nodes.count()
    base = (1.0 - damping) / n
    ranks = nodes.select("src", "deg",
                         F.lit(1.0 / n).alias("rank"))
    for _ in range(iters):
        contrib = (edges.join(ranks, "src")
                   .select(F.col("dst").alias("src"),
                           (F.col("rank") / F.col("deg")).alias("c")))
        summed = (contrib.groupBy("src")
                  .agg(F.sum(F.col("c").cast(_DEC)).cast("double")
                       .alias("s")))
        ranks = (nodes.join(summed, "src")
                 .select("src", "deg",
                         (F.lit(base) + F.lit(damping) * F.col("s"))
                         .alias("rank")))
    return ranks.select(F.col("src").alias("node"),
                        F.round("rank", round_digits).alias("pagerank"))


def _pagerank_driver(spark, edges, node_type: str, iters: int,
                     damping: float, round_digits: int) -> DataFrame:
    """Driver-side twin of the distributed recurrence over the collected
    (src, dst) Arrow table, BIT-IDENTICAL by construction (each step
    mirrors the exact engine semantics):

    - contribution ``rank/deg``: IEEE double division, same as the
      per-row double division in the join plan;
    - the per-node sum goes through decimal(27,15): each double is cast
      via its shortest repr HALF_UP to 15 fractional digits (exactly
      Spark's double->decimal cast, BigDecimal.valueOf semantics), the
      quantized values are summed EXACTLY as scaled int64 (the decimal
      sum is exact; max sum ~1e15 << 2^63), and the sum converts back
      to double correctly rounded (numerator < 2^52, denominator 10^15
      exact — same correctly-rounded quotient as BigDecimal.doubleValue);
    - ``base + damping * s``: the same two IEEE double ops;
    - the final ``F.round(x, d)`` is HALF_UP on the shortest repr
      (pinned against Spark in tests/test_ann_store.py round6 test).

    Results are row-order independent: nodes are sorted by ``np.unique``
    and the per-node decimal sum is an exact scaled-int64 sum."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    schema = f"node {node_type}, pagerank double"
    u = edges.column("src").to_numpy().astype(np.int64)
    v = edges.column("dst").to_numpy().astype(np.int64)
    if len(u) == 0:
        return local_df(spark, [], schema)
    nodes, ui = np.unique(u, return_inverse=True)
    vi = np.searchsorted(nodes, v)   # symmetrized: every dst is a src
    deg = np.bincount(ui, minlength=len(nodes))
    n = len(nodes)
    base = (1.0 - damping) / n
    rank = np.full(n, 1.0 / n)
    q15 = Decimal("1e-15")
    for _ in range(iters):
        c = rank / deg
        qc = np.fromiter(
            (int(Decimal(repr(x)).quantize(q15, rounding=ROUND_HALF_UP)
                 .scaleb(15)) for x in c.tolist()),
            dtype=np.int64, count=n)
        sums = np.zeros(n, dtype=np.int64)
        np.add.at(sums, vi, qc[ui])
        s = np.fromiter(
            (float(Decimal(int(t)).scaleb(-15)) for t in sums.tolist()),
            dtype=np.float64, count=n)
        rank = base + damping * s
    qr = Decimal(1).scaleb(-round_digits)
    rows = [(int(nd),
             float(Decimal(repr(r)).quantize(qr,
                                             rounding=ROUND_HALF_UP)))
            for nd, r in zip(nodes.tolist(), rank.tolist())]
    return local_df(spark, rows, schema)
