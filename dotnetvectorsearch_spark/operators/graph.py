"""Graph analytics over document/similarity graphs.

Two residents. Fixed-iteration PageRank over an undirected similarity
graph — the curation signal web-scale pipelines propagate over dup/link
graphs to pick WHICH copy of near-duplicate content to keep (keep the
authoritative node, drop the mirrors). And connected components, the
dedup-clustering workhorse (`connected_components`, with
`dedup_clusters` / `dedup_weights` on top of it).

PageRank's scale shape: pure DataFrame joins/aggregations — the standard
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
    ``connected_components`` does.
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
    # connected_components): each distributed iteration costs a
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


# ------------------------------------------------------ duplicate clusters


def _cc_driver_union_find(spark, edges) -> DataFrame:
    """Union-find with path compression over a BOUNDED edge list
    (callers enforce the bound) — the small-graph fast path of
    :func:`connected_components`. Edges arrive as one collected Arrow
    table (two int64 columns, ~16 MB/M edges — not py4j Row objects),
    node ids are remapped to dense indices, and the min-id component
    label is assigned in a final vectorized pass. Same
    ``(node, component)`` contract as the distributed loop."""
    import numpy as np

    u = edges.column("u").to_numpy().astype(np.int64)
    v = edges.column("v").to_numpy().astype(np.int64)
    nodes, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    parent = np.arange(len(nodes))

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:          # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(inv[:len(u)].tolist(), inv[len(u):].tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    roots = np.fromiter((find(i) for i in range(len(nodes))),
                        dtype=np.int64, count=len(nodes))
    comp_min = np.full(len(nodes), np.iinfo(np.int64).max)
    np.minimum.at(comp_min, roots, nodes)   # min node id per component
    import pandas as pd
    out = pd.DataFrame({"node": nodes, "component": comp_min[roots]})
    return spark.createDataFrame(out, "node long, component long")


# Row bound of connected_components' driver union-find (symmetrized
# edges, two int64 columns).
_CC_DRIVER_EDGES = 1_000_000


def connected_components(pairs: DataFrame, src: str = "id_a",
                         dst: str = "id_b",
                         max_iter: int = 25) -> DataFrame:
    """Connected components over an undirected pair list; returns
    ``(node, component)`` where ``component`` is the minimum node id
    reachable from ``node``. The last stage of every dedup pipeline:
    candidate pairs (minhash / simhash / jaccard / embedding cosine) are
    edges, components are duplicate clusters, and the min-id member is the
    canonical document to keep.

    Algorithm: min-label propagation fused with pointer jumping — each
    round a node's label becomes ``min(own, neighbours' labels,
    label-of-label)``. Neighbour propagation alone needs O(diameter)
    rounds; the pointer-jump term halves chain depth every round, giving
    O(log n) convergence like the large-star/small-star alternating
    algorithm (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14). Dedup graphs are near-cliques with tiny diameter,
    so in practice 2-3 rounds converge.

    Scale: per round, two hash-partition equi-joins keyed on node id
    (edges x labels, labels x labels) and one min-groupBy — shuffle
    proportional to |E| + |V|, never quadratic. ``localCheckpoint``
    truncates the growing lineage each round (without it, round k
    re-executes rounds 1..k-1). Beyond-reference (north-star dedup;
    the reference has no joins at all, SURVEY §2.5).

    Small-graph fast path: each distributed round costs several Spark
    jobs of pure scheduling on a frame that is usually tiny (dedup edge
    sets are a small fraction of the corpus). When the symmetrized edge
    list has at most ``_CC_DRIVER_EDGES`` rows within
    ``localdf.DRIVER_BYTES`` — one bounded collect
    (``localdf.collect_bounded``; two fixed-width columns need no sizing
    job) — the components come from an O(E α(E)) union-find on the
    driver instead (~16 MB at 1M edges, measured 3-5x faster end-to-end
    at bench scale). Past the bound the
    iterative join plan runs, which is the only formulation that
    survives 100 TB. Both paths produce identical (node, min-id
    component) output; the tests run both and compare.
    """
    # Symmetrize via canonicalize -> distinct -> explode-both-directions,
    # NOT e.union(e.reversed): a union duplicates the upstream plan
    # subtree, so the (often expensive — LSH probe join, shingle join)
    # pair producer would execute TWICE inside the edges materialization.
    # least/greatest canonicalization also halves the distinct's shuffle
    # volume; the exploded symmetric closure is identical to the union's.
    u0, v0 = F.col(src), F.col(dst)
    canon = (pairs.filter(u0 != v0)
             .select(F.least(u0, v0).alias("u"),
                     F.greatest(u0, v0).alias("v"))
             .distinct())
    edges = (canon.select(F.explode(F.array(
                 F.struct(F.col("u"), F.col("v")),
                 F.struct(F.col("v").alias("u"), F.col("u").alias("v"))))
                 .alias("e"))
             .select("e.u", "e.v")
             .persist())
    # The driver fast path coerces ids to int64 — valid only for integral
    # id columns. Any other id type (strings, floats — floats would be
    # silently TRUNCATED and could merge distinct nodes) takes the
    # distributed loop, which only needs ids to be orderable.
    integral = {"tinyint", "smallint", "int", "bigint"}
    ids_integral = all(t in integral for _, t in edges.dtypes)
    if ids_integral:
        table, _ = localdf.collect_bounded(edges, _CC_DRIVER_EDGES,
                                           localdf.DRIVER_BYTES)
        if table is not None:
            edges.unpersist()
            return _cc_driver_union_find(edges.sparkSession, table)
    # label(u) starts as min(u, min neighbour) — one round of propagation
    # folded into initialization.
    labels = (edges.groupBy("u")
              .agg(F.least(F.min("v"), F.col("u")).alias("label"))
              .select(F.col("u").alias("node"), "label")
              .localCheckpoint())
    # Convergence check: per-node labels are monotonically non-increasing,
    # so the TOTAL label sum strictly decreases until the fixpoint — one
    # decimal-exact aggregate per round replaces the old-vs-new join.
    # localCheckpoint stays EAGER: a lazy checkpoint is not guaranteed to
    # truncate lineage through the convergence agg's separate plan, and
    # the un-truncated lineage re-executes every prior round (measured
    # 2-4x slower end-to-end).
    # Non-integral labels can't be decimal-summed (the agg would return
    # NULL and "converge" instantly); hash-sum is equality-stable for any
    # type: unchanged labels give an identical sum, changed labels differ
    # with overwhelming probability, and a vanishing false-converge odds
    # after a monotone-decreasing round is acceptable for a fixpoint test.
    def _label_sum(frame):
        col = F.col("label").cast("decimal(38,0)") if ids_integral \
            else F.xxhash64("node", "label").cast("decimal(38,0)")
        return frame.agg(F.sum(col).alias("s")).collect()[0]["s"]

    prev_sum = None
    for _ in range(max_iter):
        nbr = (edges.join(labels, edges.v == labels.node)
               .select(F.col("u").alias("node"), "label"))
        jump = (labels.alias("x")
                .join(labels.select(F.col("node").alias("label"),
                                    F.col("label").alias("label2")).alias("y"),
                      "label")
                .select("node", F.col("label2").alias("label")))
        new = (labels.union(nbr).union(jump)
               .groupBy("node").agg(F.min("label").alias("label"))
               .localCheckpoint())
        cur_sum = _label_sum(new)
        labels = new
        if prev_sum is not None and cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    edges.unpersist()
    return labels.select(F.col("node"), F.col("label").alias("component"))


def dedup_clusters(docs: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id",
                   src: str = "id_a", dst: str = "id_b") -> DataFrame:
    """Assign every document a duplicate-cluster id: the component min-id
    for docs appearing in a candidate pair, the doc's own id for
    singletons. ``cluster_id`` doubles as the canonical-keep id, so
    downstream dedup is ``filter(doc_id == cluster_id)``.

    Scale: one broadcast-or-shuffle left join of the corpus against the
    (much smaller) component map.
    """
    comp = connected_components(pairs, src, dst)
    return (docs.select(F.col(id_col))
            .join(comp.select(F.col("node").alias(id_col),
                              F.col("component")),
                  id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("component", F.col(id_col))
                    .alias("cluster_id")))


def dedup_weights(docs: DataFrame, pairs: DataFrame,
                  id_col: str = "doc_id",
                  src: str = "id_a", dst: str = "id_b",
                  round_digits: int = 6) -> DataFrame:
    """SOFT dedup: instead of dropping duplicates, weight every document
    by 1/|its duplicate cluster| so each distinct content unit
    contributes equal total mass to training (the SemDeDup-family
    downweighting recipe — repeated boilerplate stops dominating the
    loss without throwing away the per-copy metadata/context).

    Returns (id, cluster_id, cluster_size, weight): singletons get
    weight 1.0; a 5-copy cluster's members get 0.2 each, so
    sum(weight) == number of distinct clusters (pinned in tests).

    Scale: ``dedup_clusters``' component map + one cluster-keyed count
    + one join back — all small-side joins against the corpus id list.
    Feed ``weight`` to ``sampling.weighted_hash_sample`` for a hard
    subset, or export it as a per-example loss weight.
    """
    labeled = dedup_clusters(docs, pairs, id_col, src, dst)
    sizes = (labeled.groupBy("cluster_id")
             .agg(F.count(F.lit(1)).alias("cluster_size")))
    return (labeled.join(sizes, "cluster_id")
            .select(F.col(id_col), F.col("cluster_id"),
                    F.col("cluster_size"),
                    F.round(F.lit(1.0) / F.col("cluster_size"),
                            round_digits).alias("weight")))
