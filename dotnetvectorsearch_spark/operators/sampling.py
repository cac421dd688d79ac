"""Sampling operators for training-data pipelines (beyond-reference).

Deterministic (seeded) samplers built on Spark's native Bernoulli sampling
— no shuffle, no driver collection; each executor samples its partitions
independently, which is exactly the shape that scales.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stratified_sample(df: DataFrame, strata_col: str,
                      fractions: dict, seed: int = 42) -> DataFrame:
    """Per-stratum Bernoulli sample (`sampleBy`): fractions maps stratum
    value -> keep probability. Strata absent from the map are dropped.
    Narrow operation; deterministic for a fixed seed and partitioning."""
    return df.sampleBy(strata_col, fractions, seed=seed)


def proportional_downsample(df: DataFrame, strata_col: str,
                            target_per_stratum: int,
                            seed: int = 42) -> DataFrame:
    """Cap every stratum at ~target rows: one count pass to size the
    per-stratum fractions, then a narrow Bernoulli sample. The count is a
    map-side-combined aggregate (tiny result), so the total cost is two
    scans and zero wide shuffles — the scalable way to balance a skewed
    corpus (e.g. per-language caps for training mixes)."""
    counts = {r[strata_col]: r["n"]
              for r in df.groupBy(strata_col)
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    fractions = {k: min(1.0, target_per_stratum / n)
                 for k, n in counts.items() if n > 0}
    return df.sampleBy(strata_col, fractions, seed=seed)


def stratified_hash_sample(df: DataFrame, strata_col: str, key_col: str,
                           fractions: dict,
                           salt: str = "strata-v1") -> DataFrame:
    """Deterministic per-stratum Bernoulli sample: keep a row iff the
    first 8 hex chars of md5(key | stratum | salt) fall below the
    stratum's fraction of the 16^8 hash space. Strata absent from the
    map are dropped (``sampleBy`` contract).

    The engine-portable sibling of `stratified_sample`: ``sampleBy``'s
    XORShift draw depends on partition and row position, so its kept
    set changes under repartitioning and differs across engines; here
    the kept set is a pure function of (key, stratum, salt) — stable
    across runs, partitionings, engines, and incremental re-ingests
    (the property that makes a 100 TB training mix reproducible).
    Thresholds compare as 8-char lowercase-hex STRINGS (lexicographic
    == numeric for fixed-width hex), so any SQL engine with md5()
    reproduces the sample exactly. Narrow codegen'd filter, no shuffle.
    """
    thr = None
    for k, frac in fractions.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction must be in [0, 1], got {frac}")
        v = int(frac * 16 ** 8)
        # fixed-width hex compare breaks past 8 chars: at frac=1.0 use a
        # sentinel that sorts above every hex digit so all rows keep
        hex_bound = "g" if v >= 16 ** 8 else format(v, "08x")
        cond = F.col(strata_col) == k
        thr = (F.when(cond, hex_bound) if thr is None
               else thr.when(cond, hex_bound))
    if thr is None:
        return df.filter(F.lit(False))
    h = F.substring(
        F.md5(F.concat_ws("|", F.col(key_col).cast("string"),
                          F.col(strata_col).cast("string"),
                          F.lit(salt))), 1, 8)
    # thr is NULL for unmapped strata -> comparison NULL -> row dropped,
    # matching sampleBy's strata-absent-from-map semantics.
    return df.filter(h < thr)


def hash_sample(df: DataFrame, key_col: str, fraction: float,
                salt: str = "sample-v1") -> DataFrame:
    """Deterministic content-hash Bernoulli sample: keep a row iff the
    first 8 hex chars of md5(key || salt) fall below fraction * 16^8.

    Unlike ``sampleBy``/``sample`` (whose XORShift draw depends on the
    row's partition and position, so results change under repartitioning),
    the kept set here is a pure function of (key, salt) — stable across
    runs, partitionings, engines, and incremental re-ingests, which is
    what makes a 100 TB sample reproducible and auditable. Narrow
    codegen'd filter, no shuffle, pushes past any partitioning.
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    bound = int(fraction * 16 ** 8)
    h = F.conv(F.substring(
        F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt))),
        1, 8), 16, 10).cast("long")
    return df.filter(h < F.lit(bound))


_HASH_SPACE = float(16 ** 8)


def _hash_u(key_col: str, salt: str):
    """Deterministic uniform draw in [0, 16^8) from md5(key || salt) —
    the same construction as `hash_sample`, surfaced as a double so it
    can be compared against computed (data-dependent) bounds."""
    return F.conv(F.substring(
        F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt))),
        1, 8), 16, 10).cast("double")


def weighted_hash_sample(df: DataFrame, key_col: str, weight_col: str,
                         salt: str = "wsample-v1") -> DataFrame:
    """Deterministic importance sample: keep each row with probability
    `weight / max(weight)` — e.g. quality-weighted corpus selection where
    the best documents are always kept and weaker ones survive in
    proportion to their score.

    The corpus max is one tiny map-side-combined aggregate broadcast into
    a narrow filter (BroadcastNestedLoopJoin of a 1-row frame), so the
    data itself never shuffles; the kept set is a pure function of
    (key, weight, salt) — reproducible across runs, partitionings, and
    engines, and hence oracle-checkable.
    """
    mx = df.agg(F.max(F.col(weight_col).cast("double")).alias("_wmax"))
    # CaseWhen so the division never evaluates when max <= 0 (ANSI mode
    # raises on 0/0): a weightless corpus keeps nothing, deterministically.
    bound = F.when(
        F.col("_wmax") > 0,
        F.col(weight_col).cast("double") / F.col("_wmax")
        * F.lit(_HASH_SPACE)).otherwise(F.lit(-1.0))
    return (df.crossJoin(F.broadcast(mx))
            .filter(_hash_u(key_col, salt) < bound)
            .drop("_wmax"))


def mixture_rebalance(df: DataFrame, strata_col: str, key_col: str,
                      targets: dict[str, float],
                      salt: str = "mix-v1") -> DataFrame:
    """Downsample a corpus so stratum proportions match a target mixture
    (e.g. language or domain weights for a training mix), keeping as much
    data as possible: the binding stratum — the one scarcest relative to
    its target share — is kept whole and every other stratum is
    deterministically hash-downsampled to match. Never replicates rows.
    Strata absent from `targets` are dropped.

    Cost: one vocabulary-sized count aggregate (collected — strata
    cardinality is small by definition), then a narrow codegen'd filter;
    no wide shuffle at any corpus size. Per-stratum keep fractions are
    computed as `(min_scale * share) / n` in IEEE double — the oracle SQL
    mirrors the operand order exactly, so the kept set is bit-reproducible
    in any engine with md5.
    """
    total = sum(targets.values())
    shares = {k: v / total for k, v in targets.items()}
    counts = {r[strata_col]: r["n"] for r in
              df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n"))
              .collect() if r[strata_col] in shares}
    if not counts:
        return df.filter(F.lit(False))
    scale = min(counts[k] / shares[k] for k in counts)
    bounds = {k: ((scale * shares[k]) / counts[k]) * _HASH_SPACE
              for k in counts}
    mapping = []
    for k, b in bounds.items():
        mapping += [F.lit(k), F.lit(b)]
    bound = F.create_map(*mapping)[F.col(strata_col)]
    # rows whose stratum is not in the map get a null bound -> filtered out
    return df.filter(_hash_u(key_col, salt) < bound)


def temperature_targets(df: DataFrame, strata_col: str,
                        alpha: float = 0.5) -> dict[str, float]:
    """Temperature-scaled mixture targets from observed stratum shares:
    ``target_k ∝ share_k ** alpha`` — the standard multilingual /
    multi-domain rebalancing rule (alpha=1 keeps natural proportions,
    alpha=0 is uniform, alpha≈0.3-0.7 upsamples the tail the way
    multilingual LM data mixes do; cf. the exponent-smoothed sampling of
    XLM-R/mT5). Feed the result straight into :func:`mixture_rebalance`:

        targets = temperature_targets(docs, "lang", alpha=0.5)
        mixed = mixture_rebalance(docs, "lang", "doc_id", targets)

    Cost: one vocabulary-sized count aggregate (strata cardinality is
    small by definition); pure driver arithmetic after that.
    """
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    counts = {r[strata_col]: r["n"] for r in
              df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n"))
              .collect() if r[strata_col] is not None}
    total = sum(counts.values())
    if not total:
        return {}
    raw = {k: (n / total) ** alpha for k, n in counts.items()}
    z = sum(raw.values())
    return {k: v / z for k, v in raw.items()}


def top_k_per_group(df: DataFrame, group_col: str, k: int,
                    order_by: list[tuple[str, bool]]) -> DataFrame:
    """Keep the top-k rows of every group under a total order — the
    curation staple "best N documents per source/domain by quality".

    `order_by` is `[(column, descending), ...]` and must be a total
    order (append a unique id) so results are deterministic.

    Scale shape: the global rank is ONE group-keyed window, after a
    narrow per-batch top-k (`mapInPandas`, no shuffle), so the exchange
    carries at most k × batches rows per group instead of every row
    (`search._rank_window`, the rank step of `search.topk_per_query`);
    correctness holds because the order is total.
    """
    from dotnetvectorsearch_spark.operators.search import _rank_window
    return _rank_window(df, group_col, order_by, k,
                        rank_col="_rk").drop("_rk")


def hash_split(df: DataFrame, key_col: str,
               weights: dict[str, float],
               salt: str = "split-v1",
               out: str = "split") -> DataFrame:
    """Deterministic train/val/test assignment by content hash: the split
    a row lands in depends only on (key, salt), so it is stable across
    runs, machines, partitionings, and incremental re-ingests — the
    property random `randomSplit` does NOT have (its assignment changes
    with partitioning). Weights need not sum to 1; they are normalized.

    Mechanism: the first 8 hex chars of md5(key || salt) uniformly cover
    [0, 16^8); cumulative weight thresholds carve the range. A narrow,
    codegen'd projection — no shuffle, no state, trivially parallel at
    any scale, and exactly reproducible in any engine with md5 (hence
    oracle-checkable).
    """
    total = sum(weights.values())
    bound = 16 ** 8
    h = F.conv(F.substring(
        F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt))),
        1, 8), 16, 10).cast("long")
    expr = None
    acc = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        acc += w / total
        cond = h < F.lit(int(acc * bound))
        expr = (F.when(cond, F.lit(name)) if expr is None
                else expr.when(cond, F.lit(name)))
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn(out, expr)


def deterministic_shuffle(df: DataFrame, key_col: str,
                          shards: int = 8,
                          seed: str = "shuffle-v1") -> DataFrame:
    """Deterministic global shuffle for training-data export: assign
    every row a ``(shard, pos)`` address in a pseudo-random order that
    depends only on ``(key, seed)`` — stable across runs, machines, and
    input partitioning, unlike ``orderBy(rand())``. Training loaders
    read shards in filename order and rows in ``pos`` order and get the
    same epoch-0 ordering everywhere; changing ``seed`` yields an
    independent permutation for the next epoch.

    Shape for 100 TB: shard assignment is a narrow codegen'd projection
    (md5 prefix mod shards); ``pos`` is a ``row_number`` window
    PARTITIONED by shard — the global sort this replaces would be a
    single total-order exchange, while this is one hash exchange on
    shard with per-shard local sorts (shards sized to executor memory).
    md5 keeps every value engine-portable (oracle-checkable), matching
    the hash_split convention above.
    """
    from pyspark.sql import Window
    h = F.md5(F.concat(F.lit(f"{seed}:"), F.col(key_col).cast("string")))
    shard = (F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
             % F.lit(shards))
    w = Window.partitionBy("shard").orderBy("h", key_col)
    return (df.withColumn("h", h)
            .withColumn("shard", shard)
            .withColumn("pos", (F.row_number().over(w) - 1).cast("long"))
            .drop("h"))


def token_budget_sample(df: DataFrame, key_col: str, group_col: str,
                        tokens_col: str, budget: int,
                        salt: str = "budget-v1",
                        buckets: int = 4096) -> DataFrame:
    """Per-group token-budget corpus construction: deterministically
    order each group's rows by md5(key || salt) and admit rows while the
    running token total is still below ``budget`` (the straddling row is
    included — the budget is a fill target, not a hard cap). The greedy
    hash-order prefix is the standard way to cut a fixed-token training
    mix per source/language: assignment depends only on (key, salt,
    budget), so re-runs, engines, and partitionings all agree, and
    growing the corpus only APPENDS candidates after the existing prefix
    order — already-admitted rows stay admitted until the budget moves.

    Scale shape — deliberately NOT one window over the group: ``group``
    is low-cardinality (sources, languages), so
    ``Window.partitionBy(group).orderBy(hash)`` would sort entire 100 TB
    groups in single tasks. Instead the hash range is cut into
    ``buckets`` slices and the admission decision is made per slice:

    1. one map-side-combined aggregate of token sums per (group,
       bucket) — a tiny frame (groups x buckets rows);
    2. a window over THAT frame finds each group's cumulative-before
       bucket totals: buckets that end strictly below the budget are
       admitted wholesale, buckets that start at/after it are dropped
       wholesale, and AT MOST ONE straddler bucket per group survives
       to stage 3 (cumulative sums are monotone);
    3. only the straddler bucket's rows — ~|group|/buckets of the data —
       pay the exact hash-order prefix sum, with the bucket's
       cumulative-before total carried in.

    The per-row verdict is identical to the naive single-window form
    (asserted in tests/test_sampling.py::
    test_token_budget_matches_naive_window across bucket counts, with
    the straddler-bucket path verified exercised; the registry query
    `token_budget_corpus` pins it against the naive form as DuckDB
    SQL); the expensive sort shrinks from the whole group to one
    slice. Output: the admitted rows as (key, group, tokens).
    """
    from pyspark.sql import Window
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if buckets < 2 or buckets > 16 ** 4:
        raise ValueError(f"buckets must be in [2, 65536], got {buckets}")
    span = 16 ** 8 // buckets
    h = F.conv(F.substring(
        F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt))),
        1, 8), 16, 10).cast("long")
    rows = df.select(F.col(key_col), F.col(group_col),
                     F.col(tokens_col).cast("long").alias("__t"),
                     h.alias("__h"))
    rows = rows.withColumn("__b", (F.col("__h") / F.lit(span))
                           .cast("long"))
    per_bucket = (rows.groupBy(group_col, "__b")
                  .agg(F.sum("__t").alias("__bt")))
    wb = (Window.partitionBy(group_col).orderBy("__b")
          .rowsBetween(Window.unboundedPreceding, -1))
    admission = (per_bucket
                 .withColumn("__cb", F.coalesce(F.sum("__bt").over(wb),
                                                F.lit(0)))
                 .withColumn(
                     "__cls",
                     F.when(F.col("__cb") + F.col("__bt") < budget,
                            F.lit("full"))
                     .when(F.col("__cb") >= budget, F.lit("drop"))
                     .otherwise(F.lit("edge")))
                 .select(group_col, "__b", "__cb", "__cls"))
    # groups x buckets rows — always broadcastable.
    tagged = rows.join(F.broadcast(admission), [group_col, "__b"])
    full = tagged.filter(F.col("__cls") == "full")
    edge = tagged.filter(F.col("__cls") == "edge")
    we = (Window.partitionBy(group_col).orderBy("__h", key_col)
          .rowsBetween(Window.unboundedPreceding, -1))
    edge_kept = (edge
                 .withColumn("__cum_before",
                             F.col("__cb")
                             + F.coalesce(F.sum("__t").over(we), F.lit(0)))
                 .filter(F.col("__cum_before") < budget))
    sel = [F.col(key_col), F.col(group_col), F.col("__t").alias(tokens_col)]
    return full.select(*sel).unionByName(edge_kept.select(*sel))
