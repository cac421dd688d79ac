"""Exact deduplication operators for large-scale training-data pipelines.

Exact document dedup (`exact_dedup`, `exact_dedup_keep_best`,
`exact_dedup_incremental`): md5-fingerprint -> groupBy -> keep-first.
One hash-partition shuffle on a short key; map-side partial
aggregation. Exact substring and span dedup (`winnow_fingerprints`,
`dup_span_stats`, `remove_duplicate_spans`), snapshot diffs
(`corpus_diff`, `incremental_update_manifest`) and the mergeable Bloom
filter the persisted dedup store probes (`build_bloom`,
`_bloom_probe_keep`) live here too.

The other dedup families have their own modules: near-duplicate
detection in `neardup`, duplicate clusters in `graph`, train/eval
contamination in `contamination`.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dotnetvectorsearch_spark.caching import transient_persist
from dotnetvectorsearch_spark.functions.text import (
    fingerprint, ordered_char_kgrams, ordered_word_ngrams)
from dotnetvectorsearch_spark.localdf import _spread
from dotnetvectorsearch_spark.operators.contamination import (
    _DECON_INDEX, max_eval_overlap)
from dotnetvectorsearch_spark.operators.neardup import _GUARD_MEMO

# The other families' entry points perfbench/workloads.py calls through
# this module.
from dotnetvectorsearch_spark.operators.contamination import (  # noqa: F401
    decontaminate)
from dotnetvectorsearch_spark.operators.graph import (  # noqa: F401
    dedup_clusters)
from dotnetvectorsearch_spark.operators.neardup import (  # noqa: F401
    jaccard_pairs, lsh_candidate_pairs, minhash_dedup_pairs,
    minhash_signatures)


# ---------------------------------------------------------------- exact


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the first (lowest-id) row per normalized-text fingerprint.

    Scale: one shuffle on the 32-char fingerprint; partial agg map-side.
    """
    fp = fingerprint(text_col).alias("fp")
    keep = (df.select(fp, F.col(id_col))
            .groupBy("fp").agg(F.min(id_col).alias(id_col)))
    return df.join(keep, on=id_col, how="leftsemi")


def exact_dedup_keep_best(df: DataFrame, score: Column,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Keep-BEST exact dedup: per normalized-text duplicate cluster,
    keep the row maximizing ``score`` (ties -> lowest id) — the
    CCNet/RefinedWeb keep policy for when duplicates differ in source
    quality, vs ``exact_dedup``'s keep-first. Null scores rank worst.

    Same scale shape as keep-first — ONE fingerprint shuffle with
    map-side partial aggregation: the argmax travels as a single
    ``min(struct(-score, id))`` aggregate (negating the score makes
    "best" the struct MINIMUM, so score ties fall through to the
    lowest id inside the same comparison) — no window function, no
    per-cluster sort. Returns the kept rows plus ``cluster_size``.
    """
    fp = fingerprint(text_col).alias("fp")
    neg = F.coalesce(-score, F.lit(float("inf")))
    keyed = df.select(
        fp, F.struct(neg.alias("ns"),
                     F.col(id_col).alias("id")).alias("k"))
    best = (keyed.groupBy("fp")
            .agg(F.min("k").alias("k"),
                 F.count(F.lit(1)).alias("cluster_size"))
            .select(F.col("k.id").alias(id_col), "cluster_size"))
    return df.join(best, id_col, "inner")


def exact_dedup_incremental(new_docs: DataFrame, corpus: DataFrame,
                            text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """Incremental exact dedup for continuous ingest: from a new batch,
    drop every row whose normalized-text fingerprint already exists in
    the corpus, then keep-first within the batch itself — the daily
    shape of a training-data pipeline, where re-deduping the full corpus
    per ingest would be a 100 TB scan for a 100 GB batch.

    Fingerprints of the raw ``corpus`` are computed here; the
    maintained fingerprint table plus its bloom prefilter is the
    persisted serve path in :mod:`dedup_store` (identical output).
    """
    fp = fingerprint(text_col).alias("fp")
    known = corpus.select(fp).distinct()
    batch = new_docs.select(F.col(id_col), fp)
    fresh = batch.join(known, "fp", "left_anti")
    keep = (fresh.groupBy("fp").agg(F.min(id_col).alias(id_col))
            .select(id_col))
    return new_docs.join(keep, id_col, "leftsemi")


def winnow_fingerprints(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 5,
                        w: int = 8, portable: bool = False) -> DataFrame:
    """Winnowing document fingerprints (the rolling-hash selection scheme of
    Schleimer et al., SIGMOD'03): hash every ordered char k-gram of the
    normalized text, then keep the minimum hash of each w-long window of
    consecutive k-grams; the distinct selected hashes are the document's
    fingerprint set. Guarantees any shared substring of length >= k+w-1
    yields a shared fingerprint — position-robust, unlike whole-doc md5.

    Shape: posexplode(k-grams) -> hash -> sliding-window min (one shuffle
    on id, then a sorted window pass) -> distinct.

    Engine path (default) hashes with xxhash64: an 8-byte long per gram
    instead of a 32-char md5 string — 4x less window/shuffle payload and
    no cryptographic-hash constant factor. ``portable=True`` switches to
    md5-string min (identical lexicographic order in any engine), the
    oracle-checkable twin — the same fast/portable split as
    minhash_pairs vs minhash_pairs_portable.
    """
    # amp=16: ~one hash + one w-row window frame per input CHARACTER —
    # the most compute-amplified consumer of _spread (A/B: 1.6-1.9x at
    # the bench point when the target reflects that cost).
    docs = _spread(docs, id_col, amp=16)
    grams = docs.select(
        F.col(id_col),
        F.posexplode(ordered_char_kgrams(text_col, k)).alias("pos", "g"))
    h = F.md5("g") if portable else F.xxhash64("g")
    hashed = grams.select(F.col(id_col), F.col("pos"), h.alias("h"))
    win = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    return (hashed.select(F.col(id_col), F.min("h").over(win).alias("fp"))
            .distinct())


def dup_span_stats(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", n: int = 10,
                   min_docs: int = 2) -> DataFrame:
    """Per-document duplicated-span statistics: the fraction of a doc's
    word n-gram spans that also occur in at least ``min_docs - 1`` OTHER
    documents — the span-level dedup signal of Lee et al.,
    "Deduplicating Training Data Makes Language Models Better" (ACL'22),
    used both to filter boilerplate-heavy docs and to locate the exact
    repeated substrings. Returns ``(id, n_spans, n_dup_spans,
    dup_frac)`` with one row per input document (docs with fewer than
    ``n`` tokens have 0 spans and dup_frac 0).

    Shape: posexplode ordered n-grams -> per-doc-distinct gram list ->
    gram-keyed count of containing docs (>= min_docs marks the gram
    duplicated) -> left-semi join back to the span instances -> two
    per-doc aggregations. Every shuffle is keyed on gram or doc id and
    proportional to token count — the suffix-array formulation the paper
    uses is single-node; this equi-join formulation distributes.
    Beyond-reference (north-star LLM-pipeline dedup; SURVEY §2.5).
    """
    docs = _spread(docs, id_col)
    grams = (docs.select(F.col(id_col),
                         F.explode(ordered_word_ngrams(text_col, n))
                         .alias("g"))
             )
    grams = transient_persist(grams)
    dup_grams = (grams.select(id_col, "g").distinct()
                 .groupBy("g")
                 .agg(F.count(F.lit(1)).alias("nd"))
                 .filter(F.col("nd") >= min_docs)
                 .select("g"))
    per_doc_total = (grams.groupBy(id_col)
                     .agg(F.count(F.lit(1)).alias("n_spans")))
    per_doc_dup = (grams.join(dup_grams, "g", "left_semi")
                   .groupBy(id_col)
                   .agg(F.count(F.lit(1)).alias("n_dup_spans")))
    out = (docs.select(id_col)
           .join(per_doc_total, id_col, "left")
           .join(per_doc_dup, id_col, "left")
           .select(
               F.col(id_col),
               F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
               F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"))
           .withColumn(
               "dup_frac",
               F.when(F.col("n_spans") > 0,
                      F.round(F.col("n_dup_spans")
                              / F.col("n_spans"), 6))
               .otherwise(F.lit(0.0))))
    # grams is a TRANSIENT cache: unpersisting before the caller executes
    # the plan would silently undo the share across the three consumers
    # above, so it is registered with caching.transient_persist and the
    # session owner drops it via caching.release_transient() after the
    # query's action.
    return out


def clear_guard_memo() -> int:
    """Drop every memoized driver-side structure keyed on input state —
    the jaccard guard estimates, the eval postings indexes and the
    bloom-store broadcasts, unpersisting the broadcasts (pair with
    ``caching.release_transient`` at session boundaries when the
    underlying corpus may have been rewritten in place, and call it
    after patching a bound so no memoized index answers). Returns the
    number of entries dropped across all three memos."""
    from . import dedup_store  # imports this module

    return sum(m.clear() for m in (_GUARD_MEMO, _DECON_INDEX,
                                   dedup_store._BLOOM_BROADCASTS))


# ------------------------------------------------- duplicate-span removal


def remove_duplicate_spans(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text",
                           chunk_tokens: int = 3) -> DataFrame:
    """Corpus-level duplicate-span REMOVAL with document reassembly —
    the removal counterpart of ``dup_span_stats``: C4 / RefinedWeb-style
    pipelines don't just MEASURE repeated spans, they cut all-but-one
    occurrence out of the corpus before training.

    Semantics: tokens (whitespace split of trimmed text) are grouped
    into non-overlapping ``chunk_tokens``-token chunks in order; each
    distinct chunk string survives only at its FIRST corpus occurrence
    (lowest ``id_col``, then lowest chunk position — deterministic);
    every other occurrence is deleted. Documents are reassembled from
    surviving chunks in original order; documents whose every chunk was
    deleted drop out.

    Returns (id, text, n_chunks, n_kept).

    Scale shape: one token-scale explode; one shuffle keyed by
    (doc, chunk-pos) to assemble chunks; one shuffle on the chunk string
    with MAP-SIDE PARTIAL min(struct(id, pos)) — a boilerplate chunk
    occurring 10^6 times combines to one row per map task before the
    exchange, so hot chunks don't create hot reducers; then a keep-first
    semi-join and a doc-keyed reassembly agg. No driver-side state, no
    cross product — the same inverted-index discipline as the rest of
    this module. (Lee et al., "Deduplicating Training Data Makes
    Language Models Better", ACL'22, motivates span-level removal; the
    non-overlapping-chunk formulation is the one that distributes, vs
    the paper's single-node suffix array.)
    """
    d = _spread(docs, id_col)
    tok = d.select(
        F.col(id_col),
        F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+"))
        .alias("pos", "tk"))
    chunks = (tok
              .withColumn("cid", (F.col("pos") / chunk_tokens)
                          .cast("int"))
              .groupBy(id_col, "cid")
              .agg(F.array_join(
                  F.transform(
                      F.array_sort(F.collect_list(F.struct("pos", "tk"))),
                      lambda s: s["tk"]), " ").alias("chunk")))
    chunks = transient_persist(chunks)  # feeds firsts, totals, reassembly
    firsts = (chunks.groupBy("chunk")
              .agg(F.min(F.struct(F.col(id_col), F.col("cid")))
                   .alias("f"))
              .select(F.col("f")[id_col].alias(id_col),
                      F.col("f")["cid"].alias("cid")))
    kept = chunks.join(firsts, [id_col, "cid"], "leftsemi")
    totals = chunks.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_chunks"))
    rebuilt = (kept.groupBy(id_col)
               .agg(F.array_join(
                   F.transform(
                       F.array_sort(F.collect_list(
                           F.struct("cid", "chunk"))),
                       lambda s: s["chunk"]), " ").alias("text"),
                   F.count(F.lit(1)).alias("n_kept")))
    return (rebuilt.join(totals, id_col)
            .select(id_col, "text", "n_chunks", "n_kept"))


def corpus_diff(old: DataFrame, new: DataFrame,
                id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Snapshot diff (change-data-capture) between two corpus versions:
    one row per doc id present in EITHER snapshot with its status —
    ``added`` (id only in new), ``removed`` (id only in old),
    ``changed`` (same id, different normalized-text fingerprint),
    ``unchanged``. This is the incremental-ingest primitive: a daily
    pipeline embeds/indexes only added+changed, retires removed, and
    skips the (overwhelmingly largest) unchanged slice entirely.

    Shape: two narrow (id, md5-fingerprint) projections FULL OUTER
    equi-joined on the id. Text never travels — both sides are
    column-pruned scans that reduce to id + a 32-byte hash before the
    exchange, so at 100 TB the shuffle is ~40 bytes/doc regardless of
    document size; co-partitioned/bucketed snapshot layouts
    (sources/layout.py) make the join zero-shuffle.
    """
    o = old.select(F.col(id_col), fingerprint(text_col).alias("__fp_o"))
    n = new.select(F.col(id_col), fingerprint(text_col).alias("__fp_n"))
    status = (F.when(F.col("__fp_o").isNull(), "added")
              .when(F.col("__fp_n").isNull(), "removed")
              .when(F.col("__fp_o") == F.col("__fp_n"), "unchanged")
              .otherwise("changed"))
    return (o.join(n, id_col, "full_outer")
            .select(F.col(id_col), status.alias("status")))


def _cdc_attach(old: DataFrame, new: DataFrame,
                id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """CDC status + new-side (fingerprint, text) attach as ONE
    full-outer join of two narrow projections — `new` is normalized
    and md5'd exactly once, and the joined row carries everything the
    downstream ingest gates need (removed rows: null fp/text). On
    id-bucketed snapshot layouts this plans with ZERO Exchange
    (pinned in tests/test_bucketing.py), the same layout win
    `corpus_diff` measures — pay the snapshot shuffle at write time,
    never per ingest run."""
    n_proj = new.select(F.col(id_col),
                        fingerprint(text_col).alias("__fp"),
                        F.col(text_col))
    o_proj = old.select(F.col(id_col),
                        fingerprint(text_col).alias("__fp_o"))
    status = (F.when(F.col("__fp").isNull(), "removed")
              .when(F.col("__fp_o").isNull(), "added")
              .when(F.col("__fp_o") == F.col("__fp"), "unchanged")
              .otherwise("changed"))
    return (o_proj.join(n_proj, id_col, "full_outer")
            .select(F.col(id_col), status.alias("status"),
                    F.col("__fp"), F.col(text_col)))


def incremental_update_manifest(old: DataFrame, new: DataFrame,
                                eval_docs: DataFrame,
                                id_col: str = "doc_id",
                                text_col: str = "text",
                                shingle_n: int = 3,
                                min_overlap: float = 0.2,
                                broadcast_delta: bool = True) -> DataFrame:
    """Daily-incremental-ingest decision manifest: one row per doc id
    in either snapshot with (id, status, action) —

      * ``retire``            — status ``removed``: doc left the corpus
      * ``keep``              — ``unchanged``: never re-fingerprinted,
                                re-embedded or re-indexed; the
                                overwhelmingly-largest slice costs ZERO
      * ``skip_duplicate``    — added/changed doc whose normalized
                                fingerprint already exists among the
                                retained unchanged docs, or that loses
                                the in-batch keep-first (min id) race
      * ``skip_contaminated`` — dedup survivor whose shingles cover
                                >= ``min_overlap`` of any eval doc
                                (same broadcast postings kernel +
                                HALF_UP rounding as ``decontaminate``)
      * ``index_add``         — embed + append to the serving index
                                (``streaming.stream_index_append``)

    Scale shape — the standing corpus is NEVER shuffled; only the
    DELTA (added+changed) is:

      * ``new`` is fingerprinted ONCE: a single (id, md5, text)
        projection feeds both the CDC status and the dedup gate (no
        second normalize+md5 pass over the snapshot);
      * CDC + fingerprint attach is ONE full-outer equi-join of two
        narrow projections — on id-bucketed snapshot layouts
        (``sources.layout`` / ``write_bucketed``) it plans with ZERO
        Exchange (pinned in tests/test_bucketing.py), so a daily 100 TB
        ingest pays the snapshot shuffle once at write time, not per
        run;
      * the in-batch keep-first race is one row_number window over the
        delta only (delta-sized (id, md5) exchange);
      * the standing-fingerprint check BROADCASTS the delta winners'
        fps and left-semi-probes the unchanged slice map-side — the
        dominant ``keep`` slice is scanned once, shuffled never;
      * the contamination gate is the zero-shuffle map-side postings
        kernel over ONLY the dedup survivors.

    With ``broadcast_delta=False`` the winner-fp set and the action
    attach fall back to shuffle joins — the bulk-re-ingest shape where
    the "delta" is the whole corpus and a broadcast would not fit;
    incremental semantics are identical (pinned in test_dedup).
    """
    d = transient_persist(_cdc_attach(old, new, id_col, text_col))
    cand = d.filter(F.col("status").isin("added", "changed"))
    winners = (cand
               .withColumn("__rn", F.row_number().over(
                   Window.partitionBy("__fp")
                   .orderBy(F.col(id_col).asc())))
               .filter(F.col("__rn") == 1)
               .select(F.col(id_col), F.col("__fp"), F.col(text_col)))
    maybe_bc = F.broadcast if broadcast_delta else (lambda df: df)
    standing_hits = (d.filter(F.col("status") == "unchanged")
                     .join(maybe_bc(winners.select("__fp")),
                           "__fp", "left_semi")
                     .select("__fp").distinct())
    surv = (winners.join(maybe_bc(standing_hits), "__fp", "left_anti")
            .select(F.col(id_col), F.col(text_col)))
    ov = max_eval_overlap(surv, eval_docs, id_col, text_col, shingle_n)
    action = (F.when(F.col("status") == "removed", "retire")
              .when(F.col("status") == "unchanged", "keep")
              .when(F.col("max_overlap").isNull(), "skip_duplicate")
              .when(F.col("max_overlap") >= min_overlap,
                    "skip_contaminated")
              .otherwise("index_add"))
    return (d.select(F.col(id_col), F.col("status"))
            .join(maybe_bc(ov), id_col, "left")
            .select(F.col(id_col), F.col("status"),
                    action.alias("action")))


# ------------------------------------------------------------ bloom filter


def _bloom_add(bits, h1, h2, n_bits: int, k: int) -> None:
    """Set the ``k`` Kirsch-Mitzenmacher bits ``(h1 + i*h2) mod n_bits``
    (uint64 arithmetic, wrapping) of every key in the packed uint64
    bitset ``bits``, in place. ``h1``/``h2`` are uint64 arrays."""
    import numpy as np

    for i in range(k):
        pos = (h1 + np.uint64(i) * h2) % np.uint64(n_bits)
        np.bitwise_or.at(bits, pos >> np.uint64(6),
                         np.uint64(1) << (pos & np.uint64(63)))


def _bloom_test(bits, h1, h2, n_bits: int, k: int):
    """Might-contain booleans, one per key: all ``k`` bits that
    :func:`_bloom_add` sets for the key are set in ``bits``."""
    import numpy as np

    hit = np.ones(len(h1), dtype=bool)
    for i in range(k):
        pos = (h1 + np.uint64(i) * h2) % np.uint64(n_bits)
        hit &= ((bits[pos >> np.uint64(6)] >> (pos & np.uint64(63)))
                & np.uint64(1)) != 0
    return hit


def build_bloom(keys: DataFrame, col: str, n_bits: int = 1 << 23,
                k_hashes: int = 7) -> tuple[bytes, int, int]:
    """Mergeable Bloom filter over a key column: each partition folds its
    keys into a packed uint64 bitset in one Arrow pass (numpy OR-scatter,
    no per-row Python), partial bitsets OR-merge on the driver. The two
    base hashes are computed JVM-side (`xxhash64` of the key and of the
    key + a domain separator) so the Python side is pure vectorized
    index arithmetic; bit positions follow Kirsch-Mitzenmacher double
    hashing (h1 + i*h2 mod n_bits).

    Size the filter as ~10 bits/key for ~1% false positives at k=7.
    The driver holds partitions x (n_bits/8) bytes transiently and the
    merged filter broadcasts once — at 10^9 corpus keys and 10 bits/key
    that is a ~1.2 GB broadcast: shard the key space (one bloom per fp
    prefix) past that point, the same bound-then-shard doctrine as every
    driver structure here.
    """
    import numpy as np
    import pandas as pd

    words = (n_bits + 63) // 64
    hashed = keys.select(
        F.xxhash64(F.col(col)).alias("h1"),
        F.xxhash64(F.concat(F.col(col), F.lit("§bloom"))).alias("h2"))

    def fold(batches):
        bits = np.zeros(words, dtype=np.uint64)
        for pdf in batches:
            _bloom_add(bits, pdf["h1"].to_numpy(dtype=np.uint64),
                       pdf["h2"].to_numpy(dtype=np.uint64),
                       n_bits, k_hashes)
        yield pd.DataFrame({"bits": [bits.tobytes()]})

    parts = hashed.mapInPandas(fold, "bits binary").collect()
    merged = np.zeros(words, dtype=np.uint64)
    for r in parts:
        merged |= np.frombuffer(r.bits, dtype=np.uint64)
    return merged.tobytes(), n_bits, k_hashes


def _bloom_probe_keep(new_docs: DataFrame, known: DataFrame,
                      bc, nb: int, kh: int,
                      text_col: str, id_col: str,
                      ids_only: bool = False) -> DataFrame:
    """The probe/join core of the persisted-store serve path
    (`dedup_store.serve_incremental_dedup`): `exact_dedup_incremental`
    with a Bloom prefilter — IDENTICAL output, different shuffle bill.
    Rows whose fingerprint the corpus bloom rejects are DEFINITELY new
    and skip the anti-join entirely; only the might-contain sliver
    (true dups + ~1% false positives) is joined against ``known``, a
    one-column ``fp`` frame. ``bc`` is a broadcast of the merged bitset
    over exactly those fingerprints (broadcast once per store state and
    reused across calls). The batch pays exactly one exchange (the
    within-batch keep-first groupBy) before the probe splits it.
    ``ids_only=True`` returns just the kept id column and skips the
    final semi-join back to ``new_docs`` — one fewer batch scan +
    broadcast when the caller doesn't need the full rows."""
    import numpy as np

    fp_expr = fingerprint(text_col).alias("fp")

    @F.pandas_udf("boolean")
    def might_contain(
            batches: Iterator[Tuple[pd.Series, pd.Series]]
    ) -> Iterator[pd.Series]:
        # scalar-iterator form: unpack the broadcast ONCE per worker,
        # then pure vectorized membership per batch
        words_arr = np.frombuffer(bc.value, dtype=np.uint64)
        for h1, h2 in batches:
            yield pd.Series(_bloom_test(
                words_arr, h1.to_numpy(dtype=np.uint64),
                h2.to_numpy(dtype=np.uint64), nb, kh))

    # keep-first BEFORE the probe: the one batch shuffle we must pay
    # anyway now also dedups the probe/join inputs.
    # asNondeterministic is a PLAN fence, not a semantics statement:
    # a deterministic probe gets (a) pushed below the aggregate into
    # both union branches (batch scanned + probed twice) and (b)
    # INFERRED onto the anti-join's corpus side via constraint
    # propagation — a full-corpus Python pass that is pure overhead
    # (every corpus fp is in its own filter) and catastrophic at scale.
    might_contain = might_contain.asNondeterministic()
    winners = (new_docs.select(F.col(id_col), fp_expr)
               .groupBy("fp").agg(F.min(id_col).alias(id_col)))
    # persist the probed sliver: the keep-set is the UNION of the
    # ~maybe branch and the anti-joined maybe branch, and without a
    # materialization boundary BOTH branches re-execute the batch
    # scan + keep-first aggregate + Python probe (measured: 2
    # ArrowEvalPython / 6 scans in the plan; ~2x the serve cost at
    # sf1). The persisted frame is (id, fp, bool) over ONE ingest
    # batch — trigger-sized by construction, never corpus-sized.
    probed = transient_persist(winners.withColumn(
        "__maybe",
        might_contain(F.xxhash64(F.col("fp")),
                      F.xxhash64(F.concat(F.col("fp"),
                                          F.lit("§bloom"))))))
    definitely_new = probed.filter(~F.col("__maybe")).select(id_col)
    checked = (probed.filter(F.col("__maybe")).select(id_col, "fp")
               .join(known, "fp", "left_anti").select(id_col))
    keep = definitely_new.unionByName(checked)
    if ids_only:
        return keep
    return new_docs.join(keep, id_col, "leftsemi")
