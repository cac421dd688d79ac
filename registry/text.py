"""Text, LM-curation, media and file-format queries over ``documents``."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from dotnetvectorsearch_spark.functions import text as T
from dotnetvectorsearch_spark.functions import vector as V
from dotnetvectorsearch_spark.functions.text import gopher_quality_flags
from dotnetvectorsearch_spark.multimodal.binary_ops import (
    extract_features, media_from_documents, media_stats, resize_media,
    sample_frames)
from dotnetvectorsearch_spark.operators import search as S
from dotnetvectorsearch_spark.operators.dedup import exact_dedup
from dotnetvectorsearch_spark.operators.ids import contiguous_ids
from dotnetvectorsearch_spark.operators.lm import (
    bigram_logprob, bpe_segment_arrow, bpe_train, bpe_train_rules,
    char_pair_counts, dsir_logweights, moore_lewis_scores, oov_rate,
    perplexity_buckets, tokens)
from dotnetvectorsearch_spark.operators.packing import (
    chunk_documents, pack_sequential)
from dotnetvectorsearch_spark.operators.profile import corpus_profile
from dotnetvectorsearch_spark.operators.sampling import (
    deterministic_shuffle, top_k_per_group)
from dotnetvectorsearch_spark.operators.sketches import heavy_hitters_mg
from dotnetvectorsearch_spark.sources.io import (
    load_table, read_orc, read_xml, write_orc, write_xml)


def _q_doc_listing(spark, sf_dir):
    """Q6+S6: ordered full listing (ORDER BY id scan contract)."""
    return S.ordered_listing(load_table(spark, sf_dir, "documents"),
                             id_col="doc_id")


def _q_doc_count(spark, sf_dir):
    """Q4: total-count scalar."""
    return S.corpus_count(load_table(spark, sf_dir, "documents"))


def _q_prepare_text(spark, sf_dir):
    """P1+P2: combined_text ('{a} : {b}') + asymmetric E5 task prefixes."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.combined_text("text", "source").alias("combined_text"),
        T.with_task_prefix("text", "passage").alias("passage_text"),
        T.with_task_prefix("text", "query").alias("query_text"),
    )


def _q_token_stats(spark, sf_dir):
    """Text analysis: whitespace + BPE-ish token counting."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.ws_token_count("text").cast("long").alias("ws_tokens"),
        T.bpe_ish_token_count("text").cast("long").alias("bpe_tokens"),
        F.length("text").cast("long").alias("chars"),
    )


def _q_doc_seq_ids(spark, sf_dir):
    """Dense contiguous ids 0..N-1 in doc_id order without the
    single-task global row_number: range repartition + per-partition
    offsets + narrow mapInPandas stamp."""
    docs = load_table(spark, sf_dir, "documents")
    return contiguous_ids(docs, "doc_id").select("doc_id", "seq_id")


def _q_top_terms(spark, sf_dir):
    """Corpus vocabulary statistics: top-100 terms by collection frequency
    with document frequency — the first pass of any tokenizer-training /
    stopword-mining pipeline. explode -> two-level aggregate; term-keyed
    shuffle with map-side partial aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("term"))
    toks = toks.filter(F.col("term") != "")
    per_doc = (toks.groupBy("doc_id", "term")
               .agg(F.count(F.lit(1)).alias("tf")))
    return (per_doc.groupBy("term")
            .agg(F.sum("tf").alias("n_occurrences"),
                 F.count(F.lit(1)).alias("n_docs"))
            .orderBy(F.desc("n_occurrences"), F.asc("term"))
            .limit(100))


def _q_tfidf_top_term(spark, sf_dir):
    """TF-IDF: each document's highest-scoring term (tf * ln(N/df)).
    Corpus size N arrives via a broadcast 1-row cross join (never a
    driver-side collect into the plan). The per-doc argmax is a
    min-of-struct hash aggregate (partial agg map-side) rather than a
    row_number window — same result (ties broken by term asc), one
    partial-aggregating shuffle instead of a full sort."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("term"))
    toks = toks.filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    total = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (tf.join(dfreq, "term")
              .crossJoin(F.broadcast(total))
              .withColumn("tfidf",
                          F.round(F.col("tf")
                                  * F.log(F.col("n") / F.col("df")), 6)))
    best = (scored.groupBy("doc_id")
            .agg(F.min(F.struct((-F.col("tfidf")).alias("neg"),
                                F.col("term").alias("term"))).alias("b")))
    return best.select("doc_id", F.col("b.term").alias("term"),
                       (-F.col("b.neg")).alias("tfidf"))


def _q_quality_scores(spark, sf_dir):
    """Text analysis: quality features + composite score."""
    docs = load_table(spark, sf_dir, "documents")
    feats = T.quality_features("text")
    return docs.select(
        "doc_id",
        feats["n_tokens"].alias("n_tokens"),
        feats["mean_word_len"].alias("mean_word_len"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        T.quality_score("text").alias("quality"),
    )


def _q_lang_id(spark, sf_dir):
    """Text analysis: stopword-signal language ID with deterministic ties."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", T.lang_id("text").alias("pred_lang"))


def _q_shuffled_export(spark, sf_dir):
    """Deterministic training-data shuffle: every doc gets a stable
    (shard, pos) address in a seeded pseudo-random order — the epoch-0
    export ordering, reproducible in any engine (md5-keyed)."""
    docs = load_table(spark, sf_dir, "documents")
    return (deterministic_shuffle(docs.select("doc_id"), "doc_id",
                                  shards=8, seed="epoch0")
            .select("doc_id", "shard", "pos"))


def _q_length_buckets(spark, sf_dir):
    """Token-length histogram of the corpus (50-token buckets): the
    length-distribution check before packing training batches."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (F.floor(T.ws_token_count("text") / F.lit(50)) * 50)
    return (docs.groupBy(bucket.cast("long").alias("bucket_lo"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.length("text")).alias("total_chars")))


def _q_clean_corpus(spark, sf_dir):
    """End-to-end cleaning pipeline composition: language filter (predicted
    'en') + quality floor + exact-dedup keep-first -> surviving ids."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select("doc_id", "text",
                         T.lang_id("text").alias("pred_lang"),
                         T.quality_score("text").alias("quality"))
    # exact_dedup self-joins its input; persist so the ~10 regex passes of
    # lang-ID + quality scoring run once, not three times.
    filt = scored.filter((F.col("pred_lang") == "en")
                         & (F.col("quality") >= 0.4)).persist()
    return exact_dedup(filt, "text", "doc_id").select("doc_id", "quality")


def _q_cleaned_docs(spark, sf_dir):
    """Boilerplate removal (web-crawl cleaning pass): strip HTML tags,
    URLs, and control chars, collapse whitespace — all JVM-side
    regexp_replace in one codegen'd map stage, no shuffle. The documents
    table is clean, so deterministic noise is injected first to exercise
    every strip stage."""
    docs = load_table(spark, sf_dir, "documents")
    dirty = F.concat(F.lit("<p class=\"x\">"), F.col("text"),
                     F.lit("</p> see https://example.com/a?b=1 or "
                           "www.test.org/page \t "),
                     F.col("text"))
    return docs.select(
        "doc_id",
        T.clean_text(dirty).alias("clean"),
        F.length(T.clean_text(dirty)).alias("n_chars"))


def _q_pack_documents(spark, sf_dir):
    """Sequence packing (budget-quantized variant): assign docs to fixed
    token-budget training packs per language shard — window cumsum, one
    shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "lang",
                       T.ws_token_count("text").cast("long").alias("n_tok"))
    return pack_sequential(base, "n_tok", budget=2048,
                           shard_col="lang", order_col="doc_id")


def _q_media_stats(spark, sf_dir):
    """Multimodal binary-column analytics: byte stats per modality/mime over
    opaque payloads — pure Catalyst, no decode."""
    docs = load_table(spark, sf_dir, "documents")
    return media_stats(media_from_documents(docs))


def _q_media_resized(spark, sf_dir):
    """Multimodal resize plumbing contract, oracle-checked on the parts
    SQL can see: images come back at the target dimensions with the
    deterministic stub payload size; other modalities pass through with
    their original byte length and null dims."""
    docs = load_table(spark, sf_dir, "documents")
    out = resize_media(media_from_documents(docs), 224, 224)
    return out.select("asset_id", "modality",
                      F.length("payload").alias("n_bytes"),
                      "width", "height")


def _q_bigram_logprob(spark, sf_dir):
    """Corpus-trained bigram LM average log-probability per doc — the
    KenLM-style perplexity quality filter of LLM data pipelines."""
    docs = load_table(spark, sf_dir, "documents")
    return bigram_logprob(docs, id_col="doc_id", text_col="text")


def _q_oov_rates(spark, sf_dir):
    """Per-doc out-of-vocabulary rate vs the corpus top-1000 terms."""
    docs = load_table(spark, sf_dir, "documents")
    return oov_rate(docs, vocab_size=1000, id_col="doc_id", text_col="text")


def _q_moore_lewis_en(spark, sf_dir):
    """Moore-Lewis contrastive selection: score every doc by
    avg_lp(target='en' bigram LM) - avg_lp(general corpus LM), both
    Laplace-smoothed — the classic domain-data mining recipe
    (Moore & Lewis ACL'10; the CCNet/DSIR shape)."""
    docs = load_table(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    return moore_lewis_scores(docs, target, docs)


def _q_bpe_merges(spark, sf_dir):
    """Distributed BPE tokenizer training (Sennrich'16): the first 8
    merge rules learned from the corpus word-frequency table — each
    iteration is a vocabulary-scale pair count + 1-row argmax + greedy
    fold rewrite. Iterative/driver-coordinated -> rows-only (the
    pure-Python reference in tests/test_lm.py is the correctness
    twin)."""
    docs = load_table(spark, sf_dir, "documents")
    return bpe_train(docs, "text", n_merges=8)


def _q_top_docs_per_source(spark, sf_dir):
    """Curation: best-3 documents per source by composite quality score
    (doc_id tiebreak -> total order); local top-k prefilter bounds the
    group-keyed exchange at k x partitions rows per group."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "source", "doc_id", T.quality_score("text").alias("quality"))
    return top_k_per_group(scored, "source", 3,
                           [("quality", True), ("doc_id", False)])


def _q_corpus_profile(spark, sf_dir):
    """One-pass corpus data-card summary (volume, cardinalities, length
    stats, token total, short-doc fraction)."""
    docs = load_table(spark, sf_dir, "documents")
    return corpus_profile(docs)


def _q_bpe_pair_counts(spark, sf_dir):
    """Adjacent-char-pair frequencies over the corpus — the first BPE
    tokenizer-training merge statistic; top-200, deterministic ties."""
    docs = load_table(spark, sf_dir, "documents")
    return char_pair_counts(docs, text_col="text", top_n=200)


def _q_orc_roundtrip(spark, sf_dir):
    """ORC sink + scan roundtrip (format coverage beyond parquet/CSV/
    JSONL); values must survive the format exactly."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars")
    path = tempfile.mkdtemp(prefix="orc_roundtrip_")
    write_orc(docs, path)
    return read_orc(spark, path)


def _q_media_features(spark, sf_dir):
    """Multimodal decode/feature-extract plumbing via mapInPandas (stubbed
    deterministic decode; payload pruned from the output)."""
    docs = load_table(spark, sf_dir, "documents")
    feats = extract_features(media_from_documents(docs), feat_dim=16)
    return feats.select("asset_id", "modality", "width", "height", "n_frames",
                        F.round(V.l2_norm("feature"), 6).alias("feat_norm"))


def _q_media_frames(spark, sf_dir):
    """Multimodal 1->N fan-out: per-video sampled frame features via
    mapInPandas (stubbed decode; explode inside the Arrow batch)."""
    docs = load_table(spark, sf_dir, "documents")
    frames = sample_frames(media_from_documents(docs), every_nth=50)
    return frames.select("asset_id", "frame_idx",
                         F.round(V.l2_norm("frame_feature"), 6)
                         .alias("feat_norm"))


def _q_repetition_stats(spark, sf_dir):
    """Gopher/C4 repetition heuristics per doc: distinct-token ratio and
    top-token share — the boilerplate/keyword-stuffing filters a corpus
    cleaning pipeline runs before training."""
    docs = load_table(spark, sf_dir, "documents")
    stats = T.repetition_stats("text")
    return docs.select("doc_id",
                       *[c.alias(n) for n, c in stats.items()])


def _q_redacted_docs(spark, sf_dir):
    """PII scrub pass. The synthetic corpus is PII-free, so deterministic
    PII (an email built from doc_id, a phone, an IP) is appended first —
    the oracle replicates both the injection and the scrub, proving the
    patterns behave identically under Java regex and RE2."""
    docs = load_table(spark, sf_dir, "documents")
    with_pii = F.concat(
        F.col("text"), F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-123-4567 at 192.168.1.1"))
    return docs.select("doc_id", T.redact_pii(with_pii).alias("redacted"))


def _q_chunk_documents(spark, sf_dir):
    """Overlapping token-window chunking (RAG/context-window prep):
    64-token chunks every 48 tokens, one row per chunk."""
    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, "text", "doc_id",
                           chunk_tokens=64, stride=48)


def _q_xml_roundtrip(spark, sf_dir):
    """XML sink + scan roundtrip (Spark 4 built-in XML datasource —
    format coverage for the feed/dump shape: arXiv, Wikipedia, PubMed);
    values must survive the format exactly, malformed rows drop
    silently like the CSV path."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars")
    path = tempfile.mkdtemp(prefix="xml_roundtrip_")
    write_xml(docs, path, row_tag="doc")
    return read_xml(spark, path, row_tag="doc", schema=docs.schema)


def _q_gopher_quality(spark, sf_dir):
    """Gopher rule-based quality gate (Rae et al. '21 §A1.1): word
    count / mean word length / symbol ratio / alphabetic-word fraction
    / distinct-stopword floor, each a named flag + conjunction `keep`.
    Narrow single-pass expressions fused into the scan."""
    docs = load_table(spark, sf_dir, "documents")
    flags = gopher_quality_flags("text")
    return docs.select(
        "doc_id", *(v.alias(k) for k, v in flags.items()))


def _q_dsir_weights_en(spark, sf_dir):
    """DSIR importance log-weights (Xie et al. NeurIPS'23): hashed
    word-bigram features (1024 buckets), target = English docs,
    background = full corpus; per-doc sum of Laplace-smoothed
    log(p_target/p_background). The hashed-feature variant of
    Moore-Lewis whose model size is FIXED — broadcastable at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    return dsir_logweights(docs, n_buckets=1024,
                           target_pred=F.col("lang") == "en")


def _q_bpe_segmented_docs(spark, sf_dir):
    """End-to-end tokenizer apply: train 8 BPE merges on the corpus
    word-frequency table, then encode every token occurrence with the
    Arrow-batched encoder (the 10^4-rule production path; pinned equal
    to the Catalyst-fold twin in tests/test_lm.py). Iterative trainer
    upstream -> rows-only."""
    docs = load_table(spark, sf_dir, "documents")
    rules = [(left, right) for _rank, left, right, _merged in
             bpe_train_rules(docs, n_merges=8)]
    seg = bpe_segment_arrow(docs, rules)
    return seg.select("doc_id", "token",
                      F.array_join("pieces", " ").alias("pieces_str"))


def _q_ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail perplexity split (Wenzek et al. LREC'20):
    per-language equal-frequency tiers over the corpus bigram-LM score,
    ties pinned by (score desc, doc_id asc) so buckets are
    engine-stable."""
    docs = load_table(spark, sf_dir, "documents")
    return perplexity_buckets(docs, n_buckets=3)


def _q_heavy_hitter_terms(spark, sf_dir):
    """Misra-Gries heavy-hitter terms (64 counters, top 20): constant
    k-rows-per-task exchange instead of a vocabulary-scale shuffle. On
    this corpus the vocabulary fits the counters, so the summary is in
    its exact regime (slack 0) and the DuckDB oracle pins exact counts;
    the approximate regime's certified bounds are pytest-pinned."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (docs.select(F.explode(tokens("text")).alias("w"))
            .filter(F.length("w") > 0))
    return heavy_hitters_mg(toks, "w", k=64, top_n=20)


# DuckDB oracle SQL. Same column names, same rounding, decimal-cast sums.

_LANG_RE = {
    "en": r"\b(the|and|of|to|in|is|you|that|it|for)\b",
    "es": r"\b(el|la|de|que|y|los|del|las|por|un)\b",
    "fr": r"\b(le|la|les|des|est|une|dans|pour|que|sur)\b",
    "de": r"\b(der|die|und|das|ist|nicht|ein|mit|sich|auf)\b",
    "zh": r"[一-鿿]",
}


_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _lang_score_sql(lang: str) -> str:
    return f"len(regexp_extract_all(lower(text), '{_LANG_RE[lang]}'))"


def add_oracles(oracles: dict[str, str]) -> None:
    """Add this family's DuckDB oracle SQL to ``oracles``."""
    oracles.update({
        "doc_listing": """
            SELECT doc_id, text, lang, source, n_chars
            FROM documents ORDER BY doc_id
        """,
        "doc_count": """
            SELECT count(*) AS total_documents FROM documents
        """,
        "prepare_text": """
            SELECT doc_id,
                   text || ' : ' || source AS combined_text,
                   'passage: ' || text AS passage_text,
                   'query: ' || text AS query_text
            FROM documents
        """,
        "token_stats": f"""
            SELECT doc_id,
                   len(string_split_regex(trim(text), '\\s+')) AS ws_tokens,
                   len(regexp_extract_all(text, '{_BPE_RE}')) AS bpe_tokens,
                   length(text) AS chars
            FROM documents
        """,
        "doc_seq_ids": """
            SELECT doc_id,
                   row_number() OVER (ORDER BY doc_id) - 1 AS seq_id
            FROM documents
        """,
        "top_terms": """
            WITH toks AS (
                SELECT doc_id,
                       unnest(string_split_regex(trim(lower(text)), '\\s+'))
                           AS term
                FROM documents
            ), tf AS (
                SELECT doc_id, term, count(*) AS tf
                FROM toks WHERE term <> '' GROUP BY 1, 2
            )
            SELECT term, CAST(SUM(tf) AS BIGINT) AS n_occurrences,
                   count(*) AS n_docs
            FROM tf GROUP BY term
            ORDER BY n_occurrences DESC, term ASC
            LIMIT 100
        """,
        "tfidf_top_term": """
            WITH toks AS (
                SELECT doc_id,
                       unnest(string_split_regex(trim(lower(text)), '\\s+'))
                           AS term
                FROM documents
            ), tf AS (
                SELECT doc_id, term, count(*) AS tf
                FROM toks WHERE term <> '' GROUP BY 1, 2
            ), dfreq AS (
                SELECT term, count(*) AS df FROM tf GROUP BY 1
            ), n AS (
                SELECT count(*) AS n FROM documents
            ), s AS (
                SELECT doc_id, tf.term,
                       round(tf * ln(n / df), 6) AS tfidf,
                       row_number() OVER (
                           PARTITION BY doc_id
                           ORDER BY round(tf * ln(n / df), 6) DESC,
                                    tf.term ASC) AS rn
                FROM tf JOIN dfreq USING (term) CROSS JOIN n
            )
            SELECT doc_id, term, tfidf FROM s WHERE rn = 1
        """,
        "quality_scores": """
            WITH f AS (
                SELECT doc_id,
                       length(text) AS nc,
                       len(string_split_regex(trim(text), '\\s+')) AS nt,
                       len(regexp_extract_all(text, '[,.!?;:]')) AS np,
                       len(regexp_extract_all(lower(text),
                           '\\b(the|and|of|to|in|is|you|that|it|for)\\b')) AS ns
                FROM documents
            ), r AS (
                SELECT doc_id, nc, nt,
                       round(CASE WHEN nt > 0
                             THEN (nc - nt + 1) / CAST(nt AS DOUBLE)
                             ELSE 0 END, 6) AS mean_word_len,
                       round(CASE WHEN nc > 0 THEN np / CAST(nc AS DOUBLE)
                             ELSE 0 END, 6) AS punct_ratio,
                       round(CASE WHEN nt > 0 THEN ns / CAST(nt AS DOUBLE)
                             ELSE 0 END, 6) AS stopword_ratio
                FROM f
            )
            SELECT doc_id,
                   CAST(nt AS BIGINT) AS n_tokens,
                   mean_word_len, punct_ratio, stopword_ratio,
                   round(((CASE WHEN nc >= 20 AND nc <= 100000 THEN 1.0 ELSE 0.0 END)
                        + (CASE WHEN mean_word_len >= 2.0 AND mean_word_len <= 12.0
                               THEN 1.0 ELSE 0.0 END)
                        + least(stopword_ratio * 4.0, 1.0)
                        + (1.0 - least(punct_ratio * 5.0, 1.0))) / 4.0, 6)
                   AS quality
            FROM r
        """,
        "lang_id": f"""
            WITH s AS (
                SELECT doc_id,
                       {_lang_score_sql('en')} AS s_en,
                       {_lang_score_sql('es')} AS s_es,
                       {_lang_score_sql('fr')} AS s_fr,
                       {_lang_score_sql('de')} AS s_de,
                       {_lang_score_sql('zh')} AS s_zh
                FROM documents
            )
            SELECT doc_id,
                   CASE
                     WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_fr
                          AND s_en >= s_de AND s_en >= s_zh THEN 'en'
                     WHEN s_es > 0 AND s_es >= s_fr AND s_es >= s_de
                          AND s_es >= s_zh THEN 'es'
                     WHEN s_fr > 0 AND s_fr >= s_de AND s_fr >= s_zh THEN 'fr'
                     WHEN s_de > 0 AND s_de >= s_zh THEN 'de'
                     WHEN s_zh > 0 THEN 'zh'
                     ELSE 'und'
                   END AS pred_lang
            FROM s
        """,
        "chunk_documents": """
            WITH toks AS (
                SELECT doc_id,
                       CASE WHEN length(trim(text)) = 0 THEN []
                            ELSE string_split_regex(trim(text), '\\s+')
                       END AS t
                FROM documents
            ), starts AS (
                SELECT doc_id, t,
                       r.i AS start_tok,
                       CAST((r.i / 48) AS INT) AS chunk_id
                FROM toks,
                     UNNEST(range(0, greatest(len(t) - 1, 0) + 1, 48))
                         AS r(i)
            )
            SELECT doc_id, chunk_id,
                   len(t[start_tok + 1 : start_tok + 64]) AS n_tokens,
                   array_to_string(t[start_tok + 1 : start_tok + 64], ' ')
                       AS chunk_text
            FROM starts
        """,
        "repetition_stats": """
            WITH toks AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
                FROM documents
            ), u AS (
                SELECT doc_id, unnest(t) AS tok FROM toks
            ), c AS (
                SELECT doc_id, tok, count(*) AS cnt
                FROM u GROUP BY 1, 2
            )
            SELECT doc_id,
                   CAST(SUM(cnt) AS BIGINT) AS n_tokens,
                   round(count(*) / CAST(SUM(cnt) AS DOUBLE), 6)
                       AS distinct_ratio,
                   round(MAX(cnt) / CAST(SUM(cnt) AS DOUBLE), 6)
                       AS top_token_share
            FROM c GROUP BY doc_id
        """,
        "redacted_docs": """
            WITH pii AS (
                SELECT doc_id,
                       text || ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@example.com or 555-123-4567 at 192.168.1.1'
                           AS t
                FROM documents
            )
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(
                       regexp_replace(t,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                           '<EMAIL>', 'g'),
                           '\\b(?:\\d[ -]?){13,16}\\b', '<CARD>', 'g'),
                           '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                           '<IP>', 'g'),
                           '\\+?\\b(?:\\d{1,3}[ .-]?)?(?:\\(\\d{2,4}\\)[ .-]?)?\\d{3}[ .-]\\d{3,4}\\b',
                           '<PHONE>', 'g') AS redacted
            FROM pii
        """,
        "shuffled_export": """
            WITH h AS (
                SELECT doc_id,
                       md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS h
                FROM documents
            ), s AS (
                SELECT doc_id, h,
                       CAST(('0x' || substr(h, 1, 8)) AS BIGINT) % 8
                           AS shard
                FROM h
            )
            SELECT doc_id, shard,
                   CAST(row_number() OVER (PARTITION BY shard
                        ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
            FROM s
        """,
        "length_buckets": """
            WITH t AS (
                SELECT text,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(string_split_regex(trim(text), '\\s+'))
                       END AS nt
                FROM documents
            )
            SELECT CAST(floor(nt / 50) * 50 AS BIGINT) AS bucket_lo,
                   count(*) AS n_docs,
                   CAST(SUM(length(text)) AS BIGINT) AS total_chars
            FROM t GROUP BY 1
        """,
        "cleaned_docs": r"""
            WITH dirty AS (
                SELECT doc_id,
                       '<p class="x">' || text
                       || '</p> see https://example.com/a?b=1 or '
                       || 'www.test.org/page ' || chr(9) || ' ' || text
                       AS d
                FROM documents
            ), c AS (
                SELECT doc_id,
                       trim(regexp_replace(
                           regexp_replace(
                               regexp_replace(
                                   regexp_replace(d, '<[^>]+>', ' ', 'g'),
                                   'https?://\S+|www\.\S+', ' ', 'g'),
                               '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
                           '\s+', ' ', 'g')) AS clean
                FROM dirty
            )
            SELECT doc_id, clean, length(clean) AS n_chars FROM c
        """,
        "clean_corpus": f"""
            WITH s AS (
                SELECT doc_id, text,
                       {_lang_score_sql('en')} AS s_en,
                       {_lang_score_sql('es')} AS s_es,
                       {_lang_score_sql('fr')} AS s_fr,
                       {_lang_score_sql('de')} AS s_de,
                       {_lang_score_sql('zh')} AS s_zh,
                       length(text) AS nc,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(string_split_regex(trim(text), '\\s+'))
                       END AS nt,
                       len(regexp_extract_all(text, '[,.!?;:]')) AS np
                FROM documents
            ), r AS (
                SELECT doc_id, text, nc, nt,
                       (s_en > 0 AND s_en >= s_es AND s_en >= s_fr
                        AND s_en >= s_de AND s_en >= s_zh) AS is_en,
                       round(CASE WHEN nt > 0
                             THEN (nc - nt + 1) / CAST(nt AS DOUBLE)
                             ELSE 0 END, 6) AS mwl,
                       round(CASE WHEN nc > 0 THEN np / CAST(nc AS DOUBLE)
                             ELSE 0 END, 6) AS pr,
                       round(CASE WHEN nt > 0 THEN s_en / CAST(nt AS DOUBLE)
                             ELSE 0 END, 6) AS sr
                FROM s
            ), q AS (
                SELECT doc_id, text, is_en,
                       round(((CASE WHEN nc >= 20 AND nc <= 100000
                               THEN 1.0 ELSE 0.0 END)
                            + (CASE WHEN mwl >= 2.0 AND mwl <= 12.0
                               THEN 1.0 ELSE 0.0 END)
                            + least(sr * 4.0, 1.0)
                            + (1.0 - least(pr * 5.0, 1.0))) / 4.0, 6)
                           AS quality
                FROM r
            ), f AS (
                SELECT doc_id, text, quality FROM q
                WHERE is_en AND quality >= 0.4
            ), k AS (
                SELECT min(doc_id) AS doc_id FROM f
                GROUP BY md5(trim(regexp_replace(lower(text),
                                                 '\\s+', ' ', 'g')))
            )
            SELECT f.doc_id, f.quality FROM f
            JOIN k ON f.doc_id = k.doc_id
        """,
        "pack_documents": """
            WITH t AS (
                SELECT doc_id, lang,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(string_split_regex(trim(text), '\\s+'))
                       END AS n_tok
                FROM documents
            )
            SELECT doc_id, lang, CAST(n_tok AS BIGINT) AS n_tok,
                   CAST(floor(coalesce(SUM(n_tok) OVER (
                       PARTITION BY lang ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       / 2048) AS BIGINT) AS pack_id
            FROM t
        """,
        "media_stats": """
            SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
                        WHEN doc_id % 3 = 1 THEN 'audio'
                        ELSE 'video' END AS modality,
                   CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                        WHEN doc_id % 3 = 1 THEN 'audio/wav'
                        ELSE 'video/mp4' END AS mime_type,
                   count(*) AS n_assets,
                   CAST(SUM(octet_length(encode(text))) AS BIGINT)
                       AS total_bytes,
                   MAX(octet_length(encode(text))) AS max_bytes
            FROM documents
            GROUP BY 1, 2
        """,
        "media_resized": """
            SELECT doc_id AS asset_id,
                   CASE WHEN doc_id % 3 = 0 THEN 'image'
                        WHEN doc_id % 3 = 1 THEN 'audio'
                        ELSE 'video' END AS modality,
                   CASE WHEN doc_id % 3 = 0
                        THEN (224 * 224) // 1024
                        ELSE octet_length(encode(text)) END AS n_bytes,
                   CASE WHEN doc_id % 3 = 0 THEN 224 END AS width,
                   CASE WHEN doc_id % 3 = 0 THEN 224 END AS height
            FROM documents
        """,
        "bigram_logprob": """
            WITH toks AS (
                SELECT doc_id,
                       string_split_regex(trim(lower(text)), '\\s+') AS t
                FROM documents
            ), bi AS (
                SELECT doc_id, t[i] || ' ' || t[i+1] AS bg, t[i] AS w1
                FROM toks, UNNEST(range(1, len(t))) AS r(i)
            ), cb AS (
                SELECT bg, count(*) AS c_bg FROM bi GROUP BY 1
            ), cw AS (
                SELECT w1, count(*) AS c_w1 FROM bi GROUP BY 1
            )
            SELECT bi.doc_id, count(*) AS n_bigrams,
                   round(avg(ln(CAST(c_bg AS DOUBLE) / c_w1)), 6)
                       AS avg_logprob
            FROM bi JOIN cb USING (bg) JOIN cw USING (w1)
            GROUP BY 1
        """,
        "oov_rates": """
            WITH toks AS (
                SELECT doc_id,
                       string_split_regex(trim(lower(text)), '\\s+') AS t
                FROM documents
            ), tok AS (
                SELECT doc_id, t[i] AS w
                FROM toks, UNNEST(range(1, len(t) + 1)) AS r(i)
                WHERE len(t[i]) > 0
            ), vocab AS (
                SELECT w FROM (
                    SELECT w, count(*) AS c FROM tok GROUP BY 1
                    ORDER BY c DESC, w ASC LIMIT 1000)
            )
            SELECT tok.doc_id, count(*) AS n_tokens,
                   round(avg(CAST(CASE WHEN vocab.w IS NULL THEN 1.0
                                       ELSE 0.0 END AS DOUBLE)), 6) AS oov
            FROM tok LEFT JOIN vocab ON tok.w = vocab.w
            GROUP BY 1
        """,
        "orc_roundtrip": """
            SELECT doc_id, lang, source, n_chars FROM documents
        """,
        "bpe_pair_counts": """
            WITH toks AS (
                SELECT string_split_regex(trim(lower(text)), '\\s+') AS t
                FROM documents
            ), w AS (
                SELECT t[i] AS w
                FROM toks, UNNEST(range(1, len(t) + 1)) AS r(i)
                WHERE len(t[i]) >= 2
            ), p AS (
                SELECT substr(w, i, 2) AS pair
                FROM w, UNNEST(range(1, len(w))) AS r(i)
            )
            SELECT pair, count(*) AS n
            FROM p GROUP BY 1
            ORDER BY n DESC, pair ASC
            LIMIT 200
        """,
        "corpus_profile": """
            SELECT count(*) AS n_docs,
                   count(DISTINCT lang) AS n_langs,
                   count(DISTINCT source) AS n_sources,
                   CAST(min(n_chars) AS BIGINT) AS min_chars,
                   CAST(max(n_chars) AS BIGINT) AS max_chars,
                   round(avg(CAST(n_chars AS DOUBLE)), 6) AS avg_chars,
                   CAST(sum(len(string_split_regex(trim(text), '\\s+')))
                        AS BIGINT) AS total_tokens,
                   round(avg(CAST(CASE WHEN n_chars < 20 THEN 1.0
                                       ELSE 0.0 END AS DOUBLE)), 6)
                       AS short_doc_frac
            FROM documents
        """,
    })
    oracles["top_docs_per_source"] = f"""
        WITH q AS ({oracles["quality_scores"]})
        SELECT source, doc_id, quality
        FROM (
            SELECT d.source, q.doc_id, q.quality,
                   row_number() OVER (
                       PARTITION BY d.source
                       ORDER BY q.quality DESC, q.doc_id ASC) AS rk
            FROM q JOIN documents d USING (doc_id))
        WHERE rk <= 3
    """
    # Moore-Lewis: each Laplace-smoothed term mirrors
    # lm.bigram_lm_logprob's arithmetic exactly (coalesced DOUBLE counts
    # + 1.0, denominator + 1.0 * V, ln, avg; round only the difference).
    ml_term = """
        SELECT b.doc_id, count(*) AS n_bigrams,
               avg(ln((CAST(COALESCE(cb.c_bg, 0) AS DOUBLE)
                       + CAST(1.0 AS DOUBLE))
                      / (CAST(COALESCE(cw.c_w1, 0) AS DOUBLE)
                         + CAST(1.0 AS DOUBLE) * (SELECT v FROM {vt}))))
                   AS lp
        FROM bi b
        LEFT JOIN {cbt} cb USING (bg)
        LEFT JOIN {cwt} cw USING (w1)
        GROUP BY b.doc_id
    """
    oracles["moore_lewis_en"] = f"""
        WITH toks AS (
            SELECT doc_id, lang,
                   string_split_regex(trim(lower(text)), '\\s+') AS t
            FROM documents
        ), bi AS (
            SELECT doc_id, lang, t[i] || ' ' || t[i+1] AS bg, t[i] AS w1
            FROM toks, UNNEST(range(1, len(t))) AS r(i)
        ), tb AS (
            SELECT bg, count(*) AS c_bg FROM bi WHERE lang = 'en'
            GROUP BY bg
        ), tw AS (
            SELECT w1, count(*) AS c_w1 FROM bi WHERE lang = 'en'
            GROUP BY w1
        ), tv AS (
            SELECT count(DISTINCT tk) AS v FROM (
                SELECT unnest(t) AS tk FROM toks WHERE lang = 'en')
            WHERE len(tk) > 0
        ), gb AS (
            SELECT bg, count(*) AS c_bg FROM bi GROUP BY bg
        ), gw AS (
            SELECT w1, count(*) AS c_w1 FROM bi GROUP BY w1
        ), gv AS (
            SELECT count(DISTINCT tk) AS v FROM (
                SELECT unnest(t) AS tk FROM toks)
            WHERE len(tk) > 0
        ), sct AS ({ml_term.format(vt="tv", cbt="tb", cwt="tw")}
        ), scg AS ({ml_term.format(vt="gv", cbt="gb", cwt="gw")}
        )
        SELECT sct.doc_id, sct.n_bigrams,
               round(sct.lp - scg.lp, 6) AS ml_score
        FROM sct JOIN scg USING (doc_id)
    """
    oracles["xml_roundtrip"] = """
        SELECT doc_id, lang, source, n_chars FROM documents
    """
    _gopher_stop_sql = " + ".join(
        f"(CASE WHEN regexp_matches(lower(trim(text)), '\\b{w}\\b') "
        f"THEN 1 ELSE 0 END)"
        for w in ["the", "be", "to", "of", "and", "that", "have", "with"])
    oracles["gopher_quality"] = f"""
        WITH f AS (
            SELECT doc_id,
                   CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+'))
                        END AS BIGINT) AS wc,
                   COALESCE(list_sum(list_transform(
                       string_split_regex(trim(text), '\\s+'),
                       w -> length(w))), 0) AS word_chars,
                   len(regexp_extract_all(trim(text), '(#|\\.\\.\\.|…)'))
                       AS nsym,
                   len(list_filter(string_split_regex(trim(text), '\\s+'),
                       w -> regexp_matches(w, '[A-Za-z]'))) AS nalpha,
                   CAST({_gopher_stop_sql} AS INTEGER) AS stop_distinct
            FROM documents
        ), g AS (
            SELECT doc_id, wc AS word_count,
                   round(CASE WHEN wc > 0
                         THEN CAST(word_chars AS DOUBLE) / wc
                         ELSE 0.0 END, 6) AS mean_word_len,
                   round(CASE WHEN wc > 0
                         THEN CAST(nsym AS DOUBLE) / wc
                         ELSE 0.0 END, 6) AS symbol_ratio,
                   round(CASE WHEN wc > 0
                         THEN CAST(nalpha AS DOUBLE) / wc
                         ELSE 0.0 END, 6) AS alpha_word_frac,
                   stop_distinct
            FROM f
        )
        SELECT doc_id, word_count, mean_word_len, symbol_ratio,
               alpha_word_frac, stop_distinct,
               (word_count >= 20 AND word_count <= 100000)
                   AS flag_word_count,
               (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
                   AS flag_mean_word_len,
               (symbol_ratio < 0.1) AS flag_symbol_ratio,
               (alpha_word_frac > 0.8) AS flag_alpha_words,
               (stop_distinct >= 2) AS flag_stopwords,
               ((word_count >= 20 AND word_count <= 100000)
                AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
                AND (symbol_ratio < 0.1)
                AND (alpha_word_frac > 0.8)
                AND (stop_distinct >= 2)) AS keep
        FROM g
    """
    # Same md5-first-8-hex bucketing as the mixture sampler oracles;
    # Laplace-smoothed over 1024 hashed buckets, natural log.
    oracles["dsir_weights_en"] = """
        WITH toks AS (
            SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\\s+') AS t
            FROM documents
        ), occ AS (
            SELECT doc_id,
                   CAST(CAST(concat('0x', substr(md5(
                            t[i] || ' ' || t[i + 1]), 1, 8))
                        AS UBIGINT) % 1024 AS BIGINT) AS bucket
            FROM toks, UNNEST(range(1, len(t))) AS r(i)
        ), tocc AS (
            SELECT o.bucket FROM occ o
            JOIN documents d USING (doc_id) WHERE d.lang = 'en'
        ), tc AS (SELECT bucket, count(*) AS n FROM tocc GROUP BY 1),
        tt AS (SELECT count(*) AS tot FROM tocc),
        bc AS (SELECT bucket, count(*) AS n FROM occ GROUP BY 1),
        bt AS (SELECT count(*) AS tot FROM occ),
        scored AS (
            SELECT o.doc_id,
                   ln((COALESCE(tc.n, 0) + 1)
                      / CAST(tt.tot + 1024 AS DOUBLE))
                   - ln((COALESCE(bc.n, 0) + 1)
                        / CAST(bt.tot + 1024 AS DOUBLE)) AS lr
            FROM occ o LEFT JOIN tc USING (bucket)
            LEFT JOIN bc USING (bucket), tt, bt
        ), agg AS (
            SELECT doc_id, round(sum(lr), 6) AS dsir_logweight,
                   count(*) AS n_features
            FROM scored GROUP BY 1
        )
        SELECT d.doc_id,
               COALESCE(agg.dsir_logweight, 0.0) AS dsir_logweight,
               CAST(COALESCE(agg.n_features, 0) AS BIGINT) AS n_features
        FROM (SELECT DISTINCT doc_id FROM documents) d
        LEFT JOIN agg USING (doc_id)
    """
    # exact-regime MG (vocab < counters): counts exact, slack 0
    oracles["heavy_hitter_terms"] = """
        WITH tok AS (
            SELECT unnest(string_split_regex(trim(lower(text)), '\\s+'))
                AS w
            FROM documents
        )
        SELECT w AS key, count(*) AS est_count,
               CAST(0 AS BIGINT) AS max_undercount
        FROM tok WHERE length(w) > 0
        GROUP BY 1
        ORDER BY est_count DESC, key ASC
        LIMIT 20
    """
    # ntile ordering pinned (avg_logprob DESC, doc_id ASC) in BOTH
    # engines -> identical equal-frequency tiers
    oracles["ccnet_buckets"] = f"""
        WITH lp AS ({oracles["bigram_logprob"]}),
        j AS (
            SELECT lp.doc_id, d.lang, lp.avg_logprob,
                   ntile(3) OVER (PARTITION BY d.lang
                       ORDER BY lp.avg_logprob DESC, lp.doc_id ASC)
                       AS tile
            FROM lp JOIN documents d USING (doc_id)
        )
        SELECT doc_id, lang, avg_logprob,
               CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                    ELSE 'tail' END AS ppl_bucket
        FROM j
    """
