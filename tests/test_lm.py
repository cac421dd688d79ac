"""Bigram-LM scoring and OOV-rate operators (operators/lm.py)."""

from __future__ import annotations

import math

from pyspark.sql import Row
from pyspark.sql import functions as F

from dotnetvectorsearch_spark.operators.lm import bigram_logprob, oov_rate
from dotnetvectorsearch_spark.sources.io import load_table


def test_bigram_logprob_exact_small_corpus(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "a b d")],
        "id long, text string")
    rows = {r.id: r for r in bigram_logprob(df, "id", "text").collect()}
    # corpus counts: "a b"=3, "b c"=2, "b d"=1; left contexts a=3, b=3
    exp_12 = round((math.log(3 / 3) + math.log(2 / 3)) / 2, 6)
    exp_3 = round((math.log(3 / 3) + math.log(1 / 3)) / 2, 6)
    assert rows[1].n_bigrams == 2
    assert abs(rows[1].avg_logprob - exp_12) <= 1e-6
    assert rows[2].avg_logprob == rows[1].avg_logprob
    assert abs(rows[3].avg_logprob - exp_3) <= 1e-6


def test_bigram_logprob_short_docs_excluded_and_bounded(spark):
    df = spark.createDataFrame(
        [(1, "solo"), (2, ""), (3, "  "), (4, "x y")],
        "id long, text string")
    out = {r.id: r for r in bigram_logprob(df, "id", "text").collect()}
    assert set(out) == {4}            # <2 tokens -> no score row
    assert out[4].avg_logprob == 0.0  # the only 'x _' transition


def test_bigram_logprob_corpus_is_nonpositive(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = bigram_logprob(docs)
    assert out.filter(F.col("avg_logprob") > 1e-9).count() == 0
    assert out.filter(F.col("n_bigrams") < 1).count() == 0


def test_oov_rate_full_vocab_covers_everything(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma beta")],
        "id long, text string")
    out = {r.id: r for r in
           oov_rate(df, vocab_size=100, id_col="id", text_col="text")
           .collect()}
    assert out[1].oov == 0.0 and out[2].oov == 0.0
    assert out[2].n_tokens == 3


def test_oov_rate_tiny_vocab_flags_rare_terms(spark):
    # beta occurs 3x -> the vocab_size=1 vocabulary is exactly {beta}
    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma beta")],
        "id long, text string")
    out = {r.id: r for r in
           oov_rate(df, vocab_size=1, id_col="id", text_col="text")
           .collect()}
    assert abs(out[1].oov - 0.5) <= 1e-6        # alpha OOV, beta in-vocab
    assert abs(out[2].oov - (1 / 3)) <= 1e-6    # gamma OOV


def test_char_pair_counts_exact(spark):
    from dotnetvectorsearch_spark.operators.lm import char_pair_counts
    df = spark.createDataFrame([(1, "aab ab"), (2, "ab")],
                               "id long, text string")
    got = {(r.pair, r.n) for r in char_pair_counts(df, "text").collect()}
    # "aab" -> aa, ab ; "ab" -> ab ; "ab" -> ab
    assert got == {("aa", 1), ("ab", 3)}


def test_char_pair_counts_topn_cut_deterministic(spark, sf_dir):
    from dotnetvectorsearch_spark.operators.lm import char_pair_counts
    docs = load_table(spark, sf_dir, "documents")
    top5 = char_pair_counts(docs, top_n=5).collect()
    top10 = char_pair_counts(docs, top_n=10).collect()
    assert [(r.pair, r.n) for r in top5] == [(r.pair, r.n)
                                            for r in top10[:5]]
    ns = [r.n for r in top10]
    assert ns == sorted(ns, reverse=True)


def test_bigram_lm_logprob_smoothing_and_fallbacks(spark):
    """Unseen bigrams must score finite (Laplace), and a fully-unseen
    left context must fall back to the uniform 1/V."""
    import math
    from dotnetvectorsearch_spark.operators.lm import bigram_lm_logprob
    lm = spark.createDataFrame([Row(doc_id=1, text="a b a b")])
    # LM corpus: V=2 tokens {a,b}; c("a b")=2, c("b a")=1; c(a .)=2, c(b .)=1
    score = spark.createDataFrame([
        Row(doc_id=10, text="a b"),     # seen: ln((2+1)/(2+2)) = ln(3/4)
        Row(doc_id=11, text="x y"),     # both tokens unseen: ln(1/(0+2)) wait
    ])
    got = {r.doc_id: r for r in
           bigram_lm_logprob(score, lm, alpha=1.0,
                             out_col="lp").collect()}
    assert abs(got[10].lp - math.log(3 / 4)) < 1e-9
    # unseen w1: (0+1)/(0+1*2) = 1/2 — the uniform fallback
    assert abs(got[11].lp - math.log(1 / 2)) < 1e-9
    assert got[10].n_bigrams == 1


def test_moore_lewis_ranks_target_like_docs_higher(spark):
    from dotnetvectorsearch_spark.operators.lm import moore_lewis_scores
    target = spark.createDataFrame([
        Row(doc_id=i, text="alpha beta gamma alpha beta") for i in range(3)])
    background = spark.createDataFrame(
        [Row(doc_id=100 + i, text="delta epsilon zeta delta epsilon")
         for i in range(3)])
    general = target.union(background)
    cands = spark.createDataFrame([
        Row(doc_id=500, text="alpha beta gamma"),      # target-like
        Row(doc_id=501, text="delta epsilon zeta"),    # background-like
    ])
    got = {r.doc_id: r.ml_score
           for r in moore_lewis_scores(cands, target, general).collect()}
    assert got[500] > 0 > got[501]


def _bpe_reference(word_counts, n_merges):
    """Pure-Python BPE trainer (Sennrich'16 pseudocode): the correctness
    twin for the distributed bpe_train."""
    syms = {w: list(w) for w in word_counts}
    rules = []
    for rank in range(n_merges):
        counts = {}
        for w, cnt in word_counts.items():
            s = syms[w]
            for a, b in zip(s, s[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + cnt
        if not counts:
            break
        # max count, ties broken (left, right) ascending
        best = min(counts, key=lambda p: (-counts[p], p[0], p[1]))
        rules.append((rank, best[0], best[1], best[0] + best[1]))
        for w in syms:
            s, out = syms[w], []
            for x in s:
                if out and out[-1] == best[0] and x == best[1]:
                    out[-1] = best[0] + best[1]
                else:
                    out.append(x)
            syms[w] = out
    return rules, syms


def test_bpe_train_matches_python_reference(spark):
    from dotnetvectorsearch_spark.operators.lm import bpe_train
    docs = spark.createDataFrame([
        Row(doc_id=1, text="low low low low low lower lower"),
        Row(doc_id=2, text="newest newest newest widest widest"),
        Row(doc_id=3, text="lowest newest low"),
    ])
    # word counts exactly as the operator derives them
    wc = {}
    for t in [r.text for r in docs.collect()]:
        for w in t.split():
            wc[w] = wc.get(w, 0) + 1
    expect, _ = _bpe_reference(wc, 6)
    got = [(r.rank, r.left, r.right, r.merged)
           for r in bpe_train(docs, n_merges=6)
           .orderBy("rank").collect()]
    assert got == expect


def test_bpe_train_overlapping_run_is_greedy_left_to_right(spark):
    from dotnetvectorsearch_spark.operators.lm import bpe_train
    # "aaaa" x3: first merge must be (a,a); greedy rewrite gives
    # [aa, aa], so the SECOND merge must be (aa, aa) — the classic
    # overlap case where a lazy rewrite would disagree
    docs = spark.createDataFrame([Row(doc_id=1, text="aaaa aaaa aaaa")])
    got = [(r.left, r.right) for r in
           bpe_train(docs, n_merges=2).orderBy("rank").collect()]
    assert got == [("a", "a"), ("aa", "aa")]


def test_bpe_segment_applies_rules_in_order(spark):
    from dotnetvectorsearch_spark.operators.lm import (
        bpe_segment, bpe_train)
    docs = spark.createDataFrame([
        Row(doc_id=1, text="low low low low low lower lower"),
        Row(doc_id=2, text="newest newest newest widest widest"),
        Row(doc_id=3, text="lowest newest low"),
    ])
    rules = [(r.left, r.right) for r in
             bpe_train(docs, n_merges=6).orderBy("rank").collect()]
    wc = {}
    for t in [r.text for r in docs.collect()]:
        for w in t.split():
            wc[w] = wc.get(w, 0) + 1
    _, ref_syms = _bpe_reference(wc, 6)
    got = {(r.doc_id, r.token): list(r.pieces) for r in
           bpe_segment(docs, rules).collect()}
    for (_doc, token), pieces in got.items():
        assert pieces == ref_syms[token]
    assert ("".join(got[(1, "low")])) == "low"   # lossless


def test_bpe_segment_arrow_matches_expression_twin(spark, sf_dir):
    """The Arrow-batched encoder must produce EXACTLY the expression
    fold's output on trained rules — same pieces per token occurrence,
    fixture corpus and real corpus both."""
    from dotnetvectorsearch_spark.operators.lm import (
        bpe_segment, bpe_segment_arrow, bpe_train)
    fixture = spark.createDataFrame([
        Row(doc_id=1, text="low low low low low lower lower"),
        Row(doc_id=2, text="newest newest newest widest widest"),
        Row(doc_id=3, text="lowest newest low aaaa aaaa"),
    ])
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    for corpus in (fixture, docs):
        rules = [(r.left, r.right) for r in
                 bpe_train(corpus, n_merges=8).orderBy("rank").collect()]
        a = sorted((r.doc_id, r.token, tuple(r.pieces)) for r in
                   bpe_segment(corpus, rules).collect())
        b = sorted((r.doc_id, r.token, tuple(r.pieces)) for r in
                   bpe_segment_arrow(corpus, rules).collect())
        assert a == b and len(a) > 0


def test_dsir_logweights_match_python_reference(spark):
    import hashlib
    import math

    from dotnetvectorsearch_spark.operators.lm import dsir_logweights
    docs = [
        (1, "the cat sat on the mat", "en"),
        (2, "el gato se sienta", "es"),
        (3, "the dog ran to the park", "en"),
        (4, "le chien court vite", "fr"),
        (5, "one", "en"),                      # < 2 tokens -> weight 0
        (6, "the the the cat cat", "en"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    target = df.filter("lang = 'en'")
    n_buckets = 64

    def bigrams(t):
        w = t.strip().lower().split()
        return [f"{a} {b}" for a, b in zip(w, w[1:])]

    def bucket(bg):
        return int(hashlib.md5(bg.encode()).hexdigest()[:8], 16) % n_buckets

    def counts(rows):
        c = {}
        for _id, t, _l in rows:
            for bg in bigrams(t):
                b = bucket(bg)
                c[b] = c.get(b, 0) + 1
        return c, sum(c.values())

    tc, tt = counts([d for d in docs if d[2] == "en"])
    bc, bt = counts(docs)
    expect = {}
    for _id, t, _l in docs:
        lw, n = 0.0, 0
        for bg in bigrams(t):
            b = bucket(bg)
            lt = math.log((tc.get(b, 0) + 1) / (tt + n_buckets))
            lb = math.log((bc.get(b, 0) + 1) / (bt + n_buckets))
            lw += lt - lb
            n += 1
        expect[_id] = (round(lw, 6) if n else 0.0, n)
    got = {r.doc_id: (r.dsir_logweight, r.n_features) for r in
           dsir_logweights(df, target, df, n_buckets=n_buckets).collect()}
    assert set(got) == set(expect)
    for k in expect:
        assert got[k][1] == expect[k][1], k
        assert abs(got[k][0] - expect[k][0]) < 1e-6, k
    # target-looking docs must outrank off-domain ones
    assert got[1][0] > got[2][0] and got[3][0] > got[4][0]
    assert got[5] == (0.0, 0)


def test_dsir_target_pred_fast_path_matches_explicit_frames(spark):
    from pyspark.sql import functions as F

    from dotnetvectorsearch_spark.operators.lm import dsir_logweights
    df = spark.createDataFrame([
        (1, "the cat sat on the mat", "en"),
        (2, "el gato se sienta", "es"),
        (3, "the dog ran to the park", "en"),
        (4, "le chien court vite", "fr"),
        (5, "one", "en"),
    ], "doc_id long, text string, lang string")
    slow = dsir_logweights(df, df.filter("lang = 'en'"), df,
                           n_buckets=64)
    fast = dsir_logweights(df, n_buckets=64,
                           target_pred=F.col("lang") == "en")
    a = sorted(map(tuple, slow.collect()))
    b = sorted(map(tuple, fast.collect()))
    assert a == b
    import pytest
    with pytest.raises(ValueError):
        dsir_logweights(df, df, df, target_pred=F.col("lang") == "en")
    with pytest.raises(ValueError):
        dsir_logweights(df)


def test_bpe_train_distributed_path_matches_driver_fast_path(
        spark, force_distributed):
    from dotnetvectorsearch_spark.operators.lm import bpe_train
    docs = spark.createDataFrame([
        Row(doc_id=1, text="low low low low low lower lower"),
        Row(doc_id=2, text="newest newest newest widest widest"),
        Row(doc_id=3, text="lowest newest low aaaa aaaa"),
    ])
    fast = [(r.rank, r.left, r.right, r.merged) for r in
            bpe_train(docs, n_merges=6).orderBy("rank").collect()]
    with force_distributed():
        dist = [(r.rank, r.left, r.right, r.merged) for r in
                bpe_train(docs, n_merges=6).orderBy("rank").collect()]
    assert fast == dist and len(fast) == 6


def test_perplexity_buckets_partition_by_lang_and_order(spark):
    from dotnetvectorsearch_spark.operators.lm import (
        bigram_logprob, perplexity_buckets)
    docs = spark.createDataFrame(
        [(i, f"w{i} " * 3 + "the cat", "en" if i < 6 else "es")
         for i in range(9)], "doc_id long, text string, lang string")
    out = perplexity_buckets(docs, n_buckets=3).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r)
    lp = {r.doc_id: r.avg_logprob
          for r in bigram_logprob(docs).collect()}
    for lang, rows in by_lang.items():
        rows.sort(key=lambda r: (-r.avg_logprob, r.doc_id))
        n = len(rows)
        for i, r in enumerate(rows):
            expect = ("head", "middle", "tail")[min(i * 3 // n, 2)] \
                if n % 3 == 0 else None
            if expect:                     # exact thirds only
                assert r.ppl_bucket == expect, (lang, r)
            assert abs(lp[r.doc_id] - r.avg_logprob) < 1e-9
    import pytest
    with pytest.raises(ValueError):
        perplexity_buckets(docs, n_buckets=2)
