"""Dedup-operator tests: exact, MinHash-LSH, SimHash, Jaccard, embedding."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dotnetvectorsearch_spark import caching, localdf
from dotnetvectorsearch_spark.caching import SessionMemo, input_key
from dotnetvectorsearch_spark.operators import contamination as C
from dotnetvectorsearch_spark.operators import dedup as D
from dotnetvectorsearch_spark.operators import graph as G
from dotnetvectorsearch_spark.operators import neardup as N
from dotnetvectorsearch_spark.sources.io import load_table
from dotnetvectorsearch_spark.streaming.ingest import stream_neardup_dedup


@pytest.fixture(scope="module")
def dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    near = "the quick brown fox jumps over the lazy cat again and again"
    far = "completely different words describing some other topic entirely ok"
    return spark.createDataFrame([
        Row(doc_id=1, text=base),
        Row(doc_id=2, text=base),                      # exact dup of 1
        Row(doc_id=3, text="  " + base.upper() + " "),  # normalized dup of 1
        Row(doc_id=4, text=near),                      # near dup of 1
        Row(doc_id=5, text=far),
    ])


def test_exact_dedup_keeps_first(spark, dup_docs):
    kept = sorted(r.doc_id for r in D.exact_dedup(dup_docs).collect())
    # 2 and 3 collapse into 1 (case/whitespace-normalized fingerprint)
    assert kept == [1, 4, 5]


def test_jaccard_pairs_finds_near_dup(spark, dup_docs):
    pairs = N.jaccard_pairs(dup_docs, threshold=0.3).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in got      # identical
    assert (1, 4) in got      # near dup
    assert not any(5 in p for p in got)
    exact = [r for r in pairs if (r.id_a, r.id_b) == (1, 2)]
    assert exact[0].jaccard == 1.0


def test_minhash_dedup_pairs(spark, dup_docs):
    # 16 bands x 2 rows: P(candidate) ~= 1-(1-J^2)^16 ~= 0.996 at J=0.54
    pairs = N.minhash_dedup_pairs(dup_docs, num_hashes=32, bands=16,
                                  threshold=0.3).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in got
    assert (1, 4) in got
    assert not any(5 in p for p in got)


def test_verify_jaccard_matches_python_jaccard(spark, dup_docs):
    """verify_jaccard scores every candidate pair with the exact Jaccard
    of its word_shingles sets; at threshold 0.0 zero-overlap candidates
    come back with jaccard 0.0."""
    from dotnetvectorsearch_spark.functions.text import word_shingles
    sets = {r.doc_id: set(r.sh) for r in dup_docs.select(
        "doc_id", word_shingles("text", 3).alias("sh")).collect()}
    cands = spark.createDataFrame(
        [(a, b) for a in sets for b in sets if a < b], "id_a long, id_b long")
    want = {(a, b): round(len(sets[a] & sets[b]) / len(sets[a] | sets[b]), 6)
            for a, b in cands.collect()}
    assert want[(1, 5)] == 0.0                  # non-vacuous zero overlap
    for thr in (0.3, 0.0):
        got = {(r.id_a, r.id_b): r.jaccard
               for r in N.verify_jaccard(cands, dup_docs,
                                         threshold=thr).collect()}
        assert got == {p: j for p, j in want.items() if j >= thr}


def test_minhash_signature_shape_and_determinism(spark, dup_docs):
    sigs = N.minhash_signatures(dup_docs, num_hashes=16).collect()
    by_id = {r.doc_id: list(r.minhash) for r in sigs}
    assert len(by_id[1]) == 16
    assert by_id[1] == by_id[2]          # identical text -> identical sig
    overlap_near = sum(a == b for a, b in zip(by_id[1], by_id[4]))
    overlap_far = sum(a == b for a, b in zip(by_id[1], by_id[5]))
    assert overlap_near > overlap_far    # sig agreement tracks jaccard


def test_simhash_near_dup(spark, dup_docs):
    pairs = N.simhash_candidate_pairs(dup_docs, max_hamming=8).collect()
    got = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert got[(1, 2)] == 0              # identical text -> identical sig
    assert (1, 4) in got
    assert not any(5 in p for p in got)


def test_embedding_neardup_blocked(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = N.embedding_neardup_pairs(emb, block_col="label", threshold=0.3)
    rows = pairs.collect()
    assert all(r.cosine >= 0.3 for r in rows)
    assert all(r.id_a < r.id_b for r in rows)


def test_lsh_bucket_cap_drops_megabuckets(spark, monkeypatch):
    # 30 identical docs -> one bucket of 30; a cap of 10 must drop all
    # pairs, for the MinHash bands and the SimHash chunks alike. Both
    # caps are read at call time; the defaults recover every pair.
    docs = spark.createDataFrame(
        [Row(doc_id=i, text="same same same same text here") for i in range(30)])
    sigs = N.minhash_signatures(docs, num_hashes=16)
    wide = N.lsh_candidate_pairs(sigs, bands=4, rows_per_band=4)
    assert wide.count() == 30 * 29 // 2
    assert N.simhash_candidate_pairs(docs).count() == 30 * 29 // 2
    monkeypatch.setattr(N, "LSH_MAX_BUCKET_SIZE", 10)
    monkeypatch.setattr(N, "SIMHASH_MAX_BUCKET_SIZE", 10)
    capped = N.lsh_candidate_pairs(sigs, bands=4, rows_per_band=4)
    assert capped.count() == 0
    assert N.simhash_candidate_pairs(docs).count() == 0


def test_exact_dedup_incremental_against_corpus(spark):
    corpus = spark.createDataFrame([
        Row(doc_id=1, text="already known document"),
        Row(doc_id=2, text="another known one"),
    ])
    batch = spark.createDataFrame([
        Row(doc_id=10, text="Already   KNOWN document"),   # norm-dup of 1
        Row(doc_id=11, text="brand new content"),
        Row(doc_id=12, text="brand new content"),          # in-batch dup
        Row(doc_id=13, text="other new content"),
    ])
    kept = sorted(r.doc_id for r in
                  D.exact_dedup_incremental(batch, corpus).collect())
    assert kept == [11, 13]


def test_winnow_fingerprints_shared_substring(spark):
    # Docs sharing a long substring must share >= 1 winnow fingerprint
    # (guarantee: any shared run of length >= k+w-1 = 12 chars).
    shared = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame([
        Row(doc_id=1, text=f"PREFIX AAA {shared}"),
        Row(doc_id=2, text=f"{shared} SUFFIX ZZZ BBB"),
        Row(doc_id=3, text="completely different content with zero overlap"),
    ])
    fps = D.winnow_fingerprints(docs, k=5, w=8).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2]          # shared substring -> shared fp
    assert not (by_doc[1] & by_doc[3])


def test_winnow_fingerprints_position_invariant(spark):
    # Whole-doc md5 breaks on any edit; winnowing keeps interior fps.
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame([
        Row(doc_id=1, text=base),
        Row(doc_id=2, text="X " + base),
    ])
    fps = D.winnow_fingerprints(docs, k=5, w=8).collect()
    a = {r.fp for r in fps if r.doc_id == 1}
    b = {r.fp for r in fps if r.doc_id == 2}
    assert len(a & b) / len(a | b) > 0.5


def test_winnow_portable_twin_same_guarantees(spark):
    # The md5 portable twin must give the same structural guarantees as
    # the xxhash64 engine path (fp VALUES differ by construction).
    shared = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame([
        Row(doc_id=1, text=f"PREFIX AAA {shared}"),
        Row(doc_id=2, text=f"{shared} SUFFIX ZZZ BBB"),
        Row(doc_id=3, text="completely different content with zero overlap"),
    ])
    fps = D.winnow_fingerprints(docs, k=5, w=8, portable=True).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2]
    assert not (by_doc[1] & by_doc[3])
    # engine path emits longs, portable path emits md5 hex strings
    fast = D.winnow_fingerprints(docs, k=5, w=8)
    assert dict(fast.dtypes)["fp"] == "bigint"
    assert dict(D.winnow_fingerprints(docs, k=5, w=8, portable=True)
                .dtypes)["fp"] == "string"


def test_dup_span_stats_flags_shared_spans_only(spark):
    # Docs 1 and 2 share an exact 12-token run -> three 10-gram spans
    # each are duplicated; doc 3 shares nothing -> dup_frac 0; doc 4 is
    # too short for any span.
    shared = "one two three four five six seven eight nine ten eleven twelve"
    docs = spark.createDataFrame([
        Row(doc_id=1, text=f"{shared} tail_a_1 tail_a_2"),
        Row(doc_id=2, text=f"head_b {shared}"),
        Row(doc_id=3, text="totally different words with no overlap at all "
                           "spanning more than ten tokens here yes"),
        Row(doc_id=4, text="short doc"),
    ])
    out = {r.doc_id: r for r in
           D.dup_span_stats(docs, n=10, min_docs=2).collect()}
    assert len(out) == 4
    # doc 1: 14 tokens -> 5 spans, of which the 3 inside `shared` repeat
    assert out[1].n_spans == 5 and out[1].n_dup_spans == 3
    assert out[1].dup_frac == pytest.approx(0.6)
    # doc 2: 13 tokens -> 4 spans, the 3 `shared` ones repeat
    assert out[2].n_spans == 4 and out[2].n_dup_spans == 3
    assert out[3].n_dup_spans == 0 and out[3].dup_frac == 0.0
    assert out[4].n_spans == 0 and out[4].dup_frac == 0.0


def test_cross_corpus_contamination(spark):
    train = spark.createDataFrame([
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog today"),
        Row(doc_id=2, text="unrelated training material about databases"),
    ])
    test = spark.createDataFrame([
        Row(doc_id=10, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=11, text="completely novel evaluation text nothing shared"),
    ])
    out = C.cross_corpus_contamination(train, test, shingle_n=3,
                                       min_overlap=0.5)
    rows = {(r.test_id, r.train_id): r.overlap for r in out.collect()}
    assert (10, 1) in rows and rows[(10, 1)] >= 0.9   # contained prompt
    assert not any(t == 11 for (t, _) in rows)        # clean doc absent


def test_connected_components_chain_and_clique(spark):
    # A 10-node chain (worst case for pure neighbour propagation: diameter
    # 9 must converge via pointer jumping), a 4-clique, and an isolated
    # pair — three components, labelled by their min ids.
    edges = ([(i, i + 1) for i in range(9)]
             + [(a, b) for a in range(20, 24) for b in range(a + 1, 24)]
             + [(30, 31)])
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    comp = {r.node: r.component
            for r in G.connected_components(df).collect()}
    assert all(comp[i] == 0 for i in range(10))
    assert all(comp[i] == 20 for i in range(20, 24))
    assert comp[30] == 30 and comp[31] == 30


def test_connected_components_matches_union_find(spark):
    # Oracle: driver-side union-find on a deterministic random-ish graph.
    edges = [((7 * i) % 40, (11 * i + 3) % 40) for i in range(30)]
    edges = [e for e in edges if e[0] != e[1]]
    parent = list(range(40))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    nodes = sorted({n for e in edges for n in e})
    expected = {}
    roots = {}
    for n in nodes:
        r = find(n)
        roots.setdefault(r, n)          # min node per root (nodes sorted)
        expected[n] = roots[r]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.node: r.component for r in G.connected_components(df).collect()}
    assert got == expected


def test_connected_components_empty_edges(spark):
    # A clean corpus has zero candidate pairs — both CC paths must
    # return an empty, correctly-typed frame and dedup_clusters must
    # give every doc its own cluster.
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert G.connected_components(empty).count() == 0
    assert dict(G.connected_components(empty).dtypes) == {
        "node": "bigint", "component": "bigint"}
    docs = spark.createDataFrame([(1,), (2,)], "doc_id long")
    cl = {r.doc_id: r.cluster_id
          for r in G.dedup_clusters(docs, empty).collect()}
    assert cl == {1: 1, 2: 2}


def test_connected_components_paths_agree(spark, force_distributed):
    # The bounded driver fast path and the distributed iterative loop
    # must produce identical components; force_distributed runs the
    # distributed plan on the same graph.
    edges = ([(i, i + 1) for i in range(9)]
             + [(a, b) for a in range(20, 24) for b in range(a + 1, 24)]
             + [(30, 31), (31, 32), (5, 30)])
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = {r.node: r.component
            for r in G.connected_components(df).collect()}
    with force_distributed():
        dist = {r.node: r.component
                for r in G.connected_components(df).collect()}
    assert fast == dist


def test_dedup_clusters_singletons_and_canonical(spark):
    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 9]],
                                 "doc_id long")
    pairs = spark.createDataFrame([(2, 3)], "id_a long, id_b long")
    cl = {r.doc_id: r.cluster_id
          for r in G.dedup_clusters(docs, pairs).collect()}
    assert cl == {1: 1, 2: 2, 3: 2, 9: 9}
    # canonical filter keeps exactly one doc per cluster
    keep = [d for d, c in cl.items() if d == c]
    assert sorted(keep) == [1, 2, 9]


def test_semantic_contamination_blocked(spark):
    train = spark.createDataFrame([
        Row(vec_id=1, embedding=[1.0, 0.0], label=0),
        Row(vec_id=2, embedding=[0.0, 1.0], label=1),
    ])
    test = spark.createDataFrame([
        Row(vec_id=10, embedding=[0.999, 0.04], label=0),   # leaked para
        Row(vec_id=11, embedding=[0.0, 1.0], label=0),      # same block, far
        Row(vec_id=12, embedding=[1.0, 0.0], label=1),      # other block, far
    ])
    got = {(r.test_id, r.train_id): r.cosine
           for r in C.semantic_contamination(
               train, test, block_col="label", threshold=0.9).collect()}
    assert set(got) == {(10, 1)}
    assert got[(10, 1)] > 0.99


def test_minhash_portable_pairs_identical_and_disjoint(spark):
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep green forest tonight")
    docs = spark.createDataFrame([
        Row(doc_id=1, text=base),
        Row(doc_id=2, text=base),                   # identical: all bands
        Row(doc_id=3, text="zx qv wk pl mn bv cx dz ef gh ij kl mo pq rs"),
    ])
    pairs = {(r.id_a, r.id_b)
             for r in N.minhash_pairs_portable(docs).collect()}
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_simhash_portable_pairs_identical_and_disjoint(spark):
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep green forest tonight")
    docs = spark.createDataFrame([
        Row(doc_id=1, text=base),
        Row(doc_id=2, text=base),                   # identical: hamming 0
        Row(doc_id=3, text="zx qv wk pl mn bv cx dz ef gh ij kl mo pq rs"),
    ])
    rows = N.simhash_pairs_portable(docs).collect()
    pairs = {(r.id_a, r.id_b): r.hamming for r in rows}
    assert pairs.get((1, 2)) == 0                   # exact dup, hamming 0
    assert not any(3 in p for p in pairs)


def test_simhash_portable_near_dup_within_hamming(spark):
    """A small perturbation moves few signature bits; an unrelated doc
    moves many — the twin discriminates exactly like the production
    path, with a portable hash family."""
    base = " ".join(f"w{i}" for i in range(60))
    near = " ".join(f"w{i}" if i != 30 else "CHANGED" for i in range(60))
    docs = spark.createDataFrame([
        Row(doc_id=1, text=base),
        Row(doc_id=2, text=near),
        Row(doc_id=3, text=" ".join(f"z{i}" for i in range(60))),
    ])
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in N.simhash_pairs_portable(docs, max_hamming=3)
             .collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] <= 3
    assert not any(3 in p for p in pairs)


def test_dedup_clusters_lsh_groups_dups_same_as_exact(spark, dup_docs):
    """The LSH-edge clustering twin must agree with the exact-jaccard
    clustering on clear-cut data: dups clustered together under the
    min id, unrelated docs singleton (SCALING.md pairing contract)."""
    pairs = N.minhash_pairs_portable(dup_docs, num_hashes=16, bands=4)
    got = {r.doc_id: r.cluster_id
           for r in G.dedup_clusters(dup_docs, pairs).collect()}
    assert got[1] == got[2] == 1        # exact dups share the min id
    assert got[5] == 5                  # unrelated -> singleton


def test_neardup_filter_incremental_flags_history_dups(spark, dup_docs):
    """Batch docs near-identical to STORE docs must flag is_neardup
    with a high signature estimate; novel docs must not. The store is
    never re-shingled — only the K stored hashes are compared."""
    store_docs = dup_docs.filter(F.col("doc_id").isin(1, 5))
    batch_docs = dup_docs.filter(F.col("doc_id").isin(2, 3))  # 2 == 1
    store = N.minhash_signatures_portable(store_docs)
    batch = N.minhash_signatures_portable(batch_docs)
    got = {r.doc_id: (r.max_est, r.is_neardup)
           for r in N.neardup_filter_incremental(batch, store).collect()}
    assert got[2] == (1.0, True)        # exact copy of stored doc 1
    est3, flag3 = got[3]                # unrelated to 1 and 5
    assert est3 < 0.5 and flag3 is False


def test_neardup_filter_incremental_empty_store(spark, dup_docs):
    batch = N.minhash_signatures_portable(dup_docs)
    store = batch.filter(F.lit(False))
    got = N.neardup_filter_incremental(batch, store).collect()
    assert all(r.max_est == 0.0 and not r.is_neardup for r in got)
    assert len(got) == dup_docs.count()


@pytest.mark.parametrize("call", [
    lambda d: N.neardup_filter_incremental(
        N.minhash_signatures_portable(d), N.minhash_signatures_portable(d),
        num_hashes=16, bands=5),
    lambda d: N.minhash_pairs_portable(d, num_hashes=16, bands=5),
    lambda d: N.simhash_pairs_portable(d, bits=32, chunks=5),
    lambda d: N.simhash_pairs_portable(d, bits=30, chunks=3),
    lambda d: stream_neardup_dedup(d, "out", "store", "ckpt",
                                   num_hashes=16, bands=5),
], ids=["neardup", "minhash_portable", "simhash_chunks", "simhash_hex",
        "streaming"])
def test_band_shapes_that_do_not_split_raise(spark, dup_docs, call):
    """16 hashes in 5 bands would band only h0..h14; the check must be
    a ValueError, which ``python -O`` keeps (it strips asserts)."""
    with pytest.raises(ValueError):
        call(dup_docs)


def test_production_lsh_pairs_match_python_banding(spark, sf_dir):
    """The rows-only minhash_pairs / simhash_pairs outputs at sf0.01
    equal a pure-Python banding of the same signatures: SimHash pairs
    with popcount(xor) <= 3, and MinHash pairs sharing an exact 4-value
    slice in any of 16 bands (buckets of 2..200 docs) whose exact
    shingle Jaccard is >= 0.5."""
    from itertools import combinations
    from pathlib import Path

    from dotnetvectorsearch_spark.functions.text import word_shingles
    docs = load_table(spark, str(Path(sf_dir).parent / "sf0.01"),
                      "documents")
    sig = {r.doc_id: r.sig for r in N.simhash_signatures(docs).collect()}
    want = {p for p in combinations(sorted(sig), 2)
            if bin((sig[p[0]] ^ sig[p[1]]) % (1 << 64)).count("1") <= 3}
    got = {(r.id_a, r.id_b) for r in N.simhash_candidate_pairs(
        docs, "doc_id", "text", max_hamming=3).collect()}
    assert len(want) == 17 and got == want

    mh = {r.doc_id: r.minhash for r in
          N.minhash_signatures(docs, num_hashes=64).collect()}
    buckets: dict[tuple, list] = {}
    for d in sorted(mh):
        for b in range(16):
            buckets.setdefault((b, tuple(mh[d][4 * b:4 * b + 4])),
                               []).append(d)
    cands = {p for ids in buckets.values() if 2 <= len(ids) <= 200
             for p in combinations(ids, 2)}
    sh = {r.doc_id: set(r.sh or ()) for r in docs.select(
        "doc_id", word_shingles("text", 3).alias("sh")).collect()}
    want = {(a, b) for a, b in cands
            if len(sh[a] & sh[b]) >= 0.5 * len(sh[a] | sh[b])}
    got = {(r.id_a, r.id_b) for r in N.minhash_dedup_pairs(
        docs, "doc_id", "text", num_hashes=64, bands=16,
        threshold=0.5).collect()}
    assert len(want) == 25 and got == want


def test_ngram_novelty_unique_vs_duplicated(spark):
    from dotnetvectorsearch_spark.operators.neardup import ngram_novelty
    rows = [
        (1, "alpha bravo charlie delta echo"),
        (2, "alpha bravo charlie delta echo"),      # exact dup of 1
        (3, "zulu yankee xray whiskey victor"),     # fully original
        (4, "xx"),                                  # <3 tokens: no shingles
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in ngram_novelty(df).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].novelty == 0.0 and out[2].novelty == 0.0
    assert out[3].novelty == 1.0
    assert out[3].n_shingles == 3


def test_ngram_novelty_partial_overlap(spark):
    from dotnetvectorsearch_spark.operators.neardup import ngram_novelty
    rows = [
        (1, "a b c d"),       # shingles: "a b c", "b c d"
        (2, "a b c x"),       # shingles: "a b c", "b c x"
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.novelty for r in ngram_novelty(df).collect()}
    assert out == {1: 0.5, 2: 0.5}


def test_semantic_clusters_consistent_with_edges(spark, sf_dir):
    """Every thresholded kNN edge joins its endpoints into the same
    cluster; cluster ids are the min member; singletons label themselves."""
    import __spark_entry__ as entrymod
    out = entrymod.queries()["semantic_clusters"](spark, sf_dir)
    labels = {r.vec_id: r.cluster_id for r in out.collect()}
    assert all(c <= v for v, c in labels.items())
    from dotnetvectorsearch_spark.operators.search import knn_graph
    from dotnetvectorsearch_spark.sources.io import load_table
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding")
    g = knn_graph(emb, k=5, id_col="vec_id", round_digits=6)
    edges = [(r.vec_id, r.neighbor_id) for r in
             g.filter(F.col("similarity") >= 0.35).collect()]
    assert edges, "threshold should keep some edges at this SF"
    assert all(labels[a] == labels[b] for a, b in edges)
    # cluster id is an actual member of its cluster
    assert all(labels[c] == c for c in set(labels.values()))


# ---------------------------------------------------- round-3 additions


def test_unblocked_neardup_raises_past_bound(spark, dup_docs,
                                             monkeypatch):
    """block_col=None plans a cross product; past the counted bound the
    operator must raise with reroute advice, never silently plan it."""
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i), 1.0]) for i in range(20)])
    monkeypatch.setattr(N, "EMBEDDING_NEARDUP_MAX_UNBLOCKED_ROWS", 10)
    with pytest.raises(ValueError, match="block_col"):
        N.embedding_neardup_pairs(emb)
    # explicit opt-in still works
    out = N.embedding_neardup_pairs(emb, allow_unblocked=True)
    assert out.count() > 0


def test_unblocked_semantic_contamination_raises_past_bound(spark,
                                                            monkeypatch):
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[1.0, float(i)]) for i in range(20)])
    tr = emb.filter(F.col("vec_id") % 2 == 0)
    te = emb.filter(F.col("vec_id") % 2 == 1)
    monkeypatch.setattr(C, "SEMANTIC_CONTAMINATION_MAX_UNBLOCKED_PAIRS",
                        10)
    with pytest.raises(ValueError, match="block_col"):
        C.semantic_contamination(tr, te)
    assert C.semantic_contamination(
        tr, te, threshold=0.0, allow_unblocked=True).count() > 0


def test_connected_components_string_ids_take_distributed_path(spark):
    """The driver fast path would coerce ids to int64 (strings raise,
    floats truncate); non-integral ids must fall back to the distributed
    join loop, whose min-label contract only needs orderable ids."""
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("y", "x")], "id_a string, id_b string")
    comp = {r.node: r.component
            for r in G.connected_components(edges).collect()}
    assert comp == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_transient_caches_released_after_action(spark, dup_docs, sf_dir):
    """VERDICT r02 #8: token-scale operator caches must be releasable so
    a long-lived session doesn't accumulate them. After a query's action
    plus release_transient(), no MORE persisted RDDs remain than before
    the query ran."""
    from dotnetvectorsearch_spark.caching import release_transient
    from dotnetvectorsearch_spark.operators import lm as LM

    def persisted_ids() -> set:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    release_transient()  # start clean of other tests' leftovers
    # SET-based accounting: Spark's ContextCleaner sweeps GC'd stale
    # entries from other tests at arbitrary times, so global COUNTS
    # race — only the ids THIS test creates are deterministic.
    before = persisted_ids()
    D.dup_span_stats(dup_docs, n=3).count()
    N.minhash_dedup_pairs(dup_docs, num_hashes=16, bands=8,
                          threshold=0.3).count()
    LM.bigram_logprob(dup_docs).count()
    new = persisted_ids() - before
    assert new                       # the operator caches materialized
    released = release_transient()
    # grams, sh, occ... (the round-4 candidate/verify rewrite removed
    # the banded/pairs/uniq persists — fewer caches is the point)
    assert released >= 3
    assert not (persisted_ids() & new)   # every new cache is gone


def test_remove_duplicate_spans_keeps_first_occurrence(spark):
    docs = spark.createDataFrame([
        Row(doc_id=1, text="a b c d e f"),       # chunks: "a b c", "d e f"
        Row(doc_id=2, text="a b c x y z"),       # "a b c" dup -> removed
        Row(doc_id=3, text="a b c d e f"),       # both chunks dup -> drops
        Row(doc_id=4, text="p q r"),             # untouched
    ])
    out = {r.doc_id: r for r in
           D.remove_duplicate_spans(docs, chunk_tokens=3).collect()}
    assert out[1].text == "a b c d e f"
    assert (out[1].n_chunks, out[1].n_kept) == (2, 2)
    assert out[2].text == "x y z"
    assert (out[2].n_chunks, out[2].n_kept) == (2, 1)
    assert 3 not in out                # every chunk deleted -> doc drops
    assert out[4].text == "p q r"


def test_remove_duplicate_spans_partial_tail_chunk(spark):
    # 4 tokens at k=3 -> chunks "a b c" + "d"; the 1-token tail is a
    # chunk of its own and dedups independently
    docs = spark.createDataFrame([
        Row(doc_id=1, text="a b c d"),
        Row(doc_id=2, text="z z z d"),
    ])
    out = {r.doc_id: r for r in
           D.remove_duplicate_spans(docs, chunk_tokens=3).collect()}
    assert out[1].text == "a b c d"
    assert out[2].text == "z z z"      # tail "d" owned by doc 1
    assert (out[2].n_chunks, out[2].n_kept) == (2, 1)


def test_decontaminate_drops_flagged_train_docs(spark, dup_docs):
    test_set = spark.createDataFrame(
        [Row(doc_id=100, text="the quick brown fox jumps over")])
    survivors = sorted(
        r.doc_id for r in
        C.decontaminate(dup_docs, test_set, shingle_n=3,
                        min_overlap=0.5).collect())
    # docs 1, 2 contain the whole probe and 4 shares most of it; 3 is
    # the UPPERCASED dup — shingling is case-sensitive (same contract as
    # cross_corpus_contamination), so it survives along with the
    # unrelated doc
    assert survivors == [3, 5]
    # high threshold with a disjoint probe removes nothing
    clean_probe = spark.createDataFrame(
        [Row(doc_id=101, text="totally unrelated probe text here now")])
    assert C.decontaminate(dup_docs, clean_probe).count() == 5


def test_decontaminate_broadcast_kernel_equals_join_path(spark,
                                                         monkeypatch):
    """The map-side broadcast-postings kernel and the distributed gram
    join must produce the IDENTICAL survivor set — including on HALF_UP
    rounding boundaries of the join path's round(overlap, 6) filter."""
    import itertools
    words = ["w%d" % i for i in range(12)]
    docs = [Row(doc_id=i,
                text=" ".join(words[j % 12] for j in range(i, i + 9)))
            for i in range(40)]
    train = spark.createDataFrame(docs)
    test = spark.createDataFrame(
        [Row(doc_id=100 + i,
             text=" ".join(words[j % 12] for j in range(i, i + 6)))
         for i in range(0, 12, 2)])
    overlaps = (0.2, 0.5, 0.714286, 1.0)
    kernel = [sorted(r.doc_id for r in C.decontaminate(
        train, test, min_overlap=ov).collect()) for ov in overlaps]
    # a zero postings budget sends every call down the gram join
    D.clear_guard_memo()
    monkeypatch.setattr(C, "DECONTAMINATE_BROADCAST_MAX_POSTINGS", 0)
    for ov, a in zip(overlaps, kernel):
        b = sorted(r.doc_id for r in C.decontaminate(
            train, test, min_overlap=ov).collect())
        assert a == b, (ov, a, b)
    assert len(C._DECON_INDEX) == 0      # every call took the gram join


def test_decontaminate_min_hits_threshold_is_exact_round_half_up():
    """_min_hits_to_flag replicates Spark's round(k/n, 6) HALF_UP
    double semantics on boundaries where raw k/n < min_overlap but the
    6-place rounding crosses it (5/7 = 0.7142857.. -> 0.714286)."""
    assert C._min_hits_to_flag(7, 0.714286) == 5      # rounds UP into it
    assert C._min_hits_to_flag(7, 0.7142861) == 6     # just past rounding
    assert C._min_hits_to_flag(5, 0.2) == 1
    assert C._min_hits_to_flag(3, 1.0) == 3
    assert C._min_hits_to_flag(3, 1.5) >= 1 << 30     # never flags


def test_min_hits_to_flag_matches_brute_force_repr_rounding():
    """For every n <= 1,000, _min_hits_to_flag is the brute-force
    smallest k whose ratio k/n reaches the threshold under Spark's
    round(x, 6): HALF_UP on the double's shortest decimal repr
    (BigDecimal.valueOf), so 3/640 = 0.0046875 rounds to 0.004688,
    where its binary expansion rounds to 0.004687. Thresholds: the
    rounded ratio of every k where the two roundings differ, and of
    every 25th k."""
    import bisect
    from decimal import ROUND_HALF_UP, Decimal

    def rnd(x):
        return float(x.quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))

    assert C._min_hits_to_flag(640, 0.004688) == 3
    ties = 0
    for n in range(1, 1001):
        r = [rnd(Decimal(repr(k / n))) for k in range(1, n + 1)]
        for k in range(1, n + 1):
            tie = rnd(Decimal(k / n)) != r[k - 1]
            ties += tie
            if tie or k % 25 == 0:
                assert C._min_hits_to_flag(n, r[k - 1]) == \
                    bisect.bisect_left(r, r[k - 1]) + 1, (n, k)
    assert ties == 128


def test_decontaminate_kernels_agree_on_a_repr_rounding_tie(spark,
                                                            monkeypatch):
    """A train doc sharing 3 of a 640-shingle eval doc's shingles has
    overlap 3/640, which the gram join's round(x, 6) takes to 0.004688:
    at that min_overlap both kernels drop it and keep a 2-shingle
    doc."""
    words = [f"e{i}" for i in range(642)]         # 640 distinct 3-grams
    test = spark.createDataFrame([Row(doc_id=100, text=" ".join(words))])
    train = spark.createDataFrame([
        Row(doc_id=1, text=" ".join(words[10:15])),          # 3 shared
        Row(doc_id=2, text=" ".join(words[10:14]) + " x"),   # 2 shared
        Row(doc_id=3, text="unrelated words only here")])
    D.clear_guard_memo()
    kernel = sorted(r.doc_id for r in C.decontaminate(
        train, test, min_overlap=0.004688).collect())
    D.clear_guard_memo()
    monkeypatch.setattr(C, "DECONTAMINATE_BROADCAST_MAX_POSTINGS", 0)
    join = sorted(r.doc_id for r in C.decontaminate(
        train, test, min_overlap=0.004688).collect())
    assert kernel == join == [2, 3]


def test_decontaminate_postings_budget_falls_back_to_join(spark,
                                                          dup_docs,
                                                          monkeypatch):
    """A test side past the postings budget must route to the guarded
    distributed join (observable via the inherited candidate guard)."""
    train = dup_docs.filter("doc_id % 2 = 0")
    test = dup_docs.filter("doc_id % 2 = 1")
    D.clear_guard_memo()
    monkeypatch.setattr(N, "JACCARD_MAX_CANDIDATE_PAIRS", 3)
    monkeypatch.setattr(C, "DECONTAMINATE_BROADCAST_MAX_POSTINGS", 1)
    with pytest.raises(ValueError, match="minhash banding"):
        C.decontaminate(train, test, min_overlap=0.2).count()


def test_decontaminate_broadcast_handles_empty_and_short_docs(spark):
    """Empty eval side flags nothing; sub-shingle-length train docs
    (empty shingle set) always survive."""
    train = spark.createDataFrame([
        Row(doc_id=1, text="just two"),          # < 3 tokens: no shingles
        Row(doc_id=2, text="alpha beta gamma delta")])
    empty_test = spark.createDataFrame(
        [Row(doc_id=9, text="alpha beta gamma")]).filter("doc_id < 0")
    assert C.decontaminate(train, empty_test).count() == 2
    hot_test = spark.createDataFrame(
        [Row(doc_id=9, text="alpha beta gamma delta")])
    kept = sorted(r.doc_id for r in
                  C.decontaminate(train, hot_test,
                                  min_overlap=0.5).collect())
    assert kept == [1]


def test_exact_dedup_keep_best_argmax_and_ties(spark):
    """Keep-best must pick the max-score row per cluster, fall back to
    the lowest id on score ties, rank null scores worst, and report
    cluster_size."""
    docs = spark.createDataFrame([
        Row(doc_id=1, text="same text here", score=0.2),
        Row(doc_id=2, text="  SAME   text HERE ", score=0.9),  # best
        Row(doc_id=3, text="same text here", score=None),      # worst
        Row(doc_id=4, text="tied cluster words", score=0.5),   # tie ->
        Row(doc_id=5, text="tied cluster words", score=0.5),   # id 4
        Row(doc_id=6, text="a singleton document", score=0.1)])
    kept = {r.doc_id: r.cluster_size for r in
            D.exact_dedup_keep_best(docs, F.col("score")).collect()}
    assert kept == {2: 3, 4: 2, 6: 1}
    # contrast with keep-first, which keeps id 1 for the first cluster
    first = sorted(r.doc_id for r in D.exact_dedup(docs).collect())
    assert first == [1, 4, 6]


def test_exact_dedup_keep_best_single_exchange(spark, sf_dir):
    """The argmax must travel as ONE map-side-combined aggregate on the
    fingerprint — no window sort, at most the fp exchange + the join."""
    docs = load_table(spark, sf_dir, "documents")
    from dotnetvectorsearch_spark.functions.text import quality_score
    plan = (D.exact_dedup_keep_best(docs, quality_score("text"))
            ._jdf.queryExecution().executedPlan().toString())
    assert "Window" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_corpus_diff_all_statuses(spark):
    """Every CDC status is emitted correctly, and 'changed' keys off
    the NORMALIZED fingerprint (case/whitespace edits are unchanged)."""
    old = spark.createDataFrame([
        Row(doc_id=1, text="alpha beta"),
        Row(doc_id=2, text="gamma delta"),
        Row(doc_id=3, text="epsilon zeta"),
        Row(doc_id=4, text="eta theta")])
    new = spark.createDataFrame([
        Row(doc_id=1, text="alpha beta"),          # unchanged
        Row(doc_id=2, text="gamma delta EDITED"),  # changed
        Row(doc_id=3, text="  EPSILON   zeta "),   # normalized-equal
        Row(doc_id=5, text="iota kappa")])         # added; 4 removed
    got = {r.doc_id: r.status
           for r in D.corpus_diff(old, new).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "unchanged",
                   4: "removed", 5: "added"}


def test_corpus_diff_never_shuffles_text(spark):
    """The exchange must carry only (id, fp): the text column is
    projected away below the join on both sides."""
    old = spark.createDataFrame([Row(doc_id=1, text="alpha beta")])
    new = spark.createDataFrame([Row(doc_id=1, text="alpha beta")])
    plan = (D.corpus_diff(old, new)
            ._jdf.queryExecution().optimizedPlan().toString())
    import re
    for m in re.finditer(r"Exchange[^\n]*", plan):
        assert "text" not in m.group(0)


def test_max_eval_overlap_matches_join_formulation(spark):
    """The map-side overlap dial must equal the distributed
    cross_corpus_contamination + groupBy(max) formulation, including
    0.0 rows for trains that share nothing with the eval set."""
    words = ["w%d" % i for i in range(10)]
    train = spark.createDataFrame(
        [Row(doc_id=i,
             text=" ".join(words[j % 10] for j in range(i, i + 7)))
         for i in range(12)]
        + [Row(doc_id=99, text="zz yy xx ww vv uu")])   # disjoint
    test = spark.createDataFrame(
        [Row(doc_id=200 + i,
             text=" ".join(words[j % 10] for j in range(i, i + 5)))
         for i in range(0, 10, 3)])
    got = {r.doc_id: r.max_overlap
           for r in C.max_eval_overlap(train, test).collect()}
    # round6 is monotone, so max(round6(overlap)) == round6(max raw):
    # the join path's pre-rounded pair overlaps max to EXACTLY the
    # kernel's rounded max
    exp = {r.train_id: r.mo for r in
           (C.cross_corpus_contamination(train, test, min_overlap=0.0)
            .groupBy("train_id")
            .agg(F.max("overlap").alias("mo"))).collect()}
    for doc_id, mo in got.items():
        assert mo == exp.get(doc_id, 0.0), doc_id
    assert got[99] == 0.0
    assert len(got) == train.count()


def test_max_eval_overlap_postings_budget_raises(spark, dup_docs,
                                                monkeypatch):
    test = dup_docs.filter("doc_id % 2 = 1")
    train = dup_docs.filter("doc_id % 2 = 0")
    D.clear_guard_memo()
    monkeypatch.setattr(C, "DECONTAMINATE_BROADCAST_MAX_POSTINGS", 1)
    with pytest.raises(C.DeconBudgetExceeded, match="postings"):
        C.max_eval_overlap(train, test)


def test_decontaminate_broadcast_plan_is_shuffle_free(spark, dup_docs):
    """The kernel's enforcement plan must contain NO join and NO
    exchange — decontamination is a map-side filter over train."""
    test = spark.createDataFrame(
        [Row(doc_id=100, text="the quick brown fox jumps over")])
    plan = (C.decontaminate(dup_docs, test, min_overlap=0.5)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "ArrowEvalPython" in plan


def test_fuzzy_dup_pairs_blocked_levenshtein(spark):
    docs = spark.createDataFrame([
        Row(doc_id=1, text="alpha beta gamma delta epsilon"),
        Row(doc_id=2, text="alpha beta gamma delta epsilXn"),   # dist 1
        Row(doc_id=3, text="alpha beta totally different words here"),
        Row(doc_id=4, text="omega psi chi phi upsilon"),        # other block
    ])
    pairs = {(r.id_a, r.id_b): r.dist
             for r in N.fuzzy_dup_pairs(
                 docs, prefix_chars=30, block_tokens=2,
                 max_dist=3).collect()}
    assert pairs == {(1, 2): 1}   # 3 shares the block but fails verify;
    #                               4 is never even a candidate


def test_fuzzy_dup_pairs_never_cross_product(spark):
    docs = spark.createDataFrame([
        Row(doc_id=i, text=f"head{i % 3} tail{i} filler words here")
        for i in range(30)])
    plan = (N.fuzzy_dup_pairs(docs)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_weights_mass_per_cluster(spark, dup_docs):
    """Each duplicate cluster must carry total weight 1.0, so
    sum(weight) == number of distinct content units."""
    pairs = N.jaccard_pairs(dup_docs, threshold=0.3)
    out = {r.doc_id: r for r in
           G.dedup_weights(dup_docs, pairs).collect()}
    assert len(out) == 5                      # every doc gets a row
    # docs 1,2,4 cluster together (1 is also near-dup of 4); 3 and 5
    # are singletons under case-sensitive shingles
    assert out[1].cluster_id == out[2].cluster_id == out[4].cluster_id
    assert out[1].cluster_size == 3
    assert abs(out[1].weight - 1 / 3) < 1e-6
    assert out[3].cluster_size == 1 and out[3].weight == 1.0
    total = sum(r.weight for r in out.values())
    n_clusters = len({r.cluster_id for r in out.values()})
    assert abs(total - n_clusters) < 1e-5


def test_semdedup_keep_one_representative_per_cluster(spark, sf_dir):
    import __spark_entry__ as entry
    out = entry.queries()["semdedup_keep"](spark, sf_dir).collect()
    clusters = {}
    for r in out:
        clusters.setdefault(r.cluster_id, []).append(r)
    for cid, rows in clusters.items():
        kept = [r for r in rows if r.kept]
        assert len(kept) == 1
        assert kept[0].vec_id == min(r.vec_id for r in rows)
        assert min(r.vec_id for r in rows) == cid  # min-label contract


def test_bloom_membership_no_false_negatives_low_false_positives(spark):
    import numpy as np

    from dotnetvectorsearch_spark.operators.dedup import build_bloom
    keys = spark.createDataFrame(
        [(f"key-{i}",) for i in range(2000)], "fp string")
    bloom, nb, kh = build_bloom(keys, "fp", n_bits=1 << 15, k_hashes=7)
    words = np.frombuffer(bloom, dtype=np.uint64)

    def contains(vals):
        import pandas as pd

        from pyspark.sql import functions as F
        df = spark.createDataFrame([(v,) for v in vals], "fp string") \
            .select("fp", F.xxhash64("fp").alias("h1"),
                    F.xxhash64(F.concat("fp", F.lit("§bloom")))
                    .alias("h2")).toPandas()
        out = []
        for h1, h2 in zip(df.h1.to_numpy(dtype=np.uint64),
                          df.h2.to_numpy(dtype=np.uint64)):
            hit = True
            for i in range(kh):
                pos = (h1 + np.uint64(i) * h2) % np.uint64(nb)
                hit = hit and bool(
                    (words[pos >> np.uint64(6)]
                     >> (pos & np.uint64(63))) & np.uint64(1))
            out.append(hit)
        return out

    assert all(contains([f"key-{i}" for i in range(0, 2000, 37)]))
    fp_rate = sum(contains([f"other-{i}" for i in range(1000)])) / 1000
    assert fp_rate < 0.05     # 16x bits/key at k=7 -> well under 1%


def test_incremental_dedup_bloom_identical_to_plain(spark, sf_dir,
                                                    tmp_path):
    """The bloom-prefiltered serve path over a store built from any
    corpus keeps exactly what the plain anti-join keeps."""
    from dotnetvectorsearch_spark.operators import dedup_store as ds
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter("doc_id % 3 != 0")
    batch = docs.filter("doc_id % 3 = 0")
    path = str(tmp_path / "bloom_fps")
    ds.build_store(corpus, path)
    plain = {r.doc_id for r in
             D.exact_dedup_incremental(batch, corpus).collect()}
    bloomed = {r.doc_id for r in
               ds.serve_incremental_dedup(batch, spark, path).collect()}
    assert plain == bloomed and bloomed


def test_incremental_dedup_bloom_memoizes_per_corpus(spark, sf_dir,
                                                     tmp_path):
    # The broadcast filter is serve-path state (the ann_store
    # contract): repeated batches against an UNCHANGED store reuse one
    # broadcast, a store built from another corpus gets its own, and
    # clear_guard_memo drops them all.
    from dotnetvectorsearch_spark.operators import dedup_store as ds
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    D.clear_guard_memo()
    path = str(tmp_path / "a")
    ds.build_store(docs.filter("doc_id % 3 != 0"), path)
    first = ds._bloom_broadcast(spark, path)
    assert ds._bloom_broadcast(spark, path) is first    # memo hit
    other = str(tmp_path / "b")
    ds.build_store(docs.filter("doc_id % 3 = 1"), other)
    assert ds._bloom_broadcast(spark, other) is not first
    # clear_guard_memo is the public invalidation hook for every memo
    # (advisor r8: an in-place rewrite preserving count+size+mtime_ns
    # would alias the fingerprint — the hook is the escape hatch)
    assert D.clear_guard_memo() >= 2
    assert ds._bloom_broadcast(spark, path) is not first  # rebuilt


def test_bloom_store_serve_equals_build_in_query(spark, sf_dir,
                                                 tmp_path):
    """The persisted fp+bloom store's serve path must return EXACTLY
    the in-query ``exact_dedup_incremental`` result (round 9: the store
    amortizes the corpus scan across sessions — it must never change
    the answer), and a rewritten corpus must trigger a rebuild instead
    of serving stale fingerprints."""
    from dotnetvectorsearch_spark.operators import dedup_store as ds

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    batch = docs.filter("doc_id % 5 = 0")
    corpus = docs.filter(ds.CORPUS_PRED)
    path, built = ds.ensure_bloom_store(spark, sf_dir,
                                        root=str(tmp_path))
    assert built
    served = {r.doc_id for r in
              ds.serve_incremental_dedup(batch, spark, path)
              .select("doc_id").collect()}
    in_query = {r.doc_id for r in
                D.exact_dedup_incremental(batch, corpus)
                .select("doc_id").collect()}
    assert served == in_query and served
    # ids_only fast path (what the registry query uses): same keep-set,
    # single id column, no semi-join back to the batch
    ids_df = ds.serve_incremental_dedup(batch, spark, path,
                                        ids_only=True)
    assert ids_df.columns == ["doc_id"]
    assert {r.doc_id for r in ids_df.collect()} == served
    # the keep-set union's branches must share ONE materialized probe
    # pass (r11: without the boundary both branches re-ran the batch
    # scan + keep-first agg + Python probe — measured 2x serve cost)
    assert "InMemoryTableScan" in (
        ids_df._jdf.queryExecution().executedPlan().toString())
    # fresh store: second ensure is a no-op
    _, built2 = ds.ensure_bloom_store(spark, sf_dir,
                                      root=str(tmp_path))
    assert not built2
    # a DIFFERENT corpus state (simulated via marker tamper — the
    # marker hashes input files + slice spec + sizing) must rebuild
    import json as _json
    from pathlib import Path as _P
    marker = _P(path) / ds._MARKER
    meta = _json.loads(marker.read_text())
    meta["fingerprint"] = "stale"
    marker.write_text(_json.dumps(meta))
    _, built3 = ds.ensure_bloom_store(spark, sf_dir,
                                      root=str(tmp_path))
    assert built3


# ------------------------------------ exact pair/graph candidate bounds


@pytest.fixture
def low_candidate_bound(monkeypatch):
    """JACCARD_MAX_CANDIDATE_PAIRS patched to 3 (read at call time)."""
    monkeypatch.setattr(N, "JACCARD_MAX_CANDIDATE_PAIRS", 3)


def test_jaccard_pairs_guard_refuses_past_candidate_bound(spark, dup_docs,
                                                         monkeypatch):
    # The inverted-index self-join volume (sum_s C(df_s,2)) is COUNTED
    # before the quadratic stage is scheduled; past the bound it must
    # raise naming the linear LSH twins — a 10^9-doc corpus gets an
    # error with reroute advice, not a hang (same doctrine as
    # search.knn_graph's broadcast bound).
    assert N.jaccard_pairs(dup_docs, threshold=0.3).count() > 0
    monkeypatch.setattr(N, "JACCARD_MAX_CANDIDATE_PAIRS", 3)
    with pytest.raises(ValueError, match="JACCARD_MAX_CANDIDATE_PAIRS"):
        N.jaccard_pairs(dup_docs, threshold=0.1)


def test_contamination_guard_refuses_past_candidate_bound(spark,
                                                          dup_docs,
                                                          monkeypatch):
    # The bipartite gram join volume (sum_s df_test * df_train) is
    # counted before the join is scheduled — unselective shingles
    # (boilerplate / tiny vocab) make it quadratic-shaped, and at sf10
    # the unguarded join filled the disk (~5.2e9 rows / 70+ GB spill).
    train = dup_docs.filter("doc_id % 2 = 0")
    test = dup_docs.filter("doc_id % 2 = 1")
    # default bound runs clean (dup_docs: every train doc is a planted
    # near-copy of a test doc, so all are dropped — 0 survivors is the
    # CORRECT answer here, the point is the default-bound path works)
    assert C.cross_corpus_contamination(
        train, test, min_overlap=0.2).count() >= 0
    assert C.decontaminate(train, test, min_overlap=0.2).count() == 0
    D.clear_guard_memo()
    with monkeypatch.context() as mp:
        mp.setattr(N, "JACCARD_MAX_CANDIDATE_PAIRS", 3)
        with pytest.raises(ValueError, match="minhash banding"):
            C.cross_corpus_contamination(train, test, min_overlap=0.2)
        # the guard protects the DISTRIBUTED join path; the broadcast
        # kernel never schedules that join, so force the join path
        # with a zero postings budget — decontaminate inherits it
        mp.setattr(C, "DECONTAMINATE_BROADCAST_MAX_POSTINGS", 0)
        with pytest.raises(ValueError, match="minhash banding"):
            C.decontaminate(train, test, min_overlap=0.2).count()


def test_dedup_clusters_pipeline_inherits_guard(spark, dup_docs,
                                                low_candidate_bound):
    with pytest.raises(ValueError, match="minhash"):
        G.dedup_clusters(
            dup_docs, N.jaccard_pairs(dup_docs, threshold=0.1)).count()


def test_dedup_weights_pipeline_inherits_guard(spark, dup_docs,
                                               low_candidate_bound):
    with pytest.raises(ValueError, match="minhash"):
        G.dedup_weights(
            dup_docs, N.jaccard_pairs(dup_docs, threshold=0.1)).count()


def test_pagerank_pipeline_inherits_guard(spark, dup_docs,
                                          low_candidate_bound):
    from dotnetvectorsearch_spark.operators.graph import pagerank_undirected
    with pytest.raises(ValueError, match="minhash"):
        pagerank_undirected(
            N.jaccard_pairs(dup_docs, threshold=0.1),
            "id_a", "id_b", iters=2).count()


def test_input_fingerprint_tracks_size_and_mtime(spark, tmp_path):
    """The guard-memo key must change when an input file is rewritten
    in place (advisor r6: the old 'file://' prefix strip broke on
    Hadoop's single-slash 'file:/path' rendering, degrading every stat
    to (-1,-1) and silently losing (size, mtime) sensitivity)."""
    p = str(tmp_path / "fp_docs")
    spark.range(10).withColumnRenamed("id", "doc_id") \
        .coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    fp1 = caching._input_fingerprint(df)
    assert fp1 is not None
    n_files, path_digest, total_size, max_mtime_ns, sig = fp1
    assert len(path_digest) == 64           # sha256 over full path list
    assert n_files >= 1 and total_size > 0 and max_mtime_ns > 0
    # stats resolved: no (path, -1, -1) degradations
    assert all(sz >= 0 and mt >= 0 for _, sz, mt in sig), fp1
    fp2 = caching._input_fingerprint(spark.read.parquet(p))
    assert fp1 == fp2                       # stable across reads
    # nanosecond mtimes: a SAME-SECOND in-place rewrite must still flip
    # the key (advisor r8 — int-seconds truncation aliased it)
    spark.range(200).withColumnRenamed("id", "doc_id") \
        .coalesce(1).write.mode("overwrite").parquet(p)
    fp3 = caching._input_fingerprint(spark.read.parquet(p))
    assert fp3 != fp1                       # in-place rewrite detected


def test_input_fingerprint_stat_calls_bounded(spark, tmp_path,
                                              monkeypatch):
    """Past _FP_STAT_CAP input files, per-file os.stat syscalls must be
    bounded (advisor r9: 10^5-file corpora paid 10^5 sequential stats
    on EVERY memo lookup) while file-set changes are still caught by
    the full-path-list digest."""
    import os as _os
    p = str(tmp_path / "many_files")
    spark.range(240).withColumnRenamed("id", "doc_id") \
        .repartition(12).write.parquet(p)
    df = spark.read.parquet(p)
    monkeypatch.setattr(caching, "_FP_STAT_CAP", 8)
    real_stat, calls = _os.stat, []
    monkeypatch.setattr(_os, "stat",
                        lambda *a, **k: (calls.append(a),
                                         real_stat(*a, **k))[1])
    fp1 = caching._input_fingerprint(df)
    # 12 files > cap of 8: sampled stats only (first-64 union means
    # <= n here, but must be <= the full count with cap respected via
    # the sample construction — the detail prefix keeps idx<64, which
    # covers all 12 here, so instead pin the digest behavior below
    # with a cap that actually bites the sampling set)
    assert fp1 is not None and len(calls) <= 12
    calls.clear()
    monkeypatch.setattr(caching, "_FP_STAT_CAP", 4)
    # force the sample path with first-64 detail disabled from biting:
    # the union set is {evenly spaced 4} | {0..63} -> all 12 again;
    # the REAL bound kicks in when n >> 64. Simulate by monkeypatching
    # inputFiles to a synthetic 10_000-path list (stat will fail ->
    # degrade to (-1,-1), which is fine: we count CALLS).
    fake = [f"/nonexistent/part-{i:05d}.parquet" for i in range(10_000)]
    monkeypatch.setattr(
        type(df), "inputFiles", lambda self: fake, raising=False)
    calls.clear()
    fp_big = caching._input_fingerprint(df)
    assert fp_big is not None
    assert len(calls) <= 4 + 64             # sample + first-64 detail
    # digest still covers the FULL list: dropping one path flips the key
    monkeypatch.setattr(
        type(df), "inputFiles", lambda self: fake[:-1], raising=False)
    assert caching._input_fingerprint(df) != fp_big


def test_store_unfingerprintable_input_is_never_fresh(spark, sf_dir,
                                                      tmp_path,
                                                      monkeypatch):
    """If the input files cannot be fingerprinted, the persisted store
    must fail CLOSED (rebuild every ensure) — hashing repr(None) is a
    constant that would match the marker forever and serve a stale
    bloom after a corpus rewrite (advisor r9)."""
    from dotnetvectorsearch_spark.operators import dedup_store as ds
    monkeypatch.setattr(ds, "_input_fingerprint", lambda df: None)
    _, built1 = ds.ensure_bloom_store(spark, sf_dir, root=str(tmp_path))
    _, built2 = ds.ensure_bloom_store(spark, sf_dir, root=str(tmp_path))
    assert built1 and built2                # never fresh -> always rebuilt


def test_bc_cache_eviction_unpersists_broadcast(spark, sf_dir,
                                                tmp_path, monkeypatch):
    """Evicting a bloom broadcast from the serve cache must release its
    executor-side blocks, not just drop the driver handle (advisor r9:
    each rebuild re-keys and would strand ~1 MB per executor)."""
    from dotnetvectorsearch_spark.operators import dedup_store as ds

    class FakeBC:
        unpersisted = False
        def unpersist(self):
            FakeBC.unpersisted = True

    path, _ = ds.ensure_bloom_store(spark, sf_dir, root=str(tmp_path))
    memo = SessionMemo(1, release=ds._BLOOM_BROADCASTS.release)
    memo.get_or_build(("old", "key"), lambda: (FakeBC(), 1, 1))
    monkeypatch.setattr(ds, "_BLOOM_BROADCASTS", memo)
    ds._bloom_broadcast(spark, path)
    assert FakeBC.unpersisted
    assert ("old", "key") not in ds._BLOOM_BROADCASTS


def test_clear_guard_memo_empties_every_memo():
    """clear_guard_memo is the one invalidation hook: it empties all
    three input-keyed memos — including the bloom-store broadcasts —
    unpersists the broadcasts it drops and returns the total count."""
    from dotnetvectorsearch_spark.operators import dedup_store as ds

    class FakeBC:
        unpersisted = 0
        def unpersist(self):
            FakeBC.unpersisted += 1

    D.clear_guard_memo()
    memos = (N._GUARD_MEMO, C._DECON_INDEX, ds._BLOOM_BROADCASTS)
    for m in memos:
        m.get_or_build(("fake",), lambda: (FakeBC(), 1, 1))
    assert D.clear_guard_memo() == 3
    assert all(len(m) == 0 for m in memos)
    assert FakeBC.unpersisted == 2        # the two broadcast memos


def test_bloom_bits_match_python_reference():
    """Pins the Bloom bit layout shared by the JVM-hashed filters and
    the streaming near-dup store: Kirsch-Mitzenmacher positions
    ((h1 + i*h2) mod 2^64) mod n_bits, bit pos%64 of uint64 word
    pos//64. A changed layout would misread every persisted bloom.bin."""
    import numpy as np

    h1 = [0, 1, 12345, 2**63 + 7, 2**64 - 1]
    h2 = [0, 3, 2**64 - 5, 2**62 + 11, 2**64 - 1]
    for n_bits, k in ((1000, 7), (1 << 12, 3)):
        ref = [0] * ((n_bits + 63) // 64)
        for a, b in zip(h1, h2):
            for i in range(k):
                pos = ((a + i * b) % 2**64) % n_bits
                ref[pos // 64] |= 1 << (pos % 64)
        bits = np.zeros(len(ref), dtype=np.uint64)
        D._bloom_add(bits, np.array(h1, dtype=np.uint64),
                     np.array(h2, dtype=np.uint64), n_bits, k)
        assert [int(w) for w in bits] == ref
        probe1 = [1, 2, 99, 2**64 - 2]
        probe2 = [3, 5, 2**63, 1]
        want = [all(ref[p // 64] >> (p % 64) & 1
                    for p in (((a + i * b) % 2**64) % n_bits
                              for i in range(k)))
                for a, b in zip(h1 + probe1, h2 + probe2)]
        got = D._bloom_test(bits, np.array(h1 + probe1, dtype=np.uint64),
                            np.array(h2 + probe2, dtype=np.uint64),
                            n_bits, k)
        assert got.tolist() == want and all(want[:len(h1)])


def test_lsh_neardup_strategies_agree(spark, sf_dir, monkeypatch):
    """The hybrid's two execution paths (probe equi-join vs bucket-
    grouped kernel) must emit the SAME (pair, rounded-cosine) set —
    the strategy pivot is a cost decision, never a semantics one. Also
    pins max_probes (truncated probe set is a subset) and per_doc_cap
    (top-m per id_a, deterministic tie-break)."""
    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .select("vec_id", "embedding")
           .withColumn("bucket", F.abs(F.xxhash64("vec_id")) % 256))
    kw = dict(threshold=0.2, probe_hamming=1, bits=8)
    joined = {tuple(r) for r in N.lsh_bucket_neardup_pairs(
        emb, "vec_id", "embedding", **kw).collect()}
    monkeypatch.setattr(N, "LSH_GROUPED_MIN_MEMBERSHIPS", 0)
    grouped = {tuple(r) for r in N.lsh_bucket_neardup_pairs(
        emb, "vec_id", "embedding", **kw).collect()}
    assert grouped == joined and grouped
    # probe budget: truncating to 1 mask (exact bucket only) is a
    # subset of the full probe set
    exact_only = {tuple(r)[:2] for r in N.lsh_bucket_neardup_pairs(
        emb, "vec_id", "embedding", max_probes=1, **kw).collect()}
    assert exact_only <= {t[:2] for t in joined}
    # per-doc cap: <= m partners per id_a, and the kept ones are the
    # top-m by (cosine desc, id_b asc)
    capped = N.lsh_bucket_neardup_pairs(
        emb, "vec_id", "embedding", per_doc_cap=2, **kw).collect()
    by_a = {}
    for r in capped:
        by_a.setdefault(r.id_a, []).append((r.id_b, r.cosine))
    assert all(len(v) <= 2 for v in by_a.values())
    full_by_a = {}
    for (ia, ib, c) in joined:
        full_by_a.setdefault(ia, []).append((ib, c))
    for ia, kept in by_a.items():
        want = sorted(full_by_a[ia],
                      key=lambda t: (-t[1], t[0]))[:2]
        assert sorted(kept, key=lambda t: (-t[1], t[0])) == want, ia


def test_min_hits_to_flag_safe_past_2m_shingles():
    """At n_te >= ~2M the old scan start int(m*n)-1 could overshoot the
    true HALF_UP threshold by one (advisor r10). At n=5M, m=0.5 the
    smallest flagging k is 2,499,998 (0.4999996 rounds UP to 0.500000);
    the old start of 2,499,999 skipped it."""
    assert C._min_hits_to_flag(5_000_000, 0.5) == 2_499_998


def test_decon_memo_key_and_index_are_per_text_col(spark):
    """One eval frame, two text columns: the broadcast postings index
    must be keyed (and built) per text_col — a second call on another
    column must not silently filter against the first column's index
    (advisor r10, medium)."""
    phrase = "alpha beta gamma delta epsilon"
    test = spark.createDataFrame(
        [Row(doc_id=9, text=phrase, alt="one two three four five")])
    key = input_key(test)
    k_text = key and key + (3, "text")
    k_alt = key and key + (3, "alt")
    if k_text is not None or k_alt is not None:
        assert k_text != k_alt
    train = spark.createDataFrame([Row(doc_id=1, text=phrase, alt=phrase)])
    # call 1 (text): train.text == test.text -> dropped; memoizes index
    assert C.decontaminate(train, test, text_col="text",
                           min_overlap=0.5).count() == 0
    # call 2 (alt): train.alt == test.TEXT but shares nothing with
    # test.alt -> must be KEPT. A stale text-column index drops it.
    kept = C.decontaminate(train, test, text_col="alt",
                           min_overlap=0.5).count()
    assert kept == 1
    if key is not None:                     # one index per text_col
        assert k_text in C._DECON_INDEX and k_alt in C._DECON_INDEX


def test_registry_decontamination_kernels_agree(spark, sf_dir,
                                                monkeypatch):
    """The registry's decontamination queries return the same rows from
    the broadcast postings kernel (default budget) and from the gram
    join it falls back to (a zero postings budget) — at sf0.01, where
    the fallback is otherwise never taken (check_oracle.py
    --distributed patches localdf.DRIVER_BYTES, which this gate does
    not read)."""
    from pathlib import Path

    import __spark_entry__ as entry
    sf01 = str(Path(sf_dir).parent / "sf0.01")
    qs = entry.queries()
    names = ("decontaminated_docs", "curated_corpus",
             "curated_corpus_fixed_eval")

    def rows():
        return {n: sorted(map(repr, qs[n](spark, sf01).collect()))
                for n in names}

    kernel = rows()
    D.clear_guard_memo()
    monkeypatch.setattr(C, "DECONTAMINATE_BROADCAST_MAX_POSTINGS", 0)
    joined = rows()
    assert len(C._DECON_INDEX) == 0      # every call took the gram join
    assert joined == kernel and all(kernel.values())


def test_stream_decontaminate_enforces_postings_budget(spark,
                                                       monkeypatch):
    """The streaming gate must run the same postings/byte budget as the
    batch kernel before collecting the eval index (advisor r10) — and
    raise at definition time, since a stream has no join fallback."""
    from dotnetvectorsearch_spark.streaming.ingest import stream_decontaminate
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="alpha beta gamma delta")])
    eval_docs = spark.createDataFrame(
        [Row(doc_id=9, text="alpha beta gamma delta epsilon zeta")])
    D.clear_guard_memo()
    monkeypatch.setattr(C, "DECONTAMINATE_BROADCAST_MAX_POSTINGS", 1)
    with pytest.raises(C.DeconBudgetExceeded, match="postings"):
        stream_decontaminate(docs, eval_docs)


def test_incremental_update_manifest_all_actions(spark):
    """Planted snapshot pair exercising every action: retire (left the
    corpus), keep (unchanged), skip_duplicate (fingerprint twin of a
    standing doc AND an in-batch keep-first loser), skip_contaminated
    (covers an eval doc), index_add (clean survivor)."""
    base = "alpha beta gamma delta epsilon zeta"
    clean = "completely novel words about some fresh topic entirely"
    clean2 = "another brand new document with different clean content"
    evalt = "the secret held out benchmark prompt text"
    old = spark.createDataFrame([
        Row(doc_id=1, text=base),        # stays unchanged
        Row(doc_id=2, text="doomed doc text leaving the corpus now"),
    ])
    new = spark.createDataFrame([
        Row(doc_id=1, text=base),                    # keep
        Row(doc_id=3, text="  " + base.upper()),     # dup of standing 1
        Row(doc_id=4, text=clean),                   # index_add
        Row(doc_id=5, text=clean2),                  # in-batch first
        Row(doc_id=6, text=clean2 + " "),            # in-batch loser
        Row(doc_id=7, text=evalt),                   # contaminated
    ])
    eval_docs = spark.createDataFrame([Row(doc_id=90, text=evalt)])
    want = {
        1: ("unchanged", "keep"),
        2: ("removed", "retire"),
        3: ("added", "skip_duplicate"),
        4: ("added", "index_add"),
        5: ("added", "index_add"),
        6: ("added", "skip_duplicate"),
        7: ("added", "skip_contaminated"),
    }
    got = {r.doc_id: (r.status, r.action) for r in
           D.incremental_update_manifest(
               old, new, eval_docs, min_overlap=0.2).collect()}
    assert got == want
    # broadcast_delta=False (the bulk-re-ingest fallback where the
    # "delta" is too big to broadcast) is semantics-identical
    got_shuffle = {r.doc_id: (r.status, r.action) for r in
                   D.incremental_update_manifest(
                       old, new, eval_docs, min_overlap=0.2,
                       broadcast_delta=False).collect()}
    assert got_shuffle == want


def test_incremental_update_manifest_randomized_python_oracle(spark):
    """Oracle-by-construction sweep for the incremental-ingest kernel:
    seeded random snapshot pairs checked EXACTLY against an
    independent pure-Python reference (normalize -> md5 fingerprint,
    distinct word-3-shingle overlap with HALF_UP round-6, keep-first
    min-id, standing-fp block), on BOTH the broadcast-delta and
    shuffle-fallback paths — randomized coverage beyond the planted
    all-actions scenario."""
    import hashlib
    import random
    import re

    def py_fp(t):
        norm = re.sub(r"\s+", " ", t.lower()).strip()
        return hashlib.md5(norm.encode()).hexdigest()

    def py_shingles(t, n=3):
        toks = t.strip().split()
        return {" ".join(toks[i:i + n])
                for i in range(len(toks) - n + 1)}

    def py_manifest(old, new, eval_texts, min_overlap=0.2):
        ev = [py_shingles(t) for t in eval_texts]
        ev = [s for s in ev if s]
        out = {}
        standing = set()
        cand = {}
        for i in sorted(set(old) | set(new)):
            if i not in new:
                out[i] = "retire"
            elif i not in old:
                cand[i] = new[i]
            elif py_fp(old[i]) == py_fp(new[i]):
                out[i] = "keep"
                standing.add(py_fp(new[i]))
            else:
                cand[i] = new[i]
        first = {}
        for i in sorted(cand):
            first.setdefault(py_fp(cand[i]), i)
        for i, text in cand.items():
            f = py_fp(text)
            if f in standing or first[f] != i:
                out[i] = "skip_duplicate"
                continue
            sh = py_shingles(text)
            mx = 0.0
            for e in ev:
                if e:
                    import math
                    r = len(sh & e) / len(e)
                    mx = max(mx, math.floor(r * 1e6 + 0.5) / 1e6)
            out[i] = ("skip_contaminated" if mx >= min_overlap
                      else "index_add")
        return out

    vocab = ("alpha beta gamma delta epsilon zeta eta theta iota "
             "kappa").split()
    for seed in range(4):
        rng = random.Random(seed)

        def doc():
            return " ".join(rng.choice(vocab)
                            for _ in range(rng.randint(1, 8)))

        ids = list(range(1, 21))
        old = {i: doc() for i in ids if rng.random() < 0.8}
        new = {}
        for i in ids:
            if rng.random() < 0.8:
                if i in old and rng.random() < 0.5:
                    new[i] = old[i]            # unchanged
                else:
                    new[i] = doc()             # added or changed
        eval_texts = [doc() for _ in range(3)]
        if not new or not (set(old) | set(new)):
            continue
        want = py_manifest(old, new, eval_texts)
        old_df = spark.createDataFrame(
            [Row(doc_id=i, text=t) for i, t in old.items()])
        new_df = spark.createDataFrame(
            [Row(doc_id=i, text=t) for i, t in new.items()])
        ev_df = spark.createDataFrame(
            [Row(doc_id=100 + j, text=t)
             for j, t in enumerate(eval_texts)])
        for bc in (True, False):
            got = {r.doc_id: r.action for r in
                   D.incremental_update_manifest(
                       old_df, new_df, ev_df, min_overlap=0.2,
                       broadcast_delta=bc).collect()}
            assert got == want, (seed, bc, got, want)


def test_spread_amp_and_nonfile_plans(spark, tmp_path):
    """_spread partition targets (r14): amp scales the bytes-derived
    target by the call site's downstream CPU amplification, and plans
    with NO input files (in-memory frames) keep the defaultParallelism
    target instead of collapsing to the 4-partition floor (ADVICE r13
    medium)."""
    dp = spark.sparkContext.defaultParallelism
    # file-backed single-file input, ~200 KB -> amp=1 gives a small
    # bytes-derived target; amp=16 must clear defaultParallelism's cap
    import os
    import random

    import pandas as pd
    rng = random.Random(7)
    words = ["".join(rng.choices("abcdefghij", k=8)) for _ in range(5000)]
    pdf = pd.DataFrame({"doc_id": range(2000),
                        "text": [" ".join(rng.choices(words, k=20))
                                 for _ in range(2000)]})
    p = str(tmp_path / "docs.parquet")
    pdf.to_parquet(p, compression=None)
    nbytes = os.path.getsize(p)
    df = spark.read.parquet(p)
    n1 = localdf._spread(df, "doc_id", amp=1).rdd.getNumPartitions()
    n16 = localdf._spread(df, "doc_id", amp=16).rdd.getNumPartitions()
    want = lambda amp: max(4, min(dp, -(-nbytes * amp // localdf._SPREAD_BYTES)))
    assert n16 == want(16), (n16, nbytes)
    assert n1 == want(1), (n1, nbytes)
    assert n1 <= n16
    # non-file-backed plan (inputFiles() == [] without raising): the
    # byte clamp must NOT fire -> spread to defaultParallelism
    mem = spark.createDataFrame(pdf).coalesce(1)
    assert mem.inputFiles() == []
    nm = localdf._spread(mem, "doc_id").rdd.getNumPartitions()
    assert nm == dp, nm
    # values are partitioning-invariant: same fingerprint rows either way
    a = sorted(r.fp for r in D.winnow_fingerprints(
        df.limit(30)).collect())
    b = sorted(r.fp for r in D.winnow_fingerprints(
        mem.limit(30)).collect())
    assert a == b


def test_minhash_fold_matches_explode_groupby_reference(spark):
    """r14: the one-pass fold signature must be bit-identical to the
    r13 explode -> groupBy(K mins) -> left-join reference, including
    empty and null texts, for both include_empty settings."""
    import random

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from dotnetvectorsearch_spark.functions.text import word_shingles

    rng = random.Random(99)
    words = ["w%03d" % i for i in range(60)]
    rows = [Row(doc_id=i,
                text=" ".join(rng.choices(words,
                                          k=rng.randrange(0, 30))))
            for i in range(40)]
    rows += [Row(doc_id=100, text=""), Row(doc_id=101, text=None),
             Row(doc_id=102, text="one two")]          # < shingle_n
    docs = spark.createDataFrame(rows)

    for k, include_empty in ((16, True), (8, False), (64, True)):
        got = {r.doc_id: list(r.minhash) for r in
               N.minhash_signatures(docs, "text", "doc_id", k, 3,
                                    include_empty=include_empty)
               .collect()}
        sh = docs.select("doc_id",
                         word_shingles("text", 3).alias("sh"))
        exploded = (sh.select("doc_id", F.explode("sh").alias("__s"))
                    .select("doc_id", F.xxhash64("__s").alias("__h")))
        mins = [F.min(F.xxhash64(F.col("__h")
                                 .bitwiseXOR(F.lit(N._salt(j)))))
                .alias(f"m{j}") for j in range(k)]
        ref_rows = exploded.groupBy("doc_id").agg(*mins).collect()
        ref = {r.doc_id: [r[f"m{j}"] for j in range(k)]
               for r in ref_rows}
        if include_empty:
            empty = [2 ** 63 - 1] * k
            for r in rows:
                ref.setdefault(r.doc_id, empty)
        assert got == ref, (k, include_empty)
