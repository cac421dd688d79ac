"""ANN tests: recall vs brute force, partition pruning, determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dotnetvectorsearch_spark.operators import ann as A
from dotnetvectorsearch_spark.sources.io import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def qvec(emb):
    return list(emb.filter(F.col("vec_id") == 0).collect()[0].embedding)


@pytest.fixture(scope="module")
def exact_top10(emb, qvec):
    return [r.vec_id for r in A.brute_force_topk(emb, qvec, 10).collect()]


def test_brute_force_self_first(emb, qvec, exact_top10):
    assert exact_top10[0] == 0


def test_ivf_recall(emb, qvec, exact_top10):
    idx = A.IVFIndex(n_cells=8, nprobe=4).fit(emb)
    got = [r.vec_id for r in idx.search(idx.transform(emb), qvec, 10).collect()]
    recall = len(set(got) & set(exact_top10)) / 10
    assert got[0] == 0
    assert recall >= 0.5


def test_ivf_recall_monotone_in_nprobe(emb, qvec, exact_top10):
    """With exact-cosine rescoring, recall@k is non-decreasing in
    nprobe: candidate sets nest, and any candidate that displaces a
    true-top-k member from the approx top-k must itself be a true-top-k
    member (total order on scores). The ANN_CURVE.md sweep relies on
    this invariant."""
    idx = A.IVFIndex(n_cells=8, nprobe=1).fit(emb)
    indexed = idx.transform(emb)
    prev = -1.0
    for nprobe in (1, 2, 4, 8):
        idx.nprobe = nprobe
        got = {r.vec_id
               for r in idx.search(indexed, qvec, 10).collect()}
        recall = len(got & set(exact_top10)) / 10
        assert recall >= prev
        prev = recall
    assert prev == 1.0  # nprobe == n_cells scans everything -> exact


def test_ivf_deterministic(emb, qvec):
    a = A.IVFIndex(n_cells=8, nprobe=2, seed=7).fit(emb)
    b = A.IVFIndex(n_cells=8, nprobe=2, seed=7).fit(emb)
    assert (a.centroids == b.centroids).all()
    assert a.probe_cells(qvec) == b.probe_cells(qvec)


def test_ivf_partition_pruned_index(emb, qvec, tmp_path, spark):
    idx = A.IVFIndex(n_cells=8, nprobe=2).fit(emb)
    path = str(tmp_path / "ivf")
    idx.write(emb, path)
    indexed = spark.read.parquet(path)
    res = idx.search(indexed, qvec, 5)
    plan = res._jdf.queryExecution().executedPlan().toString()
    # the cell filter must reach the scan as a partition filter
    assert "PartitionFilters" in plan and "cell" in plan
    assert res.count() == 5


def test_ivfpq_recall_and_self_hit(emb, qvec, exact_top10):
    idx = A.IVFPQIndex(n_cells=8, nprobe=4, m=16, n_codes=32).fit(emb)
    got = [r.vec_id for r in
           idx.search(idx.transform(emb), qvec, 10, rescore=emb,
                      shortlist=100).collect()]
    assert got[0] == 0                       # exact rescore finds self
    assert len(set(got) & set(exact_top10)) / 10 >= 0.5


def test_ivfpq_written_index_prunes_partitions_and_columns(
        emb, qvec, tmp_path, spark):
    idx = A.IVFPQIndex(n_cells=8, nprobe=2, m=16, n_codes=32).fit(emb)
    path = str(tmp_path / "ivfpq")
    idx.write(emb, path)
    indexed = spark.read.parquet(path)
    assert set(indexed.columns) == {"vec_id", "pq_codes", "cell"}
    res = idx.search(indexed, qvec, 5)
    plan = res._jdf.queryExecution().executedPlan().toString()
    # probe-set pruning reaches the scan as a partition filter, and the
    # scan reads only id+codes (the float vectors are not in the index)
    assert "PartitionFilters" in plan and "cell" in plan
    assert res.count() == 5


def test_ivfpq_residual_coding_beats_raw_quantization(spark):
    """Residual coding's claim (Jegou'11 IVFADC): at equal (m, n_codes)
    the PQ budget spent on ``unit(v) - centroid[cell]`` reconstructs
    better than on the raw vector, because the coarse quantizer already
    explained the cell-level structure. Pinned on a CLUSTERED corpus
    (where cells carry real structure; on the near-uniform random
    fixture centroids are ~0 and the two codings coincide up to noise)."""
    import numpy as np
    rng = np.random.RandomState(0)
    d, nc = 64, 8
    centers = rng.standard_normal((nc, d))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = np.repeat(centers, 80, axis=0) \
        + 0.15 * rng.standard_normal((nc * 80, d))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    clustered = spark.createDataFrame(
        [(int(i), [float(x) for x in pts[i]]) for i in range(len(pts))],
        "vec_id long, embedding array<float>").cache()
    kw = dict(n_cells=8, nprobe=4, m=8, n_codes=16)
    raw = A.IVFPQIndex(coding="raw", **kw).fit(clustered)
    res = A.IVFPQIndex(coding="residual", **kw).fit(clustered)
    mse_raw = raw.reconstruction_mse(raw.transform(clustered)) \
        .collect()[0].mse
    mse_res = res.reconstruction_mse(res.transform(clustered)) \
        .collect()[0].mse
    assert mse_res < mse_raw  # with cell-MEAN bases this holds even on
    # near-uniform data (sf0.01 embeddings: 0.115 vs 0.129); on this
    # clustered fixture the gap is wider
    # exact-rescore search still finds self and valid top-k in both modes
    qv = [float(x) for x in pts[0]]
    got = [r.vec_id for r in
           res.search(res.transform(clustered), qv, 5,
                      rescore=clustered, shortlist=100).collect()]
    assert got[0] == 0
    clustered.unpersist()


def test_ivfpq_residual_adc_matches_decomposed_score(emb, qvec):
    """The residual ADC score offset[cell] + sum_j lut[j][code_j] must
    equal q . (centroid[cell] + decoded_residual) — i.e. the per-cell
    offset trick is exact, not an approximation on top of PQ."""
    import numpy as np
    idx = A.IVFPQIndex(n_cells=8, nprobe=8, m=16, n_codes=32,
                       coding="residual").fit(emb)
    t = idx.transform(emb)
    approx = {r.vec_id: r.approx_similarity
              for r in idx.search(t, qvec, 5).collect()}
    rows = {r.vec_id: r for r in
            t.filter(F.col("vec_id").isin(list(approx))).collect()}
    q = np.asarray(qvec, dtype=np.float32)
    q /= np.linalg.norm(q)
    for vid, score in approx.items():
        r = rows[vid]
        dec = np.concatenate([idx.pq.codebooks[j, r.pq_codes[j]]
                              for j in range(idx.pq.m)])
        expect = float(q @ (idx.cell_means[r.cell] + dec))
        assert abs(score - expect) < 1e-4


def test_lsh_recall(emb, qvec, exact_top10):
    lsh = A.HyperplaneLSH(num_planes=8).fit(dim=len(qvec))
    got = [r.vec_id
           for r in lsh.search(lsh.transform(emb), qvec, 10,
                               multiprobe_bits=2).collect()]
    assert got[0] == 0
    # synthetic embeddings are near-uniform random (true neighbors at
    # cosine ~0.3), the hardest case for hyperplane LSH — require only
    # that it beats random candidate sampling (expected recall ~0.06
    # for the ~6% candidate fraction the probes select)
    assert len(set(got) & set(exact_top10)) / 10 >= 0.2


def test_lsh_candidate_reduction(emb, qvec):
    lsh = A.HyperplaneLSH(num_planes=8).fit(dim=len(qvec))
    bucketed = lsh.transform(emb)
    n_cand = bucketed.filter(
        F.col("bucket").isin(lsh.probe_buckets(qvec, 1))).count()
    assert 0 < n_cand < emb.count()


def test_lsh_bucket_matches_sequential_double_reference(spark, emb):
    """HyperplaneLSH.bucket (one Catalyst expression) equals a numpy
    strict left-to-right float64 sum on every row, for seeded planes
    (8 and 12) and md5 planes (8 bits, tables 0-2);
    probe_buckets(v, 0) is each row's own bucket; a null vector gets a
    null bucket (never a candidate)."""
    import numpy as np
    rows = emb.select("vec_id", "embedding").collect()
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    dim = mat.shape[1]
    cores = [A.HyperplaneLSH(num_planes=n).fit(dim) for n in (8, 12)]
    cores += [A.HyperplaneLSH.md5(8, dim, offset=8 * t) for t in range(3)]
    for lsh in cores:
        assert lsh.planes.dtype == np.float64
        acc = np.zeros((len(mat), lsh.num_planes))
        for j in range(dim):
            acc += mat[:, j, None] * lsh.planes[None, :, j]
        want = (acc > 0) @ (1 << np.arange(lsh.num_planes))
        got = dict(lsh.transform(emb).select("vec_id", "bucket").collect())
        for r, w in zip(rows, want):
            assert got[r.vec_id] == w
            assert lsh.probe_buckets(r.embedding, 0) == [w]
    nulls = spark.createDataFrame([(1, None)],
                                  "vec_id long, embedding array<float>")
    assert cores[0].transform(nulls).collect()[0].bucket is None


def test_probe_masks_order():
    assert A.probe_masks(3, 0) == [0]
    assert A.probe_masks(3, 2) == [0, 1, 2, 4, 3, 5, 6]


def test_pq_codes_shape_and_range(emb, qvec):
    pq = A.PQIndex(m=8, n_codes=16).fit(emb)
    row = pq.transform(emb).filter(F.col("vec_id") == 0).collect()[0]
    assert len(row.pq_codes) == 8
    assert all(0 <= c < 16 for c in row.pq_codes)


def test_pq_recall_and_self_hit(emb, qvec, exact_top10):
    pq = A.PQIndex(m=16, n_codes=64).fit(emb)
    encoded = pq.transform(emb)
    got = [r.vec_id for r in pq.search(encoded, qvec, 10).collect()]
    assert got[0] == 0  # ADC keeps the query's own vector on top
    # near-uniform random vectors are the worst case for PQ; ADC-only must
    # clearly beat random overlap with the exact top-10
    assert len(set(got) & set(exact_top10)) / 10 >= 0.3
    # the production two-stage plan (ADC shortlist -> exact rescore of
    # ~5% of the corpus) should recover (almost) all true neighbors
    got_rescored = [r.vec_id
                    for r in pq.search(encoded, qvec, 10, rescore=emb,
                                       shortlist=100).collect()]
    assert len(set(got_rescored) & set(exact_top10)) / 10 >= 0.8


def test_pq_deterministic(emb, qvec):
    a = A.PQIndex(m=4, n_codes=8, seed=11).fit(emb)
    b = A.PQIndex(m=4, n_codes=8, seed=11).fit(emb)
    assert (a.codebooks == b.codebooks).all()
    assert (a.lookup_table(qvec) == b.lookup_table(qvec)).all()


def test_pq_rejects_indivisible_dim(emb):
    with pytest.raises(ValueError, match="not divisible"):
        A.PQIndex(m=7).fit(emb)


def test_raw_ivfpq_at_full_probe_equals_pq(emb, qvec):
    """Raw-coding IVF-PQ probing every cell is PQ over the whole corpus:
    same sample, same codebooks, same codes, same ADC plan — identical
    rows and scores, with and without the exact rescore."""
    kw = dict(m=16, n_codes=32, seed=5)
    pq = A.PQIndex(**kw).fit(emb, max_sample=300)
    ivfpq = A.IVFPQIndex(n_cells=8, nprobe=8, coding="raw", **kw) \
        .fit(emb, max_sample=300)
    assert (ivfpq.pq.codebooks == pq.codebooks).all()
    a_codes, b_codes = pq.transform(emb), ivfpq.transform(emb)
    for rescore in (None, emb):
        a = pq.search(a_codes, qvec, 10, rescore=rescore, shortlist=60)
        b = ivfpq.search(b_codes, qvec, 10, rescore=rescore, shortlist=60)
        assert [tuple(r) for r in a.collect()] == \
            [tuple(r) for r in b.collect()]


def test_trained_state_tables_keep_their_on_disk_format(emb, tmp_path):
    """Schema, row count and key order of every trained-state table:
    stores already persisted are read back by this layout, which a
    write/read round trip alone would not pin (both sides could change
    together)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    vec = pa.list_(pa.field("element", pa.float32()))
    i32 = pa.int32()
    books = [("subspace", i32), ("code", i32), ("centroid", vec)]
    A.IVFIndex(n_cells=4, nprobe=2).fit(emb).write(emb, f"{tmp_path}/ivf")
    A.IVFPQIndex(n_cells=4, nprobe=2, m=8, n_codes=16).fit(emb) \
        .write(emb, f"{tmp_path}/ivfpq")
    expect = {
        "ivf/_centroids": ([("cell", i32), ("centroid", vec),
                            ("nprobe", i32), ("seed", i32)], 4),
        "ivfpq/_meta/cells": ([("cell", i32), ("centroid", vec),
                               ("cell_mean", vec)], 4),
        "ivfpq/_meta/codebooks": (books, 8 * 16),
        "ivfpq/_meta/params": ([("coding", pa.string()), ("nprobe", i32),
                                ("seed", i32)], 1),
    }
    for rel, (fields, n) in expect.items():
        t = pq.read_table(f"{tmp_path}/{rel}")
        assert t.schema.equals(pa.schema(fields)), (rel, t.schema)
        assert t.num_rows == n, rel
    keys = pq.read_table(f"{tmp_path}/ivfpq/_meta/codebooks",
                         columns=["subspace", "code"]).to_pylist()
    assert [(r["subspace"], r["code"]) for r in keys] == \
        [(j, c) for j in range(8) for c in range(16)]
    cells = pq.read_table(f"{tmp_path}/ivfpq/_meta/cells").column("cell")
    assert cells.to_pylist() == [0, 1, 2, 3]
    assert pq.read_table(f"{tmp_path}/ivfpq/_meta/params").to_pylist() \
        == [{"coding": "residual", "nprobe": 2, "seed": 42}]


def test_centroids_by_exact_mean(spark):
    from pyspark.sql import Row
    df = spark.createDataFrame([
        Row(label=1, embedding=[1.0, 0.0]),
        Row(label=1, embedding=[0.0, 1.0]),
        Row(label=2, embedding=[2.0, 2.0]),
    ])
    out = {r.label: r.centroid for r in A.centroids_by(df, "label").collect()}
    assert out[1] == [0.5, 0.5]
    assert out[2] == [2.0, 2.0]


def test_centroid_drift_values_and_missing_groups(spark):
    """Identical snapshots drift 0 (cosine 1); a known shift produces
    the closed-form L2; groups on one side only surface with null
    drift and a zero count on the missing side."""
    import math
    from pyspark.sql import Row
    old = spark.createDataFrame([
        Row(label=1, embedding=[1.0, 0.0]),
        Row(label=1, embedding=[0.0, 1.0]),
        Row(label=3, embedding=[1.0, 1.0])])       # disappears
    new = spark.createDataFrame([
        Row(label=1, embedding=[1.5, 0.5]),
        Row(label=1, embedding=[0.5, 1.5]),        # centroid +0.5/dim
        Row(label=9, embedding=[2.0, 0.0])])       # appears
    out = {r.label: r for r in
           A.centroid_drift(old, new, "label").collect()}
    r1 = out[1]
    assert (r1.n_old, r1.n_new) == (2, 2)
    # old centroid (.5,.5) -> new (1,1): same direction, cosine 1
    assert r1.cosine_drift == 1.0
    assert r1.l2_drift == round(math.sqrt(0.25 + 0.25), 6)
    assert (out[3].n_new, out[3].cosine_drift) == (0, None)
    assert (out[9].n_old, out[9].l2_drift) == (0, None)


def test_ivf_refine_improves_centroid_fit(emb, qvec):
    """Distributed Lloyd refinement must not worsen the mean cosine
    between vectors and their assigned centroid (Lloyd monotonicity,
    modulo the float rounding in the exchange)."""
    import numpy as np

    def mean_assigned_cos(idx):
        rows = idx.transform(emb).select("embedding", "cell").collect()
        m = np.stack([np.asarray(r.embedding, dtype=np.float64)
                      for r in rows])
        m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        cents = idx.centroids[np.array([r.cell for r in rows])]
        return float((m * cents).sum(axis=1).mean())

    idx = A.IVFIndex(n_cells=8, nprobe=2, seed=3).fit(emb)
    before = mean_assigned_cos(idx)
    idx.refine(emb, iters=2)
    after = mean_assigned_cos(idx)
    assert after >= before - 1e-6
    # refined index still searches correctly
    got = [r.vec_id for r in idx.search(idx.transform(emb), qvec, 5)
           .collect()]
    assert got[0] == 0


def test_ivf_refine_deterministic(emb):
    a = A.IVFIndex(n_cells=4, nprobe=2, seed=9).fit(emb).refine(emb, iters=1)
    b = A.IVFIndex(n_cells=4, nprobe=2, seed=9).fit(emb).refine(emb, iters=1)
    assert (a.centroids == b.centroids).all()


def test_pq_write_read_roundtrip(emb, qvec, tmp_path, spark):
    """A persisted PQ index is a one-cell raw IVF-PQ store: it reloads
    to the in-memory PQIndex's codebooks and returns its search rows
    (the index is a storage artifact, not session state)."""
    pq = A.PQIndex(m=8, n_codes=32, seed=5).fit(emb)
    path = str(tmp_path / "pq")
    A.IVFPQIndex(n_cells=1, nprobe=1, coding="raw", m=8, n_codes=32,
                 seed=5).fit(emb).write(emb, path)
    loaded, rows = A.IVFPQIndex.read(spark, path)
    assert (loaded.pq.codebooks == pq.codebooks).all()
    before = [(r.vec_id, r.approx_similarity)
              for r in pq.search(pq.transform(emb), qvec, 5).collect()]
    after = [(r.vec_id, r.approx_similarity)
             for r in loaded.search(rows, qvec, 5).collect()]
    assert before == after


def test_group_diversity_matches_bruteforce_pairwise(spark):
    """The ||sum u||^2 identity must reproduce the literal O(n^2) mean
    pairwise cosine, and hit the exact endpoints for identical /
    orthogonal groups."""
    import itertools
    import numpy as np
    rng = np.random.RandomState(3)
    groups = {
        "same": [np.array([1.0, 0.0, 0.0, 0.0])] * 4,     # mpc = 1
        "ortho": [np.eye(4)[i] for i in range(4)],          # mpc = 0
        "rand": [rng.standard_normal(4) for _ in range(6)],
        "single": [rng.standard_normal(4)],                 # NULL
    }
    rows = [(g, [float(x) for x in v])
            for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "label string, embedding array<float>")
    got = {r.label: r for r in A.group_diversity(df, "label").collect()}
    assert got["same"].mean_pairwise_cosine == pytest.approx(1.0, abs=1e-6)
    assert got["ortho"].mean_pairwise_cosine == pytest.approx(0.0, abs=1e-6)
    assert got["single"].mean_pairwise_cosine is None
    # float32 storage: compare against pairwise over the ROUND-TRIPPED
    # float vectors
    vs = [np.asarray(v, dtype=np.float32).astype(np.float64)
          for v in groups["rand"]]
    us = [v / np.linalg.norm(v) for v in vs]
    expect = np.mean([u @ w for u, w in itertools.combinations(us, 2)])
    assert got["rand"].mean_pairwise_cosine == pytest.approx(
        float(expect), abs=1e-6)
    assert got["rand"].n == 6


def test_ivf_index_write_read_roundtrip_same_results(spark, sf_dir,
                                                     tmp_path):
    from dotnetvectorsearch_spark.operators.ann import IVFIndex
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(x) for x in
          emb.filter("vec_id = 0").collect()[0].embedding]
    idx = IVFIndex(n_cells=8, nprobe=3).fit(emb)
    path = str(tmp_path / "ivf_idx")
    idx.write(emb, path)
    # fresh-session simulation: everything restored from disk
    idx2, rows2 = IVFIndex.read(spark, path)
    assert idx2.nprobe == idx.nprobe and idx2.n_cells == idx.n_cells
    import numpy as np
    assert np.allclose(idx2.centroids, idx.centroids)
    a = [(r.vec_id, r.similarity) for r in
         idx.search(idx.transform(emb), qv, k=5).collect()]
    b = [(r.vec_id, r.similarity) for r in
         idx2.search(rows2, qv, k=5).collect()]
    assert a == b
    # the _centroids side-table must be invisible to a plain data scan
    assert "centroid" not in spark.read.parquet(path).columns


def test_ivfpq_index_write_read_roundtrip_same_results(spark, sf_dir,
                                                       tmp_path):
    import numpy as np

    from dotnetvectorsearch_spark.operators.ann import IVFPQIndex
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(x) for x in
          emb.filter("vec_id = 0").collect()[0].embedding]
    idx = IVFPQIndex(n_cells=8, nprobe=3, m=8, coding="residual").fit(emb)
    path = str(tmp_path / "ivfpq_idx")
    idx.write(emb, path)
    idx2, rows2 = IVFPQIndex.read(spark, path)
    assert idx2.coding == "residual"
    assert np.allclose(idx2.ivf.centroids, idx.ivf.centroids)
    assert np.allclose(idx2.cell_means, idx.cell_means)
    assert np.allclose(idx2.pq.codebooks, idx.pq.codebooks)
    a = [(r.vec_id, r.similarity) for r in
         idx.search(idx.transform(emb), qv, k=5, rescore=emb).collect()]
    b = [(r.vec_id, r.similarity) for r in
         idx2.search(rows2, qv, k=5, rescore=emb).collect()]
    assert a == b


def test_kmeans_rewrite_bit_identical_to_naive_reference():
    """The running-min k-means++ seeding and stable-grouped Lloyd pass
    must be BIT-IDENTICAL to the naive textbook form they replaced
    (elementwise min is exact; stable argsort grouping feeds np.mean
    the same operand sequence as boolean masking)."""
    import numpy as np

    from dotnetvectorsearch_spark.operators.ann import (
        _kmeans_fit, _kmeans_fit_plain)

    def naive_fit(sample, n_cells, seed, iters=15):
        rng = np.random.RandomState(seed)
        x = sample / np.maximum(
            np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
        n = len(x)
        n_cells = min(n_cells, n)
        centroids = [x[rng.randint(n)]]
        for _ in range(1, n_cells):
            d2 = np.min(
                [np.sum((x - c) ** 2, axis=1) for c in centroids], axis=0)
            s = d2.sum()
            probs = d2 / s if s > 0 else np.full(n, 1.0 / n)
            centroids.append(x[rng.choice(n, p=probs)])
        cent = np.stack(centroids)
        for _ in range(iters):
            assign = np.argmax(x @ cent.T, axis=1)
            for c in range(n_cells):
                mask = assign == c
                if mask.any():
                    m = x[mask].mean(axis=0)
                    cent[c] = m / max(np.linalg.norm(m), 1e-12)
        return cent.astype(np.float32)

    def naive_fit_plain(sample, n_codes, seed, iters=15):
        rng = np.random.RandomState(seed)
        x = sample.astype(np.float32)
        n = len(x)
        n_codes = min(n_codes, n)
        centroids = [x[rng.randint(n)]]
        for _ in range(1, n_codes):
            d2 = np.min(
                [np.sum((x - c) ** 2, axis=1) for c in centroids], axis=0)
            s = d2.sum()
            probs = d2 / s if s > 0 else np.full(n, 1.0 / n)
            centroids.append(x[rng.choice(n, p=probs)])
        cent = np.stack(centroids)
        for _ in range(iters):
            d2 = (np.sum(x ** 2, axis=1, keepdims=True)
                  - 2.0 * (x @ cent.T) + np.sum(cent ** 2, axis=1))
            assign = np.argmin(d2, axis=1)
            for c in range(len(cent)):
                mask = assign == c
                if mask.any():
                    cent[c] = x[mask].mean(axis=0)
        return cent.astype(np.float32)

    rng = np.random.RandomState(123)
    sample = rng.randn(500, 32).astype(np.float32)
    for k in (3, 16, 64):
        a = _kmeans_fit(sample, k, seed=42)
        b = naive_fit(sample, k, seed=42)
        assert a.shape == b.shape and (a == b).all(), f"spherical k={k}"
        a = _kmeans_fit_plain(sample, k, seed=42)
        b = naive_fit_plain(sample, k, seed=42)
        assert a.shape == b.shape and (a == b).all(), f"plain k={k}"
    # degenerate: duplicated points (zero distances -> uniform pick)
    dup = np.repeat(rng.randn(4, 8).astype(np.float32), 20, axis=0)
    a = _kmeans_fit_plain(dup, 8, seed=7)
    b = naive_fit_plain(dup, 8, seed=7)
    assert (a == b).all()
