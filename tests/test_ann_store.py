"""Build-once / serve-many ANN index store (operators/ann_store.py).

Pins the serve contract: serving a PERSISTED index returns the same
top-k as the fit-in-query path (deterministic seeded fit), a fresh
store is a no-op, and a changed corpus or params fingerprint triggers
a rebuild instead of silently serving a stale index."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from dotnetvectorsearch_spark.operators import ann_store
from dotnetvectorsearch_spark.operators.ann import (
    IVFIndex, IVFPQIndex, PQIndex)
from dotnetvectorsearch_spark.sources.io import load_table


@pytest.fixture(scope="module")
def store_root(tmp_path_factory):
    return str(tmp_path_factory.mktemp("ann_index"))


@pytest.fixture(scope="module")
def qv(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter("vec_id = 0").collect()[0].embedding


def _ids(df):
    return [r.vec_id for r in df.collect()]


def test_build_then_noop(spark, sf_dir, store_root):
    path, built = ann_store.ensure_index(spark, sf_dir, "ivf",
                                         root=store_root)
    assert built
    assert (Path(path) / "_fingerprint.json").exists()
    path2, built2 = ann_store.ensure_index(spark, sf_dir, "ivf",
                                           root=store_root)
    assert path2 == path and not built2


def test_stale_marker_rebuilds(spark, sf_dir, store_root):
    path, _ = ann_store.ensure_index(spark, sf_dir, "ivf",
                                     root=store_root)
    marker = Path(path) / "_fingerprint.json"
    stamp = json.loads(marker.read_text())
    stamp["fingerprint"] = "deadbeef"
    marker.write_text(json.dumps(stamp))
    _, built = ann_store.ensure_index(spark, sf_dir, "ivf",
                                      root=store_root)
    assert built  # fingerprint mismatch -> rebuild


def test_unknown_kind_raises(spark, sf_dir, store_root):
    with pytest.raises(ValueError, match="unknown index kind"):
        ann_store.ensure_index(spark, sf_dir, "hnsw", root=store_root)


def test_serve_ivf_matches_fit_in_query(spark, sf_dir, store_root, qv):
    emb = load_table(spark, sf_dir, "embeddings")
    p = ann_store.INDEX_PARAMS["ivf"]
    fresh = IVFIndex(n_cells=p["n_cells"], nprobe=p["nprobe"]).fit(
        emb, max_sample=p["max_sample"])
    expect = _ids(fresh.search(fresh.transform(emb), qv, k=10))
    got = _ids(ann_store.serve_topk(spark, sf_dir, "ivf", qv, k=10,
                                    root=store_root))
    assert got == expect and len(got) == 10


def test_serve_pq_matches_fit_in_query(spark, sf_dir, store_root, qv):
    emb = load_table(spark, sf_dir, "embeddings")
    p = ann_store.INDEX_PARAMS["pq"]
    fresh = PQIndex(m=p["m"], n_codes=p["n_codes"]).fit(
        emb, max_sample=p["max_sample"])
    expect = _ids(fresh.search(fresh.transform(emb), qv, 10,
                               rescore=emb, shortlist=200))
    got = _ids(ann_store.serve_topk(spark, sf_dir, "pq", qv, k=10,
                                    shortlist=200, root=store_root))
    assert got == expect and len(got) == 10


def test_serve_ivfpq_matches_fit_in_query(spark, sf_dir, store_root, qv):
    emb = load_table(spark, sf_dir, "embeddings")
    p = ann_store.INDEX_PARAMS["ivfpq"]
    fresh = IVFPQIndex(n_cells=p["n_cells"], nprobe=p["nprobe"],
                       m=p["m"], n_codes=p["n_codes"]).fit(
        emb, max_sample=p["max_sample"])
    expect = _ids(fresh.search(fresh.transform(emb), qv, 10,
                               rescore=emb, shortlist=200))
    got = _ids(ann_store.serve_topk(spark, sf_dir, "ivfpq", qv, k=10,
                                    shortlist=200, root=store_root))
    assert got == expect and len(got) == 10


def test_registry_serve_queries(spark, sf_dir, store_root, monkeypatch):
    """The ann_*_serve registry entries run and agree with their
    fit-in-query cousins at the same (spark, sf_dir)."""
    monkeypatch.setenv("SPARK_GRAFT_INDEX_ROOT", store_root)
    import __spark_entry__ as entry
    qs = entry.queries()
    for serve, topk in [("ann_ivf_serve", "ann_ivf_topk"),
                        ("ann_pq_serve", "ann_pq_topk"),
                        ("ann_ivfpq_serve", "ann_ivfpq_topk")]:
        got = _ids(qs[serve](spark, sf_dir))
        expect = _ids(qs[topk](spark, sf_dir))
        assert got == expect, (serve, got, expect)


@pytest.fixture(scope="module")
def ivf_and_panel(spark, sf_dir, store_root):
    path, _ = ann_store.ensure_index(spark, sf_dir, "ivf",
                                     root=store_root)
    idx, rows = IVFIndex.read(spark, path)
    emb = load_table(spark, sf_dir, "embeddings")
    panel = [(r.vec_id, list(r.embedding)) for r in
             emb.filter("vec_id % 25 = 7")
             .select("vec_id", "embedding").collect()]
    return idx, rows.persist(), panel


def test_nprobe_recall_curve_monotone_and_exact_at_full_probe(
        ivf_and_panel):
    idx, rows, panel = ivf_and_panel
    curve = ann_store.nprobe_recall_curve(idx, rows, panel, k=10)
    assert sorted(curve) == list(range(1, idx.n_cells + 1))
    vals = [curve[p] for p in sorted(curve)]
    assert all(b >= a for a, b in zip(vals, vals[1:]))  # monotone
    assert vals[-1] == 1.0       # full probe == exact scan
    assert vals[0] < 1.0         # sanity: nprobe=1 actually loses


def test_nprobe_recall_curve_matches_direct_ivf_measurement(
        spark, ivf_and_panel):
    """The one-scan closed form must equal recall measured by actually
    running the IVF serve (ivf_topk_panel) at each probe setting."""
    from dotnetvectorsearch_spark.operators.ann import (
        IVFIndex as IVF, ivf_topk_panel)
    from dotnetvectorsearch_spark.operators.search import (
        topk_per_query_arrow)
    idx, rows, panel = ivf_and_panel
    curve = ann_store.nprobe_recall_curve(idx, rows, panel, k=10)
    exact_sets: dict[int, set] = {}
    exact = topk_per_query_arrow(rows, panel, k=10, round_digits=6,
                                 exclude_self=True)
    for r in exact.select("qid", "vec_id").collect():
        exact_sets.setdefault(r.qid, set()).add(r.vec_id)
    for p in (1, 2, idx.n_cells // 2, idx.n_cells):
        probe = IVF(n_cells=idx.n_cells, nprobe=p, seed=idx.seed)
        probe.centroids = idx.centroids
        tk = ivf_topk_panel(rows, probe, panel, k=10,
                            exclude_self=True, round_digits=6)
        got: dict[int, set] = {}
        for r in tk.select("qid", "vec_id").collect():
            got.setdefault(r.qid, set()).add(r.vec_id)
        rec = sum(len(got.get(q, set()) & s) / 10
                  for q, s in exact_sets.items()) / len(exact_sets)
        assert round(rec, 4) == curve[p], (p, rec, curve[p])


def test_choose_nprobe_picks_smallest_meeting_target(ivf_and_panel):
    idx, rows, panel = ivf_and_panel
    chosen, curve = ann_store.choose_nprobe(idx, rows, panel,
                                            target_recall=0.9, k=10)
    assert curve[chosen] >= 0.9
    assert all(curve[p] < 0.9 for p in curve if p < chosen)
    # unreachable target -> full probe (exact) fallback
    full, _ = ann_store.choose_nprobe(idx, rows, panel,
                                      target_recall=1.01, k=10)
    assert full == idx.n_cells


def test_ann_nprobe_tuning_registry_query(spark, sf_dir, store_root,
                                          monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_INDEX_ROOT", store_root)
    import __spark_entry__ as entry
    rows = entry.queries()["ann_nprobe_tuning"](spark, sf_dir).collect()
    by_p = {r.nprobe: r for r in rows}
    assert len(rows) == len(by_p) > 0
    chosen = [r for r in rows if r.chosen]
    assert len(chosen) == 1
    c = chosen[0]
    # the chosen point meets the 0.9 target unless it's the full-probe
    # fallback; nothing smaller meets it
    assert c.recall_at_10 >= 0.9 or c.nprobe == max(by_p)
    assert all(r.recall_at_10 < 0.9 for r in rows if r.nprobe < c.nprobe)


@pytest.fixture(scope="module")
def ivfpq_and_panel(spark, sf_dir, store_root):
    path, _ = ann_store.ensure_index(spark, sf_dir, "ivfpq",
                                     root=store_root)
    idx, prows = IVFPQIndex.read(spark, path)
    emb = load_table(spark, sf_dir, "embeddings") \
        .select("vec_id", "embedding").persist()
    panel = [(r.vec_id, list(r.embedding)) for r in
             emb.filter("vec_id % 25 = 7").collect()]
    return idx, prows.persist(), emb, panel


def test_ivfpq_recall_curve_matches_direct_serve(spark,
                                                 ivfpq_and_panel):
    """The one-pass shortlist-rank closed form must equal recall
    measured by ACTUALLY running the IVF+PQ serve (probe -> ADC
    shortlist -> exact rescore, the ANN_QUALITY serve-k+1/drop-self
    protocol) at each probe setting — the validation VERDICT r11 #4
    demanded before trusting the shortcut on the ADC tier."""
    from dotnetvectorsearch_spark.operators.search import (
        topk_per_query_arrow)
    idx, prows, emb, panel = ivfpq_and_panel
    k = 10
    curve = ann_store.ivfpq_recall_curve(idx, prows, emb, panel, k=k,
                                         shortlist=50)
    exact_sets: dict[int, set] = {}
    exact = topk_per_query_arrow(emb, panel, k=k, round_digits=6,
                                 exclude_self=True)
    for r in exact.select("qid", "vec_id").collect():
        exact_sets.setdefault(r.qid, set()).add(r.vec_id)
    for p in (1, 4, idx.ivf.n_cells):
        probe = IVFPQIndex(n_cells=idx.ivf.n_cells, nprobe=p,
                           m=idx.pq.m,
                           n_codes=idx.pq.codebooks.shape[1],
                           seed=idx.pq.seed, coding=idx.coding)
        probe.ivf.centroids = idx.ivf.centroids
        probe.pq.codebooks = idx.pq.codebooks
        probe.cell_means = idx.cell_means
        hit = 0
        for qid, qvec in panel:
            rows = probe.search(prows, qvec, k + 1, rescore=emb,
                                shortlist=50).collect()
            got: list[int] = []
            for r in rows:                  # ordered (sim desc, id asc)
                if r.vec_id == qid:
                    continue
                got.append(r.vec_id)
                if len(got) == k:
                    break
            hit += len(set(got) & exact_sets.get(qid, set()))
        rec = round(hit / (len(panel) * k), 4)
        assert rec == curve[p], (p, rec, curve[p])


def test_choose_nprobe_ivfpq_meets_target(ivfpq_and_panel):
    idx, prows, emb, panel = ivfpq_and_panel
    chosen, curve = ann_store.choose_nprobe_ivfpq(
        idx, prows, emb, panel, target_recall=0.9, k=10)
    assert sorted(curve) == list(range(1, idx.ivf.n_cells + 1))
    if curve[chosen] >= 0.9:
        assert all(curve[p] < 0.9 for p in curve if p < chosen)
    else:  # best-effort fallback: shortlist cut caps the tier
        assert chosen == idx.ivf.n_cells
        assert all(curve[p] < 0.9 for p in curve)


def test_serve_topk_nprobe_override(spark, sf_dir, store_root, qv):
    """A tuned nprobe applies to an already-written index at SERVE
    time, no rebuild: full probe == the exact brute-force top-k, and
    an explicit override does not touch persisted state (a subsequent
    no-arg serve probes the store DEFAULT: the marker's tuned width
    when `tune_store_nprobe` has run, else the fitted width)."""
    from dotnetvectorsearch_spark.operators.ann import brute_force_topk
    from dotnetvectorsearch_spark.sources.io import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    n_cells = ann_store.INDEX_PARAMS["ivf"]["n_cells"]
    full = ann_store.serve_topk(spark, sf_dir, "ivf", qv, k=5,
                                root=store_root, nprobe=n_cells)
    exact = brute_force_topk(emb, qv, k=5)
    assert _ids(full) == _ids(exact)
    path = ann_store.index_path(sf_dir, "ivf", store_root)
    tuned = ann_store.read_store_meta(path).get("tuned")
    default_width = (int(tuned["nprobe"]) if tuned
                     else ann_store.INDEX_PARAMS["ivf"]["nprobe"])
    default_again = ann_store.serve_topk(spark, sf_dir, "ivf", qv,
                                         k=5, root=store_root)
    explicit = ann_store.serve_topk(
        spark, sf_dir, "ivf", qv, k=5, root=store_root,
        nprobe=default_width)
    assert _ids(default_again) == _ids(explicit)


def test_tune_store_nprobe_persists_serve_default(spark, sf_dir,
                                                  tmp_path, qv):
    """judge r12 #6 end-to-end: `tune_store_nprobe` writes the chosen
    width into the store marker; a no-arg `serve_topk` then serves at
    the tuned operating point with NO caller knowledge (== an explicit
    nprobe=<tuned> serve, != the fitted default when they differ);
    a rebuild (stale fingerprint) DROPS the tuned block so a stale
    tune never outlives the index it was measured on."""
    root = str(tmp_path / "tuned_store")
    chosen, curve = ann_store.tune_store_nprobe(
        spark, sf_dir, "ivf", target_recall=0.9, k=10, root=root)
    path = ann_store.index_path(sf_dir, "ivf", root)
    meta = ann_store.read_store_meta(path)
    assert meta["tuned"]["nprobe"] == chosen
    assert meta["tuned"]["target_recall"] == 0.9
    assert meta["tuned"]["measured_recall"] == curve.get(chosen)
    no_arg = ann_store.serve_topk(spark, sf_dir, "ivf", qv, k=10,
                                  root=root)
    explicit = ann_store.serve_topk(spark, sf_dir, "ivf", qv, k=10,
                                    root=root, nprobe=chosen)
    assert _ids(no_arg) == _ids(explicit)
    # discriminating power: find a query where the fitted and tuned
    # widths return DIFFERENT top-10s (a single qv can coincide), and
    # pin that the no-arg serve sides with the tuned width there
    fitted = ann_store.INDEX_PARAMS["ivf"]["nprobe"]
    if chosen != fitted:
        from dotnetvectorsearch_spark.sources.io import load_table
        emb = load_table(spark, sf_dir, "embeddings")
        cands = [list(r.embedding) for r in
                 emb.filter("vec_id % 25 = 3").limit(8).collect()]
        for cv in cands:
            at_fitted = _ids(ann_store.serve_topk(
                spark, sf_dir, "ivf", cv, k=10, root=root,
                nprobe=fitted))
            at_chosen = _ids(ann_store.serve_topk(
                spark, sf_dir, "ivf", cv, k=10, root=root,
                nprobe=chosen))
            if at_fitted != at_chosen:
                assert _ids(ann_store.serve_topk(
                    spark, sf_dir, "ivf", cv, k=10,
                    root=root)) == at_chosen
                break
        else:
            pytest.fail("no panel query separated the fitted and "
                        "tuned widths — widen the candidate slice")
    # rebuild drops the tuned block: stale marker -> ensure_index
    # rewrites it with build fields only
    marker = Path(path) / "_fingerprint.json"
    stale = json.loads(marker.read_text())
    stale["fingerprint"] = "stale"
    marker.write_text(json.dumps(stale))
    _, rebuilt = ann_store.ensure_index(spark, sf_dir, "ivf",
                                        root=root)
    assert rebuilt
    assert "tuned" not in ann_store.read_store_meta(path)


def test_index_health_and_compact(spark, sf_dir, tmp_path):
    """Maintenance loop on a MANAGED (manifest-versioned) store: a
    fresh store is unflagged; published appends trip the per-cell file
    bound; compact_index publishes a compacted snapshot with identical
    search results; retired files stay until gc_snapshots and GC
    preserves the current snapshot exactly."""
    root = str(tmp_path / "store")
    health = ann_store.index_health(spark, sf_dir, "ivf", root=root)
    rows = health.collect()
    assert 0 < len(rows) <= ann_store.INDEX_PARAMS["ivf"]["n_cells"]
    assert all(not r.fragmented for r in rows)
    assert all(r.n_rows > 0 for r in rows)
    path = ann_store.index_path(sf_dir, "ivf", root)
    # ensure_index published the build snapshot
    assert ann_store.current_snapshot_version(path) == 1
    # simulate 9 streamed append triggers: small files pile up per
    # cell; each append PUBLISHES (the managed-store append contract)
    idx, _ = IVFIndex.read(spark, path)
    emb = load_table(spark, sf_dir, "embeddings") \
        .select("vec_id", "embedding")
    for i in range(9):
        (idx.transform(emb)
         .write.mode("append").partitionBy("cell").parquet(path))
        ann_store.publish_snapshot(path, note=f"append {i}")
    assert ann_store.current_snapshot_version(path) == 10
    frag = ann_store.index_health(spark, sf_dir, "ivf", root=root)
    assert any(r.fragmented for r in frag.collect())
    # search parity: same query before/after compaction (duplicates
    # from the repeated append included — compaction must not drop or
    # reorder anything). Reads go through the SNAPSHOT, like serve.
    qv = emb.filter("vec_id = 3").collect()[0].embedding
    def _topk():
        i2, _ = IVFIndex.read(spark, path)
        return [(r.vec_id, r.similarity)
                for r in i2.search(
                    ann_store.read_store_rows(spark, path),
                    qv, k=15).collect()]
    want = _topk()
    pre_disk = len(ann_store._data_files(path))
    n = ann_store.compact_index(spark, path)
    assert n > 0
    assert _topk() == want
    after = ann_store.index_health(spark, sf_dir, "ivf", root=root)
    arows = after.collect()
    assert all(r.n_files == 1 for r in arows)
    assert all(not r.fragmented for r in arows)
    # nothing deleted yet: retired files coexist with compacted ones
    # (readers pinned to older snapshots stay consistent) ...
    assert len(ann_store._data_files(path)) == pre_disk + n
    # ... until GC drops the old snapshots and ONLY their files
    gc = ann_store.gc_snapshots(path, keep_last=1)
    assert gc["deleted_files"] == pre_disk
    assert len(ann_store._data_files(path)) == n
    assert _topk() == want


def _append_sliver(spark, sf_dir, path):
    """Append and publish a slice of the corpus, so some cells hold more
    than one file and the next compaction has work to do (a no-op
    compaction publishes nothing)."""
    idx, _ = IVFIndex.read(spark, path)
    emb = load_table(spark, sf_dir, "embeddings") \
        .select("vec_id", "embedding")
    idx.append(emb.filter("vec_id % 7 = 3"), path)
    ann_store.publish_snapshot(path, note="sliver")


def test_noop_compaction_publishes_nothing(spark, sf_dir, tmp_path):
    """A manifest-mode compaction with no cell to compact publishes no
    manifest and returns 0: two no-op passes leave the snapshot history
    (and so the gc_snapshots keep-window) untouched."""
    path, _ = ann_store.ensure_index(spark, sf_dir, "ivf",
                                     root=str(tmp_path / "store"))
    ann_store.compact_index(spark, path)   # whatever the build left
    before = ann_store.list_snapshots(path)
    current = ann_store.current_snapshot_version(path)
    assert ann_store.compact_index(spark, path) == 0
    assert ann_store.compact_index(spark, path) == 0
    assert ann_store.list_snapshots(path) == before
    assert ann_store.current_snapshot_version(path) == current


def test_snapshot_time_travel_and_isolation(spark, sf_dir, tmp_path):
    """The manifest layer gives readers snapshot isolation: a version
    pinned before an append/compaction resolves to the SAME rowset
    afterwards; CURRENT sees the new data; GC invalidates only the
    dropped versions."""
    root = str(tmp_path / "store")
    ann_store.ensure_index(spark, sf_dir, "ivf", root=root)
    path = ann_store.index_path(sf_dir, "ivf", root)
    n0 = ann_store.read_store_rows(spark, path).count()
    assert n0 > 0
    idx, _ = IVFIndex.read(spark, path)
    emb = load_table(spark, sf_dir, "embeddings") \
        .select("vec_id", "embedding")
    sliver = emb.filter("vec_id % 7 = 3")
    n_add = sliver.count()
    (idx.transform(sliver)
     .write.mode("append").partitionBy("cell").parquet(path))
    # unpublished appends are invisible to snapshot readers
    assert ann_store.read_store_rows(spark, path).count() == n0
    v2 = ann_store.publish_snapshot(path, note="sliver")
    assert v2 == 2
    assert ann_store.read_store_rows(spark, path).count() == n0 + n_add
    # time travel: v1 still reads the pre-append rowset, bit-exact ids
    old = ann_store.read_store_rows(spark, path, version=1)
    assert old.count() == n0
    assert old.select("vec_id").distinct().count() == n0
    # the cell partition column survives the explicit-file-list read
    assert "cell" in old.columns
    # compaction publishes v3; v1/v2 remain resolvable until GC
    ann_store.compact_index(spark, path)
    assert ann_store.current_snapshot_version(path) == 3
    assert ann_store.read_store_rows(spark, path).count() == n0 + n_add
    assert ann_store.read_store_rows(spark, path, version=1).count() == n0
    gc = ann_store.gc_snapshots(path, keep_last=1)
    assert gc["dropped_versions"] == [1, 2]
    with pytest.raises(FileNotFoundError):
        ann_store.read_manifest(path, version=1)
    assert ann_store.read_store_rows(spark, path).count() == n0 + n_add


def test_snapshot_row_count_matches_full_scan(spark, sf_dir, tmp_path):
    """The manifest's recorded row stats (parquet footer sums written at
    publish time) must equal a full read_store_rows().count() at every
    version of a build -> append -> compact cycle — the metadata-only
    count the snapshot ledger query serves from."""
    root = str(tmp_path / "store")
    ann_store.ensure_index(spark, sf_dir, "ivf", root=root)
    path = ann_store.index_path(sf_dir, "ivf", root)
    idx, _ = IVFIndex.read(spark, path)
    emb = load_table(spark, sf_dir, "embeddings") \
        .select("vec_id", "embedding")
    sliver = emb.filter("vec_id % 7 = 3")
    (idx.transform(sliver)
     .write.mode("append").partitionBy("cell").parquet(path))
    ann_store.publish_snapshot(path, note="sliver")
    ann_store.compact_index(spark, path)
    for v in (1, 2, 3):
        assert (ann_store.snapshot_row_count(path, version=v)
                == ann_store.read_store_rows(spark, path, version=v)
                .count())
    # default = CURRENT
    assert (ann_store.snapshot_row_count(path)
            == ann_store.read_store_rows(spark, path).count())


def test_snapshot_publish_excludes_retired_files(spark, sf_dir,
                                                 tmp_path):
    """publish_snapshot after a compaction (while retired files still
    sit on disk awaiting GC) must NOT fold them back in — the new
    snapshot is CURRENT's live files plus genuinely-new ones only."""
    root = str(tmp_path / "store")
    ann_store.ensure_index(spark, sf_dir, "ivf", root=root)
    path = ann_store.index_path(sf_dir, "ivf", root)
    _append_sliver(spark, sf_dir, path)           # v2: multi-file cells
    n0 = ann_store.read_store_rows(spark, path).count()
    ann_store.compact_index(spark, path)          # v3, retired files remain
    v = ann_store.publish_snapshot(path, note="no-op publish")
    assert v == 4
    assert ann_store.read_store_rows(spark, path).count() == n0
    # and the no-op snapshot references exactly the compacted files
    assert (ann_store.read_manifest(path, 4)["files"]
            == ann_store.read_manifest(path, 3)["files"])


def test_unmanaged_store_falls_back_to_directory_read(spark, sf_dir,
                                                      tmp_path):
    """A store written without manifests (pre-manifest layout, or
    idx.write directly) keeps working: read_store_rows falls back to
    the directory read and compact_index uses the legacy dir-swap."""
    emb = load_table(spark, sf_dir, "embeddings") \
        .select("vec_id", "embedding")
    idx = IVFIndex(n_cells=4, nprobe=4).fit(emb)
    path = str(tmp_path / "bare")
    idx.write(emb, path)
    assert ann_store.current_snapshot_version(path) is None
    n = emb.count()
    assert ann_store.read_store_rows(spark, path).count() == n
    assert ann_store.compact_index(spark, path) > 0
    assert ann_store.read_store_rows(spark, path).count() == n
    assert ann_store.current_snapshot_version(path) is None


def test_gc_keep_last_must_retain_current():
    with pytest.raises(ValueError):
        ann_store.gc_snapshots("/nonexistent", keep_last=0)


def test_stream_index_append_publishes_snapshots(spark, sf_dir,
                                                 tmp_path):
    """publish_snapshots=True: every trigger's append lands as a new
    snapshot version, and snapshot readers see exactly the published
    triggers (the streamed-ingest end of the manifest contract)."""
    from dotnetvectorsearch_spark.streaming.ingest import (
        stream_index_append)
    import pyspark.sql.functions as F

    emb = load_table(spark, sf_dir, "embeddings") \
        .select("vec_id", "embedding")
    idx = IVFIndex(n_cells=4, nprobe=4).fit(emb)
    path = str(tmp_path / "ivf_index")
    src = tmp_path / "vecs"
    src.mkdir()
    first = emb.filter(F.col("vec_id") < 50)
    second = emb.filter((F.col("vec_id") >= 50)
                        & (F.col("vec_id") < 100))
    first.write.parquet(str(src / "b1"))
    second.write.parquet(str(src / "b2"))
    stream = (spark.readStream
              .schema("vec_id long, embedding array<float>")
              .option("maxFilesPerTrigger", 1)
              .parquet(str(src / "*")))
    q = stream_index_append(stream, idx, path,
                            str(tmp_path / "ckpt"),
                            publish_snapshots=True)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    snaps = ann_store.list_snapshots(path)
    assert len(snaps) >= 1
    assert (ann_store.read_store_rows(spark, path).count()
            == first.count() + second.count())


def test_writer_lock_mutual_exclusion(tmp_path):
    """The publisher lock is a real flock: while held, an independent
    fd cannot take it (non-blocking probe fails), and it releases on
    exit. flock is per open-file-description, so the same-process
    second-fd probe is a faithful two-writer stand-in."""
    import fcntl

    store = tmp_path / "s"
    store.mkdir()
    lock_path = store / "_manifests" / "LOCK"
    with ann_store._writer_lock(str(store)):
        assert lock_path.exists()
        with open(lock_path, "w") as probe:
            with pytest.raises(OSError):
                fcntl.flock(probe, fcntl.LOCK_EX | fcntl.LOCK_NB)
    with open(lock_path, "w") as probe:
        fcntl.flock(probe, fcntl.LOCK_EX | fcntl.LOCK_NB)  # released
        fcntl.flock(probe, fcntl.LOCK_UN)


def test_serve_topk_time_travel(spark, sf_dir, tmp_path, qv):
    """serve_topk(version=N) probes exactly snapshot N's rows: after
    an append+publish, the pinned version still returns the
    pre-append top-k; pq refuses the knob."""
    root = str(tmp_path / "root")
    before = [(r.vec_id, r.similarity) for r in
              ann_store.serve_topk(spark, sf_dir, "ivf", qv, k=10,
                                   root=root).collect()]
    path = ann_store.index_path(sf_dir, "ivf", root)
    idx, _ = IVFIndex.read(spark, path)
    emb = load_table(spark, sf_dir, "embeddings") \
        .select("vec_id", "embedding")
    (idx.transform(emb.filter("vec_id % 11 = 5"))
     .write.mode("append").partitionBy("cell").parquet(path))
    ann_store.publish_snapshot(path, note="append")
    pinned = [(r.vec_id, r.similarity) for r in
              ann_store.serve_topk(spark, sf_dir, "ivf", qv, k=10,
                                   root=root, version=1).collect()]
    assert pinned == before
    with pytest.raises(ValueError, match="snapshot-managed"):
        ann_store.serve_topk(spark, sf_dir, "pq", qv, k=10,
                             root=root, version=1)


def test_publish_deletes_crashed_compaction_debris(spark, sf_dir,
                                                   tmp_path):
    """An unreferenced compact-v* file (a compaction that died after
    moving files but before publishing) must be deleted by the next
    publish, not folded in as duplicate rows."""
    import shutil

    root = str(tmp_path / "store")
    ann_store.ensure_index(spark, sf_dir, "ivf", root=root)
    path = ann_store.index_path(sf_dir, "ivf", root)
    n0 = ann_store.read_store_rows(spark, path).count()
    # fake the debris: copy a live file under a compaction name
    live = ann_store._data_files(path)[0]
    cell_dir = (Path(path) / live).parent
    debris = cell_dir / "compact-v000099-0000.parquet"
    shutil.copy(Path(path) / live, debris)
    v = ann_store.publish_snapshot(path, note="post-crash publish")
    assert not debris.exists()
    assert ann_store.read_store_rows(spark, path).count() == n0
    assert all(not Path(f).name.startswith("compact-v")
               for f in ann_store.read_manifest(path, v)["files"])


def test_gc_keeps_manifest_when_file_unlink_fails(spark, sf_dir,
                                                  tmp_path,
                                                  monkeypatch):
    """A dropped version whose data-file deletion fails keeps its
    manifest (so the next GC retries) instead of stranding the file
    unreferenced."""
    root = str(tmp_path / "store")
    ann_store.ensure_index(spark, sf_dir, "ivf", root=root)
    path = ann_store.index_path(sf_dir, "ivf", root)
    # make at least one cell multi-file so compaction actually retires
    # v1 files (r14: single-file cells are referenced unchanged, so a
    # fresh store's compaction retires nothing)
    idx, _ = IVFIndex.read(spark, path)
    emb = load_table(spark, sf_dir, "embeddings") \
        .select("vec_id", "embedding")
    idx.append(emb.filter("vec_id % 3 = 1"), path)
    ann_store.publish_snapshot(path, note="sliver")   # v2
    ann_store.compact_index(spark, path)          # v3; v1/v2 retired
    cur_files = set(ann_store.read_manifest(path)["files"])
    v1_files = ann_store.read_manifest(path, 1)["files"]
    retired = [f for f in v1_files if f not in cur_files]
    assert retired, "compaction must retire at least one v1 file"
    target = Path(retired[0]).name
    real_unlink = Path.unlink

    def flaky_unlink(self, *a, **k):
        if self.name == target:
            raise OSError(13, "simulated EACCES")
        return real_unlink(self, *a, **k)

    monkeypatch.setattr(Path, "unlink", flaky_unlink)
    gc = ann_store.gc_snapshots(path, keep_last=1)
    assert 1 not in gc["dropped_versions"]        # v1 survived
    assert (Path(path) / retired[0]).exists()
    assert ann_store.read_manifest(path, 1)["files"] == v1_files
    monkeypatch.setattr(Path, "unlink", real_unlink)
    gc2 = ann_store.gc_snapshots(path, keep_last=1)   # retry succeeds
    assert 1 in gc2["dropped_versions"]
    assert not (Path(path) / retired[0]).exists()
    # the current snapshot is intact after the retried GC
    assert (ann_store.read_store_rows(spark, path).count()
            == emb.count() + emb.filter("vec_id % 3 = 1").count())


def test_manifests_carry_referenced_union(spark, sf_dir, tmp_path):
    """Every manifest records the union of names retained manifests
    still account for (the O(files) publish path) — and the union is
    PRUNED once GC removes files from disk, so it stays bounded by
    live + not-yet-GC'd names instead of the whole publish history."""
    root = str(tmp_path / "store")
    ann_store.ensure_index(spark, sf_dir, "ivf", root=root)
    path = ann_store.index_path(sf_dir, "ivf", root)
    _append_sliver(spark, sf_dir, path)           # v2: multi-file cells
    ann_store.compact_index(spark, path)          # v3
    m1 = ann_store.read_manifest(path, 2)
    m2 = ann_store.read_manifest(path, 3)
    assert set(m1["files"]) <= set(m1["referenced_union"])
    # pre-GC: retired v2 files are on disk, so the union carries both
    assert (set(m1["referenced_union"]) | set(m2["files"])
            == set(m2["referenced_union"]))
    ann_store.gc_snapshots(path, keep_last=1)     # v2 files deleted
    v4 = ann_store.publish_snapshot(path, note="post-gc")
    m3 = ann_store.read_manifest(path, v4)
    assert set(m3["referenced_union"]) == set(m2["files"])
    assert not (set(m1["files"]) - set(m2["files"])) \
        & set(m3["referenced_union"])


def test_registry_serve_parity_survives_persisted_tuning(
        spark, sf_dir, tmp_path, monkeypatch):
    """The ann_ivf_serve registry row must equal ann_ivf_topk even
    AFTER ann_nprobe_tuning has persisted a tuned width into the
    shared store (the serve row pins fitted-width parity; the tuned
    no-arg default is a deployment feature, not this row's
    contract)."""
    monkeypatch.setenv("SPARK_GRAFT_INDEX_ROOT", str(tmp_path / "r"))
    import __spark_entry__ as entry
    qs = entry.queries()
    qs["ann_nprobe_tuning"](spark, sf_dir).collect()   # persists tune
    path = ann_store.index_path(sf_dir, "ivf", str(tmp_path / "r"))
    assert ann_store.read_store_meta(path).get("tuned") is not None
    got = _ids(qs["ann_ivf_serve"](spark, sf_dir))
    expect = _ids(qs["ann_ivf_topk"](spark, sf_dir))
    assert got == expect


def test_round6_half_up_matches_spark_round(spark):
    """The recall-curve rounding kernel must equal Spark F.round on
    repr-tie boundaries (BigDecimal HALF_UP on the shortest decimal
    repr, NOT binary-product rounding — advisor r13)."""
    import pyspark.sql.functions as F

    from dotnetvectorsearch_spark.operators.search import round6_half_up

    vals = [0.0001245, -0.0001245, 0.0001255, 0.0002445, 0.7654321987,
            0.0001244, 0.5, -0.9999995, 0.123456789]
    sdf = spark.createDataFrame([(v,) for v in vals], "x double") \
        .select(F.round("x", 6).alias("r")).collect()
    for v, row in zip(vals, sdf):
        assert round6_half_up(v) == row.r, (v, row.r)


def test_nprobe_curve_dedups_reappended_ids(ivf_and_panel, spark):
    """A re-appended vec_id (at-least-once streamed replay) must not
    double-count a winner: over a store WITH duplicate ids the curve
    stays <= 1.0, monotone, and reaches exactly 1.0 at full probe
    (every distinct winner's cell probed) — the undeduped numerator
    could exceed 1.0 and the fixed panel*k denominator could cap the
    full-probe value below 1.0."""
    idx, rows, panel = ivf_and_panel
    dup_ids = [qid for qid, _ in panel[:3]]
    dup_rows = rows.filter(rows.vec_id.isin(dup_ids))
    with_dups = rows.unionByName(dup_rows)
    dup = ann_store.nprobe_recall_curve(idx, with_dups, panel, k=10)
    vals = [dup[p] for p in sorted(dup)]
    assert all(v <= 1.0 for v in vals)
    assert all(b >= a for a, b in zip(vals, vals[1:]))
    assert vals[-1] == 1.0


def test_ghost_manifest_rolled_back_not_trusted(spark, sf_dir,
                                                tmp_path):
    """A manifest written by a crashed writer that never swapped
    CURRENT must not anchor GC retention (keep_last=1 keyed on it
    would delete the files CURRENT serves) and is rolled back by the
    next publisher."""
    import json as _json

    root = str(tmp_path / "store")
    ann_store.ensure_index(spark, sf_dir, "ivf", root=root)
    path = ann_store.index_path(sf_dir, "ivf", root)
    n0 = ann_store.read_store_rows(spark, path).count()
    # simulate the crash window: manifest v2 exists (referencing a
    # nonexistent compacted file), CURRENT still says 1
    ghost = ann_store._manifests_root(path) / "manifest-v000002.json"
    ghost.write_text(_json.dumps(
        {"version": 2, "files": ["cell=0/compact-v000002-0000.parquet"],
         "n_files": 1, "note": "crashed compaction",
         "referenced_union": ["cell=0/compact-v000002-0000.parquet"]}))
    assert ann_store.current_snapshot_version(path) == 1
    gc = ann_store.gc_snapshots(path, keep_last=1)
    # the ghost must have been rolled back, NOT treated as newest:
    # v1 (CURRENT) survives with all its files
    assert gc["dropped_versions"] == []
    assert not ghost.exists()
    assert ann_store.read_store_rows(spark, path).count() == n0
    # and a publish after the same crash window also rolls back
    ghost.write_text(_json.dumps(
        {"version": 2, "files": [], "n_files": 0, "note": "crash",
         "referenced_union": []}))
    v = ann_store.publish_snapshot(path, note="after crash")
    assert v == 2  # overwrote the ghost's slot with a real snapshot
    assert ann_store.read_store_rows(spark, path).count() == n0


def test_stream_append_auto_publishes_on_managed_store(spark, sf_dir,
                                                       tmp_path):
    """Default (publish_snapshots=None) streamed appends into an
    ensure_index-managed store must be VISIBLE to snapshot readers —
    the 'immediately searchable' ingest contract (advisor r13: an
    unpublished append is silently invisible to every serve)."""
    from dotnetvectorsearch_spark.streaming.ingest import (
        stream_index_append)
    import pyspark.sql.functions as F

    root = str(tmp_path / "root")
    ann_store.ensure_index(spark, sf_dir, "ivf", root=root)
    path = ann_store.index_path(sf_dir, "ivf", root)
    n0 = ann_store.read_store_rows(spark, path).count()
    emb = load_table(spark, sf_dir, "embeddings") \
        .select("vec_id", "embedding")
    batch = emb.filter(F.col("vec_id") % 13 == 4)
    n_add = batch.count()
    src = tmp_path / "vecs"
    src.mkdir()
    batch.write.parquet(str(src / "b1"))
    stream = (spark.readStream
              .schema("vec_id long, embedding array<float>")
              .parquet(str(src / "*")))
    q = stream_index_append(stream, None, path,
                            str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert (ann_store.read_store_rows(spark, path).count()
            == n0 + n_add)
    assert ann_store.current_snapshot_version(path) == 2


def test_driver_write_append_compact_parity(spark, sf_dir, tmp_path,
                                            monkeypatch):
    """r14 bounded driver fast paths (write / append / cell merge) are
    row- and search-identical to the distributed formulations, and
    manifest compaction rewrites ONLY multi-file cells, referencing
    single-file cells unchanged."""
    from dotnetvectorsearch_spark.operators import ann as ann_mod

    # module fixtures persist the embeddings scan; the CacheManager
    # then substitutes an InMemoryRelation into any later plan built
    # over it, which (correctly) removes the file evidence the bounded
    # driver path gates on — clear it so this test exercises the
    # fast path the bench session sees
    spark.catalog.clearCache()
    emb = load_table(spark, sf_dir, "embeddings") \
        .select("vec_id", "embedding")
    seed = emb.filter("vec_id % 10 = 0")
    delta = emb.filter("vec_id % 10 = 5")
    idx = IVFIndex(n_cells=8, nprobe=8).fit(seed, max_sample=4000)

    def cycle(path, force_distributed):
        if force_distributed:
            monkeypatch.setattr(ann_mod, "_file_plan_bytes",
                                lambda df: None)
            monkeypatch.setattr(ann_mod, "_DRIVER_RW_BYTES", -1)
        idx.write(seed, path)
        ann_store.publish_snapshot(path, note="build")
        n1 = ann_store.snapshot_row_count(path)
        idx.append(delta, path)
        ann_store.publish_snapshot(path, note="append")
        n2 = ann_store.snapshot_row_count(path)
        ncells = ann_store.compact_index(spark, path)
        n3 = ann_store.snapshot_row_count(path)
        rows = sorted(
            (r.vec_id, r.cell, tuple(r.embedding))
            for r in ann_store.read_store_rows(spark, path).collect())
        i2, frame = IVFIndex.read(spark, path)
        qv = emb.filter("vec_id = 3").collect()[0].embedding
        top = [(r.vec_id, r.similarity)
               for r in i2.search(frame, qv, k=10).collect()]
        monkeypatch.undo()
        return n1, n2, n3, ncells, rows, top

    # the driver fast path must actually ENGAGE for this input (local
    # file-backed plan, supported schema) — guards against the gate
    # silently falling back to the distributed write for everything
    assert idx._write_cells_local(seed, str(tmp_path / "probe"),
                                  "embedding", "overwrite") is True

    fast = cycle(str(tmp_path / "fast"), force_distributed=False)
    slow = cycle(str(tmp_path / "slow"), force_distributed=True)
    assert fast == slow
    # row conservation through the cycle
    assert fast[0] == seed.count()
    assert fast[1] == fast[2] == seed.count() + delta.count()
    # every cell had a seed + a delta file -> all rewritten
    assert fast[3] > 0

    # single-file cells are referenced unchanged by compaction
    path3 = str(tmp_path / "mixed")
    idx.write(seed, path3)
    ann_store.publish_snapshot(path3, note="build")
    one_cell = idx.transform(delta).filter("cell = 0").drop("cell")
    idx.append(one_cell, f"{path3}")  # lands only in its cells
    ann_store.publish_snapshot(path3, note="delta")
    before = ann_store.read_manifest(path3)["files"]
    single_cells = {f.split("/", 1)[0] for f in before}
    multi = {c for c in single_cells
             if sum(x.startswith(c + "/") for x in before) > 1}
    n = ann_store.compact_index(spark, path3)
    after = ann_store.read_manifest(path3)["files"]
    assert n == len(multi)
    kept = [f for f in before
            if f.split("/", 1)[0] not in multi]
    assert set(kept) <= set(after)
    assert (ann_store.snapshot_row_count(path3)
            == ann_store.read_store_rows(spark, path3).count())
