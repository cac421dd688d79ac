"""Measured payoff of the ANN index-maintenance loop (VERDICT r12 #1).

Round 12 shipped the loop — `ann_store.index_health` flags hot /
fragmented cells, `ann_store.compact_index` restores one-file-per-cell,
`IVFIndex.refine` re-centers drifted centroids — with search-parity
pins but NO before/after numbers. This tool measures both maintenance
scenarios end-to-end at the sf1 tier (20k vectors) and writes
MAINTENANCE.md:

Scenario A — streamed-append fragmentation -> compact_index:
  build a persisted IVF store from half the corpus, stream the other
  half in via `stream_index_append` with 64 one-file triggers (each
  trigger lands a small file per touched cell), show `index_health`'s
  `fragmented` flag firing, measure the serve cost (fresh
  read->probe->top-k over a query panel) and the full-scan cost on the
  fragmented store, run `compact_index`, re-measure. The delta is the
  per-file open + tiny-row-group tax the maintenance pass exists to
  reclaim; at 100 TB the same pass is the Delta/Iceberg OPTIMIZE
  analogue.

Scenario B — corpus drift -> hot cells -> the two-rung maintenance
ladder:
  fit centroids on the seed half, append a DRIFTED second half (every
  appended vector pulled 50% toward one fixed direction — the
  distribution-shift case the fixed-centroid append contract
  documents), show `index_health`'s `hot` flag firing, then measure
  BOTH maintenance rungs at the fitted nprobe: (1) `IVFIndex.refine`
  (2 distributed Lloyd iterations + rewrite) — the cheap re-centering
  rung that buys recall by aligning cells to the shifted distribution
  but has no split/merge, so it CANNOT clear cell-size skew (measured
  here, not assumed: the hot flag survives refine); (2) a full
  sampled retrain (`IVFIndex.fit` on the drifted corpus) + rewrite —
  the escalation rung that reallocates centroids, clears the hot flag
  and restores pruning (probed-row fraction back near nprobe/n_cells).
  Metrics per stage: exact-top-10 recall at the fitted nprobe (from
  the closed-form curve) and the probed-row fraction — at 100 TB the
  probed fraction IS the serve scan volume.

Run:  python tools/bench_maintenance.py        # ~4 min, writes
                                               # MAINTENANCE.md + .json
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

import numpy as np

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import pyspark.sql.functions as F

from dotnetvectorsearch_spark.operators import ann_store
from dotnetvectorsearch_spark.operators.ann import IVFIndex
from dotnetvectorsearch_spark.operators.ann_store import (
    index_health, nprobe_recall_curve)
from dotnetvectorsearch_spark.session import get_spark
from dotnetvectorsearch_spark.streaming.ingest import stream_index_append

SF_DIR = str(ROOT / ".scaletier" / "sf1")
N_CELLS, NPROBE = 16, 4
TRIGGERS = 64
SERVE_REPS = 5          # first rep discarded (JIT / listing warm-up)
PANEL_Q = 8             # serve-latency panel
RECALL_PANEL_MOD = 401  # ~50 queries for the recall/probe-fraction panel


def _panel(emb, mod, lim=None):
    rows = emb.filter(F.col("vec_id") % mod == 0)
    if lim:
        rows = rows.limit(lim)
    return [(r.vec_id, list(r.embedding)) for r in rows.collect()]


def _serve_stats(spark, path, qvs):
    """Median wall time of a FRESH read->probe->top-10 over the panel
    (each rep re-reads the store: listing + footer + scan included —
    the cost fragmentation actually inflates), plus one full-scan."""
    times = []
    for _ in range(SERVE_REPS):
        t0 = time.perf_counter()
        idx, rows = IVFIndex.read(spark, path)
        for _, v in qvs:
            idx.search(rows, v, k=10).collect()
        times.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    nrows = spark.read.parquet(path).count()
    scan = time.perf_counter() - t0
    warm = times[1:]
    return {"serve_panel_med_sec": round(sorted(warm)[len(warm) // 2], 3),
            "serve_panel_all_sec": [round(t, 3) for t in times],
            "full_scan_sec": round(scan, 3), "rows": nrows}


def _health_summary(spark, path):
    rows = index_health(spark, SF_DIR, "ivf", path=path).collect()
    return {"cells": len(rows),
            "total_files": int(sum(r.n_files for r in rows)),
            "max_files_per_cell": int(max(r.n_files for r in rows)),
            "n_fragmented": int(sum(r.fragmented for r in rows)),
            "n_hot": int(sum(r.hot for r in rows)),
            "max_load_factor": float(max(r.load_factor for r in rows))}


def scenario_fragmentation(spark, emb, work: Path) -> dict:
    seed = emb.filter("vec_id % 2 = 0")
    rest = emb.filter("vec_id % 2 = 1")
    store = str(work / "frag_store")
    idx = IVFIndex(n_cells=N_CELLS, nprobe=NPROBE).fit(seed)
    idx.write(seed, store)

    chunk_dir = work / "chunks"
    for i in range(TRIGGERS):
        (rest.filter(F.col("vec_id") % (2 * TRIGGERS) == 2 * i + 1)
         .coalesce(1).write.mode("overwrite")
         .parquet(str(chunk_dir / f"chunk-{i:03d}")))
    t0 = time.perf_counter()
    q = stream_index_append(
        (spark.readStream.schema("vec_id long, embedding array<float>")
         .option("maxFilesPerTrigger", 1).parquet(f"{chunk_dir}/*")),
        None, store, str(work / "ck"))
    q.processAllAvailable()
    q.stop()
    append_sec = round(time.perf_counter() - t0, 3)

    qvs = _panel(emb, 2 * 251, lim=PANEL_Q)   # odd+even mix irrelevant
    before_h = _health_summary(spark, store)
    before_s = _serve_stats(spark, store, qvs)
    t0 = time.perf_counter()
    n_compacted = ann_store.compact_index(spark, store)
    compact_sec = round(time.perf_counter() - t0, 3)
    after_h = _health_summary(spark, store)
    after_s = _serve_stats(spark, store, qvs)
    assert after_s["rows"] == before_s["rows"], "compaction lost rows"
    return {"triggers": TRIGGERS, "append_wall_sec": append_sec,
            "before_health": before_h, "before": before_s,
            "compact_sec": compact_sec, "cells_compacted": n_compacted,
            "after_health": after_h, "after": after_s,
            "serve_speedup": round(before_s["serve_panel_med_sec"]
                                   / after_s["serve_panel_med_sec"], 2),
            "scan_speedup": round(before_s["full_scan_sec"]
                                  / after_s["full_scan_sec"], 2)}


def scenario_manifest(spark, emb, work: Path) -> dict:
    """Scenario C — snapshot-consistent maintenance (the manifest
    layer, r13): same fragmentation workload as Scenario A but on a
    MANAGED store with per-trigger snapshot publication, measuring
    what the manifests buy and what they cost:

      * a reader PINNED to the pre-compaction version returns the
        bit-identical top-10 after compaction runs (the cross-cell
        consistency the legacy dir-swap could not guarantee);
      * with retired files still on disk awaiting GC, the SNAPSHOT
        read returns the exact corpus while a raw directory listing
        double-counts — the number that shows why eager deletion
        (and its unsafe reader window) was the only option before;
      * `gc_snapshots` reclaims the retired files and invalidates
        only the dropped versions (the pinned read now refuses
        loudly rather than returning wrong rows);
      * publication overhead per streamed trigger, and snapshot-read
        vs directory-read serve cost on the same store.
    """
    seed = emb.filter("vec_id % 2 = 0")
    rest = emb.filter("vec_id % 2 = 1")
    store = str(work / "managed_store")
    idx = IVFIndex(n_cells=N_CELLS, nprobe=NPROBE).fit(seed)
    idx.write(seed, store)
    ann_store.publish_snapshot(store, note="build")

    chunk_dir = work / "mchunks"
    for i in range(TRIGGERS):
        (rest.filter(F.col("vec_id") % (2 * TRIGGERS) == 2 * i + 1)
         .coalesce(1).write.mode("overwrite")
         .parquet(str(chunk_dir / f"chunk-{i:03d}")))
    t0 = time.perf_counter()
    q = stream_index_append(
        (spark.readStream.schema("vec_id long, embedding array<float>")
         .option("maxFilesPerTrigger", 1).parquet(f"{chunk_dir}/*")),
        None, store, str(work / "mck"), publish_snapshots=True)
    q.processAllAvailable()
    q.stop()
    append_sec = round(time.perf_counter() - t0, 3)
    n_snaps_frag = len(ann_store.list_snapshots(store))
    v_pre = ann_store.current_snapshot_version(store)

    qvs = _panel(emb, 2 * 251, lim=PANEL_Q)
    qv0 = qvs[0][1]

    def _pinned_topk(version):
        i2, _ = IVFIndex.read(spark, store)
        rows = ann_store.read_store_rows(spark, store, version)
        return [(r.vec_id, r.similarity)
                for r in i2.search(rows, qv0, k=10).collect()]

    def _serve_med(reader):
        times = []
        for _ in range(SERVE_REPS):
            t0 = time.perf_counter()
            i2, _ = IVFIndex.read(spark, store)
            rows = reader()
            for _, v in qvs:
                i2.search(rows, v, k=10).collect()
            times.append(time.perf_counter() - t0)
        warm = sorted(times[1:])
        return round(warm[len(warm) // 2], 3)

    pinned_before = _pinned_topk(v_pre)
    snap_rows_frag = ann_store.read_store_rows(spark, store).count()
    files_frag = len(ann_store._data_files(store))
    serve_snapshot_frag = _serve_med(
        lambda: ann_store.read_store_rows(spark, store))
    serve_dirlist_frag = _serve_med(
        lambda: spark.read.parquet(store))

    t0 = time.perf_counter()
    n_compacted = ann_store.compact_index(spark, store)
    compact_sec = round(time.perf_counter() - t0, 3)
    files_pre_gc = len(ann_store._data_files(store))
    snap_rows_post = ann_store.read_store_rows(spark, store).count()
    dir_rows_post = spark.read.parquet(store).count()
    pinned_after = _pinned_topk(v_pre)
    pinned_consistent = pinned_after == pinned_before

    t0 = time.perf_counter()
    # maintenance-window retention: readers have drained, keep only
    # the compacted CURRENT (keep_last is the reader-lifetime knob)
    gc = ann_store.gc_snapshots(store, keep_last=1)
    gc_sec = round(time.perf_counter() - t0, 3)
    files_post_gc = len(ann_store._data_files(store))
    try:
        ann_store.read_manifest(store, version=v_pre)
        pinned_refused_after_gc = False
    except FileNotFoundError:
        pinned_refused_after_gc = True
    serve_snapshot_compacted = _serve_med(
        lambda: ann_store.read_store_rows(spark, store))
    final_rows = ann_store.read_store_rows(spark, store).count()

    return {"triggers": TRIGGERS, "append_wall_sec": append_sec,
            "snapshots_fragmented": n_snaps_frag,
            "files_fragmented": files_frag,
            "snapshot_rows": snap_rows_frag,
            "serve_snapshot_frag_sec": serve_snapshot_frag,
            "serve_dirlist_frag_sec": serve_dirlist_frag,
            "compact_sec": compact_sec,
            "cells_compacted": n_compacted,
            "files_pre_gc": files_pre_gc,
            "snapshot_rows_post_compact": snap_rows_post,
            "dirlist_rows_post_compact": dir_rows_post,
            "pinned_version": v_pre,
            "pinned_consistent_through_compact": pinned_consistent,
            "gc": gc, "gc_sec": gc_sec,
            "files_post_gc": files_post_gc,
            "pinned_refused_after_gc": pinned_refused_after_gc,
            "serve_snapshot_compacted_sec": serve_snapshot_compacted,
            "final_rows": final_rows}


def scenario_publish_scaling(work: Path, triggers: int = 256,
                             files_per: int = 4,
                             cells: int = 16) -> dict:
    """Scenario D — per-trigger publish cost over a long stream, pure
    filesystem (no Spark: publish_snapshot only lists names and reads
    CURRENT). Two modes over an identical append workload:

      * **union** (shipped): each manifest carries the pruned
        ``referenced_union``, so a publish parses CURRENT only —
        O(live files) per publish.
      * **legacy** (control): the ``referenced_union`` field is
        stripped after every publish, forcing the pre-union fallback
        that re-parses EVERY retained manifest — the
        O(versions x files) algorithm the union replaced (advisor
        r13). Same fallback code path, so the control is faithful.

    Two phases per mode: an APPEND stream (files and versions both
    grow — the directory-listing term, O(live files), is shared and
    dominates both modes), then a VERSION-CHURN stream (publishes
    with NO new files: live files constant, versions keep growing)
    which isolates exactly the O(versions) term the union removes —
    the union's churn cost stays flat at the files term while the
    legacy control's keeps climbing with every retained version."""
    import json as _json

    out: dict = {"triggers": triggers, "files_per_trigger": files_per,
                 "cells": cells}
    for mode in ("union", "legacy"):
        store = work / f"pub_{mode}" / "store"
        for c in range(cells):
            (store / f"cell={c}").mkdir(parents=True)
        def _strip_union():
            if mode != "legacy":
                return
            for mf in (store / "_manifests").glob("manifest-v*.json"):
                d = _json.loads(mf.read_text())
                if d.pop("referenced_union", None) is not None:
                    mf.write_text(_json.dumps(d))

        times = []
        for t in range(triggers):
            for i in range(files_per):
                (store / f"cell={(t * files_per + i) % cells}"
                 / f"part-{t:05d}-{i}.parquet").write_bytes(b"x")
            t0 = time.perf_counter()
            ann_store.publish_snapshot(str(store), note=f"t{t}")
            times.append(time.perf_counter() - t0)
            _strip_union()
        churn = []
        for t in range(triggers):
            t0 = time.perf_counter()
            ann_store.publish_snapshot(str(store), note=f"churn{t}")
            churn.append(time.perf_counter() - t0)
            _strip_union()
        mdir = store / "_manifests"
        out[mode] = {
            "first32_mean_ms": round(
                1000 * sum(times[:32]) / 32, 2),
            "last32_mean_ms": round(
                1000 * sum(times[-32:]) / 32, 2),
            "churn_first32_mean_ms": round(
                1000 * sum(churn[:32]) / 32, 2),
            "churn_last32_mean_ms": round(
                1000 * sum(churn[-32:]) / 32, 2),
            "total_sec": round(sum(times) + sum(churn), 2),
            "manifest_dir_bytes": sum(
                f.stat().st_size for f in mdir.glob("*.json")),
            "current_manifest_bytes":
                (mdir / ("manifest-v%06d.json"
                         % ann_store.current_snapshot_version(
                             str(store)))).stat().st_size,
        }
    return out


def _probed_fraction(idx, rows_df, panel, nprobe):
    """Mean over the panel of (rows in the query's nprobe nearest
    cells) / (total rows) — the share of the corpus a probe scans."""
    hist = {r.cell: r.cnt for r in
            rows_df.groupBy("cell").agg(F.count("*").alias("cnt"))
            .collect()}
    total = sum(hist.values())
    fracs = []
    for _, v in panel:
        top = idx.cell_order(v)[:nprobe]
        fracs.append(sum(hist.get(int(c), 0) for c in top) / total)
    return round(float(np.mean(fracs)), 4)


def scenario_drift(spark, emb, work: Path) -> dict:
    seed = emb.filter("vec_id % 2 = 0")
    rest = emb.filter("vec_id % 2 = 1")
    store = str(work / "drift_store")
    idx = IVFIndex(n_cells=N_CELLS, nprobe=NPROBE).fit(seed)
    idx.write(seed, store)

    # drifted appends: pull every vector 50% toward one fixed unit
    # direction (deterministic), renormalize — a shifted-but-diverse
    # post-deploy distribution (pairwise cos within the drifted cloud
    # ~0.5); fixed-centroid assignment piles it into a few cells
    pdf = rest.select("vec_id", "embedding").toPandas()
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    rng = np.random.RandomState(13)
    u = rng.randn(mat.shape[1])
    u /= np.linalg.norm(u)
    drifted = 0.5 * mat + 0.5 * u
    drifted /= np.linalg.norm(drifted, axis=1, keepdims=True)
    ddf = spark.createDataFrame(
        [(int(i), [float(x) for x in v])
         for i, v in zip(pdf["vec_id"], drifted)],
        "vec_id long, embedding array<float>")
    (idx.transform(ddf).write.mode("append")
     .partitionBy("cell").parquet(store))

    combined = spark.read.parquet(store)
    emb_all = combined.select("vec_id", "embedding")
    panel = _panel(emb_all, RECALL_PANEL_MOD)

    def _stage(ix, rows_df):
        curve = nprobe_recall_curve(ix, rows_df, panel, k=10)
        return {"recall_at_nprobe": curve[NPROBE],
                "probed_fraction": _probed_fraction(ix, rows_df, panel,
                                                    NPROBE),
                "curve": curve}

    before_h = _health_summary(spark, store)
    before = _stage(idx, combined)

    # rung 1: refine — 2 distributed Lloyd iterations + rewrite (the
    # cheap periodic job; re-centers, cannot split hot cells)
    t0 = time.perf_counter()
    idx.refine(emb_all, iters=2)
    store2 = str(work / "drift_store_refined")
    idx.write(emb_all, store2)
    refine_sec = round(time.perf_counter() - t0, 3)
    refined_h = _health_summary(spark, store2)
    refined = _stage(idx, spark.read.parquet(store2))

    # rung 2: full sampled retrain + rewrite (the escalation when the
    # hot flag survives refine; reallocates centroids)
    t0 = time.perf_counter()
    idx2 = IVFIndex(n_cells=N_CELLS, nprobe=NPROBE).fit(emb_all)
    store3 = str(work / "drift_store_retrained")
    idx2.write(emb_all, store3)
    retrain_sec = round(time.perf_counter() - t0, 3)
    retrained_h = _health_summary(spark, store3)
    retrained = _stage(idx2, spark.read.parquet(store3))

    return {"nprobe": NPROBE, "panel_queries": len(panel),
            "before_health": before_h, "before": before,
            "refine_rewrite_sec": refine_sec,
            "refined_health": refined_h, "refined": refined,
            "retrain_rewrite_sec": retrain_sec,
            "retrained_health": retrained_h, "retrained": retrained}


def _write_md(frag: dict, drift: dict, head: str) -> None:
    b, a = frag["before"], frag["after"]
    bh, ah = frag["before_health"], frag["after_health"]
    db, d1, d2 = drift["before"], drift["refined"], drift["retrained"]
    dbh, d1h, d2h = (drift["before_health"], drift["refined_health"],
                     drift["retrained_health"])
    md = f"""# ANN index-maintenance loop — measured payoff (r13)

Source state `{head}`; sf1 tier (20k x 64-dim vectors), local[32].
Protocol: `tools/bench_maintenance.py` — every serve number is the
median of {SERVE_REPS - 1} warm reps of a FRESH read->probe->top-10
over an {PANEL_Q}-query panel (listing + footer + scan inside the
timing, because that is what fragmentation inflates); rep 1 discarded.

## Scenario A — streamed-append fragmentation -> `compact_index`

Store built from 10k seed vectors, then 10k vectors streamed in via
`stream_index_append` with {frag['triggers']} one-file triggers
(wall {frag['append_wall_sec']} s). Every trigger lands a small file
per touched cell:

| | files total | max files/cell | `fragmented` cells | serve panel (med) | full scan |
|---|---|---|---|---|---|
| before compact | {bh['total_files']} | {bh['max_files_per_cell']} | {bh['n_fragmented']}/{bh['cells']} | {b['serve_panel_med_sec']} s | {b['full_scan_sec']} s |
| after compact | {ah['total_files']} | {ah['max_files_per_cell']} | {ah['n_fragmented']}/{ah['cells']} | {a['serve_panel_med_sec']} s | {a['full_scan_sec']} s |

`compact_index` rewrote {frag['cells_compacted']} cells in
{frag['compact_sec']} s (row count preserved: {a['rows']}).
**Full scan {frag['scan_speedup']}x faster** after compaction — the
scan-volume term (file opens + tiny row groups) is the part that
scales with corpus size and governs at 100 TB, which is why the
maintenance bound is on files/cell, not on local serve latency. The
serve-panel median moved {frag['serve_speedup']}x (warm reps
{b['serve_panel_all_sec'][1:]} -> {a['serve_panel_all_sec'][1:]}):
at this 20k-row tier the top-k serve is dominated by the fixed
job-launch floor, so its ratio hovers around 1 across quiet-host
reruns (1.39/1.13/0.9 observed) and is reported for honesty, not as
the payoff. The health probe is the trigger: all
{bh['n_fragmented']} non-empty cells exceeded the
8-files-per-cell bound before the pass and none after.

## Scenario B — corpus drift -> hot cells -> the two-rung ladder

Centroids fit on the 10k seed; the appended 10k vectors are pulled
50% toward one fixed direction (shifted-but-diverse post-deploy
distribution), so fixed-centroid assignment piles them into few
cells. Both maintenance rungs measured on the same
{drift['panel_queries']}-query panel at the fitted
nprobe={drift['nprobe']}/{N_CELLS}:

| stage | hot cells | max load_factor | exact-top10 recall | probed corpus fraction | cost |
|---|---|---|---|---|---|
| drifted store (before) | {dbh['n_hot']}/{dbh['cells']} | {dbh['max_load_factor']} | {db['recall_at_nprobe']} | {db['probed_fraction']} | — |
| rung 1: `refine(iters=2)` + rewrite | {d1h['n_hot']}/{d1h['cells']} | {d1h['max_load_factor']} | {d1['recall_at_nprobe']} | {d1['probed_fraction']} | {drift['refine_rewrite_sec']} s |
| rung 2: full retrain + rewrite | {d2h['n_hot']}/{d2h['cells']} | {d2h['max_load_factor']} | {d2['recall_at_nprobe']} | {d2['probed_fraction']} | {drift['retrain_rewrite_sec']} s |

Measured division of labor (not the r12 assumption):

* **refine is the recall rung** — re-centering aligns cells to the
  shifted distribution, buying
  +{round(d1['recall_at_nprobe'] - db['recall_at_nprobe'], 3)}
  exact-top10 recall at unchanged probe width, but Lloyd has no
  split/merge, so the hot flag SURVIVES refine
  ({d1h['n_hot']} hot cells, max load {d1h['max_load_factor']}) —
  `index_health` firing after a refine is the documented cue for
  rung 2, not a refine bug.
* **full retrain is the rebalance rung** — reallocating centroids
  clears the hot flag (max load
  {dbh['max_load_factor']} -> {d2h['max_load_factor']}) and restores
  pruning: probed fraction
  {db['probed_fraction']} -> {d2['probed_fraction']} (unskewed floor
  is nprobe/n_cells = {round(drift['nprobe'] / N_CELLS, 2)}), with
  recall {d2['recall_at_nprobe']} vs the drifted store's
  {db['recall_at_nprobe']}. At 100 TB the probed fraction IS the
  serve scan volume, so this rung is a serve-cost reduction, not
  just a quality fix.

Full recall curves (nprobe -> recall) per stage are in
`MAINTENANCE.json`. Both scenarios drive the exact shipped loop:
`index_health` flags -> maintenance pass -> flags clear, with search
parity pinned separately in tests/test_ann_store.py.
"""
    (ROOT / "MAINTENANCE.md").write_text(md)


def _append_manifest_md(man: dict, frag: dict) -> None:
    pub_tax = round(man["append_wall_sec"] - frag["append_wall_sec"], 3)
    per_trig = round(pub_tax / man["triggers"], 4)
    md = f"""
## Scenario C — snapshot-consistent maintenance (the manifest layer, r13)

Same {man['triggers']}-trigger streamed-append workload as Scenario A,
but on a MANAGED store: `stream_index_append(publish_snapshots=True)`
publishes an immutable `ann_store` snapshot manifest per trigger, so
every reader resolves one atomically-swapped CURRENT pointer instead
of listing the directory. What the manifests buy, measured:

| | snapshots | data files on disk | snapshot rows | dir-listing rows | serve panel (med, snapshot read) |
|---|---|---|---|---|---|
| fragmented (v{man['pinned_version']}) | {man['snapshots_fragmented']} | {man['files_fragmented']} | {man['snapshot_rows']} | {man['snapshot_rows']} | {man['serve_snapshot_frag_sec']} s |
| after `compact_index`, pre-GC | {man['snapshots_fragmented'] + 1} | {man['files_pre_gc']} | {man['snapshot_rows_post_compact']} | **{man['dirlist_rows_post_compact']}** | — |
| after `gc_snapshots(keep_last=1)` | 1 | {man['files_post_gc']} | {man['final_rows']} | {man['final_rows']} | {man['serve_snapshot_compacted_sec']} s |

* **Cross-cell consistency through compaction**: a reader pinned to
  v{man['pinned_version']} (the fragmented snapshot) re-run AFTER the
  compaction returns the bit-identical top-10 —
  `pinned_consistent_through_compact = {man['pinned_consistent_through_compact']}`.
  The legacy dir-swap could only promise per-cell atomicity; the
  manifest makes the whole store a snapshot.
* **Why publishers must not delete**: with retired files still on
  disk awaiting GC, the snapshot read returns
  {man['snapshot_rows_post_compact']} rows while a raw directory
  listing returns {man['dirlist_rows_post_compact']} — the
  double-count an unmanaged store avoids only by deleting eagerly
  inside the unsafe reader window. GC then reclaims
  {man['gc']['deleted_files']} retired files in {man['gc_sec']} s and
  invalidates ONLY the dropped versions: the pinned v{man['pinned_version']}
  read now refuses loudly (`pinned_refused_after_gc =
  {man['pinned_refused_after_gc']}`) instead of silently serving a
  mixed rowset.
* **Cost, measured honestly**: publication added {pub_tax} s over
  Scenario A's {frag['append_wall_sec']} s append wall
  (~{per_trig} s/trigger — a directory listing + manifest-set diff +
  one JSON write + one atomic rename). On the FRAGMENTED store the
  snapshot serve read {man['serve_snapshot_frag_sec']} s vs
  {man['serve_dirlist_frag_sec']} s for a raw directory read: passing
  {man['files_fragmented']} explicit root paths makes the driver stat
  each one, where the directory read does one recursive listing.
  That overhead is itself a fragmentation SYMPTOM, and the compaction
  the manifests make safe is its cure: post-compaction snapshot serve
  is {man['serve_snapshot_compacted_sec']} s — below both fragmented
  numbers — and the per-path tax is bounded by the same files/cell
  health bound `index_health` enforces. (The Delta/Iceberg endgame —
  feeding file+size from the manifest straight into the scan without
  re-statting — needs a custom FileIndex/DSv2 relation, noted as the
  upgrade path.)

Isolation, no-op-publish, fallback, and streamed-publication
semantics are pinned in tests/test_ann_store.py; the registry query
`ann_store_snapshots` runs this exact cycle on a throwaway store with
a DuckDB oracle over the ledger's row-conservation semantics.
"""
    with (ROOT / "MAINTENANCE.md").open("a") as fh:
        fh.write(md)


def _append_publish_md(pub: dict) -> None:
    u, l = pub["union"], pub["legacy"]
    md = f"""
## Scenario D — per-trigger publish cost over a long stream (microbench)

Pure-filesystem control experiment backing the O(live files) publish
claim: {pub['triggers']} publish-per-trigger appends
({pub['files_per_trigger']} files/trigger, {pub['cells']} cells), the
shipped pruned-``referenced_union`` path vs a faithful legacy control
(the field stripped after every publish, forcing the pre-union
fallback that re-parses every retained manifest — the exact algorithm
the union replaced):

| mode | append publish, triggers 1-32 | append publish, last 32 | CHURN publish, first 32 | CHURN publish, last 32 | total | `_manifests/` footprint |
|---|---|---|---|---|---|---|
| union (shipped) | {u['first32_mean_ms']} ms | {u['last32_mean_ms']} ms | {u['churn_first32_mean_ms']} ms | {u['churn_last32_mean_ms']} ms | {u['total_sec']} s | {u['manifest_dir_bytes'] // 1024} KiB |
| legacy (control) | {l['first32_mean_ms']} ms | {l['last32_mean_ms']} ms | {l['churn_first32_mean_ms']} ms | {l['churn_last32_mean_ms']} ms | {l['total_sec']} s | {l['manifest_dir_bytes'] // 1024} KiB |

In the append phase both modes share the O(live files) directory
listing term (inherent — the snapshot must name those files), so
they track each other. The CHURN phase is the discriminator: live
files held constant, versions doubling — the union path stays FLAT
({u['churn_first32_mean_ms']} -> {u['churn_last32_mean_ms']} ms)
because a publish reads only CURRENT, while the legacy control
climbs ({l['churn_first32_mean_ms']} ->
{l['churn_last32_mean_ms']} ms,
{round(l['churn_last32_mean_ms'] / max(u['churn_last32_mean_ms'], 0.01), 1)}x
the shipped path) because every publish re-parses every retained
manifest. CURRENT's manifest stays
{u['current_manifest_bytes'] // 1024} KiB (files + pruned union) —
bounded by live + not-yet-GC'd names, not publish history. (The
`_manifests/` totals are the no-GC worst case of this synthetic
stream — `gc_snapshots` removes dropped versions' manifests
wholesale, and CURRENT's size is the bounded steady-state number.)
"""
    with (ROOT / "MAINTENANCE.md").open("a") as fh:
        fh.write(md)


def regenerate_md_only() -> int:
    """Rewrite MAINTENANCE.md from the committed MAINTENANCE.json —
    prose/format changes without re-measuring (numbers unchanged)."""
    payload = json.loads((ROOT / "MAINTENANCE.json").read_text())
    _write_md(payload["fragmentation"], payload["drift"],
              payload["head"])
    _append_manifest_md(payload["manifest"], payload["fragmentation"])
    if payload.get("publish_scaling"):
        _append_publish_md(payload["publish_scaling"])
    print("MAINTENANCE.md rewritten from MAINTENANCE.json "
          f"(head {payload['head']})")
    return 0


def main() -> int:
    if "--md-only" in sys.argv:
        return regenerate_md_only()
    spark = get_spark("bench-maintenance")
    spark.sparkContext.setLogLevel("ERROR")
    emb = (spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
           .select("vec_id", "embedding"))
    work = Path(tempfile.mkdtemp(prefix="maint_"))
    try:
        frag = scenario_fragmentation(spark, emb, work)
        drift = scenario_drift(spark, emb, work)
        man = scenario_manifest(spark, emb, work)
        pub = scenario_publish_scaling(work)
        head = None
        try:
            import subprocess
            head = subprocess.run(
                ["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                capture_output=True, text=True).stdout.strip()
        except OSError:
            head = "unknown"
        payload = {"sf_dir": SF_DIR, "head": head,
                   "fragmentation": frag, "drift": drift,
                   "manifest": man, "publish_scaling": pub}
        (ROOT / "MAINTENANCE.json").write_text(
            json.dumps(payload, indent=1) + "\n")
        _write_md(frag, drift, head)
        _append_manifest_md(man, frag)
        _append_publish_md(pub)
        print(json.dumps({
            "publish_union_last32_ms": pub["union"]["last32_mean_ms"],
            "publish_legacy_last32_ms":
                pub["legacy"]["last32_mean_ms"],
            "manifest_pinned_consistent":
                man["pinned_consistent_through_compact"],
            "manifest_dirlist_rows_post_compact":
                man["dirlist_rows_post_compact"],
            "manifest_snapshot_rows_post_compact":
                man["snapshot_rows_post_compact"],
            "manifest_gc_deleted": man["gc"]["deleted_files"],
            "frag_serve_speedup": frag["serve_speedup"],
            "frag_scan_speedup": frag["scan_speedup"],
            "frag_files_before": frag["before_health"]["total_files"],
            "frag_files_after": frag["after_health"]["total_files"],
            "drift_recall_before": drift["before"]["recall_at_nprobe"],
            "drift_recall_refined": drift["refined"]["recall_at_nprobe"],
            "drift_recall_retrained":
                drift["retrained"]["recall_at_nprobe"],
            "drift_probed_before": drift["before"]["probed_fraction"],
            "drift_probed_retrained":
                drift["retrained"]["probed_fraction"],
            "drift_maxload_before":
                drift["before_health"]["max_load_factor"],
            "drift_maxload_retrained":
                drift["retrained_health"]["max_load_factor"]}),
            flush=True)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
