"""Driver-resident pin of the persisted ANN store: a bounded snapshot is
served with zero Spark jobs.

A Spark read of a persisted snapshot lists its files, infers their
parquet schema and scans them: 3-6 jobs and 0.4-1.2 s per
``serve_topk`` call on the 500- to 2,000-row test corpora. The
reference answers every search in-process over an in-memory list
(``VectorSearchService.cs:142-203``); this module does the same for a
store that fits under ``localdf.DRIVER_BYTES``, and returns None past
the bound so the caller keeps the Spark plan.

**Exactness.** A published data file never changes: an append adds new
files, compaction writes new names, GC deletes whole files. So one
file's columns are memoized under (store, marker fingerprint, file
path, size, mtime_ns), and a new snapshot version reads only the files
it adds (the session reuse of *Incremental Based Framework for
Efficient Top-K Similarity Search in Interactive Data Analysis
Sessions*, EDBT 2020). A rebuild writes new file names and stamps a new
marker, so it misses. The rescore table of pq/ivfpq is memoized per
file on (path, size, mtime_ns) the same way. Scores come from the
engine's exact twins of the Spark expressions: ``search.DriverVectors``
and ``rank_top_k`` for the cosine top-k (bit-equal to ``F.round(cos,
6)`` ranked by similarity desc, id asc), ``ann._adc`` plus
``round6_half_up`` for the ADC shortlist (the Spark UDF's kernel and
``F.round``'s HALF_UP rule). Results therefore equal the Spark path row
for row and score for score, pinned on every retained version in
tests/test_ann_store.py.

**The gate** runs before any data page is read: the snapshot's footer
row count (the manifest's ``n_rows``) and, for pq/ivfpq, the rescore
table's footer row counts, times the bytes the pin holds per row, must
fit ``localdf.DRIVER_BYTES``. ``DRIVER_BYTES = 0`` therefore forces the
Spark path. So does anything the driver kernels cannot reproduce
exactly: a remote file, a null or non-``bigint`` id, a null, ragged or
non-finite vector, or a query whose length differs from the store's.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from .. import localdf
from ..caching import SessionMemo
from ..sources.layout import read_manifest, snapshot_row_count, store_root
from .ann import IVFIndex, IVFPQIndex, _adc
from .search import DriverVectors, rank_top_k, round6_half_up, validate_top_k

# Pinned data files (FIFO). Every call's files pass the byte gate
# together; the cap bounds what earlier versions and stores leave.
_FILES = SessionMemo(1024)
# Trained state per (store, state files' stat).
_STATES = SessionMemo(16)

_ID, _VEC, _CODES = "vec_id", "embedding", "pq_codes"
# the Spark path's result schema
_SCHEMA = StructType([StructField(_ID, LongType()),
                      StructField("similarity", DoubleType())])


def _stat_key(fpath: str) -> tuple:
    st = os.stat(fpath)
    return fpath, st.st_size, st.st_mtime_ns


def _read_columns(fpath: str, col: str):
    """(int64 ids, one row per id of the float vector or the int32 PQ
    codes) of one data file, or None when the driver kernels cannot
    reproduce Spark's answer over it exactly."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.ParquetFile(fpath).read(columns=[_ID, col])
    ids, vals = t.column(_ID), t.column(col)
    if ids.type != pa.int64() or ids.null_count or vals.null_count:
        return None
    n = t.num_rows
    lens = pc.min_max(pc.list_value_length(vals)).as_py()
    flat = pc.list_flatten(vals)
    if lens["min"] != lens["max"] or flat.null_count:
        return None
    mat = flat.to_numpy().reshape(n, lens["min"] or 0)
    if not np.isfinite(mat).all():
        return None
    return ids.to_numpy(), mat


def _pinned(keys: list[tuple], col: str, tag: tuple) -> list | None:
    """Each file's memoized (ids, rows), reading only the files not
    pinned yet; None when any of them is unservable (its None is
    memoized too)."""
    parts = []
    for key in keys:
        part = _FILES.get_or_build(tag + key,
                                   lambda: _read_columns(key[0], col))
        if part is None:
            return None
        parts.append(part)
    return parts


def _stack(parts: list) -> tuple[np.ndarray, np.ndarray]:
    parts = [p for p in parts if len(p[0])]
    if not parts:
        return np.zeros(0, np.int64), np.zeros((0, 0), np.float32)
    return (np.concatenate([p[0] for p in parts]),
            np.concatenate([p[1] for p in parts]))


def _state(kind: str, path: str):
    """The store's trained state, memoized on its state files' stat."""
    root = store_root(path)
    dirs = [root / "_centroids"] if kind == "ivf" else \
        sorted((root / "_meta").iterdir())
    key = (path, tuple(_stat_key(str(f)) for d in dirs
                       for f in sorted(d.glob("*.parquet"))))
    cls = IVFIndex if kind == "ivf" else IVFPQIndex
    return _STATES.get_or_build(key, lambda: cls.load(path))


def _cosine_topk(ids, vecs, query_vec, k: int
                 ) -> list[tuple[int, float]]:
    """``brute_force_topk``'s (id, similarity) rows over ``vecs``."""
    if not len(ids):
        return []
    pos, scores = rank_top_k(DriverVectors(vecs).cosine(query_vec), ids, k)
    return [(int(ids[p]), s) for p, s in zip(pos, scores)]


def _adc_shortlist(idx: IVFPQIndex, ids, codes, cells, query_vec,
                   n: int) -> np.ndarray:
    """The ids ``_adc_topk`` keeps for rescoring: every probed row's
    ADC score rounded as ``F.round(x, 6)``, ranked by score desc then
    id asc, cut at ``n``."""
    if not len(ids):
        return ids
    s = round6_half_up(_adc(idx.pq.lookup_table(query_vec), codes,
                            idx.offsets(query_vec), cells))
    return ids[np.lexsort((ids, -s))[:n]]


def pinned_topk(spark: SparkSession, path: str, kind: str,
                fingerprint: str | None, query_vec: list[float], k: int,
                nprobe: int | None, version: int | None, shortlist: int,
                rescore_files: list[str] | None) -> DataFrame | None:
    """``serve_topk``'s answer from the driver pin, or None when the
    read belongs on the Spark path (see the module docstring). Raises
    FileNotFoundError for a GC'd ``version``, as the Spark path does.
    ``rescore_files`` are the input files of the pq/ivfpq rescore
    table."""
    validate_top_k(k)
    m = read_manifest(path, version)
    if not m["files"]:
        return None                  # the Spark path raises for it
    idx = _state(kind, path)
    ivf = idx if kind == "ivf" else idx.ivf
    dim = ivf.centroids.shape[1]
    if len(query_vec) != dim:
        return None
    # the gate, from footer row counts: bytes the pin holds per row are
    # the id plus float32 vector or int32 codes
    vec_row = 8 + 4 * dim
    need = snapshot_row_count(path, m["version"]) * (
        vec_row if kind == "ivf" else 8 + 4 * idx.pq.m)
    sf_keys = []
    if kind != "ivf":
        import pyarrow.parquet as pq
        local = [localdf.local_path(f) for f in rescore_files]
        if not local or None in local:
            return None
        sf_keys = [_stat_key(f) for f in local]
        need += vec_row * sum(pq.ParquetFile(f).metadata.num_rows
                              for f in local)
    if localdf.DRIVER_BYTES <= 0 or need > localdf.DRIVER_BYTES:
        return None
    width = ivf.nprobe if nprobe is None else nprobe
    probe = {f"cell={c}" for c in ivf.cell_order(query_vec)[:width]}
    root = str(store_root(path))
    files = [rel for rel in m["files"] if rel.split("/", 1)[0] in probe]
    parts = _pinned([_stat_key(os.path.join(root, rel)) for rel in files],
                    _VEC if kind == "ivf" else _CODES, (path, fingerprint))
    if parts is None:
        return None
    ids, rows = _stack(parts)
    if kind != "ivf":
        # each row's cell comes from its file's cell=N directory
        cells = np.repeat([int(rel.split("/", 1)[0][len("cell="):])
                           for rel in files], [len(p[0]) for p in parts])
        keep = _adc_shortlist(idx, ids, rows, cells, query_vec,
                              shortlist or max(10 * k, 50))
        parts = _pinned(sf_keys, _VEC, ("rescore",))
        if parts is None:
            return None
        ids, rows = _stack(parts)
        sel = np.isin(ids, keep)
        ids, rows = ids[sel], rows[sel]
    return localdf.local_df(spark, _cosine_topk(ids, rows, query_vec, k),
                            _SCHEMA)
