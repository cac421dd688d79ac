"""Data-layout utilities for 100 TB corpora (beyond-reference; the
reference's only layout decision is three unused SQLite indexes,
Prepare/Program.cs:103-105).

Parquet pruning at scale is a *layout* property: row groups are skipped
via their min/max stats, and stats are only selective if the writer
clustered the data. Three tools:

- **Z-order write** (`zorder_value`, `write_zordered`): interleave the
  bits of several columns into one sort key so that sorting by it
  clusters ALL those columns at once — a filter on any of them then
  skips most row groups. The classic multi-dimensional-pruning layout
  (Delta/Iceberg OPTIMIZE ZORDER does the same); implemented here with
  pure built-in expressions (width_bucket + shiftleft + bitwise OR), no
  UDF, so the z-value computation is whole-stage-codegen'd.
- **Compaction** (`compact`): rewrite a directory of too-many small
  files into size-targeted files. Small files are the #1 silent killer
  of 100 TB scans (driver-side listing, per-file open cost, tiny row
  groups with useless stats).
- **Snapshot manifests** (`publish_snapshot`, `read_store_rows`,
  `gc_snapshots`): the file-list format of the cell-partitioned ANN
  stores (`operators.ann.IVFIndex` / `IVFPQIndex`). Their ``write``
  publishes snapshot v1 and their ``read`` resolves CURRENT, so every
  reader sees exactly one snapshot's files.

Scale notes: the z-value uses per-column min/max from one aggregate over
the input (a single pass); for append-only production data feed known
domain bounds instead via ``bounds=`` to skip that pass. Sorting by
z-value is a full shuffle — pay it once at write time, like bucketing.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import localdf

_MANIFEST_DIR = "_manifests"
_CURRENT = "CURRENT"


def _interleave_bits(quantized: list[Column], bits: int) -> Column:
    """Bit-interleave k quantized columns (each in [0, 2^bits)) into one
    long z-value: result bit (i*k + j) = bit i of column j."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, q in enumerate(quantized):
            bit = F.shiftright(q, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * len(quantized) + j))
    return z


def zorder_value(cols: list[str], bounds: dict[str, tuple[float, float]],
                 bits: int = 12) -> Column:
    """Z-value expression over numeric columns with known [lo, hi] bounds.

    Each column is linearly quantized to ``bits`` bits, then interleaved.
    ``bits * len(cols)`` must stay <= 63 (long z-value)."""
    if bits * len(cols) > 63:
        raise ValueError("bits * len(cols) must be <= 63")
    max_q = (1 << bits) - 1
    quantized = []
    for c in cols:
        lo, hi = bounds[c]
        span = (hi - lo) or 1.0
        scaled = ((F.col(c).cast("double") - F.lit(float(lo)))
                  / F.lit(float(span)) * max_q)
        q = F.least(F.greatest(F.round(scaled).cast("long"), F.lit(0)),
                    F.lit(max_q))
        quantized.append(q)
    return _interleave_bits(quantized, bits)


def write_zordered(df: DataFrame, path: str, cols: list[str],
                   bits: int = 12, n_files: int | None = None,
                   bounds: dict[str, tuple[float, float]] | None = None,
                   mode: str = "overwrite") -> None:
    """Write ``df`` clustered on the z-order curve of ``cols``.

    ``repartitionByRange`` on the z-value gives globally disjoint file
    ranges (better than a local sort for pruning), then each task sorts
    its range so row groups inside a file are tight too."""
    if bounds is None:
        aggs = []
        for c in cols:
            aggs += [F.min(F.col(c).cast("double")).alias(f"__lo_{c}"),
                     F.max(F.col(c).cast("double")).alias(f"__hi_{c}")]
        row = df.agg(*aggs).collect()[0]
        bounds = {c: (row[f"__lo_{c}"], row[f"__hi_{c}"]) for c in cols}
    z = zorder_value(cols, bounds, bits).alias("__z")
    with_z = df.withColumn("__z", z)
    parts = n_files or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32")
    (with_z.repartitionByRange(int(parts), "__z")
     .sortWithinPartitions("__z")
     .drop("__z")
     .write.mode(mode).parquet(path))


def compact(spark: SparkSession, path: str, out_path: str,
            target_mb: int = 512, sort_by: str | None = None) -> int:
    """Rewrite a parquet directory (flat or partitioned) into
    ~target_mb-sized files, out of place; returns the number of files
    written. The task count is ceil(on-disk bytes / target), sized from
    the directory's recursive content summary (driver metadata, no data
    pass). A partitioned input keeps its ``k=v/`` directories: rows
    are hashed (or, with ``sort_by``, ranged) on the partition columns
    first, and the output is written ``partitionBy`` them. ``sort_by``
    re-sorts during compaction to restore min/max selectivity that
    tiny appends destroyed."""
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    total_bytes = fs.getContentSummary(p).getLength()
    n = max(1, math.ceil(total_bytes / (target_mb * 1024 * 1024)))
    # the partition columns, as Spark's discovery finds them: the key
    # of each nested k=v directory level
    parts, level = [], p
    while sub := [s.getPath() for s in fs.listStatus(level)
                  if s.isDirectory() and "=" in s.getPath().getName()
                  and s.getPath().getName()[0] not in "_."]:
        parts.append(sub[0].getName().split("=", 1)[0])
        level = sub[0]
    df = spark.read.parquet(path)
    if sort_by:
        keys = [*parts, sort_by]
        out = df.repartitionByRange(n, *keys).sortWithinPartitions(*keys)
    else:
        out = df.repartition(n, *parts)
    writer = out.write.mode("overwrite")
    (writer.partitionBy(*parts) if parts else writer).parquet(out_path)
    return len(spark.read.parquet(out_path).inputFiles())


# --------------------------------------------------------------------
# Snapshot manifests — cross-cell consistency for maintenance
# --------------------------------------------------------------------
# A directory listing of a cell store is not a snapshot: mid-compaction
# it holds some cells compacted and others not, and until GC it holds
# every retired file next to its rewrite (each row twice). The fix is
# the one Delta/Iceberg use for OPTIMIZE: an immutable per-version
# MANIFEST naming the exact data files of a snapshot, plus an
# atomically-replaced CURRENT pointer. Readers
# resolve CURRENT once and read that file list — concurrent appends,
# compactions, and GC never change what a running query sees, because
# data files are immutable and a publisher never deletes anything
# (deletion is a separate GC step that only touches files no retained
# snapshot references). This is the local-fs analogue of the Delta
# transaction log: `manifest-v%06d.json` under `_manifests/` (the
# underscore prefix keeps Spark's directory reads ignoring it), CURRENT
# swapped via write-temp + os.replace (atomic on POSIX). Scope: the
# cell-partitioned ANN store of every index kind, whose ``write``
# publishes v1; readers get snapshot isolation, WRITER-writer
# coordination is still the documented single-maintenance-writer window
# (a real catalog CAS is the multi-writer upgrade path). Local filesystem
# only: a store path is a bare path or a ``file:`` URI.


def store_root(path: str) -> Path:
    """The local directory of a cell store named by a bare path or a
    ``file:`` URI. Raises ValueError for a remote store: the manifest
    layer needs flock and an atomic rename, which object stores lack."""
    local = localdf.local_path(path)
    if local is None:
        raise ValueError(f"cell store {path} is not on the local "
                         "filesystem; snapshot manifests need flock and "
                         "an atomic rename")
    return Path(local)


def _manifests_root(path: str) -> Path:
    return store_root(path) / _MANIFEST_DIR


def _data_files(path: str) -> list[str]:
    """All data-file paths (relative to the store root) in cell=* partition
    dirs. Only *.parquet leaves count — markers and _SUCCESS files don't."""
    root = store_root(path)
    out = []
    for d in sorted(root.glob("cell=*")):
        out.extend(sorted(str(f.relative_to(root))
                          for f in d.glob("*.parquet")))
    return out


def _read_manifest_file(p: Path) -> dict:
    return json.loads(p.read_text())


@contextlib.contextmanager
def _writer_lock(path: str):
    """Advisory exclusive lock for store PUBLISHERS (publish / compact
    / GC): an ``fcntl.flock`` on ``_manifests/LOCK``, held for the
    whole read-allocate-write span so two writers cannot race version
    allocation or interleave a GC with a publish. Readers never take
    it — snapshot isolation already protects them. Honest scope:
    advisory and same-host (flock over NFS depends on the mount; a
    multi-host deployment wants a catalog CAS on the CURRENT pointer,
    the same upgrade path Delta/Iceberg take). On platforms without
    fcntl the lock degrades to the documented single-writer window."""
    root = _manifests_root(path)
    root.mkdir(parents=True, exist_ok=True)
    with open(root / "LOCK", "w") as lf:
        try:
            import fcntl
            fcntl.flock(lf, fcntl.LOCK_EX)
        except ImportError:      # non-POSIX: single-writer fallback
            pass
        yield


def current_snapshot_version(path: str) -> int | None:
    """Version in CURRENT, or None when the store has no manifests."""
    current = _manifests_root(path) / _CURRENT
    try:
        return int(current.read_text())
    except (OSError, ValueError):
        return None


def list_snapshots(path: str) -> list[dict]:
    """All retained snapshot manifests, oldest first: each a dict with
    ``version``, ``files`` (relative paths), ``n_files``, ``note``."""
    root = _manifests_root(path)
    if not root.is_dir():
        return []
    out = []
    for p in sorted(root.glob("manifest-v*.json")):
        try:
            out.append(_read_manifest_file(p))
        except (OSError, ValueError):
            continue
    return sorted(out, key=lambda m: m["version"])


def read_manifest(path: str, version: int | None = None) -> dict:
    """The manifest of ``version`` (default: CURRENT). Raises
    FileNotFoundError when the store has no manifests or the version
    was GC'd."""
    if version is None:
        version = current_snapshot_version(path)
        if version is None:
            raise FileNotFoundError(f"no manifests under {path}")
    p = _manifests_root(path) / f"manifest-v{version:06d}.json"
    if not p.is_file():
        raise FileNotFoundError(f"snapshot v{version} not found "
                                f"(GC'd or never published) under {path}")
    return _read_manifest_file(p)


def _rollback_ghost_manifests(path: str) -> int:
    """Remove manifests NEWER than CURRENT — the debris of a writer
    that crashed between writing its manifest file and swapping the
    CURRENT pointer (the one non-atomic gap in the two-rename publish
    protocol). Such a ghost version was never observable as CURRENT,
    so deleting it is a rollback, not data loss: its data files (for
    a crashed compaction, ``compact-v*``-named) become unreferenced
    and the caller's orphan cleanup removes them, while the committed
    CURRENT snapshot is untouched. Without this, GC keyed on "newest
    retained" could keep the ghost and DELETE the files CURRENT
    serves (advisor r13). Caller must hold the writer lock."""
    cur = current_snapshot_version(path)
    if cur is None:
        return 0
    n = 0
    for mf in _manifests_root(path).glob("manifest-v*.json"):
        try:
            ver = int(mf.stem.split("-v")[1])
        except (IndexError, ValueError):
            continue
        if ver > cur:
            try:
                mf.unlink()
                n += 1
            except OSError:
                pass
    return n


def _referenced_union(path: str, cur_m: dict | None = None) -> set:
    """Every file name any RETAINED manifest still accounts for:
    CURRENT's recorded ``referenced_union`` when present, else a
    one-time scan of all retained manifests (pre-union back-compat).
    Pass the already-read CURRENT manifest to avoid a re-parse."""
    if cur_m is None:
        v = current_snapshot_version(path)
        if v is None:
            return set()
        cur_m = read_manifest(path, v)
    if cur_m.get("referenced_union") is not None:
        return set(cur_m["referenced_union"])
    union = set()
    for m in list_snapshots(path):
        union.update(m["files"])
    return union


def _footer_rows(path: str, files: list[str]) -> int:
    """Total rows across ``files`` from parquet FOOTER metadata only —
    no Spark job, no data pages. O(files) metadata reads, exactly the
    statistic Iceberg/Delta manifests carry so a 100 TB store can
    answer ``count(*)`` per snapshot without a scan."""
    import pyarrow.parquet as _pq
    root = store_root(path)
    total = 0
    for rel in files:
        total += _pq.ParquetFile(str(root / rel)).metadata.num_rows
    return int(total)


def snapshot_row_count(path: str, version: int | None = None) -> int:
    """Row count of a snapshot (default CURRENT) from its manifest's
    recorded ``n_rows`` — written at publish time from parquet footers.
    For a manifest written before row stats existed, falls back to a
    footer sum over the manifest's files (same number, computed late)."""
    m = read_manifest(path, version)
    if m.get("n_rows") is not None:
        return int(m["n_rows"])
    return _footer_rows(path, m["files"])


def _write_manifest(path: str, files: list[str], note: str = "",
                    union: set | None = None,
                    live: set | None = None) -> int:
    """Publish an immutable manifest for exactly ``files`` and swap
    CURRENT to it. Returns the new version number.

    Each manifest also carries ``referenced_union`` — the names every
    retained manifest still accounts for — so a publish reads only
    the newest manifest (O(files)) instead of re-parsing all retained
    ones (O(versions x files), quadratic over a long
    publish-per-trigger stream — advisor r13). The union is PRUNED
    here against the live directory before being written: a name
    neither on disk nor in this snapshot can never recur (Spark part
    files carry task UUIDs; compaction outputs carry a version
    allocated monotonically from the always-retained CURRENT), so
    dropping it is sound and keeps the union — and every manifest's
    size — O(live files + not-yet-GC'd retirees) instead of growing
    with the store's whole publish history (advisor r13, 2nd pass).
    Callers that already resolved the union pass it in to avoid a
    second CURRENT parse."""
    root = _manifests_root(path)
    root.mkdir(parents=True, exist_ok=True)
    cur_ver = current_snapshot_version(path)
    version = 1 if cur_ver is None else cur_ver + 1
    if union is None:
        union = _referenced_union(path)
    if live is None:
        live = set(_data_files(path))
    union = (set(union) | set(files)) & (live | set(files))
    doc = {"version": version, "files": sorted(files),
           "n_files": len(files), "n_rows": _footer_rows(path, files),
           "note": note,
           "referenced_union": sorted(union)}
    mf = root / f"manifest-v{version:06d}.json"
    tmp = root / f".manifest-v{version:06d}.json.tmp"
    tmp.write_text(json.dumps(doc))
    os.replace(tmp, mf)            # manifest file lands whole
    cur_tmp = root / f".{_CURRENT}.tmp"
    cur_tmp.write_text(str(version))
    os.replace(cur_tmp, root / _CURRENT)   # atomic pointer swap
    return version


def publish_snapshot(path: str, note: str = "") -> int:
    """Publish the next snapshot of a cell-partitioned store after an
    APPEND, or its first snapshot after a ``write``. Returns the new
    version.

    The new file set is NOT a bare directory listing: after a
    compaction the directory still holds retired files awaiting
    :func:`gc_snapshots`, and re-listing them would double-count
    rows. So the snapshot is

        (CURRENT's files that still exist)  ∪  (files on disk that NO
        retained manifest references)

    — the second term is exactly the freshly-appended files (retired
    files stay referenced until GC removes them from disk; the
    "referenced" set is the ``referenced_union`` carried by CURRENT,
    so a publish is O(files), not O(versions x files)). For a freshly
    written store (no manifests yet) it is the full directory listing.

    Unreferenced ``compact-v*`` files are DEBRIS, not appends: a live
    compaction holds the same writer lock for its whole move+publish
    span, so any compaction-named file that is visible here yet
    referenced by no manifest came from a compaction that crashed
    before publishing. Folding it in would duplicate the rows it
    rewrote (advisor r13) — it is deleted instead (the crashed pass
    left CURRENT untouched, so nothing is lost)."""
    with _writer_lock(path):
        _rollback_ghost_manifests(path)
        on_disk = set(_data_files(path))
        cur_ver = current_snapshot_version(path)
        if cur_ver is None:
            return _write_manifest(path, sorted(on_disk),
                                   note or "initial")
        cur_m = read_manifest(path, cur_ver)
        referenced = _referenced_union(path, cur_m)
        fresh = on_disk - referenced
        orphans = {f for f in fresh
                   if Path(f).name.startswith("compact-v")}
        for rel in sorted(orphans):
            try:
                (store_root(path) / rel).unlink()
            except OSError:
                pass
        fresh -= orphans
        files = (set(cur_m["files"]) & on_disk) | fresh
        return _write_manifest(path, sorted(files), note,
                               union=referenced,
                               live=on_disk - orphans)


def publish_rewrite(path: str, rewrite) -> int | None:
    """Publish a rewrite of a store's CURRENT snapshot under the writer
    lock: ``rewrite(manifest)`` gets CURRENT's manifest (ghost manifests
    rolled back first) and returns the new snapshot's ``(files, note)``,
    or None to publish nothing. Returns the new version, or None. The
    lock spans the whole rewrite, so no publish or GC interleaves it.
    Raises FileNotFoundError for a store with no CURRENT snapshot."""
    with _writer_lock(path):
        _rollback_ghost_manifests(path)
        out = rewrite(read_manifest(path))
        if out is None:
            return None
        files, note = out
        return _write_manifest(path, files, note)


def read_store_rows(spark: SparkSession, path: str,
                    version: int | None = None) -> DataFrame:
    """Snapshot-consistent rows of a cell-partitioned store: resolve
    the manifest (CURRENT, or an explicit ``version`` for time-travel)
    and read exactly its files. ``basePath`` keeps the ``cell=...``
    directory components parsed as the partition column, so probe-time
    cell pruning works identically to a directory read. Raises
    FileNotFoundError for a store with no manifests."""
    m = read_manifest(path, version)
    if not m["files"]:
        raise ValueError(f"snapshot v{m['version']} of {path} is empty")
    base = path.rstrip("/")
    return (spark.read.option("basePath", base)
            .parquet(*[f"{base}/{f}" for f in m["files"]]))


def gc_snapshots(path: str, keep_last: int = 2) -> dict:
    """Drop all but the newest ``keep_last`` manifests and delete the
    data files ONLY they referenced. Returns
    ``{"dropped_versions": [...], "deleted_files": n}``.

    Deletes nothing a kept manifest references, and nothing no manifest
    references (an unreferenced file is a not-yet-published append, not
    garbage). A dropped version's MANIFEST is unlinked only after all
    the data files it alone referenced were successfully removed —
    otherwise the manifest survives (and stays in ``dropped_versions``'
    complement) so the stranded files remain referenced and the next
    GC retries, instead of the next publish folding them back in as
    duplicate rows (advisor r13). Run this once readers can no longer
    be pinned to the dropped versions — the retention window is the
    reader-lifetime bound, exactly Delta's VACUUM contract."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1 (CURRENT must survive)")
    with _writer_lock(path):
        # A ghost manifest (written, CURRENT never swapped — crashed
        # writer) must not count as "newest retained": keyed on it,
        # keep_last=1 would delete the files CURRENT serves and brick
        # the store (advisor r13). Roll ghosts back first; retention
        # is then anchored on the committed CURRENT.
        _rollback_ghost_manifests(path)
        snaps = list_snapshots(path)
        if len(snaps) <= keep_last:
            return {"dropped_versions": [], "deleted_files": 0}
        drop, keep = snaps[:-keep_last], snaps[-keep_last:]
        kept_files = set()
        for m in keep:
            kept_files.update(m["files"])
        doomed = set()
        for m in drop:
            doomed.update(f for f in m["files"] if f not in kept_files)
        deleted, failed = 0, set()
        for rel in sorted(doomed):
            p = store_root(path) / rel
            try:
                p.unlink()
                deleted += 1
            except FileNotFoundError:
                pass                       # already gone: success
            except OSError:
                failed.add(rel)
        dropped_versions = []
        for m in drop:
            if any(f in failed for f in m["files"]):
                continue                   # keep manifest; retry later
            try:
                (_manifests_root(path)
                 / f"manifest-v{m['version']:06d}.json").unlink()
                dropped_versions.append(m["version"])
            except OSError:
                pass
        return {"dropped_versions": dropped_versions,
                "deleted_files": deleted}
