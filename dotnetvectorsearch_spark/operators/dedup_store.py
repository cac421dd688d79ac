"""Persisted fingerprint + bloom store for incremental dedup:
build-once / serve-many.

Building the merged bloom bitset inside the query re-folds it from a
full corpus scan in every fresh session (and every honest-cold bench
rep), and the might-contain anti-join re-fingerprints the corpus
besides — at sf1 that scan dominated the query (6.3x the columnar
oracle). Production shape: the fingerprint table and its
bloom filter are PIPELINE STATE, maintained beside the corpus exactly
like the persisted ANN indexes in :mod:`ann_store` — built/refreshed
by an ingest job, served by every dedup call.

Split measured here (bench.py reports them separately, same contract
as ``ann_build_sec`` vs the ``ann_*_serve`` rows):
  * ``ensure_bloom_store(spark, sf_dir)`` — the build job: distinct
    corpus fingerprints as a narrow parquet table + the merged bloom
    bitset as a sidecar binary + a staleness marker fingerprinting the
    input files and sizing params. A changed corpus (or params)
    triggers a rebuild instead of silently serving a stale filter.
  * ``serve_incremental_dedup(new_docs, spark, path)`` — the serve
    path: batch-side work only. The bloom comes off disk (one file
    read + broadcast), the anti-join's corpus side is the narrow fp
    parquet (32-byte strings, column-pruned scan) — the raw corpus
    text is never touched.

At 100 TB the build is one scan per ingest batch (bloom inserts are
idempotent, so maintenance is append-only: fold the new batch's fps
into the stored bitset and append to the fp table); the serve cost is
|batch| + the dup sliver — independent of corpus size except for the
fp-table anti-join side, which shrinks to the sliver's partitions.
Past ~10^9 keys, shard the filter by fp prefix — the bound-then-shard
doctrine documented at ``dedup.build_bloom``.

serve == ``dedup.exact_dedup_incremental`` equality is pinned in
tests/test_dedup.py.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import SessionMemo, _input_fingerprint, unpersist_broadcast
from ..functions.text import fingerprint
from ..sources.io import load_table
from .ann_store import (
    _MARKER,
    _is_fresh,
    _store_fingerprint,
    _write_marker,
    default_root,
)
from .dedup import _bloom_probe_keep, build_bloom

# The corpus slice MUST stay in lockstep with the registry queries
# (_q_incremental_dedup_bloom serves what _q_incremental_dedup computes
# in-query against the same doc_id % 5 != 0 corpus).
STORE_PARAMS = {"n_bits": 1 << 23, "k_hashes": 7}
CORPUS_PRED = "doc_id % 5 != 0"

_BLOOM_FILE = "bloom.bin"
_FPS_DIR = "fps.parquet"


def store_path(sf_dir: str, root: str | None = None) -> str:
    tag = Path(sf_dir.rstrip("/")).name or "default"
    return str(Path(root or default_root()) / tag / "bloom_fps")


def _fingerprint(corpus: DataFrame, spec: str) -> str | None:
    """Marker fingerprint over the corpus files, slice spec and sizing
    (None, never fresh, when the files cannot be fingerprinted)."""
    return _store_fingerprint(_input_fingerprint(corpus), spec=spec,
                              params=STORE_PARAMS)


def build_store(corpus: DataFrame, path: str, text_col: str = "text",
                spec: str = "") -> None:
    """Write distinct corpus fingerprints + the merged bloom bitset.

    One corpus scan feeds both artifacts: fps distinct-written first,
    the bloom folded from the (much smaller) written fp table — so the
    raw-text fingerprinting pass runs once, not twice."""
    p = Path(path)
    p.mkdir(parents=True, exist_ok=True)
    fps = corpus.select(fingerprint(text_col).alias("fp")).distinct()
    fps.write.mode("overwrite").parquet(str(p / _FPS_DIR))
    spark = corpus.sparkSession
    written = spark.read.parquet(str(p / _FPS_DIR))
    bloom, nb, kh = build_bloom(written, "fp",
                                STORE_PARAMS["n_bits"],
                                STORE_PARAMS["k_hashes"])
    (p / _BLOOM_FILE).write_bytes(bloom)
    # Stamp AFTER a successful write (ann_store doctrine): a failed
    # build leaves no marker, so the next ensure retries instead of
    # serving half a store.
    _write_marker(path, {"fingerprint": _fingerprint(corpus, spec),
                         "n_bits": nb, "k_hashes": kh})


def ensure_bloom_store(spark: SparkSession, sf_dir: str,
                       root: str | None = None,
                       force: bool = False) -> tuple[str, bool]:
    """Build the persisted fp+bloom store for ``sf_dir``'s documents
    corpus slice iff missing or stale. Returns (path, built)."""
    corpus = load_table(spark, sf_dir, "documents").filter(CORPUS_PRED)
    fp = _fingerprint(corpus, CORPUS_PRED)
    path = store_path(sf_dir, root)
    if not force and _is_fresh(path, fp):
        return path, False
    build_store(corpus, path, spec=CORPUS_PRED)
    return path, True


# Per-session broadcast memo: (store path, marker fingerprint) ->
# (broadcast handle, n_bits, k_hashes). Re-broadcasting the ~1 MB
# bitset per serve call costs ~0.15 s; the marker fingerprint in the
# key means a rebuilt store gets a fresh broadcast automatically.
# 8 entries ~= 8 MB of driver refs.
_BLOOM_BROADCASTS = SessionMemo(8, release=unpersist_broadcast)


def _bloom_broadcast(spark: SparkSession, path: str):
    p = Path(path)
    meta = json.loads((p / _MARKER).read_text())
    # A null marker fingerprint means the build could not fingerprint
    # its inputs (never-fresh store, rebuilt every ensure): key on the
    # marker file's mtime instead so a rebuild invalidates the memo.
    fp = meta["fingerprint"]
    if fp is None:
        fp = f"mtime:{(p / _MARKER).stat().st_mtime_ns}"
    return _BLOOM_BROADCASTS.get_or_build(
        (str(p), fp),
        lambda: (spark.sparkContext.broadcast(
            (p / _BLOOM_FILE).read_bytes()),
            meta["n_bits"], meta["k_hashes"]))


def serve_incremental_dedup(new_docs: DataFrame, spark: SparkSession,
                            path: str, text_col: str = "text",
                            id_col: str = "doc_id",
                            ids_only: bool = False) -> DataFrame:
    """Incremental dedup of ``new_docs`` against the PERSISTED store —
    the amortized serve path. Identical output to
    ``dedup.exact_dedup_incremental(new_docs, corpus)`` for the corpus
    the store was built from (pinned in tests). ``ids_only=True``
    returns only the kept id column (skips the semi-join back to the
    batch rows — use when downstream wants the keep-set, not the
    payload)."""
    bc, nb, kh = _bloom_broadcast(spark, path)
    known = spark.read.parquet(str(Path(path) / _FPS_DIR))
    return _bloom_probe_keep(new_docs, known, bc, nb, kh,
                             text_col, id_col, ids_only=ids_only)
