"""Approximate nearest-neighbor search over embedding columns.

Four physical strategies with one logical contract (top-k by cosine):

- **Brute force** (`brute_force_topk`): the exact baseline — broadcast
  query + full scan + per-partition heap top-k (TakeOrderedAndProject).
  O(N*d) but embarrassingly parallel; correct at any scale, optimal up to
  ~10^8 rows (SURVEY.md §4 scale analysis).
- **IVF** (`IVFIndex`): k-means cells trained on a driver-side sample
  (centroid quality needs only a sample — at 100 TB you train on
  ~10^5-10^6 sampled vectors, never the corpus). Corpus assignment is one
  narrow Arrow-batched matmul; the index is written
  ``partitionBy("cell")`` so a query's `nprobe` cells become *partition
  pruning* at the Parquet scan — the physical win: a 64-cell index with
  nprobe=4 reads ~6% of the corpus per query.
- **Random-hyperplane LSH** (`HyperplaneLSH`): sign-bit buckets; queries
  probe the exact bucket plus hamming-1 neighbors (multi-probe) and
  brute-force inside.
- **Product quantization** (`PQIndex`): m x 256 sample-trained codebooks,
  vectors stored as m uint8 codes (32x compression at d=64/m=8), scored
  by per-query ADC lookup tables without touching the float column.
  `IVFPQIndex` composes it with IVF cells; every persisted index is an
  IVF-style cell store (`_CellWriter`).

The assignment step is the one deliberate Python hop (vectorized numpy
matmul over Arrow batches) — at 384-d a literal-expression dot product per
centroid would blow up the Catalyst expression tree; a batched matmul is
both faster and cleaner. Everything after assignment is built-in exprs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from dotnetvectorsearch_spark import localdf
from dotnetvectorsearch_spark.localdf import local_df
from dotnetvectorsearch_spark.operators.search import (
    _panel, _rank_window, _scan_topk, top_k_similar)
from dotnetvectorsearch_spark.sources.layout import (
    publish_snapshot, read_store_rows, store_root)


# Default training-sample size of the k-means / codebook fits.
MAX_SAMPLE = 100_000

# Row bound of the driver-side index write (the byte bound,
# localdf.DRIVER_BYTES, binds first for any vector of 16+ floats).
_WRITE_MAX_ROWS = 1_000_000


def _write_state(path: str, ddl: str, mats, *extra) -> None:
    """Write a TINY trained-state table (bounded by n_cells or
    m×n_codes, never the corpus): one row per index of the leading axes
    of ``mats`` (no arrays: one row), row-major, holding the index ints,
    each array's float vector there (null for a None array), then
    ``extra``. One pyarrow file in Spark's layout (list elements named
    ``element``, snappy) under the local store, ZERO Spark jobs."""
    import os
    import shutil

    import pyarrow.parquet as pq
    from pyspark.sql.types import _parse_datatype_string

    lead = mats[0].shape[:-1] if mats else ()
    rows = [(*map(int, ix),
             *(None if a is None else [float(x) for x in a[ix]]
               for a in mats),
             *extra)
            for ix in np.ndindex(lead)]
    dst = str(store_root(path))
    table = localdf.arrow_table(rows, _parse_datatype_string(ddl))
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst, exist_ok=True)
    pq.write_table(table, os.path.join(dst, "part-00000.parquet"),
                   compression="snappy")


def _read_state(path: str, keys: tuple[str, ...],
                *cols: str) -> tuple[list, list]:
    """Read a :func:`_write_state` table on the driver with pyarrow (no
    Spark job): (its rows, one dense float32 array per ``cols`` column
    indexed by the ``keys`` columns, None for a null column)."""
    from types import SimpleNamespace

    import pyarrow.parquet as pq

    t = pq.read_table(store_root(path))
    data = [t.column(c).to_pylist() for c in t.column_names]
    rows = [SimpleNamespace(**dict(zip(t.column_names, vals)))
            for vals in zip(*data)]
    shape = tuple(max(getattr(r, k) for r in rows) + 1 for k in keys)
    dense = []
    for col in cols:
        if getattr(rows[0], col) is None:
            dense.append(None)
            continue
        a = np.zeros(shape + (len(getattr(rows[0], col)),), np.float32)
        for r in rows:
            a[tuple(getattr(r, k) for k in keys)] = getattr(r, col)
        dense.append(a)
    return rows, dense


def brute_force_topk(emb: DataFrame, query_vec: list[float], k: int = 5,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k against a literal query vector."""
    spark = emb.sparkSession
    q = local_df(spark, [([float(x) for x in query_vec],)],
                 "query_embedding array<float>")
    return top_k_similar(emb.select(id_col, vec_col), q, top_k=k,
                         id_col=id_col, doc_vec=vec_col, round_digits=6)


def _unit(query_vec) -> np.ndarray:
    """The query as a float32 unit vector (a zero vector stays zero):
    what cell ranking and the ADC tables score against."""
    q = np.asarray(query_vec, dtype=np.float32)
    return q / max(np.linalg.norm(q), 1e-12)


def _unit_rows(mat: np.ndarray) -> np.ndarray:
    """Every row of ``mat`` scaled to unit length (a zero row stays
    zero), in ``mat``'s dtype."""
    return mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True),
                            1e-12)


def _nearest_cell(x: np.ndarray, cent: np.ndarray) -> np.ndarray:
    """Each unit row's nearest unit centroid (max dot == max cosine)."""
    return np.argmax(x @ cent.T, axis=1)


def _nearest_code(x: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Each row's nearest code by squared Euclidean distance, expanded
    as |x|^2 - 2 x.c + |c|^2 so one matmul scores every code."""
    d2 = (np.sum(x ** 2, axis=1, keepdims=True)
          - 2.0 * (x @ books.T) + np.sum(books ** 2, axis=1))
    return np.argmin(d2, axis=1)


def _fit_sample(emb: DataFrame, vec_col: str, max_sample: int,
                seed: int) -> np.ndarray:
    """The seeded training sample of a fit: ~``max_sample`` rows of
    ``vec_col`` (every row when the corpus is smaller), stacked on the
    driver in scan order."""
    fraction = min(1.0, max_sample / max(emb.count(), 1))
    sample = (emb.sample(fraction=fraction, seed=seed)
              .select(vec_col).toPandas()[vec_col])
    return np.stack(sample.to_numpy())


def _kmeans_seed_pp(x: np.ndarray, k: int,
                    rng: "np.random.RandomState") -> np.ndarray:
    """k-means++ seeding with a RUNNING min-distance vector.

    Bit-identical to the textbook "min over distances to every chosen
    centroid" form (elementwise float min is exact and associative;
    each per-centroid distance array is computed by the same numpy
    expression), but O(k n d) instead of the O(k^2 n d) that
    recomputing the full min each step costs — the measured ~5 s of
    every PQ fit was this loop, not Lloyd and not Spark."""
    n = len(x)
    centroids = [x[rng.randint(n)]]
    d2 = np.sum((x - centroids[0]) ** 2, axis=1)
    for _ in range(1, k):
        s = d2.sum()
        # all remaining points coincide with a centroid -> uniform pick
        probs = d2 / s if s > 0 else np.full(n, 1.0 / n)
        c = x[rng.choice(n, p=probs)]
        centroids.append(c)
        np.minimum(d2, np.sum((x - c) ** 2, axis=1), out=d2)
    return np.stack(centroids)


def _group_slices(assign: np.ndarray, k: int):
    """(order, starts) such that ``x[order[starts[c]:starts[c+1]]]``
    holds exactly the rows assigned to c IN ROW ORDER (stable sort), so
    a per-group ``np.mean`` sees the identical operand sequence as the
    boolean-mask form — one argsort replaces k full-array mask scans
    per Lloyd iteration."""
    order = np.argsort(assign, kind="stable")
    starts = np.searchsorted(assign[order], np.arange(k + 1))
    return order, starts


def _lloyd(x: np.ndarray, k: int, seed: int, iters: int,
           spherical: bool) -> np.ndarray:
    """Seeded k-means++ then ``iters`` Lloyd passes over the rows of
    ``x`` (never more centers than points). Spherical: assign by max
    cosine, renormalize each mean; else assign by Euclidean distance.
    Each non-empty group's mean (stable-grouped, see _group_slices)
    becomes its center; empty groups keep theirs."""
    nearest = _nearest_cell if spherical else _nearest_code
    rng = np.random.RandomState(seed)
    k = min(k, len(x))
    cent = _kmeans_seed_pp(x, k, rng)
    for _ in range(iters):
        order, starts = _group_slices(nearest(x, cent), k)
        for c in range(k):
            lo, hi = starts[c], starts[c + 1]
            if hi > lo:
                m = x[order[lo:hi]].mean(axis=0)
                cent[c] = (m / max(np.linalg.norm(m), 1e-12)
                           if spherical else m)
    return cent.astype(np.float32)


def _kmeans_fit(sample: np.ndarray, n_cells: int, seed: int,
                iters: int = 15) -> np.ndarray:
    """Seeded spherical k-means on a driver-side sample; unit-normalized
    centroids (so cell assignment by max dot == max cosine)."""
    return _lloyd(_unit_rows(sample), n_cells, seed, iters, spherical=True)


class _CellWriter:
    """The one cell writer every ANN store kind shares (IVF, IVF-PQ, and
    PQ as a one-cell IVF-PQ): rows land ``partitionBy("cell")`` under a
    local store, each carrying what the index's per-row encoder adds.
    A subclass defines ``_encode(vecs)`` -> (int32 cell per row, int32
    PQ codes per row or None), the numpy kernel its Arrow UDF runs too
    (so both paths produce identical rows by construction) — IVF the
    cell only, IVF-PQ the cell plus ``pq_codes`` with the float vector
    dropped — and ``_cell_rows(emb, vec_col)``, the same encoding as a
    Spark frame (the distributed write)."""

    def _write_cells(self, emb: DataFrame, path: str, vec_col: str,
                     mode: str) -> None:
        """Write ``emb``'s encoded rows into the store at ``path``
        (``mode`` "overwrite" or "append"): the bounded driver path
        when it applies, else the distributed
        ``_cell_rows(emb).write.partitionBy("cell")``."""
        if not self._write_cells_local(emb, path, vec_col, mode):
            self._cell_rows(emb, vec_col).write.mode(mode) \
                .partitionBy("cell").parquet(path)

    def _write_cells_local(self, emb: DataFrame, path: str,
                           vec_col: str, mode: str) -> bool:
        """Bounded driver-side twin of the distributed cell write for a
        supported schema (the store itself is always local): collect
        within ``localdf.DRIVER_BYTES`` (``localdf.collect_bounded``,
        one sizing job and one Arrow collect), encode with the SAME
        kernel the UDF runs, and write one pyarrow file per cell (list
        elements named ``element``, snappy, nulls as nulls — Spark's
        own layout; parity pinned in tests). Every cell is built before
        anything under ``path`` is touched, so a failure (a null
        embedding raises) leaves an existing index intact. False
        (caller runs the distributed write) past the bound."""
        import os
        import shutil
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        dst = str(store_root(path))
        sch = localdf.pa_schema(emb.schema)
        if sch is None:
            return False
        table, _ = localdf.collect_bounded(emb, _WRITE_MAX_ROWS,
                                           localdf.DRIVER_BYTES)
        if table is None:
            return False
        table = table.cast(sch)
        vecs = table.column(vec_col)
        if vecs.null_count:
            raise ValueError(f"null {vec_col} in rows written to an "
                             "ANN cell store")
        parts = {}
        if table.num_rows:
            cells, codes = self._encode(vecs.to_numpy(zero_copy_only=False))
            if codes is not None:
                n, m = codes.shape
                table = table.drop_columns([vec_col]).append_column(
                    "pq_codes", pa.ListArray.from_arrays(
                        pa.array(np.arange(0, n * m + 1, m, np.int32)),
                        pa.array(codes.ravel()),
                        type=pa.list_(pa.field("element", pa.int32()))))
            parts = {int(c): table.take(np.flatnonzero(cells == c))
                     for c in np.unique(cells)}
        if mode == "overwrite":
            shutil.rmtree(dst, ignore_errors=True)
        os.makedirs(dst, exist_ok=True)
        for cell, part in parts.items():
            d = os.path.join(dst, f"cell={cell}")
            os.makedirs(d, exist_ok=True)
            pq.write_table(
                part,
                os.path.join(d,
                             f"part-00000-{uuid.uuid4().hex}.parquet"),
                compression="snappy")
        return True


class IVFIndex(_CellWriter):
    """Inverted-file ANN index: k-means cells + partition-pruned probe."""

    def __init__(self, n_cells: int = 64, nprobe: int = 4, seed: int = 42):
        self.n_cells = n_cells
        self.nprobe = nprobe
        self.seed = seed
        self.centroids: np.ndarray | None = None

    def fit(self, emb: DataFrame, vec_col: str = "embedding",
            max_sample: int = MAX_SAMPLE) -> IVFIndex:
        return self.fit_matrix(
            _fit_sample(emb, vec_col, max_sample, self.seed))

    def fit_matrix(self, sample: np.ndarray) -> IVFIndex:
        """Train on a driver-resident float32 sample matrix. ``fit`` over
        a corpus of at most ``max_sample`` rows samples every row in scan
        order, so fitting the whole matrix in that order gives identical
        centroids."""
        self.centroids = _kmeans_fit(sample, self.n_cells, self.seed)
        return self

    @staticmethod
    def _assign_cells(cent: np.ndarray, vecs) -> np.ndarray:
        """Nearest-centroid assignment, the single shared kernel for the
        distributed Arrow UDF and the bounded driver write path — per-row
        results are batch-size independent (row-wise matmul+argmax), so
        both paths produce identical cells by construction."""
        return _nearest_cell(_unit_rows(np.stack(vecs).astype(np.float32)),
                             cent).astype(np.int32)

    def assign_udf(self):
        cent = self.centroids
        assign = IVFIndex._assign_cells

        @pandas_udf("int")
        def cell_of(vecs: pd.Series) -> pd.Series:
            return pd.Series(assign(cent, vecs.to_numpy()))

        return cell_of

    def transform(self, emb: DataFrame, vec_col: str = "embedding",
                  out: str = "cell") -> DataFrame:
        """Attach the cell id — a narrow (shuffle-free) Arrow-batched matmul."""
        return emb.withColumn(out, self.assign_udf()(F.col(vec_col)))

    def refine(self, emb: DataFrame, vec_col: str = "embedding",
               iters: int = 2) -> IVFIndex:
        """Distributed Lloyd refinement of the sample-trained centroids:
        assign (narrow Arrow matmul) -> exact per-cell mean
        (``centroids_by``: decimal sums, order-independent) -> renormalize
        on the driver. Per iteration: one narrow pass over the corpus plus
        two shuffles of shrinking data; the driver only ever holds
        (n_cells x d) floats — so the corpus the centroids are fit to is
        no longer bounded by driver memory, only the initial seeding is
        sample-based. Cells that lose all members keep their previous
        centroid (the standard empty-cluster rule)."""
        from dotnetvectorsearch_spark.functions.vector import l2_normalize
        for _ in range(iters):
            # spherical k-means: the cell mean is over UNIT vectors
            # (matching _kmeans_fit), then re-normalized
            normed = emb.withColumn("__nv", l2_normalize(vec_col))
            assigned = self.transform(normed, vec_col)
            rows = centroids_by(assigned, "cell", "__nv",
                                round_digits=12).collect()
            new_cent = self.centroids.copy()
            for r in rows:
                m = np.asarray(r.centroid, dtype=np.float64)
                norm = np.linalg.norm(m)
                if norm > 1e-12:
                    new_cent[r.cell] = (m / norm).astype(np.float32)
            self.centroids = new_cent
        return self

    def write(self, emb: DataFrame, path: str,
              vec_col: str = "embedding") -> None:
        """Materialize the index partitioned by cell: a query's probe set
        becomes Parquet partition pruning (reads nprobe/n_cells of data).
        Centroids land in ``path/_centroids`` (underscore: invisible to
        Spark's data-file listing), so :meth:`load` restores a
        probe-ready index in a NEW session. Then snapshot v1 (note
        ``"build"``) is published (``sources.layout.publish_snapshot``).
        A remote ``path`` (not a bare path or ``file:`` URI) raises
        ValueError before anything is written. Inputs within
        ``localdf.DRIVER_BYTES`` take the cell writer's bounded driver
        path (identical rows and file schema, pinned in tests)."""
        store_root(path)
        self._write_cells(emb, path, vec_col, "overwrite")
        _write_state(f"{path}/_centroids",
                     "cell int, centroid array<float>, nprobe int, seed int",
                     [self.centroids], self.nprobe, self.seed)
        publish_snapshot(path, note="build")

    def append(self, emb: DataFrame, path: str,
               vec_col: str = "embedding") -> None:
        """Append rows to an already-written index, landing each row in
        its cell partition dir (the streamed-delta shape). Same bounded
        driver path / distributed fallback split as :meth:`write`;
        trained state is never touched. The rows become visible to
        :meth:`read` once ``sources.layout.publish_snapshot`` runs."""
        store_root(path)
        self._write_cells(emb, path, vec_col, "append")

    def _encode(self, vecs) -> tuple[np.ndarray, None]:
        return self._assign_cells(self.centroids, vecs), None

    def _cell_rows(self, emb: DataFrame, vec_col: str) -> DataFrame:
        return self.transform(emb, vec_col)

    @classmethod
    def load(cls, path: str) -> "IVFIndex":
        """A written index's trained state alone, probe-ready (no Spark)."""
        rows, (cent,) = _read_state(f"{path}/_centroids", ("cell",),
                                    "centroid")
        idx = cls(n_cells=len(rows), nprobe=rows[0].nprobe,
                  seed=rows[0].seed)
        idx.centroids = cent
        return idx

    @classmethod
    def read(cls, spark, path: str, version: int | None = None
             ) -> tuple["IVFIndex", DataFrame]:
        """(:meth:`load`, snapshot ``version``'s rows, default CURRENT:
        ``sources.layout.read_store_rows``, still cell-pruned)."""
        return cls.load(path), read_store_rows(spark, path, version)

    def cell_order(self, query_vec: list[float]) -> np.ndarray:
        """Every cell, nearest centroid (by cosine) to the query first:
        the ranking :meth:`probe_cells` cuts and the recall curves
        invert."""
        return np.argsort(-(self.centroids @ _unit(query_vec)))

    def probe_cells(self, query_vec: list[float]) -> list[int]:
        return [int(i) for i in self.cell_order(query_vec)[: self.nprobe]]

    def search(self, indexed: DataFrame, query_vec: list[float], k: int = 5,
               id_col: str = "vec_id", vec_col: str = "embedding",
               cell_col: str = "cell") -> DataFrame:
        """Top-k within the nprobe best cells. On a partitionBy(cell) index
        the isin() filter prunes partitions before the scan."""
        cells = self.probe_cells(query_vec)
        cand = indexed.filter(F.col(cell_col).isin(cells))
        return brute_force_topk(cand, query_vec, k, id_col, vec_col)


def ivf_topk_panel(indexed: DataFrame, ivf: "IVFIndex",
                   query_vecs: list, k: int = 10,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   cell_col: str = "cell",
                   exclude_self: bool = False,
                   round_digits: int | None = None) -> DataFrame:
    """Batched IVF serve: top-k for a PANEL of queries in ONE pass over
    the union of their probe cells — the multi-query twin of
    :meth:`IVFIndex.search` (which is one Spark job per query; a panel
    of Q queries through it costs Q scans). ``query_vecs`` is
    [(qid, vector), ...], closure-shipped like
    ``search.topk_per_query_arrow``; each Arrow batch is scored against
    ALL queries with one BLAS matmul, and a per-row cell mask keeps
    each query's candidates to ITS nprobe probe cells, so results are
    row-identical to per-query ``search`` (modulo the shared
    deterministic tie-break). Scan cost: |union of panel probe cells|,
    partition-pruned on a partitionBy(cell) index. Returns
    (qid, id_col, similarity, rank 1..k)."""
    if not query_vecs:
        return local_df(
            indexed.sparkSession, [],
            f"qid long, {id_col} long, similarity double, rank int")
    qids, qmat = _panel(query_vecs)
    # (n_cells x Q) probe-membership lookup, tiny
    allow = np.zeros((ivf.n_cells, len(qids)), dtype=bool)
    for j, (_, v) in enumerate(query_vecs):
        for c in ivf.probe_cells(v):
            allow[c, j] = True
    union_cells = [int(c) for c in np.nonzero(allow.any(axis=1))[0]]
    cand = indexed.filter(F.col(cell_col).isin(union_cells))
    local = _scan_topk(cand, qmat, k, id_col, vec_col, round_digits,
                       qids=qids, exclude_self=exclude_self,
                       keep=lambda pdf: allow[pdf[cell_col].to_numpy()],
                       cols=(cell_col,))
    return _rank_window(local, "qid", [("similarity", True), (id_col, False)],
                        k, prefilter=False)


def centroids_by(emb: DataFrame, by: str, vec_col: str = "embedding",
                 out: str = "centroid", round_digits: int = 6) -> DataFrame:
    """Element-wise mean vector per group — distributed, exact, built-ins
    only (the k-means E-step / cluster-analytics aggregate, usable on
    corpora far too large to sample to the driver).

    Shape: posexplode -> groupBy(by, pos) with a decimal-cast sum (exact,
    order-independent) -> re-assemble via sort_array(collect_list(struct)).
    Two shuffles on shrinking data; the collect_list per (group) carries
    d scalars, not vectors. Fine to d ~ few thousand."""
    exploded = emb.select(F.col(by), F.posexplode(vec_col)
                          .alias("__pos", "__v"))
    per_pos = (exploded.groupBy(by, "__pos")
               .agg((F.sum(F.col("__v").cast("decimal(27,12)"))
                     .cast("double") / F.count(F.lit(1))).alias("__mean")))
    assembled = (per_pos.groupBy(by)
                 .agg(F.sort_array(F.collect_list(
                     F.struct("__pos", "__mean"))).alias("__pm")))
    mean_arr = F.transform(F.col("__pm"),
                           lambda s: F.round(s["__mean"], round_digits))
    return assembled.select(F.col(by), mean_arr.alias(out))


def centroid_drift(old: DataFrame, new: DataFrame, by: str = "label",
                   vec_col: str = "embedding",
                   round_digits: int = 6) -> DataFrame:
    """Per-group embedding-distribution drift between two snapshots:
    (group, n_old, n_new, cosine_drift, l2_drift) over the groups'
    exact centroids — the monitoring signal an ANN deployment tracks
    to decide when the persisted IVF/PQ index needs a refit (cell
    geometry goes stale when the distribution moves, not when rows
    append). FULL OUTER on the group key so appearing/disappearing
    groups surface (null drift, zero count on the missing side).

    Cost shape: two ``centroids_by`` aggregates (shuffles on shrinking
    (group, pos) data) + two tiny count aggregates + a groups-scale
    join — the raw vectors never join, never broadcast, never reach
    the driver.
    """
    from dotnetvectorsearch_spark.functions.vector import (
        cosine_similarity)

    co = centroids_by(old, by, vec_col, out="c_old",
                      round_digits=round_digits)
    cn = centroids_by(new, by, vec_col, out="c_new",
                      round_digits=round_digits)
    n_old = old.groupBy(by).agg(F.count(F.lit(1)).alias("n_old"))
    n_new = new.groupBy(by).agg(F.count(F.lit(1)).alias("n_new"))
    j = (co.join(cn, by, "full_outer")
         .join(n_old, by, "left").join(n_new, by, "left"))
    both = F.col("c_old").isNotNull() & F.col("c_new").isNotNull()
    cos = F.when(both, F.round(
        cosine_similarity("c_old", "c_new"), round_digits))
    l2 = F.when(both, F.round(F.sqrt(F.aggregate(
        F.zip_with("c_old", "c_new", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, v: acc + v)), round_digits))
    return j.select(
        F.col(by),
        F.coalesce("n_old", F.lit(0)).cast("long").alias("n_old"),
        F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
        cos.alias("cosine_drift"), l2.alias("l2_drift"))


def _kmeans_fit_plain(sample: np.ndarray, n_codes: int, seed: int,
                      iters: int = 15) -> np.ndarray:
    """Seeded Euclidean k-means WITHOUT unit-normalization (PQ
    subvectors are not unit vectors): the :func:`_lloyd` core of
    :func:`_kmeans_fit`."""
    return _lloyd(sample.astype(np.float32), n_codes, seed, iters,
                  spherical=False)


def _pq_encode(mat: np.ndarray, books: np.ndarray) -> np.ndarray:
    """The PQ codes of each row of ``mat`` (n x d float32) under
    ``books`` (m x n_codes x d/m): per subspace, the nearest code."""
    sub = mat.reshape(len(mat), len(books), -1)
    codes = np.empty((len(mat), len(books)), dtype=np.int32)
    for j in range(len(books)):
        codes[:, j] = _nearest_code(sub[:, j, :], books[j])
    return codes


def _adc(lut: np.ndarray, codes, offs: np.ndarray | None = None,
         cells=None) -> np.ndarray:
    """The ADC score of each row of ``codes`` (n x m) as float64: the
    float32 sum over j of ``lut[j, codes[:, j]]``, plus the cell offset
    ``offs[cells]`` under residual coding."""
    s = lut[np.arange(len(lut))[None, :], np.asarray(codes, np.int64)] \
        .sum(axis=1)
    if offs is not None:
        s = offs[np.asarray(cells, np.int64)] + s
    return s.astype(np.float64)


def _adc_topk(rows: DataFrame, query_vec: list[float], lut: np.ndarray,
              k: int, id_col: str, codes_col: str,
              rescore: DataFrame | None, vec_col: str,
              shortlist: int | None, offs: np.ndarray | None = None,
              cell_col: str = "cell") -> DataFrame:
    """The ADC plan :class:`PQIndex` and :class:`IVFPQIndex` share: an
    Arrow UDF scores each row with :func:`_adc` (``offs`` by
    ``cell_col`` under residual coding), rounded to 6 digits, ranked by
    score desc then id asc; keep the top ``k``, or with ``rescore`` rank
    the top ``shortlist`` exactly (a broadcast semi-join fetches their
    float vectors for :func:`brute_force_topk`)."""
    if offs is None:
        @pandas_udf("double")
        def adc(codes: pd.Series) -> pd.Series:
            return pd.Series(_adc(lut, np.stack(codes.to_numpy())))

        cols = [codes_col]
    else:
        @pandas_udf("double")
        def adc(cell: pd.Series, codes: pd.Series) -> pd.Series:
            return pd.Series(_adc(lut, np.stack(codes.to_numpy()), offs,
                                  cell.to_numpy()))

        cols = [cell_col, codes_col]
    approx = (rows.select(id_col, *cols)
              .withColumn("approx_similarity",
                          F.round(adc(*[F.col(c) for c in cols]), 6))
              .select(id_col, "approx_similarity")
              .orderBy(F.desc("approx_similarity"), F.asc(id_col)))
    if rescore is None:
        return approx.limit(k)
    ids = approx.limit(shortlist or max(10 * k, 50)).select(id_col)
    cand = rescore.join(F.broadcast(ids), on=id_col, how="left_semi")
    return brute_force_topk(cand, query_vec, k, id_col, vec_col)


class PQIndex:
    """Product quantization with asymmetric-distance search (ADC).

    The billion-scale compression path: split d dims into ``m`` subspaces,
    train 256 k-means codes per subspace on a driver-side sample, and store
    each vector as ``m`` uint8 codes — 32x smaller than float32 at
    d=64/m=8 (the corpus' float vectors are never read at query time).

    Search builds a per-query lookup table (m x 256 subspace dot products,
    computed once on the driver) and scores every row as a sum of ``m``
    table lookups inside an Arrow-batched pandas UDF — O(m) per row
    instead of O(d), on 1/32nd the bytes. For unit-norm corpus vectors the
    ADC dot approximates cosine; rank by it, then (optionally) rescore the
    shortlist exactly against the float vectors.

    Beyond-reference (reference is brute-force only,
    WebAPI/Services/VectorSearchService.cs:186-196); same contract as
    IVFIndex/HyperplaneLSH: fit -> transform -> search. This is the
    in-memory index and the codebook component of :class:`IVFPQIndex`;
    a persisted PQ index is a one-cell raw-coded IVF-PQ store (same
    sample, codebooks, codes and ADC plan).
    """

    def __init__(self, m: int = 8, n_codes: int = 256, seed: int = 42):
        self.m = m
        self.n_codes = n_codes
        self.seed = seed
        self.codebooks: np.ndarray | None = None  # (m, n_codes, d/m)

    def _split(self, mat: np.ndarray) -> np.ndarray:
        n, d = mat.shape
        if d % self.m:
            raise ValueError(f"dim {d} not divisible by m={self.m}")
        return mat.reshape(n, self.m, d // self.m)

    def fit(self, emb: DataFrame, vec_col: str = "embedding",
            max_sample: int = MAX_SAMPLE) -> PQIndex:
        return self.fit_matrix(
            _fit_sample(emb, vec_col, max_sample, self.seed))

    def fit_matrix(self, sample: np.ndarray) -> PQIndex:
        """Train the codebooks on a driver-resident sample matrix: one
        seeded k-means (seed + j) per subspace j."""
        sub = self._split(sample.astype(np.float32))
        self.codebooks = np.stack([
            _kmeans_fit_plain(sub[:, j, :], self.n_codes, self.seed + j)
            for j in range(self.m)])
        return self

    def encode_udf(self):
        books = self.codebooks

        @pandas_udf("array<int>")
        def encode(vecs: pd.Series) -> pd.Series:
            mat = np.stack(vecs.to_numpy()).astype(np.float32)
            return pd.Series(list(_pq_encode(mat, books)))

        return encode

    def transform(self, emb: DataFrame, vec_col: str = "embedding",
                  out: str = "pq_codes") -> DataFrame:
        """Attach PQ codes — narrow, shuffle-free, Arrow-batched."""
        return emb.withColumn(out, self.encode_udf()(F.col(vec_col)))

    def lookup_table(self, query_vec: list[float]) -> np.ndarray:
        """Per-query ADC table: table[j, c] = dot(q_subspace_j, code_jc)."""
        return np.einsum("jd,jcd->jc", _unit(query_vec).reshape(self.m, -1),
                         self.codebooks).astype(np.float32)

    def search(self, encoded: DataFrame, query_vec: list[float], k: int = 5,
               id_col: str = "vec_id", codes_col: str = "pq_codes",
               rescore: DataFrame | None = None,
               vec_col: str = "embedding",
               shortlist: int | None = None) -> DataFrame:
        """Top-k by ADC score over the codes column only (the float vector
        column is pruned out of the scan entirely).

        With ``rescore`` (a frame of id_col + float vec_col), the standard
        two-stage plan: ADC selects a ``shortlist`` (default 10k) of
        candidates from the compressed codes, then only those few rows'
        float vectors are fetched (broadcast semi-join against the
        shortlist ids) and scored exactly. At 100 TB the first stage scans
        m bytes/row; the second touches ~shortlist rows — quantization
        error then only costs recall for neighbors the shortlist missed."""
        return _adc_topk(encoded, query_vec, self.lookup_table(query_vec),
                         k, id_col, codes_col, rescore, vec_col, shortlist)


class IVFPQIndex(_CellWriter):
    """Composed IVF + PQ index — the 100 TB ANN architecture: coarse
    k-means cells give Parquet PARTITION PRUNING (a query reads
    nprobe/n_cells of the index), product-quantized codes give 32x
    COMPRESSED in-cell scoring (m byte-lookups per row, float vectors
    never scanned), and an exact rescore touches only the shortlist —
    the three-stage funnel every billion-scale deployment uses
    (IVF-PQ a la Jegou et al., "Product Quantization for Nearest
    Neighbor Search", TPAMI'11).

    Two coding modes (``coding=``):

    - ``"residual"`` (default, the Jegou'11 formulation): PQ quantizes
      the RESIDUAL ``unit(v) - centroid[cell]``. Residuals are much
      smaller in magnitude than raw vectors, so the same (m, n_codes)
      budget spends its resolution on the part of the vector the coarse
      quantizer didn't already explain — better ADC ranking at equal m.
      The residual base is the per-cell MEAN (``cell_means``), not the
      unit-normalized assignment centroid (see __init__ comment). The
      query-time score decomposes exactly as
      ``q . v ~= q . cell_mean[cell] + q . residual_hat``: a per-cell
      scalar offset (n_cells dot products on the driver) plus the usual
      shared m-lookup ADC sum.
    - ``"raw"``: PQ quantizes the vector as given, with no per-cell
      term in the ADC table. Kept for comparison and for corpora where
      cells carry no structure; with ``n_cells=1`` it is plain
      :class:`PQIndex`, which is how a PQ index is persisted.

    fit -> transform -> write / append -> search, same contract as the
    single-strategy indexes; both modes emit the same (id, cell,
    pq_codes) index schema.
    """

    def __init__(self, n_cells: int = 64, nprobe: int = 4, m: int = 8,
                 n_codes: int = 256, seed: int = 42,
                 coding: str = "residual"):
        if coding not in ("residual", "raw"):
            raise ValueError(f"coding must be 'residual' or 'raw': {coding}")
        self.ivf = IVFIndex(n_cells=n_cells, nprobe=nprobe, seed=seed)
        self.pq = PQIndex(m=m, n_codes=n_codes, seed=seed)
        self.coding = coding
        # Residual offsets: the actual (non-normalized) per-cell MEAN of
        # assigned unit vectors — NOT the unit-normalized assignment
        # centroid. Spherical k-means centroids are renormalized to the
        # sphere for cosine assignment, but as a residual base a unit
        # centroid OVERSHOOTS the cloud it summarizes (residual energy
        # 2-2cos(v,c) > 1 when clusters are loose); the cell mean is the
        # L2-optimal base, so residual energy <= raw energy always. The
        # ADC decomposition q.v = q.offset[cell] + q.residual is exact
        # for ANY per-cell base as long as encode and search agree.
        self.cell_means: np.ndarray | None = None

    def fit(self, emb: DataFrame, vec_col: str = "embedding",
            max_sample: int = MAX_SAMPLE) -> IVFPQIndex:
        """Train cells and codebooks on ONE seeded sample (the cells'
        and the codebooks' seeds are the same ``seed``, so this is the
        sample each would draw on its own)."""
        sample = _fit_sample(emb, vec_col, max_sample, self.ivf.seed)
        self.ivf.fit_matrix(sample)
        if self.coding == "raw":
            self.pq.fit_matrix(sample)
            return self
        # Residual mode: subtract each point's cell mean and train the
        # PQ codebooks on the pooled residuals (one shared codebook
        # across cells — the standard IVFADC layout; per-cell books
        # would need n_cells x m x n_codes centroids for marginal gain).
        x = _unit_rows(sample.astype(np.float32))
        cent = self.ivf.centroids
        assign = _nearest_cell(x, cent)
        means = np.zeros_like(cent)
        for c in range(len(cent)):
            mask = assign == c
            if mask.any():
                means[c] = x[mask].mean(axis=0)
        # cells the sample missed keep a zero base (residual == raw there)
        self.cell_means = means.astype(np.float32)
        self.pq.fit_matrix(x - self.cell_means[assign])
        return self

    def _encode(self, vecs) -> tuple[np.ndarray, np.ndarray]:
        """The encode kernel of both codings, one pass: unit-normalize
        -> coarse cell -> per-subspace code of the vector as given
        (raw) or of ``unit(v) - cell_mean[cell]`` (residual)."""
        mat = np.stack(vecs).astype(np.float32)
        unit = _unit_rows(mat)
        cells = _nearest_cell(unit, self.ivf.centroids)
        codes = _pq_encode(mat if self.coding == "raw"
                           else unit - self.cell_means[cells],
                           self.pq.codebooks)
        return cells.astype(np.int32), codes

    def transform(self, emb: DataFrame,
                  vec_col: str = "embedding") -> DataFrame:
        """Attach cell + pq_codes — one narrow Arrow-batched pass, no
        shuffle."""
        encode = self._encode

        @pandas_udf("struct<cell:int,pq_codes:array<int>>")
        def enc(vecs: pd.Series) -> pd.DataFrame:
            cells, codes = encode(vecs.to_numpy())
            return pd.DataFrame({"cell": cells, "pq_codes": list(codes)})

        out = emb.withColumn("__ivfpq", enc(F.col(vec_col)))
        return (out.withColumn("cell", F.col("__ivfpq.cell"))
                .withColumn("pq_codes", F.col("__ivfpq.pq_codes"))
                .drop("__ivfpq"))

    def _cell_rows(self, emb: DataFrame, vec_col: str) -> DataFrame:
        return self.transform(emb, vec_col).drop(vec_col)

    def write(self, emb: DataFrame, path: str,
              vec_col: str = "embedding", id_col: str = "vec_id") -> None:
        """Materialize (id, cell, codes) partitioned by cell: probe-set
        pruning AND compressed scan compose — a query reads
        ~(nprobe/n_cells) x (m bytes/row) of the corpus. The rows go
        through the same cell writer as :meth:`IVFIndex.write` (bounded
        driver path, distributed fallback). All trained state (coarse
        centroids, residual bases, PQ codebooks, coding mode) lands
        under ``path/_meta`` (invisible to data scans), so :meth:`load`
        restores a search-ready index in a new session. Then snapshot v1
        (note ``"build"``) is published; a remote ``path`` raises
        ValueError before anything is written."""
        store_root(path)
        self._write_cells(emb.select(id_col, vec_col), path, vec_col,
                          "overwrite")
        _write_state(f"{path}/_meta/cells",
                     "cell int, centroid array<float>, cell_mean array<float>",
                     [self.ivf.centroids, self.cell_means])
        _write_state(f"{path}/_meta/codebooks",
                     "subspace int, code int, centroid array<float>",
                     [self.pq.codebooks])
        _write_state(f"{path}/_meta/params",
                     "coding string, nprobe int, seed int", [],
                     self.coding, self.ivf.nprobe, self.pq.seed)
        publish_snapshot(path, note="build")

    def append(self, emb: DataFrame, path: str,
               vec_col: str = "embedding", id_col: str = "vec_id") -> None:
        """Append rows to an already-written index through the cell
        writer, as :meth:`IVFIndex.append`: trained state is never
        touched, and the rows become visible to :meth:`read` once
        ``sources.layout.publish_snapshot`` runs."""
        store_root(path)
        self._write_cells(emb.select(id_col, vec_col), path, vec_col,
                          "append")

    @classmethod
    def load(cls, path: str) -> "IVFPQIndex":
        """A written index's trained state alone, search-ready (no Spark)."""
        (params,), _ = _read_state(f"{path}/_meta/params", ())
        _, (cent, means) = _read_state(f"{path}/_meta/cells", ("cell",),
                                       "centroid", "cell_mean")
        _, (books,) = _read_state(f"{path}/_meta/codebooks",
                                  ("subspace", "code"), "centroid")
        idx = cls(n_cells=len(cent), nprobe=params.nprobe,
                  m=books.shape[0], n_codes=books.shape[1],
                  seed=params.seed, coding=params.coding)
        idx.ivf.centroids, idx.cell_means = cent, means
        idx.pq.codebooks = books
        return idx

    @classmethod
    def read(cls, spark, path: str, version: int | None = None
             ) -> tuple["IVFPQIndex", DataFrame]:
        """(:meth:`load`, snapshot ``version``'s rows, default CURRENT);
        pair with the float-vector table for the rescore stage."""
        return cls.load(path), read_store_rows(spark, path, version)

    def search(self, indexed: DataFrame, query_vec: list[float],
               k: int = 5, id_col: str = "vec_id",
               codes_col: str = "pq_codes", cell_col: str = "cell",
               rescore: DataFrame | None = None,
               vec_col: str = "embedding",
               shortlist: int | None = None) -> DataFrame:
        """Probe-cells filter (partition pruning on a written index) ->
        ADC top-shortlist over codes -> exact rescore of the shortlist
        (when ``rescore`` float vectors are supplied).

        Residual mode scores ``offset[cell] + sum_j lut[j, code_j]``
        where ``offset[cell] = q . cell_mean[cell]`` (:meth:`offsets`)
        — the per-row cost is identical to raw coding (m lookups + one
        more)."""
        cells = self.ivf.probe_cells(query_vec)
        cand = indexed.filter(F.col(cell_col).isin(cells))
        return _adc_topk(cand, query_vec, self.pq.lookup_table(query_vec),
                         k, id_col, codes_col, rescore, vec_col, shortlist,
                         self.offsets(query_vec), cell_col)

    def offsets(self, query_vec: list[float]) -> np.ndarray | None:
        """Residual coding's per-cell ADC term ``q . cell_mean[cell]``
        (n_cells driver-side dot products); None under raw coding,
        which has no per-cell term."""
        if self.coding == "raw":
            return None
        return (self.cell_means @ _unit(query_vec)).astype(np.float32)

    def reconstruction_mse(self, indexed: DataFrame,
                           vec_col: str = "embedding",
                           cell_col: str = "cell",
                           codes_col: str = "pq_codes") -> DataFrame:
        """Mean squared quantization error ||unit(v) - decode(codes)||^2
        over the corpus — the index-quality metric residual coding is
        meant to improve. Distributed (one narrow Arrow pass + a scalar
        agg); codebooks+centroids ride the UDF closure (m*n_codes*d
        floats, tiny)."""
        cent = self.cell_means if self.coding == "residual" \
            else self.ivf.centroids
        books = self.pq.codebooks
        m = self.pq.m
        residual = self.coding == "residual"

        @pandas_udf("double")
        def sqerr(vecs: pd.Series, cell: pd.Series,
                  codes: pd.Series) -> pd.Series:
            mat = _unit_rows(np.stack(vecs.to_numpy()).astype(np.float32))
            c = np.stack(codes.to_numpy()).astype(np.int64)
            dec = np.concatenate(
                [books[j][c[:, j]] for j in range(m)], axis=1)
            if residual:
                dec = dec + cent[cell.to_numpy().astype(np.int64)]
            return pd.Series(
                np.sum((mat - dec) ** 2, axis=1).astype(np.float64))

        return (indexed
                .select(sqerr(F.col(vec_col), F.col(cell_col),
                              F.col(codes_col)).alias("__e"))
                .agg(F.round(F.avg("__e"), 6).alias("mse")))


def probe_masks(bits: int, hamming: int) -> list[int]:
    """The multi-probe XOR masks over ``bits`` sign bits (Lv et al.,
    VLDB 2007): mask 0, then every mask of hamming weight 1..``hamming``
    ascending, each weight in ``itertools.combinations`` order — a
    deterministic list, so a probe budget truncates it reproducibly."""
    from itertools import combinations
    masks = [0]
    for h in range(1, hamming + 1):
        masks += [sum(1 << i for i in c)
                  for c in combinations(range(bits), h)]
    return masks


class HyperplaneLSH:
    """Sign-random-projection LSH: bucket = bit pattern of sign(V @ planes).

    Bit i is set when plane i's dot product, summed strictly left to
    right in doubles, is > 0 — on the executors as one Catalyst
    expression (:meth:`bucket`), on the driver for a query
    (:meth:`probe_buckets`). The same order lets an external engine's
    sequential ``list_dot_product`` over the same double literals
    reproduce every bucket; a BLAS matmul's reordered sums could flip a
    near-zero dot's sign. Planes are float64; two families derive them:
    :meth:`fit` (seeded numpy normals, float32-rounded) and :meth:`md5`
    (engine-portable hashed constants, no RNG)."""

    def __init__(self, num_planes: int = 12, seed: int = 42):
        self.num_planes = num_planes
        self.seed = seed
        self.planes: np.ndarray | None = None

    def fit(self, dim: int) -> HyperplaneLSH:
        rng = np.random.RandomState(self.seed)
        planes = rng.standard_normal((self.num_planes, dim))
        self.planes = (planes / np.linalg.norm(planes, axis=1, keepdims=True)
                       ).astype(np.float32).astype(np.float64)
        return self

    @classmethod
    def md5(cls, num_planes: int, dim: int, offset: int = 0
            ) -> HyperplaneLSH:
        """Planes ``offset .. offset + num_planes - 1`` of the md5
        family: component (i, j) is the first 8 hex digits of
        md5("plane:i:j") scaled to [-0.5, 0.5). Disjoint ``offset``
        ranges give independent multi-table LSH tables (table t ->
        offset t * num_planes)."""
        import hashlib
        lsh = cls(num_planes)
        lsh.planes = np.array([
            [int(hashlib.md5(f"plane:{i}:{j}".encode()).hexdigest()[:8], 16)
             / 2.0 ** 32 - 0.5
             for j in range(dim)]
            for i in range(offset, offset + num_planes)])
        return lsh

    def bucket(self, vec_col: str = "embedding") -> Column:
        """The bucket id (a long) of ``vec_col``: JVM-side, no Python
        UDF; a null vector gets a null bucket. Built as ONE SQL string
        (``aggregate`` folds ``0.0 + a0*c0 + a1*c1 + ...``), parsed in
        one call — the column DSL would cost ~1000 py4j round trips."""
        dots = [
            ("aggregate(zip_with(`{v}`, array({arr}), "
             "(a, b) -> cast(a as double) * b), "
             "cast(0.0 as double), (acc, x) -> acc + x)").format(
                v=vec_col, arr=", ".join(f"{float(c)!r}D" for c in plane))
            for plane in self.planes]
        return F.expr(
            f"case when `{vec_col}` is not null then cast(("
            + " + ".join(f"(case when {d} > 0 then {1 << i} else 0 end)"
                         for i, d in enumerate(dots))
            + ") as bigint) end")

    def transform(self, emb: DataFrame, vec_col: str = "embedding",
                  out: str = "bucket") -> DataFrame:
        return emb.withColumn(out, self.bucket(vec_col))

    def probe_buckets(self, query_vec: list[float],
                      multiprobe_bits: int = 1) -> list[int]:
        """Exact bucket + all buckets within `multiprobe_bits` bit flips."""
        q = np.asarray(query_vec, dtype=np.float64)
        # the same strict left-to-right double sum as bucket()
        bits = np.cumsum(self.planes * q, axis=1)[:, -1] > 0
        base = int((1 << np.arange(self.num_planes))[bits].sum())
        return sorted({base ^ m
                       for m in probe_masks(self.num_planes,
                                            multiprobe_bits)})

    def search(self, bucketed: DataFrame, query_vec: list[float], k: int = 5,
               id_col: str = "vec_id", vec_col: str = "embedding",
               bucket_col: str = "bucket",
               multiprobe_bits: int = 1) -> DataFrame:
        cand = bucketed.filter(
            F.col(bucket_col).isin(self.probe_buckets(query_vec,
                                                      multiprobe_bits)))
        return brute_force_topk(cand, query_vec, k, id_col, vec_col)


def group_diversity(emb: DataFrame, by: str = "label",
                    vec_col: str = "embedding",
                    round_digits: int = 6) -> DataFrame:
    """Per-group embedding diversity: the MEAN PAIRWISE COSINE of every
    group's unit-normalized vectors — the redundancy signal a curation
    pipeline reads per corpus slice (source/language/cluster): slices
    near 1.0 are near-duplicates of one message, slices near 0 are
    diverse.

    Never forms pairs. For unit vectors the identity

        sum_{i != j} u_i . u_j = ||sum_i u_i||^2 - sum_i ||u_i||^2

    turns the O(n^2) pairwise sum into two linear aggregates: the
    element-wise group sum (posexplode -> decimal-summed per (group,
    pos), same machinery as ``centroids_by``) and the scalar
    sum-of-norms. Cost is one narrow explode + a COMPONENT-scale shuffle
    (n_groups x dim rows) — at 100 TB this runs where any pairwise
    formulation is impossible.

    Normalization happens in DOUBLE from the raw (float) vectors so an
    external oracle doing double math reproduces the values bit-for-bit;
    decimal casts make both sums partition-order independent. Groups
    with one member emit NULL (pairwise mean undefined).

    Returns (by, n, mean_pairwise_cosine).
    """
    norm = F.sqrt(F.aggregate(
        F.col(vec_col), F.lit(0.0),
        lambda a, x: a + x.cast("double") * x.cast("double")))
    unit = F.transform(F.col(vec_col),
                       lambda x: x.cast("double") / norm)
    expl = emb.select(F.col(by), F.posexplode(unit).alias("pos", "u"))
    per_pos = (expl.groupBy(by, "pos")
               .agg(F.sum(F.col("u").cast("decimal(27,15)"))
                    .cast("double").alias("s"),
                    F.sum((F.col("u") * F.col("u"))
                          .cast("decimal(27,15)")).alias("usq"),
                    F.count(F.lit(1)).alias("n")))
    agg = (per_pos.groupBy(by)
           .agg(F.sum((F.col("s") * F.col("s")).cast("decimal(27,12)"))
                .cast("double").alias("sumsq"),
                F.sum("usq").cast("double").alias("norms"),
                F.max("n").alias("n")))
    n = F.col("n").cast("double")
    mpc = F.when(F.col("n") >= 2,
                 F.round((F.col("sumsq") - F.col("norms"))
                         / (n * (n - 1.0)), round_digits))
    return agg.select(F.col(by), F.col("n"),
                      mpc.alias("mean_pairwise_cosine"))
