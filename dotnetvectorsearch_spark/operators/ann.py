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

The assignment step is the one deliberate Python hop (vectorized numpy
matmul over Arrow batches) — at 384-d a literal-expression dot product per
centroid would blow up the Catalyst expression tree; a batched matmul is
both faster and cleaner. Everything after assignment is built-in exprs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from dotnetvectorsearch_spark.localdf import local_df
from dotnetvectorsearch_spark.operators.search import top_k_similar


# Bounded driver read/write fast path for cell-partitioned index
# stores: when the rows to move are provably small (local file-backed
# plan under this many bytes), the transform+partitioned-write runs as
# ONE Arrow collect plus driver-side pyarrow file writes instead of a
# chain of Spark jobs (guide §4/§5: cross the JVM<->Python boundary
# once; the driver may do driver-scale work). Past the bound — or
# without byte evidence — the distributed write runs unchanged, the
# only formulation that survives 100 TB. 64 MB of vectors passes
# through driver memory once; same doctrine and same order of bound as
# dedup.connected_components / graph.pagerank_undirected.
_DRIVER_RW_BYTES = 64 * 1024 * 1024

# Default training-sample size of the k-means / codebook fits.
MAX_SAMPLE = 100_000


def _local_fs_path(path: str) -> str | None:
    """Strip a file: scheme; None when the path names a remote store."""
    local = path
    if local.startswith("file://"):
        local = local[len("file://"):]
    elif local.startswith("file:"):
        local = local[len("file:"):]
    return local if "://" not in local else None


def _file_plan_bytes(df: DataFrame) -> int | None:
    """Total on-disk bytes of a LOCAL file-backed plan, or None when
    there is no file evidence (in-memory frames, remote stores) — the
    same evidence rule as dedup._spread: no evidence, no fast path."""
    try:
        import os as _os
        files = df.inputFiles()
        if not files:
            return None
        total = 0
        for f in files:
            local = _local_fs_path(f)
            if local is None:
                return None
            total += _os.stat(local).st_size
        return total
    except Exception:  # noqa: BLE001 - non-file-backed plans
        return None


def _pa_schema_for(schema) -> "object | None":
    """pyarrow schema matching what Spark writes for ``schema``, or
    None when a field's type is outside the supported set (caller
    falls back to the Spark write). List elements are named
    ``element`` to match Spark's parquet layout exactly."""
    import pyarrow as pa

    scalar = {"bigint": pa.int64(), "int": pa.int32(),
              "smallint": pa.int16(), "tinyint": pa.int8(),
              "float": pa.float32(), "double": pa.float64(),
              "string": pa.string(), "boolean": pa.bool_()}
    fields = []
    for f in schema.fields:
        s = f.dataType.simpleString()
        if s in scalar:
            fields.append(pa.field(f.name, scalar[s]))
        elif s.startswith("array<") and s[6:-1] in scalar:
            fields.append(pa.field(f.name, pa.list_(
                pa.field("element", scalar[s[6:-1]]))))
        else:
            return None
    return pa.schema(fields)


def _pa_table(pdf, schema) -> "object":
    """Build a pyarrow Table from a toPandas frame under an explicit
    pyarrow schema (exact types, None -> null)."""
    import numpy as np
    import pyarrow as pa

    arrays = []
    for field in schema:
        col = pdf[field.name]
        if pa.types.is_list(field.type):
            np_t = field.type.value_type.to_pandas_dtype()
            vals = [None if v is None else np.asarray(v, dtype=np_t)
                    for v in col]
            arrays.append(pa.array(vals, type=field.type))
        else:
            arrays.append(pa.array(col.tolist(), type=field.type))
    return pa.Table.from_arrays(arrays, schema=schema)


def _write_tiny_parquet(spark, rows: list, ddl: str, path: str) -> None:
    """Driver-side write of a TINY trained-state table (centroids /
    codebooks / params — bounded by n_cells or m×n_codes, never the
    corpus): the exact write-side mirror of :func:`_collect_tiny_parquet`.
    For a local path, one pyarrow file with Spark-compatible layout
    (list elements named ``element``, snappy) and ZERO Spark jobs;
    non-local stores or types outside the supported set fall back to
    the ``local_df`` + Spark write path."""
    from pyspark.sql.types import _parse_datatype_string

    dst = _local_fs_path(path)
    schema = _parse_datatype_string(ddl)
    pa_schema = _pa_schema_for(schema) if dst is not None else None
    if pa_schema is not None:
        import os
        import shutil

        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq
        arrays = []
        for i, field in enumerate(pa_schema):
            col = [r[i] for r in rows]
            if pa.types.is_list(field.type):
                np_t = field.type.value_type.to_pandas_dtype()
                col = [None if v is None else np.asarray(v, dtype=np_t)
                       for v in col]
            arrays.append(pa.array(col, type=field.type))
        shutil.rmtree(dst, ignore_errors=True)
        os.makedirs(dst, exist_ok=True)
        pq.write_table(pa.Table.from_arrays(arrays, schema=pa_schema),
                       os.path.join(dst, "part-00000.parquet"),
                       compression="snappy")
        return
    local_df(spark, rows, ddl).write.mode("overwrite").parquet(path)


def _collect_tiny_parquet(spark, path: str) -> list:
    """Driver-side collect of a TINY trained-state parquet directory
    (centroids / codebooks / params — a few KB each). Reading these
    through a Spark job costs a full job launch per table (an index
    reload pays up to three); when the path is on the local
    filesystem, a pyarrow footer+page read on the driver returns the
    same rows with no job at all (guide: the driver may do
    driver-scale metadata work — these tables are bounded by
    n_cells/m*n_codes, never by the corpus). Non-local paths (a real
    deployment's object store) fall back to the Spark read."""
    import os
    from types import SimpleNamespace

    local = path
    if local.startswith("file://"):
        local = local[len("file://"):]
    elif local.startswith("file:"):
        local = local[len("file:"):]
    if "://" not in local and os.path.isdir(local):
        import pyarrow.parquet as pq
        t = pq.read_table(local)
        cols = t.column_names
        data = [t.column(c).to_pylist() for c in cols]
        return [SimpleNamespace(**dict(zip(cols, vals)))
                for vals in zip(*data)]
    return spark.read.parquet(path).collect()


def brute_force_topk(emb: DataFrame, query_vec: list[float], k: int = 5,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k against a literal query vector."""
    spark = emb.sparkSession
    q = local_df(spark, [([float(x) for x in query_vec],)],
                 "query_embedding array<float>")
    return top_k_similar(emb.select(id_col, vec_col), q, top_k=k,
                         id_col=id_col, doc_vec=vec_col, round_digits=6)


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


def _kmeans_fit(sample: np.ndarray, n_cells: int, seed: int,
                iters: int = 15) -> np.ndarray:
    """Seeded k-means++ on a driver-side sample; unit-normalized centroids
    (so cell assignment by max dot == max cosine)."""
    rng = np.random.RandomState(seed)
    x = sample / np.maximum(
        np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    n_cells = min(n_cells, len(x))  # never more cells than points
    cent = _kmeans_seed_pp(x, n_cells, rng)
    for _ in range(iters):
        assign = np.argmax(x @ cent.T, axis=1)
        order, starts = _group_slices(assign, n_cells)
        for c in range(n_cells):
            lo, hi = starts[c], starts[c + 1]
            if hi > lo:
                m = x[order[lo:hi]].mean(axis=0)
                cent[c] = m / max(np.linalg.norm(m), 1e-12)
    return cent.astype(np.float32)


class IVFIndex:
    """Inverted-file ANN index: k-means cells + partition-pruned probe."""

    def __init__(self, n_cells: int = 64, nprobe: int = 4, seed: int = 42):
        self.n_cells = n_cells
        self.nprobe = nprobe
        self.seed = seed
        self.centroids: np.ndarray | None = None

    def fit(self, emb: DataFrame, vec_col: str = "embedding",
            max_sample: int = MAX_SAMPLE) -> IVFIndex:
        n = emb.count()
        fraction = min(1.0, max_sample / max(n, 1))
        sample = (emb.sample(fraction=fraction, seed=self.seed)
                  .select(vec_col).toPandas()[vec_col])
        return self.fit_matrix(np.stack(sample.to_numpy()))

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
        m = np.stack(vecs).astype(np.float32)
        norms = np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        return np.argmax((m / norms) @ cent.T, axis=1).astype(np.int32)

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
        Centroids land in ``path/_centroids`` — the underscore prefix
        keeps Spark's data-file listing from seeing them, so
        ``spark.read.parquet(path)`` still returns only rows while
        :meth:`read` can restore a probe-ready index in a NEW session
        (the switching-user persistence contract).

        Small local inputs (byte-evidence bound, see _DRIVER_RW_BYTES)
        take a bounded driver fast path: one Arrow collect, the same
        assignment kernel, pyarrow per-cell files — identical rows and
        file schema (pinned in tests/test_ann.py), ~6 Spark jobs fewer
        per write."""
        if not self._write_cells_local(emb, path, vec_col, "overwrite"):
            self.transform(emb, vec_col).write.mode("overwrite") \
                .partitionBy("cell").parquet(path)
        self._write_centroids(emb.sparkSession, path)

    def append(self, emb: DataFrame, path: str,
               vec_col: str = "embedding") -> None:
        """Append rows to an already-written index, landing each row in
        its cell partition dir (the streamed-delta shape). Same bounded
        driver fast path / distributed fallback split as :meth:`write`;
        trained state is never touched."""
        if not self._write_cells_local(emb, path, vec_col, "append"):
            self.transform(emb, vec_col).write.mode("append") \
                .partitionBy("cell").parquet(path)

    def _write_cells_local(self, emb: DataFrame, path: str,
                           vec_col: str, mode: str) -> bool:
        """Bounded driver-side twin of
        ``transform(emb).write.partitionBy("cell")``: when the input is
        provably small (local file-backed plan under _DRIVER_RW_BYTES)
        and the schema is in the supported scalar/array set, collect
        once via Arrow, assign cells with the SAME kernel the UDF runs,
        and write one pyarrow file per cell (list elements named
        ``element``, snappy — byte-layout-compatible with Spark's own
        files; read parity pinned in tests). Returns False (caller runs
        the distributed write) when any evidence is missing."""
        import os
        import shutil
        import uuid

        nbytes = _file_plan_bytes(emb)
        dst = _local_fs_path(path)
        if nbytes is None or nbytes > _DRIVER_RW_BYTES or dst is None:
            return False
        sch = _pa_schema_for(emb.schema)
        if sch is None:
            return False
        import pyarrow.parquet as pq
        pdf = emb.toPandas()
        if mode == "overwrite":
            shutil.rmtree(dst, ignore_errors=True)
        os.makedirs(dst, exist_ok=True)
        if len(pdf) == 0:
            return True
        cells = self._assign_cells(self.centroids,
                                   pdf[vec_col].to_numpy())
        table = _pa_table(pdf, sch)
        import numpy as np
        for cell in np.unique(cells):
            d = os.path.join(dst, f"cell={int(cell)}")
            os.makedirs(d, exist_ok=True)
            part = table.take(np.flatnonzero(cells == cell))
            pq.write_table(
                part,
                os.path.join(d,
                             f"part-00000-{uuid.uuid4().hex}.parquet"),
                compression="snappy")
        return True

    def _write_centroids(self, spark, path: str) -> None:
        """Trained-state write: n_cells rows, always tiny — pyarrow on
        the driver for local stores (zero Spark jobs; the exact mirror
        of _collect_tiny_parquet on the read side), Spark otherwise."""
        rows = [(int(i), [float(x) for x in c], self.nprobe, self.seed)
                for i, c in enumerate(self.centroids)]
        _write_tiny_parquet(
            spark, rows,
            "cell int, centroid array<float>, nprobe int, seed int",
            f"{path}/_centroids")

    @classmethod
    def read(cls, spark, path: str) -> tuple["IVFIndex", DataFrame]:
        """Reload a written index: (probe-ready index, indexed rows).
        The rows frame is the partitioned parquet — `search` on it still
        prunes to the probe cells."""
        rows = _collect_tiny_parquet(spark, f"{path}/_centroids")
        idx = cls(n_cells=len(rows), nprobe=rows[0].nprobe,
                  seed=rows[0].seed)
        cent = np.zeros((len(rows), len(rows[0].centroid)),
                        dtype=np.float32)
        for r in rows:
            cent[r.cell] = np.asarray(r.centroid, dtype=np.float32)
        idx.centroids = cent
        return idx, spark.read.parquet(path)

    def probe_cells(self, query_vec: list[float]) -> list[int]:
        q = np.asarray(query_vec, dtype=np.float32)
        q = q / max(np.linalg.norm(q), 1e-12)
        scores = self.centroids @ q
        return [int(i) for i in np.argsort(-scores)[: self.nprobe]]

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
    from pyspark.sql.window import Window

    if not query_vecs:
        return local_df(
            indexed.sparkSession, [],
            f"qid long, {id_col} long, similarity double, rank int")
    qids = np.asarray([q for q, _ in query_vecs], dtype=np.int64)
    qmat = np.stack([np.asarray(v, dtype=np.float64)
                     for _, v in query_vecs])
    qnorms = np.linalg.norm(qmat, axis=1)
    # (n_cells x Q) probe-membership lookup, tiny
    allow = np.zeros((ivf.n_cells, len(qids)), dtype=bool)
    for j, (_, v) in enumerate(query_vecs):
        for c in ivf.probe_cells(v):
            allow[c, j] = True
    union_cells = [int(c) for c in np.nonzero(allow.any(axis=1))[0]]

    def score(batches):
        for pdf in batches:
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            dnorms = np.linalg.norm(m, axis=1)
            denom = dnorms[:, None] * qnorms[None, :]
            sims = np.where(denom > 0.0,
                            (m @ qmat.T) / np.where(denom > 0.0,
                                                    denom, 1.0),
                            0.0)
            if round_digits is not None:
                sims = np.round(sims, round_digits)
            cells = pdf[cell_col].to_numpy()
            ids = pdf[id_col].to_numpy()
            in_probe = allow[cells]             # B x Q
            out_q, out_id, out_s = [], [], []
            for j in range(len(qids)):
                keep = in_probe[:, j]
                if exclude_self:
                    keep = keep & (ids != qids[j])
                b_ids, b_sims = ids[keep], sims[keep, j]
                order = np.lexsort((b_ids, -b_sims))[:k]
                out_q.extend([qids[j]] * len(order))
                out_id.extend(b_ids[order])
                out_s.extend(b_sims[order])
            yield pd.DataFrame({"qid": out_q, id_col: out_id,
                                "similarity": out_s})

    cand = indexed.filter(F.col(cell_col).isin(union_cells))
    local = cand.select(id_col, vec_col, cell_col).mapInPandas(
        score, f"qid long, {id_col} long, similarity double")
    w = Window.partitionBy("qid").orderBy(F.desc("similarity"),
                                          F.asc(id_col))
    return (local.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


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
    """Seeded k-means++ WITHOUT unit-normalization (PQ subvectors are not
    unit vectors; Euclidean geometry, empty clusters keep their centroid).
    Same running-min seeding / stable-grouped Lloyd as :func:`_kmeans_fit`
    — bit-identical output, O(k) fewer passes (see _kmeans_seed_pp)."""
    rng = np.random.RandomState(seed)
    x = sample.astype(np.float32)
    n_codes = min(n_codes, len(x))
    cent = _kmeans_seed_pp(x, n_codes, rng)
    for _ in range(iters):
        d2 = (np.sum(x ** 2, axis=1, keepdims=True)
              - 2.0 * (x @ cent.T) + np.sum(cent ** 2, axis=1))
        assign = np.argmin(d2, axis=1)
        order, starts = _group_slices(assign, len(cent))
        for c in range(len(cent)):
            lo, hi = starts[c], starts[c + 1]
            if hi > lo:
                cent[c] = x[order[lo:hi]].mean(axis=0)
    return cent.astype(np.float32)


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
    IVFIndex/HyperplaneLSH: fit -> transform -> search.
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
        n = emb.count()
        fraction = min(1.0, max_sample / max(n, 1))
        sample = (emb.sample(fraction=fraction, seed=self.seed)
                  .select(vec_col).toPandas()[vec_col])
        sub = self._split(np.stack(sample.to_numpy()).astype(np.float32))
        self.codebooks = np.stack([
            _kmeans_fit_plain(sub[:, j, :], self.n_codes, self.seed + j)
            for j in range(self.m)])
        return self

    def encode_udf(self):
        books = self.codebooks
        m = self.m

        @pandas_udf("array<int>")
        def encode(vecs: pd.Series) -> pd.Series:
            mat = np.stack(vecs.to_numpy()).astype(np.float32)
            sub = mat.reshape(len(mat), m, -1)
            codes = np.empty((len(mat), m), dtype=np.int32)
            for j in range(m):
                x, cent = sub[:, j, :], books[j]
                d2 = (np.sum(x ** 2, axis=1, keepdims=True)
                      - 2.0 * (x @ cent.T) + np.sum(cent ** 2, axis=1))
                codes[:, j] = np.argmin(d2, axis=1)
            return pd.Series(list(codes))

        return encode

    def transform(self, emb: DataFrame, vec_col: str = "embedding",
                  out: str = "pq_codes") -> DataFrame:
        """Attach PQ codes — narrow, shuffle-free, Arrow-batched."""
        return emb.withColumn(out, self.encode_udf()(F.col(vec_col)))

    def write(self, emb: DataFrame, path: str,
              vec_col: str = "embedding", id_col: str = "vec_id") -> None:
        """Materialize the index: codes table (m bytes/row — the only
        thing a search scans) and the codebooks, both parquet. The float
        vectors stay wherever they already live (needed only for
        rescore)."""
        self.transform(emb.select(id_col, vec_col), vec_col) \
            .drop(vec_col).write.mode("overwrite").parquet(f"{path}/codes")
        spark = emb.sparkSession
        books = [(j, c, [float(x) for x in self.codebooks[j, c]])
                 for j in range(self.m)
                 for c in range(self.codebooks.shape[1])]
        _write_tiny_parquet(spark, books,
                            "subspace int, code int, centroid array<float>",
                            f"{path}/codebooks")

    @classmethod
    def read(cls, spark, path: str) -> tuple[PQIndex, DataFrame]:
        """Load a written index: returns (index, codes DataFrame)."""
        rows = _collect_tiny_parquet(spark, f"{path}/codebooks")
        m = max(r.subspace for r in rows) + 1
        n_codes = max(r.code for r in rows) + 1
        dim_sub = len(rows[0].centroid)
        books = np.zeros((m, n_codes, dim_sub), dtype=np.float32)
        for r in rows:
            books[r.subspace, r.code] = np.asarray(r.centroid,
                                                   dtype=np.float32)
        idx = cls(m=m, n_codes=n_codes)
        idx.codebooks = books
        return idx, spark.read.parquet(f"{path}/codes")

    def lookup_table(self, query_vec: list[float]) -> np.ndarray:
        """Per-query ADC table: table[j, c] = dot(q_subspace_j, code_jc)."""
        q = np.asarray(query_vec, dtype=np.float32)
        q = q / max(np.linalg.norm(q), 1e-12)
        qs = q.reshape(self.m, -1)
        return np.einsum("jd,jcd->jc", qs, self.codebooks).astype(np.float32)

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
        lut = self.lookup_table(query_vec)
        m = self.m

        @pandas_udf("double")
        def adc(codes: pd.Series) -> pd.Series:
            c = np.stack(codes.to_numpy()).astype(np.int64)
            scores = lut[np.arange(m)[None, :], c].sum(axis=1)
            return pd.Series(scores.astype(np.float64))

        approx = (encoded.select(id_col, codes_col)
                  .withColumn("approx_similarity",
                              F.round(adc(F.col(codes_col)), 6))
                  .select(id_col, "approx_similarity")
                  .orderBy(F.desc("approx_similarity"), F.asc(id_col)))
        if rescore is None:
            return approx.limit(k)
        ids = approx.limit(shortlist or max(10 * k, 50)).select(id_col)
        cand = rescore.join(F.broadcast(ids), on=id_col, how="left_semi")
        return brute_force_topk(cand, query_vec, k, id_col, vec_col)


class IVFPQIndex:
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
    - ``"raw"``: PQ quantizes the unit vector directly; the ADC table
      approximates cosine with no per-cell term. Kept for comparison and
      for corpora where cells carry no structure.

    fit -> transform -> write -> search, same contract as the
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
            max_sample: int = MAX_SAMPLE,
            refine_iters: int = 0) -> IVFPQIndex:
        self.ivf.fit(emb, vec_col, max_sample)
        if refine_iters:
            self.ivf.refine(emb, vec_col, iters=refine_iters)
        if self.coding == "raw":
            self.pq.fit(emb, vec_col, max_sample)
            return self
        # Residual mode: re-draw the same seeded sample, subtract each
        # point's assigned centroid, and train the PQ codebooks on the
        # pooled residuals (one shared codebook across cells — the
        # standard IVFADC layout; per-cell books would need
        # n_cells x m x n_codes centroids for marginal gain).
        n = emb.count()
        fraction = min(1.0, max_sample / max(n, 1))
        sample = (emb.sample(fraction=fraction, seed=self.pq.seed)
                  .select(vec_col).toPandas()[vec_col])
        x = np.stack(sample.to_numpy()).astype(np.float32)
        x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        cent = self.ivf.centroids
        assign = np.argmax(x @ cent.T, axis=1)
        means = np.zeros_like(cent)
        for c in range(len(cent)):
            mask = assign == c
            if mask.any():
                means[c] = x[mask].mean(axis=0)
        # cells the sample missed keep a zero base (residual == raw there)
        self.cell_means = means.astype(np.float32)
        res = x - self.cell_means[assign]
        sub = self.pq._split(res)
        self.pq.codebooks = np.stack([
            _kmeans_fit_plain(sub[:, j, :], self.pq.n_codes,
                              self.pq.seed + j)
            for j in range(self.pq.m)])
        return self

    def _encode_residual_udf(self):
        """One Arrow pass: unit-normalize -> coarse cell -> residual ->
        per-subspace code. Cell assignment and coding share the matmul
        input, so residual mode is not an extra corpus pass."""
        cent = self.ivf.centroids
        means = self.cell_means
        books = self.pq.codebooks
        m = self.pq.m

        @pandas_udf("struct<cell:int,pq_codes:array<int>>")
        def enc(vecs: pd.Series) -> pd.DataFrame:
            mat = np.stack(vecs.to_numpy()).astype(np.float32)
            mat = mat / np.maximum(
                np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            cells = np.argmax(mat @ cent.T, axis=1)
            res = (mat - means[cells]).reshape(len(mat), m, -1)
            codes = np.empty((len(mat), m), dtype=np.int32)
            for j in range(m):
                x, cb = res[:, j, :], books[j]
                d2 = (np.sum(x ** 2, axis=1, keepdims=True)
                      - 2.0 * (x @ cb.T) + np.sum(cb ** 2, axis=1))
                codes[:, j] = np.argmin(d2, axis=1)
            return pd.DataFrame({"cell": cells.astype(np.int32),
                                 "pq_codes": list(codes)})

        return enc

    def transform(self, emb: DataFrame,
                  vec_col: str = "embedding") -> DataFrame:
        """Attach cell + pq_codes — narrow Arrow-batched passes, no
        shuffle (residual mode fuses both into one pass)."""
        if self.coding == "raw":
            return self.pq.transform(self.ivf.transform(emb, vec_col),
                                     vec_col)
        enc = self._encode_residual_udf()
        out = emb.withColumn("__ivfpq", enc(F.col(vec_col)))
        return (out.withColumn("cell", F.col("__ivfpq.cell"))
                .withColumn("pq_codes", F.col("__ivfpq.pq_codes"))
                .drop("__ivfpq"))

    def write(self, emb: DataFrame, path: str,
              vec_col: str = "embedding", id_col: str = "vec_id") -> None:
        """Materialize (id, cell, codes) partitioned by cell: probe-set
        pruning AND compressed scan compose — a query reads
        ~(nprobe/n_cells) x (m bytes/row) of the corpus. All trained
        state (coarse centroids, residual bases, PQ codebooks, coding
        mode) lands under ``path/_meta`` — underscore-prefixed so data
        scans never see it — making :meth:`read` restore a search-ready
        index in a new session."""
        (self.transform(emb.select(id_col, vec_col), vec_col)
         .drop(vec_col).write.mode("overwrite")
         .partitionBy("cell").parquet(path))
        spark = emb.sparkSession
        cent_rows = [
            (int(i), [float(x) for x in self.ivf.centroids[i]],
             [float(x) for x in self.cell_means[i]]
             if self.cell_means is not None else None)
            for i in range(self.ivf.n_cells)]
        _write_tiny_parquet(
            spark, cent_rows,
            "cell int, centroid array<float>, cell_mean array<float>",
            f"{path}/_meta/cells")
        books = [(j, c, [float(x) for x in self.pq.codebooks[j, c]])
                 for j in range(self.pq.m)
                 for c in range(self.pq.codebooks.shape[1])]
        _write_tiny_parquet(spark, books,
                            "subspace int, code int, centroid array<float>",
                            f"{path}/_meta/codebooks")
        _write_tiny_parquet(spark,
                            [(self.coding, self.ivf.nprobe, self.pq.seed)],
                            "coding string, nprobe int, seed int",
                            f"{path}/_meta/params")

    @classmethod
    def read(cls, spark, path: str) -> tuple["IVFPQIndex", DataFrame]:
        """Reload a written index: (search-ready index, indexed rows).
        Pair with the original float-vector table for the rescore
        stage, exactly as after a fresh fit."""
        params = _collect_tiny_parquet(spark, f"{path}/_meta/params")[0]
        cells = _collect_tiny_parquet(spark, f"{path}/_meta/cells")
        books = _collect_tiny_parquet(spark, f"{path}/_meta/codebooks")
        m = max(r.subspace for r in books) + 1
        n_codes = max(r.code for r in books) + 1
        idx = cls(n_cells=len(cells), nprobe=params.nprobe, m=m,
                  n_codes=n_codes, seed=params.seed,
                  coding=params.coding)
        dim = len(cells[0].centroid)
        cent = np.zeros((len(cells), dim), dtype=np.float32)
        means = np.zeros((len(cells), dim), dtype=np.float32)
        have_means = cells[0].cell_mean is not None
        for r in cells:
            cent[r.cell] = np.asarray(r.centroid, dtype=np.float32)
            if have_means:
                means[r.cell] = np.asarray(r.cell_mean, dtype=np.float32)
        idx.ivf.centroids = cent
        idx.cell_means = means if have_means else None
        cb = np.zeros((m, n_codes, len(books[0].centroid)),
                      dtype=np.float32)
        for r in books:
            cb[r.subspace, r.code] = np.asarray(r.centroid,
                                                dtype=np.float32)
        idx.pq.codebooks = cb
        return idx, spark.read.parquet(path)

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
        where ``offset[cell] = q . centroid[cell]`` is n_cells driver-side
        dot products — the per-row cost is identical to raw coding (m
        lookups + one more)."""
        cells = self.ivf.probe_cells(query_vec)
        cand = indexed.filter(F.col(cell_col).isin(cells))
        if self.coding == "raw":
            return self.pq.search(cand, query_vec, k, id_col, codes_col,
                                  rescore=rescore, vec_col=vec_col,
                                  shortlist=shortlist)
        q = np.asarray(query_vec, dtype=np.float32)
        q = q / max(np.linalg.norm(q), 1e-12)
        lut = np.einsum("jd,jcd->jc", q.reshape(self.pq.m, -1),
                        self.pq.codebooks).astype(np.float32)
        offs = (self.cell_means @ q).astype(np.float32)
        m = self.pq.m

        @pandas_udf("double")
        def adc(cell: pd.Series, codes: pd.Series) -> pd.Series:
            c = np.stack(codes.to_numpy()).astype(np.int64)
            scores = (offs[cell.to_numpy().astype(np.int64)]
                      + lut[np.arange(m)[None, :], c].sum(axis=1))
            return pd.Series(scores.astype(np.float64))

        approx = (cand.select(id_col, cell_col, codes_col)
                  .withColumn("approx_similarity",
                              F.round(adc(F.col(cell_col),
                                          F.col(codes_col)), 6))
                  .select(id_col, "approx_similarity")
                  .orderBy(F.desc("approx_similarity"), F.asc(id_col)))
        if rescore is None:
            return approx.limit(k)
        ids = approx.limit(shortlist or max(10 * k, 50)).select(id_col)
        cand_f = rescore.join(F.broadcast(ids), on=id_col, how="left_semi")
        return brute_force_topk(cand_f, query_vec, k, id_col, vec_col)

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
            mat = np.stack(vecs.to_numpy()).astype(np.float32)
            mat = mat / np.maximum(
                np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
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


class HyperplaneLSH:
    """Sign-random-projection LSH: bucket = bit pattern of sign(V @ planes)."""

    def __init__(self, num_planes: int = 12, seed: int = 42):
        self.num_planes = num_planes
        self.seed = seed
        self.planes: np.ndarray | None = None

    def fit(self, dim: int) -> HyperplaneLSH:
        rng = np.random.RandomState(self.seed)
        planes = rng.standard_normal((self.num_planes, dim))
        self.planes = (planes / np.linalg.norm(planes, axis=1, keepdims=True)
                       ).astype(np.float32)
        return self

    def bucket_udf(self):
        planes = self.planes.astype(np.float64)
        weights = (1 << np.arange(self.num_planes)).astype(np.int64)

        @pandas_udf("long")
        def bucket_of(vecs: pd.Series) -> pd.Series:
            # Strict LEFT-TO-RIGHT double accumulation (explicit
            # per-dimension loop, not BLAS matmul): bit-identical to an
            # external engine's sequential list_dot_product over the
            # same double constants, so the sign bits — hence the
            # bucket ids and the probed candidate set — are
            # oracle-reproducible. A float32 matmul's reordered /
            # pairwise sums can flip a near-zero dot's sign and
            # silently change one bucket. The k-loop keeps the working
            # set O(batch x planes) — the earlier batch x planes x dim
            # outer-product + cumsum held ~2x80 MB per 10k-row batch at
            # 12x64 and scaled with dim (advisor r8).
            m = np.stack(vecs.to_numpy()).astype(np.float64)
            acc = np.zeros((m.shape[0], planes.shape[0]))
            for k in range(planes.shape[1]):
                acc += m[:, k, None] * planes[None, :, k]
            return pd.Series((acc > 0) @ weights)

        return bucket_of

    def transform(self, emb: DataFrame, vec_col: str = "embedding",
                  out: str = "bucket") -> DataFrame:
        return emb.withColumn(out, self.bucket_udf()(F.col(vec_col)))

    def probe_buckets(self, query_vec: list[float],
                      multiprobe_bits: int = 1) -> list[int]:
        """Exact bucket + all buckets within `multiprobe_bits` bit flips."""
        q = np.asarray(query_vec, dtype=np.float64)
        # same strict sequential double sum as bucket_udf (oracle parity)
        bits = np.cumsum(self.planes.astype(np.float64) * q, axis=1)[:, -1] > 0
        base = int((1 << np.arange(self.num_planes))[bits].sum())
        buckets = {base}
        if multiprobe_bits >= 1:
            for i in range(self.num_planes):
                buckets.add(base ^ (1 << i))
        if multiprobe_bits >= 2:
            for i in range(self.num_planes):
                for j in range(i + 1, self.num_planes):
                    buckets.add(base ^ (1 << i) ^ (1 << j))
        return sorted(buckets)

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
