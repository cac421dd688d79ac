"""The benchmark workloads, run against the engine's public functions.

Each workload stages its generated inputs, sets up several times (the
median set-up is reported), runs its foreground op in a closed loop with
one client for the requested seconds, then checks every op's output
against an independent reference computed here with numpy / Python.

- ``serve``: requests against a prepared, engine-cached corpus. The op is
  one request: brute ``search``, ``search(method="ivf")``,
  ``calculate_similarity`` or ``get_embeddings_batch``, in fixed 6:2:1:1
  blocks. No dedup, no store writes.
- ``ingest``: batches land in a persisted IVF store while it is read. The
  op is one batch: curation (exact dedup, MinHash near-dup pairs,
  duplicate clusters, a quality gate, decontamination against a held-out
  split, exact Jaccard pairs on a slice), then embedding, an incremental
  exact gate against the standing corpus, append and publish, and
  ``serve_topk`` reads of the new rows from disk. The run ends with
  compaction and snapshot GC.
"""

from __future__ import annotations

import csv
import math
import os
import time
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from measure import median, min_samples

TOP_K = 10
SETUP_REPS = 3

SERVE_DOCS = 1000
SERVE_REQUESTS = 2000          # more than any run can send
SERVE_MIN_OPS = min_samples(0.5)   # enough requests for a median
IVF_RECALL_FLOOR = 0.4

INGEST_BASE = 500
INGEST_BATCH = 300
INGEST_WARM_BATCH = 100
INGEST_MIN_OPS = 3             # a batch takes seconds; the run budget
                               # allows no more than a few
INGEST_BATCHES = 40            # more than any run can ingest
INGEST_HELDOUT = 60
JACCARD_SLICE = 150
JACCARD_THRESHOLD = 0.2
DECON_OVERLAP = 0.5
QUALITY_MIN = 0.5
NEAR_DUP_RECALL_FLOOR = 0.5
READS_PER_BATCH = 2
GC_KEEP = 2

# Similarity scores are rounded to 6 digits by the engine; its float64 sums
# run in another order than numpy's, so a score may sit one unit of the
# last digit away.
SCORE_TOL = 2.5e-6


@dataclass
class Result:
    """What a workload hands back to run.py."""
    setup_s: list[float] = field(default_factory=list)
    op_ms: list[float] = field(default_factory=list)
    op_kind: list[str] = field(default_factory=list)
    op_traced: list[bool] = field(default_factory=list)
    items: int = 0                    # requests (serve) or input docs
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    extras: dict = field(default_factory=dict)
    phases: dict = field(default_factory=dict)
    _t: float = field(default_factory=time.perf_counter)

    def mark(self, phase: str) -> None:
        """Close the current phase (wall seconds, reported for tuning)."""
        now = time.perf_counter()
        self.phases[phase] = round(now - self._t, 2)
        self._t = now

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)


class Ctx:
    def __init__(self, spark, tracer, seed: int, seconds: float,
                 run_dir: Path):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.dir = run_dir
        self.vocab = gen.Vocab()

    def path(self, *parts) -> str:
        p = self.dir.joinpath(*[str(x) for x in parts])
        return str(p)


def _embedder():
    from dotnetvectorsearch_spark.embeddings.hashed_projection import (
        HashedProjectionEmbedder,
    )
    return HashedProjectionEmbedder(dim=64)


def _write_qa_csv(rows, directory: str, n_files: int) -> None:
    """Q/A rows as ``n_files`` CSV files with a header (the reference's
    prepare input format)."""
    os.makedirs(directory, exist_ok=True)
    for i in range(n_files):
        with open(os.path.join(directory, f"part-{i:03d}.csv"), "w",
                  newline="") as f:
            w = csv.writer(f, quoting=csv.QUOTE_MINIMAL)
            w.writerow(["id", "question", "answer"])
            w.writerows(rows[i::n_files])


def round6(x: float) -> float:
    """HALF_UP rounding to 6 digits on the shortest repr, as Spark does."""
    return float(Decimal(repr(float(x))).quantize(Decimal("0.000001"),
                                                   rounding=ROUND_HALF_UP))


def _unit(m: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(m, axis=-1, keepdims=True)
    return m / np.where(n > 0, n, 1.0)


def exact_topk(ids: np.ndarray, vecs: np.ndarray, q: np.ndarray,
               k: int = TOP_K) -> list[tuple[int, float]]:
    """Exact cosine top-k, similarity desc then id asc (engine order)."""
    sims = _unit(vecs.astype(np.float64)) @ _unit(q.astype(np.float64))
    order = np.lexsort((ids, -np.round(sims, 6)))[:k]
    return [(int(ids[i]), float(sims[i])) for i in order]


def topk_matches(got: list[tuple[int, float]], ids: np.ndarray,
                 vecs: np.ndarray, q: np.ndarray, k: int = TOP_K) -> bool:
    """A correct top-k: every returned score is that doc's true cosine,
    scores do not increase, and nothing left out scores above the last
    one returned. Robust to ties at the boundary."""
    exp = exact_topk(ids, vecs, q, k)
    if len(got) != len(exp):
        return False
    true = dict(zip(ids.tolist(), (_unit(vecs.astype(np.float64))
                                   @ _unit(q.astype(np.float64))).tolist()))
    scores = [s for _, s in got]
    if any(b > a + SCORE_TOL for a, b in zip(scores, scores[1:])):
        return False
    if any(abs(true[i] - s) > SCORE_TOL for i, s in got):
        return False
    return scores[-1] >= exp[-1][1] - SCORE_TOL


def shingles(text: str, n: int = 3) -> set[str]:
    """The engine's documented word shingles: whitespace tokens of the
    trimmed text, distinct n-grams joined by one space."""
    toks = text.strip().split()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _timed_loop(ctx: Ctx, res: Result, ops, run_op, min_ops: int,
                kind_of=lambda op: "op") -> None:
    """Closed loop with one client: send the next op only after the last
    one completed, until ``ctx.seconds`` have passed and at least
    ``min_ops`` ops were sent (the op list is longer than any run can
    use). With tracing on, every second op of each kind runs untraced, so
    the traced run can report its own overhead from interleaved pairs."""
    t_end = time.perf_counter() + ctx.seconds
    seen: dict[str, int] = {}
    for i, op in enumerate(ops):
        # after min_ops, start another op only while it is likely to end
        # near the deadline, so long ops do not overrun the window by a
        # whole op
        left = t_end - time.perf_counter()
        if i >= min_ops and (left <= 0 or (
                res.op_ms and left < 0.5e-3 * median(res.op_ms))):
            break
        kind = kind_of(op)
        seen[kind] = seen.get(kind, 0) + 1
        ctx.tracer.op = i
        ctx.tracer.paused = seen[kind] % 2 == 0
        res.attempted += 1
        t0 = time.perf_counter()
        try:
            kind, items = run_op(i, op)
        except Exception as e:  # noqa: BLE001 - a failed op is counted
            res.fail(f"op {i}: {type(e).__name__}: {e}")
            continue
        res.op_ms.append((time.perf_counter() - t0) * 1e3)
        res.op_kind.append(kind)
        res.op_traced.append(not ctx.tracer.paused)
        res.items += items
    ctx.tracer.op = None
    ctx.tracer.paused = False


def _check(res: Result, what: str, fn) -> None:
    """Run one output check; a failure or an exception is counted, never
    raised."""
    res.attempted += 1
    try:
        ok = fn()
    except Exception as e:  # noqa: BLE001 - a failed check is counted
        res.fail(f"{what}: {type(e).__name__}: {e}")
        return
    if not ok:
        res.fail(what)


# ------------------------------------------------------------------ serve

def serve(ctx: Ctx) -> Result:
    from dotnetvectorsearch_spark.api import VectorSearchEngine
    from dotnetvectorsearch_spark.functions.text import QUERY_PREFIX
    from dotnetvectorsearch_spark.pipeline.prepare import prepare_documents
    from dotnetvectorsearch_spark.sources.io import (
        read_corpus,
        read_documents_csv,
        write_corpus,
    )

    spark, tr, res = ctx.spark, ctx.tracer, Result()
    inp = gen.serve_inputs(ctx.seed, SERVE_DOCS, SERVE_REQUESTS, ctx.vocab)
    csv_dir = ctx.path("serve", "input")
    _write_qa_csv(inp.corpus, csv_dir, 4)
    emb = _embedder()
    res.mark("inputs")
    warm_q = inp.requests[0][1] if isinstance(inp.requests[0][1], str) \
        else "the"

    engine = None
    for rep in range(SETUP_REPS):
        if engine is not None:
            spark.catalog.clearCache()
        corpus_dir = ctx.path("serve", f"corpus-{rep}")
        t0 = time.perf_counter()
        with tr.span("pipeline.prepare", rows=SERVE_DOCS):
            write_corpus(prepare_documents(
                read_documents_csv(spark, csv_dir), emb), corpus_dir)
        with tr.span("io.read"):
            engine = VectorSearchEngine(spark, read_corpus(spark, corpus_dir),
                                        emb)
            engine.health()
        with tr.span("ann.fit"):
            engine.search(warm_q, top_k=TOP_K, method="ivf")
        res.setup_s.append(time.perf_counter() - t0)

    res.mark("setup")
    # warm the request paths once, untimed
    engine.search(warm_q, top_k=TOP_K)
    engine.calculate_similarity("the", "and")
    engine.get_embeddings_batch(["the"])
    res.mark("warm")

    outputs: list[tuple[int, object]] = []

    def run_op(i, op):
        kind, payload = op
        with tr.span(f"api.{kind}", rows=(len(payload) if kind ==
                                           "embed_batch" else
                                           2 if kind == "similarity" else 1)):
            if kind == "search":
                out = engine.search(payload, top_k=TOP_K)
            elif kind == "ann_search":
                out = engine.search(payload, top_k=TOP_K, method="ivf")
            elif kind == "similarity":
                out = engine.calculate_similarity(*payload)
            else:
                out = engine.get_embeddings_batch(payload)
        outputs.append((i, out))
        return kind, 1

    _timed_loop(ctx, res, inp.requests, run_op, SERVE_MIN_OPS,
                kind_of=lambda op: op[0])
    res.mark("timed")

    # ---- checks, untimed: numpy references over the stored corpus vectors
    t = pq.read_table(ctx.path("serve", f"corpus-{SETUP_REPS - 1}"),
                      columns=["id", "embedding"])
    ids = t.column("id").to_numpy()
    vecs = np.stack(t.column("embedding").to_numpy(zero_copy_only=False))
    texts = []
    for i, _ in outputs:
        kind, payload = inp.requests[i]
        if kind in ("search", "ann_search"):
            texts.append(QUERY_PREFIX + payload)
        elif kind == "similarity":
            texts += [QUERY_PREFIX + payload[0], QUERY_PREFIX + payload[1]]
    ref = iter(np.asarray(r["embedding"], dtype=np.float64) for r in
               engine.get_embeddings_batch(texts)["results"]) if texts \
        else iter(())
    recalls = []
    for i, out in outputs:
        kind, payload = inp.requests[i]
        if kind == "search":
            q = next(ref)
            got = [(r["id"], r["similarity"]) for r in out["results"]]
            _check(res, f"search {i}", lambda: topk_matches(got, ids, vecs, q))
        elif kind == "ann_search":
            q = next(ref)
            exp = {d for d, _ in exact_topk(ids, vecs, q)}
            recalls.append(len(exp & {r["id"] for r in out["results"]})
                           / TOP_K)
        elif kind == "similarity":
            a, b = next(ref), next(ref)
            want = float(_unit(a) @ _unit(b))
            _check(res, f"similarity {i}",
                   lambda: abs(out["similarity"] - want) <= SCORE_TOL)
        else:
            _check(res, f"embed_batch {i}", lambda: out["count"] == len(
                payload) and all(
                r["dimensions"] == emb.dim
                and abs(np.linalg.norm(r["embedding"]) - 1.0) < 1e-4
                for r in out["results"]))
    if recalls:
        recall = sum(recalls) / len(recalls)
        _check(res, f"ivf recall@10 {recall:.3f} >= {IVF_RECALL_FLOOR}",
               lambda: recall >= IVF_RECALL_FLOOR)
        res.extras["ann.recall_at_10"] = recall
    res.extras["search.rows_examined_per_result"] = SERVE_DOCS / TOP_K
    res.mark("checks")
    return res


# ----------------------------------------------------------------- ingest

def jaccard_slice(batch: gen.IngestBatch) -> list[int]:
    """Row ids for the exact Jaccard step: every planted near-duplicate pair
    plus other rows up to JACCARD_SLICE, so the exact path has pairs to
    find."""
    ids = sorted({d for pair in batch.near_pairs for d in pair})
    taken = set(ids)
    for d, _, _ in batch.rows:
        if len(ids) >= JACCARD_SLICE:
            break
        if d not in taken:
            ids.append(d)
            taken.add(d)
    return sorted(ids)


def _contaminated(text: str, heldout_shingles: list[set[str]]) -> bool:
    mine = shingles(text)
    return any(hs and round6(len(hs & mine) / len(hs)) >= DECON_OVERLAP
               for hs in heldout_shingles)


def _jaccard_reference(texts: dict[int, str]) -> dict[tuple[int, int], float]:
    sh = {d: shingles(t) for d, t in texts.items()}
    inv: dict[str, list[int]] = {}
    for d in sorted(sh):
        for s in sh[d]:
            inv.setdefault(s, []).append(d)
    inter: dict[tuple[int, int], int] = {}
    for ds in inv.values():
        for x in range(len(ds)):
            for y in range(x + 1, len(ds)):
                key = (ds[x], ds[y])
                inter[key] = inter.get(key, 0) + 1
    out = {}
    for (a, b), n in inter.items():
        j = round6(n / (len(sh[a]) + len(sh[b]) - n))
        if j >= JACCARD_THRESHOLD:
            out[(a, b)] = j
    return out


def _store_files(path: str) -> dict[str, int]:
    return {str(p.relative_to(path)): p.stat().st_size
            for p in Path(path).glob("cell=*/*.parquet")}


def _stage_qa(batch: gen.IngestBatch, path: str) -> None:
    """A raw batch as parquet: the Q/A columns plus their combined text,
    which the text-level curation steps read."""
    ids, qs, ans = zip(*batch.rows)
    pq.write_table(pa.table({"id": list(ids), "question": list(qs),
                             "answer": list(ans),
                             "text": [gen.combined(q, a)
                                      for q, a in zip(qs, ans)]}), path)


def ingest(ctx: Ctx) -> Result:
    from pyspark.sql import functions as F

    from dotnetvectorsearch_spark.caching import release_transient
    from dotnetvectorsearch_spark.functions.text import quality_score
    from dotnetvectorsearch_spark.operators import ann_store, dedup
    from dotnetvectorsearch_spark.operators.ann import IVFIndex
    from dotnetvectorsearch_spark.pipeline.prepare import prepare_documents
    from dotnetvectorsearch_spark.sources.io import (
        read_corpus,
        read_documents_csv,
        write_corpus,
    )

    spark, tr, res = ctx.spark, ctx.tracer, Result()
    base = gen.ingest_base(ctx.seed, INGEST_BASE, ctx.vocab)
    heldout = gen.heldout_split(ctx.seed, INGEST_HELDOUT, ctx.vocab)
    batches = [gen.ingest_batch(ctx.seed, b, INGEST_BATCH, base, heldout,
                                ctx.vocab) for b in range(INGEST_BATCHES)]
    warm_batch = gen.ingest_batch(ctx.seed, INGEST_BATCHES, INGEST_WARM_BATCH,
                                  base, heldout, ctx.vocab)
    _write_qa_csv(base, ctx.path("ingest", "base"), 4)
    os.makedirs(ctx.path("ingest", "batch"))
    for b, batch in enumerate(batches + [warm_batch]):
        _stage_qa(batch, ctx.path("ingest", "batch", f"{b}.parquet"))
    pq.write_table(pa.table({"id": [i for i, _ in heldout],
                             "text": [t for _, t in heldout]}),
                   ctx.path("ingest", "heldout.parquet"))
    emb = _embedder()
    res.mark("inputs")

    stores = []
    for rep in range(SETUP_REPS):
        r = ctx.path("ingest", f"setup-{rep}")
        t0 = time.perf_counter()
        with tr.span("pipeline.prepare", rows=INGEST_BASE):
            write_corpus(prepare_documents(read_documents_csv(
                spark, ctx.path("ingest", "base")), emb), f"{r}/corpus")
        write_corpus(read_corpus(spark, f"{r}/corpus")
                     .select(F.col("id").alias("vec_id"), "embedding"),
                     f"{r}/sf/embeddings.parquet")
        with tr.span("ann.fit"):
            path, _ = ann_store.ensure_index(spark, f"{r}/sf", "ivf",
                                             root=f"{r}/index")
        res.setup_s.append(time.perf_counter() - t0)
        stores.append((path, f"{r}/sf", f"{r}/index",
                       read_corpus(spark, f"{r}/corpus")))
    res.mark("setup")
    held_df = read_corpus(spark, ctx.path("ingest", "heldout.parquet"))

    def cycle(b: int, batch: gen.IngestBatch, store, idx_) -> dict:
        """One batch through curation, embedding and the store, then read
        back: exact dedup -> MinHash near-dup pairs -> duplicate clusters
        -> quality gate -> decontamination -> exact Jaccard on a slice ->
        prepare (embed) -> incremental exact gate against the standing
        corpus -> append -> publish -> serve_topk reads."""
        path_, sf_, root_, corpus_ = store
        st = ctx.path("ingest", "stage", b)
        raw = read_corpus(spark, ctx.path("ingest", "batch", f"{b}.parquet"))
        with tr.span("dedup.exact"):
            write_corpus(dedup.exact_dedup(raw, id_col="id"), f"{st}/exact")
        kept = read_corpus(spark, f"{st}/exact")
        with tr.span("dedup.minhash"):
            write_corpus(dedup.minhash_dedup_pairs(kept, id_col="id"),
                         f"{st}/pairs")
        with tr.span("dedup.clusters"):
            write_corpus(dedup.dedup_clusters(
                kept, read_corpus(spark, f"{st}/pairs"), id_col="id"),
                f"{st}/clusters")
        with tr.span("text.quality"):
            reps = (read_corpus(spark, f"{st}/clusters")
                    .filter(F.col("id") == F.col("cluster_id")).select("id"))
            write_corpus(kept.join(reps, "id", "leftsemi")
                         .filter(quality_score("text") >= QUALITY_MIN),
                         f"{st}/quality")
        with tr.span("dedup.decontam"):
            write_corpus(dedup.decontaminate(
                read_corpus(spark, f"{st}/quality"), held_df, id_col="id",
                min_overlap=DECON_OVERLAP), f"{st}/clean")
        with tr.span("dedup.jaccard"):
            jp = dedup.jaccard_pairs(
                raw.filter(F.col("id").isin(jaccard_slice(batch))),
                id_col="id", threshold=JACCARD_THRESHOLD).collect()
        with tr.span("pipeline.prepare", rows=len(batch.rows)):
            write_corpus(prepare_documents(
                read_corpus(spark, f"{st}/clean")
                .select("id", "question", "answer"), emb), f"{st}/prepared")
        with tr.span("dedup.gate"):
            write_corpus(dedup.exact_dedup_incremental(
                read_corpus(spark, f"{st}/prepared"), corpus_,
                text_col="combined_text", id_col="id"), f"{st}/gated")
        before = _store_files(path_)
        with tr.span("store.append"):
            idx_.append(read_corpus(spark, f"{st}/gated")
                        .select(F.col("id").alias("vec_id"), "embedding"),
                        path_)
        with tr.span("store.publish"):
            ver = ann_store.publish_snapshot(path_, note=f"batch {b}")
        written = sum(sz for f, sz in _store_files(path_).items()
                      if f not in before)
        # read back the first gated rows by their own stored vectors
        gated = pq.read_table(f"{st}/gated", columns=["id", "embedding"])
        got = []
        for doc_id, qv in zip(gated.column("id").to_pylist()[:READS_PER_BATCH],
                              gated.column("embedding").to_pylist()):
            with tr.span("store.read"):
                rows = ann_store.serve_topk(spark, sf_, "ivf", qv,
                                            k=TOP_K, root=root_).collect()
            got.append((doc_id, qv, [(x.vec_id, x.similarity)
                                     for x in rows]))
        with tr.span("caching.release"):
            released = release_transient()
        return {"dir": st, "jaccard": jp, "version": ver, "reads": got,
                "written": written, "released": released}

    # warm every step once, untraced, on a throw-away store from an earlier
    # set-up
    warm_idx, _ = IVFIndex.read(spark, stores[0][0])
    tr.paused = True
    cycle(len(batches), warm_batch, stores[0], warm_idx)
    tr.paused = False
    res.mark("warm")

    path = stores[-1][0]
    idx, _ = IVFIndex.read(spark, path)
    versions = [ann_store.current_snapshot_version(path)]
    done: list[tuple[int, dict]] = []

    def run_op(b, batch):
        out = cycle(b, batch, stores[-1], idx)
        versions.append(out["version"])
        done.append((b, out))
        return "batch", len(batch.rows)

    _timed_loop(ctx, res, batches, run_op, INGEST_MIN_OPS)
    res.mark("timed")

    # ---- checks, untimed: Python references from the planted ground truth
    held_sh = [shingles(h) for _, h in heldout]
    # the gate compares against the standing corpus, i.e. the base rows
    known = {gen.normalized(gen.combined(q, a)) for _, q, a in base}
    n_rows, appended, written, near_hits = INGEST_BASE, 0, 0, []
    reads, stored = [], set(range(INGEST_BASE))
    for b, out in done:
        batch, st = batches[b], out["dir"]
        text = batch.text()
        first: dict[str, int] = {}
        for doc_id, _, _ in batch.rows:
            first.setdefault(gen.normalized(text[doc_id]), doc_id)
        exact_ids = set(pq.read_table(f"{st}/exact").column("id").to_pylist())
        _check(res, f"batch {b} exact survivors",
               lambda: exact_ids == set(first.values()))
        cl = pq.read_table(f"{st}/clusters").to_pydict()
        cluster = dict(zip(cl["id"], cl["cluster_id"]))
        near_hits += [cluster.get(x) is not None
                      and cluster.get(x) == cluster.get(y)
                      for x, y in batch.near_pairs]
        q = pq.read_table(f"{st}/quality", columns=["id", "text"]).to_pydict()
        clean = pq.read_table(f"{st}/clean", columns=["id", "text"]
                              ).to_pydict()
        want = {d for d, t in zip(q["id"], q["text"])
                if not _contaminated(t, held_sh)}
        _check(res, f"batch {b} decontaminated set",
               lambda: set(clean["id"]) == want)
        in_slice = set(jaccard_slice(batch))
        got = {(r.id_a, r.id_b): r.jaccard for r in out["jaccard"]}
        ref = _jaccard_reference({d: t for d, t in text.items()
                                  if d in in_slice})
        _check(res, f"batch {b} jaccard pairs", lambda: got.keys() ==
               ref.keys() and all(abs(got[k] - ref[k]) <= 1e-6 for k in ref))
        fresh = {gen.normalized(t) for t in clean["text"]} - known
        stored |= {d for d, t in zip(clean["id"], clean["text"])
                   if gen.normalized(t) in fresh}
        n_rows += len(fresh)
        appended += len(fresh)
        written += out["written"]
        ver, rows_now = out["version"], n_rows
        _check(res, f"batch {b} snapshot v{ver} rows == {rows_now}",
               lambda: ann_store.snapshot_row_count(path, ver) == rows_now)
        for doc_id, qv, rows in out["reads"]:
            reads.append((ver, qv, rows))
            _check(res, f"batch {b} row {doc_id} in its own top-k",
                   lambda: doc_id in {v for v, _ in rows})
    if done:
        files = ann_store.read_manifest(path)["files"]
        _check(res, "every gated row is in the store", lambda: stored == set(
            pa.concat_tables(pq.read_table(os.path.join(path, f),
                                           columns=["vec_id"])
                             for f in files).column("vec_id").to_pylist()))
    if near_hits:
        recall = sum(near_hits) / len(near_hits)
        _check(res, f"near-dup recall {recall:.3f} >= "
               f"{NEAR_DUP_RECALL_FLOOR}",
               lambda: recall >= NEAR_DUP_RECALL_FLOOR)

    # what each read saw: the files of the snapshot it was served from
    files_per_read, rows_per_read, recalls = [], [], []
    for ver, qv, rows in reads:
        files = ann_store.read_manifest(path, ver)["files"]
        t = pa.concat_tables(pq.read_table(os.path.join(path, f),
                                           columns=["vec_id", "embedding"])
                             for f in files)
        ids = t.column("vec_id").to_numpy()
        vecs = np.stack(t.column("embedding").to_numpy(zero_copy_only=False))
        cells = idx.probe_cells(qv)
        probed = [f for f in files
                  if int(f.split("/")[0].split("=")[1]) in cells]
        files_per_read.append(len(probed))
        rows_per_read.append(sum(
            pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            for f in probed))
        exp = {d for d, _ in exact_topk(ids, vecs, np.asarray(qv, np.float64))}
        recalls.append(len(exp & {v for v, _ in rows}) / TOP_K)
    res.mark("checks")

    before = _store_files(path)
    with tr.span("store.compact"):
        ann_store.compact_index(spark, path)
    versions.append(ann_store.current_snapshot_version(path))
    written += sum(sz for f, sz in _store_files(path).items()
                   if f not in before)
    _check(res, "compaction keeps rows",
           lambda: ann_store.snapshot_row_count(path) == n_rows)
    with tr.span("store.gc"):
        ann_store.gc_snapshots(path, keep_last=GC_KEEP)
    kept_versions = [v["version"] for v in ann_store.list_snapshots(path)]
    _check(res, f"gc keeps the last {GC_KEEP} versions",
           lambda: kept_versions == sorted(versions)[-GC_KEEP:])

    if ctx.tracer.enabled and done:
        vec_bytes = 4 * emb.dim
        # candidates per verified pair, counted once outside the timed ops
        st = done[0][1]["dir"]
        n_cand = dedup.lsh_candidate_pairs(dedup.minhash_signatures(
            read_corpus(spark, f"{st}/exact"), id_col="id",
            include_empty=False), id_col="id").count()
        n_pairs = read_corpus(spark, f"{st}/pairs").count()
        res.extras.update({
            "caching.released": sum(o["released"] for _, o in done)
            / len(done),
            "dedup.lsh_candidates_per_pair": n_cand / n_pairs
            if n_pairs else 0.0,
            "ann.cells_probed": idx.nprobe,
            "ann.rows_examined_per_result":
                sum(rows_per_read) / max(1, len(rows_per_read)) / TOP_K,
            "ann.recall_at_10": sum(recalls) / max(1, len(recalls)),
            "store.files_per_read":
                sum(files_per_read) / max(1, len(files_per_read)),
            "store.write_amp": written / (appended * vec_bytes)
            if appended else 0.0,
            "store.space_amp": sum(_store_files(path).values())
            / (n_rows * vec_bytes),
            "store.snapshots": len(versions),
        })
    return res


WORKLOADS = {"serve": serve, "ingest": ingest}


def summarize(res: Result) -> dict:
    """End-to-end figures of one run, from the workload's raw samples."""
    busy_s = sum(res.op_ms) / 1e3
    return {
        "setup_median_s": median(res.setup_s) if res.setup_s else math.nan,
        "op_p50_ms": median(res.op_ms) if res.op_ms else math.nan,
        "items_per_s": res.items / busy_s if busy_s > 0 else math.nan,
        "ops": len(res.op_ms),
    }
