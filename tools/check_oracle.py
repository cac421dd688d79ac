"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at sf0.01, then compares row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted by their
stringified tuple). Run:  python tools/check_oracle.py [names...]

``--distributed`` sets ``localdf.DRIVER_BYTES`` to 0, so every bounded
driver path (engine pin, ANN store pin, IVF write, connected components,
PageRank, BPE training, cell compaction) takes its distributed twin; a run
in each mode proves every driver/distributed pair equal across the
registry.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod
from dotnetvectorsearch_spark import localdf
from dotnetvectorsearch_spark.caching import release_transient
from dotnetvectorsearch_spark.session import get_spark
from dotnetvectorsearch_spark.sources.io import TPCH_TABLES

import os
SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR",
                        "/root/testdata/sf0.01")


def normalize(df) -> tuple[int, list[str], int]:
    cols = sorted(df.columns)
    df = df[cols]
    rows = []
    for tup in df.itertuples(index=False, name=None):
        rows.append(tuple(_norm_val(v) for v in tup))
    rows.sort()
    return len(rows), cols, hash(tuple(rows))


def _norm_val(v):
    # Type-tag ints vs floats: the driver's canonicalizer stringifies
    # values, so DuckDB HUGEINT->float64 (7.0) vs Spark int64 (7) is a
    # real hash mismatch there — hash(7)==hash(7.0) must not mask it.
    import datetime
    import numpy as np
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if isinstance(v, (np.floating,)):
        v = float(v)
    if isinstance(v, float):
        if v != v:
            return ("f", "nan")
        if v == 0.0:
            return ("f", 0.0)  # -0.0 == 0.0
        return ("f", v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, np.ndarray)):
        return tuple(_norm_val(x) for x in v)
    return v


def main(names: list[str]) -> int:
    write_md = "--md" in names
    if "--distributed" in names:
        localdf.DRIVER_BYTES = 0
    names = [n for n in names if n not in ("--md", "--distributed")]
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/{t}.parquet')")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    todo = names or list(qs)
    failures = 0
    ledger: list[tuple[str, str, int | None, float]] = []
    for name in todo:
        t0 = time.time()
        try:
            sdf = qs[name](spark, SF_DIR).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {exc}")
            ledger.append((name, "ERR", None, time.time() - t0))
            failures += 1
            continue
        finally:
            # drop per-query transient operator caches (token-scale);
            # 126 queries back-to-back must not accumulate them
            release_transient()
        spark_t = time.time() - t0
        if name not in oracles:
            print(f"SKIP {name}: rows-only ({len(sdf)} rows, {spark_t:.1f}s)")
            ledger.append((name, "rows-only", len(sdf), spark_t))
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {exc}")
            ledger.append((name, "ORACLE-ERR", len(sdf), spark_t))
            failures += 1
            continue
        sn, sc, sh = normalize(sdf)
        on, oc, oh = normalize(odf)
        status = "OK  " if (sn, sc, sh) == (on, oc, oh) else "FAIL"
        if status == "FAIL":
            failures += 1
            print(f"{status} {name}: rows {sn} vs {on}, cols {sc} vs {oc}, "
                  f"hash {'==' if sh == oh else '!='}  ({spark_t:.1f}s)")
            if sn == on and sc == oc:
                _diff(sdf, odf, name)
        else:
            print(f"{status} {name}: {sn} rows ({spark_t:.1f}s)")
        ledger.append((name, status.strip(), sn, spark_t))
    spark.stop()
    if write_md and not names:
        _write_md(ledger, failures)
    return failures


# Why each rows-only query has no DuckDB oracle, and where its
# correctness is pinned instead. Rendered into ORACLE_SELFCHECK.md so
# the ledger itself documents that every skip is a justified one.
ROWS_ONLY_REASON: dict[str, str] = {
    "minhash_pairs": (
        "Spark xxhash64 minhash over VARIABLE-length word shingles — "
        "XXH64's stripe loop for unbounded input is not expressible as "
        "a scalar SQL expression (the fixed-5-byte-gram case IS: see "
        "the winnow_fingerprints oracle); md5 twin `minhash_pairs_md5` "
        "oracle-checked"),
    "simhash_pairs": (
        "Spark xxhash64 simhash over variable-length shingles (same "
        "XXH64 stripe-loop limit as minhash_pairs); md5 twin "
        "`simhash_pairs_md5` oracle-checked"),
    "ann_ivf_topk": (
        "k-means training (seeded numpy RNG) not SQL-expressible; "
        "recall vs the oracle-checked exact scan pinned in "
        "tests/test_ann.py"),
    "ann_pq_topk": "k-means codebooks; recall floor in tests/test_ann.py",
    "ann_pq_recall": (
        "reports recall against the exact scan — the exact side IS the "
        "oracle-checked `search_topk`; floor pinned in tests/test_ann.py"),
    "ann_ivfpq_topk": "k-means cells + codebooks; floors in test_ann.py",
    "ann_ivf_serve": (
        "serve path over the PERSISTED IVF index (k-means state, not "
        "SQL-expressible); serve == fit-in-query results pinned in "
        "tests/test_ann_store.py"),
    "ann_pq_serve": (
        "same as ann_ivf_serve for the PQ tier (test_ann_store.py)"),
    "ann_ivfpq_serve": (
        "same as ann_ivf_serve for the IVF+PQ tier (test_ann_store.py)"),
    "ann_ivfpq_recall": "same as ann_pq_recall for the IVF+PQ tier",
    "ann_quality_ivf": (
        "retrieval metrics of the persisted IVF index's serve ranking "
        "— k-means serve state, not SQL-expressible; metric "
        "invariants (metrics_from_topk == retrieval_metrics on the "
        "exact ranking, batched panel == per-query search, full-probe "
        "IVF == exact) pinned in tests/test_retrieval_eval.py"),
    "ann_nprobe_tuning": (
        "recall-vs-nprobe curve over k-means centroid state, not "
        "SQL-expressible; closed form == direct ivf_topk_panel "
        "measurement, monotonicity, and smallest-meeting-target "
        "choice pinned in tests/test_ann_store.py"),
    "ann_nprobe_tuning_ivfpq": (
        "serve-recall-vs-nprobe curve over k-means + PQ codebook "
        "state, not SQL-expressible; the shortlist-rank closed form "
        "== direct per-nprobe IVF+PQ serve reruns and the "
        "smallest-meeting-target choice are pinned in "
        "tests/test_ann_store.py"),
    "ann_ivfpq_coding_gain": (
        "residual-vs-raw PQ MSE comparison over trained codebooks; "
        "gain invariant pinned in tests/test_ann.py"),
    "ann_index_health": (
        "maintenance probe over the persisted index STORE (cell skew "
        "+ per-cell file fragmentation via input_file_name), not a "
        "driver-registered table; flag semantics and compact_index "
        "search parity pinned in tests/test_ann_store.py"),
    "ann_recall": "recall-vs-exact report; floor pinned in test_ann.py",
    "approx_distinct_users": (
        "Spark approx_count_distinct (HLL++) — JVM sketch internals; "
        "relative-error bound pinned in tests/test_sketches.py"),
    "approx_value_percentiles": (
        "Spark approx_percentile (KLL); rank-error bound pinned in "
        "tests/test_sketches.py"),
    "theta_contamination": (
        "Apache DataSketches theta aggregate (JVM); estimate-vs-exact "
        "error bound pinned in tests/test_sketches.py"),
    "hll_daily_users": (
        "DataSketches HLL aggregate; error bound in test_sketches.py"),
    "kll_value_quantiles": (
        "DataSketches KLL aggregate; rank-error bound in "
        "test_sketches.py"),
    "embed_documents": (
        "deterministic embedder draws via numpy RandomState "
        "standard_normal (Mersenne Twister) — not SQL-expressible; "
        "determinism + unit-norm pinned in tests/test_embeddings.py"),
    "text_search_e2e": (
        "end-to-end path through the numpy-RNG deterministic embedder; "
        "pipeline invariants pinned in tests/test_pipeline.py"),
    "media_features": (
        "multimodal binary plumbing with documented decode stubs; "
        "schema/batch-shape pinned in tests/test_multimodal.py"),
    "media_frames": "same as media_features (frame-sample path)",
    "bpe_merges": (
        "BPE training is inherently iterative — each merge depends on "
        "the re-tokenized corpus from all prior merges; merge-rule "
        "invariants pinned in tests/test_lm.py"),
    "bpe_segmented_docs": (
        "applies the iteratively-trained BPE table; segmentation "
        "round-trip invariants pinned in tests/test_lm.py"),
}


def _write_md(ledger, failures: int) -> None:
    """Commitable self-check table (ORACLE_SELFCHECK.md): the full-registry
    equivalent of the driver's CORRECTNESS artifact, covering the queries
    the driver's 49-entry prefix has not reached yet."""
    import datetime
    import subprocess
    root = Path(__file__).parent.parent
    sha = subprocess.run(["git", "rev-parse", "--short", "HEAD"],
                         capture_output=True, text=True,
                         cwd=root).stdout.strip()
    status = subprocess.run(
        ["git", "status", "--porcelain", "--untracked-files=no"],
        capture_output=True, text=True, cwd=root).stdout.strip()
    # The stamp certifies SOURCE state; the ledger being rewritten is
    # not source drift.
    dirty = [ln for ln in status.splitlines()
             if ln.split(None, 1)[-1] != "ORACLE_SELFCHECK.md"]
    tree_state = ("clean tree — the stamp names the exact judged source"
                  if not dirty else
                  "DIRTY TREE — uncommitted changes were present; "
                  "regenerate after committing")
    n_ok = sum(1 for _, s, _, _ in ledger if s == "OK")
    n_rows = sum(1 for _, s, _, _ in ledger if s == "rows-only")
    n_fail = len(ledger) - n_ok - n_rows
    lines = [
        "# Oracle self-check (full query registry)",
        "",
        f"Generated by `python tools/check_oracle.py --md` at commit "
        f"`{sha}` ({tree_state}) on "
        f"{datetime.datetime.now(datetime.UTC).date().isoformat()} — the "
        "local replica of the driver's correctness gate (rows + columns + "
        "order-insensitive type-tagged value hash, Spark vs DuckDB at "
        "sf0.01).",
        "",
        f"**{n_ok} oracle-checked OK, {n_rows} rows-only "
        f"(no SQL-expressible oracle), {n_fail} failing.**",
        "",
        "Note: the driver's per-round `CORRECTNESS_r{N}.json` covers "
        "only the FROZEN 50-query registry prefix (its fixed compare "
        "set since round 4); THIS ledger is the full-registry "
        "correctness evidence — every registry query, including the "
        "ones added after the prefix froze, checked with the same "
        "three-way compare (advisor r11).",
        "",
        "| query | status | rows | spark sec |",
        "|---|---|---|---|",
    ]
    for name, status, rows, sec in ledger:
        lines.append(f"| {name} | {status} | "
                     f"{'' if rows is None else rows} | {sec:.1f} |")
    skipped = [n for n, s, _, _ in ledger if s == "rows-only"]
    if skipped:
        lines += ["", "## Rows-only rationale", "",
                  "Why each rows-only query has no DuckDB oracle, and "
                  "where its correctness is pinned instead:", ""]
        for n in skipped:
            lines.append(f"- `{n}` — "
                         f"{ROWS_ONLY_REASON.get(n, 'UNDOCUMENTED')}")
    out = Path(__file__).parent.parent / "ORACLE_SELFCHECK.md"
    out.write_text("\n".join(lines) + "\n")
    print(f"wrote {out}")


def _diff(sdf, odf, name, max_show: int = 5):
    cols = sorted(sdf.columns)
    a = {tuple(_norm_val(v) for v in t)
         for t in sdf[cols].itertuples(index=False, name=None)}
    b = {tuple(_norm_val(v) for v in t)
         for t in odf[cols].itertuples(index=False, name=None)}
    only_spark = list(a - b)[:max_show]
    only_duck = list(b - a)[:max_show]
    for r in only_spark:
        print(f"    spark-only: {r}")
    for r in only_duck:
        print(f"    duck-only:  {r}")


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
