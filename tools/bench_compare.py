"""Paired Spark-vs-DuckDB bench runner: executes `bench.py` and
`tools/bench_duckdb.py` back-to-back (never concurrently — they would
contend for the same cores and poison both timings), then writes
``PERF_R{N}.md`` with the summary + full per-query table. This is the
repeatable generator of the committed perf report.

Run:  python tools/bench_compare.py <round>     e.g. 2 -> PERF_R02.md
Env:  SPARK_GRAFT_SF_DIR to point both engines at another SF.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from dotnetvectorsearch_spark.session import local_cpus  # noqa: E402


def _run_json(cmd: list[str]) -> dict:
    out = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT,
                         env={**os.environ}, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main(round_no: int) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    _run_json([sys.executable, "bench.py"])
    # bench.py's stdout line is compact (driver-parseable); the per-query
    # map lives in the side file it writes.
    s = json.loads((ROOT / "BENCH_DETAIL.json").read_text())
    d = _run_json([sys.executable, "tools/bench_duckdb.py", sf_dir])

    common = sorted(set(s["queries"]) & set(d["queries"]))
    st = sum(s["queries"][n] for n in common)
    dt = sum(d["queries"][n] for n in common)
    # report the single worst Spark-relative outlier separately: one
    # degenerate oracle formulation must not hide the per-query story.
    # Selected by RATIO (DuckDB/Spark), not absolute DuckDB seconds, so
    # the excluded query is the one whose ORACLE formulation collapses
    # relative to Spark — not merely the biggest query.
    outlier = max(
        common,
        key=lambda n: d["queries"][n] / max(s["queries"][n], 1e-9))
    ex = [n for n in common if n != outlier]
    st2 = sum(s["queries"][n] for n in ex)
    dt2 = sum(d["queries"][n] for n in ex)
    floor = s.get("floor_sec_per_query", 0.0)

    lines = [
        f"# PERF — round-{round_no} per-query comparison "
        f"(sf={s['sf']}, local[{local_cpus()}], best-of-2 after warm-up)",
        "",
        f"Spark = `python bench.py` ({len(s['queries'])} queries, total "
        f"{s['value']}s, measured single-stage floor {floor}s/query); "
        f"DuckDB = `python tools/bench_duckdb.py` running the IDENTICAL "
        f"`oracle_sql()` statements on the same parquet files "
        f"({len(d['queries'])} oracle-covered).",
        "",
        f"Summary over the {len(common)} common queries: Spark {st:.1f}s "
        f"vs DuckDB {dt:.1f}s (ratio {st / dt:.2f}). Excluding the "
        f"largest DuckDB/Spark-ratio outlier `{outlier}` "
        f"({d['queries'][outlier]:.1f}s vs {s['queries'][outlier]:.1f}s): "
        f"Spark {st2:.1f}s vs {dt2:.1f}s = {st2 / dt2:.2f}x total, "
        f"{(st2 - floor * len(ex)) / dt2:.2f}x marginal after the "
        f"measured per-query floor.",
        "",
    ]
    if s.get("errors"):
        lines += [f"Spark-side errors: {json.dumps(s['errors'])}", ""]
    lines += ["| query | spark s | duckdb s | ratio |",
              "|---|---|---|---|"]
    for n in sorted(common, key=lambda n: -s["queries"][n]):
        sq, dq = s["queries"][n], d["queries"][n]
        lines.append(f"| {n} | {sq:.3f} | {dq:.3f} "
                     f"| {sq / max(dq, 1e-9):.2f} |")
    dest = ROOT / f"PERF_R{round_no:02d}.md"
    dest.write_text("\n".join(lines) + "\n")
    print(f"wrote {dest}")


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 0)
