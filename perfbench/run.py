"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload serve|ingest --seed N \\
        --seconds S --trace 0|1 [--trace-out FILE]

Run from the root of a checkout. The engine package is imported from that
checkout; every file a run makes (inputs, Spark local dirs, the index
store, the event log) lives in a temporary directory inside the checkout
that is deleted at exit. Spark runs on local[nproc] from this one process,
with one client thread.

With ``--trace 0`` the last line carries the end-to-end metrics of
BENCHMARK.json:

- ``setup_s``: session start plus the median of three set-ups (corpus
  prepare and load, lazy index build), everything before the first op;
- ``op_p50_ms``: median latency of the workload's op (serve: one request;
  ingest: one batch, from curation to its read-back);
- ``items_per_s``: requests (serve) or input rows (ingest) per second of
  op time.

With ``--trace 1`` it carries the per-layer metrics, taken from spans the
workloads record around each engine call and from Spark's event log (see
census.py). ``--trace-out`` also writes the spans, each with its Spark
figures, to FILE. Other lines report the sample counts, failures, host
weather (CPU steal, load, peak RSS) and phase times; they never adjust a
metric.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True  # a run must leave the checkout unchanged

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import tempfile  # noqa: E402
import time  # noqa: E402
from pathlib import Path  # noqa: E402

import census  # noqa: E402
import measure  # noqa: E402
from spans import Tracer  # noqa: E402

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "dotnetvectorsearch_spark"
DEADLINE_S = 170   # a run must end within 180 s; leave time to clean up

WORKLOAD_NAMES = ("serve", "ingest")
END_TO_END = [("setup_s", "s"), ("op_p50_ms", "ms"), ("items_per_s", "1/s")]


class Deadline(Exception):
    pass


def _on_alarm(signum, frame):
    raise Deadline(f"run exceeded {DEADLINE_S} s")


def _prepare_env(run_dir: Path, trace: bool) -> None:
    """Point every place Spark, the JVM and Python write to into run_dir,
    and let the Python workers import the package from this checkout."""
    for sub in ("tmp", "local", "events", "warehouse", "index"):
        (run_dir / sub).mkdir()
    cpus = str(os.cpu_count() or 1)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep)
                       if p])
    env["PYTHONDONTWRITEBYTECODE"] = "1"
    env["TMPDIR"] = str(run_dir / "tmp")
    tempfile.tempdir = None
    env["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    env["SPARK_GRAFT_INDEX_ROOT"] = str(run_dir / "index")
    env["SPARK_GRAFT_CPUS"] = cpus
    env["SPARK_SUBMIT_OPTS"] = " ".join(filter(None, [
        env.get("SPARK_SUBMIT_OPTS", ""), "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={run_dir / 'tmp'}",
        f"-Dderby.system.home={run_dir / 'tmp'}"]))
    conf = {
        "spark.sql.warehouse.dir": (run_dir / "warehouse").as_uri(),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (run_dir / "events").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell"


def _stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it to exit (it exits
    when its stdin closes)."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - make sure it is gone
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _jvm_pid() -> int | None:
    from pyspark import SparkContext
    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def run(args, run_dir: Path) -> dict:
    import workloads
    from dotnetvectorsearch_spark.session import get_spark

    steal0 = measure.cpu_ticks()
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
        ctx = workloads.Ctx(spark, tracer, args.seed, args.seconds, run_dir)
        res = workloads.WORKLOADS[args.workload](ctx)
        rss = [measure.peak_rss_mb(os.getpid()), measure.peak_rss_mb(
            _jvm_pid() or -1)]
    finally:
        _stop_spark(spark)
    peak_rss = sum(r for r in rss if r)
    steal = measure.steal_pct(steal0, measure.cpu_ticks())
    summary = workloads.summarize(res)

    print(f"workload={args.workload} seed={args.seed} ops={summary['ops']} "
          f"attempted={res.attempted} failed={res.failed} "
          f"failed_ops_frac={res.failed / max(1, res.attempted):.4f}")
    print(f"host: cpu_steal_pct={steal if steal is None else round(steal, 2)}"
          f" load_avg_1m={measure.load_avg()} cpus={os.cpu_count()}"
          f" peak_rss_mb={peak_rss:.0f} (driver JVM + Python)")
    p90 = measure.percentile(res.op_ms, 0.9)
    print(f"op latency: p50={summary['op_p50_ms']:.1f} ms over "
          f"{summary['ops']} ops; p90 "
          + (f"{p90:.1f} ms" if p90 is not None else
             f"not reported (needs {measure.min_samples(0.9)} ops)"))
    print("op ms: " + " ".join(f"{k}:{ms:.0f}" for k, ms in
                                zip(res.op_kind, res.op_ms)))
    print("phases (s): session=%.2f " % session_s
          + " ".join(f"{k}={v}" for k, v in res.phases.items()))
    for f in res.failures:
        print(f"FAILED: {f}")

    if not args.trace:
        values = {"setup_s": session_s + summary["setup_median_s"],
                  "op_p50_ms": summary["op_p50_ms"],
                  "items_per_s": summary["items_per_s"]}
        metrics = {name: _metric(values[name], unit)
                   for name, unit in END_TO_END}
    else:
        logs = list((run_dir / "events").iterdir())
        with open(logs[0]) as f:
            cen = census.read_event_log(f)
        spans = tracer.dump()
        extras = dict(res.extras)
        extras["session.start_s"] = session_s
        extras["mem.peak_rss_mb"] = peak_rss
        extras["trace.ops"] = sum(res.op_traced)
        extras["trace.overhead_pct"] = _overhead_pct(res)
        api_src = (ROOT / PACKAGE / "api.py").read_text()
        values = census.layer_metrics(spans, cen, extras,
                                      census.topk_collect_line(api_src))
        metrics = {name: _metric(values[name], unit)
                   for name, unit in census.PER_LAYER}
        print(f"tracing overhead: {extras['trace.overhead_pct']:+.1f}% "
              f"(traced vs untraced ops of the same kind, same run)")
        if args.trace_out:
            Path(args.trace_out).write_text(json.dumps(
                {"spans": census.span_table(spans, cen)}, indent=1))
    return {"correct": res.failed == 0, "attempted": res.attempted,
            "failed": res.failed, "metrics": metrics}


def _overhead_pct(res) -> float:
    """Median traced op latency over the median untraced one of the same
    kind, as a percentage change. Ops alternate between the two."""
    ratios = []
    for kind in set(res.op_kind):
        on = [ms for ms, k, t in zip(res.op_ms, res.op_kind, res.op_traced)
              if k == kind and t]
        off = [ms for ms, k, t in zip(res.op_ms, res.op_kind, res.op_traced)
               if k == kind and not t]
        if on and off:
            ratios.append(measure.median(on) / measure.median(off))
    return 100.0 * (measure.median(ratios) - 1.0) if ratios else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--trace-out")
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"error: no {PACKAGE} package under {ROOT}; run from a "
              f"checkout of the repository", file=sys.stderr)
        return 2
    try:
        import pyspark  # noqa: F401
    except ImportError:
        print("error: pyspark is not installed", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    run_dir = Path(tempfile.mkdtemp(prefix=".perfbench-run-", dir=ROOT))
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    try:
        _prepare_env(run_dir, bool(args.trace))
        result = run(args, run_dir)
    except Deadline as e:
        print(f"error: {e}", file=sys.stderr)
        return 1
    finally:
        signal.alarm(0)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
