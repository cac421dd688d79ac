"""Layer census: turn a traced run's spans and Spark event log into the
benchmark's per-layer metrics, and compare two traced runs layer by layer.

The event log must be uncompressed and not rolled (one JSON object per
line). Jobs, stages and tasks are attributed to the span whose id is their
job group; a span's inclusive figures add those of its descendants. A job's
recorded call site (``collect at <file>:<line>``) attributes it further to
a module line.

Usage:
    python3 perfbench/census.py diff BEFORE AFTER

BEFORE and AFTER hold the output of two traced runs
(``run.py ... --trace 1``); the last line of each is read. The diff prints
every per-layer metric side by side with its relative change.
"""

from __future__ import annotations

import json
import sys
from collections import defaultdict
from dataclasses import dataclass, field, fields

from spans import GROUP_PREFIX

# Every per-layer metric a traced run reports, in BENCHMARK.json order.
API_KINDS = ("search", "ann_search", "similarity", "embed_batch")
API_FIELDS = ("jobs", "stages", "tasks", "driver_gap_ms", "executor_run_ms",
              "sched_deser_ms")
SPARK_FIELDS = ("jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
                "executor_cpu_s", "deser_s", "sched_delay_s", "gc_s",
                "input_records", "shuffle_write_mb", "shuffle_read_mb",
                "shuffle_records", "result_mb", "driver_gap_s")
PER_LAYER: list[tuple[str, str]] = [
    ("session.start_s", "s"), ("mem.peak_rss_mb", "MB"),
    ("embed.rows", "count"), ("embed.busy_s", "s"),
    ("embed.rows_per_s", "1/s"), ("embed.jobs", "count"),
    *[(f"api.{k}.{f}", "ms" if f.endswith("_ms") else "count")
      for k in API_KINDS for f in API_FIELDS],
    ("search.topk_ms", "ms"), ("search.rows_examined_per_result", "ratio"),
    ("ann.fit_s", "s"), ("ann.query_ms", "ms"), ("ann.cells_probed", "count"),
    ("ann.rows_examined_per_result", "ratio"), ("ann.recall_at_10", "ratio"),
    ("store.append_ms", "ms"), ("store.publish_ms", "ms"),
    ("store.compact_s", "s"), ("store.gc_s", "s"),
    ("store.files_per_read", "count"), ("store.write_amp", "ratio"),
    ("store.space_amp", "ratio"), ("store.snapshots", "count"),
    ("dedup.exact_s", "s"), ("dedup.gate_s", "s"), ("dedup.minhash_s", "s"),
    ("dedup.clusters_s", "s"), ("dedup.decontam_s", "s"),
    ("dedup.jaccard_s", "s"), ("dedup.lsh_candidates_per_pair", "ratio"),
    ("dedup.jaccard_shuffle_records", "count"),
    ("text.quality_s", "s"),
    ("caching.release_s", "s"), ("caching.released", "count"),
    ("io.read_s", "s"), ("io.write_s", "s"), ("io.bytes_written", "bytes"),
    *[(f"spark.{f}", "s" if f.endswith("_s") else
       "MB" if f.endswith("_mb") else "count") for f in SPARK_FIELDS],
    ("trace.overhead_pct", "%"), ("trace.ops", "count"),
]

# span name -> per-layer metric holding its mean duration (unit by suffix)
SPAN_MEANS = {
    "ann.fit": "ann.fit_s",
    "store.append": "store.append_ms", "store.publish": "store.publish_ms",
    "store.compact": "store.compact_s", "store.gc": "store.gc_s",
    "dedup.exact": "dedup.exact_s", "dedup.gate": "dedup.gate_s",
    "dedup.minhash": "dedup.minhash_s", "dedup.clusters": "dedup.clusters_s",
    "dedup.decontam": "dedup.decontam_s", "dedup.jaccard": "dedup.jaccard_s",
    "text.quality": "text.quality_s", "caching.release": "caching.release_s",
}
EMBED_SPANS = ("api.embed_batch", "pipeline.prepare")
ANN_QUERY_SPANS = ("api.ann_search", "store.read")


@dataclass
class Stats:
    """Spark work attributed to one job group."""
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    deser_ms: float = 0.0
    sched_ms: float = 0.0
    gc_ms: float = 0.0
    result_bytes: float = 0.0
    input_records: float = 0.0
    shuffle_write_bytes: float = 0.0
    shuffle_read_bytes: float = 0.0
    shuffle_records: float = 0.0
    output_bytes: float = 0.0
    read_task_ms: float = 0.0    # run time of tasks that read input
    write_task_ms: float = 0.0   # run time of tasks that wrote output

    def add(self, other: "Stats") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name)
                    + getattr(other, f.name))


@dataclass
class Job:
    id: int
    group: str | None
    callsite: str | None
    start_ms: float
    end_ms: float | None = None
    ok: bool = False


@dataclass
class Census:
    jobs: dict[int, Job] = field(default_factory=dict)
    groups: dict[str | None, Stats] = field(default_factory=lambda:
                                            defaultdict(Stats))


def _task_stats(ev: dict) -> Stats:
    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
    s = Stats(tasks=1)
    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
    s.failed_tasks = int(bool(info.get("Failed")) or reason != "Success")
    s.run_ms = float(m.get("Executor Run Time", 0))
    s.cpu_ms = float(m.get("Executor CPU Time", 0)) / 1e6
    s.deser_ms = float(m.get("Executor Deserialize Time", 0))
    s.gc_ms = float(m.get("JVM GC Time", 0))
    s.result_bytes = float(m.get("Result Size", 0))
    launch, finish = info.get("Launch Time", 0), info.get("Finish Time", 0)
    getting = info.get("Getting Result Time", 0)
    fetch_ms = finish - getting if getting else 0
    s.sched_ms = max(0.0, float(finish - launch) - s.run_ms - s.deser_ms
                     - float(m.get("Result Serialization Time", 0))
                     - fetch_ms)
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    inp = m.get("Input Metrics") or {}
    out = m.get("Output Metrics") or {}
    s.shuffle_read_bytes = float(sr.get("Remote Bytes Read", 0)
                                 + sr.get("Local Bytes Read", 0))
    s.shuffle_write_bytes = float(sw.get("Shuffle Bytes Written", 0))
    s.shuffle_records = float(sw.get("Shuffle Records Written", 0))
    s.input_records = float(inp.get("Records Read", 0))
    s.output_bytes = float(out.get("Bytes Written", 0))
    if s.input_records > 0:
        s.read_task_ms = s.run_ms
    if s.output_bytes > 0:
        s.write_task_ms = s.run_ms
    return s


def read_event_log(lines) -> Census:
    """Parse an uncompressed event log (an iterable of JSON lines)."""
    c = Census()
    stage_group: dict[tuple[int, int], str | None] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(ev["Job ID"], props.get("spark.jobGroup.id"),
                      props.get("callSite.short"),
                      float(ev.get("Submission Time", 0)))
            c.jobs[job.id] = job
            c.groups[job.group].jobs += 1
        elif kind == "SparkListenerJobEnd":
            job = c.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = float(ev.get("Completion Time", job.start_ms))
                job.ok = (ev.get("Job Result") or {}).get("Result") \
                    == "JobSucceeded"
        elif kind == "SparkListenerStageSubmitted":
            info = ev.get("Stage Info") or {}
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            stage_group[(info.get("Stage ID"),
                         info.get("Stage Attempt ID", 0))] = group
            c.groups[group].stages += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get((ev.get("Stage ID"),
                                     ev.get("Stage Attempt ID", 0)))
            c.groups[group].add(_task_stats(ev))
    return c


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class SpanView:
    """Spans joined with the census: inclusive stats, jobs and gaps."""

    def __init__(self, spans: list[dict], census: Census,
                 group_prefix: str = GROUP_PREFIX):
        self.spans = {s["id"]: s for s in spans}
        self.children: dict[int, list[int]] = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                self.children[s["parent"]].append(s["id"])
        self.census = census
        self.jobs_of: dict[int, list[Job]] = defaultdict(list)
        for job in census.jobs.values():
            if job.group and job.group.startswith(group_prefix):
                sid = int(job.group[len(group_prefix):])
                self.jobs_of[sid].append(job)
        self.prefix = group_prefix

    def subtree(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(self.children.get(x, ()))
        return out

    def stats(self, sid: int) -> Stats:
        total = Stats()
        for x in self.subtree(sid):
            total.add(self.census.groups.get(f"{self.prefix}{x}", Stats()))
        return total

    def jobs(self, sid: int) -> list[Job]:
        return [j for x in self.subtree(sid) for j in self.jobs_of.get(x, ())]

    def duration_ms(self, sid: int) -> float:
        s = self.spans[sid]
        return s["end_ms"] - s["start_ms"]

    def self_ms(self, sid: int) -> float:
        """Duration minus the part of it that child spans cover."""
        s = self.spans[sid]
        kids = [(max(s["start_ms"], self.spans[k]["start_ms"]),
                 min(s["end_ms"], self.spans[k]["end_ms"]))
                for k in self.children.get(sid, ())]
        return self.duration_ms(sid) - _union_ms([k for k in kids
                                                  if k[1] > k[0]])

    def driver_gap_ms(self, sid: int) -> float:
        """Wall time in which no Spark job of the span was running."""
        s = self.spans[sid]
        iv = [(max(s["start_ms"], j.start_ms),
               min(s["end_ms"], j.end_ms if j.end_ms else s["end_ms"]))
              for j in self.jobs(sid)]
        return self.duration_ms(sid) - _union_ms([i for i in iv
                                                  if i[1] > i[0]])

    def named(self, *names: str, ops_only: bool = False) -> list[int]:
        return sorted(i for i, s in self.spans.items() if s["name"] in names
                      and (not ops_only or s["op"] is not None))


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def topk_collect_line(api_source: str) -> int | None:
    """Line of the brute-search result collect in the engine facade."""
    for i, line in enumerate(api_source.splitlines(), 1):
        if "hits_df.collect()" in line:
            return i
    return None


def layer_metrics(spans: list[dict], census: Census, extras: dict,
                  topk_line: int | None = None) -> dict[str, float]:
    """Every PER_LAYER metric: from spans and census where they measure it,
    from ``extras`` (counts the workload computed) otherwise, else 0."""
    v = SpanView(spans, census)
    out = {name: 0.0 for name, _ in PER_LAYER}
    op_roots = [i for i, s in v.spans.items()
                if s["op"] is not None and s["parent"] is None]
    n_ops = len({v.spans[i]["op"] for i in op_roots})

    for span_name, metric in SPAN_MEANS.items():
        ids = v.named(span_name)
        scale = 1.0 if metric.endswith("_ms") else 1e-3
        out[metric] = _mean(v.duration_ms(i) for i in ids) * scale

    emb = v.named(*EMBED_SPANS, ops_only=True)
    if emb:
        rows = sum(v.spans[i]["rows"] for i in emb)
        busy = sum(v.duration_ms(i) for i in emb) / 1e3
        out["embed.rows"] = rows / len(emb)
        out["embed.busy_s"] = busy / len(emb)
        out["embed.rows_per_s"] = rows / busy if busy > 0 else 0.0
        out["embed.jobs"] = _mean(v.stats(i).jobs for i in emb)

    for kind in API_KINDS:
        ids = v.named(f"api.{kind}")
        if not ids:
            continue
        st = [v.stats(i) for i in ids]
        p = f"api.{kind}."
        out[p + "jobs"] = _mean(s.jobs for s in st)
        out[p + "stages"] = _mean(s.stages for s in st)
        out[p + "tasks"] = _mean(s.tasks for s in st)
        out[p + "driver_gap_ms"] = _mean(v.driver_gap_ms(i) for i in ids)
        out[p + "executor_run_ms"] = _mean(s.run_ms for s in st)
        out[p + "sched_deser_ms"] = _mean(s.sched_ms + s.deser_ms for s in st)

    if topk_line is not None:
        tag = f"api.py:{topk_line}"
        out["search.topk_ms"] = _mean(
            sum((j.end_ms or j.start_ms) - j.start_ms for j in v.jobs(i)
                if j.callsite and j.callsite.startswith("collect at")
                and j.callsite.endswith(tag))
            for i in v.named("api.search"))

    out["ann.query_ms"] = _mean(v.duration_ms(i)
                                for i in v.named(*ANN_QUERY_SPANS))
    out["dedup.jaccard_shuffle_records"] = _mean(
        v.stats(i).shuffle_records for i in v.named("dedup.jaccard"))

    if n_ops:
        total = Stats()
        gap = 0.0
        for i in op_roots:
            total.add(v.stats(i))
            gap += v.driver_gap_ms(i)
        per = {
            "jobs": total.jobs, "stages": total.stages, "tasks": total.tasks,
            "failed_tasks": total.failed_tasks,
            "executor_run_s": total.run_ms / 1e3,
            "executor_cpu_s": total.cpu_ms / 1e3,
            "deser_s": total.deser_ms / 1e3,
            "sched_delay_s": total.sched_ms / 1e3,
            "gc_s": total.gc_ms / 1e3,
            "input_records": total.input_records,
            "shuffle_write_mb": total.shuffle_write_bytes / 2**20,
            "shuffle_read_mb": total.shuffle_read_bytes / 2**20,
            "shuffle_records": total.shuffle_records,
            "result_mb": total.result_bytes / 2**20,
            "driver_gap_s": gap / 1e3,
        }
        for f in SPARK_FIELDS:
            out[f"spark.{f}"] = per[f] / n_ops
        out["io.read_s"] = total.read_task_ms / 1e3 / n_ops
        out["io.write_s"] = total.write_task_ms / 1e3 / n_ops
        out["io.bytes_written"] = total.output_bytes / n_ops

    for k, val in extras.items():
        if k in out and val is not None:
            out[k] = float(val)
    return out


def span_table(spans: list[dict], census: Census) -> list[dict]:
    """Per-span rows (self time, gap, inclusive Spark figures, call sites)
    for a written-out trace."""
    v = SpanView(spans, census)
    rows = []
    for sid in sorted(v.spans):
        s = v.spans[sid]
        st = v.stats(sid)
        sites: dict[str, int] = defaultdict(int)
        for j in v.jobs_of.get(sid, ()):
            sites[j.callsite or "?"] += 1
        rows.append({**s, "duration_ms": v.duration_ms(sid),
                     "self_ms": v.self_ms(sid),
                     "driver_gap_ms": v.driver_gap_ms(sid),
                     "jobs": st.jobs, "stages": st.stages, "tasks": st.tasks,
                     "executor_run_ms": st.run_ms,
                     "shuffle_write_bytes": st.shuffle_write_bytes,
                     "callsites": dict(sites)})
    return rows


# -------------------------------------------------------------------- CLI

def _last_json(path: str) -> dict:
    with open(path) as f:
        lines = [ln for ln in f.read().splitlines() if ln.strip()]
    return json.loads(lines[-1])


def diff(before: dict, after: dict) -> list[tuple[str, float, float, str]]:
    """(metric, before, after, relative change) for every metric in either
    run; the change is '' when the before value is 0."""
    mb, ma = before.get("metrics", {}), after.get("metrics", {})
    rows = []
    for name in list(mb) + [n for n in ma if n not in mb]:
        b = mb.get(name, {}).get("value", 0.0)
        a = ma.get(name, {}).get("value", 0.0)
        rel = f"{100.0 * (a - b) / abs(b):+.1f}%" if b else ""
        rows.append((name, b, a, rel))
    return rows


def main(argv: list[str]) -> int:
    if len(argv) != 3 or argv[0] != "diff":
        print(__doc__, file=sys.stderr)
        return 2
    for name, b, a, rel in diff(_last_json(argv[1]), _last_json(argv[2])):
        print(f"{name:40s} {b:14.4f} {a:14.4f} {rel:>8s}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
