"""Tests of the benchmark's own helpers. They need no Spark:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(BENCH))

import census  # noqa: E402
import gen  # noqa: E402
import measure  # noqa: E402

FIXTURE = BENCH / "tests" / "fixtures" / "eventlog.jsonl"


def _digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj).encode()).hexdigest()


# ------------------------------------------------------------- generator

def test_serve_inputs_are_byte_identical_per_seed():
    a = gen.serve_inputs(7, 200, 50)
    b = gen.serve_inputs(7, 200, 50)
    assert _digest([a.corpus, a.requests]) == _digest([b.corpus, b.requests])
    c = gen.serve_inputs(8, 200, 50)
    assert _digest(a.corpus) != _digest(c.corpus)


def test_serve_mix_holds_in_every_block_of_ten():
    reqs = gen.serve_inputs(3, 100, 40).requests
    for i in range(0, 40, 10):
        kinds = [k for k, _ in reqs[i:i + 10]]
        assert {k: kinds.count(k) for k in kinds} == dict(gen.SERVE_MIX)
    batch = next(p for k, p in reqs if k == "embed_batch")
    assert len(batch) == gen.EMBED_BATCH


def test_ingest_batches_are_byte_identical_per_seed():
    v = gen.Vocab()
    base = gen.ingest_base(5, 100, v)
    held = gen.heldout_split(5, 10, v)
    one = [gen.ingest_batch(5, b, 200, base, held, v).rows for b in range(3)]
    two = [gen.ingest_batch(5, b, 200, base, held, v).rows for b in range(3)]
    assert _digest(one) == _digest(two)
    other = gen.ingest_batch(6, 0, 200, base, held, v).rows
    assert _digest(one[0]) != _digest(other)


def test_ingest_batch_plants_its_duplicates():
    v = gen.Vocab()
    base = gen.ingest_base(1, 100, v)
    held = gen.heldout_split(1, 10, v)
    batch = gen.ingest_batch(1, 2, 400, base, held, v)
    assert len(batch.rows) == 400
    ids = [i for i, _, _ in batch.rows]
    assert len(set(ids)) == len(ids)
    # ids of different batches never collide
    other = gen.ingest_batch(1, 3, 400, base, held, v)
    assert not set(ids) & {i for i, _, _ in other.rows}
    norm = [gen.normalized(t) for t in batch.text().values()]
    base_norm = {gen.normalized(gen.combined(q, a)) for _, q, a in base}
    # exact variants fold onto an earlier row; re-sent rows hit the corpus
    assert len(norm) - len(set(norm)) >= round(gen.EXACT_DUP_FRAC * 400)
    assert sum(n in base_norm for n in norm) >= round(gen.RESENT_FRAC * 400)
    assert len(batch.near_pairs) == round(gen.NEAR_DUP_FRAC * 400)
    text = batch.text()
    for doc in batch.contaminated:
        assert any(h in text[doc] for _, h in held)


def test_words_follow_a_zipf_head_and_doc_lengths_stay_in_range():
    import random
    v = gen.Vocab()
    rng = random.Random(0)
    docs = [v.doc(rng).split(" ") for _ in range(300)]
    assert all(gen.MIN_WORDS <= len(d) <= gen.MAX_WORDS for d in docs)
    words = [w for d in docs for w in d]
    assert words.count("the") > words.count(v.words[100]) * 10


# ----------------------------------------------------- percentile rule

def test_min_samples_leave_ten_beyond_the_percentile():
    assert measure.min_samples(0.5) == 20
    assert measure.min_samples(0.9) == 100
    assert measure.min_samples(0.99) == 1000


def test_percentile_needs_its_sample_count():
    assert measure.percentile(list(range(19)), 0.5) is None
    assert measure.percentile(list(range(1, 21)), 0.5) == 10
    assert measure.percentile(list(range(99)), 0.9) is None
    assert measure.percentile(list(range(1, 101)), 0.9) == 90


def test_median():
    assert measure.median([3.0, 1.0, 2.0]) == 2.0
    assert measure.median([4.0, 1.0, 2.0, 3.0]) == 2.5


def test_steal_pct():
    assert measure.steal_pct((10, 1000), (20, 2000)) == pytest.approx(1.0)
    assert measure.steal_pct(None, (1, 2)) is None


# --------------------------------------------------------- event log

@pytest.fixture(scope="module")
def recorded():
    """An event log recorded from a local[2] run with two job groups (a
    groupBy collect, then a nested parquet write), trimmed to the events
    the census reads, with the spans that opened them on its first line."""
    with open(FIXTURE) as f:
        lines = f.read().splitlines()
    spans = json.loads(lines[0])["spans"]
    return spans, census.read_event_log(lines[1:])


def test_event_log_jobs_are_grouped(recorded):
    _, c = recorded
    groups = {j.group for j in c.jobs.values()}
    assert {"pb-0", "pb-1"} <= groups
    assert c.groups["pb-0"].jobs == sum(j.group == "pb-0"
                                        for j in c.jobs.values())
    assert all(j.ok and j.end_ms >= j.start_ms for j in c.jobs.values())


def test_event_log_task_figures(recorded):
    _, c = recorded
    shuffled = c.groups["pb-0"]
    assert shuffled.tasks > 0 and shuffled.stages >= 2
    assert shuffled.shuffle_records > 0 and shuffled.shuffle_write_bytes > 0
    assert shuffled.run_ms > 0 and shuffled.failed_tasks == 0
    written = c.groups["pb-1"]
    assert written.output_bytes > 0 and written.write_task_ms > 0


def test_callsite_is_recorded(recorded):
    _, c = recorded
    sites = [j.callsite for j in c.jobs.values() if j.group == "pb-0"]
    assert any(s and s.startswith("collect at ") for s in sites)


def test_span_view_inclusive_stats_and_gaps(recorded):
    spans, c = recorded
    v = census.SpanView(spans, c)
    outer, inner = 0, 1
    assert v.stats(outer).jobs == c.groups["pb-0"].jobs + c.groups["pb-1"].jobs
    assert 0 <= v.driver_gap_ms(outer) <= v.duration_ms(outer)
    assert v.self_ms(outer) == pytest.approx(
        v.duration_ms(outer) - v.duration_ms(inner))


def test_layer_metrics_cover_every_per_layer_name(recorded):
    spans, c = recorded
    out = census.layer_metrics(spans, c, {"session.start_s": 1.5})
    assert set(out) == {n for n, _ in census.PER_LAYER}
    assert out["session.start_s"] == 1.5
    assert out["spark.jobs"] == c.groups["pb-0"].jobs + c.groups["pb-1"].jobs
    assert out["dedup.exact_s"] > 0


def test_union_of_intervals():
    assert census._union_ms([(0, 2), (1, 3), (5, 6)]) == 4
    assert census._union_ms([]) == 0


def test_topk_collect_line_finds_the_search_collect():
    src = "a = 1\n        hits = hits_df.collect()\n"
    assert census.topk_collect_line(src) == 2


def test_diff_reports_relative_change():
    a = {"metrics": {"x": {"value": 2.0, "unit": "s"}}}
    b = {"metrics": {"x": {"value": 3.0, "unit": "s"},
                     "y": {"value": 1.0, "unit": "s"}}}
    assert census.diff(a, b) == [("x", 2.0, 3.0, "+50.0%"),
                                 ("y", 0.0, 1.0, "")]


# ------------------------------------------------------ BENCHMARK.json

def test_benchmark_json_matches_the_metrics_the_runner_prints():
    import run
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] \
        == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] \
        == census.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOAD_NAMES)
