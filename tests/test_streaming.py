"""Streaming tests: incremental prepare ingest, watermarked rollup,
stateful sessionization — all run with real micro-batches on temp dirs."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dotnetvectorsearch_spark.embeddings import DeterministicEmbedder
from dotnetvectorsearch_spark.streaming.ingest import (
    enrich_stream,
    hourly_rollup,
    session_rollup,
    sliding_rollup,
    stream_dedup,
    stream_index_append,
    stream_prepare,
    stream_sessionize,
)

CSV1 = 'id,question,answer\n1,"q one","a one"\n2,"q two","a two"\n'
CSV2 = 'id,question,answer\n3,"q three","a three"\n'


def _wait(predicate, timeout=60, step=0.5):
    deadline = time.time() + timeout
    while time.time() < deadline:
        if predicate():
            return True
        time.sleep(step)
    return False


def test_stream_prepare_incremental(spark, tmp_path):
    ind = tmp_path / "in"
    ind.mkdir()
    out = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    (ind / "a.csv").write_text(CSV1)
    q = stream_prepare(spark, str(ind), out, ckpt,
                       DeterministicEmbedder(dim=8))
    try:
        assert _wait(lambda: _count_parquet(spark, out) == 2)
        # second drop processed exactly once, appended
        (ind / "b.csv").write_text(CSV2)
        assert _wait(lambda: _count_parquet(spark, out) == 3)
    finally:
        q.stop()
    docs = spark.read.parquet(out)
    assert set(docs.columns) == {"id", "question", "answer", "combined_text",
                                 "embedding", "embedding_dimensions",
                                 "created_at"}


def _count_parquet(spark, path) -> int:
    try:
        return spark.read.parquet(path).count()
    except Exception:  # noqa: BLE001 - sink not created yet
        return -1


def test_hourly_rollup_streaming(spark, tmp_path):
    rows = [
        Row(ts="2024-01-01 10:05:00", event_type="click", value=1.0),
        Row(ts="2024-01-01 10:55:00", event_type="click", value=2.0),
        Row(ts="2024-01-01 11:05:00", event_type="view", value=3.0),
    ]
    src = tmp_path / "events"
    src.mkdir()
    spark.createDataFrame(rows).withColumn(
        "ts", F.col("ts").cast("timestamp")).write.mode("overwrite") \
        .parquet(str(src / "batch1"))
    stream = (spark.readStream
              .schema("ts timestamp, event_type string, value double")
              .parquet(str(src / "*")))
    q = (hourly_rollup(stream).writeStream.format("memory")
         .queryName("rollup_test").outputMode("complete").start())
    try:
        assert _wait(lambda: spark.sql(
            "SELECT * FROM rollup_test").count() >= 2)
        got = {(r.hour_start.hour, r.event_type): (r.n_events, r.sum_value)
               for r in spark.sql("SELECT * FROM rollup_test").collect()}
        assert got[(10, "click")] == (2, 3.0)
        assert got[(11, "view")] == (1, 3.0)
    finally:
        q.stop()


def test_stream_sessionize(spark, tmp_path):
    # two sessions for user 1 (gap > 30 min), one for user 2
    rows = [
        Row(user_id=1, ts="2024-01-01 10:00:00"),
        Row(user_id=1, ts="2024-01-01 10:10:00"),
        Row(user_id=1, ts="2024-01-01 12:00:00"),
        Row(user_id=2, ts="2024-01-01 09:00:00"),
    ]
    src = tmp_path / "sess"
    src.mkdir()
    spark.createDataFrame(rows).withColumn(
        "ts", F.col("ts").cast("timestamp")).write.mode("overwrite") \
        .parquet(str(src / "b1"))
    stream = (spark.readStream.schema("user_id long, ts timestamp")
              .parquet(str(src / "*")))
    q = (stream_sessionize(stream).writeStream.format("memory")
         .queryName("sess_test").outputMode("append").start())
    try:
        # the first (closed) session of user 1 is emitted once batch 1 lands
        assert _wait(lambda: spark.sql("SELECT * FROM sess_test").count() >= 1)
        rows_out = spark.sql("SELECT * FROM sess_test").collect()
        first = [r for r in rows_out if r.user_id == 1]
        assert first and first[0].n_events == 2
    finally:
        q.stop()


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Duplicate text arriving within the watermark horizon is dropped;
    distinct text passes through. Whitespace/case variants hash to the
    same fingerprint (normalized-text dedup, not byte equality)."""
    rows = [
        Row(doc_id=1, text="Hello World", created_at="2024-01-01 10:00:00"),
        Row(doc_id=2, text="  hello   world ", created_at="2024-01-01 10:05:00"),
        Row(doc_id=3, text="something else", created_at="2024-01-01 10:06:00"),
    ]
    src = tmp_path / "dedup"
    src.mkdir()
    spark.createDataFrame(rows).withColumn(
        "created_at", F.col("created_at").cast("timestamp")) \
        .write.mode("overwrite").parquet(str(src / "b1"))
    stream = (spark.readStream
              .schema("doc_id long, text string, created_at timestamp")
              .parquet(str(src / "*")))
    q = (stream_dedup(stream).writeStream.format("memory")
         .queryName("dedup_test").outputMode("append").start())
    try:
        assert _wait(lambda: spark.sql("SELECT * FROM dedup_test").count() >= 2)
        time.sleep(2)  # allow a further (empty) micro-batch to surface extras
        out = spark.sql("SELECT * FROM dedup_test").collect()
    finally:
        q.stop()
    assert len(out) == 2
    texts = {r.text for r in out}
    assert "something else" in texts
    assert len([t for t in texts if "ello" in t.lower()]) == 1
    assert set(out[0].asDict()) == {"doc_id", "text", "created_at"}


def test_hourly_rollup_stream_matches_batch(spark, tmp_path):
    """Batch/stream twin parity: the streaming rollup over one micro-batch
    must equal the same aggregation run as a plain batch query."""
    rows = [
        Row(ts="2024-01-01 10:05:00", event_type="click", value=1.5),
        Row(ts="2024-01-01 10:45:00", event_type="click", value=2.5),
        Row(ts="2024-01-01 10:50:00", event_type="view", value=1.0),
        Row(ts="2024-01-01 12:10:00", event_type="view", value=4.0),
    ]
    df = spark.createDataFrame(rows).withColumn(
        "ts", F.col("ts").cast("timestamp"))
    src = tmp_path / "parity"
    src.mkdir()
    df.write.mode("overwrite").parquet(str(src / "b1"))

    batch = {(r.hour_start, r.event_type): (r.n_events, r.sum_value)
             for r in hourly_rollup(df).collect()}

    stream = (spark.readStream
              .schema("ts timestamp, event_type string, value double")
              .parquet(str(src / "*")))
    q = (hourly_rollup(stream).writeStream.format("memory")
         .queryName("parity_test").outputMode("complete").start())
    try:
        assert _wait(lambda: spark.sql(
            "SELECT * FROM parity_test").count() >= len(batch))
        streamed = {(r.hour_start, r.event_type): (r.n_events, r.sum_value)
                    for r in spark.sql("SELECT * FROM parity_test").collect()}
    finally:
        q.stop()
    assert streamed == batch


def test_session_rollup_boundary_and_stream_parity(spark, tmp_path):
    """session_window semantics: an event at exactly the 30-min gap still
    MERGES (closed-interval overlap); only strictly larger gaps split.
    Streaming run over one micro-batch must equal the batch run."""
    rows = [
        Row(user_id=1, ts="2024-01-01 10:00:00"),
        Row(user_id=1, ts="2024-01-01 10:29:59"),   # merges (gap < 30m)
        Row(user_id=1, ts="2024-01-01 10:59:59"),   # merges (gap < 30m)
        Row(user_id=2, ts="2024-01-01 10:00:00"),
        Row(user_id=2, ts="2024-01-01 10:30:00"),   # exactly 30m -> merges
        Row(user_id=2, ts="2024-01-01 11:00:01"),   # 30m1s -> new session
    ]
    df = spark.createDataFrame(rows).withColumn(
        "ts", F.col("ts").cast("timestamp"))
    batch = {(r.user_id, r.session_start, r.session_end): r.n_events
             for r in session_rollup(df).collect()}
    by_user = {}
    for (uid, _s, _e), n in batch.items():
        by_user.setdefault(uid, []).append(n)
    assert sorted(by_user[1]) == [3]
    assert sorted(by_user[2]) == [1, 2]

    src = tmp_path / "sessw"
    src.mkdir()
    df.write.mode("overwrite").parquet(str(src / "b1"))
    stream = (spark.readStream.schema("user_id long, ts timestamp")
              .parquet(str(src / "*")))
    q = (session_rollup(stream).writeStream.format("memory")
         .queryName("sessw_test").outputMode("complete").start())
    try:
        assert _wait(lambda: spark.sql(
            "SELECT * FROM sessw_test").count() >= len(batch))
        streamed = {(r.user_id, r.session_start, r.session_end): r.n_events
                    for r in spark.sql("SELECT * FROM sessw_test").collect()}
    finally:
        q.stop()
    assert streamed == batch


def test_sliding_rollup_two_windows_per_event(spark):
    """1h/30m sliding windows: every event is counted in exactly 2 windows."""
    rows = [
        Row(ts="2024-01-01 10:05:00", event_type="click", value=1.0),
        Row(ts="2024-01-01 10:40:00", event_type="click", value=2.0),
    ]
    df = spark.createDataFrame(rows).withColumn(
        "ts", F.col("ts").cast("timestamp"))
    out = sliding_rollup(df).collect()
    assert sum(r.n_events for r in out) == 2 * len(rows)
    # the 10:00 window sees both events; 09:30 only the first
    by_start = {r.window_start.strftime("%H:%M"): r.n_events for r in out}
    assert by_start["10:00"] == 2
    assert by_start["09:30"] == 1
    assert by_start["10:30"] == 1


def test_enrich_stream_static_broadcast_join(spark, tmp_path):
    """Stream-static enrichment: streamed events pick up dim columns via
    a broadcast join, left rows without a match keep null dims."""
    dim = spark.createDataFrame(
        [Row(user_id=1, segment="gold"), Row(user_id=2, segment="silver")])
    rows = [
        Row(user_id=1, ts="2024-01-01 10:00:00", value=5.0),
        Row(user_id=3, ts="2024-01-01 10:01:00", value=7.0),  # no dim row
    ]
    src = tmp_path / "enrich"
    src.mkdir()
    spark.createDataFrame(rows).withColumn(
        "ts", F.col("ts").cast("timestamp")).write.mode("overwrite") \
        .parquet(str(src / "b1"))
    stream = (spark.readStream
              .schema("user_id long, ts timestamp, value double")
              .parquet(str(src / "*")))
    q = (enrich_stream(stream, dim, on="user_id").writeStream
         .format("memory").queryName("enrich_test")
         .outputMode("append").start())
    try:
        assert _wait(lambda: spark.sql(
            "SELECT * FROM enrich_test").count() >= 2)
        out = {r.user_id: r.segment
               for r in spark.sql("SELECT * FROM enrich_test").collect()}
    finally:
        q.stop()
    assert out == {1: "gold", 3: None}


def test_stream_index_append_searchable(spark, sf_dir, tmp_path):
    """Vectors streamed into the IVF index become searchable with the
    same partition-pruned probe path; a second drop is appended (not
    rewritten) and is found too."""
    from dotnetvectorsearch_spark.operators.ann import IVFIndex
    from dotnetvectorsearch_spark.sources.io import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding")
    idx = IVFIndex(n_cells=4, nprobe=4).fit(emb)
    qvec = list(emb.filter(F.col("vec_id") == 0).collect()[0].embedding)

    src = tmp_path / "vecs"
    src.mkdir()
    index_path = str(tmp_path / "ivf_index")
    first = emb.filter(F.col("vec_id") < 50)
    second = emb.filter((F.col("vec_id") >= 50) & (F.col("vec_id") < 100))
    first.write.parquet(str(src / "b1"))

    stream = (spark.readStream
              .schema("vec_id long, embedding array<float>")
              .option("maxFilesPerTrigger", 1)
              .parquet(str(src / "*")))
    q = stream_index_append(stream, idx, index_path,
                            str(tmp_path / "ckpt"))
    try:
        assert _wait(lambda: _count_parquet(spark, index_path) == 50)
        second.write.parquet(str(src / "b2"))
        assert _wait(lambda: _count_parquet(spark, index_path) == 100)
    finally:
        q.stop()

    indexed = spark.read.parquet(index_path)
    assert set(indexed.columns) == {"vec_id", "embedding", "cell"}
    res = idx.search(indexed, qvec, 5)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan  # probes prune at the scan
    got = [r.vec_id for r in res.collect()]
    assert got[0] == 0 and len(got) == 5


def test_stream_prepare_exactly_once_restart(spark, tmp_path):
    """Exactly-once across restarts: stopping the ingest stream and
    restarting with the SAME checkpoint must not re-embed or re-append
    files already processed."""
    from dotnetvectorsearch_spark.embeddings import DeterministicEmbedder
    ind = tmp_path / "in"
    ind.mkdir()
    out, ckpt = str(tmp_path / "corpus"), str(tmp_path / "ckpt")
    (ind / "a.csv").write_text(CSV1)
    q = stream_prepare(spark, str(ind), out, ckpt, DeterministicEmbedder(dim=8))
    try:
        assert _wait(lambda: _count_parquet(spark, out) == 2)
    finally:
        q.stop()
    # restart with the same checkpoint; drop one new file
    (ind / "b.csv").write_text(CSV2)
    q2 = stream_prepare(spark, str(ind), out, ckpt,
                        DeterministicEmbedder(dim=8))
    try:
        assert _wait(lambda: _count_parquet(spark, out) == 3)
        import time as _t
        _t.sleep(2)  # allow any (wrong) duplicate batch to surface
        assert _count_parquet(spark, out) == 3
    finally:
        q2.stop()
    ids = sorted(r.id for r in spark.read.parquet(out).collect())
    assert ids == [1, 2, 3]


def test_stream_interval_join_stream_and_batch_parity(spark, tmp_path):
    from dotnetvectorsearch_spark.streaming.ingest import stream_interval_join

    clicks = [Row(click_id=1, user_id=10, click_t="2024-01-01 10:00:00"),
              Row(click_id=2, user_id=20, click_t="2024-01-01 10:00:00")]
    purchases = [
        Row(purchase_id=101, p_user=10, purchase_t="2024-01-01 10:10:00"),
        Row(purchase_id=102, p_user=10, purchase_t="2024-01-01 11:00:00"),
        Row(purchase_id=103, p_user=20, purchase_t="2024-01-01 10:30:00"),
    ]
    cdir, pdir = tmp_path / "clicks", tmp_path / "purchases"
    cdir.mkdir(); pdir.mkdir()
    cdf = spark.createDataFrame(clicks).withColumn(
        "click_t", F.col("click_t").cast("timestamp"))
    pdf = (spark.createDataFrame(purchases)
           .withColumnRenamed("p_user", "user_id")
           .withColumn("purchase_t", F.col("purchase_t").cast("timestamp")))
    cdf.write.mode("overwrite").parquet(str(cdir / "b1"))
    pdf.write.mode("overwrite").parquet(str(pdir / "b1"))

    # 101 inside the window, 103 exactly on the inclusive 30-min edge,
    # 102 past it.
    expected = {(1, 101), (2, 103)}

    batch = stream_interval_join(cdf, pdf, "user_id",
                                 "click_t", "purchase_t", "30 minutes")
    assert {(r.click_id, r.purchase_id)
            for r in batch.collect()} == expected

    cs = (spark.readStream
          .schema("click_id long, user_id long, click_t timestamp")
          .parquet(str(cdir / "*")))
    ps = (spark.readStream
          .schema("purchase_id long, user_id long, purchase_t timestamp")
          .parquet(str(pdir / "*")))
    joined = stream_interval_join(cs, ps, "user_id",
                                  "click_t", "purchase_t", "30 minutes")
    q = (joined.writeStream.format("memory")
         .queryName("ssjoin_test").outputMode("append").start())
    try:
        assert _wait(lambda: spark.sql(
            "SELECT * FROM ssjoin_test").count() >= 2)
        got = {(r.click_id, r.purchase_id)
               for r in spark.sql("SELECT * FROM ssjoin_test").collect()}
        assert got == expected
    finally:
        q.stop()


def test_stream_interval_join_left_outer_batch(spark):
    clicks = spark.createDataFrame(
        [(1, 10, "2024-01-01 10:00:00"), (2, 20, "2024-01-01 10:00:00")],
        "click_id long, user_id long, click_t string").withColumn(
        "click_t", F.col("click_t").cast("timestamp"))
    purchases = spark.createDataFrame(
        [(101, 10, "2024-01-01 10:10:00")],
        "purchase_id long, user_id long, purchase_t string").withColumn(
        "purchase_t", F.col("purchase_t").cast("timestamp"))
    from dotnetvectorsearch_spark.streaming.ingest import stream_interval_join
    out = stream_interval_join(clicks, purchases, "user_id",
                               "click_t", "purchase_t", "30 minutes",
                               how="left_outer")
    got = {(r.click_id, r.purchase_id) for r in out.collect()}
    assert got == {(1, 101), (2, None)}   # click 2: no purchase in window


def test_stream_upsert_partitioned_overwrites_slice(spark, tmp_path):
    from dotnetvectorsearch_spark.streaming.ingest import (
        stream_upsert_partitioned)
    src = tmp_path / "in"
    src.mkdir()
    out = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(1, "d1", "a"), (2, "d2", "b")],
        "id long, day string, payload string"
    ).write.parquet(str(src / "b1"))
    stream = (spark.readStream
              .schema("id long, day string, payload string")
              .parquet(str(src / "*")))
    q = stream_upsert_partitioned(stream, out, "day", ckpt)
    try:
        assert _wait(lambda: _count_parquet(spark, out) == 2)
        # second drop: corrected d2 row — partition d2 replaced, d1 kept
        spark.createDataFrame(
            [(2, "d2", "b-fixed"), (3, "d2", "c")],
            "id long, day string, payload string"
        ).write.parquet(str(src / "b2"))
        assert _wait(lambda: _count_parquet(spark, out) == 3)
    finally:
        q.stop()
    got = {(r.id, str(r.day), r.payload)
           for r in spark.read.parquet(out).collect()}
    assert got == {(1, "d1", "a"), (2, "d2", "b-fixed"), (3, "d2", "c")}


def test_stream_decontaminate_matches_batch(spark, sf_dir, tmp_path):
    """The streaming eval gate must keep EXACTLY the batch
    decontaminate survivor set on the same docs (same thresholds,
    same broadcast kernel)."""
    from dotnetvectorsearch_spark.operators.contamination import decontaminate
    from dotnetvectorsearch_spark.sources.io import load_table
    from dotnetvectorsearch_spark.streaming.ingest import (
        stream_decontaminate)

    docs = load_table(spark, sf_dir, "documents")
    src_num = F.regexp_extract("source", r"(\d+)", 1).cast("int")
    train = docs.filter(src_num % 2 == 0).select("doc_id", "text")
    eval_docs = docs.filter(src_num % 2 == 1).select("doc_id", "text")
    src = tmp_path / "decon_src"
    train.coalesce(2).write.mode("overwrite").parquet(str(src))

    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    q = (stream_decontaminate(stream, eval_docs, min_overlap=0.2)
         .writeStream.format("memory").queryName("decon_test")
         .outputMode("append").start())
    try:
        assert _wait(lambda: spark.sql(
            "SELECT * FROM decon_test").count() >= 1)
        time.sleep(2)
        got = {r.doc_id for r in
               spark.sql("SELECT doc_id FROM decon_test").collect()}
    finally:
        q.stop()
    want = {r.doc_id for r in
            decontaminate(train, eval_docs,
                          min_overlap=0.2).select("doc_id").collect()}
    assert got == want


def test_stream_clean_matches_batch_composition(spark, sf_dir, tmp_path):
    """stream_clean's survivors carry exactly the batch pipeline's
    surviving fingerprint set (filters + exact dedup), and every
    survivor passes the stateless predicates."""
    from dotnetvectorsearch_spark.functions.text import (
        fingerprint,
        lang_id,
        quality_score,
    )
    from dotnetvectorsearch_spark.sources.io import load_table
    from dotnetvectorsearch_spark.streaming.ingest import stream_clean

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text",
        F.lit("2024-01-01 10:00:00").cast("timestamp").alias("created_at"))
    src = tmp_path / "clean_src"
    docs.coalesce(1).write.mode("overwrite").parquet(str(src))

    stream = (spark.readStream
              .schema("doc_id long, text string, created_at timestamp")
              .parquet(str(src)))
    q = (stream_clean(stream).writeStream.format("memory")
         .queryName("clean_test").outputMode("append").start())
    try:
        assert _wait(lambda: spark.sql(
            "SELECT * FROM clean_test").count() >= 1)
        time.sleep(2)
        out = spark.sql("SELECT * FROM clean_test")
        got_fps = {r.fp for r in
                   out.select(fingerprint("text").alias("fp")).collect()}
        bad = out.filter((lang_id("text") != "en")
                         | (quality_score("text") < 0.4)).count()
    finally:
        q.stop()
    batch = docs.filter((lang_id("text") == "en")
                        & (quality_score("text") >= 0.4))
    want_fps = {r.fp for r in
                batch.select(fingerprint("text").alias("fp"))
                .distinct().collect()}
    assert got_fps == want_fps          # same surviving content set
    assert len(got_fps) == out.count()  # exactly one survivor per fp
    assert bad == 0                     # filters ran ahead of dedup


def test_stream_rollup_maintenance_matches_from_scratch(spark, tmp_path):
    from dotnetvectorsearch_spark.operators.rollup import (
        rollup_batch, rollup_read)
    from dotnetvectorsearch_spark.streaming.ingest import (
        stream_rollup_maintenance)
    src = tmp_path / "in"
    src.mkdir()
    out = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    b1 = [(1, "A", 10.5), (2, "B", 1.0), (3, "A", 2.25)]
    b2 = [(4, "B", 7.0), (5, "A", 0.125), (6, "C", 3.0)]
    schema = "id long, k string, v double"
    spark.createDataFrame(b1, schema).write.parquet(str(src / "b1"))
    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    q = stream_rollup_maintenance(stream, out, ["k"], "v", ckpt)
    try:
        assert _wait(lambda: _count_parquet(spark, out) == 2)  # A, B
        spark.createDataFrame(b2, schema).write.parquet(str(src / "b2"))
        assert _wait(lambda: _count_parquet(spark, out) == 3)
        q.processAllAvailable()
    finally:
        q.stop()
    full = rollup_read(rollup_batch(
        spark.createDataFrame(b1 + b2, schema), ["k"], "v"))
    got = sorted(map(tuple, rollup_read(
        spark.read.parquet(out)).collect()))
    assert got == sorted(map(tuple, full.collect()))


@pytest.mark.parametrize("sink", ["rollup", "heavy_hitters"])
def test_stream_rollup_recovers_history_after_torn_swap(spark, tmp_path,
                                                        sink):
    """A crash between rename(path, old) and rename(stage, path) leaves
    no directory at `path`; the next micro-batch must restore the
    survivor instead of silently rebuilding from that batch alone.
    Both swap-published sinks share the recovery."""
    import os

    from dotnetvectorsearch_spark.operators.rollup import (
        rollup_batch, rollup_read)
    from dotnetvectorsearch_spark.operators.sketches import (
        mg_partials, mg_top)
    from dotnetvectorsearch_spark.streaming.ingest import (
        stream_heavy_hitters, stream_rollup_maintenance)
    src = tmp_path / "in"
    src.mkdir()
    out = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    schema = "id long, k string, v double"
    b1 = [(1, "A", 10.5), (2, "B", 1.0), (3, "A", 2.25)]
    b2 = [(4, "B", 7.0), (5, "C", 3.0)]
    n_rows = 3 if sink == "rollup" else 4
    if sink == "rollup":
        def summarize(df):
            return rollup_batch(df, ["k"], "v")

        def report(df):
            return rollup_read(df)

        def start(stream):
            return stream_rollup_maintenance(stream, out, ["k"], "v",
                                             ckpt)
    else:
        def summarize(df):
            return mg_partials(df, "k", 8)

        def report(df):
            return mg_top(df)

        def start(stream):
            return stream_heavy_hitters(stream, "k", out, ckpt, k=8)
    # accumulated history on disk, then the torn-swap crash state:
    # `path` renamed away, replacement never swapped in
    summarize(spark.createDataFrame(b1, schema)).write.parquet(out)
    os.rename(out, f"{out}__old-7")
    spark.createDataFrame(b2, schema).write.parquet(str(src / "b2"))
    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    q = start(stream)
    try:
        # A, B, C (+ the summary's slack row)
        assert _wait(lambda: _count_parquet(spark, out) == n_rows)
        q.processAllAvailable()
    finally:
        q.stop()
    full = report(summarize(spark.createDataFrame(b1 + b2, schema)))
    got = sorted(map(tuple, report(spark.read.parquet(out)).collect()))
    assert got == sorted(map(tuple, full.collect()))  # history kept
    assert not os.path.isdir(f"{out}__old-7")         # survivor consumed


@pytest.mark.parametrize("path", ["driver", "distributed"])
def test_stream_neardup_dedup_gates_against_growing_store(
        spark, tmp_path, monkeypatch, path):
    """Batch 1 seeds the store; batch 2's near-dup of a batch-1 doc
    must be dropped while its novel doc passes; within-batch dups
    resolve to the min id. The store holds SIGNATURES only. With the
    shared byte bound at 0 the store sliver is verified by the
    distributed join instead of on the driver, with the same
    survivors and store rows."""
    from dotnetvectorsearch_spark import localdf
    from dotnetvectorsearch_spark.streaming.ingest import (
        stream_neardup_dedup)
    if path == "distributed":
        monkeypatch.setattr(localdf, "DRIVER_BYTES", 0)
    collected = []
    bounded = localdf.collect_bounded

    def spy(df, max_rows, max_bytes):
        table, reason = bounded(df, max_rows, max_bytes)
        collected.append(table is not None)
        return table, reason
    monkeypatch.setattr(localdf, "collect_bounded", spy)
    src = tmp_path / "nd_in"
    src.mkdir()
    out = str(tmp_path / "nd_out")
    store = str(tmp_path / "nd_store")
    ckpt = str(tmp_path / "nd_ckpt")
    base = "the quick brown fox jumps over the lazy dog again and again"
    far = "completely different words describing some other topic entirely"
    other = "spark streams merge sorted batches into compact parquet files"
    schema = "doc_id long, text string"
    # batch 1: 1 and its exact copy 2 (within-batch dup), plus 5
    spark.createDataFrame([(1, base), (2, base), (5, far)], schema) \
        .coalesce(1).write.parquet(str(src / "b1"))
    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    q = stream_neardup_dedup(stream, out, store, ckpt)
    try:
        assert _wait(lambda: _count_parquet(spark, out) == 2)  # 1, 5
        # batch 2: 7 is a copy of batch-1's doc 1 (store hit); 8 is too
        # short to shingle (must pass through, NOT silently drop); 9 novel
        spark.createDataFrame([(7, base), (8, "hi"), (9, other)],
                              schema) \
            .coalesce(1).write.parquet(str(src / "b2"))
        assert _wait(lambda: _count_parquet(spark, out) == 4)
        # batch 3: sig-less docs go through an EXACT-hash gate (advisor
        # r5): 10/11 duplicate short docs within the batch (min id 10
        # survives), 12 repeats batch-2's short doc 8 (store hit), 13
        # is a novel short doc
        spark.createDataFrame(
            [(10, "yo"), (11, "yo"), (12, "hi"), (13, "new")],
            schema).coalesce(1).write.parquet(str(src / "b3"))
        assert _wait(lambda: _count_parquet(spark, out) == 6)
        # batch 4: null-text docs must NOT vanish (advisor r6: md5(NULL)
        # is NULL and a NULL join key never matches — they now hash as
        # ''): 14/15 dup within the batch (min id 14 survives), 16
        # repeats the null in a later batch (store hit)
        spark.createDataFrame([(14, None), (15, None)], schema) \
            .coalesce(1).write.parquet(str(src / "b4"))
        assert _wait(lambda: _count_parquet(spark, out) == 7)
        spark.createDataFrame([(16, None), (17, "solo")], schema) \
            .coalesce(1).write.parquet(str(src / "b5"))
        assert _wait(lambda: _count_parquet(spark, out) == 8)
        q.processAllAvailable()
    finally:
        q.stop()
    kept = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert kept == [1, 5, 8, 9, 10, 13, 14, 17]
    store_cols = spark.read.parquet(store).columns
    assert "text" not in store_cols          # signatures only
    # 8 has no signature, so the store holds only shingle-able docs
    assert sorted(r.doc_id for r in
                  spark.read.parquet(store).select("doc_id").collect()
                  ) == [1, 5, 9]
    # the store gate ran, each time on the path under test
    assert collected and set(collected) == {path == "driver"}


def test_stream_neardup_signatures_match_batch_minhash(spark, tmp_path):
    """The batch twin of the stream's signature store: the h0..h15 rows
    ``stream_neardup_dedup`` stores for its shingle-able survivors equal
    ``minhash_signatures_portable`` over the same docs (a doc too short
    to shingle gets no signature on either side)."""
    from dotnetvectorsearch_spark.operators.neardup import (
        minhash_signatures_portable)
    from dotnetvectorsearch_spark.streaming.ingest import (
        stream_neardup_dedup)
    src = tmp_path / "nd_in"
    src.mkdir()
    store = str(tmp_path / "nd_store")
    schema = "doc_id long, text string"
    docs = spark.createDataFrame([
        (1, "the quick brown fox jumps over the lazy dog again"),
        (2, "spark streams merge sorted batches into compact files"),
        (3, "completely different words describing another topic"),
        (4, "hi")], schema)
    docs.coalesce(1).write.parquet(str(src / "b1"))
    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    q = stream_neardup_dedup(stream, str(tmp_path / "nd_out"), store,
                             str(tmp_path / "nd_ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    cols = ["doc_id"] + [f"h{k}" for k in range(16)]
    got = sorted(map(tuple, spark.read.parquet(store).select(cols)
                     .collect()))
    want = sorted(map(tuple, minhash_signatures_portable(docs)
                      .select(cols).collect()))
    assert got == want and [r[0] for r in want] == [1, 2, 3]


def test_stream_neardup_dedup_survives_torn_bloom_meta(spark, tmp_path):
    """A restart over a torn bloom ``meta.json`` must not reload an
    EMPTY filter (every stored key would probe as a miss, the trigger
    would skip its store read and admit near-dups of history): the
    filter is rebuilt from the band/short stores, so a re-sent copy of
    a first-run doc is still dropped."""
    from dotnetvectorsearch_spark.streaming.ingest import (
        stream_neardup_dedup)
    src = tmp_path / "nd_in"
    src.mkdir()
    out = str(tmp_path / "nd_out")
    store = str(tmp_path / "nd_store")
    ckpt = str(tmp_path / "nd_ckpt")
    base = "the quick brown fox jumps over the lazy dog again and again"
    schema = "doc_id long, text string"
    spark.createDataFrame([(1, base), (2, "hi")], schema) \
        .coalesce(1).write.parquet(str(src / "b1"))
    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    q = stream_neardup_dedup(stream, out, store, ckpt)
    try:
        assert _wait(lambda: _count_parquet(spark, out) == 2)
        q.processAllAvailable()
    finally:
        q.stop()
    meta = tmp_path / "nd_store__bloom" / "meta.json"
    meta.write_text(meta.read_text()[:5])          # torn write
    # 3 is a copy of doc 1, 4 of the short doc 2, 5 is novel
    spark.createDataFrame([(3, base), (4, "hi"), (5, "novel words")],
                          schema) \
        .coalesce(1).write.parquet(str(src / "b2"))
    q = stream_neardup_dedup(stream, out, store, ckpt)
    try:
        assert _wait(lambda: _count_parquet(spark, out) >= 3)
        q.processAllAvailable()
    finally:
        q.stop()
    kept = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert kept == [1, 2, 5]


def test_stream_heavy_hitters_maintains_bounded_summary(spark, tmp_path):
    """Two micro-batches; the stored MG summary must equal the exact
    counts in the exact regime (distinct keys <= k), stay O(k) on disk,
    and NEVER rescan history (per-batch merge of batch partials with
    the <= k+1 stored rows)."""
    from dotnetvectorsearch_spark.operators.sketches import mg_top
    from dotnetvectorsearch_spark.streaming.ingest import (
        stream_heavy_hitters)
    src = tmp_path / "hh_in"
    src.mkdir()
    out = str(tmp_path / "hh_summary")
    ckpt = str(tmp_path / "hh_ckpt")
    b1 = [("x",)] * 5 + [("y",)] * 3
    b2 = [("x",)] * 2 + [("z",)] * 4
    spark.createDataFrame(b1, "v string").write.parquet(str(src / "b1"))
    stream = spark.readStream.schema("v string").parquet(str(src / "*"))
    q = stream_heavy_hitters(stream, "v", out, ckpt, k=8)
    try:
        assert _wait(lambda: _count_parquet(spark, out) >= 3)  # x, y, slack
        spark.createDataFrame(b2, "v string").write.parquet(str(src / "b2"))
        assert _wait(lambda: _count_parquet(spark, out) >= 4)
        q.processAllAvailable()
    finally:
        q.stop()
    summary = spark.read.parquet(out)
    assert summary.count() <= 8 + 1          # O(k) state on disk
    got = {r.key: (r.est_count, r.max_undercount)
           for r in mg_top(summary).collect()}
    assert got == {"x": (7, 0), "y": (3, 0), "z": (4, 0)}


def test_stream_debounce_anchor_carries_across_batches(spark, tmp_path):
    """Streaming debounce must keep the anchor (last KEPT ts) across
    micro-batches and match the batch operator on in-order input."""
    from dotnetvectorsearch_spark.operators.temporal import debounce_events
    from dotnetvectorsearch_spark.streaming.ingest import stream_debounce
    src = tmp_path / "deb_in"
    src.mkdir()
    out_dir = str(tmp_path / "deb_out")
    ckpt = str(tmp_path / "deb_ckpt")
    schema = "user_id long, ts timestamp, event_type string"

    def drop(name, rows):
        spark.createDataFrame(
            rows, "user_id long, ts string, event_type string"
        ).withColumn("ts", F.col("ts").cast("timestamp")) \
            .write.parquet(str(src / name))

    # u1: burst at 10:00:00/:02/:06 -> keep :00 and :06 (anchor, not
    # lag: :06 is 6s after the KEPT :00 even though only 4s after :02).
    # u2: single event.
    b1 = [(1, "2024-01-01 10:00:00", "view"),
          (1, "2024-01-01 10:00:02", "view"),
          (1, "2024-01-01 10:00:06", "view"),
          (2, "2024-01-01 10:00:00", "click")]
    # batch 2: u1 at :08 (2s after kept :06 -> dropped; state crossed
    # the micro-batch boundary) and :30 (kept); u2 at :03 -> dropped.
    b2 = [(1, "2024-01-01 10:00:08", "view"),
          (1, "2024-01-01 10:00:30", "view"),
          (2, "2024-01-01 10:00:03", "click")]
    drop("b1", b1)
    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    q = (stream_debounce(stream, min_gap_sec=5)
         .writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", ckpt).outputMode("append")
         .start())
    try:
        assert _wait(lambda: _count_parquet(spark, out_dir) == 3)
        drop("b2", b2)
        assert _wait(lambda: _count_parquet(spark, out_dir) == 4)
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted((r.user_id, str(r.ts))
                 for r in spark.read.parquet(out_dir).collect())
    # batch twin on the full in-order input agrees
    batch_in = spark.createDataFrame(
        b1 + b2, "user_id long, ts string, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    want = sorted((r.user_id, str(r.ts)) for r in debounce_events(
        batch_in, ["user_id"], min_gap_sec=5).collect())
    assert got == want
    assert got == [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:00:06"),
                   (1, "2024-01-01 10:00:30"), (2, "2024-01-01 10:00:00")]


def test_stream_funnel_emits_step_completions_across_batches(
        spark, tmp_path):
    from dotnetvectorsearch_spark.streaming.ingest import stream_funnel
    src = tmp_path / "funnel_in"
    src.mkdir()
    out_dir = str(tmp_path / "funnel_out")
    ckpt = str(tmp_path / "funnel_ckpt")
    schema = "user_id long, ts timestamp, event_type string"

    def drop(name, rows):
        spark.createDataFrame(
            rows, "user_id long, ts string, event_type string"
        ).withColumn("ts", F.col("ts").cast("timestamp")) \
            .write.parquet(str(src / name))

    # batch 1: u1 views+clicks; u2 clicks only (no view -> no progress)
    drop("b1", [(1, "2024-01-01 10:00:00", "view"),
                (1, "2024-01-01 10:05:00", "click"),
                (2, "2024-01-01 10:00:00", "click")])
    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    q = (stream_funnel(stream).writeStream.format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", ckpt).outputMode("append")
         .start())
    try:
        assert _wait(lambda: _count_parquet(spark, out_dir) == 2)
        # batch 2: u1 purchases (step 3, state carried across batches);
        # u2 views (step 1 — the earlier click must NOT count later)
        drop("b2", [(1, "2024-01-01 10:30:00", "purchase"),
                    (2, "2024-01-01 11:00:00", "view")])
        assert _wait(lambda: _count_parquet(spark, out_dir) == 4)
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted((r.user_id, r.step, r.event_type)
                 for r in spark.read.parquet(out_dir).collect())
    assert got == [(1, 1, "view"), (1, 2, "click"), (1, 3, "purchase"),
                   (2, 1, "view")]


def test_stream_index_append_resumes_from_persisted_index(
        spark, sf_dir, tmp_path):
    """index=None must resume from the PERSISTED index (the ann_store
    integration: an ingest job holds only the index directory), assign
    cells identically to the batch transform over the same rows, and
    make the serve path see the new vectors with no rebuild — the
    build-once/serve-many contract extended to ingest-many."""
    from dotnetvectorsearch_spark.operators.ann import IVFIndex
    from dotnetvectorsearch_spark.streaming.ingest import (
        stream_index_append)
    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .select("vec_id", "embedding"))
    seed = emb.filter("vec_id % 2 = 0")
    ivf = IVFIndex(n_cells=8, nprobe=8).fit(seed)
    index_path = str(tmp_path / "ivf_idx")
    ivf.write(seed, index_path)
    # stream the other half in 2 micro-batches
    src = tmp_path / "ann_in"
    src.mkdir()
    emb.filter("vec_id % 4 = 1").write.parquet(str(src / "b1"))
    stream = (spark.readStream
              .schema("vec_id long, embedding array<float>")
              .parquet(str(src / "*")))
    q = stream_index_append(stream, None, index_path,
                            str(tmp_path / "ck"))
    try:
        q.processAllAvailable()
        emb.filter("vec_id % 4 = 3").write.parquet(str(src / "b2"))
        q.processAllAvailable()
    finally:
        q.stop()
    idx2, rows = IVFIndex.read(spark, index_path)
    assert rows.count() == emb.count()        # all vectors present
    # cell assignments equal the batch transform (same centroids)
    got = {(r.vec_id, r.cell) for r in rows.select("vec_id", "cell")
           .collect()}
    want = {(r.vec_id, r.cell) for r in
            ivf.transform(emb).select("vec_id", "cell").collect()}
    assert got == want
    # serve sees a streamed vector: full-probe search for vec 1's own
    # vector must return vec 1 at rank 1
    qv = list(emb.filter("vec_id = 1").collect()[0].embedding)
    top = idx2.search(rows, qv, k=1).collect()
    assert top[0].vec_id == 1
