"""Prepare-pipeline + IO + embedder tests (reference §3.2 parity)."""

from __future__ import annotations

import math
from pathlib import Path

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dotnetvectorsearch_spark.embeddings import DeterministicEmbedder
from dotnetvectorsearch_spark.pipeline.prepare import (
    prepare_documents,
    run_prepare,
)
from dotnetvectorsearch_spark.sources.io import (
    embedding_from_json,
    embedding_to_json,
    read_documents_csv,
    read_sqlite_compat,
    write_sqlite_compat,
)

CSV = """id,question,answer
1,"How do I cancel my hotel booking?","Log into your account."
2,"What is the check-in time?","Check-in is at 3 PM, usually."
badrow
3,"Can I get a refund, please?","Yes, within 24 hours."
"""


@pytest.fixture(scope="module")
def csv_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("csv") / "dataset.csv"
    p.write_text(CSV)
    return str(p)


def test_csv_read_drops_malformed(spark, csv_path):
    df = read_documents_csv(spark, csv_path)
    rows = df.orderBy("id").collect()
    # 'badrow' silently dropped — reference Prepare/Program.cs:46 semantics
    assert [r.id for r in rows] == [1, 2, 3]
    assert rows[2].question == "Can I get a refund, please?"


def test_csv_malformed_and_quote_semantics(spark, tmp_path):
    """End-to-end pin of the reference CSV policy
    (Prepare/Program.cs:43-50,135-160): rows with <3 fields are silently
    dropped, quoted fields keep embedded commas, and RFC-4180 escaped
    quotes ("" inside a quoted field) decode to a literal quote — a
    deliberate superset: the reference's hand-rolled parser toggles on
    every '"' and would mangle that row, univocity parses it."""
    csv = (
        'id,question,answer\n'
        '1,"plain question","plain answer"\n'
        'onlyonefield\n'
        'two,fields\n'
        '2,"has, commas, inside","and ""escaped"" quotes"\n'
        'notanint,"q","a"\n'
        '3,"ok","ok"\n'
    )
    p = tmp_path / "malformed.csv"
    p.write_text(csv)
    rows = read_documents_csv(spark, str(p)).orderBy("id").collect()
    assert [r.id for r in rows] == [1, 2, 3]
    assert rows[1].question == "has, commas, inside"
    assert rows[1].answer == 'and "escaped" quotes'


def test_prepare_documents_schema_and_content(spark, csv_path):
    raw = read_documents_csv(spark, csv_path)
    docs = prepare_documents(raw, DeterministicEmbedder(dim=16))
    rows = docs.orderBy("id").collect()
    assert docs.columns == ["id", "question", "answer", "combined_text",
                            "embedding", "embedding_dimensions", "created_at"]
    assert rows[0].combined_text == \
        "How do I cancel my hotel booking? : Log into your account."
    assert rows[0].embedding_dimensions == 16
    n = math.sqrt(sum(x * x for x in rows[0].embedding))
    assert n == pytest.approx(1.0, abs=1e-6)


def test_sqlite_compat_sink_matches_reference_store(spark, csv_path,
                                                    tmp_path):
    """S5 parity: the SQLite export must be byte-compatible with the
    store the reference WebAPI reads (Prepare/Program.cs:78-133) —
    same table, same indexes, JSON-TEXT vectors — and round-trip back
    through read_sqlite_compat."""
    import json
    import sqlite3

    docs = prepare_documents(read_documents_csv(spark, csv_path),
                             DeterministicEmbedder(dim=16))
    db = str(tmp_path / "vectors.db")
    n = write_sqlite_compat(docs, db)
    assert n == 3

    con = sqlite3.connect(db)
    cols = [r[1] for r in con.execute("PRAGMA table_info(documents)")]
    assert cols == ["id", "question", "answer", "combined_text",
                    "embedding", "embedding_dimensions", "created_at"]
    idx = {r[0] for r in con.execute(
        "SELECT name FROM sqlite_master WHERE type='index'")}
    assert {"idx_documents_id", "idx_documents_created_at",
            "idx_documents_question"} <= idx
    emb_txt, dims = con.execute(
        "SELECT embedding, embedding_dimensions FROM documents "
        "WHERE id = 1").fetchone()
    assert len(json.loads(emb_txt)) == dims == 16
    con.close()

    # delete-and-recreate policy: a second write replaces, not appends
    assert write_sqlite_compat(docs, db) == 3

    back = read_sqlite_compat(spark, db).orderBy("id").collect()
    orig = docs.orderBy("id").collect()
    assert [r.id for r in back] == [r.id for r in orig]
    for b, o in zip(back, orig):
        assert b.embedding == pytest.approx(list(o.embedding), abs=1e-6)


def test_run_prepare_end_to_end(spark, csv_path, tmp_path):
    out = str(tmp_path / "corpus")
    run_prepare(spark, csv_path, out, DeterministicEmbedder(dim=16))
    docs = spark.read.parquet(out)
    assert docs.count() == 3
    # overwrite == delete-and-recreate
    run_prepare(spark, csv_path, out, DeterministicEmbedder(dim=16))
    assert spark.read.parquet(out).count() == 3


def test_deterministic_embedder_is_deterministic(spark):
    df = spark.createDataFrame([Row(t="hello"), Row(t="hello"), Row(t="world")])
    e = DeterministicEmbedder(dim=32)
    out = df.withColumn("v", e.embed_column("t")).collect()
    assert list(out[0].v) == list(out[1].v)
    assert list(out[0].v) != list(out[2].v)


def test_embedder_prefix_sensitivity(spark):
    """Asymmetric E5 prefixes must change the vector."""
    df = spark.createDataFrame([Row(t="hello")])
    e = DeterministicEmbedder(dim=32)
    r = df.select(e.embed_column("t", kind="query").alias("q"),
                  e.embed_column("t", kind="passage").alias("p")).collect()[0]
    assert list(r.q) != list(r.p)


def test_json_codec_roundtrip(spark):
    df = spark.createDataFrame([Row(v=[0.1, -2.5, 3.25])], "v array<float>")
    enc = embedding_to_json(df, "v", "j")
    dec = embedding_from_json(enc, "j", "v2")
    r = dec.collect()[0]
    assert list(r.v2) == pytest.approx(list(r.v))
    # null JSON -> empty array (reference ?? Array.Empty<float>())
    nul = spark.createDataFrame([Row(j=None)], "j string")
    assert list(embedding_from_json(nul, "j", "v").collect()[0].v) == []


def test_jsonl_roundtrip_and_malformed_drop(spark, tmp_path):
    from dotnetvectorsearch_spark.sources.io import (
        read_documents_jsonl, write_jsonl)

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.jsonl").write_text(
        '{"doc_id": 1, "text": "hello world"}\n'
        'NOT JSON AT ALL\n'
        '{"doc_id": 2, "text": "second doc"}\n')
    df = read_documents_jsonl(spark, str(src),
                              schema="doc_id long, text string")
    rows = {r.doc_id: r.text for r in df.collect()}
    assert rows == {1: "hello world", 2: "second doc"}

    out = str(tmp_path / "out")
    write_jsonl(df, out, target_partitions=2)
    back = read_documents_jsonl(spark, out,
                                schema="doc_id long, text string")
    assert {r.doc_id: r.text for r in back.collect()} == rows


def test_jsonl_shard_size_bound(spark, tmp_path):
    from dotnetvectorsearch_spark.sources.io import write_jsonl
    df = spark.range(0, 100, 1, 1).withColumnRenamed("id", "doc_id")
    out = tmp_path / "sharded"
    write_jsonl(df, str(out), max_records_per_file=10)
    shards = [p for p in out.glob("part-*") if p.suffix != ".crc"]
    assert len(shards) >= 10
    for p in shards:
        assert len(p.read_text().splitlines()) <= 10


def test_upsert_partitioned_rewrites_only_touched_partition(spark, tmp_path):
    from dotnetvectorsearch_spark.sources.io import upsert_partitioned
    path = str(tmp_path / "store")
    base = spark.createDataFrame(
        [(1, "2024-01-01", "a"), (2, "2024-01-01", "b"),
         (3, "2024-01-02", "c")],
        "id long, day string, payload string")
    upsert_partitioned(base, path, "day")
    # re-ingest day 2 with corrected + extra rows; day 1 must not change
    patch = spark.createDataFrame(
        [(3, "2024-01-02", "c-fixed"), (4, "2024-01-02", "d")],
        "id long, day string, payload string")
    upsert_partitioned(patch, path, "day")
    # partition values come back type-inferred (date here) — compare as str
    got = {(r.id, str(r.day), r.payload)
           for r in spark.read.parquet(path).collect()}
    assert got == {(1, "2024-01-01", "a"), (2, "2024-01-01", "b"),
                   (3, "2024-01-02", "c-fixed"), (4, "2024-01-02", "d")}


def test_orc_roundtrip_preserves_values(spark, sf_dir, tmp_path):
    from dotnetvectorsearch_spark.sources.io import (
        load_table,
        read_orc,
        write_orc,
    )
    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "docs_orc")
    write_orc(docs, path)
    back = read_orc(spark, path)
    assert back.schema == docs.schema
    assert (sorted(r.doc_id for r in back.select("doc_id").collect())
            == sorted(r.doc_id for r in docs.select("doc_id").collect()))
    joined = docs.alias("a").join(back.alias("b"), "doc_id")
    assert joined.filter(
        (F.col("a.text") != F.col("b.text"))
        | (F.col("a.n_chars") != F.col("b.n_chars"))).count() == 0


def test_orc_partitioned_write_prunes(spark, sf_dir, tmp_path):
    from dotnetvectorsearch_spark.sources.io import (
        load_table,
        read_orc,
        write_orc,
    )
    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "docs_orc_part")
    write_orc(docs, path, partition_by=["lang"])
    back = read_orc(spark, path).filter(F.col("lang") == "en")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(lang" in plan
    assert back.count() == docs.filter(F.col("lang") == "en").count()


def test_compact_files_rewrites_to_target_count(spark, tmp_path):
    from dotnetvectorsearch_spark.sources.layout import compact
    src = str(tmp_path / "fragmented")
    out = str(tmp_path / "compacted")
    # 64 tiny files — the streaming-ingest pathology
    spark.range(0, 64_000, 1, 64).withColumn(
        "v", F.col("id") % 7).write.parquet(src)
    assert len(spark.read.parquet(src).inputFiles()) == 64
    n = compact(spark, src, out, target_mb=1 << 20, sort_by="v")
    got = spark.read.parquet(out)
    assert n == len(got.inputFiles()) == 1   # everything fits one file
    assert got.count() == 64_000
    assert got.agg(F.sum("id")).collect()[0][0] == 64_000 * 63_999 // 2

    # a partitioned input is sized from all its bytes (> 1 MB here), and
    # the count returned is the files written: range partitioning on a
    # 4-value key leaves at most 4 of the requested partitions non-empty.
    # The output keeps the p=*/ layout: p stays a partition column and
    # is never written into the data files.
    import pyarrow.parquet as pq
    part = str(tmp_path / "partitioned")
    spark.range(0, 400_000, 1, 8).withColumn("p", F.col("id") % 4) \
        .withColumn("x", F.rand(7)).write.partitionBy("p").parquet(part)
    for sort_by, sized in ((None, out), ("p", str(tmp_path / "by_p"))):
        n = compact(spark, part, sized, target_mb=1, sort_by=sort_by)
        got = spark.read.parquet(sized)
        assert n == len(got.inputFiles()) > 1
        assert got.count() == 400_000
        assert got.agg(F.sum("id")).collect()[0][0] == \
            400_000 * 399_999 // 2
        assert sorted(d.name for d in Path(sized).iterdir()
                      if d.is_dir()) == ["p=0", "p=1", "p=2", "p=3"]
        assert all("p" not in pq.read_schema(f).names
                   for f in Path(sized).glob("p=*/*.parquet"))
        assert got.filter(F.col("id") % 4 != F.col("p")).count() == 0
    assert n <= 4


def test_curated_corpus_composition_invariants(spark):
    """The capstone pipeline must compose: every curated doc is a
    length-passing train doc, survives exact dedup, and is not
    contamination-flagged; stages only ever remove rows."""
    import __spark_entry__ as entry
    sf_dir = "/root/testdata/sf0.001"
    qs = entry.queries()
    curated = {r.doc_id for r in qs["curated_corpus"](spark, sf_dir)
               .collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src_num = F.regexp_extract("source", r"(\d+)", 1).cast("int")
    train = docs.filter((src_num % 2 == 0) & (F.col("n_chars") >= 50))
    train_ids = {r.doc_id for r in train.select("doc_id").collect()}
    assert curated and curated <= train_ids
    from dotnetvectorsearch_spark.operators.dedup import exact_dedup
    deduped = {r.doc_id for r in
               exact_dedup(train).select("doc_id").collect()}
    assert curated <= deduped


def test_xml_roundtrip_preserves_values(spark, sf_dir, tmp_path):
    from dotnetvectorsearch_spark.sources.io import (
        load_table,
        read_xml,
        write_xml,
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars")
    path = str(tmp_path / "docs_xml")
    write_xml(docs, path, row_tag="doc")
    back = read_xml(spark, path, row_tag="doc", schema=docs.schema)
    assert back.schema == docs.schema
    a = sorted(map(tuple, docs.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_xml_read_drops_malformed_rows(spark, tmp_path):
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from dotnetvectorsearch_spark.sources.io import read_xml
    p = tmp_path / "mixed.xml"
    p.write_text(
        "<rows>"
        "<doc><doc_id>1</doc_id><lang>en</lang></doc>"
        "<doc><doc_id>not_a_number</doc_id><lang>fr</lang></doc>"
        "<doc><doc_id>3</doc_id><lang>de</lang></doc>"
        "</rows>")
    schema = StructType([StructField("doc_id", LongType()),
                         StructField("lang", StringType())])
    back = read_xml(spark, str(p), row_tag="doc", schema=schema)
    got = sorted((r.doc_id, r.lang) for r in back.collect())
    assert got == [(1, "en"), (3, "de")]


def test_binary_file_ingest_glob_and_content(spark, tmp_path):
    from dotnetvectorsearch_spark.sources.io import read_binary_files
    (tmp_path / "a.bin").write_bytes(b"\x00\x01\x02\x03")
    (tmp_path / "b.bin").write_bytes(b"\xff" * 10)
    (tmp_path / "skip.txt").write_text("not media")
    df = read_binary_files(spark, str(tmp_path), glob="*.bin")
    rows = {r.path.rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == {"a.bin", "b.bin"}
    assert bytes(rows["a.bin"].content) == b"\x00\x01\x02\x03"
    assert rows["b.bin"].length == 10


def test_binary_file_length_filter_prunes_before_read(spark, tmp_path):
    """Filters on file metadata must reach the scan (pushed filters), so
    pruned blobs are never fetched — the property that matters when the
    directory holds 100 TB of media."""
    from dotnetvectorsearch_spark.sources.io import read_binary_files
    (tmp_path / "small.bin").write_bytes(b"x")
    (tmp_path / "big.bin").write_bytes(b"y" * 1000)
    df = read_binary_files(spark, str(tmp_path), glob="*.bin") \
        .filter("length > 100")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "length" in plan
    assert [r.length for r in df.collect()] == [1000]


def test_training_shards_composition_invariants(spark):
    """Capstone #2: every sharded doc is a curated doc; packs never
    split across shards; per-shard positions are dense from 0; pack
    token sums respect the budget quantization (cumsum floor)."""
    import __spark_entry__ as entry
    sf_dir = "/root/testdata/sf0.001"
    qs = entry.queries()
    rows = qs["training_shards"](spark, sf_dir).collect()
    curated = {r.doc_id for r in qs["curated_corpus"](spark, sf_dir)
               .collect()}
    assert rows and {r.doc_id for r in rows} == curated
    packs = {}
    for r in rows:
        packs.setdefault((r.lang, r.pack_id), set()).add((r.shard, r.pos))
    for addr in packs.values():
        assert len(addr) == 1              # pack travels whole
    by_shard = {}
    for (lang, pid), addr in packs.items():
        s, p = next(iter(addr))
        by_shard.setdefault(s, []).append(p)
    for s, ps in by_shard.items():
        assert sorted(ps) == list(range(len(ps)))   # dense positions


def test_incremental_corpus_update_manifest_and_index_append(
        spark, tmp_path):
    """The capstone manifest covers every id in either snapshot exactly
    once with status-consistent actions, and its index_add slice flows
    into the persisted-IVF append path with cell assignments identical
    to a batch transform (the manifest -> stream_index_append wiring)."""
    import __spark_entry__ as entry
    from dotnetvectorsearch_spark.operators.ann import IVFIndex
    from dotnetvectorsearch_spark.operators.ann_store import ensure_index
    from dotnetvectorsearch_spark.sources.io import load_table

    sf_dir = "/root/testdata/sf0.001"
    rows = entry.queries()["incremental_corpus_update"](
        spark, sf_dir).collect()
    ids = [r.doc_id for r in rows]
    assert len(ids) == len(set(ids)) > 0
    status_actions = {
        "removed": {"retire"}, "unchanged": {"keep"},
        "added": {"skip_duplicate", "skip_contaminated", "index_add"},
        "changed": {"skip_duplicate", "skip_contaminated", "index_add"},
    }
    seen_actions = set()
    for r in rows:
        assert r.action in status_actions[r.status], r
        seen_actions.add(r.action)
    # the planted scenario exercises the retire/keep/contamination/add
    # paths on real testdata (skip_duplicate is pinned on planted
    # frames in test_dedup.py)
    assert {"retire", "keep", "skip_contaminated",
            "index_add"} <= seen_actions

    # index_add -> append into the persisted IVF index: cell
    # assignments must equal a batch transform over the same vectors
    add_ids = [r.doc_id for r in rows if r.action == "index_add"]
    emb = load_table(spark, sf_dir, "embeddings")
    newvecs = emb.filter(F.col("vec_id").isin(add_ids[:50]))
    path, _ = ensure_index(spark, sf_dir, "ivf",
                           root=str(tmp_path / "idx"))
    idx, _ = IVFIndex.read(spark, path)
    appended = {r.vec_id: r.cell
                for r in idx.transform(newvecs).collect()}
    assert appended and set(appended) == {r.vec_id for r in
                                          newvecs.collect()}
    batch = {r.vec_id: r.cell for r in
             idx.transform(emb).filter(
                 F.col("vec_id").isin(list(appended))).collect()}
    assert appended == batch
