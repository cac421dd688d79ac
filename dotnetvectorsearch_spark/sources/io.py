"""Sources & sinks (SURVEY.md §2.1, S1-S7).

The reference reads a quoted CSV with a hand-rolled parser
(``Prepare/Program.cs:135-160``), silently drops rows with fewer than 3
fields (``:46``), delete-and-recreates its SQLite store on every run
(``:83-87``), and serves scans as ``SELECT ... ORDER BY id``
(``WebAPI/Services/VectorSearchService.cs:142``).

Spark-first mapping: the CSV datasource's univocity parser subsumes S2
(including escaped quotes the reference mishandles); DROPMALFORMED
reproduces the silent-drop policy; ``mode("overwrite")`` reproduces
delete-and-recreate; Parquet replaces the row-store (columnar scan +
min/max stats + column pruning — the 384-float vector column is skipped
entirely when a query doesn't need it).

Scale notes: writers take an explicit partition count / partition columns so
100 TB corpora land as sanely-sized files; readers never infer schemas.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, StructType

from dotnetvectorsearch_spark.schemas import RAW_CSV_SCHEMA

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part",
               "orders", "lineitem", "events", "documents", "embeddings")


def read_documents_csv(spark: SparkSession, path: str,
                       schema: StructType = RAW_CSV_SCHEMA) -> DataFrame:
    """S1-S4: header skip, quoted fields, malformed-row drop, id cast."""
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .option("mode", "DROPMALFORMED")
        .csv(path)
        .filter(F.col("id").isNotNull() & F.col("question").isNotNull()
                & F.col("answer").isNotNull())
    )


def write_corpus(df: DataFrame, path: str, mode: str = "overwrite",
                 partition_by: list[str] | None = None,
                 target_partitions: int | None = None) -> None:
    """S5: corpus sink. overwrite == the reference's delete-and-recreate."""
    if target_partitions:
        df = df.repartition(target_partitions)
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def read_corpus(spark: SparkSession, path: str) -> DataFrame:
    """S6: corpus scan. Ordering is applied by callers that need the
    listing contract (ORDER BY id) — keeping the scan order-free lets
    Catalyst drop the sort when it is not required."""
    return spark.read.parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str,
               schema: str | None = None) -> DataFrame:
    """Load one driver-generated test table. A ``schema`` skips the
    schema-inference job; the frame lists the same input files."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(f"{sf_dir}/{name}.parquet")


def write_bucketed(df: DataFrame, table: str, bucket_col: str,
                   n_buckets: int = 32,
                   sort_col: str | None = None) -> None:
    """Bucketed managed-table sink: pre-shuffles once at write time so
    every later equi-join or aggregation on ``bucket_col`` is
    shuffle-free (no Exchange in the plan — both sides arrive
    co-partitioned). This is the 100 TB pattern for fact-fact joins like
    lineitem⋈orders: pay the shuffle once during ingest, never per query.
    ``sort_col`` additionally sorts within buckets, enabling merge joins
    without a sort step and better min/max row-group skipping."""
    writer = (df.write.mode("overwrite").format("parquet")
              .bucketBy(n_buckets, bucket_col))
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table)


def bucketed_join(spark: SparkSession, left_table: str, right_table: str,
                  on: str, how: str = "inner") -> DataFrame:
    """Join two tables bucketed on the same key with the same bucket
    count: Catalyst recognizes the matching output partitioning and
    plans a SortMergeJoin with NO Exchange on either side."""
    return spark.table(left_table).join(spark.table(right_table), on, how)


def embedding_to_json(df: DataFrame, col: str = "embedding",
                      out: str = "embedding_json") -> DataFrame:
    """P3 compatibility codec: the reference stores vectors as JSON TEXT
    (Prepare/Program.cs:126). Native storage stays array<float>."""
    return df.withColumn(out, F.to_json(F.col(col)))


def embedding_from_json(df: DataFrame, col: str = "embedding_json",
                        out: str = "embedding") -> DataFrame:
    """P4: JSON TEXT -> array<float>, null -> empty array (the reference's
    ``?? Array.Empty<float>()`` at VectorSearchService.cs:148-149)."""
    parsed = F.from_json(F.col(col), ArrayType(FloatType()))
    return df.withColumn(out, F.coalesce(parsed, F.array().cast("array<float>")))

def read_documents_jsonl(spark: SparkSession, path: str,
                         schema: StructType) -> DataFrame:
    """JSONL corpus reader: one JSON object per line, explicit schema
    (never inferSchema — an inference pass over 100 TB is a full extra
    scan). Corrupt lines land in no row rather than failing the job,
    matching the CSV reader's silent-drop policy (DROPMALFORMED).
    Beyond-reference: the reference ingests only CSV
    (DotNetVectorSearch.Prepare/Program.cs:26-34); JSONL is the lingua
    franca of LLM training corpora, so the engine treats it as a
    first-class source."""
    return (spark.read.schema(schema)
            .option("mode", "DROPMALFORMED")
            .json(path))


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite",
                target_partitions: int | None = None,
                max_records_per_file: int | None = None) -> None:
    """JSONL sink. `max_records_per_file` bounds shard size (training
    loaders want many same-sized shards, not one file per executor
    core); compression stays off by default so shards are seekable and
    line-splittable by downstream readers."""
    if target_partitions:
        df = df.repartition(target_partitions)
    w = df.write.mode(mode)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.json(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite",
              partition_by: list[str] | None = None) -> None:
    """ORC sink. Beyond-reference format coverage: ORC is the other
    columnar interchange format big Hadoop/Hive estates hold corpora in;
    Spark's native ORC writer keeps the same predicate-pushdown/column-
    pruning behavior as Parquet (min/max + bloom stats per stripe), so
    downstream scans keep the same scale properties."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — vectorized native reader, filter pushdown on by
    default (`spark.sql.orc.filterPushdown`)."""
    return spark.read.orc(path)


def write_xml(df: DataFrame, path: str, mode: str = "overwrite",
              row_tag: str = "row", root_tag: str = "rows") -> None:
    """XML sink (Spark 4's built-in XML datasource, formerly spark-xml).
    Beyond-reference format coverage: feeds/dumps (arXiv, Wikipedia,
    PubMed) arrive as XML; writing is mostly for round-trip tests and
    small interchange extracts — columnar formats remain the at-scale
    sink of record."""
    (df.write.mode(mode).format("xml")
     .option("rowTag", row_tag).option("rootTag", root_tag).save(path))


def read_xml(spark: SparkSession, path: str, row_tag: str = "row",
             schema: StructType | None = None) -> DataFrame:
    """XML scan. Pass an explicit ``schema`` in production — inference
    is an extra full scan, the same rule as the JSONL reader. Malformed
    records drop silently (DROPMALFORMED), matching the CSV policy
    (reference Prepare/Program.cs:135-160 skips bad rows). Each row
    element parses independently, so big dumps split across tasks like
    any text-splittable source."""
    r = spark.read.format("xml").option("rowTag", row_tag) \
        .option("mode", "DROPMALFORMED")
    if schema is not None:
        r = r.schema(schema)
    return r.load(path)


def read_binary_files(spark: SparkSession, path: str,
                      glob: str | None = None) -> DataFrame:
    """Raw-media ingest via Spark's `binaryFile` source: one row per
    file with (path, modificationTime, length, content BINARY) — the
    ingestion edge of the multimodal column pipeline
    (`multimodal/binary_ops.py`): scan image/audio blobs here, then
    decode/resize/feature-extract with the Arrow-batched ops.

    Scale notes: the source parallelizes file listing and never splits
    a file, so shard media into many files upstream; cap per-row blob
    size with `spark.sql.sources.binaryFile.maxLength` (default 2^31-1)
    and co-locate small files per task via
    `spark.sql.files.maxPartitionBytes` packing. Filters on path /
    length / modificationTime push down to the listing — no blob bytes
    are read for pruned files."""
    r = spark.read.format("binaryFile")
    if glob:
        r = r.option("pathGlobFilter", glob)
    return r.load(path)


SQLITE_DOCUMENTS_DDL = """
    CREATE TABLE documents (
        id INTEGER PRIMARY KEY,
        question TEXT NOT NULL,
        answer TEXT NOT NULL,
        combined_text TEXT NOT NULL,
        embedding TEXT NOT NULL,
        embedding_dimensions INTEGER NOT NULL,
        created_at DATETIME DEFAULT CURRENT_TIMESTAMP
    );
    CREATE INDEX idx_documents_id ON documents(id);
    CREATE INDEX idx_documents_created_at ON documents(created_at);
    CREATE INDEX idx_documents_question ON documents(question);
"""


def write_sqlite_compat(df: DataFrame, db_path: str) -> int:
    """Drop-in compatibility sink: write a prepared corpus to the EXACT
    SQLite store the reference's Prepare step produces — same DDL, same
    indexes, same delete-and-recreate policy, vectors as JSON TEXT
    (``Prepare/Program.cs:78-133``) — so the reference WebAPI can serve
    a corpus this engine prepared. Uses stdlib ``sqlite3``; no JDBC.

    This is a SERVING-LAYER EXPORT, deliberately not a distributed
    write: SQLite is a single-file store, so the rows stream through the
    driver via ``toLocalIterator`` (one partition in memory at a time,
    never a full collect). The distributed sinks (parquet/ORC/JSONL/
    bucketed tables) are the 100 TB path; this exists for parity with
    the reference's own single-node artifact, which by construction
    cannot exceed single-node size. Returns the row count written.

    Expected columns: id, question, answer, combined_text,
    embedding (array<float>), embedding_dimensions.
    """
    import os
    import sqlite3

    if os.path.exists(db_path):
        os.remove(db_path)  # reference deletes-and-recreates (:83-87)
    out = df.select(
        "id", "question", "answer", "combined_text",
        F.to_json("embedding").alias("embedding"),
        "embedding_dimensions")
    con = sqlite3.connect(db_path)
    try:
        con.executescript(SQLITE_DOCUMENTS_DDL)
        n = 0
        batch: list[tuple] = []
        for row in out.toLocalIterator():
            batch.append((row.id, row.question, row.answer,
                          row.combined_text, row.embedding,
                          row.embedding_dimensions))
            if len(batch) >= 1000:
                con.executemany(
                    "INSERT INTO documents (id, question, answer, "
                    "combined_text, embedding, embedding_dimensions) "
                    "VALUES (?, ?, ?, ?, ?, ?)", batch)
                n += len(batch)
                batch = []
        if batch:
            con.executemany(
                "INSERT INTO documents (id, question, answer, "
                "combined_text, embedding, embedding_dimensions) "
                "VALUES (?, ?, ?, ?, ?, ?)", batch)
            n += len(batch)
        con.commit()
    finally:
        con.close()
    return n


def read_sqlite_compat(spark: SparkSession, db_path: str) -> DataFrame:
    """Inverse compatibility source: load a reference-produced SQLite
    store into a DataFrame (vectors decoded back to array<float>), so a
    user can migrate an existing reference deployment to this engine
    with one call. Driver-side read — bounded by the same single-file
    argument as :func:`write_sqlite_compat`."""
    import sqlite3

    con = sqlite3.connect(db_path)
    try:
        rows = con.execute(
            "SELECT id, question, answer, combined_text, embedding, "
            "embedding_dimensions, created_at FROM documents "
            "ORDER BY id").fetchall()
    finally:
        con.close()
    from dotnetvectorsearch_spark.localdf import local_df
    df = local_df(
        spark, rows, "id long, question string, answer string, "
                     "combined_text string, embedding_json string, "
                     "embedding_dimensions int, created_at string")
    return (embedding_from_json(df, "embedding_json", "embedding")
            .drop("embedding_json"))


def upsert_partitioned(df: DataFrame, path: str,
                       partition_col: str) -> None:
    """Idempotent partition-level upsert: rewrite exactly the partitions
    present in `df`, leave every other partition untouched — Spark's
    `partitionOverwriteMode=dynamic` + `insertInto`-style overwrite on a
    path. The scalable no-ACID-table upsert: a day's re-ingest replaces
    that day's partition atomically (per partition) instead of
    rewriting the whole corpus or appending duplicates.

    At 100 TB this is THE maintenance write path: incremental jobs own a
    partition key (date, source, shard) and replace only their slice."""
    (df.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy(partition_col)
     .parquet(path))
