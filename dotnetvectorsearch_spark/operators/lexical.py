"""Lexical (BM25) search and hybrid rank fusion (beyond-reference).

A vector-search engine in production pairs embedding search with lexical
retrieval; this module provides the distributed BM25 pipeline and
reciprocal-rank-fusion (RRF) hybrid ranking, all as Catalyst built-ins:

- `term_frequencies`: explode whitespace tokens -> per-(doc, term) counts
  plus per-doc length. One shuffle on (doc, term), map-side combined.
- `inverse_doc_frequencies`: document frequencies -> the standard BM25
  idf  ln(1 + (N - df + 0.5)/(df + 0.5)). A term-keyed frame, tiny
  relative to the corpus (vocabulary-sized) — broadcastable.
- `bm25_topk`: score a tokenized query: join the (small) query-term frame
  to the tf inverted index on term — the posting-list equi-join shape —
  aggregate per doc, top-k. The corpus shuffles on term once at index
  build; queries touch only matching postings.
- `rrf_fuse`: reciprocal-rank fusion of any two ranked frames:
  score = sum 1/(k0 + rank); standard hybrid (BM25 + cosine) ranking.

Everything is deterministic (id tiebreaks) and ANSI-SQL-expressible, so
the full hybrid pipeline is oracle-checkable end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dotnetvectorsearch_spark.functions.text import WS_PATTERN

DEFAULT_K1 = 1.2
DEFAULT_B = 0.75
DEFAULT_RRF_K = 60

# Bump when tokenization / tf / idf semantics change: the version is part
# of the materialized index table names, so stale on-disk indexes from an
# older build can never serve a newer query path.
INDEX_VERSION = 1


def _tokens(text_col: str):
    return F.filter(F.split(F.lower(F.trim(F.col(text_col))), WS_PATTERN),
                    lambda t: t != F.lit(""))


def term_frequencies(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Inverted index with counts: (doc, term, tf, doc_len)."""
    toks = docs.select(F.col(id_col), F.explode(_tokens(text_col))
                       .alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    lens = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("doc_len"))
    return tf.join(lens, id_col)


def inverse_doc_frequencies(tf: DataFrame, n_docs: int,
                            id_col: str = "doc_id") -> DataFrame:
    """BM25 idf per term: ln(1 + (N - df + 0.5) / (df + 0.5))."""
    df_ = tf.groupBy("term").agg(F.countDistinct(id_col).alias("df"))
    idf = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    return df_.select("term", idf.alias("idf"))


def bm25_topk(tf: DataFrame, idf: DataFrame, avg_doc_len: float,
              query_terms: list[str], k: int = 10,
              id_col: str = "doc_id", k1: float = DEFAULT_K1,
              b: float = DEFAULT_B,
              round_digits: int | None = 6) -> DataFrame:
    """Top-k docs for a bag of query terms (deduplicated) by BM25.

    The query terms become a literal `IN` FILTER on the term-keyed index
    (semantically identical to the former broadcast-join on a distinct
    term set, since scoring sums over matching terms). A filter — unlike
    a join — pushes all the way into the scan: against the materialized
    bucketed index (`build_index`) Parquet row-group stats on the sorted
    `term` column prune everything but the matching postings, so a query
    reads O(postings of its terms), not the corpus.
    """
    qset = sorted({t.lower() for t in query_terms})
    norm = F.col("tf") * (k1 + 1) / (
        F.col("tf") + k1 * (1 - b + b * F.col("doc_len") / avg_doc_len))
    contrib = (tf.filter(F.col("term").isin(qset))
               .join(F.broadcast(idf.filter(F.col("term").isin(qset))),
                     "term")
               .select(F.col(id_col), (F.col("idf") * norm).alias("c")))
    score = F.sum("c")
    if round_digits is not None:
        score = F.round(score, round_digits)
    return (contrib.groupBy(id_col).agg(score.alias("bm25"))
            .orderBy(F.desc("bm25"), F.asc(id_col)).limit(k))


# -- Materialized index: build once, query many --------------------------
#
# At 100 TB the inverted index is a STORED artifact — rebuilding tf/idf
# per query is a full corpus shuffle per query. `build_index` writes the
# tf frame as a parquet table bucketed+sorted by `term` (equi-joins and
# term filters prune buckets / row groups; no shuffle of the index at
# query time), idf (vocabulary-sized) and a 1-row stats table alongside.


def index_table_names(db: str, prefix: str) -> tuple[str, str, str]:
    base = f"{db}.{prefix}_v{INDEX_VERSION}"
    return f"{base}_tf", f"{base}_idf", f"{base}_stats"


def _drop_table_and_location(spark: SparkSession, table: str) -> None:
    """DROP TABLE IF EXISTS *and* delete any orphaned warehouse location:
    a fresh session has a fresh in-memory catalog, but the warehouse dir
    persists on disk — saveAsTable fails with LOCATION_ALREADY_EXISTS on
    the leftovers of a previous process unless the path is cleared."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    db, _, name = table.rpartition(".")
    wh = spark.conf.get("spark.sql.warehouse.dir")
    loc = f"{wh.rstrip('/')}/{db}.db/{name}" if db else f"{wh}/{name}"
    jpath = spark._jvm.org.apache.hadoop.fs.Path(loc)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(jpath):
        fs.delete(jpath, True)


def build_index(docs: DataFrame, db: str = "bm25idx",
                prefix: str = "corpus", n_buckets: int = 32,
                id_col: str = "doc_id", text_col: str = "text",
                ) -> tuple[DataFrame, DataFrame, float]:
    """Materialize the BM25 inverted index; returns the loaded frames."""
    from dotnetvectorsearch_spark.sources.io import write_bucketed

    spark = docs.sparkSession
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    tf_name, idf_name, stats_name = index_table_names(db, prefix)
    for t in (tf_name, idf_name, stats_name):
        _drop_table_and_location(spark, t)
    n_docs = docs.count()
    write_bucketed(term_frequencies(docs, id_col, text_col), tf_name,
                   "term", n_buckets=n_buckets, sort_col="term")
    tf_t = spark.table(tf_name)
    (inverse_doc_frequencies(tf_t, n_docs, id_col)
     .write.mode("overwrite").format("parquet").saveAsTable(idf_name))
    avgdl = (tf_t.select(id_col, "doc_len").distinct()
             .agg(F.avg("doc_len")).first()[0])
    from dotnetvectorsearch_spark.localdf import local_df
    (local_df(spark, [(int(n_docs), float(avgdl))],
              "n_docs long, avg_doc_len double")
     .write.mode("overwrite").format("parquet").saveAsTable(stats_name))
    return load_index(spark, db, prefix)


def load_index(spark: SparkSession, db: str = "bm25idx",
               prefix: str = "corpus",
               ) -> tuple[DataFrame, DataFrame, float]:
    tf_name, idf_name, stats_name = index_table_names(db, prefix)
    stats = spark.table(stats_name).first()
    return (spark.table(tf_name), spark.table(idf_name),
            float(stats.avg_doc_len))


def rrf_fuse(ranked_a: DataFrame, ranked_b: DataFrame,
             id_col: str = "doc_id", k0: int = DEFAULT_RRF_K,
             k: int = 10) -> DataFrame:
    """Reciprocal-rank fusion of two ranked frames (each with a `rank`
    column): score = Σ 1/(k0 + rank); docs missing from one list simply
    contribute nothing from it (full outer join)."""
    a = ranked_a.select(F.col(id_col), F.col("rank").alias("rank_a"))
    b = ranked_b.select(F.col(id_col), F.col("rank").alias("rank_b"))
    joined = a.join(b, id_col, "full_outer")
    contrib_a = F.when(F.col("rank_a").isNotNull(),
                       1.0 / (k0 + F.col("rank_a"))).otherwise(0.0)
    contrib_b = F.when(F.col("rank_b").isNotNull(),
                       1.0 / (k0 + F.col("rank_b"))).otherwise(0.0)
    return (joined.select(F.col(id_col),
                          F.round(contrib_a + contrib_b, 6).alias("rrf"))
            .orderBy(F.desc("rrf"), F.asc(id_col)).limit(k))


def attach_rank(df: DataFrame, score_col: str, id_col: str = "doc_id",
                ascending: bool = False) -> DataFrame:
    """row_number rank by (score, id) — deterministic input for rrf_fuse."""
    order = [F.asc(score_col) if ascending else F.desc(score_col),
             F.asc(id_col)]
    return df.withColumn("rank",
                         F.row_number().over(Window.orderBy(*order)))
