"""Query registry behind the driver contract in ``__spark_entry__.py``.

One module per query family; each holds its ``_q_<name>`` bodies
(``(spark, sf_dir) -> DataFrame``), their helpers and memos, and an
``add_oracles(oracles)`` that adds the DuckDB oracle SQL of exactly
those queries. This module holds what several families share.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dotnetvectorsearch_spark.sources.io import load_table


# The oracle's cosine of two list columns (.format(a=..., b=...)).
cos = ("list_cosine_similarity(CAST({a} AS DOUBLE[]), "
       "CAST({b} AS DOUBLE[]))")

# Tuned like search.SEARCH_THRESHOLD on the driver's synthetic
# embeddings (cosine p99~0.30 vs a fixed query vector).
NEARDUP_COSINE_THRESHOLD = 0.35


def _collect_query_vec(spark, sf_dir, vec_id=0):
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") == vec_id).collect()[0].embedding
