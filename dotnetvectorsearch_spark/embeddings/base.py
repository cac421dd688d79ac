"""Pluggable embedding backend contract (SURVEY.md §2.3).

Mirrors the reference's ``IEmbeddingService``
(``Core/Embeddings/IEmbeddingService.cs:5-24``: single embed, batch embed,
tokenize). A backend implements ONE kernel, :meth:`EmbeddingBackend.embed_batch`
(texts -> float32 matrix), with its expensive init (model session,
projection matrix) cached once per Python process. The same kernel serves
both shapes:

- distributed: :meth:`EmbeddingBackend.udf` wraps it in the single
  Arrow-batched pandas UDF every backend shares, so a string column maps
  to an array<float> column inside Spark tasks (the per-process cache
  means a reused Python worker builds its model state once, not once per
  task);
- in-process: a serving caller with a handful of texts calls the kernel
  directly on the driver, with no Spark job at all.

The reference's task-level concurrency (``Task.WhenAll`` of batch-size-1
inferences, ``EmbeddingService.cs:26-30``) is replaced by real tensor
batching inside the kernel plus Spark task parallelism.
"""

from __future__ import annotations

import abc

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from dotnetvectorsearch_spark.functions.text import with_task_prefix


class EmbeddingBackend(abc.ABC):
    """A source of text embeddings usable as a DataFrame transformation."""

    #: embedding dimensionality this backend produces
    dim: int

    @abc.abstractmethod
    def embed_batch(self, texts: list[str]) -> np.ndarray:
        """Embed ``texts`` (no None) into a ``(len(texts), dim)`` float32
        matrix. Row ``i`` depends only on ``texts[i]``."""

    def udf(self):
        """The pandas UDF Column[str] -> Column[array<float>] running
        :meth:`embed_batch` per Arrow batch (None embeds as "")."""
        kernel = self.embed_batch

        @pandas_udf("array<float>")
        def embed(texts: pd.Series) -> pd.Series:
            vecs = kernel(["" if t is None else t for t in texts])
            return pd.Series(list(vecs), index=texts.index, dtype=object)

        return embed

    def embed_column(self, text: Column | str, kind: str | None = None) -> Column:
        """Embedding expression for a text column, optionally applying the
        E5 task prefix first ('query' | 'passage')."""
        col = F.col(text) if isinstance(text, str) else text
        if kind is not None:
            col = with_task_prefix(col, kind)
        return self.udf()(col)

    def embed_documents(self, df: DataFrame, text_col: str = "combined_text",
                        out: str = "embedding") -> DataFrame:
        """Index-time embedding: 'passage: ' prefix (Prepare/Program.cs:56)."""
        return df.withColumn(out, self.embed_column(text_col, kind="passage"))

    def embed_queries(self, df: DataFrame, text_col: str = "query_text",
                      out: str = "query_embedding") -> DataFrame:
        """Query-time embedding: 'query: ' prefix (VectorSearchService.cs:183)."""
        return df.withColumn(out, self.embed_column(text_col, kind="query"))
