"""Real E5 embedding backend: ONNX Runtime scalar-iterator pandas UDF.

Reproduces the reference's inference pipeline (SURVEY.md §2.3, U1-U9) in a
Spark-native shape:

- U1 SentencePiece/XLM-R tokenization (reference
  ``E5MultilingualEmbeddings.cs:41-76``) via HuggingFace tokenizers — which
  natively produce the fairseq "+1 id offset" vocabulary the reference
  remaps by hand (U2, ``:98-111``);
- U3 truncation to 512 tokens (``:10,113-118``);
- U4/U5 tensor assembly + ONNX forward pass — but with REAL tensor batching
  (pad to max-in-batch) instead of the reference's hardcoded [1, seq] shape
  (``:124``) and Task.WhenAll request fan-out;
- U6 CLS pooling — hidden state row 0, NOT mean pooling (``:146-170``);
  upstream E5 uses mean pooling, the reference deliberately/accidentally
  uses CLS, and we replicate CLS for parity;
- U7 L2 normalization with the 1e-12 pass-through guard (``:172-187``).

Process lifecycle: one InferenceSession per Python process, created
lazily on the first batch and cached (the Spark analogue of the
reference's singleton session, ``OnnxRuntimeProvider.cs:33-68``), so a
reused executor worker or the serving driver builds it once; the model
file is distributed via ``spark.sparkContext.addFile``. Intra-op threads
default to the per-task core budget instead of the reference's hardcoded
20/40.

onnxruntime/transformers are NOT installed in this container, so the
backend raises ImportError at construction; the class exists so the Spark
plumbing (kernel, batching, distribution) is real and reviewable.
"""

from __future__ import annotations

import functools

import numpy as np

from dotnetvectorsearch_spark.embeddings.base import EmbeddingBackend
from dotnetvectorsearch_spark.embeddings.e5_math import (
    cls_pool,
    l2_normalize_guarded,
)

MAX_SEQ_LEN = 512       # reference E5MultilingualEmbeddings.cs:10
DEFAULT_DIM = 384       # intfloat/multilingual-e5-small
DEFAULT_BATCH = 32


@functools.lru_cache(maxsize=2)
def _runtime(model_path: str, tokenizer_path: str,
             intra_op: int):  # pragma: no cover - requires onnxruntime
    """(InferenceSession, tokenizer, input names), created once per
    Python process — the analogue of the reference's singleton session."""
    import onnxruntime as ort
    from transformers import AutoTokenizer

    opts = ort.SessionOptions()
    opts.graph_optimization_level = (
        ort.GraphOptimizationLevel.ORT_ENABLE_EXTENDED)
    opts.intra_op_num_threads = intra_op
    session = ort.InferenceSession(model_path, sess_options=opts)
    tokenizer = AutoTokenizer.from_pretrained(tokenizer_path)
    return session, tokenizer, {i.name for i in session.get_inputs()}


class E5OnnxEmbedder(EmbeddingBackend):
    def __init__(self, model_path: str, tokenizer_path: str,
                 dim: int = DEFAULT_DIM, batch_size: int = DEFAULT_BATCH,
                 intra_op_threads: int = 1):
        try:
            import onnxruntime  # noqa: F401
            import transformers  # noqa: F401
        except ImportError as exc:  # pragma: no cover - env-dependent
            raise ImportError(
                "E5OnnxEmbedder requires onnxruntime + transformers; "
                "use DeterministicEmbedder in this environment"
            ) from exc
        self.model_path = model_path
        self.tokenizer_path = tokenizer_path
        self.dim = dim
        self.batch_size = batch_size
        self.intra_op_threads = intra_op_threads

    def embed_batch(self, texts: list[str]) -> np.ndarray:
        session, tokenizer, input_names = _runtime(
            self.model_path, self.tokenizer_path, self.intra_op_threads)
        out = np.zeros((len(texts), self.dim), dtype=np.float32)
        for lo in range(0, len(texts), self.batch_size):
            enc = tokenizer(texts[lo:lo + self.batch_size], truncation=True,
                            max_length=MAX_SEQ_LEN, padding=True,
                            return_tensors="np")
            feeds = {"input_ids": enc["input_ids"].astype("int64"),
                     "attention_mask": enc["attention_mask"].astype("int64")}
            if "token_type_ids" in input_names:
                feeds["token_type_ids"] = np.zeros_like(feeds["input_ids"])
            (hidden,) = session.run(["last_hidden_state"], feeds)
            cls = cls_pool(hidden)                  # U6: CLS, not mean
            out[lo:lo + len(cls)] = l2_normalize_guarded(cls)  # U7
        return out
