"""Seeded input generator for the benchmark workloads.

Everything the engine receives is made here from the workload seed and
nothing else, so the same seed gives byte-identical inputs. Text is drawn
from a Zipf-weighted vocabulary (a few stopwords at the head, so the
quality gate sees realistic text), 20-120 words per document. Ingest
batches carry planted work whose ground truth the checks use:

- exact duplicates (~0.5%): a copy of an earlier row that differs only in
  case and spacing, which the engine's normalized fingerprint folds;
- near duplicates (~5%): a copy with 10% of its words replaced;
- contaminated rows (~1%): a held-out eval doc embedded in an answer;
- re-sent rows (~5%): a row of the standing corpus sent again.

Only the standard library is used, so the generator runs (and is tested)
without Spark.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field
from itertools import accumulate

STOPWORDS = ["the", "and", "of", "to", "in", "is", "you", "that", "it",
             "for"]
VOCAB_SIZE = 4000
ZIPF_S = 1.1
MIN_WORDS, MAX_WORDS = 20, 120
EXACT_DUP_FRAC = 0.005
NEAR_DUP_FRAC = 0.05
NEAR_DUP_FLIP = 0.10
CONTAM_FRAC = 0.01
RESENT_FRAC = 0.05


def sub_seed(seed: int, *tags) -> int:
    """Stable child seed for one input stream (independent of hash salt)."""
    key = ":".join(str(t) for t in (seed, *tags)).encode()
    return int.from_bytes(hashlib.sha256(key).digest()[:8], "big")


def _word(i: int) -> str:
    letters = "abcdefghijklmnopqrstuvwxyz"
    out = ""
    i += 26 * 26  # at least three letters, so word lengths look natural
    while i:
        i, r = divmod(i, 26)
        out = letters[r] + out
    return out


class Vocab:
    """Zipf(s) over STOPWORDS followed by synthetic words."""

    def __init__(self, size: int = VOCAB_SIZE, s: float = ZIPF_S):
        self.words = STOPWORDS + [_word(i)
                                  for i in range(size - len(STOPWORDS))]
        self.cum = list(accumulate(1.0 / (r + 1) ** s
                                   for r in range(len(self.words))))

    def words_for(self, rng: random.Random, n: int) -> list[str]:
        return rng.choices(self.words, cum_weights=self.cum, k=n)

    def doc(self, rng: random.Random, lo: int = MIN_WORDS,
            hi: int = MAX_WORDS) -> str:
        return " ".join(self.words_for(rng, rng.randint(lo, hi)))


def flip_words(rng: random.Random, vocab: Vocab, text: str,
               frac: float = NEAR_DUP_FLIP) -> str:
    words = text.split(" ")
    for i in rng.sample(range(len(words)), max(1, round(frac * len(words)))):
        words[i] = rng.choice(vocab.words[len(STOPWORDS):])
    return " ".join(words)


def exact_variant(text: str) -> str:
    """Same normalized text (lowercase, single spaces), different bytes."""
    return "  " + text.upper().replace(" ", "   ") + " "


# ------------------------------------------------------------------ serve

@dataclass
class ServeInputs:
    corpus: list[tuple[int, str, str]]          # (id, question, answer)
    requests: list[tuple[str, object]]          # (kind, payload)


SERVE_MIX = (("search", 6), ("ann_search", 2), ("similarity", 1),
             ("embed_batch", 1))
EMBED_BATCH = 16


def serve_inputs(seed: int, n_docs: int, n_requests: int,
                 vocab: Vocab | None = None) -> ServeInputs:
    """A Q/A corpus plus a request sequence in blocks of ten that each hold
    the exact SERVE_MIX proportions, shuffled within the block."""
    vocab = vocab or Vocab()
    rng = random.Random(sub_seed(seed, "serve"))
    corpus = [(i, vocab.doc(rng, 5, 20), vocab.doc(rng))
              for i in range(n_docs)]
    block = [k for k, n in SERVE_MIX for _ in range(n)]
    requests: list[tuple[str, object]] = []
    while len(requests) < n_requests:
        kinds = block[:]
        rng.shuffle(kinds)
        for kind in kinds:
            if kind in ("search", "ann_search"):
                # a query shares words with one corpus doc, as real queries do
                _, q, a = corpus[rng.randrange(n_docs)]
                words = (q + " " + a).split(" ")
                start = rng.randrange(max(1, len(words) - 8))
                payload: object = " ".join(words[start:start + 8])
            elif kind == "similarity":
                payload = (vocab.doc(rng, 5, 30), vocab.doc(rng, 5, 30))
            else:
                payload = [vocab.doc(rng, 5, 40) for _ in range(EMBED_BATCH)]
            requests.append((kind, payload))
    return ServeInputs(corpus, requests[:n_requests])


# ----------------------------------------------------------------- ingest

def heldout_split(seed: int, n: int, vocab: Vocab | None = None
                  ) -> list[tuple[int, str]]:
    """Held-out eval docs that decontamination must keep out of the store."""
    vocab = vocab or Vocab()
    rng = random.Random(sub_seed(seed, "heldout"))
    return [(i, vocab.doc(rng, 20, 40)) for i in range(n)]


def ingest_base(seed: int, n_docs: int, vocab: Vocab | None = None
                ) -> list[tuple[int, str, str]]:
    """The standing corpus the store is built from: (id, question, answer)."""
    vocab = vocab or Vocab()
    rng = random.Random(sub_seed(seed, "ingest-base"))
    return [(i, vocab.doc(rng, 5, 20), vocab.doc(rng)) for i in range(n_docs)]


def combined(question: str, answer: str) -> str:
    """The engine's documented combined text, ``"{q} : {a}"``."""
    return f"{question} : {answer}"


def normalized(text: str) -> str:
    """The engine's documented fingerprint normalization: lowercase,
    whitespace runs collapsed to one space, trimmed."""
    return " ".join(text.lower().split())


@dataclass
class IngestBatch:
    rows: list[tuple[int, str, str]]            # (id, question, answer)
    near_pairs: list[tuple[int, int]] = field(default_factory=list)
    contaminated: list[int] = field(default_factory=list)

    def text(self) -> dict[int, str]:
        return {i: combined(q, a) for i, q, a in self.rows}


def ingest_batch(seed: int, index: int, n_rows: int,
                 base: list[tuple[int, str, str]],
                 heldout: list[tuple[int, str]],
                 vocab: Vocab | None = None) -> IngestBatch:
    """One batch of new Q/A rows with planted work for every gate: exact
    duplicates within the batch, near duplicates, held-out text leaked into
    answers, and rows re-sent from the standing corpus. Ids are unique
    across batches (batch ``index`` owns a disjoint range)."""
    vocab = vocab or Vocab()
    rng = random.Random(sub_seed(seed, "ingest-batch", index))
    first = 1_000_000 + index * 10 * n_rows
    n_exact = max(1, round(EXACT_DUP_FRAC * n_rows))
    n_near = max(1, round(NEAR_DUP_FRAC * n_rows))
    n_contam = max(1, round(CONTAM_FRAC * n_rows))
    n_resent = max(1, round(RESENT_FRAC * n_rows))
    n_orig = n_rows - n_exact - n_near - n_contam - n_resent
    qa = [(vocab.doc(rng, 5, 20), vocab.doc(rng)) for _ in range(n_orig)]
    batch = IngestBatch([])
    for _ in range(n_exact):
        q, a = qa[rng.randrange(n_orig)]
        qa.append((exact_variant(q), exact_variant(a)))
    for _ in range(n_near):
        src = rng.randrange(n_orig)
        q, a = qa[src]
        batch.near_pairs.append((first + src, first + len(qa)))
        qa.append((flip_words(rng, vocab, q), flip_words(rng, vocab, a)))
    for _ in range(n_contam):
        batch.contaminated.append(first + len(qa))
        _, leaked = heldout[rng.randrange(len(heldout))]
        qa.append((vocab.doc(rng, 5, 20), vocab.doc(rng, 5, 20) + " "
                   + leaked + " " + vocab.doc(rng, 5, 20)))
    for _ in range(n_resent):
        _, q, a = base[rng.randrange(len(base))]
        qa.append((q, a))
    batch.rows = [(first + i, q, a) for i, (q, a) in enumerate(qa)]
    return batch
