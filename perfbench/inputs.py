"""Seeded workload inputs.  The engine receives only what these functions
generate; the same seed gives the same inputs."""

from __future__ import annotations

import re
from collections import Counter

import numpy as np
import pandas as pd

# the Zipf exponent the fixture corpus draws its words with (FIXTURES.md 1.1)
ZIPF_S = 1.1
# Query slots: "ref" takes the next reference query, a mode generates a
# query in that mode.  Every round has the same mix of kinds and slots, so
# seeds change the queries but not the proportions of cheap and costly ones.
# The shares below are a chosen point within the serve workload's shape
# (most requests top-k, a fixed share of search pages, a periodic batch),
# not measured traffic; the batch share largely sets queries answered / s.
TOPK_SLOTS = ("ref", "disjunctive", "conjunctive", "ref", "disjunctive", "phrase")
SEARCH_SLOTS = ("disjunctive", "ref")
BATCH_SLOTS = ("ref",) * 9 + ("disjunctive",) * 12 + ("conjunctive",) * 6 + ("phrase",) * 3
BATCH_SIZE = len(BATCH_SLOTS)
# one serve round: top-k requests, enriched search pages and one batch
ROUND = ("topk", "topk", "search", "topk", "topk", "topk", "search", "topk", "batch")

_WORD = re.compile(r"[a-z][a-z0-9]*")


def vocabulary(texts) -> list[str]:
    """Raw corpus words, most frequent first (ties by word)."""
    counts: Counter = Counter()
    for t in texts:
        if isinstance(t, str):
            counts.update(_WORD.findall(t.lower()))
    return [w for w, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))]


class QueryGen:
    """Queries that mix the reference set with generated 1-4 term queries
    whose terms are Zipf-sampled by corpus frequency rank, so terms repeat
    and the reader's idf cache both hits and misses."""

    def __init__(self, seed: int, vocab: list[str], texts: list[str], reference: list[dict]):
        self.rng = np.random.default_rng(seed)
        self.vocab = vocab
        p = np.arange(1, len(vocab) + 1, dtype=np.float64) ** -ZIPF_S
        self.probs = p / p.sum()
        self.texts = [t for t in texts if isinstance(t, str) and len(t.split()) >= 2]
        self.reference = reference
        self._ref_i = int(self.rng.integers(len(reference)))

    def next(self, slot: str) -> tuple[str, str]:
        """(query_text, mode) for a slot: "ref" or a query mode."""
        if slot == "ref":
            q = self.reference[self._ref_i % len(self.reference)]
            self._ref_i += 1
            return q["query_text"], q["mode"]
        if slot == "phrase":
            # an adjacent word pair from a real turn, so phrases match
            words = self.texts[int(self.rng.integers(len(self.texts)))].split()
            i = int(self.rng.integers(len(words) - 1))
            return f'"{words[i]} {words[i + 1]}"', slot
        n = int(self.rng.integers(1, 5))
        terms = self.rng.choice(len(self.vocab), size=n, p=self.probs)
        return " ".join(self.vocab[t] for t in terms), slot


def serve_round(gen: QueryGen) -> list[tuple[str, object]]:
    """One round of requests: (kind, (query_text, mode)) or, for a batch,
    (kind, [(query_text, mode), ...])."""
    slots = {"topk": iter(TOPK_SLOTS), "search": iter(SEARCH_SLOTS)}
    return [
        (kind, [gen.next(s) for s in BATCH_SLOTS] if kind == "batch" else gen.next(next(slots[kind])))
        for kind in ROUND
    ]


def ingest_batch(seed: int, batch_id: int, n_convs: int) -> pd.DataFrame:
    """One delta batch of new conversations: the fixture's turn shape
    (25 turns per conversation) drawn from ``seed``, with a batch prefix
    on conv_id so batches hold disjoint documents."""
    from search_engine_spark.corpus import SCALES, generate_transcripts

    turns = SCALES["sm"]["turns_per_conv"]
    pdf = generate_transcripts("sm", seed).iloc[: n_convs * turns].copy()
    pdf["conv_id"] = pd.array(
        [f"b{batch_id:03d}-{c}" for c in pdf["conv_id"]], dtype="string"
    )
    return pdf.reset_index(drop=True)


def batch_seeds(seed: int, n: int) -> list[int]:
    return [int(s) for s in np.random.default_rng(seed).integers(0, 2**31 - 1, size=n)]
