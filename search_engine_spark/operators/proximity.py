"""Term-proximity scoring — the reference's ``calculateTermProximity``
(QueryService.java:1374-1445): the minimum token distance between any two
DISTINCT query terms in a document maps to a boost tier
(+2.0 at ≤3, +1.0 at ≤10, +0.5 at ≤50, else 0 — ``:1427-1438``).

The reference computes it per candidate by splitting the content string
per request; here it is a numpy kernel over the compressed index's
position arrays, applied only to the k survivors of the BM25 top-k (the
reference applies it to every candidate — SURVEY.md §4.2 flags that as an
N+1 pattern).  Proximity is a RERANK feature, NOT part of the §4.3 BM25
rank-identity contract; it is exposed as an optional post-processor.
"""

from __future__ import annotations

import numpy as np

# QueryService.java:1427-1438
TIERS = ((3, 2.0), (10, 1.0), (50, 0.5))


def min_pair_distance(pos_by_term: list[np.ndarray]) -> int | None:
    """Minimum |p_i − p_j| across occurrences of different terms.

    Linear merge over the sorted per-term position arrays (the classic
    k-way minimal-pair sweep), not the reference's O(n²) per-position
    rescans (Ranker1.java:416-441).
    """
    present = [p for p in pos_by_term if p is not None and len(p)]
    if len(present) < 2:
        return None
    tagged = np.concatenate(
        [np.stack([p, np.full(len(p), i)], axis=1) for i, p in enumerate(present)]
    )
    tagged = tagged[np.argsort(tagged[:, 0], kind="stable")]
    best = None
    for a, b in zip(tagged[:-1], tagged[1:]):
        if a[1] != b[1]:
            d = int(b[0] - a[0])
            best = d if best is None or d < best else best
    return best


def proximity_boost(distance: int | None) -> float:
    """Distance → additive boost per the reference tier ladder."""
    if distance is None:
        return 0.0
    for limit, boost in TIERS:
        if distance <= limit:
            return boost
    return 0.0


def proximity_distances(segment, terms: list[str], doc_ids: list[int]):
    """(doc_id, distance) DataFrame for the given candidate docs.

    Executor-side: bucket-pruned postings of the query terms are
    cogrouped per index group; the Arrow kernel decodes positions ONLY
    for the blocks containing candidate docs (``positions_at``) and
    emits the min pair distance.  Nothing but the k result rows ever
    reaches the driver.
    """
    import pandas as pd

    from ..index.kernels import TermPostings

    cand = np.asarray(sorted(set(doc_ids)), dtype=np.int64)
    terms = sorted(set(terms))

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        out_docs, out_dists = [], []
        plists = {
            str(t): TermPostings(str(t), tdf, 0.0, 1.0)
            for t, tdf in pdf.groupby("term", sort=True)
        }
        for d in cand:
            pos_arrays = []
            for t in terms:
                tp = plists.get(t)
                if tp is None or tp.doc_ids.size == 0:
                    pos_arrays.append(None)
                    continue
                i = int(np.searchsorted(tp.doc_ids, d))
                if i < tp.doc_ids.size and tp.doc_ids[i] == d:
                    pos_arrays.append(tp.positions_at(i))
                else:
                    pos_arrays.append(None)
            dist = min_pair_distance(pos_arrays)
            if dist is not None:
                out_docs.append(int(d))
                out_dists.append(int(dist))
        return pd.DataFrame({"doc_id": pd.array(out_docs, dtype="int64"),
                             "distance": pd.array(out_dists, dtype="int64")})

    return (
        segment.postings_df(terms)
        .groupBy("group")
        .applyInPandas(kernel, schema="doc_id long, distance long")
    )


def rerank_with_proximity(index, query_text: str, k: int = 10, mode: str = "disjunctive"):
    """BM25 top-k, then add the proximity boost and re-sort.

    Returns list of (conv_id, turn_idx, base_score, distance, boosted).
    Needs a one-segment reader (a ``CompressedIndex``, or a compacted
    live index): candidate doc ids come from the segment's conv-rank
    lookup of the k keys (on the driver within the local budget),
    positions from a candidate-bounded grouped kernel over that
    segment's postings — no full postings/conv-table collect.
    """
    from ..index.build import TURN_BITS
    from ..index.reader import parse_query
    from ..textproc import analyze_query

    if len(index.segments) > 1:
        raise ValueError(
            "rerank_with_proximity needs one segment (doc ids are "
            "segment-local conv ranks); compact the live index first"
        )
    seg = index.segments[0]
    base = index.topk(query_text, mode, k).collect()
    if not base:
        return []
    spec = parse_query(query_text, mode)
    terms = spec.score_terms if spec else sorted(set(analyze_query(query_text)))
    if not terms:
        return []
    rank = seg._conv_lookup(sorted({r["conv_id"] for r in base}))
    doc_of = {
        (r["conv_id"], r["turn_idx"]): (rank[r["conv_id"]][0] << TURN_BITS) | r["turn_idx"]
        for r in base
    }
    dists = {
        r["doc_id"]: int(r["distance"])
        for r in proximity_distances(seg, terms, list(doc_of.values())).collect()
    }
    out = []
    for row in base:
        doc_id = doc_of[(row["conv_id"], row["turn_idx"])]
        dist = dists.get(doc_id)
        boost = proximity_boost(dist)
        out.append(
            (row["conv_id"], row["turn_idx"], row["score"], dist, row["score"] + boost)
        )
    out.sort(key=lambda x: (-x[4], x[0], x[1]))
    return out
