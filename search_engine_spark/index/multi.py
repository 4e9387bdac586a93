"""LSM read path: query a base index plus delta segments as ONE index.

``extend_index`` (extend.py) absorbs a delta by rewriting the merged
posting blocks — O(index bytes) per delta.  At 10^12 turns the index
bytes themselves are tens of TB, so per-delta rewrites are the wrong
steady state.  ``MultiIndex`` completes the LSM picture the way Lucene
segments do (public design; also the shape of the reference's freshness
story, where ``IndexerService.java:57-68`` upserts rows without ever
rebuilding the table):

  * ingest  — each delta becomes its OWN small index via a plain
    ``build_index`` over just the delta (O(delta) work, no old bytes
    touched; conversations/turns must be disjoint from other segments),
    or an update segment with a shadow sidecar (``ingest_update_segment``),
  * query   — ``MultiIndex([base, d1, d2, ...])`` answers with global
    BM25 statistics: N = Σ n_docs, avgdl = Σ dl / N, df(t) = Σ df_i(t)
    (segments hold disjoint documents, so document frequencies add),
    all exact, so results match a from-scratch build of the union
    byte-for-byte (pinned by tests),
  * compact — ``compact_segments`` folds the live segments into one
    root when the segment count grows; queries regain the exact-cut
    kernels (and WAND), which need one order-isomorphic segment.

The query surface is :class:`reader.IndexReader`, the same reader
``CompressedIndex`` is over one root: every query method, the
driver-local executor and the Spark plan are written once over its
``segments``.
"""

from __future__ import annotations

from .reader import IndexReader, parse_query  # noqa: F401  (the query parser, as in reader)


class MultiIndex(IndexReader):
    """Read-only view over several index segments, later segments win.

    Pass ``roots`` in chronological order (oldest first).  Effective
    documents must be disjoint: a (conv_id, turn_idx) may appear in
    several segments ONLY when every earlier occurrence is named by a
    later segment's SHADOW sidecar (``ingest_update_segment`` writes it;
    plain ``build_index`` segments must stay disjoint —
    ``compact_segments`` enforces that on compaction).  Every segment
    must be a format v5 conv_rank index with this engine's turn_bits;
    num_groups and num_buckets may differ (groups are per-segment
    parallelism units, and each segment prunes its own buckets).
    """
