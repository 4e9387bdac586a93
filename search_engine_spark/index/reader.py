"""Query engine over N ≥ 1 compressed index segments (SURVEY.md §4.4
step 2, M3).

One reader, :class:`IndexReader`, answers every query over a list of
conv_rank :class:`Segment` roots as ONE index; a single index is the
one-segment case.  :class:`CompressedIndex` (one root) and
``multi.MultiIndex`` (base + delta segments) are its two constructors.

Physical plan per query::

    idf parquet  --bucket-pruned scan per segment--> driver: Σ df per term,
        idf = ln((1+N)/(1+Σdf)) + 1 at the global N
    postings parquet --bucket-pruned, term-filtered scan per segment,
            tagged with its segment id-->
        groupBy(seg, group).applyInPandas(per-group WAND / exact kernel)
        # ≤ S·G·k rows out; doclens ride INLINE in the blocks (format v5),
        # so the only exchange carries the pruned postings — never the
        # corpus-wide doclen blobs the pre-v5 cogroup shipped per query
    join convs on (seg, conv_rank) (doc ids are segment-local ranks)
    orderBy(score desc, conv_id, turn_idx) limit k     # TakeOrderedAndProject

Bucket pruning is the Spark analog of the reference's B-tree index seek
``SELECT ... WHERE word_id = ?`` (QueryService.java:448-452): the scan
touches only ``pmod(xxhash64(term), NB)`` partitions, never the full
postings table.  Every stage is a DataFrame op; per-group kernels are the
only Python, Arrow-batched.

Driver-local branch (``topk``, ``topk_batch``, ``match_count``,
``idf_map``/``df_map``)::

    if no scope and Σ over segments of bytes(query's postings bucket
            files) ≤ LOCAL_BUDGET_BYTES:
        per segment: pyarrow read of those files (term in fetch_terms),
            pandas groupby(group) → _with_seg(the SAME kernel closure)
        ≤ S·G·k candidates ⋈ their conv_rank rows of their own
            segment's convs (pyarrow, filtered)
        sort (score desc, conv_id, turn_idx), cut at k (per query in a batch)
        createDataFrame(pandas, schema)   # Arrow local relation: 0 jobs

The did-you-mean lookup (``_fuzzy_rows``) reads its sidecar buckets, or
without a sidecar the whole idf table, on the driver under the same
budget, and :func:`local_rows` does the same for a small bare parquet
table (``service.search`` reads its snippet rows through it).  The
tombstone, search_after and shadow lookups read the convs files on the
driver when those fit the budget.  Opening a reader launches no job:
N and Σdl come from the doclen tables and shadow sidecars read with
pyarrow, each segment lists its files on first use, and the Spark
DataFrame handles are built on first use too.  The budget is a module
constant; over-budget and scoped queries keep the Spark plan above.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from functools import cached_property, reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..oracle import (
    FUZZY_CAP,
    OPERATOR_PATTERN,
    PHRASE_PATTERN,
    PREFIX_CAP,
    assemble_expanded,
    classify_expansion_tokens,
    deletions1,
    parse_query_weights,
    parse_slop,
    rank_fuzzy_candidates,
    rewrite_fuzzy,
    rewrite_with_expansions,
    split_fuzzy_tokens,
    split_phrase_prefix,
    split_prefix_tokens,
    wildcard_literal_prefix,
    wildcard_to_like,
)
from ..textproc import analyze_query, analyze_text
from .build import TURN_BITS, TURN_MASK, IndexPaths, load_layout
from .codec import varbyte_decode
from .kernels import (
    TermPostings,
    _cut_topk,
    blockmax_topk,
    bool_candidates,
    conjunctive_candidates,
    exact_topk,
    msm_candidates,
    near_candidates,
    phrase_candidates,
    wand_topk,
)
from .xxhash import term_bucket

RESULT_SCHEMA = "doc_id long, score double"
TOPK_SCHEMA = "conv_id string, turn_idx int, score double"
BATCH_TOPK_SCHEMA = "query_id int, conv_id string, turn_idx int, score double"
# Driver-local budget: a topk/topk_batch/match_count/idf_map whose pruned
# bucket files total at most this many bytes runs in-process (pyarrow read
# + the same group kernel, one thread) with zero Spark jobs; larger ones
# take the Spark plan.  The did-you-mean lookup and ``local_rows`` read on
# the driver under the same byte rule.  Measured on the md fixture,
# local[4] on 4 vCPUs (BASELINE.md "Driver-local top-k"): the local path grows from 0.12 s at 1.5 MB to
# 0.49 s at 8.4 MB and 2.2 s at 19 MB, while the Spark path pays ~0.9 s
# of job overhead and spreads the kernels over the cores; they cross
# between 19 and 22 MB.  More cores move that point down, so the budget
# sits well below it, where the local path is still ~2x ahead at
# local[4]; it also bounds what one query pulls through the driver.
LOCAL_BUDGET_BYTES = 8 << 20


@dataclass
class QuerySpec:
    mode: str  # disjunctive | conjunctive | phrase | boolean
    score_terms: list[str]  # unique, sorted — summation set
    phrase_a: list[str] | None = None  # ordered phrase terms
    phrase_b: list[str] | None = None
    bool_op: str | None = None
    slop: int = 0  # phrase mode: ordered window ("a b"~N); 0 = exact
    weights: dict[str, float] | None = None  # term boosts (`tok^2.5`)
    min_match: int = 1  # disjunctive: require ≥ m distinct terms
    # ES match_phrase_prefix: a trailing-* last phrase token.  The
    # parser stores the raw marker; reader entry points resolve it into
    # `variants` (one idf-table TakeOrdered) BEFORE kernels run —
    # kernels have no vocabulary access and fail loud on an unresolved
    # marker.  variants == [] (prefix matched nothing) → no matches.
    phrase_prefix: str | None = None
    variants: list[str] | None = None
    # mode == "bool": the resolved unified-query-string clauses
    # (boolquery.BoolClauses) — built by operators/querystring.py, whose
    # vocabulary expansions need index access, so parse_query never
    # produces this mode itself.  score_terms == clauses.positive_terms.
    bool_clauses: object | None = None


def _fetch_terms(spec: "QuerySpec") -> list[str]:
    """Full posting-fetch set of one spec: scoring terms, boolean-mode
    phrase operands, and (bool mode) must_not terms — whose posting
    lists drive the exclusion set algebra without ever scoring."""
    base = set(spec.score_terms) | set(spec.phrase_a or []) | set(spec.phrase_b or [])
    if spec.bool_clauses is not None:
        base |= set(spec.bool_clauses.all_terms)
    return sorted(base)


def parse_query(
    query_text: str, mode: str, analyzed: bool = False, min_match: int = 1
) -> QuerySpec | None:
    """Reference query parsing (QueryService.java:73-134, 80-104).

    ``analyzed=True`` treats ``query_text`` as whitespace-joined
    POST-ANALYSIS index terms and skips re-analysis — the execution
    mode for prefix/fuzzy rewrites, whose expansions are vocabulary
    terms that a second Porter pass could corrupt (Porter is not
    idempotent: ``university → univers → univ``).  Only the term modes
    take pre-analyzed input; phrase/boolean positions depend on the
    original token stream.

    Term-mode tokens may carry Lucene-style boosts (``tok^2.5``),
    resolved here into ``QuerySpec.weights`` (largest wins on a term
    collision); ``min_match`` (disjunctive only) requires candidates to
    contain at least m distinct query terms (ES minimum_should_match).
    """
    if min_match < 1:
        raise ValueError(f"min_match must be >= 1, got {min_match}")
    if min_match > 1 and mode != "disjunctive":
        raise ValueError(f"min_match needs disjunctive mode, not {mode!r}")
    query_text, weights = parse_query_weights(query_text, mode, analyzed)
    if analyzed:
        if mode not in ("disjunctive", "conjunctive"):
            raise ValueError(
                f"analyzed=True supports disjunctive/conjunctive, not {mode!r}"
            )
        terms = query_text.split()
        if not terms:
            return None
        return QuerySpec(
            mode, sorted(set(terms)), weights=weights, min_match=min_match
        )
    if mode == "boolean":
        m = OPERATOR_PATTERN.search(query_text)
        phrases = PHRASE_PATTERN.findall(query_text)
        if not m or len(phrases) != 2:
            raise ValueError(f"invalid boolean query: {query_text!r}")
        op = m.group(1)
        lt, rt = analyze_text(phrases[0]), analyze_text(phrases[1])
        score = sorted(set(lt)) if op == "NOT" else sorted(set(lt + rt))
        return QuerySpec("boolean", score, lt, rt, op)
    if mode == "near":
        # unordered proximity window (Lucene SpanNearQuery inOrder=false
        # / Indri #uwN): same "a b c"~N surface as phrase, order-free
        # candidate semantics over the DISTINCT term set, BM25 scoring
        pm = PHRASE_PATTERN.search(query_text)
        terms = analyze_text(pm.group(1) if pm else query_text)
        if not terms:
            return None
        return QuerySpec(
            "near", sorted(set(terms)), terms, slop=parse_slop(query_text)
        )
    if mode == "phrase":
        pm = PHRASE_PATTERN.search(query_text)
        text, pprefix = split_phrase_prefix(pm.group(1) if pm else query_text)
        terms = analyze_text(text)
        if not terms and pprefix is None:
            return None
        # `"a b"~N` = ordered sloppy phrase (Lucene ordered SpanNearQuery
        # semantics — an extension; the reference matches exact-adjacent
        # only).  Candidates widen; scoring stays BM25 over the terms.
        # A trailing-* last token (`"incid resp*"`) is ES
        # match_phrase_prefix — stored raw here, resolved by the reader.
        return QuerySpec(
            "phrase", sorted(set(terms)), terms,
            slop=parse_slop(query_text), phrase_prefix=pprefix,
        )
    terms = analyze_query(query_text)
    if not terms:
        return None
    return QuerySpec(
        mode, sorted(set(terms)), weights=weights, min_match=min_match
    )


class Tombstones:
    """Resolved deletion set for ONE index's doc-id space.

    The reference deletes rows in place (its PostgreSQL store); an
    immutable columnar index deletes the LSM way instead — queries
    EXCLUDE tombstoned docs at candidate time (global stats stay as
    built, the standard LSM trade), and ``compact_segments`` removes
    them physically, refreshing N/avgdl/df.  ``conv_ranks`` deletes
    whole conversations (every turn, via the rank bits of the doc id);
    ``doc_ids`` deletes exact (conv, turn) docs.
    """

    __slots__ = ("doc_ids", "conv_ranks")

    def __init__(self, doc_ids: np.ndarray, conv_ranks: np.ndarray):
        self.doc_ids = np.unique(np.asarray(doc_ids, dtype=np.int64))
        self.conv_ranks = np.unique(np.asarray(conv_ranks, dtype=np.int64))

    def keep_mask(self, docs: np.ndarray, turn_bits: int) -> np.ndarray:
        keep = np.ones(docs.size, dtype=bool)
        if self.doc_ids.size:
            keep &= ~np.isin(docs, self.doc_ids, assume_unique=False)
        if self.conv_ranks.size:
            keep &= ~np.isin(docs >> turn_bits, self.conv_ranks)
        return keep

    def mask(self, docs: np.ndarray, turn_bits: int) -> np.ndarray:
        return docs[self.keep_mask(docs, turn_bits)]


def _tombstones(items: list, lookup) -> Tombstones:
    """Tombstone items → this index's doc-id space, given ``lookup``:
    conv_ids → {conv_id: conv_rank} of those present in the index."""
    conv_only = [it for it in items if isinstance(it, str)]
    pairs = [tuple(it) for it in items if not isinstance(it, str)]
    need = sorted(set(conv_only) | {c for c, _ in pairs})
    rank = lookup(need) if need else {}
    ranks = [rank[c] for c in conv_only if c in rank]
    doc_ids = [
        (rank[c] << TURN_BITS) | int(t) for c, t in pairs if c in rank
    ]
    return Tombstones(
        np.asarray(doc_ids, dtype=np.int64), np.asarray(ranks, dtype=np.int64)
    )


def resolve_tombstones(convs_df: DataFrame, items: list) -> Tombstones:
    """Tombstone items → this index's doc-id space.

    ``items`` mixes bare ``conv_id`` strings (delete the whole
    conversation) and ``(conv_id, turn_idx)`` pairs (delete one turn).
    Deletion sets are small (removal requests), so the rank lookup is a
    driver-side collect over the pruned conv table; items naming
    unknown conversations are no-ops (already absent).  The readers
    resolve through :meth:`Segment._conv_lookup` instead, which reads
    the convs files on the driver within the local budget."""

    def lookup(need: list[str]) -> dict[str, int]:
        rows = convs_df.filter(F.col("conv_id").isin(need)).select("conv_id", "conv_rank").collect()
        return {r.conv_id: int(r.conv_rank) for r in rows}

    return _tombstones(items, lookup)


def _tomb_key(items: list) -> tuple:
    """Canonical memo key for a tombstone item list (strings and
    (conv_id, turn_idx) pairs, order-insensitive)."""
    return tuple(
        sorted((it, -1) if isinstance(it, str) else (str(it[0]), int(it[1]))
               for it in items)
    )


def _for_seg(per_seg: dict | None, post_pdf: pd.DataFrame):
    """Kernel-side lookup of the batch's own entry in a per-segment dict
    (resolved tombstones, or a search_after cursor — each segment has
    its own conv_rank doc-id space), keyed by the batch's ``seg``."""
    if per_seg is None or len(post_pdf) == 0:
        return None
    return per_seg.get(int(post_pdf["seg"].iloc[0]))


def _weighted_idf(idf: dict[str, float], spec: QuerySpec) -> dict[str, float]:
    """Fold query boosts into the idf map: score = Σ (w·idf)·tf_bm25, so
    a pre-scaled map keeps EVERY kernel — including the block-max upper
    bounds TermPostings builds FROM this map — valid with zero kernel
    changes (w > 0 enforced at parse; bounds scale monotonically)."""
    if not spec.weights:
        return idf
    return {t: v * spec.weights.get(t, 1.0) for t, v in idf.items()}


def _topk_after(
    score_lists: dict,
    idf: dict[str, float],
    avgdl: float,
    k: int,
    cand: np.ndarray,
    after: tuple[float, int],
    with_ties: bool,
) -> tuple[np.ndarray, np.ndarray]:
    """Deep-pagination cut (search_after): score the WHOLE candidate set
    exactly, drop every (score, doc) at-or-before the cursor in
    (score desc, doc asc) order, then cut top-k.  Scoring all candidates
    is the same cost class as the offset path's page-N overfetch, but
    the group's EMISSION stays ≤ k rows — at page 1000 the offset path
    ships and sorts 1000·k rows per group; this ships k."""
    if cand.size == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    docs, scores = exact_topk(
        score_lists, idf, avgdl, int(cand.size), candidates=cand
    )
    cs, cd = float(after[0]), int(after[1])
    keep = (scores < cs) | ((scores == cs) & (docs > cd))
    return _cut_topk(docs[keep], scores[keep], k, with_ties)


def _phrase_cand(spec: QuerySpec, plists: dict) -> np.ndarray:
    """Phrase-mode candidate docs of one group.  With resolved
    match_phrase_prefix variants: the union over variants v of docs
    where ``phrase_a + [v]`` occurs (each chain runs the vectorized
    phrase kernel; the variant count is PREFIX_CAP-bounded)."""
    if spec.phrase_prefix is not None:
        raise ValueError(
            "unresolved phrase prefix — reader entry points must expand "
            "it against the vocabulary before kernels run"
        )
    if spec.variants is not None:
        sets = [
            phrase_candidates(list(spec.phrase_a or []) + [v], plists, spec.slop)
            for v in spec.variants
        ]
        sets = [s for s in sets if s.size]
        if not sets:
            return np.empty(0, dtype=np.int64)
        return np.unique(np.concatenate(sets))
    return phrase_candidates(spec.phrase_a or [], plists, spec.slop)


def _parse_batch(
    queries: list[tuple], default_k: int, analyzed: bool = False
) -> list[tuple[int, QuerySpec, int]]:
    """(query_text, mode[, k]) list → [(caller_index, spec, k)] for the
    parseable queries (the batch path of :meth:`IndexReader.topk_batch`).

    An element may instead be ``(QuerySpec[, k])`` — a PRE-COMPILED
    spec (e.g. a unified query string from ``compile_query_string``,
    whose vocabulary expansion cannot happen here), passed through
    unchanged."""
    parsed = []
    for q in queries:
        if isinstance(q[0], QuerySpec):
            if len(q) > 1 and not isinstance(q[1], int):
                raise ValueError(
                    "a pre-compiled batch element is (QuerySpec[, k]) — "
                    f"got second item {q[1]!r} (the spec already carries "
                    "its mode)"
                )
            parsed.append((q[0], int(q[1]) if len(q) > 1 else default_k))
        else:
            parsed.append((
                parse_query(q[0], q[1], analyzed=analyzed),
                (q[2] if len(q) > 2 else default_k),
            ))
    return [(i, s, kk) for i, (s, kk) in enumerate(parsed) if s is not None]


def _batch_term_sets(specs: list[tuple[int, QuerySpec, int]]) -> tuple[set, set]:
    fetch_terms: set[str] = set()
    score_terms: set[str] = set()
    for _, s, _ in specs:
        fetch_terms |= set(_fetch_terms(s))
        score_terms |= set(s.score_terms)
    return fetch_terms, score_terms


def _collapse_convs(
    docs: np.ndarray,
    scores: np.ndarray,
    k: int,
    with_ties: bool,
) -> tuple[np.ndarray, np.ndarray]:
    """(all scored turns, score-desc/doc-asc order) → one row per
    CONVERSATION (its best turn — highest score, lowest turn on ties),
    cut to the group-local top-k conversations.  Representative doc ids
    order like conv ids (different convs differ in the high bits), so
    the shared :func:`kernels._cut_topk` tie policy applies verbatim."""
    if docs.size == 0:
        return docs, scores
    convs = docs >> TURN_BITS
    # docs arrive sorted (score desc, doc asc): the FIRST occurrence of
    # each conv is its best turn under exactly that tie-break
    _, first = np.unique(convs, return_index=True)
    return _cut_topk(docs[first], scores[first], k, with_ties)


def _make_collapse_kernel(
    spec: QuerySpec,
    idf: dict[str, float],
    avgdl: float,
    k: int,
    with_ties: bool = False,
    exclude=None,
    scoped: bool = False,
    after=None,
):
    """Per-group kernel for conversation-collapsed top-k (the field-
    collapsing analog: rank CONVERSATIONS by their best matching turn).
    Collapse is group-LOCAL because ``group = pmod(xxhash64(conv_id))``
    — a conversation never spans the groups of one segment (the reader
    re-collapses across segments with a window).  Scores every
    candidate exactly (no block pruning — the collapse needs each
    conv's max, which a turn-level top-k cut could drop).  ``after``
    (resolved search_after cursor) filters COLLAPSED conv rows — the
    cursor names the previous page's last conversation (its
    representative turn), so the filter runs between collapse and cut,
    never on raw turns."""

    def collapse(post_pdf: pd.DataFrame, allow: np.ndarray | None) -> pd.DataFrame:
        if len(post_pdf) == 0 or (allow is not None and allow.size == 0):
            return pd.DataFrame({"doc_id": pd.array([], dtype="int64"),
                                 "score": pd.array([], dtype="float64")})
        plists = _build_plists(post_pdf, idf, avgdl)
        docs, scores = _score_spec(
            spec, idf, plists, avgdl, 1 << 62, "exact", False,
            tomb=_for_seg(exclude, post_pdf),
            allow=allow,
        )
        aft = _for_seg(after, post_pdf)
        if aft is None:
            docs, scores = _collapse_convs(docs, scores, k, with_ties)
        else:
            docs, scores = _collapse_convs(
                docs, scores, 1 << 62, False
            )
            cs, cd = float(aft[0]), int(aft[1])
            keep = (scores < cs) | ((scores == cs) & (docs > cd))
            docs, scores = _cut_topk(docs[keep], scores[keep], k, with_ties)
        return pd.DataFrame({"doc_id": docs, "score": scores})

    if scoped:
        def kernel(key: tuple, post_pdf: pd.DataFrame, allow_pdf: pd.DataFrame):
            return collapse(post_pdf, _allow_arr(allow_pdf))
    else:
        def kernel(key: tuple, post_pdf: pd.DataFrame) -> pd.DataFrame:
            return collapse(post_pdf, None)

    return kernel


def _rank_per_query(labeled: DataFrame, specs: list[tuple[int, QuerySpec, int]]) -> DataFrame:
    """Candidate rows (query_id, conv_id, turn_idx, score) → per-query
    top-k via a query_id-partitioned rank (WindowGroupLimit: partial
    per-partition top-k before the exchange, never one global task).
    The kernel emits qid = POSITION in the specs list; map position →
    that query's k for the rank filter, and position → the caller's
    original list index for the output."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("conv_id"), F.asc("turn_idx")
    )
    ks_df = F.create_map(
        *[x for pos, (_, _, kk) in enumerate(specs) for x in (F.lit(pos), F.lit(kk))]
    )
    qid_map = F.create_map(
        *[x for pos, (i, _, _) in enumerate(specs) for x in (F.lit(pos), F.lit(i))]
    )
    return (
        labeled.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= ks_df[F.col("query_id")])
        .select(
            qid_map[F.col("query_id")].cast("int").alias("query_id"),
            "conv_id",
            "turn_idx",
            "score",
        )
    )


def _data_files(table_dir: str) -> list[tuple[str, int]]:
    """(path, bytes) of one directory's parquet files — Spark's hidden
    ``_``/``.`` files (``_SUCCESS``, ``.crc``) skipped, as its reader
    skips them."""
    return [
        (f.path, f.stat().st_size)
        for f in os.scandir(table_dir)
        if f.is_file() and not f.name.startswith(("_", "."))
    ]


def _bucket_files(table_dir: str, col: str = "bucket") -> dict[int, list[tuple[str, int]]]:
    """``{col}=N`` partition dirs of a bucketed table → {N: files}."""
    prefix = f"{col}="
    return {
        int(d.name[len(prefix):]): _data_files(d.path)
        for d in os.scandir(table_dir)
        if d.is_dir() and d.name.startswith(prefix)
    }


def _topk_frame(spark: SparkSession, out: pd.DataFrame | None, schema: str = TOPK_SCHEMA) -> DataFrame:
    """A driver-held top-k (None: no rows) → DataFrame built from Arrow,
    which Spark holds as a local relation: collecting it launches no job,
    where rows from a Python list would launch one.  An EMPTY pandas
    frame takes Spark's RDD fallback (one job) too, so no rows is a
    one-row frame cut to zero."""
    if out is None:
        one = pd.DataFrame({"query_id": pd.array([0], dtype="int32"), "conv_id": [""],
                            "turn_idx": pd.array([0], dtype="int32"), "score": [0.0]})
        cols = [f.split()[0] for f in schema.split(",")]
        return spark.createDataFrame(one[cols], schema).limit(0)
    return spark.createDataFrame(out, schema)


def _read_local(files: list[str], columns: list[str] | None, key: str, values: list) -> pd.DataFrame:
    """Rows whose ``key`` is in ``values``, read from the given parquet
    files on the driver (row groups pruned by their key statistics)."""
    import pyarrow.parquet as pq

    return pq.read_table(
        files, columns=columns, filters=[(key, "in", list(values))]
    ).to_pandas()


def _read_table(table_dir: str, columns: list[str]):
    """``columns`` of a small unpartitioned local parquet table (a
    sidecar, a per-group stats table) as a pyarrow Table read on the
    driver, or None when the table does not exist or holds no file."""
    import pyarrow.parquet as pq

    if not os.path.isdir(table_dir):
        return None
    files = [p for p, _ in _data_files(table_dir)]
    return pq.read_table(files, columns=columns) if files else None


def _with_seg(inner):
    """Wrap a grouped kernel so its output carries the segment id from
    the (seg, group) key — the kernel itself sees one group of one
    segment."""

    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        out = inner(key[1:], pdf)
        out.insert(0, "seg", np.full(len(out), key[0], dtype="int32"))
        return out

    return kernel


def _with_seg_scoped(inner):
    """Cogroup counterpart of :func:`_with_seg` for scoped kernels —
    (key, postings, allow) with the (seg, group) composite key."""

    def kernel(key: tuple, pdf: pd.DataFrame, allow_pdf: pd.DataFrame) -> pd.DataFrame:
        out = inner(key[1:], pdf, allow_pdf)
        out.insert(0, "seg", np.full(len(out), key[0], dtype="int32"))
        return out

    return kernel


def _pruned_files(segs: list["Segment"], table: str, terms: list[str]) -> list[list[str]] | None:
    """Per segment, the files of ``table``'s (postings/idf) buckets
    holding ``terms``, when every segment can run locally and the files
    of ALL segments total at most :data:`LOCAL_BUDGET_BYTES`; else None,
    and the query takes the Spark plan."""
    per_seg, total = [], 0
    for seg in segs:
        listing = seg._local_listing()
        if not listing:
            return None
        files = [f for b in seg._buckets(terms) for f in listing[table].get(b, ())]
        total += sum(n for _, n in files)
        per_seg.append([p for p, _ in files])
    return None if total > LOCAL_BUDGET_BYTES else per_seg


def _local_groups(segs: list["Segment"], fetch_terms: list[str], kernel) -> list[pd.DataFrame] | None:
    """Driver-local executor over the segments ``segs``: read each segment's pruned postings with pyarrow, group
    them by ``group`` in pandas and hand each group to
    ``_with_seg(kernel)``, the closure ``applyInPandas`` runs on the
    Spark plan.  Returns the per-group outputs, each with its ``seg``
    column, or None when the query is over budget."""
    files = _pruned_files(segs, "postings", fetch_terms)
    if files is None:
        return None
    kernel = _with_seg(kernel)
    out = []
    for i, seg_files in enumerate(files):
        if not seg_files:
            continue
        # the seg column picks a segment's tombstones/cursor (_for_seg)
        post = _read_local(seg_files, None, "term", fetch_terms).assign(seg=np.int32(i))
        out += [kernel((i, g), gdf.reset_index(drop=True)) for g, gdf in post.groupby("group", sort=True)]
    return out


def _label_local(segs: list["Segment"], frames: list[pd.DataFrame]) -> pd.DataFrame | None:
    """Local kernel outputs (seg, doc_id, score[, query_id]) → the same
    rows with conv_id and turn_idx, or None when there are none.  Doc
    ids are segment-local, so each segment's candidates are labelled
    from only their ``conv_rank`` rows of that segment's convs files."""
    cand = pd.concat(frames, ignore_index=True) if frames else None
    if cand is None or cand.empty:
        return None
    docs = cand["doc_id"].to_numpy(dtype=np.int64)
    cand = cand.assign(conv_rank=docs >> TURN_BITS, turn_idx=(docs & TURN_MASK).astype(np.int32))
    convs = pd.concat([
        _read_local(
            [p for p, _ in segs[i]._listing["convs"]], ["conv_id", "conv_rank"],
            "conv_rank", np.unique(part["conv_rank"]).tolist(),
        ).assign(seg=np.int32(i))
        for i, part in cand.groupby("seg")
    ], ignore_index=True)
    return cand.merge(convs, on=["seg", "conv_rank"])


def _topk_local(segs: list["Segment"], frames: list[pd.DataFrame], k: int) -> DataFrame:
    """Local kernel outputs (≤ S·G·k candidates) → the labelled top-k."""
    cand = _label_local(segs, frames)
    if cand is None:
        return _topk_frame(segs[0].spark, None)
    return _topk_frame(segs[0].spark, (
        cand.sort_values(["score", "conv_id", "turn_idx"], ascending=[False, True, True])
        .head(k)[["conv_id", "turn_idx", "score"]]
    ))


def _batch_local(segs: list["Segment"], frames: list[pd.DataFrame],
                 specs: list[tuple[int, QuerySpec, int]]) -> DataFrame:
    """Local batch-kernel outputs → each query's labelled top-k, the
    rows :func:`_rank_per_query` keeps: row number ≤ that query's k
    in (score desc, conv_id, turn_idx) order, with the kernel's
    position mapped back to the caller's list index."""
    cand = _label_local(segs, frames)
    if cand is None:
        return _topk_frame(segs[0].spark, None, BATCH_TOPK_SCHEMA)
    ranked = cand.sort_values(
        ["query_id", "score", "conv_id", "turn_idx"], ascending=[True, False, True, True]
    )
    pos = ranked["query_id"].to_numpy()
    ks = np.array([kk for _, _, kk in specs], dtype=np.int64)
    keep = ranked.groupby("query_id").cumcount().to_numpy() < ks[pos]
    ids = np.array([i for i, _, _ in specs], dtype=np.int32)
    out = ranked[keep].assign(query_id=ids[pos[keep]])
    return _topk_frame(segs[0].spark, out[["query_id", "conv_id", "turn_idx", "score"]],
                       BATCH_TOPK_SCHEMA)


def local_rows(df: DataFrame, columns: list[str], key: str, values: list) -> DataFrame | None:
    """``df``'s rows whose ``key`` is in ``values``, read with pyarrow on
    the driver and returned as an Arrow-built local relation, so the
    expressions a caller applies to it and its collect launch no job.
    Only when ``df`` is a bare scan of unpartitioned local parquet files
    totalling at most :data:`LOCAL_BUDGET_BYTES`; otherwise None."""
    from pyspark.sql.types import StructType
    from urllib.parse import unquote, urlparse

    jdf = getattr(df, "_jdf", None)
    if jdf is None or not set(columns) <= set(df.schema.fieldNames()):
        return None
    plan = jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return None
    rel = plan.relation()
    if (
        rel.getClass().getSimpleName() != "HadoopFsRelation"
        or rel.fileFormat().shortName() != "parquet"
        or rel.partitionSchema().length() > 0
    ):
        return None
    uris = df.inputFiles()
    if not uris or not all(u.startswith("file:") for u in uris):
        return None
    files = [unquote(urlparse(u).path) for u in uris]
    if sum(map(os.path.getsize, files)) > LOCAL_BUDGET_BYTES:
        return None
    rows = _read_local(files, columns, key, values)
    if rows.empty:
        return None  # an empty pandas frame would take Spark's RDD fallback
    schema = StructType([df.schema[c] for c in columns])
    return df.sparkSession.createDataFrame(rows[columns], schema)


class Segment:
    """One conv_rank index root as the reader sees it: its paths, meta
    and file listing, the lazy Spark handles over its tables, and the
    per-root lookups (conversation ranks, tombstones, cursors, explain
    rows, fuzzy candidates) that :class:`IndexReader` fans out to.

    Opening one launches no Spark job: the handles are built on first
    use and the file listing on the first driver-local read."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.paths = IndexPaths(root)
        self.meta = load_layout(root)
        self.num_buckets = int(self.meta["num_buckets"])
        self.turn_bits = int(self.meta["turn_bits"])
        # conv_rank doc ids are order-isomorphic to (conv_id, turn_idx),
        # letting kernels cut exactly at k with doc-id tiebreaks.  An
        # incremental extend that appended lexicographically-earlier
        # conversations breaks the isomorphism (extend.py records it in
        # meta); then the kernels must return score-ties at the boundary
        # so the final ORDER BY conv_id resolves them.
        self.tie_safe = not self.meta.get("docid_order_isomorphic", True)
        self._after_memo: dict[tuple, int] = {}
        # the driver-local path's file listing, built on first use
        # (:meth:`_local_listing`) so opens never pay for it
        self._listing: dict | None = None

    # persistent DataFrame handles, built on first use: the parquet file
    # index (directory listing over NUM_BUCKETS partition dirs, a Spark
    # job when there are many) and the convs schema inference (a job
    # too) are paid once by the first Spark-plan query, never by an open
    # whose queries all run on the driver

    @cached_property
    def _convs(self) -> DataFrame:
        return self.spark.read.parquet(self.paths.convs).cache()

    @cached_property
    def _postings(self) -> DataFrame:
        # explicit schemas: an index over an all-stopword corpus has an
        # EMPTY idf table, which schema inference cannot read
        from .build import BLOCKS_SCHEMA

        return self.spark.read.schema(BLOCKS_SCHEMA + ", bucket int").parquet(self.paths.postings)

    @cached_property
    def _idf(self) -> DataFrame:
        return self.spark.read.schema("term string, df long, idf double, bucket int").parquet(
            self.paths.idf
        )

    def _buckets(self, terms: list[str]) -> list[int]:
        # driver-side XXH64 — identical to the writer's Spark xxhash64,
        # no job launch (parity pinned by tests/test_xxhash.py)
        return sorted({term_bucket(t, self.num_buckets) for t in terms})

    def postings_df(self, terms: list[str]) -> DataFrame:
        return self._postings.filter(
            F.col("bucket").isin(self._buckets(terms)) & F.col("term").isin(terms)
        )

    # -- driver-local execution --------------------------------------

    def _local_listing(self) -> dict:
        """The postings/idf bucket files and the convs files, listed on
        first use; empty when the index cannot run locally."""
        if self._listing is None:
            dirs = (self.paths.postings, self.paths.idf, self.paths.convs)
            self._listing = {
                "postings": _bucket_files(self.paths.postings),
                "idf": _bucket_files(self.paths.idf),
                "convs": _data_files(self.paths.convs),
            } if all(map(os.path.isdir, dirs)) else {}
        return self._listing

    def _local_files(self, table: str, terms: list[str]) -> list[str] | None:
        """Files of ``table``'s (postings/idf) buckets holding ``terms``
        when they total at most :data:`LOCAL_BUDGET_BYTES`, else None —
        the query then takes the Spark plan (:func:`_pruned_files`)."""
        files = _pruned_files([self], table, terms)
        return None if files is None else files[0]

    def _convs_files(self) -> list[str] | None:
        """The convs files when the index runs locally and they total at
        most :data:`LOCAL_BUDGET_BYTES`, else None."""
        convs = self._local_listing().get("convs")
        if convs is None or sum(n for _, n in convs) > LOCAL_BUDGET_BYTES:
            return None
        return [p for p, _ in convs]

    def _conv_lookup(self, conv_ids: list[str]) -> dict[str, tuple[int, int]]:
        """conv_id → (conv_rank, group) of the named conversations present
        in this root: read from the convs files on the driver within the
        local budget, else one small Spark collect."""
        cols = ["conv_id", "conv_rank", "group"]
        files = self._convs_files()
        if files is not None:
            rows = _read_local(files, cols, "conv_id", conv_ids).itertuples(index=False)
        else:
            rows = self._convs.filter(F.col("conv_id").isin(conv_ids)).select(*cols).collect()
        return {c: (int(r), int(g)) for c, r, g in rows}

    # -- per-root lookups --------------------------------------------

    def _resolve_after(self, search_after) -> tuple[float, int]:
        """(score, conv_id, turn_idx) cursor → (score, cursor_doc_id) in
        THIS root's doc-id space (search_after deep pagination).

        conv_rank assignment is order-isomorphic to conv_id (pinned by
        tests), so "strictly after the cursor" is exactly
        ``doc_id > cdoc`` at equal score.  A cursor conversation ABSENT
        from the root (e.g. its docs live in another segment) still
        cuts correctly through the boundary rank r = |{convs < conv}|:
        every doc after the cursor has ``doc_id >= r << turn_bits``,
        i.e. ``doc_id > (r << turn_bits) - 1``.  One convs lookup per
        distinct cursor, memoized: on the driver within the local budget,
        else a small Spark job."""
        if self.tie_safe:
            raise ValueError(
                "search_after needs doc-id order isomorphic to (conv_id, "
                "turn_idx); this index's meta records the isomorphism "
                "broken (out-of-order extend) — compact first"
            )
        score, conv_id, turn_idx = search_after
        key = (str(conv_id), int(turn_idx))
        cdoc = self._after_memo.get(key)
        if cdoc is None:
            hit = self._conv_lookup([conv_id]).get(conv_id)
            if hit is not None:
                cdoc = (hit[0] << self.turn_bits) | int(turn_idx)
            else:
                files = self._convs_files()
                if files is None:
                    r = self._convs.filter(F.col("conv_id") < conv_id).count()
                else:
                    import pyarrow.parquet as pq

                    r = pq.read_table(files, columns=["conv_id"],
                                      filters=[("conv_id", "<", conv_id)]).num_rows
                cdoc = (r << self.turn_bits) - 1
            self._after_memo[key] = cdoc
        return (float(score), cdoc)

    def _doc_coords(self, conv_id: str, turn_idx: int) -> tuple[int, int] | None:
        """(group, doc_id) of one (conv_id, turn_idx), or None when the
        conversation is absent from this root — one convs lookup
        (diagnostic path, not cached)."""
        hit = self._conv_lookup([conv_id]).get(conv_id)
        if hit is None:
            return None
        return hit[1], (hit[0] << self.turn_bits) | int(turn_idx)

    def _explain_rows(
        self, spec: QuerySpec, idf: dict[str, float], avgdl: float,
        group: int, doc_id: int,
    ) -> list:
        """Collected (term, tf, dl) rows of ONE doc for one query — the
        distributed half of :meth:`IndexReader.explain`: a bucket-pruned,
        group-filtered postings scan feeding a single-group kernel that
        checks candidate membership (same ``_candidates_spec`` dispatch
        every count/matches kernel runs — one group's pruned postings,
        1/num_groups of a query's kernel work).  Empty when the doc does
        not match the query."""
        kernel = _make_explain_kernel(spec, idf, avgdl, doc_id)
        post = self.postings_df(_fetch_terms(spec)).filter(F.col("group") == group)
        return post.groupBy("group").applyInPandas(
            kernel, schema=EXPLAIN_KERNEL_SCHEMA
        ).collect()

    def _fuzzy_rows(self, terms: list[str]) -> dict[str, list[tuple[str, int]]]:
        """Delete-1 collision candidates per fuzzy query term →
        {term: [(vocab_term, df), ...]} (UNVERIFIED — the caller runs
        the exact ed≤1 check).  One bucket-pruned scan of the persisted
        sidecar when present (``index/fuzzy.py``); otherwise variants
        derive from the idf table per query — a full vocabulary scan,
        documented as the small-index fallback only.  Within the
        driver-local budget either read runs on the driver."""
        per_term = {t: set(deletions1(t)) | {t} for t in terms}
        all_vars = sorted(set().union(*per_term.values()))
        fuzzy_dir = os.path.join(self.paths.root, "fuzzy")
        rows = self._fuzzy_rows_local(fuzzy_dir, all_vars)
        if rows is None:
            rows = self._fuzzy_rows_spark(fuzzy_dir, all_vars)
        by_var: dict[str, list[tuple[str, int]]] = {}
        for r in rows:
            by_var.setdefault(r["variant"], []).append((r["term"], int(r["df"])))
        out: dict[str, list[tuple[str, int]]] = {}
        for t, tv in per_term.items():
            seen: dict[str, int] = {}
            for v in tv:
                seen.update(by_var.get(v, ()))
            out[t] = list(seen.items())
        return out

    def _fuzzy_rows_spark(self, fuzzy_dir: str, all_vars: list[str]) -> list:
        """The (variant, term, df) rows of :meth:`_fuzzy_rows` through a
        Spark scan of the sidecar, or of the idf table without one."""
        if os.path.isdir(fuzzy_dir):
            from .fuzzy import FUZZY_SCHEMA

            vb = sorted({term_bucket(v, self.num_buckets) for v in all_vars})
            return (
                self.spark.read.schema(FUZZY_SCHEMA).parquet(fuzzy_dir)
                .filter(F.col("vbucket").isin(vb) & F.col("variant").isin(all_vars))
                .select("variant", "term", "df")
                .collect()
            )
        from .fuzzy import VARIANTS_EXPR

        return (
            self._idf.select("term", "df")
            .withColumn("variant", F.explode(F.expr(VARIANTS_EXPR)))
            .filter(F.col("variant").isin(all_vars))
            .select("variant", "term", "df")
            .collect()
        )

    def _fuzzy_rows_local(self, fuzzy_dir: str, all_vars: list[str]) -> list[dict] | None:
        """The (variant, term, df) rows of :meth:`_fuzzy_rows` read on the
        driver when the files they come from fit :data:`LOCAL_BUDGET_BYTES`:
        the sidecar buckets of ``all_vars``, or without a sidecar the whole
        idf table, whose variants are derived here as ``VARIANTS_EXPR``
        derives them (the term itself and its single-character
        deletions).  None when the Spark scan must run instead."""
        listing = self._local_listing()
        if not listing:
            return None
        if os.path.isdir(fuzzy_dir):
            sidecar = _bucket_files(fuzzy_dir, "vbucket")
            files = [
                f for b in sorted({term_bucket(v, self.num_buckets) for v in all_vars})
                for f in sidecar.get(b, ())
            ]
            if sum(n for _, n in files) > LOCAL_BUDGET_BYTES:
                return None
            if not files:
                return []
            return _read_local(
                [p for p, _ in files], ["variant", "term", "df"], "variant", all_vars
            ).to_dict("records")
        files = [f for fs in listing["idf"].values() for f in fs]
        if sum(n for _, n in files) > LOCAL_BUDGET_BYTES:
            return None
        if not files:
            return []
        import pyarrow.parquet as pq

        vocab = pq.read_table([p for p, _ in files], columns=["term", "df"]).to_pandas()
        wanted = set(all_vars)
        # a term matches a variant of its own length or one shorter
        lengths = {len(v) for v in wanted} | {len(v) + 1 for v in wanted}
        near = vocab[vocab["term"].str.len().isin(lengths)]
        return [
            {"variant": v, "term": t, "df": df}
            for t, df in zip(near["term"], near["df"])
            for v in {t, *deletions1(t)} & wanted
        ]


def _column_sums(table_dir: str, columns: list[str]) -> list[int]:
    """Exact integer sums of ``columns`` over a small local parquet table
    (0 for an absent or empty one), read with pyarrow on the driver."""
    t = _read_table(table_dir, columns)
    if t is None:
        return [0] * len(columns)
    return [sum(v for v in t.column(c).to_pylist() if v is not None) for c in columns]


def _shadow_hits(pdf: pd.DataFrame, ids: np.ndarray) -> pd.DataFrame:
    """Postings rows (term, doc_blob) → (term, c): per row, how many of
    the sorted shadowed doc ``ids`` its block holds."""
    ts, cs = [], []
    for term, blob in zip(pdf["term"], pdf["doc_blob"]):
        docs = np.cumsum(varbyte_decode(blob).astype(np.int64))
        j = np.searchsorted(ids, docs)
        hit = (j < ids.size) & (ids[np.minimum(j, ids.size - 1)] == docs)
        ts.append(term)
        cs.append(int(hit.sum()))
    return pd.DataFrame({"term": ts, "c": cs})


class IndexReader:
    """Query engine over N ≥ 1 conv_rank index segments (``segments``,
    oldest first, later segments win), answering as ONE index.

    Segments hold disjoint documents, so the global BM25 statistics are
    exact sums: N = Σ n_docs and avgdl = Σ dl / N over the per-group
    doclen tables, df(t) = Σ df_i(t), and idf = ``ln((1+N)/(1+df)) + 1``
    (IndexerService.java:966) at that N — results equal one index built
    over the union byte-for-byte (pinned by tests).  A (conv_id,
    turn_idx) may appear in several segments ONLY when every earlier
    occurrence is named by a later segment's SHADOW sidecar
    (``ingest_update_segment`` writes it).  Shadowed docs are excluded
    at candidate time like tombstones, and the statistics are corrected
    EXACTLY (not the usual LSM approximation): N and Σdl subtract the
    sidecars' ``n_prev``/``dl_prev`` totals, and per-term df subtracts
    the shadowed docs whose posting lists hold the term, counted from
    their own blocks at query time (memoized in the idf cache).

    Doc ids are segment-local conv ranks, so every plan carries the
    segment id: kernels run per (seg, group), exclusions and cursors
    are per-segment dicts, and candidates are labelled on (seg,
    conv_rank).  Group kernels cut exactly at k (and may run WAND) only
    when doc-id order is the (conv_id, turn_idx) tie-break order: one
    order-isomorphic segment.  Otherwise they emit boundary score-ties
    (``tie_safe``) for the global sort to resolve.

    A one-segment reader also answers for its root's own state (paths,
    meta, the Spark handles, the file listing) through its segment.
    """

    def __init__(self, spark: SparkSession, roots: list[str]):
        if not roots:
            raise ValueError("a reader needs at least one segment root")
        self.spark = spark
        self.segments = [Segment(spark, r) for r in roots]
        self.tie_safe = len(self.segments) > 1 or self.segments[0].tie_safe
        # exact global stats from the per-group doclen tables (G rows per
        # segment, read with pyarrow — no Spark job); summing the integer
        # totals reproduces a single build's avgdl bit-for-bit
        n_all = tok_all = 0
        for seg in self.segments:
            n, tok = _column_sums(seg.paths.doclen, ["n_docs", "sum_dl"])
            n_all, tok_all = n_all + n, tok_all + tok
        # shadow sidecars (update segments): keys a later segment
        # supersedes in earlier ones — applied as per-segment exclusion
        # sets, with exact N/Σdl corrections from the sidecar totals of
        # every segment that has an earlier one to supersede
        from .extend import read_shadow_keys, shadows_path

        self._shadow_keys = [read_shadow_keys(spark, r) for r in roots]
        self._shadow_for = [
            sorted({key for keys in self._shadow_keys[i + 1:] for key in keys})
            for i in range(len(roots))
        ]
        self._shadow_resolved: dict[int, tuple] | None = None
        for r in roots[1:]:
            n, dl = _column_sums(shadows_path(r), ["n_prev", "dl_prev"])
            n_all, tok_all = n_all - n, tok_all - dl
        self.n_docs = n_all
        self.avgdl = tok_all / n_all if n_all else 0.0
        self._idf_cache: dict[str, float] = {}
        self._df_cache: dict[str, int] = {}
        self._tomb_memo: dict[tuple, dict | None] = {}
        self._syn_memo: dict[str, list[str]] | None = None

    def __getattr__(self, name: str):
        # only for names the reader lacks: a one-segment reader reads
        # them from its segment (see the class docstring)
        segs = self.__dict__.get("segments", ())
        if len(segs) == 1 and not name.startswith("__"):
            return getattr(segs[0], name)
        raise AttributeError(f"{type(self).__name__!r} object has no attribute {name!r}")

    @cached_property
    def _convs(self) -> DataFrame:
        # doc ids are segment-local conv ranks, so labels join on (seg,
        # conv_rank); one conversation may appear in several segments
        # (new turns in a later delta) — each row maps only its own
        # segment's candidates
        return reduce(DataFrame.unionByName, [
            seg._convs.select("conv_id", "conv_rank").withColumn("seg", F.lit(i))
            for i, seg in enumerate(self.segments)
        ])

    def warm(self) -> None:
        """List the files the driver-local path reads (each segment's
        :meth:`Segment._local_listing`) — no Spark job.  The Spark plan's
        cached handles fill on the first query that takes it."""
        for seg in self.segments:
            seg._local_listing()

    def postings_df(self, terms: list[str]) -> DataFrame:
        """Every segment's bucket-pruned postings of ``terms``, each row
        tagged with its segment id ``seg``."""
        return reduce(DataFrame.unionByName, [
            seg.postings_df(terms).withColumn("seg", F.lit(i))
            for i, seg in enumerate(self.segments)
        ])

    # -- exclusions and statistics -----------------------------------

    def _shadow_exclude(self) -> dict | None:
        """Per-segment (Tombstones, affected-groups) for shadowed docs,
        resolved once per instance — sidecar lists are update-batch
        sized, so the rank lookup is one small convs lookup per segment
        (on the driver within the local budget)."""
        if not any(self._shadow_for):
            return None
        if self._shadow_resolved is None:
            d: dict[int, tuple] = {}
            for i, seg in enumerate(self.segments):
                items = self._shadow_for[i]
                if not items:
                    continue
                rank = seg._conv_lookup(sorted({c for c, _ in items}))
                ids, groups = [], set()
                for c, t in items:
                    if c in rank:
                        ids.append((rank[c][0] << TURN_BITS) | int(t))
                        groups.add(rank[c][1])
                if ids:
                    d[i] = (
                        Tombstones(np.asarray(ids, dtype=np.int64), np.empty(0, dtype=np.int64)),
                        sorted(groups),
                    )
            self._shadow_resolved = d
        return self._shadow_resolved or None

    def _resolve_tomb(self, tombstones) -> dict | None:
        """Tombstone items ∪ shadow supersession → one :class:`Tombstones`
        per segment (doc ids are segment-local rank encodings); kernels
        pick their segment's set from the batch's ``seg`` column.
        Memoized per distinct list: the same deletion list arrives on
        every topk/match_count call of a request (service.search
        resolves it twice otherwise) — one convs lookup per segment and
        list, on the driver within the local budget."""
        key = _tomb_key(tombstones or [])
        if key not in self._tomb_memo:
            shadow = self._shadow_exclude() or {}
            out: dict[int, Tombstones] = {}
            for i, seg in enumerate(self.segments):
                parts = [shadow[i][0]] if i in shadow else []
                if tombstones:
                    parts.append(_tombstones(tombstones, lambda need: {
                        c: r for c, (r, _g) in seg._conv_lookup(need).items()
                    }))
                if parts:
                    out[i] = Tombstones(
                        np.concatenate([p.doc_ids for p in parts]),
                        np.concatenate([p.conv_ranks for p in parts]),
                    )
            self._tomb_memo[key] = out or None
        return self._tomb_memo[key]

    def _resolve_after(self, search_after) -> dict | None:
        """(score, conv_id, turn_idx) cursor → one (score, cursor_doc_id)
        per segment, each resolved and memoized by
        :meth:`Segment._resolve_after` — a segment not holding the
        cursor conversation cuts through its boundary rank, so the
        filter stays exact even when the cursor doc lives elsewhere."""
        if search_after is None:
            return None
        return {i: seg._resolve_after(search_after) for i, seg in enumerate(self.segments)}

    def _shadow_df_counts(self, terms: list[str]) -> dict[str, int]:
        """For each term: how many SHADOWED docs contain it, summed over
        segments — the exact df correction.  One bucket+group-pruned
        scan of the shadowed docs' posting blocks per segment that has
        any (results land in the idf cache, so each term pays once); the
        blocks are read with pyarrow on the driver when their files fit
        the local budget, else by a Spark scan."""
        out = {t: 0 for t in terms}
        sh = self._shadow_exclude()
        if sh is None or not terms:
            return out
        segs = sorted(sh)
        files = _pruned_files([self.segments[i] for i in segs], "postings", terms)
        for n, i in enumerate(segs):
            tomb, groups = sh[i]
            ids = np.sort(tomb.doc_ids)
            if files is not None:
                if not files[n]:
                    continue
                post = _read_local(files[n], ["term", "doc_blob", "group"], "term", terms)
                rows = _shadow_hits(post[post["group"].isin(groups)], ids).groupby("term")["c"].sum().items()
            else:
                rows = (
                    self.segments[i].postings_df(terms)
                    .filter(F.col("group").isin(groups))
                    .select("term", "doc_blob")
                    .mapInPandas(lambda it, _ids=ids: (_shadow_hits(p, _ids) for p in it),
                                 schema="term string, c long")
                    .groupBy("term")
                    .agg(F.sum("c").alias("c"))
                    .collect()
                )
            for term, c in rows:
                out[term] += int(c)
        return out

    def idf_map(self, terms: list[str]) -> dict[str, float]:
        """Bucket-pruned idf lookup; absent terms get df=0 idf (oracle
        parity).  Within the driver-local budget the idf files are read
        on the driver, with no Spark job."""
        import math

        uniq = sorted(set(terms))
        if not uniq:
            return {}
        missing = [t for t in uniq if t not in self._idf_cache]
        if missing:
            files = _pruned_files(self.segments, "idf", missing)
            if files is None:
                rows = (
                    reduce(DataFrame.unionByName, [
                        seg._idf.filter(
                            F.col("bucket").isin(seg._buckets(missing)) & F.col("term").isin(missing)
                        ).select("term", "df")
                        for seg in self.segments
                    ])
                    .groupBy("term")
                    .agg(F.sum("df"))
                    .collect()
                )
            else:
                parts = [_read_local(fs, ["term", "df"], "term", missing) for fs in files if fs]
                rows = pd.concat(parts).groupby("term")["df"].sum().items() if parts else []
            found = {t: int(df) for t, df in rows}
            corr = self._shadow_df_counts(missing)
            for t in missing:
                df = found.get(t, 0) - corr.get(t, 0)
                self._df_cache[t] = df
                # from df, not the stored idf column: the JVM's log that
                # wrote it differs from math.log (the oracle's) by 1 ulp
                # on some terms
                self._idf_cache[t] = math.log((1.0 + self.n_docs) / (1.0 + df)) + 1.0
        return {t: self._idf_cache[t] for t in uniq}

    def df_map(self, terms: list[str]) -> dict[str, int]:
        """Per-term document frequency (same bucket-pruned scan as
        :meth:`idf_map`, shared cache); absent terms get df=0."""
        self.idf_map(terms)
        return {t: self._df_cache[t] for t in sorted(set(terms))}

    # -- vocabulary expansion ----------------------------------------

    def expand_prefixes(self, query_text: str, limit: int = PREFIX_CAP) -> str:
        """Rewrite trailing-``*`` tokens into their matching index terms
        (``kuber* pod`` → ``kubernetes kuberctl pod``) — the Lucene
        multi-term-query contract: the wildcard matches the POST-STEM
        index vocabulary (wildcard terms skip analysis), expansion is
        capped at ``limit`` terms per prefix (highest df first, term asc
        ties — the most selective rewrite), and unmatched prefixes drop
        out.  The rewritten string feeds the ordinary query paths, so
        expansion composes with scope/tombstones/batch for free.

        Physically one scan of the one-row-per-term idf table with the
        ``StartsWith`` filters pushed to parquet (the term-hash bucket
        layout cannot prune a prefix — the vocabulary table is the
        right side to pay that scan on, postings stay bucket-pruned)."""
        toks, prefixes = split_prefix_tokens(query_text)
        if not prefixes:
            return query_text
        return rewrite_with_expansions(
            toks, self._prefix_expansions(prefixes, limit)
        )

    def _vocab_topdf(
        self, items: list[tuple[str, "F.Column"]], limit: int
    ) -> dict[str, list[str]]:
        """Per-key TakeOrdered over the union of the segments'
        one-row-per-term idf tables, df summed per term (raw sums —
        shadow-superseded copies may inflate a tie-break, which only
        affects the cap boundary ordering, never scoring): the df-desc
        cap runs DISTRIBUTED, so the driver receives at most ``limit``
        rows per key — a short pattern over a 10^9-term vocabulary must
        not collect millions of matches before capping.  ``items`` =
        (key, boolean filter over the vocabulary)."""
        parts = []
        for key, cond in items:
            vocab = reduce(DataFrame.unionByName, [seg._idf.filter(cond).select("term", "df")
                                                   for seg in self.segments])
            if len(self.segments) > 1:  # one idf row per term and segment
                vocab = vocab.groupBy("term").agg(F.sum("df").alias("df"))
            parts.append(
                vocab.orderBy(F.desc("df"), F.asc("term"))
                .limit(limit)
                .select(F.lit(key).alias("key"), "term", "df")
            )
        rows = reduce(DataFrame.unionByName, parts).collect()
        by_key: dict[str, list[tuple[int, str]]] = {}
        for r in rows:  # union row order is unspecified — re-rank driver-side
            by_key.setdefault(r["key"], []).append((int(r["df"]), r["term"]))
        return {
            p: [t for _df, t in sorted(hits, key=lambda x: (-x[0], x[1]))]
            for p, hits in by_key.items()
        }

    def _prefix_expansions(
        self, prefixes: list[str], limit: int
    ) -> dict[str, list[str]]:
        return self._vocab_topdf(
            [(p, F.col("term").startswith(p)) for p in prefixes], limit
        )

    def _wildcard_expansions(
        self, patterns: list[str], limit: int
    ) -> dict[str, list[str]]:
        """General wildcard (``*``/``?`` anywhere) expansion over the
        post-stem vocabulary — Lucene WildcardQuery semantics.  The
        longest literal prefix is pushed as an extra StartsWith (prunes
        the scan unless the pattern leads with a wildcard, Lucene's own
        cost cliff); the LIKE itself evaluates in codegen."""
        items = []
        for p in patterns:
            cond = F.col("term").like(wildcard_to_like(p))
            lit = wildcard_literal_prefix(p)
            if lit:
                cond = F.col("term").startswith(lit) & cond
            items.append((p, cond))
        return self._vocab_topdf(items, limit)

    def _regexp_expansions(
        self, patterns: list[str], limit: int
    ) -> dict[str, list[str]]:
        """Regexp term (``/pattern/``) expansion — Lucene RegexpQuery
        semantics: the pattern must match the WHOLE vocabulary term
        (anchored).  Evaluated JVM-side via ``rlike``; patterns are
        validated driver-side first so an invalid regex fails loud with
        a Python error, not an opaque executor stack."""
        import re as _re

        for p in patterns:
            try:
                _re.compile(p)
            except _re.error as e:
                raise ValueError(f"invalid regexp term /{p}/: {e}") from e
        return self._vocab_topdf(
            [(p, F.col("term").rlike(f"^(?:{p})$")) for p in patterns], limit
        )

    def _fuzzy_rows(self, terms: list[str]) -> dict[str, list[tuple[str, int]]]:
        """Per-segment delete-1 collision candidates
        (:meth:`Segment._fuzzy_rows`) merged with df summed (raw sums,
        like :meth:`_vocab_topdf`), so fuzzy expansion and did-you-mean
        (operators/didyoumean.py) share ONE merge contract."""
        merged: dict[str, dict[str, int]] = {t: {} for t in terms}
        for seg in self.segments:
            for t, lst in seg._fuzzy_rows(terms).items():
                acc = merged[t]
                for w, dfv in lst:
                    acc[w] = acc.get(w, 0) + dfv
        return {t: list(d.items()) for t, d in merged.items()}

    def expand_fuzzy(self, query_text: str, limit: int = FUZZY_CAP) -> str:
        """Rewrite trailing-``~`` tokens into their edit-distance-≤1
        vocabulary neighbors (``kubernets~`` → ``kubernetes ...``) —
        Lucene fuzzy-query semantics with the SymSpell delete-1 scheme
        for candidate generation (see ``index/fuzzy.py``): exact term
        first, then df desc / term asc, capped at ``limit``; unmatched
        terms drop out.  The rewrite feeds the ordinary analyzed paths,
        composing with scope/tombstones/batch like prefix expansion."""
        toks, terms = split_fuzzy_tokens(query_text)
        if not terms:
            return query_text
        return rewrite_fuzzy(toks, self._fuzzy_expansions(terms, limit))

    def _fuzzy_expansions(
        self, terms: list[str], limit: int
    ) -> dict[str, list[str]]:
        cand = self._fuzzy_rows(terms)
        expansions: dict[str, list[str]] = {}
        for t in terms:
            exp = rank_fuzzy_candidates(t, cand.get(t, []), limit)
            if exp:
                expansions[t] = exp
        return expansions

    def expand_query(
        self,
        query_text: str,
        prefix_limit: int = PREFIX_CAP,
        fuzzy_limit: int = FUZZY_CAP,
    ) -> str | None:
        """One-pass EXECUTABLE rewrite of a query containing ``*``/``?``
        /``~``/``/…/`` markers, or None when it has none: marker tokens
        splice in their vocabulary expansions (prefix, fuzzy, general
        wildcard, regexp), plain tokens run through the analyzer
        ONCE, and the result must execute with ``analyzed=True`` —
        vocabulary terms are analysis fixed points only by accident
        (Porter is not idempotent: ``university → univers → univ``), so
        a second analysis pass would corrupt them."""
        cls = classify_expansion_tokens(query_text)
        prefixes = sorted({v for kk, v in cls if kk == "prefix"})
        fuzzies = sorted({v for kk, v in cls if kk == "fuzzy"})
        wilds = sorted({v for kk, v in cls if kk == "wildcard"})
        rexps = sorted({v for kk, v in cls if kk == "regexp"})
        if not prefixes and not fuzzies and not wilds and not rexps:
            return None
        return assemble_expanded(
            cls,
            self._prefix_expansions(prefixes, prefix_limit) if prefixes else {},
            self._fuzzy_expansions(fuzzies, fuzzy_limit) if fuzzies else {},
            self._wildcard_expansions(wilds, prefix_limit) if wilds else {},
            self._regexp_expansions(rexps, prefix_limit) if rexps else {},
        )

    def expand_synonyms(
        self, query_text: str, mapping: dict | None = None,
        analyzed: bool = False,
    ) -> str:
        """Analyzed rewrite splicing each query term's synonyms in after
        it (``index/synonyms.py`` — the Lucene SynonymGraphFilter
        query-time shape).  Execute the result with ``analyzed=True``
        (disjunctive — OR-semantics is what a synonym means; a
        conjunctive query would REQUIRE every synonym).  ``mapping``
        (raw words) overrides the persisted sidecar, a query-layer
        setting kept on the base segment (segment 0); with neither, the
        query passes through unchanged.  ``analyzed=True`` treats the
        input as already-analyzed terms (composition with a prior
        prefix/fuzzy ``expand_query`` pass, whose output must not be
        re-stemmed)."""
        from .synonyms import analyze_mapping, expand_terms, load_synonyms

        if mapping is not None:
            syn = analyze_mapping(mapping)
        else:
            if self._syn_memo is None:
                self._syn_memo = load_synonyms(self.spark, self.segments[0].paths.root)
            syn = self._syn_memo
        terms = query_text.split() if analyzed else analyze_query(query_text)
        return " ".join(expand_terms(terms, syn))

    def _resolve_spec(self, spec: "QuerySpec | None") -> "QuerySpec | None":
        """Resolve a phrase-prefix marker (ES ``match_phrase_prefix``:
        ``"incid resp*"``) into its vocabulary variants — one idf-table
        TakeOrdered like :meth:`expand_prefixes` — folding them into the
        scoring set.  Kernels require the resolved form (they have no
        vocabulary access); the variants run in every segment's kernel,
        so a variant present only in a newer segment still matches."""
        if spec is None or spec.phrase_prefix is None:
            return spec
        import dataclasses

        exp = self._prefix_expansions([spec.phrase_prefix], PREFIX_CAP).get(
            spec.phrase_prefix, []
        )
        return dataclasses.replace(
            spec,
            phrase_prefix=None,
            variants=exp,
            score_terms=sorted(set((spec.phrase_a or []) + exp)),
        )

    # -- planning ----------------------------------------------------

    def scope_docs(self, turns: DataFrame) -> DataFrame:
        """Resolve a metadata predicate's matching turns to kernel
        coordinates: DataFrame(conv_id, turn_idx, …) → (seg, group,
        doc_id), against every segment's own convs table.

        This is the distributed half of scoped search — the caller
        filters the corpus METADATA (column-pruned, predicate pushed to
        its parquet scan, never the text column) and hands the matching
        keys here; the join against the thin convs table and the
        group-keyed shuffle carry only the docs that PASS the predicate,
        so cost tracks filter selectivity, not corpus size.  No driver
        collect anywhere (contrast :func:`resolve_tombstones`, which is
        sized for small deletion lists).  A turn indexed in several
        segments (update shadows) resolves in each — the shadow
        exclusion removes the superseded copy at kernel time."""
        keys = turns.select("conv_id", "turn_idx")
        return reduce(DataFrame.unionByName, [
            keys.join(seg._convs, "conv_id").select(
                F.lit(i).alias("seg"),
                "group",
                (F.shiftleft(F.col("conv_rank"), TURN_BITS) + F.col("turn_idx"))
                .cast("long")
                .alias("doc_id"),
            )
            for i, seg in enumerate(self.segments)
        ])

    def _grouped(self, kernel, terms: list[str], scope: DataFrame | None, schema: str) -> DataFrame:
        """The Spark plan's kernel pass: the segments' bucket-pruned
        postings of ``terms`` grouped by (seg, group) — cogrouped with
        ``scope``'s doc ids on the SAME key when scoped, so the allow
        side shuffles once, partitioned like the postings, never via the
        driver — through ``kernel``, whose rows gain the ``seg`` column.
        The only exchange carries the pruned postings: doclens ride
        inline in the blocks (format v5)."""
        post = self.postings_df(terms).groupBy("seg", "group")
        if scope is None:
            return post.applyInPandas(_with_seg(kernel), schema="seg int, " + schema)
        return post.cogroup(self.scope_docs(scope).groupBy("seg", "group")).applyInPandas(
            _with_seg_scoped(kernel), schema="seg int, " + schema
        )

    def _label(self, cand: DataFrame, extra: tuple = ()) -> DataFrame:
        """(seg, doc_id, score[, extra…]) → (extra…, conv_id, turn_idx, score)."""
        return (
            cand.withColumn("conv_rank", F.shiftrightunsigned("doc_id", TURN_BITS))
            .withColumn("turn_idx", F.col("doc_id").bitwiseAND(F.lit(TURN_MASK)).cast("int"))
            .join(self._convs, ["seg", "conv_rank"])
            .select(*extra, "conv_id", "turn_idx", "score")
        )

    def _spec(self, spec, query_text: str, mode: str, analyzed: bool, min_match: int = 1):
        """A caller's pre-compiled spec, else the query parsed and resolved."""
        if spec is None:
            spec = self._resolve_spec(parse_query(query_text, mode, analyzed=analyzed, min_match=min_match))
        return spec

    # -- query -------------------------------------------------------

    def topk(
        self,
        query_text: str,
        mode: str = "disjunctive",
        k: int = 10,
        algo: str = "auto",
        tombstones: list | None = None,
        scope: DataFrame | None = None,
        analyzed: bool = False,
        min_match: int = 1,
        search_after: tuple | None = None,
        spec: "QuerySpec | None" = None,
    ) -> DataFrame:
        """Top-k → DataFrame(conv_id, turn_idx, score), oracle-identical.

        ``tombstones`` (bare conv_id strings and/or (conv_id, turn_idx)
        pairs) excludes deleted docs at candidate time; remaining scores
        keep the as-built global stats until a compaction removes the
        docs physically (see :class:`Tombstones`).

        ``scope`` (a DataFrame with conv_id/turn_idx columns — typically
        the corpus metadata filtered by a structured predicate: role,
        tool, a ts range) restricts RESULTS to those turns.  Scores keep
        the corpus-global stats — Lucene/Elasticsearch filter-context
        semantics, where filters never affect ranking.

        ``min_match`` (disjunctive) keeps only docs matching ≥ m
        distinct query terms (ES minimum_should_match).  Term tokens
        may carry ``^w`` boosts (``kubernetes^2 pod``) multiplying
        their idf contribution (Lucene boost semantics).

        ``search_after`` = (score, conv_id, turn_idx) of the previous
        page's LAST row: returns the k results strictly after it in
        (score desc, conv_id, turn_idx) rank order — offset-free deep
        pagination.  Page N costs one candidate-scoring pass like page
        1 (never an N·k overfetch), and each group ships ≤ k rows.
        The cursor score must be the EXACT float the engine returned
        (the ES search_after contract: exact sort values) — a
        display-rounded score can land on the wrong side of the strict
        comparison and duplicate or drop a boundary row."""
        if (tombstones or scope is not None or search_after is not None
                or min_match > 1) and algo == "wand":
            raise ValueError(
                "algo='wand' cannot honor tombstones/scope/min_match/"
                "search_after (its bounded heap has no candidate-exclusion "
                "hook); use algo='auto' or 'exact'"
            )
        spec = self._spec(spec, query_text, mode, analyzed, min_match)
        if spec is None:
            return _topk_frame(self.spark, None)
        fetch_terms = _fetch_terms(spec)
        idf = _weighted_idf(self.idf_map(spec.score_terms), spec)
        kernel = _make_group_kernel(
            spec, idf, self.avgdl, k, algo, with_ties=self.tie_safe,
            exclude=self._resolve_tomb(tombstones), scoped=scope is not None,
            after=self._resolve_after(search_after),
        )
        if scope is None:
            frames = _local_groups(self.segments, fetch_terms, kernel)
            if frames is not None:
                return _topk_local(self.segments, frames, k)
        return (
            self._label(self._grouped(kernel, fetch_terms, scope, RESULT_SCHEMA))
            .orderBy(F.desc("score"), F.asc("conv_id"), F.asc("turn_idx"))
            .limit(k)
        )

    def topk_conversations(
        self,
        query_text: str,
        mode: str = "disjunctive",
        k: int = 10,
        tombstones: list | None = None,
        scope: DataFrame | None = None,
        analyzed: bool = False,
        min_match: int = 1,
        search_after: tuple | None = None,
        spec: "QuerySpec | None" = None,
    ) -> DataFrame:
        """Conversation-collapsed top-k → DataFrame(conv_id, turn_idx,
        score): rank CONVERSATIONS by their best-matching turn (the
        Elasticsearch field-collapsing analog — 'show me conversations
        about X', one row per conv, its best turn as representative).

        Exact: each (seg, group) scores all candidates and collapses to
        its local top-k conversations (convs never span the groups of
        one segment — the group key is a conv_id hash), so at most
        S·G·k rows reach the global TakeOrdered.  A conversation CAN
        span segments (a later delta adds turns), so a window
        re-collapses per conv_id before the global cut; a conv whose
        best turn was cut by a segment-local top-k cannot belong to the
        global top-k (that segment already holds k better convs).
        Composes with tombstones/scope/analyzed/min_match/boosts like
        :meth:`topk`.  ``search_after`` (the cursor names the previous
        page's last CONVERSATION via its representative turn) needs one
        segment: across segments a conversation collapses to its best
        turn only after the window, so a per-segment cursor filter
        could resurface a conversation already served."""
        from pyspark.sql import Window

        if search_after is not None and len(self.segments) > 1:
            raise ValueError(
                "search_after on conversation-collapsed results needs a "
                "single compacted index (a conv spanning segments would "
                "paginate on per-segment bests, not its global best); "
                "compact first or paginate turn-level topk"
            )
        spec = self._spec(spec, query_text, mode, analyzed, min_match)
        if spec is None:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        fetch_terms = _fetch_terms(spec)
        idf = _weighted_idf(self.idf_map(spec.score_terms), spec)
        kernel = _make_collapse_kernel(
            spec, idf, self.avgdl, k, with_ties=self.tie_safe,
            exclude=self._resolve_tomb(tombstones), scoped=scope is not None,
            after=self._resolve_after(search_after),
        )
        w = Window.partitionBy("conv_id").orderBy(F.desc("score"), F.asc("turn_idx"))
        return (
            self._label(self._grouped(kernel, fetch_terms, scope, RESULT_SCHEMA))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .orderBy(F.desc("score"), F.asc("conv_id"), F.asc("turn_idx"))
            .limit(k)
        )

    def match_count(
        self,
        query_text: str,
        mode: str = "disjunctive",
        tombstones: list | None = None,
        scope: DataFrame | None = None,
        analyzed: bool = False,
        min_match: int = 1,
        spec: "QuerySpec | None" = None,
    ) -> int:
        """Total matching documents (the reference's totalResults field,
        served by every /api/search response for pagination): size of
        the candidate set :meth:`topk` ranks, via one grouped count pass
        over the same bucket-pruned postings scan — per-(seg, group)
        counts sum because segments and groups hold disjoint docs."""
        spec = self._spec(spec, query_text, mode, analyzed, min_match)
        if spec is None:
            return 0
        fetch_terms = _fetch_terms(spec)
        kernel = _make_count_kernel(
            spec, self.idf_map(spec.score_terms), self.avgdl,
            exclude=self._resolve_tomb(tombstones), scoped=scope is not None,
        )
        if scope is None:
            frames = _local_groups(self.segments, fetch_terms, kernel)
            if frames is not None:
                return sum(int(f["n"].sum()) for f in frames)
        row = self._grouped(kernel, fetch_terms, scope, "n long").agg(F.sum("n")).collect()[0]
        return int(row[0] or 0)

    def matches(
        self,
        query_text: str,
        mode: str = "disjunctive",
        tombstones: list | None = None,
        scope: DataFrame | None = None,
        analyzed: bool = False,
        min_match: int = 1,
        spec: "QuerySpec | None" = None,
    ) -> DataFrame:
        """ALL matching documents → DataFrame(conv_id, turn_idx) — the
        candidate set :meth:`match_count` sizes, materialized for
        faceting and metadata joins.  Output is O(matches)."""
        spec = self._spec(spec, query_text, mode, analyzed, min_match)
        if spec is None:
            return self.spark.createDataFrame([], "conv_id string, turn_idx int")
        fetch_terms = _fetch_terms(spec)
        kernel = _make_matches_kernel(
            spec, self.idf_map(spec.score_terms), self.avgdl,
            exclude=self._resolve_tomb(tombstones), scoped=scope is not None,
        )
        cand = self._grouped(kernel, fetch_terms, scope, MATCHES_SCHEMA)
        return self._label(cand.withColumn("score", F.lit(0.0))).drop("score")

    def matches_scored(
        self,
        query_text: str,
        mode: str = "disjunctive",
        tombstones: list | None = None,
        scope: DataFrame | None = None,
        analyzed: bool = False,
        spec: "QuerySpec | None" = None,
    ) -> DataFrame:
        """ALL matching documents WITH exact BM25 scores → DataFrame
        (conv_id, turn_idx, score) — :meth:`matches` plus the score
        column: the exhaustive-scoring feed for rescoring operators
        whose final order is not monotone in BM25 (recency decay —
        ``operators/recency.py``).  Output is O(matches); kernel cost
        is the same O(postings) class as :meth:`match_count`."""
        spec = self._spec(spec, query_text, mode, analyzed)
        if spec is None:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        fetch_terms = _fetch_terms(spec)
        kernel = _make_scored_matches_kernel(
            spec, _weighted_idf(self.idf_map(spec.score_terms), spec), self.avgdl,
            exclude=self._resolve_tomb(tombstones), scoped=scope is not None,
        )
        return self._label(self._grouped(kernel, fetch_terms, scope, RESULT_SCHEMA))

    def explain(
        self,
        query_text: str,
        conv_id: str,
        turn_idx: int,
        mode: str = "disjunctive",
        tombstones: list | None = None,
        analyzed: bool = False,
        min_match: int = 1,
        spec: "QuerySpec | None" = None,
    ) -> DataFrame:
        """Per-term score breakdown of ONE document for one query — the
        Elasticsearch ``_explain`` analog (an extension; the reference
        exposes no scoring introspection).  One row per query term with
        tf > 0 in the doc, term-ascending::

            (term, df, idf, weight, tf, dl, partial, contribution)

        ``contribution = (idf · weight) · partial`` uses the exact float
        sequence of the scoring kernels, so the contributions sum
        (lexicographic term order) to the doc's :meth:`topk` score
        bit-for-bit (pinned by tests).  Empty when the doc is not in the
        query's match set (conjunctive missing a term, phrase absent,
        NOT excluded, tombstoned, shadow-superseded, below
        ``min_match``) — the ES ``matched: false`` case.

        Cost: a (conv_id, turn_idx) has at most one LIVE occurrence
        across segments, so segments probe newest-first: each segment
        holding the conversation pays one convs lookup, and only the
        owner runs one bucket-pruned, group-filtered postings scan — the
        membership check runs the tested ``_candidates_spec`` dispatch
        over ONE group's pruned postings, so the kernel work is
        1/num_groups of a full query's."""
        spec = self._spec(spec, query_text, mode, analyzed, min_match)
        if spec is None:
            return self.spark.createDataFrame([], EXPLAIN_SCHEMA)
        idf = _weighted_idf(self.idf_map(spec.score_terms), spec)
        excl = self._resolve_tomb(tombstones) or {}
        for i in reversed(range(len(self.segments))):
            seg = self.segments[i]
            coords = seg._doc_coords(conv_id, turn_idx)
            if coords is None:
                continue
            group, doc_id = coords
            tomb = excl.get(i)
            if tomb is not None and not tomb.keep_mask(
                np.asarray([doc_id], dtype=np.int64), TURN_BITS
            )[0]:
                continue  # tombstoned or shadow-superseded here
            rows = seg._explain_rows(spec, idf, self.avgdl, group, doc_id)
            if rows:
                return _assemble_explain(
                    self.spark, rows, self.idf_map(spec.score_terms),
                    self.df_map(spec.score_terms), spec, self.avgdl,
                )
        return self.spark.createDataFrame([], EXPLAIN_SCHEMA)

    def facet_counts(
        self,
        query_text: str,
        meta: DataFrame,
        facet_col: str,
        mode: str = "disjunctive",
        tombstones: list | None = None,
        scope: DataFrame | None = None,
        analyzed: bool = False,
        min_match: int = 1,
        spec: "QuerySpec | None" = None,
    ) -> DataFrame:
        """Matching-doc counts grouped by a metadata column → DataFrame
        (facet_col, n) — the search-facet panel (count per role, tool,
        day, …) for one query.

        ``meta`` carries (conv_id, turn_idx, facet_col); pass the corpus
        with a derived column for computed facets (e.g. ``date_trunc``
        of ts).  The join input is the MATCH set, not the corpus, so
        Catalyst/AQE broadcasts it when small; the metadata scan is
        column-pruned to the three needed columns."""
        cand = self.matches(
            query_text, mode, tombstones=tombstones, scope=scope,
            analyzed=analyzed, min_match=min_match, spec=spec,
        )
        return (
            cand.join(meta.select("conv_id", "turn_idx", facet_col), ["conv_id", "turn_idx"])
            .groupBy(facet_col)
            .agg(F.count(F.lit(1)).alias("n"))
        )

    def topk_batch(
        self,
        queries: list[tuple[str, str] | tuple[str, str, int]],
        k: int = 10,
        algo: str = "auto",
        tombstones: list | None = None,
        scope: DataFrame | None = None,
        analyzed: bool = False,
    ) -> DataFrame:
        """Top-k for MANY queries in ONE job →
        DataFrame(query_id, conv_id, turn_idx, score).

        ``queries`` is a list of (query_text, mode[, k]); query_id is
        the list position.  The reference serves one query per request
        (QueryService.java) — on Spark the per-job fixed overhead makes
        that the wrong unit, so the batch path prunes the postings scan
        to the UNION of all queries' term buckets, decodes each group's
        posting blocks once, scores every query against them in the same
        cogroup kernel pass, and takes per-query top-k via
        :func:`_rank_per_query`.  Results are row-identical to calling
        :meth:`topk` per query (pinned by tests).  ``scope`` applies one
        shared metadata filter to every query of the batch."""
        if (tombstones or scope is not None) and algo == "wand":
            raise ValueError(
                "algo='wand' cannot honor tombstones/scope (its bounded heap "
                "has no candidate-exclusion hook); use algo='auto' or 'exact'"
            )
        specs = [
            (i, self._resolve_spec(sp), kk)
            for i, sp, kk in _parse_batch(queries, k, analyzed=analyzed)
        ]
        if not specs:
            return _topk_frame(self.spark, None, BATCH_TOPK_SCHEMA)
        fetch_terms, score_terms = _batch_term_sets(specs)
        merged_idf = self.idf_map(sorted(score_terms))
        # per-query maps carry that query's boosts (plists stay built
        # from the unscaled merged map — weighted specs score exact)
        idfs = [
            _weighted_idf({t: merged_idf[t] for t in s.score_terms}, s)
            for _, s, _ in specs
        ]
        kernel = _make_batch_kernel(
            [s for _, s, _ in specs],
            idfs,
            merged_idf,
            self.avgdl,
            [kk for _, _, kk in specs],
            algo,
            with_ties=self.tie_safe,
            exclude=self._resolve_tomb(tombstones),
            scoped=scope is not None,
        )
        if scope is None:
            frames = _local_groups(self.segments, sorted(fetch_terms), kernel)
            if frames is not None:
                return _batch_local(self.segments, frames, specs)
        cand = self._grouped(kernel, sorted(fetch_terms), scope, BATCH_RESULT_SCHEMA)
        return _rank_per_query(self._label(cand, extra=("query_id",)), specs)


class CompressedIndex(IndexReader):
    """Reader over an index directory produced by :class:`IndexBuilder`."""

    def __init__(self, spark: SparkSession, root: str):
        super().__init__(spark, [root])


def _score_spec(
    spec: QuerySpec,
    idf: dict[str, float],
    plists: dict,
    avgdl: float,
    k: int,
    algo: str,
    with_ties: bool,
    tomb: "Tombstones | None" = None,
    allow: np.ndarray | None = None,
    after: tuple[float, int] | None = None,
):
    """Score ONE parsed query against a group's posting lists →
    (docs, scores) arrays.  Shared by the single-query and batch
    kernels so both paths run the identical tested dispatch.
    Doclens come inline from the posting blocks (format v5).
    ``tomb`` removes deleted docs from the candidate set BEFORE the
    top-k cut (scores keep the as-built global stats until compaction).
    ``allow`` (sorted unique doc ids) keeps ONLY those docs — the
    kernel half of scoped search; like tombstones it restricts the
    candidate set, never the scoring stats (filter-context semantics).
    ``after`` = (cursor_score, cursor_doc_id): emit the group's top-k
    AFTER the cursor (search_after deep pagination — see
    :func:`_topk_after`)."""
    score_lists = {t: p for t, p in plists.items() if t in idf}
    if spec.mode == "disjunctive":
        if (
            tomb is not None
            or allow is not None
            or after is not None
            or spec.min_match > 1
        ):
            # tombstoned/scoped/min_match/search_after disjunctive
            # queries run candidates+exact (topk() rejects an explicit
            # algo='wand' with these up front): exclusion happens on the
            # materialized candidate set, before the top-k cut
            if spec.min_match > 1:
                cand = msm_candidates(score_lists, spec.min_match)
            else:
                arrs = [p.doc_ids for p in score_lists.values()]
                if not arrs:
                    return (
                        np.empty(0, dtype=np.int64),
                        np.empty(0, dtype=np.float64),
                    )
                cand = np.unique(np.concatenate(arrs))
            if allow is not None:
                cand = np.intersect1d(cand, allow, assume_unique=True)
            if tomb is not None:
                cand = tomb.mask(cand, TURN_BITS)
            if after is not None:
                return _topk_after(
                    score_lists, idf, avgdl, k, cand, after, with_ties
                )
            return exact_topk(
                score_lists, idf, avgdl, k, candidates=cand, with_ties=with_ties
            )
        # `auto` = vectorized block-max pruning (kernels.blockmax_topk):
        # numpy block-at-a-time skipping with the exact kernel's float
        # semantics — lossless (blockmax==exact==wand pinned by tests).
        # The pure-Python doc-at-a-time WAND loop measured 1.7-2.6x
        # SLOWER than exact (BASELINE.md "WAND vs vectorized exact"), so
        # it stays an explicit algo only.
        if not with_ties and algo == "wand":
            return wand_topk(score_lists, idf, avgdl, k)
        if algo == "exact":
            return exact_topk(score_lists, idf, avgdl, k, with_ties=with_ties)
        return blockmax_topk(score_lists, idf, avgdl, k, with_ties=with_ties)
    if spec.mode == "conjunctive":
        need = {t: plists[t] for t in spec.score_terms if t in plists}
        if len(need) < len(spec.score_terms):
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
        cand = conjunctive_candidates(need)
    elif spec.mode == "phrase":
        cand = _phrase_cand(spec, plists)
    elif spec.mode == "near":
        cand = near_candidates(spec.score_terms, plists, spec.slop)
    elif spec.mode == "bool":
        cand = bool_candidates(plists, spec.bool_clauses)
    else:  # boolean
        la = phrase_candidates(spec.phrase_a or [], plists)
        rb = phrase_candidates(spec.phrase_b or [], plists)
        if spec.bool_op == "AND":
            cand = np.intersect1d(la, rb, assume_unique=True)
        elif spec.bool_op == "OR":
            cand = np.union1d(la, rb)
        else:
            cand = np.setdiff1d(la, rb, assume_unique=True)
    if allow is not None:
        cand = np.intersect1d(cand, allow, assume_unique=True)
    if tomb is not None:
        cand = tomb.mask(cand, TURN_BITS)
    if after is not None:
        return _topk_after(score_lists, idf, avgdl, k, cand, after, with_ties)
    return exact_topk(
        score_lists, idf, avgdl, k, candidates=cand, with_ties=with_ties
    )


def _candidates_spec(
    spec: QuerySpec,
    idf: dict[str, float],
    plists: dict,
    tomb: "Tombstones | None" = None,
    allow: np.ndarray | None = None,
) -> np.ndarray:
    """The matching-doc set of one group for one query (sorted unique
    doc ids) — what top-k ranks and totalResults counts.  Shared by the
    count and matches kernels so both size the identical set."""
    score_lists = {t: p for t, p in plists.items() if t in idf}
    if spec.mode == "disjunctive":
        if spec.min_match > 1:
            cand = msm_candidates(score_lists, spec.min_match)
        else:
            arrs = [p.doc_ids for p in score_lists.values()]
            if not arrs:
                return np.empty(0, dtype=np.int64)
            cand = np.unique(np.concatenate(arrs))
    elif spec.mode == "conjunctive":
        need = {t: plists[t] for t in spec.score_terms if t in plists}
        if len(need) < len(spec.score_terms):
            return np.empty(0, dtype=np.int64)
        cand = conjunctive_candidates(need)
    elif spec.mode == "phrase":
        cand = _phrase_cand(spec, plists)
    elif spec.mode == "near":
        cand = near_candidates(spec.score_terms, plists, spec.slop)
    elif spec.mode == "bool":
        cand = bool_candidates(plists, spec.bool_clauses)
    else:
        la = phrase_candidates(spec.phrase_a or [], plists)
        rb = phrase_candidates(spec.phrase_b or [], plists)
        if spec.bool_op == "AND":
            cand = np.intersect1d(la, rb, assume_unique=True)
        elif spec.bool_op == "OR":
            cand = np.union1d(la, rb)
        else:
            cand = np.setdiff1d(la, rb, assume_unique=True)
    if allow is not None:
        cand = np.intersect1d(cand, allow, assume_unique=True)
    if tomb is not None:
        cand = tomb.mask(cand, TURN_BITS)
    return cand


def _count_spec(
    spec: QuerySpec,
    idf: dict[str, float],
    plists: dict,
    tomb: "Tombstones | None" = None,
    allow: np.ndarray | None = None,
) -> int:
    """Matching-doc count for one group — the candidate set top-k draws
    from (totalResults analog); groups hold disjoint docs, so counts sum."""
    return int(
        _candidates_spec(spec, idf, plists, tomb, allow).size
    )


def _make_count_kernel(
    spec: QuerySpec,
    idf: dict[str, float],
    avgdl: float,
    exclude=None,
    scoped: bool = False,
):
    def count(post_pdf: pd.DataFrame, allow: np.ndarray | None) -> pd.DataFrame:
        if len(post_pdf) == 0 or (allow is not None and allow.size == 0):
            return pd.DataFrame({"n": pd.array([0], dtype="int64")})
        plists = _build_plists(post_pdf, idf, avgdl)
        tomb = _for_seg(exclude, post_pdf)
        return pd.DataFrame(
            {"n": pd.array(
                [_count_spec(spec, idf, plists, tomb, allow)],
                dtype="int64",
            )}
        )

    if scoped:
        def kernel(key: tuple, post_pdf: pd.DataFrame, allow_pdf: pd.DataFrame):
            return count(post_pdf, _allow_arr(allow_pdf))
    else:
        def kernel(key: tuple, post_pdf: pd.DataFrame) -> pd.DataFrame:
            return count(post_pdf, None)

    return kernel


MATCHES_SCHEMA = "doc_id long"


def _make_matches_kernel(
    spec: QuerySpec,
    idf: dict[str, float],
    avgdl: float,
    exclude=None,
    scoped: bool = False,
):
    """Kernel EMITTING the matching doc ids of each group (the set
    :func:`_count_spec` sizes) — the distributed input to faceting and
    metadata joins.  Output is O(matches), which is the inherent size
    of any facet computation."""

    def emit(post_pdf: pd.DataFrame, allow: np.ndarray | None) -> pd.DataFrame:
        if len(post_pdf) == 0 or (allow is not None and allow.size == 0):
            return pd.DataFrame({"doc_id": pd.array([], dtype="int64")})
        plists = _build_plists(post_pdf, idf, avgdl)
        tomb = _for_seg(exclude, post_pdf)
        cand = _candidates_spec(spec, idf, plists, tomb, allow)
        return pd.DataFrame({"doc_id": cand})

    if scoped:
        def kernel(key: tuple, post_pdf: pd.DataFrame, allow_pdf: pd.DataFrame):
            return emit(post_pdf, _allow_arr(allow_pdf))
    else:
        def kernel(key: tuple, post_pdf: pd.DataFrame) -> pd.DataFrame:
            return emit(post_pdf, None)

    return kernel


EXPLAIN_KERNEL_SCHEMA = "term string, tf long, dl long"
EXPLAIN_SCHEMA = (
    "term string, df long, idf double, weight double, tf long, dl long, "
    "partial double, contribution double"
)


def _make_explain_kernel(
    spec: QuerySpec,
    idf: dict[str, float],
    avgdl: float,
    target_doc: int,
):
    """Kernel emitting (term, tf, dl) of ONE target doc — the
    distributed half of ``explain``.  Candidate membership runs the
    same ``_candidates_spec`` dispatch as the count/matches kernels
    with the allow set pinned to the target doc, so match semantics
    (conjunctive all-terms, phrase positions, boolean set ops,
    min_match) are exactly the query path's; per-term tf/dl come from
    :meth:`TermPostings.lookup`, which decodes only the blocks
    containing the doc."""

    def kernel(key: tuple, post_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "term": pd.Series([], dtype=object),
                "tf": pd.Series([], dtype="int64"),
                "dl": pd.Series([], dtype="int64"),
            }
        )
        if len(post_pdf) == 0:
            return empty
        plists = _build_plists(post_pdf, idf, avgdl)
        doc = np.asarray([target_doc], dtype=np.int64)
        cand = _candidates_spec(spec, idf, plists, None, allow=doc)
        if cand.size == 0:
            return empty
        rows = []
        for t in sorted(plists):
            if t not in idf:
                continue  # predicate-only terms (NOT's right phrase) never score
            tf, dl, ok = plists[t].lookup(doc)
            if ok[0] and tf[0] > 0:
                rows.append((t, int(tf[0]), int(dl[0])))
        if not rows:
            return empty
        return pd.DataFrame(rows, columns=["term", "tf", "dl"])

    return kernel


def _assemble_explain(
    spark: SparkSession,
    rows: list,
    raw_idf: dict[str, float],
    df_map: dict[str, int],
    spec: QuerySpec,
    avgdl: float,
) -> DataFrame:
    """(term, tf, dl) kernel rows + driver-held stats → the explain
    DataFrame.  ``partial`` recomputes through the kernels' own
    ``_partial`` (same numpy float sequence), so
    ``(idf·weight)·partial`` is bit-identical to the scoring kernels'
    per-term contribution."""
    from .kernels import _partial

    w = spec.weights or {}
    out = []
    for r in sorted(rows, key=lambda r: r["term"]):
        t = r["term"]
        partial = float(
            _partial(
                np.asarray([r["tf"]], dtype=np.int64),
                np.asarray([float(r["dl"])], dtype=np.float64),
                avgdl,
            )[0]
        )
        wt = float(w.get(t, 1.0))
        out.append(
            (
                t,
                int(df_map.get(t, 0)),
                float(raw_idf[t]),
                wt,
                int(r["tf"]),
                int(r["dl"]),
                partial,
                (raw_idf[t] * wt) * partial,
            )
        )
    return spark.createDataFrame(out, EXPLAIN_SCHEMA)


def _make_scored_matches_kernel(
    spec: QuerySpec,
    idf: dict[str, float],
    avgdl: float,
    exclude=None,
    scoped: bool = False,
):
    """Kernel emitting EVERY matching doc WITH its exact BM25 score —
    the exhaustive-scoring input to rescoring operators whose final
    order is NOT monotone in the BM25 score (recency decay: a fresher
    low-BM25 doc can outrank a stale high-BM25 one, so a top-N overfetch
    would be lossy).  Same candidate set as :func:`_make_matches_kernel`
    (every candidate contains ≥1 scoring term, so scores are strictly
    positive and the exact kernel's zero-score drop never fires); cost
    is one full decode+score of the query terms' postings — the same
    O(postings) class as :func:`_make_count_kernel`."""

    def emit(post_pdf: pd.DataFrame, allow: np.ndarray | None) -> pd.DataFrame:
        empty = pd.DataFrame({"doc_id": pd.array([], dtype="int64"),
                              "score": pd.array([], dtype="float64")})
        if len(post_pdf) == 0 or (allow is not None and allow.size == 0):
            return empty
        plists = _build_plists(post_pdf, idf, avgdl)
        tomb = _for_seg(exclude, post_pdf)
        cand = _candidates_spec(spec, idf, plists, tomb, allow)
        if cand.size == 0:
            return empty
        score_lists = {t: p for t, p in plists.items() if t in idf}
        docs, scores = exact_topk(
            score_lists, idf, avgdl, int(cand.size), candidates=cand
        )
        return pd.DataFrame({"doc_id": docs, "score": scores})

    if scoped:
        def kernel(key: tuple, post_pdf: pd.DataFrame, allow_pdf: pd.DataFrame):
            return emit(post_pdf, _allow_arr(allow_pdf))
    else:
        def kernel(key: tuple, post_pdf: pd.DataFrame) -> pd.DataFrame:
            return emit(post_pdf, None)

    return kernel


def _build_plists(post_pdf: pd.DataFrame, idf: dict[str, float], avgdl: float) -> dict:
    plists: dict[str, TermPostings] = {}
    for term, tdf in post_pdf.groupby("term", sort=True):
        plists[str(term)] = TermPostings(str(term), tdf, idf.get(str(term), 0.0), avgdl)
    return plists


def _allow_arr(allow_pdf: pd.DataFrame) -> np.ndarray:
    """Cogrouped allow side → sorted unique doc-id array.  An EMPTY
    frame means no doc of this group passes the scope predicate — the
    kernels must distinguish it from ``None`` (no scope at all)."""
    if len(allow_pdf) == 0:
        return np.empty(0, dtype=np.int64)
    return np.unique(allow_pdf["doc_id"].to_numpy(dtype=np.int64))


def _make_group_kernel(
    spec: QuerySpec,
    idf: dict[str, float],
    avgdl: float,
    k: int,
    algo: str,
    with_ties: bool = False,
    exclude=None,
    scoped: bool = False,
    after=None,
):
    """Build the per-group grouped kernel for one parsed query.

    ``scoped=True`` returns the COGROUP form ``(key, postings, allow)``
    — the allow side is the scope predicate's matching doc ids of the
    same group, delivered by Spark's cogroup (never a driver collect).
    ``exclude`` and ``after`` are per-segment dicts of resolved
    tombstones and search_after cursors ((score, doc_id))."""

    def score(post_pdf: pd.DataFrame, allow: np.ndarray | None) -> pd.DataFrame:
        if len(post_pdf) == 0 or (allow is not None and allow.size == 0):
            return pd.DataFrame({"doc_id": pd.array([], dtype="int64"),
                                 "score": pd.array([], dtype="float64")})
        plists = _build_plists(post_pdf, idf, avgdl)
        docs, scores = _score_spec(
            spec, idf, plists, avgdl, k, algo, with_ties,
            tomb=_for_seg(exclude, post_pdf),
            allow=allow, after=_for_seg(after, post_pdf),
        )
        return pd.DataFrame({"doc_id": docs, "score": scores})

    if scoped:
        def kernel(key: tuple, post_pdf: pd.DataFrame, allow_pdf: pd.DataFrame):
            return score(post_pdf, _allow_arr(allow_pdf))
    else:
        def kernel(key: tuple, post_pdf: pd.DataFrame) -> pd.DataFrame:
            return score(post_pdf, None)

    return kernel


BATCH_RESULT_SCHEMA = "query_id int, doc_id long, score double"


def _make_batch_kernel(
    specs: list[QuerySpec],
    idfs: list[dict[str, float]],
    merged_idf: dict[str, float],
    avgdl: float,
    ks: list[int],
    algo: str,
    with_ties: bool = False,
    exclude=None,
    scoped: bool = False,
):
    """One grouped kernel scoring EVERY query of a batch against the
    group's postings: term posting lists are decoded once per group and
    shared across queries (idf is a corpus property, identical for any
    query naming the term), so N queries cost one postings scan + one
    decode instead of N jobs.  ``scoped=True`` applies ONE shared scope
    to every query of the batch (cogroup form, like
    :func:`_make_group_kernel`)."""

    def score(post_pdf: pd.DataFrame, allow: np.ndarray | None) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "query_id": pd.array([], dtype="int32"),
                "doc_id": pd.array([], dtype="int64"),
                "score": pd.array([], dtype="float64"),
            }
        )
        if len(post_pdf) == 0 or (allow is not None and allow.size == 0):
            return empty
        plists = _build_plists(post_pdf, merged_idf, avgdl)
        tomb = _for_seg(exclude, post_pdf)
        frames = []
        for qid, (spec, idf, k) in enumerate(zip(specs, idfs, ks)):
            # a boosted query's per-query idf map is SCALED, but plists
            # (shared across the batch) carry block bounds built from
            # the unscaled merged map — bound-dependent algos would be
            # lossy for boosts > 1, so weighted specs score exact
            qalgo = "exact" if spec.weights else algo
            docs, scores = _score_spec(
                spec, idf, plists, avgdl, k, qalgo, with_ties,
                tomb=tomb, allow=allow,
            )
            if docs.size:
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(docs.size, qid, dtype="int32"),
                            "doc_id": docs,
                            "score": scores,
                        }
                    )
                )
        return pd.concat(frames, ignore_index=True) if frames else empty

    if scoped:
        def kernel(key: tuple, post_pdf: pd.DataFrame, allow_pdf: pd.DataFrame):
            return score(post_pdf, _allow_arr(allow_pdf))
    else:
        def kernel(key: tuple, post_pdf: pd.DataFrame) -> pd.DataFrame:
            return score(post_pdf, None)

    return kernel
