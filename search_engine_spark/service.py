"""Search service facade — the ``/api/search`` response analog.

The reference's ``QueryService.search`` (QueryService.java:73-188)
returns an enriched page per request: ranked results with snippets
(``:1102-1257``), related-query suggestions (``:1498-1540``), and
pagination.  The engine pieces exist as separate tested operators; this
module composes them over the transcripts index — single root or LSM
segments (``CompressedIndex`` / ``MultiIndex`` both serve, same
surface).

Plan shape per request: ONE index top-k job (fetch ``page*k`` then
slice — the reference paginates the same ranked list), then one
broadcast-key join back to the transcripts table for text — the scan is
pruned by a pushed ``conv_id IN (...)`` filter over at most ``page*k``
conversations, never a full-corpus read — with the snippet window
computed by built-in expressions during that same job.  Small inputs
take no job at all: the index answers within its driver-local budget,
and a bare local parquet transcripts table within the same budget is
read on the driver (``index.reader.local_rows``), the snippet
expressions then running on that local relation.  Suggestions are
driver-side over the ≤5 top snippets (the reference uses result titles;
transcript turns have none, so the leading words of each top result
stand in, documented divergence).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from .operators.snippets import WIDTH, snippets
from .operators.suggest import MAX_TITLES, suggested_queries
from .oracle import has_expansion_tokens as _has_expansion_tokens

_TITLE_WORDS = 8  # leading words of a turn standing in for a page title


def _raw_terms(query_text: str, mode: str = "disjunctive") -> list[str]:
    """Lowercased literal query words for snippet locate — the reference
    highlights the ORIGINAL words, not the stemmed forms (:1102-1257).

    Mode-aware: boolean operator tokens never enter the locate set (the
    substring ``locate`` would center snippets on 'and' inside
    'standard'), and for a NOT query only the left phrase's words are
    highlighted — results must not contain the right phrase."""
    if mode in ("phrase", "boolean"):
        from .oracle import OPERATOR_PATTERN, PHRASE_PATTERN

        phrases = PHRASE_PATTERN.findall(query_text)
        if phrases:
            m = OPERATOR_PATTERN.search(query_text)
            if mode == "boolean" and m and m.group(1) == "NOT":
                phrases = phrases[:1]
            query_text = " ".join(phrases)
    elif mode == "qs":
        # positive clauses only (results must not contain must_not
        # text), literal surface forms only — shared rule with the
        # hybrid embedding side (boolquery.positive_text)
        from .boolquery import parse_query_string, positive_text

        query_text = positive_text(parse_query_string(query_text))
    return [w for w in re.split(r"[^0-9a-z]+", query_text.lower()) if w]


def search(
    index,
    transcripts: DataFrame,
    query_text: str,
    mode: str = "disjunctive",
    k: int = 10,
    page: int = 1,
    width: int = WIDTH,
    include_total: bool = True,
    tombstones: list | None = None,
    where: str | None = None,
    facet_col: str | None = None,
    collapse: bool = False,
    inner_hits: int | None = None,
    synonyms: bool | dict = False,
    recency: dict | None = None,
    functions: dict | None = None,
    analyzed: bool = False,
    highlight: bool = False,
    hybrid: dict | None = None,
) -> dict:
    """One enriched result page.

    Returns ``{"query", "mode", "page", "results": [{conv_id, turn_idx,
    score, snippet}], "suggested_queries": [...]}`` — the DataFrame work
    is two jobs (top-k, then the pruned text join); everything after the
    ≤ ``page*k``-row collect is driver-side, like the reference's
    response assembly.

    ``where`` (a SQL predicate over the transcripts columns, e.g.
    ``"role = 'user' AND ts >= timestamp'2026-01-02'"``) scopes results
    to matching turns — pushed to the metadata scan, cogrouped with the
    postings (see ``CompressedIndex.topk``); total_results counts the
    scoped candidate set.  ``facet_col`` adds ``{"facets": {value:
    count}}`` for that transcripts column over the (scoped) match set.

    ``collapse=True`` returns one result per CONVERSATION (its best
    turn as representative — ``topk_conversations``); ``total_results``
    still counts matching TURNS, the Elasticsearch field-collapsing
    contract (collapsed hit counts need a separate cardinality pass).
    ``inner_hits=N`` (with collapse) expands each collapsed
    conversation of the page to its top-N matching turns — results
    carry ``conv_score`` and ``hit_rank`` (1 = the representative) and
    pagination still slices CONVERSATIONS, so a page holds ≤ k·N rows.

    ``synonyms`` layers the query-time synonym splice
    (``index/synonyms.py``) on top of any prefix/fuzzy expansion:
    ``True`` uses the index's persisted sidecar, a dict is an explicit
    raw-word mapping.  Disjunctive only (OR-semantics is what a synonym
    means); the response echoes ``expanded_query``.

    ``analyzed=True`` treats ``query_text`` as whitespace-joined index
    vocabulary terms (term modes only) — the resubmission mode for a
    ``did_you_mean`` rewrite, which is analyzed and must not be
    re-stemmed.  A zero-hit first page on a plain term query carries
    ``did_you_mean`` (the ES term suggester, suggest_mode=missing).

    ``highlight=True`` tags every query-term occurrence inside each
    snippet with ``<em>…</em>`` (the ES highlight block) — same window,
    same surface-text term semantics, one extra JVM expression.

    ``hybrid`` ({"embeddings": df[, "method", "depth", "rrf_k", "w_lex",
    "w_sem", "dim"]}) serves the page from the fused BM25 ∪
    embedding-cosine ranking (``pipeline/hybrid.py`` — the ES
    hybrid-search request): one fused job, scope applied to both legs,
    snippets/suggestions/facets assembled as usual.  ``total_results``
    stays the lexical match count (the semantic leg retrieves a fixed
    depth, not a countable set).  Composes with scope/facets/paging/
    highlight; rejects collapse/recency/tombstones/synonyms/expansion
    (see the inline rationale).

    ``recency`` ({"now": iso_ts, "scale_s": s[, "offset_s", "decay_rate"]})
    reranks by freshness-decayed BM25 (``operators/recency.py`` — the ES
    function_score decay): results carry both ``score`` and
    ``recency_score`` and are ordered by the latter.  ``total_results``
    still counts the match set (decay reorders, never filters).  Not
    composable with ``collapse`` (a conversation's best-by-decay turn
    is not its best-by-BM25 turn; rejected rather than approximated).

    ``functions`` ({"functions": [fn, ...][, "score_mode", "boost_mode"]})
    reranks by the full ES function_score contract
    (``operators/function_score.py`` — field_value_factor / weight /
    deterministic random_score): results carry ``score`` and
    ``final_score`` and order by the latter.  Same composition rules as
    ``recency`` (its generalization): no collapse, and the two
    rescorers are mutually exclusive — one rescoring layer per request."""
    if page < 1:
        raise ValueError("page is 1-based")
    if recency and functions:
        raise ValueError(
            "recency and functions are both rescoring layers — pass ONE "
            "(recency decay is expressible as a functions clause upstream "
            "if both shapes are needed)"
        )
    if hybrid is not None and (
        collapse or recency or functions or tombstones or synonyms or analyzed
        or _has_expansion_tokens(query_text)
    ):
        # the fused ranking is turn-level over raw query text: collapse /
        # recency would rescore a score that is already a rank blend,
        # tombstones have no hook on the semantic leg (delete from the
        # embedding table instead), and expansion/synonym/analyzed
        # rewrites are index-vocabulary terms the embedder must not
        # re-analyze.  Rejected explicitly, never silently approximated.
        raise ValueError(
            "hybrid composes with scope/facets/paging/highlight only"
        )
    user_query = query_text
    scope = transcripts.filter(where) if where else None
    qspec = None
    if mode == "qs":
        # unified query string (operators/querystring.py): the grammar
        # carries its own occurrence/phrase/filter/expansion/boost
        # syntax, so the facade's rewrite layers must not touch it —
        # compile ONCE here and feed the spec to topk / match_count /
        # facet_counts below (parse and vocabulary expansion happen a
        # single time per request, like the reference's one-pass
        # query analysis)
        if hybrid is not None or synonyms or analyzed:
            raise ValueError(
                "mode='qs' does not compose with hybrid/synonyms/analyzed "
                "in the facade (the query string carries its own grammar; "
                "for a hybrid bool query use "
                "operators.querystring.hybrid_query_string)"
            )
        from .operators.querystring import _scope_for, compile_query_string

        qspec, qs_filters = compile_query_string(index, query_text)
        scope = _scope_for(transcripts, qs_filters, query_text, scope)
    # ``analyzed=True`` = query_text is already index vocabulary (e.g. a
    # did_you_mean rewrite being resubmitted): skip re-analysis AND the
    # marker expansion — Porter is not idempotent, so a second pass
    # would corrupt non-fixed-point vocab terms.
    if mode != "qs" and not analyzed and _has_expansion_tokens(query_text):
        # Lucene-style prefix/fuzzy expansion: trailing-* / trailing-~
        # tokens rewrite to index-vocabulary terms.  The rewrite is
        # FULLY ANALYZED (vocab terms must not be re-stemmed — Porter
        # is not idempotent), so it executes with analyzed=True.
        # Disjunctive only: a multi-term expansion inside a conjunctive
        # query would require ALL expansion terms (Lucene's contract is
        # any-of), so reject rather than silently change semantics.
        if mode != "disjunctive":
            raise ValueError(
                "prefix (*) / fuzzy (~) tokens require mode='disjunctive'"
            )
        query_text = index.expand_query(query_text)
        analyzed = True
    if synonyms:
        if mode != "disjunctive":
            raise ValueError("synonym expansion requires mode='disjunctive'")
        mapping = synonyms if isinstance(synonyms, dict) else None
        query_text = index.expand_synonyms(query_text, mapping, analyzed=analyzed)
        analyzed = True
    if hybrid is not None:
        # ``hybrid`` = {"embeddings": df[, "method", "depth", "rrf_k",
        # "w_lex", "w_sem", "dim"]} — the ES hybrid-search request body.
        # One fused job (both retrieval legs execute inside one union
        # plan); scope applies to both legs.  ``total_results`` below
        # stays the LEXICAL match count: the semantic leg retrieves a
        # fixed depth, not a countable match set — the same reason ES
        # reports capped total hits under knn.
        from .pipeline.hybrid import RRF_K, hybrid_topk

        deep = hybrid_topk(
            index, hybrid["embeddings"], query_text, k=page * k,
            depth=hybrid.get("depth", 50),
            method=hybrid.get("method", "rrf"),
            rrf_k=hybrid.get("rrf_k", RRF_K),
            w_lex=hybrid.get("w_lex", 1.0),
            w_sem=hybrid.get("w_sem", 1.0),
            mode=mode, dim=hybrid.get("dim", 64), scope=scope,
            ann_index=hybrid.get("ann_index"),
        )
    elif recency:
        if collapse:
            raise ValueError(
                "recency rescoring does not compose with collapse (a "
                "conversation's best-by-decay turn is not its best-by-BM25 turn)"
            )
        from .operators.recency import DECAY_RATE, recency_topk

        deep = recency_topk(
            index, transcripts, query_text, recency["now"], recency["scale_s"],
            mode, page * k,
            offset_s=recency.get("offset_s", 0.0),
            decay_rate=recency.get("decay_rate", DECAY_RATE),
            tombstones=tombstones, scope=scope, analyzed=analyzed, spec=qspec,
        )
    elif functions:
        if collapse:
            raise ValueError(
                "function_score rescoring does not compose with collapse "
                "(a conversation's best-by-shaped-score turn is not its "
                "best-by-BM25 turn)"
            )
        from .operators.function_score import function_score_topk

        deep = function_score_topk(
            index, transcripts, query_text, functions["functions"],
            mode, page * k,
            score_mode=functions.get("score_mode", "multiply"),
            boost_mode=functions.get("boost_mode", "multiply"),
            tombstones=tombstones, scope=scope, analyzed=analyzed, spec=qspec,
        )
    elif collapse:
        deep = index.topk_conversations(
            query_text, mode, page * k,
            tombstones=tombstones, scope=scope, analyzed=analyzed, spec=qspec,
        )
    else:
        deep = index.topk(
            query_text, mode, page * k,
            tombstones=tombstones, scope=scope, analyzed=analyzed, spec=qspec,
        )
    if inner_hits is not None:
        # the ES inner_hits block: pagination slices CONVERSATIONS (the
        # collapsed ranking unit), each carrying its top-N turns — so
        # the page is cut on distinct conv_id in ranking order, not on
        # raw rows.  Rows per page ≤ k·inner_hits, driver-side like
        # every other response assembly here.
        if not collapse:
            raise ValueError("inner_hits requires collapse=True")
        from .operators.innerhits import collapse_inner_hits

        all_rows = collapse_inner_hits(
            index, query_text, mode, page * k, int(inner_hits),
            tombstones=tombstones, scope=scope, analyzed=analyzed, spec=qspec,
        ).collect()
        ranked: list[str] = []
        for r in all_rows:  # already (conv_score desc, conv_id, hit_rank)
            if not ranked or ranked[-1] != r.conv_id:
                ranked.append(r.conv_id)
        page_convs = set(ranked[(page - 1) * k : page * k])
        rows = [r for r in all_rows if r.conv_id in page_convs]
    else:
        rows = deep.collect()[(page - 1) * k : page * k]
    totals = {}
    if include_total:
        # totalResults/totalPages, served on every reference response
        # (QueryService pagination) — one grouped count pass
        total = index.match_count(
            query_text, mode, tombstones=tombstones, scope=scope,
            analyzed=analyzed, spec=qspec,
        )
        totals = {"total_results": total, "total_pages": -(-total // k)}
    if facet_col:
        totals["facets"] = {
            r[facet_col]: r["n"]
            for r in index.facet_counts(
                query_text, transcripts, facet_col, mode,
                tombstones=tombstones, scope=scope, analyzed=analyzed,
                spec=qspec,
            ).collect()
        }
    if not rows:
        # zero hits on a plain term query → offer a spelling correction
        # (ES term-suggester, suggest_mode=missing; search-UI contract:
        # "did you mean" appears only when the query found nothing).
        # page==1 empty IS "found nothing" (page 1 slices the deep top-k
        # from rank 0); deeper empty pages of matching queries must not
        # trigger it (or pay its vocabulary lookup).  Term modes only;
        # expansion rewrites already handled typos.  The suggestion is
        # an ANALYZED rewrite — resubmit it with ``analyzed=True``.
        dym = {}
        if page == 1 and not analyzed and mode in ("disjunctive", "conjunctive"):
            from .operators.didyoumean import suggest_correction

            corrected, _sugg = suggest_correction(index, query_text)
            if corrected is not None:
                dym = {"did_you_mean": corrected}
        return {
            "query": user_query,
            **({"expanded_query": query_text} if query_text != user_query else {}),
            "mode": mode,
            "page": page,
            "results": [],
            "suggested_queries": [],
            **dym,
            **totals,
        }
    convs = sorted({r.conv_id for r in rows})
    keys = sorted({f"{r.conv_id}\x1f{r.turn_idx}" for r in rows})
    # conv_id IN (...) reaches the parquet scan (pushed filter); the
    # exact (conv, turn) pair match runs on the pruned rows.  A small
    # local parquet table is read on the driver instead, and the same
    # expressions then run on that local relation with no job.
    from .index.reader import local_rows

    conv_rows = local_rows(transcripts, ["conv_id", "turn_idx", "text"], "conv_id", convs)
    if conv_rows is None:
        conv_rows = transcripts.filter(F.col("conv_id").isin(convs))
    hits = conv_rows.filter(
        F.concat_ws("\x1f", F.col("conv_id"), F.col("turn_idx")).isin(keys)
    )
    # highlight=True tags every in-window query-term occurrence with
    # <em>…</em> (operators/highlight.py — the ES highlight block);
    # same window, same terms, one extra regexp_replace expression.
    snip_fn = snippets
    if highlight:
        from .operators.highlight import highlighted_snippets as snip_fn
    snip = snip_fn(
        hits,
        _raw_terms(query_text, mode),
        width=width,
        key_cols=("conv_id", "turn_idx"),
    )
    snippet_map = {
        (r.conv_id, r.turn_idx): r.snippet for r in snip.collect()
    }
    results = [
        {
            "conv_id": r.conv_id,
            "turn_idx": r.turn_idx,
            "score": r.score,
            **(
                {"recency_score": r.recency_score}
                if "recency_score" in r.__fields__
                else {}
            ),
            **(
                {"final_score": r.final_score}
                if "final_score" in r.__fields__
                else {}
            ),
            **(
                {"conv_score": r.conv_score, "hit_rank": r.hit_rank}
                if "hit_rank" in r.__fields__
                else {}
            ),
            "snippet": snippet_map.get((r.conv_id, r.turn_idx), ""),
        }
        for r in rows
    ]
    titles = []
    for res in results[:MAX_TITLES]:
        snip = res["snippet"]
        if highlight and snip:
            # suggestions are queries, not display text: untag first
            snip = snip.replace("<em>", "").replace("</em>", "")
        if not snip:
            continue
        words = snip.strip(".").split()
        # a leading '...' means the window cut mid-text: the first token
        # may be a word fragment — drop it so suggestions stay real words
        if snip.startswith("...") and words:
            words = words[1:]
        titles.append(" ".join(words[:_TITLE_WORDS]))
    return {
        "query": user_query,
        **({"expanded_query": query_text} if query_text != user_query else {}),
        "mode": mode,
        "page": page,
        "results": results,
        "suggested_queries": suggested_queries(query_text, titles),
        **totals,
    }
