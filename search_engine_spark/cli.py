"""CLI entrypoints: build / query / bench / resume.

The spark-submit surface of the engine (north rule: "run via
spark-submit --py-files"), also runnable as
``python -m search_engine_spark.cli <cmd>`` locally.

  build   --input <transcripts parquet/dir> --output <index dir>
          [--groups 8] [--checkpoint] [--resume]
  query   --index <index dir> --query "<text>" [--mode disjunctive]
          [--k 10] [--algo auto]
  bench   (delegates to bench.py's workload at $SPARK_GRAFT_SF_DIR)

The reference's equivalents are the REST endpoints /reindex and
/api/search (ReindexController.java:40-104, SearchController.java:182-276);
ours are batch jobs over Parquet/Iceberg tables.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _spark(cores: int | None):
    from .session import get_spark

    return get_spark(app_name="search_engine_spark.cli", cores=cores)


def cmd_build(args: argparse.Namespace) -> None:
    from .config import BuildConfig
    from .index.build import IndexBuilder
    from .sources import load_transcripts

    spark = _spark(args.cores)
    cfg = BuildConfig(num_groups=args.groups, checkpoint=args.checkpoint)
    t0 = time.time()
    b = IndexBuilder(spark, args.output, cfg)
    # --input: parquet path, or table:/iceberg:<name> for catalog tables
    b.build(load_transcripts(spark, args.input), resume=args.resume)
    n, avgdl = b.corpus_stats()
    print(
        json.dumps(
            {
                "index": args.output,
                "n_docs": n,
                "avgdl": round(avgdl, 3),
                "groups": args.groups,
                "seconds": round(time.time() - t0, 2),
                "lineage": b.metrics,
            }
        )
    )


def cmd_update_segment(args: argparse.Namespace) -> None:
    from .index.build import load_meta
    from .index.extend import ingest_update_segment, read_shadow_keys
    from .sources import load_transcripts

    spark = _spark(args.cores)
    t0 = time.time()
    roots = [r for r in args.segments.split(",") if r]
    ingest_update_segment(
        spark, roots, load_transcripts(spark, args.input), args.output
    )
    meta = load_meta(args.output)
    print(
        json.dumps(
            {
                "segment": args.output,
                "updates_base": roots,
                "n_docs": meta["n_docs"],
                "shadowed_turns": len(read_shadow_keys(spark, args.output)),
                "query_with": ",".join(roots + [args.output]),
                "seconds": round(time.time() - t0, 2),
            }
        )
    )


def cmd_extend(args: argparse.Namespace) -> None:
    from .index.build import load_meta
    from .index.extend import extend_index
    from .sources import load_transcripts

    spark = _spark(args.cores)
    t0 = time.time()
    extend_index(
        spark,
        args.index,
        load_transcripts(spark, args.input),
        args.output,
        updates=getattr(args, "updates", False),
    )
    meta = load_meta(args.output)
    print(
        json.dumps(
            {
                "index": args.output,
                "extended_from": args.index,
                "n_docs": meta["n_docs"],
                "n_docs_added": meta["n_docs"] - meta["n_docs_before_extend"],
                "avgdl": round(meta["avgdl"], 3),
                "order_isomorphic": meta["docid_order_isomorphic"],
                "seconds": round(time.time() - t0, 2),
            }
        )
    )


def _load_tombstones(path: str | None) -> list | None:
    """JSONL of {"conv_id": ...} (whole conversation) or
    {"conv_id": ..., "turn_idx": N} (one turn) → tombstone items."""
    if not path:
        return None
    items: list = []
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            d = json.loads(line)
            items.append(
                d["conv_id"] if d.get("turn_idx") is None
                else (d["conv_id"], int(d["turn_idx"]))
            )
    return items


def _open_index(spark, index_arg: str):
    """One root, or comma-separated roots (LSM read path over base +
    delta segments) → one reader over them; ``alias:<catalog>/<name>``
    resolves through the catalog first (zero-downtime flips)."""
    from .catalog import resolve_index_arg
    from .index.multi import MultiIndex

    return MultiIndex(spark, [p for p in resolve_index_arg(index_arg).split(",") if p])


def cmd_compact(args: argparse.Namespace) -> None:
    from .index.build import load_meta
    from .index.extend import compact_segments

    spark = _spark(args.cores)
    roots = [p for p in args.segments.split(",") if p]
    t0 = time.time()
    compact_segments(
        spark, roots, args.output, tombstones=_load_tombstones(args.tombstones)
    )
    meta = load_meta(args.output)
    print(
        json.dumps(
            {
                "index": args.output,
                "compacted_from": roots,
                "n_docs": meta["n_docs"],
                "avgdl": round(meta["avgdl"], 3),
                "order_isomorphic": meta["docid_order_isomorphic"],
                "seconds": round(time.time() - t0, 2),
            }
        )
    )


def cmd_fuzzy_build(args: argparse.Namespace) -> None:
    """Materialize the delete-1 fuzzy sidecar (index/fuzzy.py) so
    ``term~`` queries prune to the query variants' buckets instead of
    scanning the vocabulary."""
    from .index.fuzzy import build_fuzzy_sidecar

    spark = _spark(args.cores)
    t0 = time.time()
    out = build_fuzzy_sidecar(spark, args.index)
    print(
        json.dumps(
            {"fuzzy_sidecar": out, "seconds": round(time.time() - t0, 2)}
        )
    )


def cmd_synonyms_build(args: argparse.Namespace) -> None:
    """Persist a curated raw-word synonym mapping as the index's sidecar
    (index/synonyms.py) — analyzed once at write time, spliced into
    queries at read time (--synonyms)."""
    from .index.synonyms import write_synonyms

    with open(args.mapping) as fh:
        mapping = json.load(fh)
    spark = _spark(args.cores)
    t0 = time.time()
    out = write_synonyms(spark, args.index, mapping)
    print(
        json.dumps(
            {
                "synonyms_sidecar": out,
                "rules": len(mapping),
                "seconds": round(time.time() - t0, 2),
            }
        )
    )


def _add_rerank_args(p) -> None:
    """Shared query-layer flags: synonym splice + recency decay."""
    p.add_argument(
        "--synonyms",
        action="store_true",
        help="splice the index's persisted synonym sidecar into the query",
    )
    p.add_argument(
        "--recency-now",
        help="rerank by freshness-decayed BM25: the reference 'now' "
        "timestamp (ISO, same clock as the ts column)",
    )
    p.add_argument(
        "--recency-scale", type=float,
        help="decay scale in seconds (half-life at the default decay rate)",
    )
    p.add_argument("--recency-offset", type=float, default=0.0,
                   help="grace window in seconds before decay starts")
    p.add_argument("--recency-decay", type=float, default=0.5,
                   help="multiplier at scale seconds past the offset")


def _recency_opts(args: argparse.Namespace) -> dict | None:
    if not getattr(args, "recency_now", None):
        return None
    if args.recency_scale is None:
        raise SystemExit("--recency-now needs --recency-scale (seconds)")
    return {
        "now": args.recency_now,
        "scale_s": args.recency_scale,
        "offset_s": args.recency_offset,
        "decay_rate": args.recency_decay,
    }


def cmd_search(args: argparse.Namespace) -> None:
    """Enriched result page (snippets + suggestions) — /api/search analog."""
    from .service import search
    from .sources import load_transcripts

    spark = _spark(args.cores)
    idx = _open_index(spark, args.index)
    tr = load_transcripts(spark, args.input)
    hybrid = None
    if getattr(args, "embeddings", None):
        hybrid = {
            "embeddings": spark.read.parquet(args.embeddings),
            "method": args.fusion,
            "depth": args.depth,
            "dim": args.dim,
            "ann_index": (
                args.ann_index.split(",") if "," in args.ann_index
                else args.ann_index
            ) if getattr(args, "ann_index", None) else None,
        }
    t0 = time.time()
    page = search(
        idx, tr, args.query, args.mode, args.k, page=args.page,
        tombstones=_load_tombstones(args.tombstones),
        where=args.where, facet_col=args.facet,
        collapse=getattr(args, "collapse", False),
        synonyms=getattr(args, "synonyms", False),
        recency=_recency_opts(args),
        analyzed=getattr(args, "analyzed", False),
        highlight=getattr(args, "highlight", False),
        hybrid=hybrid,
    )
    page["seconds"] = round(time.time() - t0, 3)
    print(json.dumps(page))


def cmd_query(args: argparse.Namespace) -> None:
    spark = _spark(args.cores)
    idx = _open_index(spark, args.index)
    scope = None
    if args.where:
        if not args.input:
            raise SystemExit("--where needs --input (the transcripts table to filter)")
        from .sources import load_transcripts

        scope = load_transcripts(spark, args.input).filter(args.where)
    t0 = time.time()  # before expansion: its Spark jobs are part of query latency
    query_text, analyzed = args.query, False
    expanded = None if args.mode == "qs" else idx.expand_query(args.query)
    if expanded is not None:
        if args.mode != "disjunctive":
            raise SystemExit(
                "prefix/wildcard (*?), fuzzy (~), and regexp (/…/) "
                "tokens require --mode disjunctive"
            )
        query_text, analyzed = expanded, True
    if getattr(args, "synonyms", False):
        if args.mode != "disjunctive":
            raise SystemExit("--synonyms requires --mode disjunctive")
        query_text = idx.expand_synonyms(query_text, analyzed=analyzed)
        analyzed = True
    min_match = getattr(args, "min_match", None)
    search_after = None
    if getattr(args, "search_after", None):
        try:
            cs, cc, ct = json.loads(args.search_after)
            search_after = (float(cs), str(cc), int(ct))
        except (ValueError, TypeError) as e:
            raise SystemExit(
                f'--search-after must be JSON [score, "conv_id", turn_idx]: {e}'
            )
    if args.mode == "qs":
        # unified query string (operators/querystring.py): occurrence,
        # phrases, field filters, expansion markers, and boosts in ONE
        # string — expansion/synonym rewrites and --algo do not apply
        # (the grammar carries its own markers; candidates+exact path)
        if getattr(args, "sort_field", None) or _recency_opts(args) or (
            getattr(args, "synonyms", False)
        ):
            raise SystemExit(
                "--mode qs does not compose with --sort-field/"
                "--recency-now/--synonyms"
            )
        from .operators.querystring import search_query_string

        meta = None
        if args.input:
            from .sources import load_transcripts

            meta = load_transcripts(spark, args.input)
        rows = search_query_string(
            idx, args.query, args.k, meta=meta,
            min_should_match=min_match,
            tombstones=_load_tombstones(args.tombstones),
            search_after=search_after,
            collapse=getattr(args, "collapse", False),
            scope=scope,
        ).collect()
        print(
            json.dumps(
                {
                    "query": args.query,
                    "mode": "qs",
                    "seconds": round(time.time() - t0, 3),
                    "results": [
                        {
                            "conv_id": r["conv_id"],
                            "turn_idx": r["turn_idx"],
                            "score": r["score"],
                        }
                        for r in rows
                    ],
                }
            )
        )
        return
    if getattr(args, "sort_field", None):
        if getattr(args, "collapse", False) or _recency_opts(args) or (
            search_after is not None
        ):
            raise SystemExit(
                "--sort-field does not compose with --collapse/--recency-now/"
                "--search-after (field order has no score cursor)"
            )
        if not args.input:
            raise SystemExit("--sort-field needs --input (the transcripts table)")
        from .operators.fieldsort import topk_by_field
        from .sources import load_transcripts

        tr = load_transcripts(spark, args.input)
        rows = topk_by_field(
            idx, tr, query_text, args.sort_field, args.sort_asc, args.k,
            args.mode, tombstones=_load_tombstones(args.tombstones),
            scope=scope, analyzed=analyzed, min_match=min_match or 1,
        ).collect()
        print(
            json.dumps(
                {
                    "query": args.query,
                    "mode": args.mode,
                    "sort": {"field": args.sort_field,
                             "order": "asc" if args.sort_asc else "desc"},
                    "seconds": round(time.time() - t0, 3),
                    "results": [
                        {
                            "conv_id": r["conv_id"],
                            "turn_idx": r["turn_idx"],
                            args.sort_field: str(r[args.sort_field]),
                        }
                        for r in rows
                    ],
                }
            )
        )
        return
    recency = _recency_opts(args)
    if recency:
        if getattr(args, "collapse", False):
            raise SystemExit("--recency-now does not compose with --collapse")
        if search_after is not None or (min_match or 1) > 1:
            raise SystemExit(
                "--recency-now does not compose with --search-after/--min-match "
                "(the decayed order is not monotone in the BM25 cursor)"
            )
        from .operators.recency import recency_topk
        from .sources import load_transcripts

        if not args.input:
            raise SystemExit(
                "--recency-now needs --input (the transcripts table with ts)"
            )
        tr = load_transcripts(spark, args.input)
        rows = recency_topk(
            idx, tr, query_text, recency["now"], recency["scale_s"],
            args.mode, args.k,
            offset_s=recency["offset_s"], decay_rate=recency["decay_rate"],
            tombstones=_load_tombstones(args.tombstones), scope=scope,
            analyzed=analyzed,
        ).collect()
    elif getattr(args, "collapse", False):
        inner_n = getattr(args, "inner_hits", None)
        if inner_n:
            if search_after is not None:
                raise SystemExit(
                    "--inner-hits does not compose with --search-after "
                    "(page the collapsed ranking, then fetch inner hits)"
                )
            from .operators.innerhits import collapse_inner_hits

            rows = collapse_inner_hits(
                idx, query_text, args.mode, args.k, inner_n,
                tombstones=_load_tombstones(args.tombstones), scope=scope,
                analyzed=analyzed, min_match=min_match or 1,
            ).collect()
        else:
            rows = idx.topk_conversations(
                query_text, args.mode, args.k,
                tombstones=_load_tombstones(args.tombstones), scope=scope,
                analyzed=analyzed, min_match=min_match or 1,
                search_after=search_after,
            ).collect()
    else:
        rows = idx.topk(
            query_text, args.mode, args.k, algo=args.algo,
            tombstones=_load_tombstones(args.tombstones), scope=scope,
            analyzed=analyzed, min_match=min_match or 1, search_after=search_after,
        ).collect()
    print(
        json.dumps(
            {
                "query": args.query,
                **(
                    {"expanded_query": query_text}
                    if query_text != args.query
                    else {}
                ),
                "mode": args.mode,
                "seconds": round(time.time() - t0, 3),
                "results": [
                    {
                        "conv_id": r["conv_id"],
                        "turn_idx": r["turn_idx"],
                        "score": r["score"],
                        **(
                            {"recency_score": r["recency_score"]}
                            if "recency_score" in r.__fields__
                            else {}
                        ),
                        **(
                            {"conv_score": r["conv_score"],
                             "hit_rank": r["hit_rank"]}
                            if "hit_rank" in r.__fields__
                            else {}
                        ),
                    }
                    for r in rows
                ],
            }
        )
    )


def cmd_explain(args: argparse.Namespace) -> None:
    """Per-term score breakdown of one (conv_id, turn_idx) for a query
    — the ES ``_explain`` analog.  ``matched`` is false (no rows) when
    the doc is outside the query's match set."""
    spark = _spark(args.cores)
    idx = _open_index(spark, args.index)
    t0 = time.time()
    spec = None
    if args.mode == "qs":
        from .operators.querystring import compile_query_string

        spec, filters = compile_query_string(idx, args.query)
        if filters:
            raise SystemExit(
                "explain scores ONE known document — field filters do not "
                "score and have no membership hook here; drop them from "
                "the query string"
            )
    rows = idx.explain(
        args.query, args.conv_id, args.turn_idx, args.mode,
        tombstones=_load_tombstones(args.tombstones),
        min_match=getattr(args, "min_match", 1),
        spec=spec,
    ).collect()
    total = 0.0
    for r in sorted(rows, key=lambda r: r["term"]):
        total += r["contribution"]
    print(
        json.dumps(
            {
                "query": args.query,
                "mode": args.mode,
                "conv_id": args.conv_id,
                "turn_idx": args.turn_idx,
                "matched": bool(rows),
                "score": total,
                "seconds": round(time.time() - t0, 3),
                "terms": [
                    {
                        "term": r["term"],
                        "df": r["df"],
                        "idf": r["idf"],
                        "weight": r["weight"],
                        "tf": r["tf"],
                        "dl": r["dl"],
                        "partial": r["partial"],
                        "contribution": r["contribution"],
                    }
                    for r in rows
                ],
            }
        )
    )


def cmd_query_batch(args: argparse.Namespace) -> None:
    """Many queries, ONE Spark job (topk_batch) — the unit of work a
    Spark engine should serve; ~6x faster than per-query jobs on the
    30-query reference set."""
    spark = _spark(args.cores)
    idx = _open_index(spark, args.index)
    with open(args.queries) as f:
        raw = [json.loads(line) for line in f if line.strip()]
    queries: list = [
        (q["query_text"], q.get("mode", "disjunctive"), q.get("k", args.k))
        for q in raw
    ]
    t0 = time.time()  # qs compilation's vocabulary jobs count as latency
    qs_rows = [i for i, q in enumerate(raw) if q.get("mode") == "qs"]
    if qs_rows:
        # mode "qs" rows compile through the batched vocabulary pass
        # (one pushed idf-table job per marker kind for the whole file)
        # and ride the same single topk_batch job as the plain rows
        from .operators.querystring import compile_query_strings

        specs = compile_query_strings(
            idx, [raw[i]["query_text"] for i in qs_rows]
        )
        for i, spec in zip(qs_rows, specs):
            queries[i] = (spec, raw[i].get("k", args.k))
    rows = idx.topk_batch(queries, k=args.k, algo=args.algo).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(
            {"conv_id": r["conv_id"], "turn_idx": r["turn_idx"], "score": r["score"]}
        )
    for res in by_q.values():
        res.sort(key=lambda x: (-x["score"], x["conv_id"], x["turn_idx"]))
    print(
        json.dumps(
            {
                "n_queries": len(queries),
                "seconds": round(time.time() - t0, 3),
                "results": [
                    {"query": raw[i]["query_text"], "topk": by_q.get(i, [])}
                    for i in range(len(queries))
                ],
            }
        )
    )


def cmd_mlt(args: argparse.Namespace) -> None:
    """More-like-this: rank turns similar to one source turn (its top
    tf*idf terms as a disjunctive BM25 query, source excluded)."""
    from .operators.mlt import mlt_query_terms, more_like_this
    from .sources import load_transcripts

    spark = _spark(args.cores)
    idx = _open_index(spark, args.index)
    tr = load_transcripts(spark, args.input)
    t0 = time.time()
    terms = mlt_query_terms(idx, tr, args.conv, args.turn, args.max_terms)
    rows = (
        more_like_this(
            idx, tr, args.conv, args.turn, args.k, args.max_terms, terms=terms
        ).collect()
        if terms
        else []
    )
    print(
        json.dumps(
            {
                "source": {"conv_id": args.conv, "turn_idx": args.turn},
                "mlt_terms": terms,
                "seconds": round(time.time() - t0, 3),
                "results": [
                    {
                        "conv_id": r["conv_id"],
                        "turn_idx": r["turn_idx"],
                        "score": r["score"],
                    }
                    for r in rows
                ],
            }
        )
    )


def cmd_percolate(args: argparse.Namespace) -> None:
    """Reverse search: match a transcript table (a backfill or a new
    arrival batch) against a registry of saved queries in one Arrow
    pass; optionally score matches with an index's global BM25 stats
    and/or write the full match table to parquet."""
    from pyspark.sql import functions as F

    from .operators.percolate import percolate, register, scoring_stats
    from .sources import load_transcripts

    spark = _spark(args.cores)
    with open(args.queries) as f:
        registry = [json.loads(line) for line in f if line.strip()]
    saved = register(registry)
    stats = None
    if args.index:
        stats = scoring_stats(_open_index(spark, args.index), saved)
    tr = load_transcripts(spark, args.input)
    t0 = time.time()
    out = percolate(tr, saved, stats)
    if args.out:
        out.write.mode("overwrite").parquet(args.out)
        out = spark.read.parquet(args.out)
    counts = {
        r["query_id"]: r["n"]
        for r in out.groupBy("query_id").agg(F.count("*").alias("n")).collect()
    }
    print(
        json.dumps(
            {
                "registered": len(saved),
                "matches": {sq.query_id: counts.get(sq.query_id, 0) for sq in saved},
                "scored": stats is not None,
                "out": args.out,
                "seconds": round(time.time() - t0, 3),
            }
        )
    )


def cmd_hybrid(args: argparse.Namespace) -> None:
    """Hybrid retrieval: BM25 top-depth ∪ embedding-cosine top-depth,
    fused by RRF or min-max linear — the ES/OpenSearch hybrid-search
    analog.  Embeddings come from --embeddings (a (conv_id, turn_idx,
    embedding) parquet) or are hash-embedded on the fly from --input.
    --collapse ranks CONVERSATIONS: best-turn BM25 fused with cosine
    over mean-pooled conversation embeddings."""
    from .pipeline.hybrid import hash_embed, hybrid_conversations, hybrid_topk
    from .sources import load_transcripts

    if not args.embeddings and not args.input:
        raise SystemExit("hybrid needs --embeddings or --input")
    spark = _spark(args.cores)
    idx = _open_index(spark, args.index)
    if args.embeddings:
        emb = spark.read.parquet(args.embeddings)
    else:
        emb = hash_embed(load_transcripts(spark, args.input), args.dim)
    t0 = time.time()
    if args.collapse:
        if args.method != "rrf" or args.ann_index:
            raise SystemExit("--collapse supports --method rrf without --ann-index")
        rows = hybrid_conversations(
            idx, emb, args.query, k=args.k, depth=args.depth, mode=args.mode,
            w_lex=args.w_lex, w_sem=args.w_sem, dim=args.dim,
        ).collect()
    else:
        rows = hybrid_topk(
            idx,
            emb,
            args.query,
            k=args.k,
            depth=args.depth,
            method=args.method,
            mode=args.mode,
            w_lex=args.w_lex,
            w_sem=args.w_sem,
            dim=args.dim,
            ann_index=(
                args.ann_index.split(",") if args.ann_index and "," in args.ann_index
                else args.ann_index
            ),
        ).collect()
    print(
        json.dumps(
            {
                "query": args.query,
                "method": args.method,
                "collapse": bool(args.collapse),
                "seconds": round(time.time() - t0, 3),
                "results": [
                    {
                        **({"conv_id": r["conv_id"]} if args.collapse else
                           {"conv_id": r["conv_id"], "turn_idx": r["turn_idx"]}),
                        "score": r["score"],
                    }
                    for r in rows
                ],
            }
        )
    )


def cmd_term_vectors(args: argparse.Namespace) -> None:
    """Per-doc term vector (ES _termvectors): re-analyze one turn and
    join the index's live df/idf stats."""
    from .operators.termvectors import term_vectors
    from .sources import load_transcripts

    spark = _spark(args.cores)
    idx = _open_index(spark, args.index)
    tr = load_transcripts(spark, args.input)
    t0 = time.time()
    rows = term_vectors(idx, tr, args.conv, args.turn).collect()
    print(
        json.dumps(
            {
                "doc": {"conv_id": args.conv, "turn_idx": args.turn},
                "doc_count": idx.n_docs,
                "seconds": round(time.time() - t0, 3),
                "terms": [
                    {
                        "term": r["term"],
                        "tf": r["tf"],
                        "positions": r["positions"],
                        "df": r["df"],
                        "idf": round(r["idf"], 6),
                    }
                    for r in rows
                ],
            }
        )
    )


def cmd_rank_eval(args: argparse.Namespace) -> None:
    """Retrieval-quality evaluation (ES _rank_eval): a query set + a
    relevance-judgment table → per-query precision/recall/MRR/NDCG@k
    and the mean summary row."""
    from .pipeline.rankeval import JUDGMENT_COLS, rank_eval, rank_eval_summary

    spark = _spark(args.cores)
    idx = _open_index(spark, args.index)
    with open(args.queries) as f:
        qs = [json.loads(line) for line in f if line.strip()]
    queries = [(q["query_text"], q.get("mode", "disjunctive")) for q in qs]
    with open(args.judgments) as f:
        jrows = [json.loads(line) for line in f if line.strip()]
    judgments = spark.createDataFrame(
        [(int(r["query_id"]), r["conv_id"], int(r["turn_idx"]), int(r["rating"]))
         for r in jrows],
        list(JUDGMENT_COLS),
    )
    t0 = time.time()
    per = rank_eval(idx, queries, judgments, k=args.k)
    rows = per.collect()
    summary = rank_eval_summary(per).collect()[0]
    metrics = ("precision_at_k", "recall_at_k", "mrr", "ndcg")
    print(
        json.dumps(
            {
                "k": args.k,
                "seconds": round(time.time() - t0, 3),
                "summary": {m: round(summary[m], 6) for m in metrics},
                "per_query": [
                    {
                        "query_id": r["query_id"],
                        "query_text": queries[r["query_id"]][0],
                        **{m: round(r[m], 6) for m in metrics},
                        "n_retrieved": r["n_retrieved"],
                        "n_relevant": r["n_relevant"],
                    }
                    for r in sorted(rows, key=lambda r: r["query_id"])
                ],
            }
        )
    )


def cmd_correct(args: argparse.Namespace) -> None:
    """Did-you-mean: per unmatched query term, the highest-df
    edit-distance-<=1 vocabulary neighbor; optionally run the corrected
    query (analyzed execution)."""
    from .operators.didyoumean import suggest_correction

    spark = _spark(args.cores)
    idx = _open_index(spark, args.index)
    t0 = time.time()
    corrected, sugg = suggest_correction(idx, args.query)
    out = {
        "query": args.query,
        "corrected_query": corrected,
        "suggestions": sugg,
        "seconds": round(time.time() - t0, 3),
    }
    if corrected and args.run:
        rows = idx.topk(corrected, "disjunctive", args.k, analyzed=True).collect()
        out["results"] = [
            {"conv_id": r["conv_id"], "turn_idx": r["turn_idx"], "score": r["score"]}
            for r in rows
        ]
        out["seconds"] = round(time.time() - t0, 3)
    print(json.dumps(out))


def _maybe_qs_spec(idx, tr, args, scope):
    """--mode qs on an analytics command: compile the query string ONCE
    (vocabulary expansion included); field filters fold into the scope
    alongside any --where predicate.  Returns (spec, scope) — spec is
    None for the standard modes."""
    if args.mode != "qs":
        return None, scope
    from .operators.querystring import _scope_for, compile_query_string

    spec, filters = compile_query_string(idx, args.query)
    return spec, _scope_for(tr, filters, args.query, scope)


def cmd_function_score(args: argparse.Namespace) -> None:
    """ES function_score rescoring: BM25 shaped by field_value_factor /
    weight / deterministic random_score function clauses."""
    from .operators.function_score import function_score_topk
    from .sources import load_transcripts

    spark = _spark(args.cores)
    idx = _open_index(spark, args.index)
    tr = load_transcripts(spark, args.input)
    scope = tr.filter(args.where) if args.where else None
    spec, scope = _maybe_qs_spec(idx, tr, args, scope)
    functions = json.loads(args.functions)
    t0 = time.time()
    rows = function_score_topk(
        idx, tr, args.query, functions, args.mode, args.k,
        score_mode=args.score_mode, boost_mode=args.boost_mode,
        scope=scope, spec=spec,
    ).collect()
    print(
        json.dumps(
            {
                "query": args.query,
                "mode": args.mode,
                "score_mode": args.score_mode,
                "boost_mode": args.boost_mode,
                "seconds": round(time.time() - t0, 3),
                "results": [
                    {"conv_id": r["conv_id"], "turn_idx": r["turn_idx"],
                     "score": r["score"], "final_score": r["final_score"]}
                    for r in rows
                ],
            }
        )
    )


def cmd_significant(args: argparse.Namespace) -> None:
    """Significant terms: what is distinctive about the match set
    (ES significant_terms, JLH scoring)."""
    from .pipeline.significant import significant_terms
    from .sources import load_transcripts

    spark = _spark(args.cores)
    idx = _open_index(spark, args.index)
    tr = load_transcripts(spark, args.input)
    scope = tr.filter(args.where) if args.where else None
    spec, scope = _maybe_qs_spec(idx, tr, args, scope)
    t0 = time.time()
    rows = significant_terms(
        idx, tr, args.query, args.mode, n=args.n, min_fg=args.min_fg,
        include_query_terms=args.include_query_terms, scope=scope, spec=spec,
    ).collect()
    print(
        json.dumps(
            {
                "query": args.query,
                "mode": args.mode,
                "seconds": round(time.time() - t0, 3),
                "terms": [
                    {"term": r["term"], "fg": r["fg"], "bg": r["bg"],
                     "score": r["score"]}
                    for r in rows
                ],
            }
        )
    )


def cmd_histogram(args: argparse.Namespace) -> None:
    """Date histogram: match counts per calendar interval of ts."""
    from .pipeline.histogram import date_histogram
    from .sources import load_transcripts

    spark = _spark(args.cores)
    idx = _open_index(spark, args.index)
    tr = load_transcripts(spark, args.input)
    scope = tr.filter(args.where) if args.where else None
    spec, scope = _maybe_qs_spec(idx, tr, args, scope)
    t0 = time.time()
    if getattr(args, "buckets", False):
        from .pipeline.histogram import date_histogram_buckets

        rows = date_histogram_buckets(
            idx, tr, args.query, args.mode, args.interval,
            lag=args.lag, min_n=args.min_n, sort=args.sort_buckets,
            descending=args.descending, limit=args.limit,
            min_doc_count=args.min_doc_count, script=args.script,
            scope=scope, spec=spec,
        ).collect()
        print(
            json.dumps(
                {
                    "query": args.query,
                    "mode": args.mode,
                    "interval": args.interval,
                    "lag": args.lag,
                    "seconds": round(time.time() - t0, 3),
                    "buckets": [
                        {"bucket": str(r["bucket"]), "n": r["n"],
                         "serial_diff": r["serial_diff"],
                         **({"script_value": r["script_value"]}
                            if args.script else {})}
                        for r in rows
                    ],
                }
            )
        )
        return
    if getattr(args, "pipeline", False):
        from .pipeline.histogram import date_histogram_pipeline

        rows = date_histogram_pipeline(
            idx, tr, args.query, args.mode, args.interval,
            window=args.window, min_doc_count=args.min_doc_count, scope=scope,
            spec=spec,
        ).collect()
        buckets = [
            {"bucket": str(r["bucket"]), "n": r["n"],
             "cumulative_sum": r["cumulative_sum"],
             "derivative": r["derivative"], "moving_avg": r["moving_avg"]}
            for r in rows
        ]
    else:
        rows = date_histogram(
            idx, tr, args.query, args.mode, args.interval, scope=scope,
            spec=spec,
        ).collect()
        buckets = [{"bucket": str(r["bucket"]), "n": r["n"]} for r in rows]
    print(
        json.dumps(
            {
                "query": args.query,
                "mode": args.mode,
                "interval": args.interval,
                "seconds": round(time.time() - t0, 3),
                "buckets": buckets,
            }
        )
    )


def cmd_top_hits(args: argparse.Namespace) -> None:
    """Best k hits per value of a metadata column (ES terms+top_hits)."""
    from .pipeline.tophits import top_hits_by
    from .sources import load_transcripts

    spark = _spark(args.cores)
    idx = _open_index(spark, args.index)
    tr = load_transcripts(spark, args.input)
    spec, scope = _maybe_qs_spec(idx, tr, args, None)
    t0 = time.time()
    rows = top_hits_by(
        idx, tr, args.query, args.by, args.mode, args.k, scope=scope,
        spec=spec,
    ).collect()
    print(
        json.dumps(
            {
                "query": args.query,
                "mode": args.mode,
                "by": args.by,
                "seconds": round(time.time() - t0, 3),
                "hits": [
                    {
                        args.by: r[args.by],
                        "rank": r["rank"],
                        "conv_id": r["conv_id"],
                        "turn_idx": r["turn_idx"],
                        "score": r["score"],
                    }
                    for r in rows
                ],
            }
        )
    )


def cmd_aggregate(args: argparse.Namespace) -> None:
    """Match-set metric aggregations (pipeline/aggs.py): cardinality /
    stats / extended_stats / percentiles / stats_by."""
    from .pipeline.aggs import (
        cardinality,
        composite_agg,
        extended_stats,
        match_stats,
        percentiles,
        range_agg,
        stats_by,
        value_histogram,
    )
    from .sources import load_transcripts

    spark = _spark(args.cores)
    idx = _open_index(spark, args.index)
    tr = load_transcripts(spark, args.input)
    scope = tr.filter(args.where) if args.where else None
    spec, scope = _maybe_qs_spec(idx, tr, args, scope)
    t0 = time.time()
    out = {"query": args.query, "mode": args.mode, "agg": args.agg}
    if args.agg == "cardinality":
        row = cardinality(
            idx, tr, args.query, args.col, args.mode,
            approx=args.approx, scope=scope, spec=spec,
        ).collect()[0]
        out.update({"col": args.col, "approx": args.approx, "value": row["value"]})
    elif args.agg == "percentiles":
        pct = tuple(float(p) for p in args.percents.split(","))
        row = percentiles(
            idx, tr, args.query, args.field, pct, args.mode,
            approx=args.approx, scope=scope, spec=spec,
        ).collect()[0]
        out.update({"field": args.field, "approx": args.approx, **row.asDict()})
    elif args.agg == "histogram":
        rows = value_histogram(
            idx, tr, args.query, args.field, args.interval, args.mode,
            min_doc_count=args.min_doc_count, scope=scope, spec=spec,
        ).collect()
        out.update({"field": args.field, "interval": args.interval,
                    "buckets": [r.asDict() for r in rows]})
    elif args.agg == "range":
        ranges = []
        for part in args.ranges.split(","):
            lo, _, hi = part.partition("-")
            ranges.append(
                (None if lo in ("", "*") else float(lo),
                 None if hi in ("", "*") else float(hi))
            )
        rows = range_agg(
            idx, tr, args.query, ranges, args.field, args.mode, scope=scope, spec=spec,
        ).collect()
        out.update({"field": args.field,
                    "buckets": [r.asDict() for r in rows]})
    elif args.agg == "composite":
        sources = tuple(args.sources.split(","))
        after = tuple(json.loads(args.after)) if args.after else None
        rows = composite_agg(
            idx, tr, args.query, sources, args.size, after, args.mode,
            scope=scope, spec=spec,
        ).collect()
        buckets = [r.asDict() for r in rows]
        out.update({
            "sources": list(sources),
            "buckets": buckets,
            "after_key": (
                [buckets[-1][c] for c in sources] if len(buckets) == args.size
                else None  # ES: no after_key on the final page
            ),
        })
    elif args.agg == "percentile_ranks":
        from .pipeline.aggs import percentile_ranks

        vals = tuple(float(v) for v in args.values.split(","))
        row = percentile_ranks(
            idx, tr, args.query, vals, args.field, args.mode, scope=scope, spec=spec,
        ).collect()[0]
        out.update({"field": args.field, **row.asDict()})
    elif args.agg == "stats_by":
        rows = stats_by(
            idx, tr, args.query, args.col, args.field, args.mode, scope=scope, spec=spec,
        ).collect()
        out.update({"col": args.col, "field": args.field,
                    "buckets": [r.asDict() for r in rows]})
    elif args.agg == "multi_terms":
        from .pipeline.aggs import multi_terms

        fields = tuple(args.sources.split(","))
        rows = multi_terms(
            idx, tr, args.query, fields, args.size, args.mode, scope=scope, spec=spec,
        ).collect()
        out.update({"fields": list(fields),
                    "buckets": [r.asDict() for r in rows]})
    elif args.agg == "top_metrics":
        from .pipeline.aggs import top_metrics_by

        rows = top_metrics_by(
            idx, tr, args.query, args.col, args.sort_field, args.field,
            args.mode, scope=scope, spec=spec,
        ).collect()
        out.update({
            "col": args.col, "sort_field": args.sort_field,
            "metric_field": args.field,
            "buckets": [
                {"bucket": r["bucket"], "top_sort": str(r["top_sort"]),
                 "top_metric": r["top_metric"]}
                for r in rows
            ],
        })
    elif args.agg == "rare_terms":
        from .pipeline.significant import rare_terms

        rows = rare_terms(
            idx, tr, args.query, args.mode, max_doc_count=args.max_doc_count,
            limit=args.size, scope=scope, spec=spec,
        ).collect()
        out.update({"max_doc_count": args.max_doc_count,
                    "terms": [{"term": r["term"], "fg": r["fg"]} for r in rows]})
    else:
        fn = extended_stats if args.agg == "extended_stats" else match_stats
        row = fn(
            idx, tr, args.query, args.field, args.mode, scope=scope, spec=spec,
        ).collect()[0]
        out.update({"field": args.field, **row.asDict()})
    out["seconds"] = round(time.time() - t0, 3)
    print(json.dumps(out))


def cmd_bench(_args: argparse.Namespace) -> None:
    import runpy

    runpy.run_module("bench", run_name="__main__")


def _one_index_stats(spark, root: str) -> dict:
    from pyspark.sql import functions as F

    from .index.build import load_meta
    from .index.reader import Segment

    idx = Segment(spark, root)
    agg = idx._postings.filter(F.col("bucket") >= 0).agg(
        F.countDistinct("term").alias("n_terms"),
        F.sum("n").alias("n_postings"),
        F.count("*").alias("n_blocks"),
        F.sum(
            F.octet_length("doc_blob") + F.octet_length("tf_blob")
            + F.octet_length("pos_blob") + F.octet_length("dl_blob")
        ).alias("compressed_bytes"),
    ).collect()[0]
    lineage = [r.asDict() for r in spark.read.parquet(idx.paths.lineage).collect()]
    return {
        "meta": load_meta(root),
        "n_terms": int(agg["n_terms"] or 0),
        "n_postings": int(agg["n_postings"] or 0),
        "n_blocks": int(agg["n_blocks"] or 0),
        "compressed_bytes": int(agg["compressed_bytes"] or 0),
        "fuzzy_sidecar": os.path.isdir(os.path.join(root, "fuzzy")),
        "lineage": lineage,
    }


def cmd_check(args: argparse.Namespace) -> None:
    """Index integrity audit (fsck) — recompute every derivable
    statistic from the posting blocks and cross-check the idf/doclen/
    meta artifacts; --deep decodes every blob (index/check.py)."""
    from .index.check import check_index

    spark = _spark(args.cores)
    t0 = time.time()
    roots = [p for p in args.index.split(",") if p]
    if len(roots) == 1:
        rep = check_index(spark, roots[0], deep=args.deep)
    else:  # segmented (LSM) index: audit each segment root
        segs = {r: check_index(spark, r, deep=args.deep) for r in roots}
        rep = {
            "ok": all(s["ok"] for s in segs.values()),
            "errors": [e for s in segs.values() for e in s["errors"]],
            "segments": segs,
        }
    rep["seconds"] = round(time.time() - t0, 2)
    print(json.dumps(rep))
    if not rep["ok"]:
        raise SystemExit(2)


def cmd_stats(args: argparse.Namespace) -> None:
    """Index status — the /index-status + /api/indexer/stats analog
    (ReindexController.java:106-155, IndexController.java:41-233).
    Comma-separated roots report per-segment stats plus the merged view
    MultiIndex would serve (n_terms is per-segment-distinct; the other
    totals sum exactly)."""
    spark = _spark(args.cores)
    roots = [p for p in args.index.split(",") if p]
    if len(roots) == 1:
        print(json.dumps(_one_index_stats(spark, roots[0])))
        return
    from .index.multi import MultiIndex

    multi = MultiIndex(spark, roots)
    segs = [_one_index_stats(spark, r) for r in roots]
    print(
        json.dumps(
            {
                "n_docs": multi.n_docs,
                "avgdl": round(multi.avgdl, 3),
                "n_segments": len(roots),
                "n_postings": sum(s["n_postings"] for s in segs),
                "n_blocks": sum(s["n_blocks"] for s in segs),
                "compressed_bytes": sum(s["compressed_bytes"] for s in segs),
                "segments": [
                    {"root": r, **{k: s[k] for k in ("n_terms", "n_postings", "n_blocks", "compressed_bytes")}}
                    for r, s in zip(roots, segs)
                ],
            }
        )
    )


def cmd_curate(args: argparse.Namespace) -> None:
    """Corpus-curation batch ops over a documents-shaped table
    (doc_id, text[, source, ...]) — or, for ``--op sft``, a
    transcripts-shaped one (conv_id, turn_idx, role, text): benchmark
    decontamination, Gopher repetition stats, PII scrubbing, exact
    mixture sampling, sequence packing (doc-level ``pack`` / SFT
    conversation-level ``sft`` with loss masking), and sliding-window
    chunking.  Prints a one-line JSON summary; ``--out`` additionally
    writes the full result as parquet."""
    from pyspark.sql import functions as F

    from .pipeline import curation

    spark = _spark(args.cores)
    docs = spark.read.parquet(args.input)
    t0 = time.time()
    if args.op == "decontaminate":
        if not args.eval:
            raise SystemExit("--op decontaminate requires --eval <parquet>")
        ev = curation.eval_shingles(spark.read.parquet(args.eval), args.n)
        stats = curation.decontamination_stats(docs, ev, args.n)
        out = docs.join(
            stats.filter(F.col("n_hits") >= args.min_hits).select("doc_id"),
            "doc_id",
            "left_anti",
        )
        agg = stats.agg(
            F.count("*").alias("n_docs"),
            F.sum((F.col("n_hits") >= args.min_hits).cast("long")).alias("n_flagged"),
            F.sum("n_hits").alias("total_hits"),
        ).collect()[0]
        summary = {
            "n_docs": agg["n_docs"],
            "n_flagged": int(agg["n_flagged"] or 0),
            "total_hits": int(agg["total_hits"] or 0),
            "ngram": args.n,
        }
    elif args.op == "repetition":
        out = curation.repetition_stats(docs, args.n)
        agg = out.agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("dup_gram_frac"), 6).alias("avg_dup_gram_frac"),
            F.sum((F.col("dup_gram_frac") >= args.threshold).cast("long")).alias(
                "n_over_threshold"
            ),
        ).collect()[0]
        summary = {**agg.asDict(), "ngram": args.n, "threshold": args.threshold}
    elif args.op == "pii":
        out = curation.pii_scrub(docs)
        summary = out.agg(
            F.count("*").alias("n_docs"),
            *[
                F.sum(f"n_{name}").alias(f"total_{name}")
                for name, _p, _r in curation.PII_PATTERNS
            ],
        ).collect()[0].asDict()
    elif args.op == "pack":
        out = curation.pack_mapping(docs, args.seq_len)
        agg = out.agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.max("seq_last").alias("n_seqs_minus_1"),
        ).collect()[0]
        summary = {
            "n_docs": agg["n_docs"],
            "total_tokens": int(agg["total_tokens"] or 0),
            "n_sequences": int(agg["n_seqs_minus_1"] or -1) + 1,
            "seq_len": args.seq_len,
        }
    elif args.op == "sft":
        roles = tuple(r.strip() for r in args.mask_roles.split(",") if r.strip())
        out = curation.sft_pack(docs, args.seq_len, mask_roles=roles)
        agg = out.agg(
            F.count("*").alias("n_turns"),
            F.countDistinct("conv_id").alias("n_convs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum(F.when(F.col("loss_mask"), F.col("n_tokens")).otherwise(0)).alias(
                "loss_tokens"
            ),
            F.max("seq_last").alias("n_seqs_minus_1"),
        ).collect()[0]
        summary = {
            "n_turns": agg["n_turns"],
            "n_convs": agg["n_convs"],
            "total_tokens": int(agg["total_tokens"] or 0),
            "loss_tokens": int(agg["loss_tokens"] or 0),
            "n_sequences": int(agg["n_seqs_minus_1"] or -1) + 1,
            "seq_len": args.seq_len,
            "mask_roles": list(roles),
        }
    elif args.op == "chunk":
        out = curation.chunk_documents(docs, args.chunk_tokens, args.overlap)
        agg = out.agg(
            F.count("*").alias("n_chunks"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.round(F.avg("chunk_tokens"), 3).alias("avg_chunk_tokens"),
        ).collect()[0]
        summary = {
            **agg.asDict(),
            "chunk_tokens": args.chunk_tokens,
            "overlap": args.overlap,
        }
    elif args.op == "mixture":
        parts = {}
        for kv in args.parts.split(","):
            k, _, v = kv.partition("=")
            parts[k.strip()] = int(v)
        out = curation.mixture_sample(docs, parts)
        kept = {
            r["source"]: r["n"]
            for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
        }
        summary = {"parts": parts, "kept": kept, "total_kept": sum(kept.values())}
    else:  # pragma: no cover - argparse choices guard
        raise SystemExit(f"unknown op {args.op}")
    if args.out:
        out.write.mode("overwrite").parquet(args.out)
        summary["out"] = args.out
    summary["seconds"] = round(time.time() - t0, 3)
    print(json.dumps(summary))


def cmd_alias(args: argparse.Namespace) -> None:
    """Catalog aliases — no Spark session needed (pointer files only)."""
    from . import catalog

    if args.action == "set":
        if not args.name or not args.roots:
            raise SystemExit("alias set needs --name and --roots")
        roots = [p for p in args.roots.split(",") if p]
        catalog.alias_set(args.catalog, args.name, roots)
        print(json.dumps({"alias": args.name, "roots": roots}))
    elif args.action == "show":
        if not args.name:
            raise SystemExit("alias show needs --name")
        print(json.dumps(
            {"alias": args.name,
             "roots": catalog.alias_get(args.catalog, args.name)}
        ))
    elif args.action == "list":
        print(json.dumps(catalog.alias_list(args.catalog)))
    else:  # rm
        if not args.name:
            raise SystemExit("alias rm needs --name")
        catalog.alias_delete(args.catalog, args.name)
        print(json.dumps({"deleted": args.name}))


def cmd_snapshot(args: argparse.Namespace) -> None:
    """Snapshot repository ops — no Spark session needed."""
    from . import catalog

    if args.action == "create":
        if not args.name or not args.roots:
            raise SystemExit("snapshot create needs --name and --roots")
        m = catalog.snapshot_create(
            args.repo, args.name, [p for p in args.roots.split(",") if p]
        )
        print(json.dumps(
            {"snapshot": args.name, "segments": len(m["roots"]),
             "linked": m["linked"], "copied": m["copied"]}
        ))
    elif args.action == "list":
        print(json.dumps(catalog.snapshot_list(args.repo)))
    elif args.action == "verify":
        if not args.name:
            raise SystemExit("snapshot verify needs --name")
        print(json.dumps(catalog.snapshot_verify(args.repo, args.name)))
    elif args.action == "restore":
        if not args.name or not args.dest:
            raise SystemExit("snapshot restore needs --name and --dest")
        roots = catalog.snapshot_restore(args.repo, args.name, args.dest)
        print(json.dumps({"restored": args.name, "roots": roots}))
    else:  # rm
        if not args.name:
            raise SystemExit("snapshot rm needs --name")
        catalog.snapshot_delete(args.repo, args.name)
        print(json.dumps({"deleted": args.name}))


def cmd_analyze(args: argparse.Namespace) -> None:
    """Query analysis — the /api/process-query + /api/query-analysis
    analog (SearchController.java:281-307, QueryController.java:171-186)."""
    from .index.reader import parse_query
    from .textproc import analyze_query, analyze_text

    from .operators.suggest import suggested_queries

    mode = args.mode
    spec = parse_query(args.query, mode)
    print(
        json.dumps(
            {
                "query": args.query,
                "mode": mode,
                "index_analyzer_tokens": analyze_text(args.query),
                "query_analyzer_terms": analyze_query(args.query),
                "score_terms": spec.score_terms if spec else [],
                "phrase_a": spec.phrase_a if spec else None,
                "phrase_b": spec.phrase_b if spec else None,
                "bool_op": spec.bool_op if spec else None,
                # QueryService.java:1498-1540 — related queries from the
                # top result titles (pass them via --titles)
                "suggested_queries": suggested_queries(
                    args.query, args.titles or []
                ),
            }
        )
    )


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(prog="search_engine_spark")
    ap.add_argument("--cores", type=int, default=None)
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build a compressed inverted index")
    b.add_argument("--input", required=True)
    b.add_argument("--output", required=True)
    b.add_argument("--groups", type=int, default=8)
    b.add_argument("--checkpoint", action="store_true", help="one job per group (resumable)")
    b.add_argument("--resume", action="store_true", help="resume a crashed build")
    b.set_defaults(fn=cmd_build)

    ex = sub.add_parser(
        "extend", help="absorb a delta of new transcripts into an existing index"
    )
    ex.add_argument("--index", required=True, help="existing index root (stays live)")
    ex.add_argument("--input", required=True, help="delta transcripts (parquet/table:)")
    ex.add_argument("--output", required=True, help="new index root")
    ex.add_argument(
        "--updates",
        action="store_true",
        help="delta turns that are already indexed REPLACE the old version "
        "(the reference's ON CONFLICT DO UPDATE); without this flag a "
        "collision fails loudly",
    )
    ex.set_defaults(fn=cmd_extend)

    us = sub.add_parser(
        "update-segment",
        help="ingest an update delta as an O(delta) LSM segment with a "
        "shadow sidecar (query via --index base,segment)",
    )
    us.add_argument(
        "--segments", required=True,
        help="comma-separated EXISTING segment roots, oldest first",
    )
    us.add_argument("--input", required=True, help="update delta (parquet/table:)")
    us.add_argument("--output", required=True, help="new segment root")
    us.set_defaults(fn=cmd_update_segment)

    cp = sub.add_parser(
        "compact", help="fold disjoint index segments into one root (no raw text)"
    )
    cp.add_argument(
        "--segments", required=True, help="comma-separated segment roots"
    )
    cp.add_argument("--output", required=True, help="new index root")
    cp.add_argument(
        "--tombstones",
        help="JSONL of {conv_id[, turn_idx]} rows to delete physically",
    )
    cp.set_defaults(fn=cmd_compact)

    se = sub.add_parser(
        "search", help="enriched result page: top-k + snippets + suggested queries"
    )
    se.add_argument(
        "--index", required=True,
        help="index root, or comma-separated base,delta,... segment roots",
    )
    se.add_argument("--input", required=True, help="transcripts (parquet/table:) for text")
    se.add_argument("--query", required=True)
    se.add_argument(
        "--mode", default="disjunctive",
        choices=["disjunctive", "conjunctive", "phrase", "near", "boolean", "qs"],
        help="qs = unified query string (occurrence/phrases/field "
        "filters/markers/boosts in one string)",
    )
    se.add_argument("--k", type=int, default=10)
    se.add_argument("--page", type=int, default=1)
    se.add_argument(
        "--analyzed", action="store_true",
        help="query is pre-analyzed vocabulary (e.g. a did_you_mean rewrite)",
    )
    se.add_argument(
        "--tombstones",
        help="JSONL of {conv_id[, turn_idx]} rows to exclude (deleted docs)",
    )
    se.add_argument(
        "--where",
        help="SQL predicate over the transcripts columns scoping results "
        "(e.g. \"role = 'user' AND ts >= timestamp'2026-01-02'\")",
    )
    se.add_argument(
        "--facet",
        help="transcripts column to facet the match set by (adds counts)",
    )
    se.add_argument(
        "--embeddings",
        help="(conv_id, turn_idx, embedding) parquet — serve the page from "
        "the fused BM25+vector hybrid ranking",
    )
    se.add_argument("--fusion", choices=["rrf", "linear"], default="rrf")
    se.add_argument("--depth", type=int, default=50,
                    help="per-list retrieval depth for hybrid fusion")
    se.add_argument("--dim", type=int, default=64,
                    help="hash-embedding dimension of the embeddings table")
    se.add_argument(
        "--ann-index",
        help="turn-keyed LSH ANN index (comma-separated segment roots ok) — "
        "probe it for the semantic leg instead of scanning embeddings",
    )
    se.add_argument(
        "--collapse",
        action="store_true",
        help="one result per CONVERSATION (best turn as representative)",
    )
    se.add_argument(
        "--highlight",
        action="store_true",
        help="tag query-term occurrences in snippets with <em>…</em>",
    )
    _add_rerank_args(se)
    se.set_defaults(fn=cmd_search)

    q = sub.add_parser("query", help="BM25 top-k query against an index")
    q.add_argument(
        "--index", required=True,
        help="index root, or comma-separated base,delta,... segment roots",
    )
    q.add_argument("--query", required=True)
    q.add_argument(
        "--mode", default="disjunctive",
        choices=["disjunctive", "conjunctive", "phrase", "near", "boolean", "qs"],
        help="qs = unified query string: +must/-must_not/should, "
        'phrases ("a b"~N), field:value filters (needs --input), '
        "expansion markers (* ? ~ /re/), ^boosts — one string, one plan",
    )
    q.add_argument("--k", type=int, default=10)
    q.add_argument("--algo", default="auto", choices=["auto", "exact", "wand"])
    q.add_argument(
        "--tombstones",
        help="JSONL of {conv_id[, turn_idx]} rows to exclude (deleted docs)",
    )
    q.add_argument(
        "--input",
        help="transcripts (parquet/table:) — required by --where",
    )
    q.add_argument(
        "--where",
        help="SQL predicate over the transcripts columns scoping results",
    )
    q.add_argument(
        "--collapse",
        action="store_true",
        help="one result per CONVERSATION (best turn as representative)",
    )
    q.add_argument(
        "--inner-hits", type=int, dest="inner_hits",
        help="with --collapse: also return each collapsed conversation's "
        "top-N matching turns (the ES inner_hits block; hit_rank=1 is "
        "the representative)",
    )
    q.add_argument(
        "--min-match", type=int, default=None,
        help="disjunctive: require ≥ m distinct query terms per match; "
        "qs: minimum_should_match (an explicit 1 forces ≥1 should "
        "clause even alongside must clauses — the ES contract)",
    )
    q.add_argument(
        "--search-after",
        help='cursor JSON [score, "conv_id", turn_idx] — the previous '
        "page's LAST row (exact score, not a rounded display value); "
        "returns the k results strictly after it (offset-free paging)",
    )
    q.add_argument(
        "--sort-field", dest="sort_field",
        help="order matches by this metadata column instead of score "
        "(ES sort clause; missing values last) — needs --input",
    )
    q.add_argument(
        "--sort-asc", dest="sort_asc", action="store_true",
        help="ascending field sort (default: descending, i.e. latest first)",
    )
    _add_rerank_args(q)
    q.set_defaults(fn=cmd_query)

    exq = sub.add_parser(
        "explain",
        help="per-term score breakdown of one (conv_id, turn_idx) for a "
        "query (the Elasticsearch _explain analog)",
    )
    exq.add_argument(
        "--index", required=True,
        help="index root, or comma-separated base,delta,... segment roots",
    )
    exq.add_argument("--query", required=True)
    exq.add_argument("--conv-id", required=True, dest="conv_id")
    exq.add_argument("--turn-idx", required=True, type=int, dest="turn_idx")
    exq.add_argument(
        "--mode", default="disjunctive",
        choices=["disjunctive", "conjunctive", "phrase", "near", "boolean", "qs"],
    )
    exq.add_argument(
        "--tombstones",
        help="JSONL of {conv_id[, turn_idx]} rows to exclude (deleted docs)",
    )
    exq.add_argument(
        "--min-match", type=int, default=1,
        help="disjunctive: require ≥ m distinct query terms per match",
    )
    exq.set_defaults(fn=cmd_explain)

    qb = sub.add_parser(
        "query-batch", help="many BM25 queries in one job (JSONL of {query_text, mode, k})"
    )
    qb.add_argument(
        "--index", required=True,
        help="index root, or comma-separated base,delta,... segment roots",
    )
    qb.add_argument("--queries", required=True, help="JSONL file, one query object per line")
    qb.add_argument("--k", type=int, default=10)
    qb.add_argument("--algo", default="auto", choices=["auto", "exact", "wand"])
    qb.set_defaults(fn=cmd_query_batch)

    ml = sub.add_parser(
        "more-like-this", help="rank turns similar to one source turn (ES MLT)"
    )
    ml.add_argument(
        "--index", required=True,
        help="index root, or comma-separated base,delta,... segment roots",
    )
    ml.add_argument("--input", required=True, help="transcripts (parquet/table:)")
    ml.add_argument("--conv", required=True, help="source conv_id")
    ml.add_argument("--turn", type=int, required=True, help="source turn_idx")
    ml.add_argument("--k", type=int, default=10)
    ml.add_argument(
        "--max-terms", type=int, default=25,
        help="top tf*idf source terms kept for the derived query",
    )
    ml.set_defaults(fn=cmd_mlt)

    hy = sub.add_parser(
        "hybrid", help="hybrid retrieval: BM25 + vector cosine fused by RRF/linear"
    )
    hy.add_argument(
        "--index", required=True,
        help="index root, or comma-separated base,delta,... segment roots",
    )
    hy.add_argument("--input", help="transcripts (parquet/table:) to hash-embed")
    hy.add_argument(
        "--embeddings", help="(conv_id, turn_idx, embedding) parquet (overrides --input)"
    )
    hy.add_argument("--query", required=True)
    hy.add_argument("--mode", default="disjunctive")
    hy.add_argument("--method", choices=["rrf", "linear"], default="rrf")
    hy.add_argument("--k", type=int, default=10)
    hy.add_argument("--depth", type=int, default=50, help="per-list retrieval depth")
    hy.add_argument("--w-lex", type=float, default=1.0)
    hy.add_argument("--w-sem", type=float, default=1.0)
    hy.add_argument("--dim", type=int, default=64, help="hash-embedding dimension")
    hy.add_argument(
        "--ann-index",
        help="turn-keyed LSH ANN index path (write_turn_ann_index) — probe "
        "it instead of brute-force scanning the embeddings",
    )
    hy.add_argument(
        "--collapse", action="store_true",
        help="rank conversations: best-turn BM25 fused with mean-pooled "
        "conversation-embedding cosine",
    )
    hy.set_defaults(fn=cmd_hybrid)

    tv = sub.add_parser(
        "term-vectors", help="per-doc term stats: tf/positions/df/idf (ES _termvectors)"
    )
    tv.add_argument(
        "--index", required=True,
        help="index root, or comma-separated base,delta,... segment roots",
    )
    tv.add_argument("--input", required=True, help="transcripts (parquet/table:)")
    tv.add_argument("--conv", required=True, help="target conv_id")
    tv.add_argument("--turn", type=int, required=True, help="target turn_idx")
    tv.set_defaults(fn=cmd_term_vectors)

    re_ = sub.add_parser(
        "rank-eval",
        help="IR quality metrics for a query set against judgments (ES _rank_eval)",
    )
    re_.add_argument(
        "--index", required=True,
        help="index root, or comma-separated base,delta,... segment roots",
    )
    re_.add_argument(
        "--queries", required=True,
        help="JSONL of {query_text[, mode]}; query_id = line number",
    )
    re_.add_argument(
        "--judgments", required=True,
        help="JSONL of {query_id, conv_id, turn_idx, rating}",
    )
    re_.add_argument("--k", type=int, default=10)
    re_.set_defaults(fn=cmd_rank_eval)

    co = sub.add_parser(
        "correct", help="did-you-mean: spelling suggestions for unmatched terms"
    )
    co.add_argument(
        "--index", required=True,
        help="index root, or comma-separated base,delta,... segment roots",
    )
    co.add_argument("--query", required=True)
    co.add_argument("--run", action="store_true", help="also run the corrected query")
    co.add_argument("--k", type=int, default=10)
    co.set_defaults(fn=cmd_correct)

    pc = sub.add_parser(
        "percolate",
        help="reverse search: match transcripts against saved queries "
        "(JSONL registry of {query_id, query_text[, mode, min_match]})",
    )
    pc.add_argument("--input", required=True, help="transcript parquet path")
    pc.add_argument("--queries", required=True, help="saved-query registry JSONL")
    pc.add_argument(
        "--index",
        help="optional index root (or base,delta,...) whose global BM25 "
        "stats score each match",
    )
    pc.add_argument("--out", help="optional parquet path for the match table")
    pc.set_defaults(fn=cmd_percolate)

    sg = sub.add_parser(
        "significant", help="terms overrepresented in the match set (ES JLH)"
    )
    sg.add_argument(
        "--index", required=True,
        help="index root, or comma-separated base,delta,... segment roots",
    )
    sg.add_argument("--input", required=True, help="transcripts (parquet/table:)")
    sg.add_argument("--query", required=True)
    sg.add_argument(
        "--mode", default="disjunctive",
        choices=["disjunctive", "conjunctive", "phrase", "near", "boolean", "qs"],
    )
    sg.add_argument("--n", type=int, default=10)
    sg.add_argument("--min-fg", type=int, default=2)
    sg.add_argument("--include-query-terms", action="store_true")
    sg.add_argument("--where", help="SQL predicate scoping the match set")
    sg.set_defaults(fn=cmd_significant)

    hg = sub.add_parser(
        "histogram", help="match counts per calendar interval of ts"
    )
    hg.add_argument(
        "--index", required=True,
        help="index root, or comma-separated base,delta,... segment roots",
    )
    hg.add_argument("--input", required=True, help="transcripts (parquet/table:)")
    hg.add_argument("--query", required=True)
    hg.add_argument(
        "--mode", default="disjunctive",
        choices=["disjunctive", "conjunctive", "phrase", "near", "boolean", "qs"],
    )
    hg.add_argument(
        "--interval", default="hour",
        choices=["minute", "hour", "day", "week", "month", "year"],
    )
    hg.add_argument("--where", help="SQL predicate scoping the match set")
    hg.add_argument(
        "--pipeline", action="store_true",
        help="add ES pipeline metrics per bucket (cumulative_sum, "
        "derivative, trailing moving_avg)",
    )
    hg.add_argument(
        "--window", type=int, default=3,
        help="pipeline: moving-average window (trailing, incl. current)",
    )
    hg.add_argument(
        "--min-doc-count", type=int, default=1, dest="min_doc_count",
        choices=[0, 1],
        help="pipeline: 0 gap-fills the calendar grid so derivative "
        "measures true rate-of-change",
    )
    hg.add_argument(
        "--buckets", action="store_true",
        help="run the bucket-pipeline trio instead: serial_diff (lag-N "
        "differencing) + bucket_selector (--min-n) + bucket_sort "
        "(--sort-buckets/--descending/--limit)",
    )
    hg.add_argument("--lag", type=int, default=1, help="buckets: serial_diff lag")
    hg.add_argument(
        "--min-n", type=int, dest="min_n",
        help="buckets: keep only buckets with n >= this (bucket_selector)",
    )
    hg.add_argument(
        "--sort-buckets", default="bucket", dest="sort_buckets",
        choices=["bucket", "n", "serial_diff", "script_value"],
        help="buckets: bucket_sort key (script_value needs --script)",
    )
    hg.add_argument(
        "--script",
        help="buckets: ES bucket_script — a scalar SQL arithmetic "
        "expression over the bucket columns (n, serial_diff), e.g. "
        "'n * 2.0 + abs(coalesce(serial_diff, 0)) * 0.5'",
    )
    hg.add_argument(
        "--descending", action="store_true", help="buckets: sort descending"
    )
    hg.add_argument(
        "--limit", type=int, help="buckets: bucket_sort truncation"
    )
    hg.set_defaults(fn=cmd_histogram)

    th = sub.add_parser(
        "top-hits", help="best k hits per value of a metadata column"
    )
    th.add_argument(
        "--index", required=True,
        help="index root, or comma-separated base,delta,... segment roots",
    )
    th.add_argument("--input", required=True, help="transcripts (parquet/table:)")
    th.add_argument("--query", required=True)
    th.add_argument("--by", required=True, help="transcripts bucket column (e.g. role)")
    th.add_argument(
        "--mode", default="disjunctive",
        choices=["disjunctive", "conjunctive", "phrase", "near", "boolean", "qs"],
    )
    th.add_argument("--k", type=int, default=3)
    th.set_defaults(fn=cmd_top_hits)

    ag = sub.add_parser(
        "aggregate", help="match-set metrics: cardinality / field stats"
    )
    ag.add_argument(
        "--index", required=True,
        help="index root, or comma-separated base,delta,... segment roots",
    )
    ag.add_argument("--input", required=True, help="transcripts (parquet/table:)")
    ag.add_argument("--query", required=True)
    ag.add_argument(
        "--agg", default="cardinality",
        choices=["cardinality", "stats", "extended_stats", "percentiles",
                 "percentile_ranks", "stats_by", "histogram", "range",
                 "composite", "multi_terms", "top_metrics", "rare_terms"],
    )
    ag.add_argument(
        "--sort-field", default="ts", dest="sort_field",
        help="top_metrics: the sort column whose per-bucket max selects "
        "the reported metric row",
    )
    ag.add_argument(
        "--max-doc-count", type=int, default=1, dest="max_doc_count",
        help="rare_terms: report terms in at most this many matched turns",
    )
    ag.add_argument(
        "--values", default="50,100,300",
        help="percentile_ranks: comma-separated probe values",
    )
    ag.add_argument(
        "--col", default="conv_id",
        help="cardinality: column whose distinct values are counted; "
        "stats_by: the bucket column",
    )
    ag.add_argument(
        "--percents", default="1,25,50,75,99",
        help="percentiles: comma-separated percents",
    )
    ag.add_argument(
        "--field", default="chars",
        help="stats: numeric field (chars = length(text), or turn_idx)",
    )
    ag.add_argument(
        "--interval", type=int, default=100,
        help="histogram: bucket width over --field",
    )
    ag.add_argument(
        "--min-doc-count", type=int, default=0, dest="min_doc_count",
        choices=[0, 1],
        help="histogram: 0 gap-fills empty buckets between extremes (ES "
        "default), 1 drops them",
    )
    ag.add_argument(
        "--ranges", default="*-100,100-500,500-*",
        help="range: comma-separated from-to pairs, * for an open end "
        "(from inclusive, to exclusive; overlaps allowed)",
    )
    ag.add_argument(
        "--sources", default="role",
        help="composite: comma-separated bucket-key columns",
    )
    ag.add_argument(
        "--size", type=int, default=10, help="composite: buckets per page"
    )
    ag.add_argument(
        "--after",
        help="composite: JSON array cursor — the last bucket key of the "
        "previous page (exclusive)",
    )
    ag.add_argument(
        "--approx", action="store_true",
        help="cardinality via HyperLogLog++ (one pass, constant state — "
        "the 100-TB path)",
    )
    ag.add_argument(
        "--mode", default="disjunctive",
        choices=["disjunctive", "conjunctive", "phrase", "near", "boolean", "qs"],
    )
    ag.add_argument(
        "--where",
        help="SQL predicate over the transcripts columns scoping the match set",
    )
    ag.set_defaults(fn=cmd_aggregate)

    fs = sub.add_parser(
        "function-score",
        help="ES function_score rescoring (field_value_factor / weight / "
        "deterministic random_score)",
    )
    fs.add_argument(
        "--index", required=True,
        help="index root, or comma-separated base,delta,... segment roots",
    )
    fs.add_argument("--input", required=True, help="transcripts (parquet/table:)")
    fs.add_argument("--query", required=True)
    fs.add_argument(
        "--functions", required=True,
        help='JSON list of function clauses, e.g. \'[{"kind": '
        '"field_value_factor", "field": "turn_idx", "factor": 0.5, '
        '"modifier": "log1p"}, {"kind": "weight", "weight": 1.2}, '
        '{"kind": "random_score", "seed": "s1"}]\'',
    )
    fs.add_argument(
        "--mode", default="disjunctive",
        choices=["disjunctive", "conjunctive", "phrase", "near", "boolean", "qs"],
    )
    fs.add_argument("--k", type=int, default=10)
    fs.add_argument(
        "--score-mode", default="multiply", dest="score_mode",
        choices=["multiply", "sum", "max", "min", "avg"],
        help="how the function values combine with each other",
    )
    fs.add_argument(
        "--boost-mode", default="multiply", dest="boost_mode",
        choices=["multiply", "sum", "replace"],
        help="how the combined function value joins the BM25 score",
    )
    fs.add_argument(
        "--where",
        help="SQL predicate over the transcripts columns scoping the match set",
    )
    fs.set_defaults(fn=cmd_function_score)

    be = sub.add_parser("bench", help="run the headline benchmark")
    be.set_defaults(fn=cmd_bench)

    fb = sub.add_parser(
        "fuzzy-build",
        help="materialize the delete-1 variant sidecar for term~ queries",
    )
    fb.add_argument("--index", required=True, help="index root")
    fb.set_defaults(fn=cmd_fuzzy_build)

    sb = sub.add_parser(
        "synonyms-build",
        help="persist a raw-word synonym mapping as the index sidecar",
    )
    sb.add_argument("--index", required=True, help="index root")
    sb.add_argument(
        "--mapping", required=True,
        help='JSON file: {"word": ["synonym", "multi word phrase", ...]}',
    )
    sb.set_defaults(fn=cmd_synonyms_build)

    st = sub.add_parser("stats", help="index status / statistics")
    st.add_argument("--index", required=True)
    st.set_defaults(fn=cmd_stats)

    ck = sub.add_parser(
        "check",
        help="index integrity audit (fsck): cross-check blocks vs "
        "idf/doclen/meta; --deep decodes every blob",
    )
    ck.add_argument("--index", required=True)
    ck.add_argument("--deep", action="store_true")
    ck.set_defaults(fn=cmd_check)

    cu = sub.add_parser(
        "curate",
        help="corpus curation: decontaminate / repetition / pii / mixture",
    )
    cu.add_argument("--input", required=True, help="documents parquet (doc_id, text, ...)")
    cu.add_argument(
        "--op", required=True,
        choices=["decontaminate", "repetition", "pii", "mixture", "pack", "sft", "chunk"],
    )
    cu.add_argument("--eval", help="eval/benchmark parquet (doc_id, text) for decontaminate")
    cu.add_argument("--n", type=int, default=3, help="n-gram size (decontaminate/repetition)")
    cu.add_argument("--min-hits", type=int, default=1, dest="min_hits",
                    help="eval-gram hits that flag a doc")
    cu.add_argument("--threshold", type=float, default=0.5,
                    help="dup_gram_frac flag threshold (repetition summary)")
    cu.add_argument("--parts", default="",
                    help='mixture ratio, e.g. "web=6,code=3,books=1"')
    cu.add_argument("--seq-len", type=int, default=2048, dest="seq_len",
                    help="training sequence length (pack/sft)")
    cu.add_argument("--mask-roles", default="assistant", dest="mask_roles",
                    help="comma list of loss-mask roles (sft)")
    cu.add_argument("--chunk-tokens", type=int, default=256, dest="chunk_tokens",
                    help="tokens per chunk (chunk)")
    cu.add_argument("--overlap", type=int, default=0,
                    help="overlap tokens between chunks (chunk)")
    cu.add_argument("--out", help="write the full result parquet here")
    cu.add_argument("--cores", type=int, default=None)
    cu.set_defaults(fn=cmd_curate)

    an = sub.add_parser("analyze", help="show query analysis (no Spark)")
    an.add_argument("--query", required=True)
    an.add_argument("--mode", default="disjunctive",
                    choices=["disjunctive", "conjunctive", "phrase", "near", "boolean"])
    an.add_argument("--titles", nargs="*", default=[],
                    help="top result titles feeding suggested_queries")
    an.set_defaults(fn=cmd_analyze)

    al = sub.add_parser(
        "alias",
        help="named index pointers with atomic flips (blue/green reindex)",
    )
    al.add_argument("action", choices=["set", "show", "list", "rm"])
    al.add_argument("--catalog", required=True, help="catalog directory")
    al.add_argument("--name", help="alias name (set/show/rm)")
    al.add_argument(
        "--roots",
        help="comma-separated index roots, oldest first (set)",
    )
    al.set_defaults(fn=cmd_alias)

    sn = sub.add_parser(
        "snapshot",
        help="immutable index snapshots (hard-link incremental) + restore",
    )
    sn.add_argument(
        "action", choices=["create", "list", "verify", "restore", "rm"]
    )
    sn.add_argument("--repo", required=True, help="snapshot repository dir")
    sn.add_argument("--name", help="snapshot name")
    sn.add_argument("--roots", help="comma-separated index roots (create)")
    sn.add_argument("--dest", help="restore destination directory")
    sn.set_defaults(fn=cmd_snapshot)

    args = ap.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main(sys.argv[1:])
