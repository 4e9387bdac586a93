"""Dump .explain("formatted") for the engine's headline plans → PLANS.md.

Evidence that the physical plans are the intended ones: bucket/partition
pruning on the postings scan, broadcast joins for small sides,
TakeOrderedAndProject for top-k, whole-stage codegen on the JVM-only
docs-BM25 path, pushed filters on parquet scans.

Usage: python scripts/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def cap(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    import tempfile

    from search_engine_spark import contract
    from search_engine_spark.config import BuildConfig
    from search_engine_spark.corpus import write_transcripts_parquet
    from search_engine_spark.index.build import build_index
    from search_engine_spark.index.reader import CompressedIndex
    from search_engine_spark.session import get_spark

    spark = get_spark(app_name="explain", cores=8, shuffle_partitions=8)

    d = tempfile.mkdtemp(prefix="sgs_explain_")
    pq = write_transcripts_parquet(os.path.join(d, "t.parquet"), "sm")
    build_index(spark, spark.read.parquet(pq), os.path.join(d, "idx"), BuildConfig(num_groups=4))
    idx = CompressedIndex(spark, os.path.join(d, "idx"))

    sections: list[tuple[str, str, str]] = []

    sections.append(
        (
            "Compressed-index BM25 top-k (WAND path)",
            "Expected: parquet scan of postings with PartitionFilters on "
            "`bucket` (term-hash pruning) and PushedFilters on `term`; ONE "
            "grouped FlatMapGroupsInPandas (the per-group kernel — doclens "
            "ride inline in the blocks since format v5, so no second "
            "corpus-wide cogroup input); broadcast-able join to the conv "
            "table; TakeOrderedAndProject.",
            cap(idx.topk("term0001 term0002", "disjunctive", 10)),
        )
    )
    from search_engine_spark.index.multi import MultiIndex

    pq2 = write_transcripts_parquet(os.path.join(d, "t2.parquet"), "xs")
    from pyspark.sql import functions as F

    delta_df = spark.read.parquet(pq2).withColumn(
        "conv_id", F.concat(F.lit("z"), F.col("conv_id"))  # disjoint from base
    )
    build_index(spark, delta_df, os.path.join(d, "seg1"), BuildConfig(num_groups=4))
    multi = MultiIndex(spark, [os.path.join(d, "idx"), os.path.join(d, "seg1")])
    sections.append(
        (
            "Segmented (LSM) BM25 top-k over base + delta segment",
            "Expected: a UNION of per-segment bucket/term-pruned postings "
            "scans (PartitionFilters on `bucket`, PushedFilters on `term` in "
            "BOTH branches); one grouped FlatMapGroupsInPandas keyed "
            "(seg, group); join to the unioned conv maps; "
            "TakeOrderedAndProject merging segments globally.",
            cap(multi.topk("term0001 term0002", "disjunctive", 10)),
        )
    )

    sections.append(
        (
            "Scoped BM25 top-k (metadata-filtered retrieval)",
            "Expected: the postings branch keeps its bucket PartitionFilters "
            "+ pushed term filter; the scope branch scans the corpus parquet "
            "with the role predicate PUSHED and ReadSchema pruned to "
            "(conv_id, turn_idx, role) — never the text column; broadcast of "
            "the thin convs table onto the scope side; ONE "
            "FlatMapCoGroupsInPandas joining both sides on `group`; "
            "TakeOrderedAndProject.",
            cap(
                idx.topk(
                    "term0001 term0002",
                    "disjunctive",
                    10,
                    scope=spark.read.parquet(pq).filter("role = 'assistant'"),
                )
            ),
        )
    )
    sections.append(
        (
            "Facet counts over the match set",
            "Expected: the matches kernel emits candidate doc ids (grouped "
            "FlatMapGroupsInPandas over the pruned postings), decode + convs "
            "join, then a join to the column-pruned metadata scan and ONE "
            "partial+final hash aggregate on the facet column.",
            cap(
                idx.facet_counts(
                    "term0001 term0002", spark.read.parquet(pq), "role"
                )
            ),
        )
    )
    sections.append(
        (
            "Conversation-collapsed top-k (field collapsing)",
            "Expected: the SAME bucket/term-pruned postings scan and ONE "
            "grouped FlatMapGroupsInPandas as the flat top-k — the collapse "
            "happens inside the kernel (group = conv_id hash, so a conv "
            "never spans groups), emitting at most k conv-representatives "
            "per group; broadcast-able conv-label join; TakeOrderedAndProject "
            "over G*k rows. No window, no extra exchange.",
            cap(idx.topk_conversations("term0001 term0002", "disjunctive", 10)),
        )
    )
    sections.append(
        (
            "Segmented conversation collapse (MultiIndex re-collapse)",
            "Expected: union-pruned per-segment scans, per-(seg, group) "
            "kernel collapse bounding the exchange at S*G*k rows, then ONE "
            "conv_id-partitioned WindowGroupLimit (rank=1) merging segment "
            "bests — needed because extend can spread a conversation over "
            "segments — and TakeOrderedAndProject for the global cut.",
            cap(multi.topk_conversations("term0001 term0002", "disjunctive", 10)),
        )
    )
    sections.append(
        (
            "Docs-engine BM25 top-k (pure JVM path)",
            "Expected: WholeStageCodegen end-to-end, broadcast of the tiny "
            "idf/stats sides, hash partial aggregates, TakeOrderedAndProject; "
            "ReadSchema limited to (doc_id, text).",
            cap(contract.QUERIES["bm25_topk"](spark, SF)),
        )
    )
    sections.append(
        (
            "MinHash signatures (one groupBy, k min aggregates)",
            "Expected: single shuffle on doc_id, partial+final hash aggregate, "
            "no Python.",
            cap(
                __import__(
                    "search_engine_spark.pipeline.dedup", fromlist=["minhash_signatures"]
                ).minhash_signatures(contract.load(spark, SF, "documents"), 8)
            ),
        )
    )
    sections.append(
        (
            "Filter pushdown + column pruning (pricing summary)",
            "Expected: PushedFilters on l_shipdate, ReadSchema without unused "
            "columns.",
            cap(contract.QUERIES["pricing_summary"](spark, SF)),
        )
    )
    sections.append(
        (
            "Broadcast dim join + top-k (top customers)",
            "Expected: BroadcastHashJoin on nation, shuffle join on custkey, "
            "TakeOrderedAndProject.",
            cap(contract.QUERIES["top_customers_by_revenue"](spark, SF)),
        )
    )

    sections.append(
        (
            "ANN probe against the persisted signature index",
            "Expected: parquet scan of the (table, bucket)-partitioned index "
            "with PartitionFilters on table/bucket (the probe reads ONLY the "
            "query's 16 cells, never the full signature table); exact-cosine "
            "rerank of candidates; TakeOrderedAndProject.",
            cap(contract.QUERIES["ann_lsh_topk"](spark, SF)),
        )
    )
    sections.append(
        (
            "LSH-bucketed kNN join",
            "Expected: both sides signed by the Arrow matmul kernel, "
            "equi-join (SortMergeJoin/ShuffledHashJoin) on (table, bucket) — "
            "NEVER a CartesianProduct/BroadcastNestedLoopJoin — then "
            "per-left window top-k.",
            cap(contract.QUERIES["knn_join_lsh"](spark, SF)),
        )
    )
    sections.append(
        (
            "Relevance-boost ladder",
            "Expected: one exploded-token aggregate feeding broadcast term "
            "stats, whole-stage codegen for the tier cascade, no Python.",
            cap(contract.QUERIES["boost_ladder"](spark, SF)),
        )
    )

    sections.append(
        (
            "Embedding-cosine near-dup pairs",
            "Expected: both sides signed once, equi-join on (table, bucket) — "
            "NEVER a CartesianProduct — the collision exchange carries only "
            "(long, long) id pairs into the dedup aggregate, vectors join "
            "back by vec_id, and the exact cosine runs once per unique pair "
            "in the Arrow kernel (ArrowEvalPython), never an interpreted "
            "per-element aggregate.",
            cap(contract.QUERIES["dedup_embedding_cosine"](spark, SF)),
        )
    )
    sections.append(
        (
            "IVF ANN probe against the persisted quantizer index",
            "Expected: parquet scan of the cell-partitioned ids-only index "
            "with PartitionFilters on `cell` (only the nprobe probed cells "
            "are read — cell ranking happened driver-side from the "
            "_centroids sidecar); broadcast left-semi join pulls the "
            "members' vectors by id; TakeOrderedAndProject for the exact "
            "rerank.",
            cap(contract.QUERIES["ivf_ann_topk"](spark, SF)),
        )
    )
    sections.append(
        (
            "Segmented ANN probe (base + delta LSM segments)",
            "Expected: a UNION of per-segment (table, bucket)-pruned index "
            "scans (PartitionFilters in BOTH branches), candidate-id dedup, "
            "broadcast left-semi join back to the embedding table, exact "
            "rerank — stale signatures are harmless because the rerank "
            "scores CURRENT vectors.",
            cap(contract.QUERIES["ann_lsh_topk_segmented"](spark, SF)),
        )
    )
    sections.append(
        (
            "Segmented IVF probe (base + delta LSM segments)",
            "Expected: a UNION of per-segment cell-partitioned index scans, "
            "each with PartitionFilters on `cell` (the nprobe cells ranked "
            "driver-side from the shared _centroids sidecar), candidate-id "
            "dedup, broadcast left-semi join back to the embedding table, "
            "exact rerank — the same LSM shape as the segmented ANN probe.",
            cap(contract.QUERIES["ivf_ann_topk_segmented"](spark, SF)),
        )
    )
    sections.append(
        (
            "Turn-level UPDATE read path (MultiIndex with shadow exclusion)",
            "Expected: the same union-pruned segmented plan as the LSM read — "
            "shadow exclusion lives INSIDE the grouped kernel (resolved doc "
            "ids broadcast via the kernel closure), so updates add ZERO plan "
            "nodes: no extra join, no extra exchange.",
            cap(contract.QUERIES["transcripts_bm25_updated"](spark, SF)),
        )
    )
    from search_engine_spark.operators.recency import recency_topk

    sections.append(
        (
            "Recency-decayed top-k (full-match rescore)",
            "Expected: the SAME bucket/term-pruned postings scan and ONE "
            "grouped kernel as topk (emitting every match WITH its exact "
            "BM25 score), a join to the corpus scan with ReadSchema pruned "
            "to (conv_id, turn_idx, ts) — never the text column — "
            "whole-stage-codegen exp/greatest math for the decay, and "
            "TakeOrderedAndProject for the final cut (no global sort).",
            cap(
                recency_topk(
                    idx, spark.read.parquet(pq), "term0001 term0002",
                    "2026-01-01 01:00:00", 600.0,
                )
            ),
        )
    )
    from search_engine_spark.pipeline.significant import significant_terms

    sections.append(
        (
            "Significant terms (JLH aggregation over the match set)",
            "Expected: the match-set job feeds a LEFT-SEMI join against "
            "the transcripts scan (AQE broadcasts the small side), ONE "
            "Arrow MapInPandas tokenize pass over ONLY the matched turns "
            "with ReadSchema pruned to text, a partial-aggregated "
            "groupBy(term) count, a join to the one-row-per-term idf "
            "table for the background df, codegen'd JLH arithmetic, and "
            "TakeOrderedAndProject — no corpus-wide tokenize, no "
            "postings decode.",
            cap(
                significant_terms(
                    idx, spark.read.parquet(pq), "term0003 term0004",
                    "conjunctive", n=10,
                )
            ),
        )
    )
    from search_engine_spark.pipeline.histogram import date_histogram

    sections.append(
        (
            "Date histogram over the match set",
            "Expected: match-set semi-join against a transcripts scan "
            "with ReadSchema pruned to (conv_id, turn_idx, ts) — never "
            "text — then codegen'd date_trunc + a partial-aggregated "
            "count (HashAggregate pair around one exchange of at most "
            "|buckets| groups).  No UDF anywhere.",
            cap(
                date_histogram(
                    idx, spark.read.parquet(pq), "term0003 term0004",
                    "conjunctive", "hour",
                )
            ),
        )
    )
    from search_engine_spark.pipeline.tophits import top_hits_by

    sections.append(
        (
            "Top hits per bucket (terms + top_hits)",
            "Expected: the exhaustive-scoring kernel feeds a join to a "
            "(keys, role)-pruned transcripts scan; the rank<=k filter "
            "over the per-bucket window becomes WindowGroupLimit — a "
            "per-partition top-k, not a full sort.",
            cap(
                top_hits_by(
                    idx, spark.read.parquet(pq), "term0001 term0002",
                    "role", "disjunctive", 2,
                )
            ),
        )
    )
    from search_engine_spark.operators.mlt import more_like_this

    sections.append(
        (
            "More-like-this (derived-query retrieval)",
            "Expected: the derived query runs the ORDINARY analyzed topk "
            "plan — bucket/term-pruned postings scan over the 25 selected "
            "terms, one grouped kernel, broadcast label join — then a "
            "codegen'd source-exclusion Filter and TakeOrderedAndProject "
            "(orderBy+limit fuse; no global sort).  The source-turn read "
            "that derives the terms is a SEPARATE prior job: a single-row "
            "scan with PushedFilters on (conv_id, turn_idx) and ReadSchema "
            "pruned to the text column, collected driver-side (one doc).",
            cap(
                more_like_this(
                    idx, spark.read.parquet(pq), "conv-000004", 1, k=10
                )
            ),
        )
    )
    sections.append(
        (
            "Importance-weighted scoring (Ranker1 metric path)",
            "Expected: one exploded-token aggregate, broadcast of the "
            "|terms|-row df side, whole-stage codegen for the "
            "tf_norm*idf*ln(1+importance) math, TakeOrderedAndProject.",
            cap(contract.QUERIES["importance_weighted_topk"](spark, SF)),
        )
    )

    sections.append(
        (
            "Ranker2 blend over the PERSISTED PageRank artifact",
            "Expected: the popularity side is a parquet Scan of the "
            "write_pagerank table (node, rank) joined on the exploded-token "
            "key — NO iterative join/aggregate rounds inside the ranking "
            "plan; relevance side is the BM25 aggregate; "
            "TakeOrderedAndProject for top-k.",
            cap(contract.QUERIES["rank_blend"](spark, SF)),
        )
    )
    sections.append(
        (
            "MMR diversity rerank",
            "Expected: broadcast left-semi join pruning the docs scan to the "
            "bounded candidate ids, JVM array ops for term sets and the k² "
            "pairwise Jaccard, ONE FlatMapCoGroupsInPandas for the greedy "
            "selection — no driver loop, no corpus-sized window.",
            cap(contract.QUERIES["mmr_rerank"](spark, SF)),
        )
    )

    sections.append(
        (
            "Per-source quota cap",
            "Expected: Window with a REAL partition spec (source) — many "
            "concurrent partitions, never the single-task global window — "
            "and whole-stage codegen around the hash/rank math.",
            cap(contract.QUERIES["source_quota_sample"](spark, SF)),
        )
    )
    sections.append(
        (
            "Deterministic hash split",
            "Expected: a pure narrow Project over the scan (no shuffle at "
            "all), ReadSchema pruned to doc_id.",
            cap(contract.QUERIES["dataset_split"](spark, SF)),
        )
    )

    sections.append(
        (
            "Query-term highlighting",
            "Expected: a single narrow Project over the documents scan — "
            "regexp_replace + length arithmetic inside WholeStageCodegen, "
            "ReadSchema pruned to (doc_id, text), the n_hits>0 filter in the "
            "same stage, NO shuffle and NO Python.",
            cap(contract.QUERIES["highlight_terms"](spark, SF)),
        )
    )

    from search_engine_spark.pipeline.aggs import (
        cardinality,
        extended_stats,
        match_stats,
        percentiles,
        stats_by,
    )

    corpus_df = spark.read.parquet(pq)
    sections.append(
        (
            "Match-set cardinality (exact countDistinct)",
            "Expected: the matches kernel over the bucket/term-pruned "
            "postings scan emits candidate keys; ONE partial+final "
            "HashAggregate pair on the distinct column — no corpus join at "
            "all when the column is a match key (conv_id).",
            cap(cardinality(idx, corpus_df, "term0001 term0002")),
        )
    )
    sections.append(
        (
            "Match-set stats aggregation (chars per matched turn)",
            "Expected: match-set LeftSemi join against a corpus scan with "
            "ReadSchema pruned to (conv_id, turn_idx, text); length() inside "
            "codegen; ONE partial+final aggregate producing the single "
            "stats row — O(1) aggregation state.",
            cap(match_stats(idx, corpus_df, "term0001 term0002")),
        )
    )
    sections.append(
        (
            "Match-set extended stats (variance from exact integer sums)",
            "Expected: the same single partial+final aggregate as stats — "
            "the six raw aggregates (count/min/max/avg/sum/sum_sq) in one "
            "pass, variance/std_dev as post-aggregation Project expressions "
            "over the exact longs (no second job, no streaming-moments "
            "state).",
            cap(extended_stats(idx, corpus_df, "term0001 term0002")),
        )
    )
    sections.append(
        (
            "Match-set percentiles (exact contract path)",
            "Expected: ObjectHashAggregate for SQL percentile (exact path "
            "buffers matched values — the reason approx=True/"
            "percentile_approx is the documented 100-TB path); input still "
            "the (keys, text)-pruned LeftSemi scan.",
            cap(percentiles(idx, corpus_df, "term0001 term0002")),
        )
    )
    sections.append(
        (
            "Bucketed stats (terms + stats sub-aggregation)",
            "Expected: ONE hash aggregation keyed on the bucket column with "
            "map-side partial aggregation (O(buckets) state), null buckets "
            "filtered before the agg, bucket order by sort — no window, no "
            "per-bucket job.",
            cap(stats_by(idx, corpus_df, "term0001 term0002")),
        )
    )

    from search_engine_spark.pipeline.aggs import percentile_ranks

    sections.append(
        (
            "Percentile ranks (exact empirical CDF)",
            "Expected: ONE partial+final aggregate over the (keys, text)-"
            "pruned LeftSemi scan — each probe is an avg of a 0/1 indicator "
            "inside codegen, O(1) aggregation state per probe; no value "
            "buffering (contrast the exact-percentiles ObjectHashAggregate).",
            cap(percentile_ranks(idx, corpus_df, "term0001 term0002", (50.0, 300.0))),
        )
    )

    from search_engine_spark.pipeline.histogram import date_histogram_pipeline

    sections.append(
        (
            "Pipeline aggregations over the gap-filled date histogram",
            "Expected: the distributed match-set histogram runs EXACTLY "
            "ONCE (materialized — chart-sized bucket rows), so this plan is "
            "local: Scan ExistingRDD for the buckets, the calendar grid "
            "from ONE sequence/Generate (JVM, no UDF) left-joined back, the "
            "three pipeline metrics as Window functions over a SINGLE "
            "ordered partition — O(buckets) everywhere, and no second "
            "execution of the match-kernel lineage (the naive lazy "
            "composition showed two FlatMapGroupsInPandas subtrees here).",
            cap(
                date_histogram_pipeline(
                    idx, corpus_df, "term0001 term0002", interval="minute",
                    window=3, min_doc_count=0,
                )
            ),
        )
    )

    from search_engine_spark.operators.fieldsort import topk_by_field

    sections.append(
        (
            "Field-sorted retrieval (ES sort clause, latest matches)",
            "Expected: the matches kernel (candidates only — no scoring) "
            "over the bucket/term-pruned postings scan; LeftSemi join "
            "against a corpus scan with ReadSchema pruned to (conv_id, "
            "turn_idx, ts); TakeOrderedAndProject with ts DESC NULLS LAST — "
            "distributed per-partition top-k, never a full sort.",
            cap(topk_by_field(idx, corpus_df, "term0001 term0002", "ts", False, 10)),
        )
    )

    from search_engine_spark.index.reader import (
        EXPLAIN_KERNEL_SCHEMA,
        _make_explain_kernel,
        _weighted_idf,
        parse_query,
    )

    spec = parse_query("term0001 term0002", "disjunctive")
    idf_map = _weighted_idf(idx.idf_map(spec.score_terms), spec)
    conv0 = idx._convs.select("conv_id").orderBy("conv_id").first()["conv_id"]
    group0, doc0 = idx._doc_coords(conv0, 0)
    explain_kernel = _make_explain_kernel(spec, idf_map, idx.avgdl, doc0)
    sections.append(
        (
            "Per-doc score explain (ES _explain analog) — the distributed half",
            "Expected: a postings scan with PartitionFilters on `bucket`, "
            "PushedFilters on `term` AND the pushed `group` equality — the "
            "scan is pruned to the target doc's group before the SINGLE-"
            "group FlatMapGroupsInPandas kernel (membership check + "
            "block-selective tf/dl lookup); everything downstream is "
            "driver-side assembly of |terms| rows from the collected "
            "kernel output.",
            cap(
                idx.postings_df(sorted(spec.score_terms))
                .filter(F.col("group") == group0)
                .groupBy("group")
                .applyInPandas(explain_kernel, schema=EXPLAIN_KERNEL_SCHEMA)
            ),
        )
    )

    from search_engine_spark.pipeline.hybrid import hash_embed, hybrid_topk

    emb = hash_embed(spark.read.parquet(pq), 16)
    sections.append(
        (
            "Hybrid retrieval (BM25 ∪ embedding cosine, RRF fusion)",
            "Expected: TWO independent retrieval branches — the lexical "
            "branch keeps its bucket PartitionFilters + pushed term filter "
            "and grouped kernel; the semantic branch is ONE narrow "
            "mapInPandas embed pass + JVM zip_with/aggregate cosine with "
            "TakeOrderedAndProject (query vector folded as literals, no "
            "shuffle) — then rank windows over the two ≤depth-row lists, a "
            "union, and ONE hash aggregate for the RRF sum. The only "
            "single-partition operators touch O(depth) rows by "
            "construction.",
            cap(hybrid_topk(idx, emb, "term0001 term0002", k=10, depth=20, dim=16)),
        )
    )
    from search_engine_spark.pipeline.hybrid import (
        ann_semantic_topk,
        quantize_embeddings,
        quantized_semantic_topk,
        write_turn_ann_index,
        embed_query,
    )

    ann_path = os.path.join(d, "turn_ann")
    write_turn_ann_index(emb, ann_path, 16, bits=2, tables=8)
    qv16 = embed_query("term0001 term0002", 16)
    sections.append(
        (
            "ANN-probed semantic leg (turn-keyed LSH index)",
            "Expected: the signature scan carries PartitionFilters on the "
            "query's (table, bucket) probe cells — the 100 TB path reads "
            "probe cells, never the index; candidate keys BROADCAST back "
            "onto the embedding table as a left-semi join; exact cosine + "
            "TakeOrderedAndProject over candidates only.",
            cap(ann_semantic_topk(emb, ann_path, qv16, 20)),
        )
    )
    qemb = quantize_embeddings(emb)
    sections.append(
        (
            "int8-quantized semantic scan with exact rerank",
            "Expected: the approximate branch scans ONLY the tinyint table "
            "(ReadSchema qvec/qscale — 8× fewer embedding bytes) with "
            "integer zip_with/aggregate math and TakeOrderedAndProject at "
            "oversample*k; the winners broadcast-semi-join the float table "
            "and a second TakeOrderedAndProject emits exact cosines.",
            cap(quantized_semantic_topk(qemb, qv16, 10, rerank_with=emb)),
        )
    )
    from search_engine_spark.pipeline.rankeval import rank_eval

    judg = spark.createDataFrame(
        [(0, "conv-000001", 0, 3), (1, "conv-000002", 1, 2)],
        "query_id int, conv_id string, turn_idx int, rating int",
    )
    sections.append(
        (
            "Retrieval-quality evaluation (_rank_eval analog)",
            "Expected: ONE batched retrieval job (union-pruned postings "
            "scan shared across the query set), then pure JVM metric math — "
            "a per-query rank window over ≤ queries·k rows, a broadcast-able "
            "join to the judgment table, and partial+final hash aggregates "
            "for DCG/precision/recall; the ideal-DCG branch windows the "
            "judgments alone. No Python anywhere downstream of retrieval.",
            cap(
                rank_eval(
                    idx,
                    [("term0001 term0002", "disjunctive"),
                     ("term0003", "disjunctive")],
                    judg,
                    k=5,
                )
            ),
        )
    )

    from search_engine_spark.pipeline import curation

    docs = contract.load(spark, SF, "documents")
    ev = curation.eval_shingles(docs.filter(contract.F.col("doc_id") % 97 == 0), 3)
    sections.append(
        (
            "Benchmark decontamination (eval n-gram overlap)",
            "Expected: the eval-shingle side BROADCASTS (eval suites are "
            "tiny — a BroadcastHashJoin, never a shuffle of the corpus "
            "shingles against it); the corpus side is one narrow "
            "explode/transform pass feeding partial+final hash aggregates "
            "per doc_id; left joins back to the id list stay hash/broadcast. "
            "No all-pairs join anywhere — the shape is linear in corpus "
            "shingles at 100 TB.",
            cap(curation.decontamination_stats(docs, ev, 3)),
        )
    )
    sections.append(
        (
            "Repetition stats (Gopher boilerplate measures)",
            "Expected: explode to (doc_id, gram) → partial-aggregated "
            "count (map-side combine bounds shuffle rows by DISTINCT grams "
            "per doc) → second partial agg per doc_id → join back to the "
            "token-level projection. All whole-stage-codegen JVM "
            "expressions; per-key state is one long.",
            cap(curation.repetition_stats(docs, 2)),
        )
    )
    sections.append(
        (
            "PII scrubbing (regexp redaction)",
            "Expected: ONE narrow whole-stage-codegen projection — "
            "regexp_count/regexp_replace chains, no shuffle, no UDF, no "
            "exchange of any kind: a pure map over the corpus scan.",
            cap(curation.pii_scrub(docs)),
        )
    )
    sections.append(
        (
            "Exact mixture sampling (domain weighting)",
            "Expected: one pushed IN-filter on the source column at the "
            "scan; a per-source window rank (many concurrent partitions — "
            "WindowExec partitioned by source, never a single-task global "
            "window); the cap lookup is a literal map, no join.",
            cap(curation.mixture_sample(docs, contract._MIX_PARTS)),
        )
    )

    sections.append(
        (
            "Sequence packing (distributed two-level prefix sum)",
            "Expected: a range-partition exchange on doc_id, then the "
            "cumulative window runs PER PARTITION (WindowExec partitioned "
            "by the synthetic _pid — many concurrent tasks, never a "
            "single-task global window); the cross-partition base offsets "
            "enter as a literal map lookup (no join, no second shuffle of "
            "the data).",
            cap(curation.pack_mapping(docs, 512)),
        )
    )
    sections.append(
        (
            "Sliding-window chunking",
            "Expected: ZERO exchanges — one narrow projection, a bounded "
            "sequence-explode (Generate), and slice/concat_ws, all inside "
            "whole-stage codegen over the scan: embarrassingly parallel at "
            "any corpus size.",
            cap(curation.chunk_documents(docs, 32, 8)),
        )
    )

    sections.append(
        (
            "Wildcard-term vocabulary expansion (kuber*s-style)",
            "Expected: parquet scan of the ONE-ROW-PER-TERM idf table with "
            "PushedFilters carrying BOTH StringStartsWith (the pattern's "
            "longest literal prefix — prunes row groups) and the LIKE "
            "evaluated in codegen; TakeOrderedAndProject caps at "
            "PREFIX_CAP so the driver receives a bounded row count from "
            "an arbitrarily large vocabulary.  The postings scan of the "
            "rewritten query stays bucket-pruned (first section).",
            cap(
                idx._idf.filter(
                    F.col("term").startswith("term")
                    & F.col("term").like("term%1")
                )
                .orderBy(F.desc("df"), F.asc("term"))
                .limit(32)
            ),
        )
    )
    span_docs = spark.read.parquet(pq).select(
        F.xxhash64("conv_id", "turn_idx").alias("doc_id"), "text"
    )
    sections.append(
        (
            "Corpus-wide duplicate-span stats (exact-substring dedup measure)",
            "Expected: gram occurrences from ONE Generate (posexplode) over "
            "the scan; first-wins via HashAggregate on md5(gram) with a "
            "PARTIAL phase (min(struct) combines map-side, so boilerplate "
            "grams never concentrate state); one shuffle on the gram hash "
            "for the join back; bounded per-doc aggregations.  No "
            "cartesian/nested-loop anywhere.",
            cap(curation.span_dedup_stats(span_docs, 8)),
        )
    )

    from search_engine_spark.operators.querystring import search_query_string

    sections.append(
        (
            "Unified query string (bool query: must/should/must_not + "
            "phrase + filter + expansion)",
            "Expected: the IDENTICAL single-kernel shape as every other "
            "mode — one postings scan with bucket PartitionFilters + "
            "pushed term IN-list covering ALL clause terms (must_not "
            "terms included: their doc lists drive the exclusion inside "
            "the kernel, costing zero plan nodes); the field-filter "
            "scope branch scans the corpus parquet with the role "
            "predicate PUSHED and ReadSchema pruned to keys + role — "
            "never text; ONE cogrouped FlatMapGroupsInPandas; "
            "TakeOrderedAndProject.  Clause composition adds NO "
            "exchanges over the scoped-BM25 plan.",
            cap(
                search_query_string(
                    idx,
                    '+term0001 "term0002 term0003" -term0004 '
                    "term000* role:assistant",
                    10,
                    meta=spark.read.parquet(pq),
                )
            ),
        )
    )

    from search_engine_spark.operators.function_score import function_score_topk
    from search_engine_spark.pipeline.aggs import multi_terms, top_metrics_by
    from search_engine_spark.pipeline.significant import rare_terms

    corpus_df = spark.read.parquet(pq)
    sections.append(
        (
            "function_score rescoring (field_value_factor × weight × random)",
            "Expected: the recency shape generalized — ONE match-kernel "
            "pass (FlatMapGroupsInPandas over the bucket-pruned postings "
            "scan), a corpus scan with ReadSchema pruned to keys + the "
            "referenced fields only (never text), broadcast-able join, "
            "every function a scalar JVM expression inside the projection "
            "(md5/conv/log10 — no UDF), TakeOrderedAndProject.",
            cap(
                function_score_topk(
                    idx,
                    corpus_df,
                    "term0001 term0002",
                    [
                        {"kind": "field_value_factor", "field": "turn_idx",
                         "factor": 0.5, "modifier": "log1p"},
                        {"kind": "random_score", "seed": "p"},
                    ],
                    k=10,
                )
            ),
        )
    )
    sections.append(
        (
            "rare_terms long-tail aggregation",
            "Expected: match-set semi-join (broadcast-able), text-only "
            "ReadSchema for the matched turns, ONE Arrow mapInPandas "
            "tokenize pass, hash aggregate on term with the "
            "fg <= max_doc_count filter applied at the aggregate (Zipf "
            "head dropped before the global sort), no background join.",
            cap(rare_terms(idx, corpus_df, "term0001 term0002", max_doc_count=2, limit=20)),
        )
    )
    sections.append(
        (
            "multi_terms + top_metrics bucket aggregations",
            "Expected (both): keys+fields-pruned corpus scan (never "
            "text), leftsemi match join, ONE hash aggregation with "
            "map-side partials — multi_terms ends in "
            "TakeOrderedAndProject on (n desc, keys); top_metrics reduces "
            "a (sort, metric) struct max, O(buckets) state, no window.",
            cap(multi_terms(idx, corpus_df, "term0001 term0002", ("role", "tool"), 10))
            + "\n--- top_metrics_by ---\n"
            + cap(top_metrics_by(idx, corpus_df, "term0001 term0002", "role", "ts", "turn_idx")),
        )
    )

    from search_engine_spark.operators.innerhits import collapse_inner_hits

    sections.append(
        (
            "collapse + inner_hits (per-conversation top-N)",
            "Expected: two kernel passes of the standard class (the "
            "collapse ranking and matches_scored), broadcast join of "
            "the k winning conversations into the scored match set, and "
            "a rank-filtered window Spark rewrites to WindowGroupLimit "
            "(per-conversation top-N before the exchange) — no stage "
            "touches O(corpus) rows beyond the candidate kernels.",
            cap(collapse_inner_hits(idx, "term0001 term0002", k=5, inner_n=3)),
        )
    )

    from search_engine_spark.textproc.htmlclean import clean_html_col

    sections.append(
        (
            "cleanHTML char filter fused into the scan projection",
            "Expected: ONE Project over the parquet scan — the whole "
            "regexp chain (comment / code-extract / subtree-drop / "
            "tag-strip / entity-decode / allowlist) is scalar JVM "
            "expressions inside a single WholeStageCodegen span; no "
            "UDF, no exchange, no extra stage at any corpus size.",
            cap(
                spark.read.parquet(pq).select(
                    "conv_id", "turn_idx", clean_html_col("text").alias("clean")
                )
            ),
        )
    )

    out = ["# PLANS — physical-plan evidence (generated by scripts/explain_plans.py)\n"]
    out.append(
        "Regenerate with `python scripts/explain_plans.py`. Each section states "
        "the plan properties the design requires, followed by the actual "
        "`.explain(\"formatted\")` output.\n"
    )
    for title, expect, plan in sections:
        out.append(f"\n## {title}\n\n{expect}\n\n```\n{plan.strip()}\n```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
