"""Training-data curation operators: benchmark decontamination,
repetition/boilerplate statistics, PII scrubbing, and exact mixture
sampling.

These are the corpus-hygiene steps a large-scale LLM training pipeline
runs between dedup and sharding (the reference has no analog — its
corpus is a 6,000-page crawl):

* :func:`decontamination_stats` / :func:`decontaminate` — flag and drop
  documents whose word n-grams overlap a benchmark/eval set (the GPT-3
  appendix-C / PaLM n-gram decontamination procedure).  The eval side is
  tiny (thousands of prompts) so it BROADCASTS; the corpus side is one
  narrow shingle pass plus one bounded aggregation — no all-pairs join
  anywhere, so the shape survives 100 TB.
* :func:`repetition_stats` — Gopher-style (Rae et al. 2021, table A1)
  within-document repetition measures: distinct-token fraction, the
  most-frequent-n-gram share, and the duplicate-n-gram share.  Two
  partial-aggregated shuffles keyed on (doc_id, gram) — per-doc
  cardinality bounded by doc length, never corpus size.
* :func:`span_dedup_stats` — corpus-wide exact duplicate-span measure
  (the RefinedWeb/Dolma exact-substring dedup, word-n-gram flavor):
  first occurrence in corpus order wins, later occurrences are
  duplicate spans, and the per-doc fraction of token positions they
  cover is the removable mass a scrubber would cut.  First-wins is a
  partial ``min(struct)`` aggregation, so boilerplate grams combine
  map-side and never concentrate state.  :func:`span_dedup_scrub` is the
  apply side: covered tokens cut, first occurrences kept, scrubbed
  normalized stream re-emitted.
* :func:`pii_scrub` — redact emails, IPv4 addresses, and long digit
  runs with typed placeholder tokens, counting each redaction class.
  Pure ``regexp_replace``/``regexp_count`` JVM expressions (whole-stage
  codegen, no UDF) using only RE2-compatible syntax so the DuckDB
  oracle runs the byte-identical patterns.
* :func:`mixture_sample` — downsample per-source so the surviving
  corpus matches a target mixture ratio EXACTLY (the domain-mixing step
  before training): integer-ratio targets, largest total achievable
  without upsampling, rows chosen deterministically by the engine-
  portable md5 hash order (same convention as
  :mod:`~search_engine_spark.pipeline.sharding`).
* :func:`pack_mapping` / :func:`sft_pack` — concat-and-chunk
  sequence-packing maps (document-level GPT-2/3 layout; conversation-
  level SFT layout with role-based loss masking), global token offsets
  via a distributed two-level prefix sum.
* :func:`chunk_documents` — sliding token-window chunking with overlap
  (retrieval / long-context prep), shuffle-free JVM codegen.

Every operator is deterministic and layout-independent, with a DuckDB
SQL twin in the driver contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import rnd
from .dedup import h60, shingles

ROUND = 6

#: redaction classes applied IN ORDER (emails first: an address's local
#: part may contain digit runs that the NUM pass would otherwise split).
#: RE2-compatible (no lookarounds/backrefs) so Spark and DuckDB compile
#: the identical automaton.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("longnum", r"\d{7,}", "<NUM>"),
)


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------


def eval_shingles(eval_df: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-grams of the benchmark/eval texts: (shingle).

    Expects (doc_id, text) like the corpus; the output drops doc
    identity — contamination is membership in the UNION of eval grams.
    """
    return shingles(eval_df, n).select("shingle").distinct()


def decontamination_stats(
    docs: DataFrame, eval_sh: DataFrame, n: int = 3
) -> DataFrame:
    """Per-document eval-set n-gram overlap: (doc_id, n_shingles,
    n_hits, hit_frac, contaminated).

    ``n_hits`` counts the doc's DISTINCT shingles that appear anywhere
    in the eval set; ``contaminated`` is the standard any-hit flag
    (GPT-3 used 13-gram any-hit; the n is a parameter because the
    right value scales with tokenizer granularity).  Docs too short to
    produce a single n-gram report 0 shingles and are never flagged.

    Plan shape: corpus shingles are a narrow transform + one distinct;
    the eval side broadcasts (eval suites are ~10⁵ grams); hits
    aggregate per doc_id with map-side partial aggregation.
    """
    sh = shingles(docs, n)
    per_doc = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hits = (
        sh.join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            rnd(
                F.when(
                    F.coalesce("n_shingles", F.lit(0)) > 0,
                    F.coalesce("n_hits", F.lit(0)).cast("double")
                    / F.col("n_shingles"),
                ).otherwise(F.lit(0.0)),
                ROUND,
            ).alias("hit_frac"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def decontaminate(
    docs: DataFrame, eval_sh: DataFrame, n: int = 3, min_hits: int = 1
) -> DataFrame:
    """The corpus minus contaminated docs (≥ ``min_hits`` eval grams).

    Anti-join on the flagged ids — the surviving rows keep every corpus
    column, so this drops into a pipeline between dedup and sharding.
    """
    flagged = (
        decontamination_stats(docs, eval_sh, n)
        .filter(F.col("n_hits") >= min_hits)
        .select("doc_id")
    )
    return docs.join(flagged, "doc_id", "left_anti")


# ---------------------------------------------------------------------------
# repetition / boilerplate statistics
# ---------------------------------------------------------------------------


def _toks(col: str = "text"):
    return F.filter(
        F.split(F.lower(F.trim(F.col(col))), r"\s+"), lambda x: x != F.lit("")
    )


def _grams(n: int):
    """All (non-distinct) word n-grams of the text column as an array."""
    t = _toks()
    return F.when(F.size(t) >= n, F.transform(
        F.sequence(F.lit(1), F.size(t) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(t, i, n)),
    )).otherwise(F.array().cast("array<string>"))


def repetition_stats(docs: DataFrame, n: int = 2) -> DataFrame:
    """Gopher-style within-doc repetition measures (Rae et al. 2021):

    (doc_id, n_tokens, distinct_frac, top_gram_frac, dup_gram_frac)

    * ``distinct_frac``  — distinct tokens / total tokens (low ⇒ loops);
    * ``top_gram_frac``  — occurrences of the single most frequent
      n-gram / total n-grams (the "fraction in most common n-gram"
      filter, token-count flavor);
    * ``dup_gram_frac``  — occurrences belonging to n-grams seen ≥ 2
      times / total n-grams (the "fraction in duplicate n-grams").

    Ties for the top gram don't matter: only its COUNT enters the
    metric.  Docs shorter than ``n`` tokens report 0 for both gram
    fractions.  Per-(doc, gram) counting is an explode + two partial-
    aggregated groupBys — state per key is one long, keys are bounded
    by document length, so the shape is corpus-size-independent.
    """
    t = _toks()
    base = docs.select(
        "doc_id",
        F.size(t).alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("n_distinct"),
        _grams(n).alias("grams"),
    )
    gram_counts = (
        base.select("doc_id", F.explode_outer("grams").alias("gram"))
        .filter(F.col("gram").isNotNull())
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("cnt"))
    )
    gram_stats = gram_counts.groupBy("doc_id").agg(
        F.sum("cnt").alias("total_grams"),
        F.max("cnt").alias("top_cnt"),
        F.sum(F.when(F.col("cnt") >= 2, F.col("cnt")).otherwise(F.lit(0))).alias(
            "dup_cnt"
        ),
    )
    frac = lambda num, den: rnd(  # noqa: E731
        F.when(den > 0, num.cast("double") / den).otherwise(F.lit(0.0)), ROUND
    )
    return (
        base.join(gram_stats, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            frac(F.col("n_distinct"), F.col("n_tokens")).alias("distinct_frac"),
            frac(
                F.coalesce("top_cnt", F.lit(0)), F.coalesce("total_grams", F.lit(0))
            ).alias("top_gram_frac"),
            frac(
                F.coalesce("dup_cnt", F.lit(0)), F.coalesce("total_grams", F.lit(0))
            ).alias("dup_gram_frac"),
        )
    )


def span_dedup_stats(docs: DataFrame, n: int = 8) -> DataFrame:
    """CORPUS-WIDE exact duplicate-span statistics (the RefinedWeb /
    Dolma exact-substring dedup measure, word-n-gram flavor):

    (doc_id, n_tokens, n_grams, n_dup_spans, n_dup_tokens,
     dup_token_frac)

    A span is a word ``n``-gram; its FIRST occurrence in corpus order
    (doc_id asc, position asc — the same first-wins convention as
    :func:`~search_engine_spark.pipeline.dedup.exact_duplicates`) is
    original, every later occurrence is a duplicate span.
    ``n_dup_tokens`` counts the distinct token positions of a doc
    covered by at least one duplicate span (overlaps merged), and
    ``dup_token_frac`` is the removable fraction a span-level scrubber
    would cut — the number a curation pipeline thresholds on.

    Shape at scale: one explode to (md5(gram), doc, pos) occurrences,
    first occurrences via ``min(struct(doc_id, pos))`` — a PARTIAL
    aggregation, so a boilerplate gram repeated a billion times still
    combines map-side — then one join back (AQE skew-join splits the
    hot grams; the build side is one row per gram) and one bounded
    per-doc interval-union count.  No all-pairs anywhere; state per
    gram is one (doc, pos) pair.  Docs shorter than ``n`` tokens carry
    no spans and report zero fractions.
    """
    t = _toks()
    base = docs.select(
        "doc_id", F.size(t).alias("n_tokens"), _grams(n).alias("grams")
    )
    occ = (
        base.select(
            "doc_id", F.posexplode_outer("grams").alias("pos", "gram")
        )
        .filter(F.col("gram").isNotNull())
        .select("doc_id", "pos", F.md5("gram").alias("g"))
    )
    firsts = occ.groupBy("g").agg(F.min(F.struct("doc_id", "pos")).alias("first"))
    dups = occ.join(firsts, "g").filter(
        (F.col("doc_id") != F.col("first.doc_id"))
        | (F.col("pos") != F.col("first.pos"))
    )
    covered = (
        dups.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
            ).alias("cpos"),
        )
        .groupBy("doc_id")
        .agg(F.countDistinct("cpos").alias("n_dup_tokens"))
    )
    span_counts = dups.groupBy("doc_id").agg(F.count("*").alias("n_dup_spans"))
    return (
        base.select("doc_id", "n_tokens", F.size("grams").alias("n_grams"))
        .join(span_counts, "doc_id", "left")
        .join(covered, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_grams",
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.coalesce("n_dup_tokens", F.lit(0)).alias("n_dup_tokens"),
            rnd(
                F.when(
                    F.col("n_tokens") > 0,
                    F.coalesce("n_dup_tokens", F.lit(0)).cast("double")
                    / F.col("n_tokens"),
                ).otherwise(F.lit(0.0)),
                ROUND,
            ).alias("dup_token_frac"),
        )
    )


def span_dedup_scrub(docs: DataFrame, n: int = 8) -> DataFrame:
    """APPLY side of :func:`span_dedup_stats` — remove every token
    covered by a duplicate span and re-emit the scrubbed text:

    (doc_id, n_tokens, n_removed, text)

    First occurrences (corpus order) survive; only later copies are
    cut, so a deduplicated corpus keeps exactly one copy of every
    boilerplate span (the C4/RefinedWeb scrubbing step, word-n-gram
    flavor).  Output ``text`` is the NORMALIZED token stream
    (lowercased, single-spaced) — the same stream every downstream
    curation operator tokenizes to, re-joined after the cut.

    Shape at scale: the stats shuffles plus one posexplode of the
    token stream, one anti-join against the covered positions on
    (doc, pos) — both sides partial/partitioned, no driver state —
    and one per-doc sorted re-aggregation.  All linear in corpus
    tokens."""
    t = _toks()
    base = docs.select(
        "doc_id", F.size(t).alias("n_tokens"), t.alias("toks"), _grams(n).alias("grams")
    )
    occ = (
        base.select("doc_id", F.posexplode_outer("grams").alias("pos", "gram"))
        .filter(F.col("gram").isNotNull())
        .select("doc_id", "pos", F.md5("gram").alias("g"))
    )
    firsts = occ.groupBy("g").agg(F.min(F.struct("doc_id", "pos")).alias("first"))
    dups = occ.join(firsts, "g").filter(
        (F.col("doc_id") != F.col("first.doc_id"))
        | (F.col("pos") != F.col("first.pos"))
    )
    covered = dups.select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))).alias("i"),
    ).distinct()
    tokpos = base.select(
        "doc_id", F.posexplode_outer("toks").alias("i", "tok")
    ).filter(F.col("tok").isNotNull())
    kept = tokpos.join(covered, ["doc_id", "i"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("text"),
    )
    return (
        base.select("doc_id", "n_tokens")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0))).alias("n_removed"),
            F.coalesce("text", F.lit("")).alias("text"),
        )
    )


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails / IPv4 addresses / ≥7-digit runs with typed
    placeholders: (doc_id, clean_text, n_email, n_ip, n_longnum).

    Counts are taken BEFORE each class's replacement on the text as it
    stands at that step, so an email's digits are never double-counted
    by the longnum pass.  One narrow projection — regex work is
    whole-stage-codegen JVM, no shuffle, trivially 100-TB-safe.
    """
    cur = F.col(text_col)
    counts = {}
    for name, pat, repl in PII_PATTERNS:
        counts[name] = F.regexp_count(cur, F.lit(pat))
        cur = F.regexp_replace(cur, pat, repl)
    return docs.select(
        "doc_id",
        cur.alias("clean_text"),
        *[counts[name].alias(f"n_{name}") for name, _p, _r in PII_PATTERNS],
    )


def pii_scrub_sql(text_expr: str = "text") -> str:
    """DuckDB SELECT-list twin of :func:`pii_scrub` (same patterns, same
    order) — column list ``clean_text, n_email, n_ip, n_longnum``."""
    cur = text_expr
    cols = []
    for name, pat, repl in PII_PATTERNS:
        # DuckDB single-quoted literals pass backslashes through verbatim,
        # so the pattern needs only quote-doubling to survive as SQL
        esc = pat.replace("'", "''")
        cols.append(f"len(regexp_extract_all({cur}, '{esc}')) AS n_{name}")
        cur = f"regexp_replace({cur}, '{esc}', '{repl}', 'g')"
    return f"{cur} AS clean_text, " + ", ".join(cols)


# ---------------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------------


def _global_offsets(
    df: DataFrame, order_col: str, value_col: str, out_col: str = "tok_start"
) -> DataFrame:
    """Add ``out_col`` = the sum of ``value_col`` over all rows strictly
    before this one in ``order_col`` order (keys must be unique): a
    DISTRIBUTED two-level prefix sum, not a single-task global window.

    Range-partition on ``order_col`` (partition index order == key
    order), collect the per-partition totals (one tiny aggregate —
    #partitions rows), turn them into literal prefix offsets, then run a
    per-partition cumulative window.  Every stage is many-task; the only
    driver state is one long per partition.

    The (row → ``_pid``) assignment is pinned the way
    ``index.build.conv_ranks`` pins it: an explicit partition count (so
    AQE cannot coalesce the range partitions differently per job) and a
    local checkpoint before the totals collect, so the totals job and
    the window job read ONE materialized assignment instead of
    re-running the range sampling.  Offsets then depend only on the
    data, not on shuffle-partition settings, AQE or re-execution.
    """
    p = max(df.sparkSession.sparkContext.defaultParallelism, 8)
    part = (
        df.repartitionByRange(p, F.col(order_col))
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    totals = {
        r["_pid"]: r["s"]
        for r in part.groupBy("_pid").agg(F.sum(value_col).alias("s")).collect()
    }
    prefix, acc = {}, 0
    for pid in sorted(totals):
        prefix[pid] = acc
        acc += int(totals[pid] or 0)
    if prefix:
        pairs = [x for pid, off in sorted(prefix.items()) for x in (F.lit(pid), F.lit(off))]
        prefix_col = F.create_map(*pairs)[F.col("_pid")]
    else:  # empty input
        prefix_col = F.lit(0)

    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("_pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return part.withColumn(
        out_col,
        (prefix_col + F.coalesce(F.sum(value_col).over(w), F.lit(0))).cast("long"),
    ).drop("_pid")


def _seq_span_cols(seq_len: int) -> list:
    """(seq_first, seq_last, seq_offset) from (tok_start, n_tokens) for a
    fixed training-sequence length; NULL for zero-token rows."""
    has = F.col("n_tokens") > 0
    sl = int(seq_len)
    return [
        F.when(has, F.expr(f"tok_start div {sl}")).alias("seq_first"),
        F.when(has, F.expr(f"(tok_start + n_tokens - 1) div {sl}")).alias("seq_last"),
        F.when(has, F.pmod(F.col("tok_start"), F.lit(sl)).cast("long")).alias(
            "seq_offset"
        ),
    ]


def pack_mapping(
    docs: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Concat-and-chunk sequence-packing map (the GPT-2/3 pretraining
    layout): documents are concatenated in ``id_col`` order and the
    token stream is chopped into fixed ``seq_len`` windows.  Returns
    per doc:

    (doc_id, n_tokens, tok_start, seq_first, seq_last, seq_offset)

    ``tok_start`` is the doc's global token offset; it occupies
    training sequences ``seq_first..seq_last`` starting at
    ``seq_offset`` within the first.  Empty docs get NULL seq columns.
    The map is what a sharded tokenizer-writer consumes — each writer
    claims a sequence range and reads exactly the docs whose
    [seq_first, seq_last] intersect it.

    The global running sum is a DISTRIBUTED two-level prefix sum, not a
    single-task global window: range-partition on ``id_col`` (so
    partition index order == key order), per-partition token totals
    (one tiny aggregate — #partitions rows — collected and turned into
    literal prefix offsets), then a per-partition cumulative window.
    Every stage is many-task; the only driver state is one long per
    partition.
    """
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive: {seq_len}")
    base = docs.select(F.col(id_col).alias("doc_id"), F.size(_toks(text_col)).alias("n_tokens"))
    c = _global_offsets(base, "doc_id", "n_tokens")
    return c.select("doc_id", "n_tokens", "tok_start", *_seq_span_cols(seq_len))


def sft_pack(
    transcripts: DataFrame,
    seq_len: int,
    mask_roles: tuple[str, ...] = ("assistant",),
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """SFT packing map over a transcripts table: conversations are
    concatenated in ``conv_col`` order, turns within a conversation in
    ``turn_col`` order, and the token stream is chopped into fixed
    ``seq_len`` training sequences.  Returns per TURN:

    (conv_id, turn_idx, role, n_tokens, tok_start, seq_first, seq_last,
     seq_offset, loss_mask)

    ``loss_mask`` marks turns whose tokens contribute to the loss
    (``role in mask_roles`` — assistant-only masking is the standard
    supervised-fine-tuning recipe; prompt/system/tool tokens are context
    only).  A conversation never straddles another: its turns are
    token-contiguous, so a sequence writer can emit attention-reset
    boundaries from (conv_id change) alone.

    Scale shape: the turn-local offset is a conversation-bounded window
    (conversations are small); the conversation-level offsets reuse the
    same distributed two-level prefix sum as :func:`pack_mapping` over
    the #convs-row totals frame; the join back to turns shuffles on
    conv_id only.  (conv, turn) keys must be unique.
    """
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive: {seq_len}")
    from pyspark.sql.window import Window

    base = transcripts.select(
        F.col(conv_col).alias("conv_id"),
        F.col(turn_col).cast("long").alias("turn_idx"),
        F.col(role_col).alias("role"),
        F.size(_toks(text_col)).alias("n_tokens"),
    )
    wturn = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = base.withColumn(
        "turn_start", F.coalesce(F.sum("n_tokens").over(wturn), F.lit(0)).cast("long")
    )
    conv_tot = local.groupBy("conv_id").agg(F.sum("n_tokens").alias("conv_tokens"))
    conv_off = _global_offsets(conv_tot, "conv_id", "conv_tokens", out_col="conv_start")
    c = local.join(conv_off.select("conv_id", "conv_start"), "conv_id").withColumn(
        "tok_start", (F.col("conv_start") + F.col("turn_start")).cast("long")
    )
    return c.select(
        "conv_id",
        "turn_idx",
        "role",
        "n_tokens",
        "tok_start",
        *_seq_span_cols(seq_len),
        F.col("role").isin(list(mask_roles)).alias("loss_mask"),
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int,
    overlap_tokens: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sliding token-window chunking (retrieval / long-context prep):
    chunk *i* of a document covers whitespace tokens
    ``[i*stride, i*stride + chunk_tokens)`` with
    ``stride = chunk_tokens - overlap_tokens``; the last chunk may be
    shorter; zero-token documents produce zero chunks.  Returns
    (doc_id, chunk_idx, n_chunks, chunk_tokens, chunk_text).

    Pure JVM codegen end-to-end — one narrow projection, a bounded
    sequence-explode, and `slice`/`concat_ws`; no shuffle, no UDF — so
    the operator is embarrassingly parallel at any corpus size.
    """
    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be positive: {chunk_tokens}")
    if not 0 <= overlap_tokens < chunk_tokens:
        raise ValueError(
            f"overlap_tokens must be in [0, chunk_tokens): {overlap_tokens}"
        )
    stride = chunk_tokens - overlap_tokens
    base = docs.select(F.col(id_col).alias("doc_id"), _toks(text_col).alias("toks"))
    n = F.size("toks")
    n_chunks = F.when(n <= 0, F.lit(0)).otherwise(
        F.lit(1)
        + F.greatest(
            F.lit(0),
            F.ceil((n - F.lit(chunk_tokens)) / F.lit(stride)).cast("int"),
        )
    )
    e = (
        base.select("doc_id", "toks", n_chunks.alias("n_chunks"))
        .where(F.col("n_chunks") > 0)
        .select(
            "doc_id",
            "toks",
            "n_chunks",
            F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_idx"),
        )
    )
    ck = F.slice(F.col("toks"), F.col("chunk_idx") * stride + 1, chunk_tokens)
    return e.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("n_chunks").cast("int").alias("n_chunks"),
        F.size(ck).alias("chunk_tokens"),
        F.concat_ws(" ", ck).alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# exact mixture sampling
# ---------------------------------------------------------------------------


def mixture_targets(counts: dict[str, int], parts: dict[str, int]) -> dict[str, int]:
    """Per-source keep counts hitting ratio ``parts`` exactly, as large
    as possible without upsampling any source.

    Integer arithmetic end to end (cross-engine exact): with
    ``Σp = sum(parts)``, the largest feasible total is
    ``T = min_s floor(count_s · Σp / parts_s)`` and each source keeps
    ``floor(T · parts_s / Σp)`` rows.  Sources absent from ``parts``
    are dropped (target weight 0)."""
    sp = sum(parts.values())
    if sp <= 0 or any(p < 0 for p in parts.values()):
        raise ValueError(f"parts must be non-negative with a positive sum: {parts}")
    live = {s: p for s, p in parts.items() if p > 0}
    missing = [s for s in live if counts.get(s, 0) == 0]
    if missing:
        raise ValueError(f"mixture sources absent from the corpus: {missing}")
    t = min(counts[s] * sp // p for s, p in live.items())
    return {s: t * p // sp for s, p in live.items()}


def mixture_sample(
    docs: DataFrame,
    parts: dict[str, int],
    source_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Downsample to an EXACT per-source mixture (domain-mixing step).

    ``parts`` is an integer ratio over source values (e.g. ``{"web": 6,
    "code": 3, "books": 1}``); the result contains exactly
    :func:`mixture_targets` rows per source, chosen deterministically
    by md5-hash order (engine-portable, layout-independent — the same
    convention as :func:`~search_engine_spark.pipeline.sharding
    .source_quota`).  Fractional weights: scale to integers first.

    Per-source counts come from ONE tiny aggregate collected to the
    driver (a training mixture has tens of sources, never millions);
    selection is a per-source window rank — many concurrent partitions,
    skew bounded exactly like ``source_quota``.
    """
    from pyspark.sql.window import Window

    rows = (
        docs.filter(F.col(source_col).isin(*parts))
        .groupBy(source_col)
        .agg(F.count("*").alias("n"))
        .collect()
    )
    counts = {r[source_col]: r["n"] for r in rows}
    targets = mixture_targets(counts, parts)
    w = Window.partitionBy(source_col).orderBy(
        h60(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))), F.col(id_col)
    )
    cap = F.create_map(
        *[x for s, n in sorted(targets.items()) for x in (F.lit(s), F.lit(n))]
    )
    return (
        docs.filter(F.col(source_col).isin(*[s for s in targets]))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap[F.col(source_col)])
        .drop("_rn")
    )
