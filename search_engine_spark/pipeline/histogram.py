"""Date histogram — when did the matching turns happen.

The Elasticsearch ``date_histogram`` aggregation over the transcripts
engine: bucket the query's match set by a calendar interval of the
``ts`` column and count turns per bucket.  The reference has no analog;
it is the first chart every transcript-search UI draws ("when did
'timeout' spike?").

Plan shape: the match set is query-bounded (``index.matches``), joined
to a (conv_id, turn_idx, ts)-pruned transcripts scan (text is never
read), ``date_trunc`` + one partial-aggregated groupBy — all JVM
expressions, no UDF — and an interval-bounded result (one row per
non-empty bucket, ascending).  At 100 TB the cost is the match-set join
plus a count shuffle of at most |buckets| groups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

#: Calendar intervals date_trunc understands, narrowed to the useful set.
INTERVALS = ("minute", "hour", "day", "week", "month", "year")


def date_histogram(
    index,
    transcripts: DataFrame,
    query_text: str,
    mode: str = "disjunctive",
    interval: str = "hour",
    tombstones: list | None = None,
    scope: DataFrame | None = None,
    analyzed: bool = False,
    spec=None,
) -> DataFrame:
    """Per-interval match counts → DataFrame(bucket timestamp, n long),
    ascending by bucket; empty buckets are omitted (the ES
    ``min_doc_count: 1`` shape).  Oracle: ``oracle.oracle_date_histogram``."""
    if interval not in INTERVALS:
        raise ValueError(f"interval must be one of {INTERVALS}, got {interval!r}")
    matched = index.matches(
        query_text, mode, tombstones=tombstones, scope=scope, analyzed=analyzed, spec=spec
    )
    return (
        transcripts.select("conv_id", "turn_idx", "ts")
        .join(matched, ["conv_id", "turn_idx"], "leftsemi")
        .groupBy(F.date_trunc(interval, F.col("ts")).alias("bucket"))
        .agg(F.count("*").alias("n"))
        .orderBy("bucket")
    )


def date_histogram_pipeline(
    index,
    transcripts: DataFrame,
    query_text: str,
    mode: str = "disjunctive",
    interval: str = "hour",
    window: int = 3,
    min_doc_count: int = 1,
    tombstones: list | None = None,
    scope: DataFrame | None = None,
    analyzed: bool = False,
    spec=None,
) -> DataFrame:
    """ES PIPELINE aggregations over the date histogram →
    DataFrame(bucket, n, cumulative_sum, derivative, moving_avg·5dp),
    ascending by bucket:

    * ``cumulative_sum`` — running total of ``n`` (ES ``cumulative_sum``);
    * ``derivative``     — ``n - lag(n)``, NULL for the first bucket (the
      ES ``derivative`` contract: no value where there is no prior
      bucket);
    * ``moving_avg``     — unweighted mean of the trailing ``window``
      buckets INCLUDING the current one (ES ``moving_fn`` +
      ``MovingFunctions.unweightedAvg`` with ``shift: 1``; leading
      partial windows average the buckets they have).

    ``min_doc_count=0`` gap-fills the calendar grid between the first
    and last non-empty bucket (``sequence(min, max, interval 1 u)`` —
    one JVM explode, no UDF) so the derivative measures true
    rate-of-change; the default 1 keeps only non-empty buckets (the
    base histogram's shape) and is documented as ES ``gap_policy:
    skip`` — adjacent-bucket differences regardless of calendar gaps.
    Turns with a NULL ``ts`` are excluded here (ES ignores documents
    missing the field): a running sum over an unplaceable bucket is
    meaningless, unlike the base histogram where the NULL bucket is a
    useful data-quality count.

    Scale shape: everything up to the histogram is the distributed
    match-set aggregation, and it runs EXACTLY ONCE — the bucket rows
    are materialized by a local checkpoint (|buckets| is bounded by
    time-span / interval, a chart-sized number, not a data volume) so
    the grid join and the window pass read the checkpointed rows —
    no driver round-trip — instead of re-executing
    the match-kernel lineage per branch (the naive lazy composition
    recomputes the full match scan for the min/max branch AND the join
    branch — visible in .explain as two FlatMapGroupsInPandas
    subtrees).  The single-partition ordered window is O(buckets),
    never O(matches)."""
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    if min_doc_count not in (0, 1):
        raise ValueError(f"min_doc_count must be 0 or 1, got {min_doc_count}")
    base = date_histogram(
        index, transcripts, query_text, mode, interval,
        tombstones=tombstones, scope=scope, analyzed=analyzed, spec=spec,
    ).filter(F.col("bucket").isNotNull())
    hist = base.localCheckpoint()
    if min_doc_count == 0:
        grid = (
            hist.agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
            .select(
                F.explode(
                    F.sequence("lo", "hi", F.expr(f"interval 1 {interval}"))
                ).alias("bucket")
            )
        )
        hist = grid.join(hist, "bucket", "left").select(
            "bucket", F.coalesce("n", F.lit(0)).alias("n")
        )
    w = Window.orderBy("bucket")
    from ..functions import rnd

    return (
        hist.select(
            "bucket",
            "n",
            F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("cumulative_sum"),
            (F.col("n") - F.lag("n").over(w)).alias("derivative"),
            rnd(
                F.avg("n").over(w.rowsBetween(-(window - 1), 0)), 5
            ).alias("moving_avg"),
        )
        .orderBy("bucket")
    )


def date_histogram_buckets(
    index,
    transcripts: DataFrame,
    query_text: str,
    mode: str = "disjunctive",
    interval: str = "hour",
    lag: int = 1,
    min_n: int | None = None,
    sort: str = "bucket",
    descending: bool = False,
    limit: int | None = None,
    min_doc_count: int = 1,
    script: str | None = None,
    tombstones: list | None = None,
    scope: DataFrame | None = None,
    analyzed: bool = False,
    spec=None,
) -> DataFrame:
    """The remaining ES bucket-pipeline aggregations over the date
    histogram → DataFrame(bucket, n, serial_diff[, script_value]):

    * ``serial_diff`` — ``n - lag(n, lag)`` over ascending buckets, the
      ES ``serial_diff`` aggregation (lag-N differencing for
      seasonality removal); NULL for the first ``lag`` buckets (no
      prior bucket to difference against).
    * ``bucket_selector`` — ``min_n`` keeps only buckets with
      ``n >= min_n`` (the ES script-predicate shape, specialized to the
      one predicate transcript dashboards use).
    * ``bucket_sort`` — ``sort`` ∈ (bucket, n, serial_diff) +
      ``descending`` + ``limit`` reorder/truncate the surviving buckets
      (ties, and NULL serial_diff rows, break by bucket ascending —
      deterministic, unlike raw ES).

    * ``script`` — the ES ``bucket_script`` aggregation: a scalar SQL
      arithmetic expression over the bucket columns (``n``,
      ``serial_diff``), evaluated per bucket into a ``script_value``
      column.  The supported surface is the dialect-portable subset the
      contract oracle re-evaluates independently in DuckDB: arithmetic
      (+ - * /), comparison, ``coalesce``/``greatest``/``least``/
      ``abs``/``round``/``log``/``sqrt``, numeric literals.  A parse
      error fails loud at plan time (``F.expr``).

    Pipeline order is the ES dependency order: serial_diff is computed
    over the FULL ascending bucket sequence first, THEN the script
    (which may reference serial_diff), THEN the selector filters, THEN
    the sort/limit — a selector can never change a difference or a
    script value, only hide its row; ``sort='script_value'`` ranks by
    the scripted metric (the ES bucket_sort-on-bucket_script idiom).

    Scale shape: identical to ``date_histogram_pipeline`` — the
    distributed match-set aggregation runs exactly once, the bucket
    rows are materialized (chart-sized), and every pipeline stage is
    O(buckets).  ``min_doc_count=0`` gap-fills the calendar grid so
    the differencing measures true rate-of-change.
    Oracle: ``oracle.oracle_date_histogram_buckets``."""
    if lag < 1:
        raise ValueError(f"lag must be >= 1, got {lag}")
    sorts = ("bucket", "n", "serial_diff") + (
        ("script_value",) if script is not None else ()
    )
    if sort not in sorts:
        raise ValueError(f"sort must be one of {sorts}, got {sort!r}")
    if limit is not None and limit <= 0:
        raise ValueError(f"limit must be positive, got {limit}")
    if min_doc_count not in (0, 1):
        raise ValueError(f"min_doc_count must be 0 or 1, got {min_doc_count}")
    base = date_histogram(
        index, transcripts, query_text, mode, interval,
        tombstones=tombstones, scope=scope, analyzed=analyzed, spec=spec,
    ).filter(F.col("bucket").isNotNull())
    hist = base.localCheckpoint()
    if min_doc_count == 0:
        grid = (
            hist.agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
            .select(
                F.explode(
                    F.sequence("lo", "hi", F.expr(f"interval 1 {interval}"))
                ).alias("bucket")
            )
        )
        hist = grid.join(hist, "bucket", "left").select(
            "bucket", F.coalesce("n", F.lit(0)).alias("n")
        )
    w = Window.orderBy("bucket")
    out = hist.select(
        "bucket",
        "n",
        (F.col("n") - F.lag("n", lag).over(w)).alias("serial_diff"),
    )
    if script is not None:
        # bucket_script: scalar expression over the bucket columns —
        # F.expr parse errors fail loud HERE, at plan time
        out = out.withColumn("script_value", F.expr(script).cast("double"))
    if min_n is not None:
        out = out.filter(F.col("n") >= int(min_n))
    key = F.col(sort)
    order = [key.desc_nulls_last() if descending else key.asc_nulls_last(),
             F.asc("bucket")]
    out = out.orderBy(*order)
    return out.limit(int(limit)) if limit is not None else out
