"""Structured Streaming extensions.

The reference has NO streaming operators (SURVEY.md §2.9) — its
"real-time search" is interactive HTTP latency.  These are the
Spark-native extensions a transcript pipeline needs:

* :class:`SegmentStreamIndexer` — append-only transcript ingestion via
  ``readStream`` + ``foreachBatch``, the streaming leg of the LSM triad:
  each micro-batch becomes its OWN conv_rank index segment (the same
  ``build_index`` a batch build runs, committed atomically by directory
  rename), idempotent per batch id (a replayed micro-batch whose id a
  live segment covers is skipped — exactly-once on top of
  at-least-once delivery).  The index is LIVE the moment the batch
  commits, queryable through ``MultiIndex`` with exact merged global
  stats, and folded by ``compact_segments`` when the segment count
  grows.  A micro-batch within ``reader.LOCAL_BUDGET_BYTES`` is built,
  and segments within it are folded, on the driver with the same
  kernels (``build.driver_rows``, ``extend._compact_local``): a batch
  Spark holds as a local relation commits with no Spark job, a
  file-backed one with two (the emptiness probe and the collect).
  Larger ones run the Spark plan.

* :func:`windowed_event_counts` — watermarked tumbling-window
  aggregation over an event stream (late data handled by the
  watermark), the Structured Streaming form of the batch
  ``events_hourly_agg`` contract query.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import BuildConfig

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


class SegmentStreamIndexer:
    """Streaming transcript ingestion → one queryable segment per batch.

    Micro-batches must carry disjoint (conv_id, turn_idx) documents
    across batches (the MultiIndex/compact contract; replayed batches
    are skipped by the commit marker, so at-least-once delivery is
    safe).  New turns of an already-segmented conversation are fine —
    segments hold disjoint documents, not disjoint conversations.

    ``max_segments`` wires compaction into the ingest loop: once the
    live segment count reaches it, every live segment folds into one
    ``seg=<lo>-<hi>`` root (BASELINE.md "Segmented-read amplification"
    measured the read tax flat to 4 segments and +42% at 8 — 4-8 is the
    right band).  Liveness is governed by an atomically swapped
    ``segments.json`` manifest (the Lucene segments_N pattern), so a
    crash anywhere leaves either the old set or the new set visible,
    never both; superseded directories are deleted best-effort after
    the manifest commits and are invisible regardless.  Folding all
    live segments per trigger is quadratic-ish write amplification in
    the long run — at 100 TB run a tiered schedule by calling
    :meth:`compact` from a maintenance job instead and leave
    ``max_segments=None``.
    """

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        config: BuildConfig | None = None,
        max_segments: int | None = None,
    ):
        self.spark = spark
        self.out_dir = out_dir
        self.config = config or BuildConfig()
        self.max_segments = max_segments
        self.segments_dir = os.path.join(out_dir, "segments")
        os.makedirs(self.segments_dir, exist_ok=True)
        self._manifest = os.path.join(out_dir, "segments.json")

    def _seg_dir(self, batch_id: int) -> str:
        return os.path.join(self.segments_dir, f"seg={batch_id}")

    @staticmethod
    def _bounds(name: str) -> tuple[int, int]:
        span = name.split("=", 1)[1]
        lo, _, hi = span.partition("-")
        return int(lo), int(hi or lo)

    def _live_names(self) -> list[str]:
        """Live segment dir names, oldest first — from the manifest when
        one exists, else derived from committed directories (legacy
        layouts / first run)."""
        import json
        import re

        if os.path.exists(self._manifest):
            with open(self._manifest) as f:
                names = json.load(f)["live"]
        else:
            names = [
                n
                for n in os.listdir(self.segments_dir)
                if re.fullmatch(r"seg=\d+(-\d+)?", n)
                and os.path.exists(os.path.join(self.segments_dir, n, "meta.json"))
            ]
        return sorted(names, key=self._bounds)

    def _write_manifest(self, names: list[str]) -> None:
        import json

        tmp = self._manifest + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"live": sorted(names, key=self._bounds)}, f)
        os.replace(tmp, self._manifest)  # atomic swap

    def _covered(self, batch_id: int) -> bool:
        return any(lo <= batch_id <= hi for lo, hi in map(self._bounds, self._live_names()))

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch sink: build the batch into its own segment, then
        auto-compact if the live count reached ``max_segments``.

        Idempotent: a batch whose id is covered by a live segment (its
        own ``seg=<id>`` or a folded ``seg=<lo>-<hi>`` range) is never
        rebuilt; a crashed attempt leaves only a ``.tmp`` directory that
        the retry replaces.  The rename commit is atomic on one
        filesystem."""
        import shutil as _sh

        from ..index.build import build_index

        if self._covered(batch_id):
            return  # replayed micro-batch (direct or folded)
        seg = self._seg_dir(batch_id)
        if batch_df.isEmpty():  # no job on a driver-held (local) batch
            return
        tmp = seg + ".tmp"
        _sh.rmtree(tmp, ignore_errors=True)
        _sh.rmtree(seg, ignore_errors=True)  # stale partial commit
        build_index(
            self.spark,
            batch_df.select("conv_id", "turn_idx", "text"),
            tmp,
            self.config,
        )
        os.rename(tmp, seg)
        if os.path.exists(self._manifest):
            self._write_manifest(self._live_names() + [f"seg={batch_id}"])
        else:
            # first manifest: derived names already include the new dir
            self._write_manifest(self._live_names())
        self._maybe_compact()

    def _maybe_compact(self) -> None:
        import shutil as _sh

        from ..index.extend import compact_segments

        if not self.max_segments:
            return
        names = self._live_names()
        if len(names) < self.max_segments:
            return
        lo = min(b[0] for b in map(self._bounds, names))
        hi = max(b[1] for b in map(self._bounds, names))
        out_name = f"seg={lo}-{hi}"
        tmp = os.path.join(self.segments_dir, out_name + ".tmp")
        _sh.rmtree(tmp, ignore_errors=True)
        compact_segments(
            self.spark,
            [os.path.join(self.segments_dir, n) for n in names],
            tmp,
            self.config,
        )
        final = os.path.join(self.segments_dir, out_name)
        _sh.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
        self._write_manifest([out_name])  # the visibility switch
        for n in names:  # superseded dirs: best-effort cleanup
            _sh.rmtree(os.path.join(self.segments_dir, n), ignore_errors=True)

    def start(
        self,
        input_dir: str,
        trigger_available_now: bool = True,
        max_files_per_trigger: int = 4,
    ):
        stream = (
            self.spark.readStream.schema(TRANSCRIPT_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_dir)
        )
        writer = stream.writeStream.foreachBatch(self.process_batch).option(
            "checkpointLocation", os.path.join(self.out_dir, "checkpoint")
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def segment_roots(self) -> list[str]:
        """Live committed segments, oldest batch first — manifest-
        governed, so in-flight ``.tmp`` builds, crashed leftovers, and
        directories superseded by a fold are invisible to readers."""
        out = []
        for name in self._live_names():
            d = os.path.join(self.segments_dir, name)
            if os.path.exists(os.path.join(d, "meta.json")):
                out.append(d)
        return out

    def open(self):
        """Live read handle over every committed segment."""
        from ..index.multi import MultiIndex

        return MultiIndex(self.spark, self.segment_roots())

    def compact(self, index_dir: str | None = None) -> str:
        """Fold all committed segments into one conv_rank root."""
        from ..index.extend import compact_segments

        index_dir = index_dir or os.path.join(self.out_dir, "index")
        compact_segments(self.spark, self.segment_roots(), index_dir, self.config)
        return index_dir


def windowed_event_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "10 minutes"
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type (streaming DF in,
    streaming DF out); late rows beyond the watermark are dropped."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )
