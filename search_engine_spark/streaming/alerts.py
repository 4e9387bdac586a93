"""Saved-search alerting over a transcript stream.

``PercolateAlerter`` wires the percolate operator
(operators/percolate.py) into Structured Streaming: every micro-batch
of newly arrived turns is matched against the registered queries in one
Arrow pass and the alert rows are committed per batch — the streaming
complement of the LSM ingest path (a turn can be both indexed for later
forward search AND percolated for immediate alerting from the same
stream, since both sinks are independent ``foreachBatch`` consumers).

Commit protocol follows ``SegmentStreamIndexer`` (ingest.py), whose
commit marker for a batch is the live segment that covers its id: here
each batch writes ``alerts/batch=<id>`` with overwrite semantics and
drops a ``_SUCCESS`` marker, so a replayed micro-batch (Structured
Streaming's at-least-once ``foreachBatch`` contract) is detected and
skipped — alerts are emitted exactly once per batch id.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..operators.percolate import (
    MATCH_SCHEMA,
    SCORED_SCHEMA,
    SavedQuery,
    ScoringStats,
    percolate,
)
from .ingest import TRANSCRIPT_SCHEMA


class PercolateAlerter:
    """foreachBatch sink: percolate each micro-batch, append matches."""

    def __init__(
        self,
        spark: SparkSession,
        saved: list[SavedQuery],
        out_dir: str,
        stats: ScoringStats | None = None,
    ):
        self.spark = spark
        self.saved = saved
        self.stats = stats
        self.out_dir = out_dir
        self.alerts_dir = os.path.join(out_dir, "alerts")
        os.makedirs(self.alerts_dir, exist_ok=True)

    def _batch_dir(self, batch_id: int) -> str:
        return os.path.join(self.alerts_dir, f"batch={batch_id}")

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        bdir = self._batch_dir(batch_id)
        if os.path.exists(os.path.join(bdir, "_SUCCESS")):
            return  # replayed micro-batch — already committed
        percolate(batch_df, self.saved, self.stats).write.mode(
            "overwrite"
        ).parquet(bdir)
        # Spark's own _SUCCESS marker doubles as the commit record; make
        # it explicit in case the committer is configured markerless.
        open(os.path.join(bdir, "_SUCCESS"), "a").close()

    def start(self, input_dir: str, trigger_available_now: bool = True):
        stream = (
            self.spark.readStream.schema(TRANSCRIPT_SCHEMA)
            .option("maxFilesPerTrigger", 4)
            .parquet(input_dir)
        )
        writer = stream.writeStream.foreachBatch(self.process_batch).option(
            "checkpointLocation", os.path.join(self.out_dir, "checkpoint")
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def alerts(self) -> DataFrame:
        """All committed alert rows across batches."""
        batches = [
            os.path.join(self.alerts_dir, d)
            for d in sorted(os.listdir(self.alerts_dir))
            if d.startswith("batch=")
            and os.path.exists(os.path.join(self.alerts_dir, d, "_SUCCESS"))
        ]
        if not batches:
            schema = SCORED_SCHEMA if self.stats is not None else MATCH_SCHEMA
            return self.spark.createDataFrame([], schema)
        return self.spark.read.parquet(*batches)
