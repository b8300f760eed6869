"""Streaming corpus ingest with curation: quality gate + exact dedupe
against everything already accepted.

``foreachBatch`` applies the BATCH curation operators to each micro-batch
(shared plan, no streaming-only logic to drift), deduping the batch both
internally and against the accumulated corpus via
``operators/curation.py:incremental_dedupe`` — the streaming face of the
daily-ingest membership check. The corpus side of the anti-join only needs
(fingerprint) — 16 bytes/doc — so at 100 TB the state is a compact index,
not the corpus text; on a real cluster it would live in a Delta table with
the same anti-join shape.

State/exactly-once: the parquet sink is append-only and keyed by
fingerprint; re-processing a micro-batch after a failure re-runs the
anti-join against state that already contains its rows, so replays append
nothing — idempotent by construction (pinned by the re-stream test).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from salesanalytics_etl_spark.operators.curation import incremental_dedupe
from salesanalytics_etl_spark.operators.text import token_count


class CurationIngestSink:
    """Append-only curated-corpus sink fed by a document stream."""

    def __init__(
        self, spark: SparkSession, table_dir: str, min_tokens: int = 10
    ) -> None:
        self.spark = spark
        self.table_dir = table_dir
        self.min_tokens = min_tokens

    def current(self) -> DataFrame:
        """The curated corpus accepted so far (empty before first batch)."""
        if not os.path.exists(self.table_dir):
            return self.spark.createDataFrame(
                [], "doc_id long, lang string, text string, fingerprint string"
            )
        return self.spark.read.parquet(self.table_dir)

    def _process(self, batch: DataFrame, batch_id: int) -> None:
        # persist, not localCheckpoint: a sink must release a micro-batch's
        # blocks before the next batch, and checkpoint blocks live until
        # the driver GCs the RDD
        quality = batch.filter(
            token_count(F.col("text")) >= self.min_tokens
        ).select("doc_id", "lang", "text")
        # pass ONLY the stored fingerprint column as the corpus side:
        # incremental_dedupe then anti-joins against the 16-byte index
        # instead of re-reading + re-hashing all accepted text per batch
        index = self.current().select("fingerprint")
        kept = incremental_dedupe(index, quality)
        out = quality.join(
            kept.select("doc_id", "fingerprint"), "doc_id"
        ).persist()  # consumed twice: emptiness probe + write
        try:
            if out.take(1):
                out.write.mode("append").parquet(self.table_dir)
        finally:
            out.unpersist()

    def attach(self, stream: DataFrame, checkpoint: str):
        """Start the ingest; returns the StreamingQuery (caller awaits)."""
        return (
            stream.writeStream.foreachBatch(self._process)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
