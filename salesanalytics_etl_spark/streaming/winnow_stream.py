"""Streaming winnow near-duplicate detection: each arriving micro-batch
is fingerprinted and paired against the ACCUMULATED fingerprint index —
the streaming face of `operators/dedup.py:winnow_near_dupes`, built on
the q202 stages so batch and stream share one plan.

State is three append-only parquet dirs under ``state_dir``:

- ``fps``   — (doc_id, fp): the winnow fingerprint index. At 100 TB this
  is the ~2/(w+1)-of-grams sketch, not the corpus; on a cluster it would
  be a Delta table with the same join shapes.
- ``docs``  — (doc_id, text): retained for the exact 5-gram verify of
  later cross-batch candidates (a cluster deployment would store a text
  POINTER; the verify join shape is identical).
- ``pairs`` — (doc_a, doc_b, jaccard): the verified near-dup pairs
  emitted so far.

Semantics — **arrival-time caps**: the stopword rule (posting lists over
``max_bucket`` dropped wholesale) is evaluated against the index AS OF
each batch, so a pair found while its fingerprints were rare stays
emitted even if those fingerprints later turn boilerplate. On corpora
where no posting list ever crosses the cap this equals the batch
pipeline exactly (pinned by test); where lists do cross, streaming
keeps strictly earlier evidence — the monotone-emission contract every
streaming dedup has.

Exactly-once: every append is anti-joined against current state first
(pairs by (doc_a, doc_b); fps/docs by doc_id), so re-processing a
micro-batch after a crash — whichever of the three appends survived —
adds nothing. Idempotent by construction, pinned by the replay test.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from salesanalytics_etl_spark.operators.dedup import (
    MAX_BUCKET,
    WINNOW_SLACK_BP,
    jaccard_verify,
    shingle_rows,
    shingle_sets,
    winnow_fingerprints,
)


class WinnowNearDupSink:
    """Append-only near-dup pair sink fed by a (doc_id, text) stream."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        threshold: float = 0.5,
        max_bucket: int = MAX_BUCKET,
        min_shared: int = 2,
        slack_bp: int = WINNOW_SLACK_BP,
    ) -> None:
        self.spark = spark
        self.fp_dir = os.path.join(state_dir, "fps")
        self.doc_dir = os.path.join(state_dir, "docs")
        self.pair_dir = os.path.join(state_dir, "pairs")
        self.threshold = threshold
        self.max_bucket = max_bucket
        self.min_shared = min_shared
        self.t_bp = int(round(threshold * 10000))
        self.slack_bp = slack_bp

    def _read(self, path: str, schema: str) -> DataFrame:
        if not os.path.exists(path):
            return self.spark.createDataFrame([], schema)
        return self.spark.read.parquet(path)

    def current_index(self) -> DataFrame:
        return self._read(self.fp_dir, "doc_id long, fp long")

    def current_docs(self) -> DataFrame:
        return self._read(self.doc_dir, "doc_id long, text string")

    def current_pairs(self) -> DataFrame:
        return self._read(
            self.pair_dir, "doc_a long, doc_b long, jaccard double"
        )

    def _process(self, batch: DataFrame, batch_id: int) -> None:
        # persist, not localCheckpoint: a sink must release a micro-batch's
        # blocks before the next batch, and checkpoint blocks live until
        # the driver GCs the RDD
        batch = batch.select("doc_id", "text").persist()
        if not batch.take(1):
            batch.unpersist()
            return
        bfps = winnow_fingerprints(batch)
        all_fps = self.current_index().unionByName(bfps).persist()
        all_fps.count()
        keep_fp = (
            all_fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("dfc"))
            .filter(
                (F.col("dfc") >= 2) & (F.col("dfc") <= self.max_bucket)
            )
            .select("fp")
        )
        kept_all = all_fps.join(keep_fp, "fp", "left_semi")
        kept_batch = bfps.join(keep_fp, "fp", "left_semi")
        # every new pair has >= 1 member in THIS batch, so the join is
        # index-side x batch-side, never index x index: per-batch work is
        # proportional to the batch, the 100 TB-streaming invariant. A
        # batch-internal pair appears under both orientations — the
        # (least, greatest) normalization plus countDistinct dedups it.
        a = kept_all.select(F.col("doc_id").alias("ida"), "fp")
        b = kept_batch.select(F.col("doc_id").alias("idb"), "fp")
        cand = (
            a.join(b, "fp")
            .filter(F.col("ida") != F.col("idb"))
            .select(
                F.least("ida", "idb").alias("doc_a"),
                F.greatest("ida", "idb").alias("doc_b"),
                "fp",
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.countDistinct("fp").alias("n_shared"))
            .filter(F.col("n_shared") >= self.min_shared)
        )
        sizes = all_fps.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("sz")
        )
        est = (
            cand.join(
                sizes.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("sz").alias("sz_a"),
                ),
                "doc_a",
            )
            .join(
                sizes.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("sz").alias("sz_b"),
                ),
                "doc_b",
            )
            .withColumn(
                "un", F.col("sz_a") + F.col("sz_b") - F.col("n_shared")
            )
            .filter(
                F.expr("(n_shared * 20000 + un) div (2 * un)")
                >= F.lit(self.t_bp - self.slack_bp)
            )
            .select("doc_a", "doc_b")
        )
        docs_in_pairs = (
            est.select(F.col("doc_a").alias("doc_id"))
            .unionByName(est.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        texts = batch.unionByName(self.current_docs())
        sets = shingle_sets(
            shingle_rows(texts).join(docs_in_pairs, "doc_id", "left_semi")
        )
        verified = jaccard_verify(est, sets, self.threshold)
        new_pairs = verified.join(
            self.current_pairs().select("doc_a", "doc_b"),
            ["doc_a", "doc_b"],
            "left_anti",
        ).persist()
        try:
            if new_pairs.take(1):
                new_pairs.write.mode("append").parquet(self.pair_dir)
        finally:
            new_pairs.unpersist()
        # state appends LAST and each anti-joined by doc_id: a replayed
        # batch (crash between any two appends) re-adds nothing
        new_fps = bfps.join(
            self.current_index().select("doc_id").distinct(),
            "doc_id",
            "left_anti",
        )
        if new_fps.take(1):
            new_fps.write.mode("append").parquet(self.fp_dir)
        new_docs = batch.join(
            self.current_docs().select("doc_id"), "doc_id", "left_anti"
        )
        if new_docs.take(1):
            new_docs.write.mode("append").parquet(self.doc_dir)
        all_fps.unpersist()
        batch.unpersist()

    def attach(self, stream: DataFrame, checkpoint: str):
        """Start the detector; returns the StreamingQuery (caller awaits)."""
        return (
            stream.writeStream.foreachBatch(self._process)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
