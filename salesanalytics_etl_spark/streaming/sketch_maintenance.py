"""Streaming MinHash signature maintenance — the q172 source-similarity
monitor kept current under a document STREAM.

The insight is that no custom stateful operator is needed: a MinHash
signature component is ``min(hash ⊕ perm_i)`` over everything ever
seen, and min is a monotone, duplicate-insensitive fold — so Spark's
OWN streaming aggregation state store maintains the exact signature
incrementally. The streaming query is the IDENTICAL expression tree as
the batch sketch (``operators/dedup.py:source_minhash_signatures``
builds both), grouped by source, run in ``complete`` output mode:

- state size: |sources| × N_HASHES longs — bounded by the SOURCE
  domain, never by document volume (the watermarkless aggregation is
  safe for exactly this reason; a doc-grain streaming agg would not
  be);
- every micro-batch folds map-side (partial min) before touching the
  store — the same shuffle shape as the batch path;
- the maintained signatures are BIT-IDENTICAL to a batch run over all
  documents seen so far, by the algebra of min — no approximation on
  top of the sketch's own. ``tests/test_sketch_stream.py`` pins this:
  stream fed file-by-file == batch over the union, signatures and
  pairwise estimates both.

Readout: :func:`current_estimates` applies the shared pairwise
comparator (``signature_pair_estimates``) to the maintained table —
|sources|²-bounded, so a dashboard can poll it per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from salesanalytics_etl_spark.operators.dedup import (
    signature_pair_estimates,
    source_minhash_signatures,
)


def read_documents_stream(
    spark: SparkSession, docs_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over a documents parquet directory; the
    schema is taken from the existing files (file sources require an
    explicit schema). ``maxFilesPerTrigger`` slices the backlog into
    micro-batches so tests exercise real multi-batch folding."""
    schema = spark.read.parquet(docs_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(docs_dir)
    )


def maintain_source_signatures(stream: DataFrame) -> DataFrame:
    """The streaming signature aggregation — the batch builder applied
    to a streaming frame (``spread_partitions`` returns a stream
    unchanged, so the shingle explode runs on each micro-batch as is)."""
    return source_minhash_signatures(stream)


def run_signature_maintenance_to_memory(
    spark: SparkSession,
    docs_dir: str,
    table: str,
    max_files_per_trigger: int = 1,
    checkpoint: str | None = None,
):
    """Drain the backlog (availableNow) into an in-memory table holding
    the CURRENT signatures (complete mode re-emits the |sources|-row
    state each batch — bounded, so complete is cheap here).

    ``checkpoint`` makes the maintenance RESTARTABLE: a re-run with the
    same location restores the signature state from the state store and
    reads only files the source has not yet committed — the restart
    semantics ``tests/test_sketch_stream.py`` pins (without it, Spark
    mints a temp checkpoint and every run refolds the whole backlog).

    Restart caveat (r15 review): a complete-mode memory sink emits only
    when a micro-batch RUNS, and availableNow with all offsets already
    committed runs none — so a restart with ZERO new files leaves the
    freshly registered table EMPTY even though the state store holds
    the full fold. Read the maintained table through
    :func:`current_signatures` (memory table if populated, else the
    batch fold over the source dir — bit-identical by the min algebra),
    never via ``spark.table`` directly after a restart."""
    stream = read_documents_stream(spark, docs_dir, max_files_per_trigger)
    writer = (
        maintain_source_signatures(stream)
        .writeStream.format("memory")
        .queryName(table)
        .outputMode("complete")
        .trigger(availableNow=True)
    )
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def current_signatures(
    spark: SparkSession, table: str, docs_dir: str | None = None
) -> DataFrame:
    """The CURRENT maintained signatures, robust to the zero-new-files
    restart window (r15 review): the memory sink table when it has
    emitted, else — with ``docs_dir`` — the batch fold over everything
    the source has committed. The two are bit-identical whenever both
    exist (min is a monotone, duplicate-insensitive fold; the stream
    equality test pins it), so the fallback is a correctness no-op and
    monitoring never reads "no sources" from a freshly restarted
    maintenance job. An UNREGISTERED table is treated like an empty
    one (r15 ADVICE): in a fresh monitor process the memory sink may
    not exist at all yet, and ``spark.table`` would raise instead of
    falling back."""
    if docs_dir is not None and not spark.catalog.tableExists(table):
        return source_minhash_signatures(spark.read.parquet(docs_dir))
    sigs = spark.table(table)
    if docs_dir is not None and not sigs.take(1):
        return source_minhash_signatures(spark.read.parquet(docs_dir))
    return sigs


def current_estimates(
    spark: SparkSession, table: str, docs_dir: str | None = None
) -> DataFrame:
    """Pairwise estimated Jaccard from the maintained signature table —
    the q172 readout against live state. Pass ``docs_dir`` to survive
    the zero-new-files restart window (see :func:`current_signatures`)."""
    return signature_pair_estimates(
        current_signatures(spark, table, docs_dir)
    ).orderBy("source_a", "source_b")
