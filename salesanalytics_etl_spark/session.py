"""SparkSession factory with configs pinned for oracle parity and local bench.

Config rationale (SURVEY.md §4.2):
- ``spark.sql.ansi.enabled=false``   — the reference ETL uses coercing casts
  (``pd.to_numeric(errors="coerce")``, reference etl_sales_analytics.py:161-169):
  unparseable values become NULL, never errors. Spark's legacy (non-ANSI) cast
  has exactly those semantics.
- ``spark.sql.session.timeZone=UTC`` — deterministic date/timestamp derivation
  regardless of host TZ (queries repeatedly downcast timestamp→date,
  reference queries.sql:29,33).
- AQE, partition coalescing and skew-join splitting stay at Spark's
  defaults (all on in Spark 4): no ``spark.sql.adaptive.*`` key is set here.
  A partitioning pin lands only with counters from both perfbench workloads
  that differ from the default's.
- shuffle.partitions sized to the local core count; on a real cluster this is
  overridden by AQE's coalescing anyway.
- ``spark.sql.codegen.cache.maxEntries=4096`` — a session runs the same
  reports and audits again and again, and each generated class should be
  compiled once per session, not once per pass. Spark's default cache of
  100 classes is smaller than one text_audit pass (169–211 classes), so
  every pass evicted what the next one needed and recompiled it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "salesanalytics_etl_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine-pinned configs.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all local cores.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4

    # Single-JVM local mode holds every cached frame + shuffle buffer in the
    # driver heap; 8g caused GC thrash late in a 90-query sweep. But a fixed
    # 24g would push smaller hosts into swap/OOM-kill, so cap the default at
    # ~60% of currently-available RAM (env override always wins).
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if not heap:
        avail_gb = 24
        try:
            with open("/proc/meminfo") as f:
                for ln in f:
                    if ln.startswith("MemAvailable:"):
                        avail_gb = int(ln.split()[1]) * 6 // (10 * 1024 * 1024)
                        break
        except OSError:
            pass
        heap = f"{max(2, min(24, avail_gb))}g"

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        # Whole-stage codegen bails out above 100 schema fields
        # (spark.sql.codegen.maxFields default) and the operator falls
        # back to interpreted evaluation — the SimHash/MinHash vote and
        # signature stages carry 126-129 columns (63 bit-votes x 2
        # sides, 32 minhash lanes x 2 aliases) and ran interpreted.
        # Raising the cap to 200 re-enables codegen for exactly those
        # plans: measured 5.5x on the simhash family at sf0.1
        # (interleaved A/B, r16 opt round). Not a local-only tune —
        # the same stages run interpreted on any cluster at the
        # default; 200 keeps truly enormous projections on the
        # interpreted path.
        .config("spark.sql.codegen.maxFields", "200")
        # Generated classes are cached per JVM, at most 100 by default
        # (spark.sql.codegen.cache.maxEntries). One pass of the six
        # text_audit queries compiles 169-211 classes, so at the default
        # every pass recompiled 114-176 of them at 9-13 ms of Janino
        # time each, inside tasks. One sf0.001 sweep of all 207 queries
        # compiles 2 529 distinct classes with an unbounded cache and
        # 4 179 at the default, because queries share operator shapes
        # that the small cache evicts. 4096 holds the whole surface; a
        # cached class retains ~35 KB of heap (sweep measured at 5000
        # entries: heap after GC 212 -> 299 MB).
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow transport for Python UDTFs (operators/udtfs.py) — batch
        # serialization instead of pickled rows.
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        # Parquet TIMESTAMP(NANOS) (events.ts) is otherwise unreadable;
        # readers.py converts the long back to a micros timestamp.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", heap)
        # A 90+-query sweep generates thousands of whole-stage-codegen
        # classes; the JVM default 240m code cache fills mid-sweep, the JIT
        # shuts off ("CodeCache is full. Compiler has been disabled."), and
        # later queries run interpreted with erratic 5-30x spikes. The
        # codegen class cache above keeps a recurring plan's class, so a
        # repeat pass JITs no fresh copy of code it already compiled.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
