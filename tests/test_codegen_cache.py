"""A repeated workload compiles each generated class once per session.

Spark caches generated classes per JVM, at most
``spark.sql.codegen.cache.maxEntries``. One pass of the six text_audit
queries compiles about 200 classes, so with Spark's default of 100 every
pass evicted the classes the next pass needed and recompiled 176 of them.
``get_spark`` sizes the cache for the whole query surface; these tests
read Spark's compile counter around a repeated round and require that it
does not move.
"""

from __future__ import annotations

from salesanalytics_etl_spark.etl.pipeline import run_pipeline
from salesanalytics_etl_spark.plans import all_queries
from salesanalytics_etl_spark.telemetry import codegen_compiles
from tests.test_etl_pipeline import data_dir  # noqa: F401  (fixture)

# the text_audit workload: MinHash and its portable twin, SimHash,
# winnow, and the trained and portable IVF
TEXT_AUDIT = ("q25", "q109", "q26", "q202", "q34", "q112")


def _second_round_compiles(spark, run) -> int:
    run()
    before = codegen_compiles(spark)
    run()
    return codegen_compiles(spark) - before


def test_text_audit_round_compiles_once(spark, sf_dir):
    queries = {n.split("_", 1)[0]: fn for n, fn in all_queries().items()}

    def one_round():
        for q in TEXT_AUDIT:
            queries[q](spark, sf_dir).toPandas()

    second = _second_round_compiles(spark, one_round)
    assert second == 0, f"second round recompiled {second} classes"


def test_etl_load_compiles_once(spark, data_dir, tmp_path):  # noqa: F811
    loads = iter(range(2))

    def one_load():
        i = next(loads)
        run_pipeline(
            spark,
            data_dir,
            target_dir=str(tmp_path / f"warehouse{i}"),
            rejects_dir=str(tmp_path / f"rejects{i}"),
        )

    second = _second_round_compiles(spark, one_load)
    assert second == 0, f"second load recompiled {second} classes"
