"""Source/sink layer: CSV and JSONL ingest (coerce-don't-crash), the reject
sink and compaction."""

from __future__ import annotations

import datetime
import decimal
import glob
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from salesanalytics_etl_spark.sources.readers import load_driver_tables, read_jsonl
from salesanalytics_etl_spark.sources.writers import compact_parquet

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


def test_read_jsonl_with_malformed_line(spark, tmp_path):
    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world", "lang": "en"}\n'
        "this is not json at all\n"
        '{"doc_id": 2, "text": "hola", "lang": "es"}\n'
    )
    df = read_jsonl(spark, str(p), DOC_SCHEMA)
    rows = {r.doc_id: r.text for r in df.collect()}
    # malformed line → all-NULL row (coerce, don't crash), good rows survive
    assert rows[1] == "hello world" and rows[2] == "hola"
    assert df.count() == 3 and rows.get(None) is None


def test_read_jsonl_missing_file(spark, tmp_path):
    df = read_jsonl(spark, str(tmp_path / "absent.jsonl"), DOC_SCHEMA)
    assert df.count() == 0 and df.schema == DOC_SCHEMA


def test_compact_parquet(spark, sf_dir, tmp_path):
    events = load_driver_tables(spark, sf_dir, ["events"])["events"]
    src = str(tmp_path / "fragmented")
    events.repartition(32).write.parquet(src)
    assert len(glob.glob(f"{src}/part-*.parquet")) == 32

    dst = str(tmp_path / "compact")
    n = compact_parquet(spark, src, dst, n_files=4)
    assert len(glob.glob(f"{dst}/part-*.parquet")) == 4
    assert n == events.count()
    # content identical
    a = {tuple(r) for r in spark.read.parquet(dst).drop("props").collect()}
    b = {tuple(r) for r in events.drop("props").collect()}
    assert a == b


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """The reference's IX_Orders_OrderDate index becomes date-partitioned
    parquet: a date-equality query must read ONLY matching partition
    directories (partition pruning visible in the physical plan)."""
    from pyspark.sql import functions as F

    from salesanalytics_etl_spark.sources.writers import write_table

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    dated = orders.withColumn("order_dt", F.to_date("o_orderdate"))
    path = str(tmp_path / "orders_by_date")
    write_table(dated, path, partition_by=["order_dt"])

    some_day = dated.select("order_dt").first()[0]
    q = spark.read.parquet(path).filter(F.col("order_dt") == F.lit(some_day))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "order_dt" in plan
    # correctness of the pruned read
    expect = dated.filter(F.col("order_dt") == F.lit(some_day)).count()
    assert q.count() == expect


def test_orc_round_trip_preserves_rows_and_pushdown(spark, sf_dir, tmp_path):
    from salesanalytics_etl_spark.sources.readers import load_driver_tables
    from salesanalytics_etl_spark.sources.writers import write_table

    orders = load_driver_tables(spark, sf_dir, ["orders"])["orders"]
    path = str(tmp_path / "orders_orc")
    write_table(orders, path, fmt="orc")
    back = spark.read.orc(path)
    assert back.count() == orders.count()
    assert back.schema == orders.schema
    # predicate pushdown reaches the ORC scan
    plan = (
        back.filter("o_orderkey = 1")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,1)]" in plan


def test_schema_evolution_merge(spark, tmp_path):
    """Lakehouse schema evolution: adding a column to later files is
    readable with mergeSchema; old rows surface NULL for the new column
    (the coerce-don't-crash stance applied to layout drift)."""
    base = str(tmp_path / "tbl")
    spark.createDataFrame([(1, "a")], ["id", "v"]).write.parquet(base + "/p1")
    spark.createDataFrame(
        [(2, "b", 9.5)], ["id", "v", "score"]
    ).write.parquet(base + "/p2")
    merged = spark.read.option("mergeSchema", True).parquet(
        base + "/p1", base + "/p2"
    )
    rows = {r.id: (r.v, r.score) for r in merged.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}


def test_backfill_rewrites_only_touched_partitions(spark, tmp_path):
    from salesanalytics_etl_spark.sources.writers import (
        backfill_partitions,
        write_table,
    )

    path = str(tmp_path / "daily")
    base = spark.createDataFrame(
        [("2024-01-01", 1, 10.0), ("2024-01-02", 2, 20.0),
         ("2024-01-03", 3, 30.0)],
        ["day", "k", "v"],
    )
    write_table(base, path, partition_by=["day"])

    # backfill day 2 with corrected rows; days 1 and 3 must survive
    fix = spark.createDataFrame(
        [("2024-01-02", 2, 99.0), ("2024-01-02", 4, 44.0)],
        ["day", "k", "v"],
    )
    backfill_partitions(fix, path, partition_by=["day"])
    # partition values are type-inferred on read → day comes back DATE
    got = {
        (str(r.day), r.k): r.v for r in spark.read.parquet(path).collect()
    }
    assert got == {
        ("2024-01-01", 1): 10.0,
        ("2024-01-02", 2): 99.0,
        ("2024-01-02", 4): 44.0,
        ("2024-01-03", 3): 30.0,
    }


def test_read_csv_exact_conforms_by_name_not_position(spark, tmp_path):
    """A CSV with REORDERED columns (or a missing middle column) must map
    values by header name — a positional schema bind would silently load
    Email under FirstName etc."""
    from pyspark.sql import types as T

    from salesanalytics_etl_spark.sources.readers import read_csv_exact

    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("name", T.StringType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    p = str(tmp_path / "reordered.csv")
    with open(p, "w") as f:
        f.write("price,id\n9.5,1\n2.0,7\n")  # reordered AND 'name' missing
    out = read_csv_exact(spark, p, schema).collect()
    assert [(r.id, r.name, r.price) for r in out] == [
        (1, None, 9.5),
        (7, None, 2.0),
    ]


HEADER_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("na,me", T.StringType()),
        T.StructField("price", T.DoubleType()),
    ]
)

HEADER_FIXTURES = {
    "quoted_commas": '"id","na,me",price\n1,"a,b",9.5\n',
    "reordered": 'price,"na,me",id\n9.5,a,1\n2.0,b,7\n',
    "missing_middle": "id,price\n1,9.5\n",
    "duplicates": 'id,"na,me",ID,"NA,ME",price\n1,a,2,b,9.5\n',
    "empty_name": "id,,price\n1,a,9.5\n",
    "utf8_bom": '\ufeffid,"na,me",price\n1,a,9.5\n',
    "header_only": 'id,"na,me",price\n',
    "zero_byte": "",
}


@pytest.mark.parametrize("case", sorted(HEADER_FIXTURES))
def test_driver_header_read_matches_spark_header_read(spark, tmp_path, case):
    """The driver-side header parse names the columns exactly as Spark's
    own header read does, and the conformed frame equals the one built
    from a Spark-inferred header."""
    from salesanalytics_etl_spark.sources.readers import (
        conform_columns,
        csv_header,
        read_csv_exact,
    )

    p = str(tmp_path / f"{case}.csv")
    with open(p, "w", encoding="utf-8", newline="") as f:
        f.write(HEADER_FIXTURES[case])
    spark_read = spark.read.option("header", True).option("mode", "PERMISSIVE").csv(p)
    assert (csv_header(spark, p) or []) == spark_read.columns

    got = read_csv_exact(spark, p, HEADER_SCHEMA)
    want = conform_columns(spark_read, HEADER_SCHEMA)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_read_csv_exact_is_ansi_independent(spark, tmp_path):
    """Dirty values coerce to NULL whatever ``spark.sql.ansi.enabled``
    says: a plain cast raises CAST_INVALID_INPUT under ANSI."""
    from salesanalytics_etl_spark.sources.readers import read_csv_exact

    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("price", T.DecimalType(10, 2)),
            T.StructField("day", T.DateType()),
        ]
    )
    p = str(tmp_path / "dirty.csv")
    with open(p, "w") as f:
        f.write("id,price,day\n1,abc,2024-01-02\n1.5,2.50,not-a-date\nx,,\n")
    key = "spark.sql.ansi.enabled"
    prev = spark.conf.get(key)
    rows = {}
    try:
        for mode in ("true", "false"):
            spark.conf.set(key, mode)
            rows[mode] = read_csv_exact(spark, p, schema).collect()
    finally:
        spark.conf.set(key, prev)
    assert rows["true"] == rows["false"]
    assert [tuple(r) for r in rows["true"]] == [
        (1, None, datetime.date(2024, 1, 2)),
        (None, decimal.Decimal("2.50"), None),
        (None, None, None),
    ]


def test_write_rejects_empty_leaves_previous_output(spark, tmp_path):
    from salesanalytics_etl_spark.sources.writers import write_rejects

    prev = tmp_path / "rejects" / "orders"
    prev.mkdir(parents=True)
    (prev / "part-00000.csv").write_text("OrderID\n1\n")
    empty = spark.createDataFrame([], "OrderID INT")
    assert write_rejects(empty, str(tmp_path / "rejects"), "orders") == 0
    assert sorted(os.listdir(prev)) == ["part-00000.csv"]
    assert (prev / "part-00000.csv").read_text() == "OrderID\n1\n"
    assert os.listdir(tmp_path / "rejects") == ["orders"]


def test_write_rejects_counts_the_rows_it_writes(spark, tmp_path):
    from salesanalytics_etl_spark.sources.writers import write_rejects

    rejects = tmp_path / "rejects"
    (rejects / "orders").mkdir(parents=True)
    (rejects / "orders" / "stale.csv").write_text("OrderID\n99\n")
    bad = spark.range(0, 37, numPartitions=3).selectExpr("CAST(id AS INT) AS OrderID")
    n = write_rejects(bad, str(rejects), "orders")
    assert n == 37
    data_rows = 0
    for part in glob.glob(str(rejects / "orders" / "part-*.csv")):
        with open(part) as f:
            lines = f.read().splitlines()
        assert lines[0] == "OrderID"
        data_rows += len(lines) - 1
    assert data_rows == n
    assert os.listdir(rejects) == ["orders"]
