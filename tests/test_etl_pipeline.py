"""End-to-end ETL test (SURVEY.md §5.2): fixture CSVs exercising every
FIXTURES.md edge case, full-pipeline assertions, double-run idempotency."""

from __future__ import annotations

import os

import pytest

from salesanalytics_etl_spark.etl.pipeline import run_pipeline

CUSTOMERS = """CustomerID,FirstName,LastName,Email,Phone,City,Country
1,Ada,Lovelace,ada@x.io,555-1,London,UK
2,  Alan ,Turing,alan@x.io,555-2,  Bletchley ,UK
,Nobody,Null,n@x.io,555-3,Void,XX
3,Grace,Hopper,grace@x.io,555-4,NYC,US
"""

# missing Stock column entirely → filled with NULLs (edge 8)
PRODUCTS = """ProductID,ProductName,Category,Price
7,Widget,Tools,9.99
8,Gadget,Tools,abc
9,Sprocket,Parts,19.50
"""

ORDERS = """OrderID,CustomerID,OrderDate,Status
100,1,2024-01-02,Shipped
101,2,not-a-date,Pending
102,99,2024-01-03,Shipped
103,3,2024-01-04,
,1,2024-01-05,Pending
"""

# dup key (100,7) keep-last; (102,7) cascades off rejected order 102;
# (100,77) bad product; (103,9) fine
ORDER_DETAILS = """OrderID,ProductID,Quantity,TotalPrice
100,7,1,421.83
100,7,6,2530.98
102,7,2,10.00
100,77,1,5.00
103,9,0,0.00
"""


@pytest.fixture(scope="module")
def data_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("etl_data")
    for name, content in [
        ("customers", CUSTOMERS),
        ("products", PRODUCTS),
        ("orders", ORDERS),
        ("order_details", ORDER_DETAILS),
    ]:
        (d / f"{name}.csv").write_text(content)
    return str(d)


def test_full_pipeline(spark, data_dir, tmp_path):
    res = run_pipeline(spark, data_dir, rejects_dir=str(tmp_path / "rejects"))

    # null-PK customer dropped silently (edge 5); trim applied (edge 7)
    assert res.counts["customers"] == 3
    cust = {r.CustomerID: r for r in res.tables["customers"].collect()}
    assert cust[2].FirstName == "Alan" and cust[2].City == "Bletchley"

    # missing Stock column → NULL (edge 8); bad Price "abc" → NULL (edge 6)
    prods = {r.ProductID: r for r in res.tables["products"].collect()}
    assert all(p.Stock is None for p in prods.values())
    assert prods[8].Price is None

    # order 102 rejected (unknown customer, edge 2); null-PK dropped;
    # bad date coerced to NULL but row kept (edge 6); NULL status kept
    assert res.counts["orders"] == 3
    assert res.reject_counts["orders"] == 1
    ords = {r.OrderID: r for r in res.tables["orders"].collect()}
    assert set(ords) == {100, 101, 103}
    assert ords[101].OrderDate is None

    # details: dup key keep-last picked qty=6 (edge 1); cascade reject of
    # (102,7) (edge 3); bad product reject (edge 4)
    assert res.counts["order_details"] == 2
    dets = {(r.OrderID, r.ProductID): r for r in res.tables["order_details"].collect()}
    assert set(dets) == {(100, 7), (103, 9)}
    assert dets[(100, 7)].Quantity == 6
    assert res.reject_counts["order_details"] == 2

    # reject files actually written (audit trail, reference :189-206)
    assert os.path.exists(str(tmp_path / "rejects" / "orders"))

    # edge 12: re-run on same input upserting into previous state → identical
    res2 = run_pipeline(
        spark,
        data_dir,
        rejects_dir=str(tmp_path / "rejects2"),
        existing=res.tables,
    )
    assert res2.counts == res.counts
    dets2 = {
        (r.OrderID, r.ProductID): r.Quantity
        for r in res2.tables["order_details"].collect()
    }
    assert dets2 == {(100, 7): 6, (103, 9): 0}


def test_missing_file_yields_empty_table(spark, tmp_path):
    # edge 8b: missing CSV → empty frame with declared schema, pipeline runs
    res = run_pipeline(spark, str(tmp_path), rejects_dir=str(tmp_path / "rej"))
    assert res.counts == {
        "customers": 0,
        "products": 0,
        "orders": 0,
        "order_details": 0,
    }


def test_empty_parent_skips_fk_validation(spark, tmp_path):
    """Reference guard (etl_sales_analytics.py:196-199): a missing/empty
    parent table bypasses FK validation — children pass through with zero
    rejects, instead of the anti-join rejecting every child row and
    cascading to an empty warehouse."""
    d = tmp_path / "no_customers"
    d.mkdir()
    (d / "products.csv").write_text(PRODUCTS)
    (d / "orders.csv").write_text(ORDERS)
    (d / "order_details.csv").write_text(ORDER_DETAILS)
    # no customers.csv at all -> empty parent frame

    res = run_pipeline(spark, str(d), rejects_dir=str(tmp_path / "rej"))
    assert res.counts["customers"] == 0
    # all 4 valid orders kept (null-key row still dropped by F1)
    assert res.counts["orders"] == 4
    assert res.reject_counts["orders"] == 0
    # details still validate against orders/products (non-empty parents):
    # (100,7) dedupe->1, (102,7) ok now (order 102 no longer rejected),
    # (100,77) bad product, (103,9) ok
    assert res.reject_counts["order_details"] == 1


def test_incremental_run_over_same_target_dir(spark, data_dir, tmp_path):
    """run2 feeding run1's target_dir-backed tables back in must not hit
    'Cannot overwrite a path that is also being read from' — the write is
    stage-and-swap."""
    t = str(tmp_path / "warehouse")
    r1 = run_pipeline(
        spark, data_dir, rejects_dir=str(tmp_path / "rej1"), target_dir=t
    )
    r2 = run_pipeline(
        spark,
        data_dir,
        rejects_dir=str(tmp_path / "rej2"),
        target_dir=t,
        existing=r1.tables,
    )
    assert r2.counts == r1.counts  # idempotent over the same input
    assert not any(d.endswith("__swap_staging__") for d in os.listdir(t))


def test_details_rejected_when_all_orders_fail_fk(spark, tmp_path):
    """A batch whose orders ALL fail their customer FK must reject the
    details referencing them — the empty-parent skip applies to an empty
    parent FILE, not to a post-filter-empty parent."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    with open(os.path.join(src, "customers.csv"), "w") as f:
        f.write("CustomerID,FirstName,LastName,Email,Phone,City,Country\n")
        f.write("10,A,B,a@b.c,1,y,z\n")
    with open(os.path.join(src, "products.csv"), "w") as f:
        f.write("ProductID,ProductName,Category,Price\n7,P,C,1.0\n")
    with open(os.path.join(src, "orders.csv"), "w") as f:
        f.write("OrderID,CustomerID,OrderDate,Status\n")
        f.write("1,999,2024-01-01,done\n")  # unknown customer -> rejected
    with open(os.path.join(src, "order_details.csv"), "w") as f:
        f.write("OrderID,ProductID,Quantity,TotalPrice\n")
        f.write("1,7,2,1.0\n")  # references the rejected order

    r = run_pipeline(spark, src, rejects_dir=str(tmp_path / "rej"))
    assert r.counts["orders"] == 0
    assert r.counts["order_details"] == 0  # orphan detail must NOT pass
    assert r.reject_counts["order_details"] == 1


def test_orders_keep_declared_column_order(spark, data_dir, tmp_path):
    """A first load and an incremental batch into one target both write
    ``orders`` in its declared column order, and so does the orders
    rejects CSV header. The FK split's join must not float its key
    (CustomerID) to the front."""
    import glob

    from salesanalytics_etl_spark.schemas import REFERENCE_SCHEMAS

    want = REFERENCE_SCHEMAS["orders"].fieldNames()
    t = str(tmp_path / "warehouse")
    existing = None
    for run in ("load", "batch"):
        rejects = tmp_path / f"rej-{run}"
        r = run_pipeline(
            spark,
            data_dir,
            rejects_dir=str(rejects),
            target_dir=t,
            existing=existing,
        )
        assert r.reject_counts["orders"] > 0
        assert spark.read.parquet(os.path.join(t, "orders")).columns == want
        parts = glob.glob(str(rejects / "orders" / "part-*.csv"))
        assert parts
        for part in parts:
            with open(part) as f:
                assert f.readline().rstrip("\n") == ",".join(want)
        existing = r.tables


def test_recover_interrupted_swap_rolls_back_old(spark, data_dir, tmp_path):
    """Crash window between rename(dst, old) and rename(stage, dst):
    the table path is missing and the snapshot is stranded in .__swap_old__ —
    recovery must roll it back (no staged copy to prefer)."""
    import shutil

    from salesanalytics_etl_spark.etl.pipeline import (
        recover_interrupted_swap,
        run_pipeline,
    )

    t = str(tmp_path / "warehouse")
    r1 = run_pipeline(
        spark, data_dir, rejects_dir=str(tmp_path / "rej"), target_dir=t
    )
    dst = os.path.join(t, "customers")
    os.rename(dst, dst + ".__swap_old__")  # simulate the crash
    assert recover_interrupted_swap(t) == ["customers"]
    assert spark.read.parquet(dst).count() == r1.counts["customers"]
    # idempotent: nothing left to restore
    assert recover_interrupted_swap(t) == []

    # crash window with a COMPLETE staged copy: recovery must prefer it
    # (it is the newer state) over the .__swap_old__ snapshot
    stage = dst + ".__swap_staging__"
    shutil.copytree(dst, stage)
    os.rename(dst, dst + ".__swap_old__")
    assert recover_interrupted_swap(t) == ["customers"]
    assert os.path.exists(dst) and not os.path.exists(stage)
    assert spark.read.parquet(dst).count() == r1.counts["customers"]

    # a restarted incremental run over the recovered warehouse works
    # end-to-end (run_pipeline also recovers internally before writing)
    r2 = run_pipeline(
        spark,
        data_dir,
        rejects_dir=str(tmp_path / "rej2"),
        target_dir=t,
        existing={
            name: spark.read.parquet(os.path.join(t, name))
            for name in r1.tables
        },
    )
    assert r2.counts == r1.counts


def test_recover_interrupted_swap_ignores_partial_first_write(tmp_path):
    """A first-ever write that crashed mid-stage (no dst, no .__swap_old__,
    stage without _SUCCESS) has nothing to restore — recovery must not
    promote the incomplete directory."""
    from salesanalytics_etl_spark.etl.pipeline import recover_interrupted_swap

    t = tmp_path / "warehouse"
    stage = t / "orders.__swap_staging__"
    stage.mkdir(parents=True)
    (stage / "part-00000.parquet").write_bytes(b"partial")
    assert recover_interrupted_swap(str(t)) == []
    assert not (t / "orders").exists()


def test_load_and_incremental_batch_job_count(spark, data_dir, tmp_path):
    """Each input is parsed and deduped once per run: the cleaned tables
    and ``orders_ok`` are checkpointed with their counts observed, reject
    and final counts are observed on their writes, and CSV headers are
    read on the driver, and the swapped tables are re-read with the
    schemas they were written with instead of inferring them in a job
    each. A load plus one incremental batch on the fixtures runs 58 Spark
    jobs; inferring the re-read schemas took 66, and re-deriving the
    inputs for every action took 136."""
    sc = spark.sparkContext
    group = f"etl-job-count-{tmp_path.name}"
    t = str(tmp_path / "warehouse")
    sc.setJobGroup(group, "run_pipeline load + batch")
    try:
        r1 = run_pipeline(
            spark, data_dir, rejects_dir=str(tmp_path / "rej1"), target_dir=t
        )
        r2 = run_pipeline(
            spark,
            data_dir,
            rejects_dir=str(tmp_path / "rej2"),
            target_dir=t,
            existing=r1.tables,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert r2.counts == r1.counts
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= 58, jobs


def test_failed_write_swaps_no_table(spark, data_dir, tmp_path, monkeypatch):
    """A batch whose staged write fails for one table swaps no table:
    all four keep the previous run's rows, no ``.__swap_staging__`` directory is
    promoted, and a re-run over the same target succeeds. Swapping each
    table right after its own write left the tables written before the
    failure swapped and the rest stale."""
    from pyspark.sql.readwriter import DataFrameWriter

    t = str(tmp_path / "warehouse")
    r1 = run_pipeline(
        spark, data_dir, rejects_dir=str(tmp_path / "rej1"), target_dir=t
    )
    tables = list(r1.tables)

    def rows():  # by column name: a merge may reorder a table's columns
        return {
            name: {
                tuple(sorted(r.asDict().items()))
                for r in spark.read.parquet(os.path.join(t, name)).collect()
            }
            for name in tables
        }

    before = rows()

    # a batch that changes every table: new customer, product, order, line
    batch = tmp_path / "batch"
    batch.mkdir()
    for name, content, extra in [
        ("customers", CUSTOMERS, "4,Edsger,Dijkstra,e@x.io,555-5,Austin,US\n"),
        ("products", PRODUCTS, "10,Gizmo,Parts,4.25\n"),
        ("orders", ORDERS, "104,4,2024-01-06,Pending\n"),
        ("order_details", ORDER_DETAILS, "104,10,3,12.75\n"),
    ]:
        (batch / f"{name}.csv").write_text(content + extra)

    real_parquet = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        if os.path.basename(path) == "orders.__swap_staging__":
            raise OSError("injected write failure")
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    with pytest.raises(OSError, match="injected write failure"):
        run_pipeline(
            spark,
            str(batch),
            rejects_dir=str(tmp_path / "rej2"),
            target_dir=t,
            existing=r1.tables,
        )
    monkeypatch.undo()

    assert sorted(os.listdir(t)) == sorted(tables)  # no stage, no .__swap_old__
    assert rows() == before

    r2 = run_pipeline(
        spark,
        data_dir,
        rejects_dir=str(tmp_path / "rej3"),
        target_dir=t,
        existing=r1.tables,
    )
    assert r2.counts == r1.counts
    assert rows() == before


def test_pipeline_jobs_stay_in_caller_job_group(spark, data_dir, tmp_path):
    """Every job of a load plus one batch runs in the caller's job group,
    also the jobs ``run_pipeline`` launches from worker threads. Job groups
    are thread-local: a worker that lost the group would run jobs with no
    group, and the count ``test_load_and_incremental_batch_job_count``
    bounds would drop without any job saved."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    group = f"etl-job-group-{tmp_path.name}"
    t = str(tmp_path / "warehouse")
    sc.setJobGroup(group, "run_pipeline load + batch")
    try:
        r1 = run_pipeline(
            spark, data_dir, rejects_dir=str(tmp_path / "rej1"), target_dir=t
        )
        run_pipeline(
            spark,
            data_dir,
            rejects_dir=str(tmp_path / "rej2"),
            target_dir=t,
            existing=r1.tables,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    bus.waitUntilEmpty()
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
    assert len(tracker.getJobIdsForGroup(group)) > 0
