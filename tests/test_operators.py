"""Unit tests for the cleaning/integrity/upsert operators — the semantic
details SURVEY.md §2 calls out (coercing casts→NULL, keep-last dedupe,
cascading FK order, CONCAT-NULL, guarded division)."""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import functions as F
from pyspark.sql import types as T

from salesanalytics_etl_spark.functions.scalar import concat_tsql, safe_div
from salesanalytics_etl_spark.operators.cleaning import (
    coerce_casts,
    dedupe_keep_last,
    drop_null_keys,
    trim_strings,
)
from salesanalytics_etl_spark.operators.integrity import fk_split, fk_split_composite
from salesanalytics_etl_spark.operators.upsert import merge_upsert


def test_coercing_casts_bad_values_to_null(spark):
    # reference etl_sales_analytics.py:161-178: "abc" in an int column and
    # "not-a-date" in a timestamp column become NULL, rows survive
    df = spark.createDataFrame(
        [("1", "9.99", "2024-01-02"), ("abc", "oops", "not-a-date")],
        ["i", "d", "ts"],
    )
    out = coerce_casts(
        df,
        {
            "i": T.IntegerType(),
            "d": T.DecimalType(18, 2),
            "ts": T.TimestampType(),
        },
    ).collect()
    assert out[0].i == 1 and out[0].d == Decimal("9.99")
    assert out[0].ts is not None
    assert out[1].i is None and out[1].d is None and out[1].ts is None


def test_trim_strings_only_string_cols(spark):
    df = spark.createDataFrame([(1, "  a  ", " b")], ["k", "s1", "s2"])
    row = trim_strings(df).collect()[0]
    assert (row.k, row.s1, row.s2) == (1, "a", "b")


def test_drop_null_keys(spark):
    df = spark.createDataFrame(
        [(1, "x"), (None, "y")], schema="k int, v string"
    )
    assert drop_null_keys(df, ["k"]).count() == 1


def test_dedupe_keep_last_picks_highest_order(spark):
    # FIXTURES.md edge 1: duplicate key (265,1082) appears qty=1 then qty=6;
    # keep-last (by _seq/file order) must pick the later row
    df = spark.createDataFrame(
        [(265, 1082, 1, 0), (265, 1082, 6, 1), (1, 1, 3, 2)],
        ["OrderID", "ProductID", "Quantity", "_seq"],
    )
    out = {
        (r.OrderID, r.ProductID): r.Quantity
        for r in dedupe_keep_last(df, ["OrderID", "ProductID"]).collect()
    }
    assert out[(265, 1082)] == 6 and out[(1, 1)] == 3


def test_fk_split_keep_and_reject(spark):
    orders = spark.createDataFrame([(1, 10), (2, 99)], ["OrderID", "CustomerID"])
    customers = spark.createDataFrame([(10,)], ["CustomerID"])
    keep, reject = fk_split(orders, customers, "CustomerID")
    assert [r.OrderID for r in keep.collect()] == [1]
    assert [r.OrderID for r in reject.collect()] == [2]


def test_fk_cascade_details_follow_postfilter_orders(spark):
    # FIXTURES.md edge 3: a detail row whose OrderID exists in RAW orders
    # but that order fails its own FK → the detail must be rejected too
    customers = spark.createDataFrame([(10,)], ["CustomerID"])
    orders = spark.createDataFrame(
        [(1, 10), (2, 99)], ["OrderID", "CustomerID"]
    )  # order 2 → bad customer
    products = spark.createDataFrame([(7,)], ["ProductID"])
    details = spark.createDataFrame(
        [(1, 7), (2, 7), (1, 8)], ["OrderID", "ProductID"]
    )  # (2,7): cascades; (1,8): bad product
    orders_ok, _ = fk_split(orders, customers, "CustomerID")
    keep, reject = fk_split_composite(
        details,
        [(orders_ok, "OrderID", "OrderID"), (products, "ProductID", "ProductID")],
    )
    assert [(r.OrderID, r.ProductID) for r in keep.collect()] == [(1, 7)]
    assert sorted((r.OrderID, r.ProductID) for r in reject.collect()) == [
        (1, 8),
        (2, 7),
    ]


def test_merge_upsert_updates_and_inserts_and_is_idempotent(spark):
    target = spark.createDataFrame([(1, "old"), (2, "keep")], ["k", "v"])
    incoming = spark.createDataFrame([(1, "new"), (3, "ins")], ["k", "v"])
    once = merge_upsert(target, incoming, ["k"])
    state = {r.k: r.v for r in once.collect()}
    assert state == {1: "new", 2: "keep", 3: "ins"}
    twice = merge_upsert(once, incoming, ["k"])
    assert {r.k: r.v for r in twice.collect()} == state  # idempotent


def test_merge_upsert_repeated_incoming_key(spark):
    """A key repeated in the batch replaces its target row once and keeps
    every incoming row with its multiplicity: the anti-join probe gives
    the same result whether its keys repeat or not."""
    target = spark.createDataFrame(
        [(1, "old"), (2, "keep")], ["k", "v"]
    )
    incoming = spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, "a"), (3, "ins")], ["k", "v"]
    )
    got = sorted(
        (r.k, r.v) for r in merge_upsert(target, incoming, ["k"]).collect()
    )
    assert got == [(1, "a"), (1, "a"), (1, "b"), (2, "keep"), (3, "ins")]


def test_merge_upsert_keeps_target_column_order(spark):
    """The merged table keeps the target's column order even when the
    key is not its first column (a USING anti-join moves keys first)."""
    target = spark.createDataFrame(
        [("x", 1, "old"), ("y", 2, "keep")], ["s", "k", "v"]
    )
    incoming = spark.createDataFrame([("z", 1, "new")], ["s", "k", "v"])
    merged = merge_upsert(target, incoming, ["k"])
    assert merged.columns == ["s", "k", "v"]
    assert sorted(map(tuple, merged.collect())) == [
        ("y", 2, "keep"),
        ("z", 1, "new"),
    ]


def test_concat_tsql_null_as_empty(spark):
    # T-SQL CONCAT(a,' ',b) with NULL FirstName → ' Last', not NULL
    df = spark.createDataFrame(
        [("Ada", "Lovelace"), (None, "Turing")], ["f", "l"]
    )
    out = [r.n for r in df.select(concat_tsql("f", "l").alias("n")).collect()]
    assert out == ["Ada Lovelace", " Turing"]


def test_safe_div_guards_zero_and_null(spark):
    # 21.40/8 = 2.675 stored as 2.67499…: engine-native ROUNDs disagree on
    # it (Spark shortest-repr HALF_UP → 2.68, scale-and-rint → 2.67); the
    # floor-formula rounding must give 2.68 deterministically in any engine
    df = spark.createDataFrame(
        [(10.0, 4.0), (10.0, 0.0), (10.0, None), (21.40, 8.0)], ["num", "den"]
    )
    out = [r.q for r in df.select(safe_div(F.col("num"), F.col("den")).alias("q")).collect()]
    assert out == [2.5, None, None, 2.68]


def test_check_split_injected_violations(spark):
    from pyspark.sql import functions as F

    from salesanalytics_etl_spark.operators.integrity import check_split

    df = spark.createDataFrame(
        [(1, 9.99), (2, -1.0), (3, None), (4, 0.0)],
        "id long, price double",
    )
    keep, reject = check_split(df, {"price_nonneg": F.col("price") >= 0})
    assert sorted(r.id for r in keep.collect()) == [1, 4]
    # both the negative value AND the coerced-NULL fail the check
    assert sorted(r.id for r in reject.collect()) == [2, 3]


def test_scd2_apply_closes_reopens_and_is_idempotent(spark):
    from salesanalytics_etl_spark.operators.upsert import scd2_apply

    dim = spark.createDataFrame(
        [
            # key 1: has history (one closed + one current row)
            (1, "A", "x", "2020-01-01", "2022-01-01", False),
            (1, "B", "x", "2022-01-01", None, True),
            # key 2: current only, will NOT change (update equals current)
            (2, "B", "y", "2020-01-01", None, True),
            # key 3: current only, WILL change
            (3, "C", "z", "2020-01-01", None, True),
            # key 4: no update row at all
            (4, "D", "w", "2020-01-01", None, True),
        ],
        "k INT, seg STRING, name STRING, valid_from STRING, valid_to STRING,"
        " is_current BOOLEAN",
    ).selectExpr(
        "k", "seg", "name",
        "CAST(valid_from AS DATE) AS valid_from",
        "CAST(valid_to AS DATE) AS valid_to",
        "is_current",
    )
    updates = spark.createDataFrame(
        [(1, "NEW"), (2, "B"), (3, "ALSO_NEW")], "k INT, seg STRING"
    )

    once = scd2_apply(dim, updates, ["k"], ["seg"], "2024-06-01")
    rows = {
        (r.k, r.seg, str(r.valid_from), str(r.valid_to), r.is_current)
        for r in once.collect()
    }
    assert rows == {
        # key 1: old history untouched, B closed, NEW opened
        (1, "A", "2020-01-01", "2022-01-01", False),
        (1, "B", "2022-01-01", "2024-06-01", False),
        (1, "NEW", "2024-06-01", "None", True),
        # key 2: no-op update
        (2, "B", "2020-01-01", "None", True),
        # key 3: closed + reopened
        (3, "C", "2020-01-01", "2024-06-01", False),
        (3, "ALSO_NEW", "2024-06-01", "None", True),
        # key 4: untouched
        (4, "D", "2020-01-01", "None", True),
    }
    # non-tracked business column carries over onto the new version
    new_row = once.filter("k = 3 AND is_current").collect()[0]
    assert new_row.name == "z"

    # idempotent: re-applying the same batch changes nothing
    twice = scd2_apply(once, updates, ["k"], ["seg"], "2024-07-01")
    assert {tuple(r) for r in twice.collect()} == {tuple(r) for r in once.collect()}


def test_merge_upsert_partitioned_touches_only_batch_partitions(
    spark, tmp_path
):
    import hashlib
    import os

    from salesanalytics_etl_spark.operators.upsert import (
        merge_upsert,
        merge_upsert_partitioned,
    )

    path = str(tmp_path / "orders_t")
    seed = spark.createDataFrame(
        [(1, "d1", "a"), (2, "d2", "b"), (3, "d3", "c"), (4, "d2", "d")],
        ["k", "dt", "v"],
    )
    merge_upsert_partitioned(spark, path, seed, ["k"], ["dt"])

    def part_files(day):
        d = os.path.join(path, f"dt={day}")
        return {
            f: hashlib.md5(
                open(os.path.join(d, f), "rb").read()
            ).hexdigest()
            for f in sorted(os.listdir(d))
            if f.endswith(".parquet")
        }

    before_d1, before_d3 = part_files("d1"), part_files("d3")

    batch = spark.createDataFrame(
        [(2, "d2", "B2"), (5, "d2", "e")], ["k", "dt", "v"]
    )
    n = merge_upsert_partitioned(spark, path, batch, ["k"], ["dt"])
    assert n == 1  # only dt=d2 rewritten

    # untouched partitions: identical file names AND bytes
    assert part_files("d1") == before_d1
    assert part_files("d3") == before_d3

    # end state == the full-table merge_upsert semantics (q52 contract)
    got = {
        (r.k, r.dt): r.v for r in spark.read.parquet(path).collect()
    }
    expect = {
        (r.k, r.dt): r.v
        for r in merge_upsert(seed, batch, ["k"]).collect()
    }
    assert got == expect == {
        (1, "d1"): "a",
        (2, "d2"): "B2",
        (3, "d3"): "c",
        (4, "d2"): "d",
        (5, "d2"): "e",
    }
    # idempotent: re-applying the same batch changes nothing
    assert merge_upsert_partitioned(spark, path, batch, ["k"], ["dt"]) == 1
    assert {
        (r.k, r.dt): r.v for r in spark.read.parquet(path).collect()
    } == expect


def test_scd2_apply_rejects_duplicate_update_keys(spark):
    import pytest as _pytest

    from salesanalytics_etl_spark.operators.upsert import scd2_apply

    dim = spark.createDataFrame(
        [(1, "x", "2024-01-01", True)],
        ["k", "seg", "valid_from", "is_current"],
    ).select(
        "k",
        "seg",
        F.to_date("valid_from").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        "is_current",
    )
    dup_updates = spark.createDataFrame(
        [(1, "y"), (1, "z")], ["k", "seg"]
    )
    with _pytest.raises(ValueError, match="key-unique"):
        scd2_apply(dim, dup_updates, ["k"], ["seg"], "2024-06-01")


def test_merge_upsert_partitioned_preserves_partition_value_encoding(
    spark, tmp_path
):
    """String partition values that don't survive type inference (zero-
    padded '01') must land back in the SAME directory on re-merge — an
    inferred-int read would rewrite them as dt=1 and leave the stale
    dt=01 directory alive, duplicating every key."""
    import os

    from salesanalytics_etl_spark.operators.upsert import (
        merge_upsert_partitioned,
    )

    path = str(tmp_path / "padded_t")
    seed = spark.createDataFrame(
        [(1, "01", "a"), (2, "02", "b")], "k long, dt string, v string"
    )
    merge_upsert_partitioned(spark, path, seed, ["k"], ["dt"])
    batch = spark.createDataFrame(
        [(1, "01", "a2"), (3, "01", "c")], "k long, dt string, v string"
    )
    merge_upsert_partitioned(spark, path, batch, ["k"], ["dt"])

    dirs = sorted(
        d for d in os.listdir(path) if d.startswith("dt=")
    )
    assert dirs == ["dt=01", "dt=02"]  # no dt=1 split-brain directory
    got = {
        (r.k, r.dt): r.v
        for r in spark.read.schema(seed.schema).parquet(path).collect()
    }
    assert got == {(1, "01"): "a2", (2, "02"): "b", (3, "01"): "c"}


def test_fk_split_composite_preserves_duplicate_row_multiplicity(spark):
    """Two byte-identical child rows with a dangling FK must BOTH land in
    rejects (the reference writes every masked row) — the old
    union+distinct reject path collapsed them to one."""
    parent = spark.createDataFrame([(1,)], "pk long")
    child = spark.createDataFrame(
        [(1, "ok"), (99, "dup"), (99, "dup")], "fk long, v string"
    )
    keep, reject = fk_split_composite(child, [(parent, "fk", "pk")])
    assert keep.count() == 1
    assert reject.count() == 2
    assert keep.columns == child.columns and reject.columns == child.columns


def test_salted_agg_rejects_non_reaggregable(spark):
    """Non-re-aggregable functions (avg, anything DISTINCT) must be
    unrepresentable/rejected — Column.toString() renders countDistinct as
    plain count(x), so the old sniff-the-name API silently double-counted
    values straddling salt groups."""
    import pytest as _pytest

    from salesanalytics_etl_spark.operators.skew import salted_agg

    df = spark.createDataFrame([(1, 2.0)], "k long, x double")
    with _pytest.raises(ValueError, match="avg"):
        salted_agg(df, ["k"], {"m": ("avg", F.col("x"))}).collect()
    with _pytest.raises(ValueError, match="count_distinct"):
        salted_agg(df, ["k"], {"d": ("count_distinct", F.col("x"))}).collect()


def test_quantize_embeddings_keeps_zero_vectors(spark):
    from salesanalytics_etl_spark.operators.curation import quantize_embeddings

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, -2.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r for r in quantize_embeddings(df).collect()}
    assert set(out) == {1, 2}  # the zero vector is REPORTED, not dropped
    assert out[1].scale == 0.0 and out[1].q_sum == 0 and out[1].rmse == 0.0
    assert out[2].q_max == 64  # floor(-2/ (2/127) is min; max is 1 -> 64


def test_asof_join_right_cols_without_ts(spark):
    """right_cols omitting the timestamp must not blow up the pick window
    (the projection force-includes right_ts)."""
    from salesanalytics_etl_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 100)], "user_id long, ts long"
    ).withColumn("ts", F.timestamp_seconds("ts"))
    right = spark.createDataFrame(
        [(1, 50, "x"), (1, 90, "y")], "user_id long, ts long, tag string"
    ).withColumn("ts", F.timestamp_seconds("ts"))
    out = asof_join(
        left, right, on="user_id", left_ts="ts", right_ts="ts",
        right_cols=["tag"],
    ).collect()
    assert len(out) == 1 and out[0]["asof_tag"] == "y"


def test_label_propagation_raises_on_nonconvergence(spark):
    import pytest

    from salesanalytics_etl_spark.operators.graph import _label_propagation

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="converge"):
        _label_propagation(chain, "doc_a", "doc_b", max_iter=2)
    # and converges fine with budget >= diameter
    ok = _label_propagation(chain, "doc_a", "doc_b", max_iter=15)
    assert ok.agg(F.countDistinct("component")).collect()[0][0] == 1


def test_concurrent_merge_writer_fails_loudly(spark, tmp_path):
    """Single-writer contract: a second merge against a table whose
    advisory lock is held by a LIVE process must raise — never interleave
    stage-and-swap with the holder (lost update)."""
    import subprocess
    import sys

    from salesanalytics_etl_spark.operators.upsert import (
        ConcurrentWriterError,
        merge_upsert_partitioned,
        single_writer_lock,
    )

    path = str(tmp_path / "locked_t")
    seed = spark.createDataFrame([(1, "d1", "a")], ["k", "dt", "v"])
    merge_upsert_partitioned(spark, path, seed, ["k"], ["dt"])

    # a LIVE holder (this very process) blocks the second writer
    with single_writer_lock(path, owner="test-holder"):
        batch = spark.createDataFrame([(2, "d1", "b")], ["k", "dt", "v"])
        try:
            merge_upsert_partitioned(spark, path, batch, ["k"], ["dt"])
            raise AssertionError("second writer did not fail")
        except ConcurrentWriterError:
            pass
    # lock released on exit -> the same merge now succeeds
    assert merge_upsert_partitioned(spark, path, batch, ["k"], ["dt"]) == 1

    # a lock abandoned by a DEAD pid (crashed writer) is reclaimed, not
    # a permanent wedge: forge one with a real-but-exited process's pid
    dead = subprocess.run(
        [sys.executable, "-c", "import os; print(os.getpid())"],
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()
    import socket

    with open(path + ".__writer_lock__", "w") as fh:
        fh.write(f"{dead} {socket.gethostname()} crashed 0.0")
    batch2 = spark.createDataFrame([(3, "d1", "c")], ["k", "dt", "v"])
    assert merge_upsert_partitioned(spark, path, batch2, ["k"], ["dt"]) == 1

    # nested sanity: lock file is gone after successful merges
    import os

    assert not os.path.exists(path + ".__writer_lock__")


def test_foreign_host_stale_lock_lease_and_break(tmp_path):
    """A writer that died on ANOTHER host leaves a lock the host-local pid
    check can never reclaim. The lease path (lock older than
    ``lease_seconds``) and the explicit ``break_stale_lock`` tool must
    both reclaim it — and both must leave a LIVE/young holder alone, so
    the single-writer guarantee survives the escape hatch."""
    import os

    from salesanalytics_etl_spark.operators.upsert import (
        ConcurrentWriterError,
        break_stale_lock,
        single_writer_lock,
    )

    path = str(tmp_path / "t")
    lock = path + ".__writer_lock__"

    def forge_foreign_lock(age_seconds: float) -> None:
        # pid 99999... on host "other-host" — unverifiable from here
        with open(lock, "w") as fh:
            fh.write("999999 other-host crashed 0.0")
        old = time.time() - age_seconds
        os.utime(lock, (old, old))

    import time

    # 1) no lease (default): foreign-host lock wedges — loud error
    forge_foreign_lock(age_seconds=7200)
    try:
        with single_writer_lock(path):
            raise AssertionError("foreign lock was stolen without a lease")
    except ConcurrentWriterError:
        pass

    # 2) lease expired -> reclaimed; guarantee restored (lock removed after)
    with single_writer_lock(path, lease_seconds=3600):
        assert os.path.exists(lock)
    assert not os.path.exists(lock)

    # 3) lease NOT expired -> still a loud error (live foreign writer safe)
    forge_foreign_lock(age_seconds=60)
    try:
        with single_writer_lock(path, lease_seconds=3600):
            raise AssertionError("young foreign lock was stolen")
    except ConcurrentWriterError:
        pass

    # 4) break_stale_lock: refuses young locks, breaks old ones
    assert break_stale_lock(path, min_age_seconds=3600) is False
    forge_foreign_lock(age_seconds=7200)
    assert break_stale_lock(path, min_age_seconds=3600) is True
    assert not os.path.exists(lock)
    assert break_stale_lock(path, min_age_seconds=3600) is False  # absent

    # 5) break_stale_lock never kills a LIVE same-host holder, however old
    with single_writer_lock(path, owner="live-holder"):
        old = time.time() - 7200
        os.utime(lock, (old, old))
        assert break_stale_lock(path, min_age_seconds=3600) is False
        assert os.path.exists(lock)


def test_hll_distinct_error_bound_and_partition_invariance(spark):
    """m=512 classic HLL: rsd ~= 4.6%, so 15% (>3 sigma) bounds all three
    cardinality regimes (linear counting, threshold, raw). The estimate
    must also be IDENTICAL under different partitionings — the register
    max/sum accumulators are order-insensitive by construction."""
    from pyspark.sql import functions as F

    from salesanalytics_etl_spark.operators.sketches import hll_distinct

    for n in (100, 1_000, 20_000):
        df = spark.range(n * 3).select(
            F.lit("k").alias("g"), (F.col("id") % n).alias("v")
        )
        est = hll_distinct(df, ["g"], "v").collect()[0].approx_distinct
        assert abs(est - n) / n < 0.15, (n, est)
        est2 = hll_distinct(df.repartition(7), ["g"], "v").collect()[0]
        assert est2.approx_distinct == est  # partitioning-insensitive


def test_hdr_percentiles_error_bound_vs_exact(spark):
    """Exponent+mantissa bucketing keeps the top 6 significant bits, so
    the reported bucket lower bound is within 2^-5 (3.125%) BELOW the true
    nearest-rank value; small values (<= 6 bits) are exact."""
    import numpy as np

    from pyspark.sql import functions as F

    from salesanalytics_etl_spark.operators.sketches import hdr_percentiles

    rng = list(range(1, 5001))  # cents 1..5000
    df = spark.createDataFrame(
        [("g", c) for c in rng], ["g", "cents"]
    )
    got = hdr_percentiles(df, ["g"], "cents").collect()[0]
    assert got.n_rows == 5000
    for p, val in ((50, got.p50_approx), (95, got.p95_approx), (99, got.p99_approx)):
        exact = float(np.sort(rng)[int(np.ceil(p / 100 * 5000)) - 1]) / 100.0
        assert val <= exact + 1e-9, (p, val, exact)
        assert val >= exact * (1 - 2 ** -5) - 1e-9, (p, val, exact)
    # partitioning-insensitive: identical under a different layout
    got2 = hdr_percentiles(df.repartition(13), ["g"], "cents").collect()[0]
    assert got2 == got


def test_bloom_membership_no_false_negatives_and_bounded_fpr(spark):
    """Bloom contract on planted data: zero false negatives always; FPR
    near the design point (~1% at 11 bits/key, k=7) — allow 3% headroom."""
    from salesanalytics_etl_spark.operators.sketches import (
        bloom_membership_audit,
    )

    members = spark.range(0, 2000).selectExpr("id AS mk")
    probes = spark.range(0, 6000).selectExpr("id AS pk")  # 4000 absent
    row = bloom_membership_audit(members, probes, "mk", "pk").collect()[0]
    assert row.n_probed == 6000 and row.n_members == 2000
    assert row.false_negatives == 0
    assert row.bloom_positives == row.n_members + row.false_positives
    assert row.fpr_bp <= 300, row.fpr_bp


def test_overrun_holder_does_not_release_thiefs_lock(tmp_path):
    """If a lease steal reclaims the lock from a still-running (overrun)
    holder, the old holder's release must NOT remove the new holder's
    lock — only its own payload may be deleted."""
    import os
    import time

    from salesanalytics_etl_spark.operators.upsert import single_writer_lock

    path = str(tmp_path / "t")
    lock = path + ".__writer_lock__"

    holder = single_writer_lock(path, owner="overrun-holder")
    holder.__enter__()
    # simulate lease expiry + steal: a second writer reclaims the lock
    old = time.time() - 7200
    os.utime(lock, (old, old))
    with single_writer_lock(path, owner="thief", lease_seconds=3600):
        # old holder finishes while the thief still holds the lock
        holder.__exit__(None, None, None)
        assert os.path.exists(lock)  # thief's lock survives
        with open(lock) as fh:
            assert "thief" in fh.read()
    assert not os.path.exists(lock)  # thief's own release still works


def test_merge_upsert_schema_evolution_and_loud_mismatch(spark):
    """Default MERGE is fixed-schema: extra OR missing batch columns
    raise (silently dropping an extra column loses staged data).
    evolve_schema=True gives mergeSchema semantics: new columns extend
    the table (old rows NULL); a column ABSENT from the batch keeps the
    target value on matched rows (Delta updateAll) and is NULL for new
    keys. Type conflicts always raise."""
    import pytest

    target = spark.createDataFrame([(1, "old"), (2, "keep")], ["k", "v"])
    plus = spark.createDataFrame([(1, "new", 7.5)], ["k", "v", "w"])
    with pytest.raises(ValueError, match="adds.*w"):
        merge_upsert(target, plus, ["k"])
    evolved = merge_upsert(target, plus, ["k"], evolve_schema=True)
    rows = {r.k: (r.v, r.w) for r in evolved.collect()}
    assert rows == {1: ("new", 7.5), 2: ("keep", None)}

    # batch lacking a column: kept row keeps w; the MATCHED row also
    # keeps its pre-merge w (updateAll only touches source columns);
    # a genuinely new key reads NULL there
    minus = spark.createDataFrame([(1, "newer"), (3, "brand")], ["k", "v"])
    with pytest.raises(ValueError, match="lacks.*w"):
        merge_upsert(evolved, minus, ["k"])
    evolved2 = merge_upsert(evolved, minus, ["k"], evolve_schema=True)
    rows = {r.k: (r.v, r.w) for r in evolved2.collect()}
    assert rows == {1: ("newer", 7.5), 2: ("keep", None), 3: ("brand", None)}

    # same name, different type: always loud
    clash = spark.createDataFrame([(1, 99)], ["k", "v"])
    with pytest.raises(ValueError, match="type conflict"):
        merge_upsert(target, clash, ["k"], evolve_schema=True)


def test_partitioned_merge_schema_mismatch_is_loud(spark, tmp_path):
    """A batch missing a table column would silently drop that column's
    data from every rewritten partition (pinned-schema read) — must
    raise instead; same for a batch-only new column."""
    import pytest

    from salesanalytics_etl_spark.operators.upsert import (
        merge_upsert_partitioned,
    )

    path = str(tmp_path / "pt")
    seed = spark.createDataFrame([(1, "d1", "a")], ["k", "dt", "v"])
    merge_upsert_partitioned(spark, path, seed, ["k"], ["dt"])
    lacking = spark.createDataFrame([(2, "d1")], ["k", "dt"])
    with pytest.raises(ValueError, match="lacks.*'v'"):
        merge_upsert_partitioned(spark, path, lacking, ["k"], ["dt"])
    adding = spark.createDataFrame([(2, "d1", "b", 1.0)], ["k", "dt", "v", "w"])
    with pytest.raises(ValueError, match="adds.*'w'"):
        merge_upsert_partitioned(spark, path, adding, ["k"], ["dt"])


def test_compact_partitions_rewrites_only_crowded(spark, tmp_path):
    """Compaction must collapse a many-file partition to one file, leave
    the single-file partition's files byte-identical on disk, preserve
    row contents exactly, and be idempotent."""
    import glob
    import os

    from salesanalytics_etl_spark.operators.upsert import compact_partitions

    path = str(tmp_path / "ct")
    a = spark.createDataFrame(
        [(i, "a") for i in range(100)], ["v", "dt"]
    ).repartition(4)
    a.write.partitionBy("dt").parquet(path)
    b = spark.createDataFrame([(i, "b") for i in range(10)], ["v", "dt"])
    b.coalesce(1).write.mode("append").partitionBy("dt").parquet(path)

    def files(part):
        return sorted(glob.glob(os.path.join(path, f"dt={part}", "*.parquet")))

    assert len(files("a")) == 4 and len(files("b")) == 1
    before_b = {f: open(f, "rb").read() for f in files("b")}
    before_rows = sorted(
        (r.v, r.dt) for r in spark.read.parquet(path).collect()
    )

    assert compact_partitions(spark, path, ["dt"]) == 1
    assert len(files("a")) == 1
    assert {f: open(f, "rb").read() for f in files("b")} == before_b
    after_rows = sorted(
        (r.v, r.dt) for r in spark.read.parquet(path).collect()
    )
    assert after_rows == before_rows
    assert compact_partitions(spark, path, ["dt"]) == 0  # idempotent


def test_bucket_pairs_budget_is_64bit(spark):
    """The candidate-budget count must survive buckets whose pair count
    overflows 32-bit int (m >= 46342): a silent int wrap would make the
    budget see a small/negative count and wave the quadratic join
    through — the exact blow-up it exists to refuse."""
    import pytest

    from salesanalytics_etl_spark.operators.dedup import _bucket_pairs

    members = spark.range(50000).select(
        F.lit(1).alias("b"), F.col("id").alias("doc_id")
    )
    n = 50000 * 49999 // 2  # 1,249,975,000 > 2^31-1
    with pytest.raises(RuntimeError, match=f"^{n} candidate pairs"):
        _bucket_pairs(members, ["b"], 1 << 20, budget=n - 1)


def test_merge_upsert_never_evolves_key_columns(spark):
    """A batch missing a KEY column must raise even with
    evolve_schema=True: NULL-filling the key would append rows no future
    merge can ever match (NULL never joins equal)."""
    import pytest

    target = spark.createDataFrame([(1, "a")], ["k", "v"])
    keyless = spark.createDataFrame([("b",)], ["v"])
    for evolve in (False, True):
        with pytest.raises(ValueError, match="key column"):
            merge_upsert(target, keyless, ["k"], evolve_schema=evolve)


def test_compact_preserves_noncanonical_partition_directories(spark, tmp_path):
    """String partition value '01' lives in directory dt=01; compaction
    must rewrite INTO dt=01 (partition columns read pinned to string),
    not re-type it to int 1 and write a duplicate dt=1 while the stale
    dt=01 files survive."""
    import glob
    import os

    from salesanalytics_etl_spark.operators.upsert import (
        compact_partitions,
        merge_upsert_partitioned,
    )

    path = str(tmp_path / "nc")
    seed = spark.createDataFrame(
        [(1, "01", "a"), (2, "01", "b"), (3, "2", "c")], ["k", "dt", "v"]
    )
    merge_upsert_partitioned(spark, path, seed, ["k"], ["dt"])
    # force the multi-file precondition in dt=01
    spark.createDataFrame([(4, "01", "d")], ["k", "dt", "v"]).coalesce(
        1
    ).write.mode("append").partitionBy("dt").parquet(path)
    assert len(glob.glob(os.path.join(path, "dt=01", "*.parquet"))) >= 2

    assert compact_partitions(spark, path, ["dt"]) >= 1
    assert os.path.isdir(os.path.join(path, "dt=01"))
    assert not os.path.isdir(os.path.join(path, "dt=1"))  # no re-typing
    assert len(glob.glob(os.path.join(path, "dt=01", "*.parquet"))) == 1
    rows = sorted(
        (r.k, r.dt, r.v)
        for r in spark.read.schema("k bigint, dt string, v string")
        .parquet(path)
        .collect()
    )
    assert rows == [(1, "01", "a"), (2, "01", "b"), (3, "2", "c"),
                    (4, "01", "d")]  # no duplication, nothing lost


def test_heartbeating_holder_is_never_stolen(tmp_path):
    """A LIVE holder with a lease refreshes the lock mtime from a daemon
    heartbeat (every lease/3), so outrunning the lease no longer exposes
    it to a steal — a contender arriving well past the original lease
    must still see a live lock (the r7 ADVICE data-loss window)."""
    import os
    import time

    from salesanalytics_etl_spark.operators.upsert import (
        ConcurrentWriterError,
        single_writer_lock,
    )

    path = str(tmp_path / "t")
    lock = path + ".__writer_lock__"
    holder = single_writer_lock(path, owner="slow-merge", lease_seconds=0.6)
    holder.__enter__()
    try:
        time.sleep(1.5)  # 2.5 leases: unstolen only because of heartbeats
        assert time.time() - os.stat(lock).st_mtime < 0.6
        try:
            with single_writer_lock(path, owner="thief", lease_seconds=0.6):
                raise AssertionError("heartbeating holder was stolen from")
        except ConcurrentWriterError:
            pass
    finally:
        holder.__exit__(None, None, None)
    assert not os.path.exists(lock)


def test_vacuum_stale_staging(tmp_path):
    import os
    import time

    from salesanalytics_etl_spark.operators.upsert import (
        vacuum_stale_staging,
    )

    path = str(tmp_path / "tbl")
    os.makedirs(path)
    # no staging dir → nothing to do
    assert vacuum_stale_staging(path) is False
    staging = path + ".__swap_staging__"
    os.makedirs(os.path.join(staging, "p=1"))
    f = os.path.join(staging, "p=1", "part-0.parquet")
    with open(f, "w") as fh:
        fh.write("x")
    # FRESH staging (a live merge could still be writing) → refused
    assert vacuum_stale_staging(path, min_age_seconds=3600) is False
    assert os.path.exists(staging)
    # recency is the NEWEST file, not the dir: age the dir but keep the
    # file fresh → still refused
    old = time.time() - 7200
    os.utime(staging, (old, old))
    assert vacuum_stale_staging(path, min_age_seconds=3600) is False
    # age everything past the threshold → removed, True
    for dp, dns, fs in os.walk(staging):
        for n in [*dns, *fs]:
            os.utime(os.path.join(dp, n), (old, old))
    os.utime(staging, (old, old))
    assert vacuum_stale_staging(path, min_age_seconds=3600) is True
    assert not os.path.exists(staging)
    # idempotent
    assert vacuum_stale_staging(path, min_age_seconds=3600) is False


def test_bloom_decontaminate_sizing_monotonicity(spark):
    """The r14 sizing rule's mechanism, pinned at unit grain: the Bloom
    monitor never false-negatives at ANY m (bloom flags ⊇ exact flags),
    and a saturated tiny filter (m=64: every bit set by k=7 hashes of
    ~dozens of grams) flags everything while a right-sized one (m=2^16)
    flags only real contamination — FP monotone non-increasing in m.
    q192/q200 VALUE-gate the same operator at 2^20/2^22 vs DuckDB."""
    from pyspark.sql import functions as F

    from salesanalytics_etl_spark.operators.sketches import (
        bloom_decontaminate_audit,
    )

    rows = []
    for d in range(8):
        # 20 distinct tokens per doc -> 8 13-grams; doc 0 is the
        # benchmark; docs 1-3 share its text (contaminated), 4-7 clean
        base = d if d >= 4 or d == 0 else 0
        rows.append(
            (d, " ".join(f"tok{base}x{j}" for j in range(20)))
        )
    # doc 8: 5 tokens < n=13 -> ZERO grams; must still be counted in
    # n_corpus_docs and never flagged (r17 one-pass shape: such docs
    # only exist on the left of the final doc join)
    rows.append((8, "short doc with five tokens"[:26]))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = docs.filter(F.col("doc_id") == 0)
    corpus = docs.filter(F.col("doc_id") != 0)

    tiny = bloom_decontaminate_audit(
        corpus, bench, m_bits=64
    ).collect()[0]
    sized = bloom_decontaminate_audit(
        corpus, bench, m_bits=1 << 16
    ).collect()[0]
    for r in (tiny, sized):
        assert r.n_corpus_docs == 8  # incl. the gram-less doc 8
        assert r.n_flagged_exact == 3  # docs 1-3
        assert r.n_flagged_bloom >= r.n_flagged_exact  # no false negative
    # deterministic md5 values, rederived in pure Python: the m=64
    # filter sets 36/64 bits (load 0.562) and exactly ONE of the 4
    # clean docs has a gram whose 7 positions are all set; at m=2^16
    # the 56 positions never align (load 0.001, 0 FPs)
    assert tiny.n_false_pos_docs == 1, tiny
    assert sized.n_false_pos_docs == 0, sized
    assert sized.n_false_pos_docs <= tiny.n_false_pos_docs
