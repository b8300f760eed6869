"""The locked parquet MERGE writer (``merge_upsert_table``): whole-table
and partition-scoped merges, and crash recovery around its directory
swap (the one swap of ``sources.writers``)."""

from __future__ import annotations

from salesanalytics_etl_spark.operators.upsert import merge_upsert_table


def _rows(spark, path):
    return sorted(
        (r.k, r.s, r.v) for r in spark.read.parquet(path).collect()
    )


def test_parquet_backend_whole_table_merge(spark, tmp_path):
    path = str(tmp_path / "t1")
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k INT, s STRING, v DOUBLE"
    )
    merge_upsert_table(spark, path, base, ["k"])  # first load
    batch = spark.createDataFrame(
        [(2, "B", 20.0), (3, "c", 3.0)], "k INT, s STRING, v DOUBLE"
    )
    merge_upsert_table(spark, path, batch, ["k"])
    assert _rows(spark, path) == [(1, "a", 1.0), (2, "B", 20.0), (3, "c", 3.0)]
    # idempotent: the same batch is a fixpoint
    merge_upsert_table(spark, path, batch, ["k"])
    assert _rows(spark, path) == [(1, "a", 1.0), (2, "B", 20.0), (3, "c", 3.0)]


def test_parquet_backend_routes_partitioned(spark, tmp_path):
    path = str(tmp_path / "t2")
    base = spark.createDataFrame(
        [(i, i % 2, float(i)) for i in range(8)], "k INT, p INT, v DOUBLE"
    )
    merge_upsert_table(spark, path, base, ["k"], partition_by=["p"])
    batch = spark.createDataFrame([(0, 0, 99.0)], "k INT, p INT, v DOUBLE")
    merge_upsert_table(spark, path, batch, ["k"], partition_by=["p"])
    got = {(r.k): r.v for r in spark.read.parquet(path).collect()}
    assert got[0] == 99.0 and len(got) == 8


def test_half_swapped_table_is_recovered_not_replaced(spark, tmp_path):
    """The r11 ADVICE crash window: a crash BETWEEN the swap's two
    renames leaves `path` missing and the live table stranded in
    `.__swap_old__`. The next merge must restore it and merge on top —
    never take the first-load branch and replace the table with just
    the incoming batch."""
    import os

    path = str(tmp_path / "t_half")
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k INT, s STRING, v DOUBLE"
    )
    merge_upsert_table(spark, path, base, ["k"])
    # simulate the crash: first rename done, second never happened
    os.rename(path, path + ".__swap_old__")
    assert not os.path.exists(path)
    batch = spark.createDataFrame([(3, "c", 3.0)], "k INT, s STRING, v DOUBLE")
    merge_upsert_table(spark, path, batch, ["k"])
    assert _rows(spark, path) == [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]
    assert not os.path.exists(path + ".__swap_old__")


def test_stale_swap_old_beside_healthy_table_is_cleared(spark, tmp_path):
    """Crash AFTER the second rename but before the rmtree: an obsolete
    `.__swap_old__` sits beside a healthy table and would make the next
    swap's os.rename(path, old) raise. The next merge must clear it and
    proceed; the old dir's stale rows must NOT resurface."""
    import os
    import shutil

    path = str(tmp_path / "t_stale")
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k INT, s STRING, v DOUBLE"
    )
    merge_upsert_table(spark, path, base, ["k"])
    shutil.copytree(path, path + ".__swap_old__")  # obsolete previous state
    batch = spark.createDataFrame(
        [(2, "B", 20.0), (3, "c", 3.0)], "k INT, s STRING, v DOUBLE"
    )
    merge_upsert_table(spark, path, batch, ["k"])
    assert _rows(spark, path) == [(1, "a", 1.0), (2, "B", 20.0), (3, "c", 3.0)]
    assert not os.path.exists(path + ".__swap_old__")


def test_vacuum_reclaims_swap_old_both_states(spark, tmp_path):
    """vacuum_stale_staging also repairs the swap-old states: restores
    the table when `path` is missing (the old dir IS the table), removes
    the old dir when `path` exists (swap completed)."""
    import os
    import shutil

    from salesanalytics_etl_spark.operators.upsert import vacuum_stale_staging

    path = str(tmp_path / "t_vac")
    base = spark.createDataFrame([(1, "a", 1.0)], "k INT, s STRING, v DOUBLE")
    merge_upsert_table(spark, path, base, ["k"])
    # state A: table present + obsolete old dir → removed
    shutil.copytree(path, path + ".__swap_old__")
    assert vacuum_stale_staging(path) is True
    assert os.path.exists(path) and not os.path.exists(path + ".__swap_old__")
    # state B: table missing, stranded in old → renamed back
    os.rename(path, path + ".__swap_old__")
    assert vacuum_stale_staging(path) is True
    assert os.path.exists(path) and not os.path.exists(path + ".__swap_old__")
    assert _rows(spark, path) == [(1, "a", 1.0)]


def test_vacuum_promotes_complete_stage_over_aside_copy(spark, tmp_path):
    """One recovery rule for every swap: a merge that crashed between the
    swap's renames leaves the table missing, the pre-merge rows in the
    aside copy and the merged rows in a complete (``_SUCCESS``) stage.
    Like the ETL's recovery, the janitor must promote the stage, not roll
    back to the pre-merge rows."""
    import os

    from salesanalytics_etl_spark.operators.upsert import vacuum_stale_staging

    path = str(tmp_path / "t_promote")
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k INT, s STRING, v DOUBLE"
    )
    merge_upsert_table(spark, path, base, ["k"])
    merged = [(1, "a", 1.0), (2, "B", 20.0), (3, "c", 3.0)]
    spark.createDataFrame(merged, "k INT, s STRING, v DOUBLE").write.parquet(
        path + ".__swap_staging__"
    )
    os.rename(path, path + ".__swap_old__")
    assert vacuum_stale_staging(path) is True
    assert _rows(spark, path) == merged
    assert not os.path.exists(path + ".__swap_old__")
    assert not os.path.exists(path + ".__swap_staging__")


def test_crash_injected_mid_swap_then_next_merge_recovers(
    spark, tmp_path, monkeypatch
):
    """Fault-injection for the r11 ADVICE window: os.rename raises
    IMMEDIATELY AFTER the first rename of the swap (the exact crash
    point), leaving path missing + .__swap_old__ + a staging dir. The
    re-run of the same merge must recover the table and produce the
    exact no-crash result; nothing stranded on disk."""
    import os

    import pytest

    import salesanalytics_etl_spark.operators.upsert as U

    path = str(tmp_path / "t_crash")
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k INT, s STRING, v DOUBLE"
    )
    merge_upsert_table(spark, path, base, ["k"])
    batch = spark.createDataFrame(
        [(2, "B", 20.0), (3, "c", 3.0)], "k INT, s STRING, v DOUBLE"
    )

    real_rename = os.rename

    def crash_after_first_rename(src, dst):
        real_rename(src, dst)
        if src == path:  # just moved table -> old; staging not yet in
            raise OSError("injected crash between the swap's renames")

    monkeypatch.setattr(U.os, "rename", crash_after_first_rename)
    with pytest.raises(OSError, match="injected crash"):
        merge_upsert_table(spark, path, batch, ["k"])
    monkeypatch.setattr(U.os, "rename", real_rename)
    # crash state: table gone, live rows stranded in old, staging left
    assert not os.path.exists(path)
    assert os.path.exists(path + ".__swap_old__")
    # the re-run recovers and completes the merge
    merge_upsert_table(spark, path, batch, ["k"])
    assert _rows(spark, path) == [(1, "a", 1.0), (2, "B", 20.0), (3, "c", 3.0)]
    assert not os.path.exists(path + ".__swap_old__")
    assert not os.path.exists(path + ".__swap_staging__")


def test_vacuum_repairs_fresh_crash_state_immediately(spark, tmp_path):
    """The r12 ADVICE gap: the canonical crash-between-renames state is a
    FRESH .__swap_staging__ beside .__swap_old__ with the table MISSING —
    the correctness-bearing swap-old repair must run regardless of the
    staging age (the old early-return declined to restore the table for
    up to an hour); only the staging rmtree is age-gated."""
    import os

    from salesanalytics_etl_spark.operators.upsert import vacuum_stale_staging

    path = str(tmp_path / "t_fresh_crash")
    base = spark.createDataFrame([(1, "a", 1.0)], "k INT, s STRING, v DOUBLE")
    merge_upsert_table(spark, path, base, ["k"])
    # canonical crash state: table -> old (first rename), staging written
    # moments ago, second rename never happened
    os.rename(path, path + ".__swap_old__")
    os.makedirs(path + ".__swap_staging__")
    with open(path + ".__swap_staging__/part-0.parquet", "wb") as f:
        f.write(b"fresh staging bytes")
    assert vacuum_stale_staging(path) is True  # default 1h age gate
    # the table is BACK (correctness half ran despite fresh staging) ...
    assert _rows(spark, path) == [(1, "a", 1.0)]
    assert not os.path.exists(path + ".__swap_old__")
    # ... while the fresh staging survives the age gate (disk hygiene
    # half stays conservative), and an age-0 pass reclaims it
    assert os.path.exists(path + ".__swap_staging__")
    assert vacuum_stale_staging(path, min_age_seconds=0.0) is True
    assert not os.path.exists(path + ".__swap_staging__")


def test_vacuum_declines_while_live_writer_holds_lock(spark, tmp_path):
    """A LIVE writer's lock means there is no crash state to repair — the
    janitor must return False (not raise, not race the merge)."""
    import os
    import shutil
    import socket

    from salesanalytics_etl_spark.operators.upsert import vacuum_stale_staging

    path = str(tmp_path / "t_live")
    base = spark.createDataFrame([(1, "a", 1.0)], "k INT, s STRING, v DOUBLE")
    merge_upsert_table(spark, path, base, ["k"])
    shutil.copytree(path, path + ".__swap_old__")
    lock = path + ".__writer_lock__"
    with open(lock, "w") as f:  # live holder: THIS pid on THIS host
        f.write(f"{os.getpid()} {socket.gethostname()} test 0")
    try:
        assert vacuum_stale_staging(path) is False
        assert os.path.exists(path + ".__swap_old__")  # untouched
    finally:
        os.remove(lock)
    assert vacuum_stale_staging(path) is True  # lock gone -> repaired
    assert not os.path.exists(path + ".__swap_old__")
