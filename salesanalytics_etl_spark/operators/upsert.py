"""Idempotent MERGE-upsert (SURVEY.md §2.9 M1-M3).

The reference stages CSV frames then runs a T-SQL ``MERGE target USING
staging ON pk WHEN MATCHED THEN UPDATE <all cols> WHEN NOT MATCHED THEN
INSERT`` (etl_sales_analytics.py:223-283). Because MATCHED updates ALL
non-key columns, the end state is exactly:

    result = incoming ∪ (target rows whose key is absent from incoming)

which is the pure-DataFrame rewrite used here (anti-join + unionByName).
Re-running with the same batch is a fixpoint → idempotent (reference
README.md:5). Delta Lake's ``MERGE INTO`` would do file-level merges; this
repo stays dependency-free and documents the trade-off (SURVEY.md §7.4
risk 5: O(|target|) rewrite per batch).

Scale: the anti-join shuffles target+incoming on the key unless the incoming
batch is small enough to broadcast — typical for incremental loads; AQE
picks the join strategy at runtime.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class ConcurrentWriterError(RuntimeError):
    """A second writer tried to MERGE into a table that another live
    process is already writing. The parquet MERGE/CDC sinks are
    SINGLE-WRITER by contract: two interleaved stage-and-swap /
    dynamic-partition-overwrite sequences can each clobber the other's
    partitions with a pre-merge snapshot (lost update). This guard makes
    the second writer fail loudly instead; multi-writer tables need a
    transaction log with optimistic concurrency (Delta/Iceberg), which is
    the documented production route."""


@contextmanager
def single_writer_lock(
    path: str, owner: str = "", lease_seconds: float | None = None
):
    """Advisory single-writer lock for a parquet table directory.

    ``O_CREAT|O_EXCL`` on a sibling ``<path>.__writer_lock__`` file is the
    atomic acquire (works on POSIX local/NFS-v3+ paths — the local-mode
    and single-driver cluster case; object stores lack atomic create and
    need the Delta route). The lock records ``pid host owner``; a lock
    whose pid is dead *on this host* is reclaimed via atomic ``rename``
    (only one contender's rename succeeds), so a crashed writer never
    wedges the table, while a LIVE holder raises
    :class:`ConcurrentWriterError`.

    The pid-liveness check is HOST-LOCAL; a writer that died on *another*
    host would wedge the table until manual cleanup. ``lease_seconds``
    closes that: a lock whose mtime is older than the lease is
    reclaimable by ANY contender through the same atomic rename, so
    exactly one steals it. While the holder runs, a daemon HEARTBEAT
    thread refreshes the mtime (``os.utime``) every ``lease/3`` seconds,
    so a live holder is never stolen from merely for outrunning the
    lease — only if its whole process stalls longer than the lease
    (GC pause, NFS hang) or contender-vs-holder clock skew exceeds the
    lease. Size the lease above worst-case skew + stall, not above the
    merge duration. ``None`` (the default) preserves pure live-holder
    semantics and routes foreign-host cleanup through
    :func:`break_stale_lock`.

    Residual race (documented, not closed): the steal (stat→rename) and
    the ownership-checked release (read→remove) are check-then-act
    sequences, so a steal landing in the microseconds between a
    holder's ownership read and its remove can still lose a lock — it
    requires a lease-length stall AND that sub-millisecond interleaving
    (the heartbeat's read-then-utime pair is the same class and can at
    worst refresh a thief's mtime once).
    Plain-file advisory locks cannot close this without fcntl/flock
    (unreliable on the network filesystems this targets); deployments
    needing hostile-timing guarantees should use a transactional table
    format, which is the documented multi-writer route anyway.
    """
    import socket

    lock = path.rstrip("/") + ".__writer_lock__"
    payload = f"{os.getpid()} {socket.gethostname()} {owner} {time.time()}"

    def _try_acquire() -> int | None:
        try:
            return os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return None

    def _steal() -> None:
        # atomic steal: exactly one contender wins the rename; the
        # loser falls through to the live-holder error on retry
        try:
            os.rename(lock, lock + f".stale.{os.getpid()}")
            os.remove(lock + f".stale.{os.getpid()}")
        except FileNotFoundError:
            pass

    fd = _try_acquire()
    if fd is None:
        try:
            with open(lock) as fh:
                held_pid, held_host = fh.read().split()[:2]
        except (OSError, ValueError):  # holder mid-write or just released
            held_pid, held_host = "", ""
        holder_dead = False
        if held_host == socket.gethostname() and held_pid.isdigit():
            try:
                os.kill(int(held_pid), 0)
            except ProcessLookupError:
                holder_dead = True
            except PermissionError:
                pass  # alive, different user
        if not holder_dead and lease_seconds is not None:
            try:
                age = time.time() - os.stat(lock).st_mtime
            except OSError:  # released between read and stat
                age = 0.0
            holder_dead = age > lease_seconds
        if holder_dead:
            _steal()
            fd = _try_acquire()
        if fd is None:
            raise ConcurrentWriterError(
                f"table {path!r} is locked by writer [pid host owner ts = "
                f"{held_pid} {held_host} ...]; concurrent MERGE writers "
                "would interleave stage-and-swap and lose updates. Wait for "
                "the holder, break a known-dead foreign-host lock with "
                "break_stale_lock(), or use a transactional table format "
                "for multi-writer."
            )
    hb_stop = None
    try:
        os.write(fd, payload.encode())
        os.close(fd)
        if lease_seconds is not None:
            import threading

            hb_stop = threading.Event()

            def _heartbeat() -> None:
                interval = max(lease_seconds / 3.0, 0.05)
                while not hb_stop.wait(interval):
                    try:
                        with open(lock) as fh:
                            if fh.read() != payload:
                                return  # stolen — never refresh a thief's
                        os.utime(lock, None)
                    except OSError:
                        return
            threading.Thread(
                target=_heartbeat, daemon=True, name="writer-lock-heartbeat"
            ).start()
        yield
    finally:
        if hb_stop is not None:
            hb_stop.set()
        # Release only OUR lock: if a lease steal (or break_stale_lock)
        # reclaimed it while we were still running, blindly removing
        # would free the THIEF's lock and open the table to a third
        # writer — compounding the overrun instead of containing it.
        try:
            with open(lock) as fh:
                still_ours = fh.read() == payload
        except OSError:
            still_ours = False
        if still_ours:
            try:
                os.remove(lock)
            except FileNotFoundError:
                pass


def break_stale_lock(path: str, min_age_seconds: float = 3600.0) -> bool:
    """Explicitly break a writer lock abandoned by a dead writer on
    another host (the one case :func:`single_writer_lock`'s host-local
    pid check cannot reclaim automatically).

    Refuses (returns False) when the lock is absent, younger than
    ``min_age_seconds`` (could be a live writer), or held by a LIVE pid
    on THIS host. The removal itself is the same atomic rename the lock's
    dead-pid steal uses, so two concurrent breakers cannot both "succeed"
    into a double-release. Returns True when the lock was removed.
    """
    import socket

    lock = path.rstrip("/") + ".__writer_lock__"
    try:
        age = time.time() - os.stat(lock).st_mtime
    except OSError:
        return False
    if age < min_age_seconds:
        return False
    try:
        with open(lock) as fh:
            held_pid, held_host = fh.read().split()[:2]
    except (OSError, ValueError):
        held_pid, held_host = "", ""
    if held_host == socket.gethostname() and held_pid.isdigit():
        try:
            os.kill(int(held_pid), 0)
            return False  # alive on this host — never break
        except ProcessLookupError:
            pass
        except PermissionError:
            return False  # alive, different user
    grave = lock + f".stale.{os.getpid()}"
    try:
        os.rename(lock, grave)
        os.remove(grave)
    except FileNotFoundError:
        return False  # another breaker won the rename
    return True


def _recover_swap_old(path: str) -> None:
    """Repair a crashed directory swap. MUST be called under the lock.

    :func:`merge_upsert_table`'s whole-table path swaps directories with
    two renames: ``path -> path.__swap_old__`` then ``staging -> path``.
    A crash between them leaves ``path`` MISSING and the live table
    stranded in ``.__swap_old__`` — the next merge would otherwise take
    the first-load branch and silently replace the table with just the
    incoming batch. A crash after the second rename (before the rmtree)
    leaves an obsolete ``.__swap_old__`` beside a healthy table, which
    would make the next swap's ``os.rename(path, old)`` raise.

    Recovery is unambiguous in both states: restore the old dir when the
    table is missing (it IS the table), remove it when the table exists
    (the swap completed; old is superseded).
    """
    import shutil

    old = path.rstrip("/") + ".__swap_old__"
    if not os.path.exists(old):
        return
    if os.path.exists(path):
        shutil.rmtree(old)  # swap completed; old state is superseded
    else:
        os.rename(old, path)  # swap half-done; old state IS the table


def vacuum_stale_staging(path: str, min_age_seconds: float = 3600.0) -> bool:
    """Remove a crashed merge's leftover staging or swap-old directory.

    :func:`_stage_and_swap` removes its ``<path>.__swap_staging__`` in a
    ``finally:``, but a hard crash (OOM kill, node loss) between the
    staging write and the cleanup leaves it on disk — dead weight that
    can double a table's footprint and, left unmonitored, fills the
    volume. Safe to run from a janitor job at any time:

    - the ``.__swap_old__`` repair (:func:`_recover_swap_old`) runs
      under the lock UNCONDITIONALLY — it is correctness-bearing and
      unambiguous at any age, and the canonical crash-between-renames
      state leaves a FRESH staging dir beside ``.__swap_old__`` with the
      table missing (r12 ADVICE: an age gate here declined to restore
      the table for up to an hour);
    - the staging ``rmtree`` alone is age-gated: it refuses while the
      NEWEST file under the staging dir is younger than
      ``min_age_seconds``, because with the advisory lock STOLEN from a
      dead pid a fresh staging could still belong to a cross-host writer
      the host-local liveness check cannot see (each written file
      refreshes recency);
    - the whole body holds the table's single-writer lock, so it can
      never race a merge that is between its staging write and its
      dynamic overwrite (that merge holds the lock the whole time); if a
      LIVE writer holds the lock this returns False — the running merge
      removes its own staging and there is no crash state to repair.

    Returns True when anything was reclaimed or repaired. The staging
    half is disk hygiene, not correctness — the next merge's staging
    write is ``mode("overwrite")`` either way. The ``.__swap_old__``
    half IS correctness-bearing: a stranded old dir with the table
    missing is renamed back (it is the table); with the table present
    it is removed (the swap completed).
    """
    import shutil

    staging = path.rstrip("/") + ".__swap_staging__"
    had_old = os.path.exists(path.rstrip("/") + ".__swap_old__")
    if not os.path.exists(staging) and not had_old:
        return False
    try:
        with single_writer_lock(path, owner="vacuum_stale_staging"):
            _recover_swap_old(path)
            if not os.path.exists(staging):
                return had_old  # swap-old handled; no staging to reclaim
            newest = os.path.getmtime(staging)
            for dp, _, fs in os.walk(staging):
                for f in fs:
                    try:
                        newest = max(
                            newest, os.path.getmtime(os.path.join(dp, f))
                        )
                    except OSError:
                        pass  # file vanished mid-walk — a live writer;
                        # recency is refreshed by its remaining siblings
            if time.time() - newest < min_age_seconds:
                return had_old  # staging too fresh to reclaim safely
            shutil.rmtree(staging, ignore_errors=True)
            return True
    except ConcurrentWriterError:
        return False  # live writer owns the table (and its own cleanup)


def merge_upsert(
    target: DataFrame | None,
    incoming: DataFrame,
    keys: list[str],
    evolve_schema: bool = False,
) -> DataFrame:
    """Upsert ``incoming`` into ``target`` by ``keys``; returns new state.

    ``target=None`` (first load) → incoming as-is. Incoming is assumed
    key-unique (the pipeline dedupes first, as the reference does before
    staging); a key the batch repeats replaces its target row and keeps
    every incoming copy.

    ``evolve_schema=False`` (default) keeps the reference's fixed-schema
    MERGE: incoming must carry every target column (a missing one raises
    loudly) and any EXTRA incoming column raises too — silently dropping
    it would lose data the caller thought it staged. ``evolve_schema=
    True`` gives lakehouse mergeSchema semantics instead: new incoming
    columns extend the table (pre-existing rows read NULL), and columns
    absent from the batch keep the TARGET's pre-merge value on matched
    rows (Delta ``whenMatchedUpdateAll`` + mergeSchema semantics: the
    update only touches columns the source carries) while genuinely new
    keys read NULL there. Same-name columns with different types always
    raise: a silent cast is how a decimal column becomes a string table.

    Scale note: preserving matched-row values requires joining the batch
    to the target's (keys + absent-columns) projection — one extra join
    ON the keys, same shuffle class as the anti-join below. The
    fixed-schema default pays nothing. (:func:`merge_upsert_partitioned`
    never reaches this path: it refuses batch/table schema mismatches
    loudly before merging, so the carry join is a whole-table-merge
    concern only.)
    """
    if target is None:
        return incoming
    t_types = {f.name: f.dataType for f in target.schema.fields}
    i_types = {f.name: f.dataType for f in incoming.schema.fields}
    # KEY columns are never evolvable: NULL-filling a missing key would
    # append NULL-keyed rows that no future merge can match (NULL never
    # equals NULL in a join) — permanent garbage, not an upsert.
    bad_keys = [k for k in keys if k not in i_types or k not in t_types]
    if bad_keys:
        raise ValueError(
            f"merge_upsert: key column(s) {bad_keys} missing from "
            f"{'incoming' if all(k in t_types for k in bad_keys) else 'target/incoming'}"
            " — keys must be present on both sides (schema evolution "
            "never applies to keys)."
        )
    conflicts = [
        n for n, t in i_types.items() if n in t_types and t_types[n] != t
    ]
    if conflicts:
        raise ValueError(
            f"merge_upsert: column type conflict on {conflicts} "
            f"(target {[str(t_types[c]) for c in conflicts]} vs incoming "
            f"{[str(i_types[c]) for c in conflicts]}); cast explicitly "
            "before merging."
        )
    extra = [n for n in incoming.columns if n not in t_types]
    missing = [n for n in target.columns if n not in i_types]
    if not evolve_schema:
        if extra or missing:
            raise ValueError(
                f"merge_upsert: schema mismatch (incoming adds {extra}, "
                f"lacks {missing}); pass evolve_schema=True for "
                "mergeSchema semantics, or conform the batch first."
            )
    else:
        for n in extra:
            target = target.withColumn(n, F.lit(None).cast(i_types[n]))
        if missing:
            # Delta updateAll semantics: a column the batch doesn't carry
            # keeps its target value on matched rows; new keys read NULL.
            # NULL-filling instead (the pre-r8 behavior) silently erased
            # matched rows' data in every batch-absent column.
            carry = target.select(*keys, *missing)
            incoming = incoming.join(carry, on=keys, how="left")
    incoming = incoming.select(*target.columns)
    # a left-anti join's output is the same whether probe keys repeat or
    # not, so the probe needs no distinct()
    kept = target.join(incoming.select(*keys), on=keys, how="left_anti")
    return kept.unionByName(incoming)


def merge_upsert_partitioned(
    spark,
    path: str,
    incoming: DataFrame,
    keys: list[str],
    partition_by: list[str],
) -> int:
    """Partition-scoped MERGE: upsert ``incoming`` into the parquet table at
    ``path``, rewriting ONLY the partitions the batch touches.

    The reference's T-SQL MERGE (etl_sales_analytics.py:223-283) touches
    matched rows server-side; the plain :func:`merge_upsert` rewrite is
    O(|target|) per batch — the one real 100 TB gap (SURVEY.md §7.4 risk 5).
    This closes it for the common case (date-partitioned facts, incremental
    daily batches): a batch touching 3 of 3 000 date partitions reads and
    rewrites 3.

    Steps: (1) collect the batch's distinct partition tuples (bounded: one
    row per TOUCHED partition, a daily load is a handful); (2) read the
    target pruned to those partitions (filters on partition columns prune at
    planning time — no data files of other partitions are opened); (3)
    anti-join + union exactly as :func:`merge_upsert`; (4) stage the merged
    partitions to a sibling directory (Spark cannot safely overwrite a path
    it is reading), then dynamic-partition-overwrite them back, leaving all
    other partitions' files untouched on disk.

    Contract: a key's partition values must be stable across batches (keys
    should functionally determine the partition columns — e.g. order date
    partitions keyed by order id). If an incoming row moved partitions, the
    stale copy in the old partition would survive; enforceable only by the
    caller's data model, so it is stated here.

    Returns the number of partitions rewritten.

    SINGLE-WRITER: the table is advisory-locked for the duration (see
    :func:`single_writer_lock`); a concurrent merge raises
    :class:`ConcurrentWriterError` instead of silently losing updates.
    """
    missing = [c for c in partition_by if c not in incoming.columns]
    if missing:
        raise ValueError(f"incoming lacks partition columns: {missing}")
    with single_writer_lock(path, owner="merge_upsert_partitioned"):
        n = _merge_upsert_partitioned_locked(
            spark, path, incoming, keys, partition_by
        )
    return n


def _partition_predicate(rows, partition_by: list[str]):
    """OR-of-ANDs null-safe equality predicate selecting exactly the
    partition tuples in ``rows`` — shared by the partitioned MERGE and
    compaction so the two prune identically."""
    from functools import reduce
    from operator import and_, or_

    return reduce(
        or_,
        [
            reduce(
                and_,
                [F.col(c).eqNullSafe(F.lit(r[c])) for c in partition_by],
            )
            for r in rows
        ],
    )


def _stage_and_swap(
    spark, df: DataFrame, path: str, partition_by: list[str], read_schema
) -> None:
    """Write ``df``'s partitions to a sibling staging dir (Spark cannot
    safely overwrite a path it is reading), then dynamic-partition-
    overwrite them into ``path`` — touched partitions replaced, all
    others' files untouched on disk. ``read_schema`` pins the staging
    re-read so partition values round-trip without re-typing. Callers
    hold the single-writer lock, so one staging dir per table suffices.
    """
    import shutil

    staging = path.rstrip("/") + ".__swap_staging__"
    df.write.mode("overwrite").partitionBy(*partition_by).parquet(staging)
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "static")
    spark.conf.set(key, "dynamic")
    try:
        (
            spark.read.schema(read_schema).parquet(staging)
            .write.mode("overwrite")
            .partitionBy(*partition_by)
            .parquet(path)
        )
    finally:
        spark.conf.set(key, prev)
        shutil.rmtree(staging, ignore_errors=True)


def _merge_upsert_partitioned_locked(
    spark,
    path: str,
    incoming: DataFrame,
    keys: list[str],
    partition_by: list[str],
) -> int:
    if not os.path.exists(path):  # first load
        incoming.write.partitionBy(*partition_by).parquet(path)
        return incoming.select(*partition_by).distinct().count()

    # Schema guard: the target is read PINNED to incoming.schema, so a
    # column the table has but the batch lacks would be silently DROPPED
    # from every rewritten partition (touched partitions lose the
    # column's data; untouched keep it — a corrupt, inconsistent table),
    # and a NEW incoming column would exist only in touched partitions.
    # Both are loud errors; evolution on a partitioned table needs an
    # explicit full rewrite (or a table format with schema evolution).
    actual = {f.name for f in spark.read.parquet(path).schema.fields}
    inc = set(incoming.columns)
    if actual != inc:
        raise ValueError(
            "merge_upsert_partitioned: schema mismatch — batch lacks "
            f"{sorted(actual - inc)} (their data would be dropped from "
            f"rewritten partitions) and adds {sorted(inc - actual)} "
            "(would exist only in touched partitions). Conform the batch "
            "or evolve the table with a full rewrite."
        )

    touched = incoming.select(*partition_by).distinct().collect()
    if not touched:
        return 0
    pred = _partition_predicate(touched, partition_by)
    # Pin the read schema to the incoming batch's: partition VALUES are
    # round-tripped through directory names, and schema inference would
    # re-type them (a string partition value '01' becomes int 1), so the
    # merged frame would be overwritten into a DIFFERENT directory (c=1)
    # while the stale original (c=01) survives — silent duplication.
    # With the schema pinned, directory names parse back to the declared
    # types and the dynamic overwrite lands on the same partitions.
    target = spark.read.schema(incoming.schema).parquet(path)
    merged = merge_upsert(target.filter(pred), incoming, keys)
    _stage_and_swap(spark, merged, path, partition_by, incoming.schema)
    return len(touched)


def compact_partitions(
    spark,
    path: str,
    partition_by: list[str],
    max_files_per_partition: int = 1,
) -> int:
    """Compact small files in a partitioned parquet table: every
    partition holding more than ``max_files_per_partition`` data files is
    rewritten as one file per partition; all other partitions' files are
    left untouched on disk. Returns the number of partitions compacted.

    Why it exists: a steady CDC stream through the partitioned MERGE sink
    writes one small file per touched partition per micro-batch; a
    hot partition accumulates hundreds of kilobyte-scale files, and at
    100 TB the scan cost becomes footer-parse- and open()-bound instead
    of byte-bound. Periodic compaction is the standard maintenance job
    every lakehouse runs (OPTIMIZE in table formats).

    Mechanics: crowded partitions are found by counting distinct
    ``_metadata.file_path`` per partition TUPLE — no directory-name
    parsing. Partition columns are read pinned to STRING: a directory
    name IS a string, so string values round-trip to the identical
    directory, whereas letting inference re-type them would rewrite a
    non-canonical value's rows into a DIFFERENT directory ('01' → int 1
    → dt=1) while the stale dt=01 files survive — a silently duplicated
    table (the same hazard the MERGE path pins incoming.schema against).
    The rewrite stages the crowded partitions (repartitioned BY the
    partition columns → exactly one file each) and swaps them in with
    dynamic partition overwrite under the single-writer lock. Row
    contents are unchanged; physical row order within a partition may
    differ (parquet rewrite), same as any OPTIMIZE.
    """
    if not partition_by:
        raise ValueError(
            "compact_partitions: partition_by must be non-empty (an "
            "unpartitioned table is compacted by rewriting it whole)"
        )
    from pyspark.sql import types as T

    with single_writer_lock(path, owner="compact_partitions"):
        inferred = spark.read.parquet(path).schema
        missing = [c for c in partition_by if c not in inferred.names]
        if missing:
            raise ValueError(
                f"compact_partitions: {missing} not partition columns of "
                f"{path!r} (table columns: {inferred.names})"
            )
        pinned = T.StructType(
            [
                T.StructField(f.name, T.StringType(), True)
                if f.name in partition_by
                else f
                for f in inferred.fields
            ]
        )
        table = spark.read.schema(pinned).parquet(path)
        crowded = (
            table.groupBy(*partition_by)
            .agg(
                F.countDistinct(F.col("_metadata.file_path")).alias("_nf")
            )
            .filter(F.col("_nf") > max_files_per_partition)
            .select(*partition_by)
            .collect()
        )
        if not crowded:
            return 0
        pred = _partition_predicate(crowded, partition_by)
        _stage_and_swap(
            spark,
            table.filter(pred).repartition(
                max(len(crowded), 1), *partition_by
            ),
            path,
            partition_by,
            pinned,
        )
    return len(crowded)


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    keys: list[str],
    tracked: list[str],
    effective_date: str,
) -> DataFrame:
    """Type-2 slowly-changing-dimension merge: apply an update batch to a
    versioned dimension, closing out changed current rows and appending the
    new version.

    ``dim`` carries SCD2 bookkeeping columns ``valid_from`` DATE,
    ``valid_to`` DATE (NULL = open) and ``is_current`` BOOLEAN alongside the
    business columns. ``updates`` carries ``keys`` + ``tracked`` columns
    only, one row per key, for keys with a CURRENT row in the dimension
    (route brand-new keys through :func:`merge_upsert` first; an update
    whose key has no current row — never seeded, or retired upstream —
    matches nothing and is a silent no-op by design, the same contract as
    SQL MERGE's unmatched-source rows without a WHEN NOT MATCHED clause).
    For each
    update whose ``tracked`` values differ (NULL-safely) from the key's
    CURRENT row, that row is closed (``valid_to = effective_date``,
    ``is_current = false``) and a new open row is appended
    (``valid_from = effective_date``); non-tracked business columns carry
    over from the closed row. Updates equal to the current version are
    no-ops, so re-applying the same batch is a fixpoint (idempotent).
    History rows pass through untouched.

    The reference's MERGE overwrites in place and keeps no history
    (etl_sales_analytics.py:223-283); SCD2 is the audit-preserving
    extension of that LOAD step for warehouse dimensions.

    Scale: one broadcast equi-join of the dimension against the (small)
    update batch on the natural key — the dimension is never shuffled and
    no window function is involved, so the plan is a single map-side pass
    over the dimension plus a union.
    """
    from functools import reduce
    from operator import or_

    if not tracked:
        raise ValueError("scd2_apply: `tracked` must name at least one column")
    dup = (
        updates.groupBy(*keys).count().filter(F.col("count") > 1).limit(1)
    ).collect()
    if dup:
        raise ValueError(
            "scd2_apply: updates must be key-unique (one row per key); "
            f"duplicate key example: { {k: dup[0][k] for k in keys} }"
        )
    eff = F.to_date(F.lit(effective_date))
    upd = F.broadcast(
        updates.select(
            *keys, *[F.col(c).alias(f"_u_{c}") for c in tracked]
        ).withColumn("_u_hit", F.lit(True))
    )

    hist = dim.filter(~F.col("is_current"))
    joined = dim.filter(F.col("is_current")).join(upd, on=keys, how="left")
    differs = reduce(
        or_, [~F.col(c).eqNullSafe(F.col(f"_u_{c}")) for c in tracked]
    )
    is_changed = F.coalesce(F.col("_u_hit"), F.lit(False)) & differs

    unchanged = joined.filter(~is_changed).select(*dim.columns)
    closed = (
        joined.filter(is_changed)
        .withColumn("valid_to", eff)
        .withColumn("is_current", F.lit(False))
        .select(*dim.columns)
    )
    new_rows = joined.filter(is_changed).select(
        *[
            F.col(f"_u_{c}").alias(c)
            if c in tracked
            else eff.alias(c)
            if c == "valid_from"
            else F.lit(None).cast("date").alias(c)
            if c == "valid_to"
            else F.lit(True).alias(c)
            if c == "is_current"
            else F.col(c)
            for c in dim.columns
        ]
    )
    return (
        hist.unionByName(unchanged).unionByName(closed).unionByName(new_rows)
    )




# ---------------------------------------------------------------------------
# Table-format seam: route a MERGE to the right writer
# ---------------------------------------------------------------------------


def delta_available() -> bool:
    """True when delta-spark is importable in this environment."""
    try:
        import delta  # noqa: F401
    except ImportError:
        return False
    return True


def merge_upsert_delta(spark, path: str, incoming: DataFrame, keys: list[str]) -> None:
    """MERGE ``incoming`` into the Delta table at ``path`` via
    ``DeltaTable.merge`` — the transaction-log backend the parquet
    writers document as the production route for MULTI-WRITER tables
    (the advisory-lock parquet MERGE is single-writer by contract).

    Semantics mirror :func:`merge_upsert` exactly: matched keys update
    ALL non-key columns, unmatched insert (the reference's T-SQL MERGE,
    etl_sales_analytics.py:223-283). Concurrency is delegated to Delta's
    optimistic log protocol — concurrent writers retry/fail per the log,
    no filesystem lock needed. Raises ImportError when delta-spark is
    absent (this container does not ship it; the seam exists so the
    backend lands the moment the dependency appears).
    """
    try:
        from delta.tables import DeltaTable
    except ImportError as ex:
        raise ImportError(
            "merge_upsert_delta needs delta-spark on the classpath; "
            "install delta-spark and configure the SparkSession with "
            "spark.sql.extensions=io.delta.sql.DeltaSparkSessionExtension"
        ) from ex
    if not DeltaTable.isDeltaTable(spark, path):
        incoming.write.format("delta").save(path)  # first load
        return
    target = DeltaTable.forPath(spark, path)
    cond = " AND ".join(f"t.`{k}` = s.`{k}`" for k in keys)
    (
        target.alias("t")
        .merge(incoming.alias("s"), cond)
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )


def merge_upsert_table(
    spark,
    path: str,
    incoming: DataFrame,
    keys: list[str],
    partition_by: list[str] | None = None,
    table_format: str = "parquet",
) -> None:
    """Writer-selection seam: one MERGE entry point, backend by format.

    - ``parquet`` (default, no extra dependency): the advisory-locked
      single-writer path — partition-scoped rewrite when
      ``partition_by`` is given, else whole-table anti-join + stage-and-
      swap. Correct, but concurrent writers are REJECTED loudly.
    - ``delta``: :func:`merge_upsert_delta` — file-level MERGE through
      the Delta transaction log, safe for concurrent writers and object
      stores. Requires delta-spark.

    Callers select the backend once (config/env), not per call site —
    swapping a deployment to Delta is this one argument.
    """
    if table_format == "delta":
        merge_upsert_delta(spark, path, incoming, keys)
        return
    if table_format != "parquet":
        raise ValueError(
            f"merge_upsert_table: unknown table_format {table_format!r} "
            "(expected 'parquet' or 'delta')"
        )
    if partition_by:
        merge_upsert_partitioned(spark, path, incoming, keys, partition_by)
        return
    with single_writer_lock(path, owner="merge_upsert_table"):
        # A crash between the two renames below leaves the table
        # stranded in .__swap_old__ with `path` missing; repair BEFORE
        # the first-load existence check or that state would be
        # mistaken for an empty table and replaced by the batch alone.
        _recover_swap_old(path)
        if not os.path.exists(path):
            incoming.write.parquet(path)
            return
        target = spark.read.schema(incoming.schema).parquet(path)
        merged = merge_upsert(target, incoming, keys)
        # Spark cannot overwrite a path it is reading: stage the merged
        # state beside the table, then swap directories. The swap window
        # is covered by the writer lock; a crash leaves the old table,
        # the staged dir, or a half-swapped .__swap_old__ — all three
        # reclaimed by vacuum_stale_staging / _recover_swap_old.
        import shutil

        staging = path.rstrip("/") + ".__swap_staging__"
        merged.write.mode("overwrite").parquet(staging)
        old = path.rstrip("/") + ".__swap_old__"
        os.rename(path, old)
        os.rename(staging, path)
        shutil.rmtree(old)
