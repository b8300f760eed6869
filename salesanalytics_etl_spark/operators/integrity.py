"""Referential-integrity operators (SURVEY.md §2.3 F3/F4, §2.4 J7).

The reference validates FKs with Python set membership (``isin(valid_set)``,
etl_sales_analytics.py:192-207) — semantically a broadcast semi-join. The
Spark-native form is a ``left_semi`` (keep) / ``left_anti`` (reject) pair on
the key; Catalyst/AQE picks broadcast-hash when the parent side is small,
which is exactly the fact⋈dim shape here.

Cascade order matters and is preserved by dataflow: orders are FK-filtered
BEFORE details are validated against them (reference :198 then :201).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fk_split(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Split ``child`` into (keep, reject) by FK membership in ``parent``.

    keep = semi-join, reject = anti-join — one shared broadcast of the
    parent's distinct key column. Returns (keep, reject).
    """
    pk = parent_key or child_key
    keys = parent.select(F.col(pk).alias(child_key)).distinct()
    # restore the child's column order (a USING join floats its key first)
    keep = child.join(F.broadcast(keys), on=child_key, how="left_semi")
    reject = child.join(F.broadcast(keys), on=child_key, how="left_anti")
    return keep.select(*child.columns), reject.select(*child.columns)


def fk_split_composite(
    child: DataFrame,
    parents: list[tuple[DataFrame, str, str]],
) -> tuple[DataFrame, DataFrame]:
    """Conjunctive FK validation against several parents (F4).

    ``parents`` is a list of (parent_df, child_key, parent_key). A row is
    kept only if EVERY membership holds (reference's ANDed mask,
    etl_sales_analytics.py:200-203); rejects are everything else, written to
    ONE reject set like the reference's single rejects file (:204-205).

    Implemented as ONE scan of the fact with a broadcast membership flag
    per parent: keep = rows where every flag matched, reject = the rest.
    (An earlier version unioned per-parent anti-joins and .distinct()'d to
    merge a row failing two FKs — but distinct also collapses genuinely
    DUPLICATE child rows, so keep ∪ reject lost multiplicity vs the
    reference's write-every-masked-row rejects file. The flag approach
    rejects each physical row exactly once, duplicates included.) For
    100 TB facts every parent key set broadcasts, the fact is scanned
    once, and no shuffle happens at all.
    """
    from functools import reduce
    from operator import and_

    if not parents:
        return child, child.limit(0)
    cur = child
    flags = []
    for i, (parent, child_key, parent_key) in enumerate(parents):
        flag = f"_fk_ok_{i}"
        keys = (
            parent.select(F.col(parent_key).alias(child_key))
            .distinct()
            .withColumn(flag, F.lit(1))
        )
        cur = cur.join(F.broadcast(keys), on=child_key, how="left")
        flags.append(flag)
    all_ok = reduce(and_, [F.col(f).isNotNull() for f in flags])
    # restore the child's column order (the equi-join floats join keys first)
    keep = cur.filter(all_ok).select(*child.columns)
    reject = cur.filter(~all_ok).select(*child.columns)
    return keep, reject


def check_split(
    df: DataFrame, checks: dict[str, F.Column]
) -> tuple[DataFrame, DataFrame]:
    """CHECK-constraint validation (reference schema_sales_analytics.sql:
    52-53, 87-88 — `Price >= 0`, `Quantity >= 0` etc., enforced only
    DB-side there; here a first-class split like fk_split).

    ``checks`` maps constraint name → boolean Column that must hold.
    Returns (keep, reject): keep = rows satisfying EVERY check; reject =
    the rest. NULLs fail a check (SQL CHECK would pass them — but the
    pipeline's coerce-to-NULL step means NULL is 'was unparseable', which
    the reference drops; a nullable-pass check is just coalesce(c, True)).
    Pure predicate filters — no shuffle, pushed into the scan.
    """
    ok = None
    for c in checks.values():
        cond = c.isNotNull() & c
        ok = cond if ok is None else (ok & cond)
    if ok is None:
        return df, df.limit(0)
    return df.filter(ok), df.filter(~F.coalesce(ok, F.lit(False)))


def fk_audit(
    edges: list[tuple[str, DataFrame, str, DataFrame, str]],
) -> DataFrame:
    """Referential-integrity sweep: ONE summary row per FK edge.

    ``edges`` is a list of (edge_name, child, child_key, parent,
    parent_key). Per edge: total child rows, NULL-key rows (legal under
    SQL FK semantics — not orphans), orphan rows (non-NULL key with no
    parent), and the orphan share of non-NULL keys in integer basis
    points (exact ``div`` arithmetic — float shares drift at
    boundaries; same convention as the q124 skew audit).

    Scale: each edge is one LEFT join of the child against the parent's
    distinct key column (AQE picks broadcast-hash for dim-sized
    parents; a genuinely huge parent degrades to a shuffle join, never
    a collect) folded immediately into a 1-row aggregate — the union of
    |edges| single-row frames. Nothing row-grain ever reaches the
    driver, and no edge's work depends on another's (independent
    subtrees, schedulable in parallel).
    """
    if not edges:
        raise ValueError("fk_audit: no edges")
    names = [e[0] for e in edges]
    if len(set(names)) != len(names):
        raise ValueError(f"fk_audit: duplicate edge names in {names}")
    out = None
    for name, child, child_key, parent, parent_key in edges:
        keys = (
            parent.select(F.col(parent_key).alias("_pk"))
            .distinct()
            .withColumn("_hit", F.lit(1))
        )
        joined = child.select(F.col(child_key).alias("_ck")).join(
            keys, F.col("_ck") == F.col("_pk"), "left"
        )
        row = joined.agg(
            F.lit(name).alias("edge"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(F.col("_ck").isNull(), 1)).alias("n_null_keys"),
            F.count(
                F.when(F.col("_ck").isNotNull() & F.col("_hit").isNull(), 1)
            ).alias("n_orphans"),
        ).select(
            "edge",
            "n_rows",
            "n_null_keys",
            "n_orphans",
            F.expr(
                "CASE WHEN n_rows - n_null_keys > 0 THEN "
                "n_orphans * 10000 div (n_rows - n_null_keys) END"
            ).alias("orphan_bp"),
        )
        out = row if out is None else out.unionByName(row)
    return out
