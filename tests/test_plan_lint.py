"""Whole-surface plan linter: structural red flags that would sink a
100 TB run must never appear in any registered query's physical plan.

- CartesianProduct — O(n*m) row explosion. The only tolerated
  nested-loop joins are broadcast ones over bounded query/dim sets
  (q27's 10-row query set), never CartesianProductExec.
- BatchEvalPython — row-at-a-time Python UDF (the slow path).
  Arrow-batched variants (ArrowEvalPython / MapInPandas /
  FlatMapGroupsInPandas) are the sanctioned Python boundary and remain
  allowed.
"""

from __future__ import annotations

import pytest

from salesanalytics_etl_spark.plans.registry import all_queries

# queries whose CONSTRUCTION runs driver-side work (eager caches, KMeans
# fit, iterative loops) — still linted, but they cost seconds, so they
# run against the tiniest SF only (which conftest's sf_dir already is)
ALL = sorted(all_queries())


@pytest.mark.parametrize("name", ALL)
def test_no_cartesian_or_rowwise_python(spark, sf_dir, name):
    from pyspark.sql import types as T

    df = all_queries()[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    assert "BatchEvalPython" not in plan, (
        f"{name} uses a row-at-a-time Python UDF"
    )
    # Gate-surface contract: only scalar output columns. The driver's
    # result canonicalizer sorts cell values and crashes on list cells
    # (round 4: q66's array<long> postings ERR'd the row) — arrays must
    # be joined to strings before they reach the query surface.
    complex_cols = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    assert not complex_cols, (
        f"{name} emits complex-typed columns {complex_cols}; join them to "
        "scalar strings (array_join / to_json) for the gate surface"
    )


def _formatted_plan(df) -> str:
    jvm = df._sc._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def _iter_plan_nodes(node):
    yield node
    # AQE wraps the real tree in a leaf-like AdaptiveSparkPlanExec;
    # descend into its input plan or the traversal sees nothing
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _iter_plan_nodes(node.inputPlan())
        return
    # a persist() boundary makes the cached subtree a LEAF
    # (InMemoryTableScan) — descend into the cached plan or anything an
    # operator persists (LSH signature frames, IVF anchors, linkage
    # variants) is invisible to every lint below (r9: closes the blind
    # spot the window/aggregate lints shared)
    if cls == "InMemoryTableScanExec":
        try:
            yield from _iter_plan_nodes(node.relation().cachedPlan())
        except Exception:
            pass  # cached-plan accessor drift across Spark versions
        return
    # KNOWN boundary the traversal cannot cross: a localCheckpoint()
    # (round 10: the rank machinery's eager materialization) surfaces as
    # a plain ExistingRDD scan with NO recoverable plan — the
    # pre-checkpoint subtree (range exchange + per-partition window) is
    # invisible here. That shape is pinned instead by
    # tests/test_ranking.py's materialize=False plan tests, which lint
    # the SAME subtree the operators checkpoint.
    it = node.children().iterator()
    while it.hasNext():
        yield from _iter_plan_nodes(it.next())


def _global_window_count(df) -> int:
    """Number of WindowExec-family nodes with an EMPTY partition spec —
    each one funnels its whole input through a single sort partition."""
    return sum(
        1
        for n in _iter_plan_nodes(df._jdf.queryExecution().executedPlan())
        if "Window" in n.getClass().getSimpleName()
        and n.partitionSpec().isEmpty()
    )


# Unpartitioned windows tolerated ONLY over provably bounded-grain input
# (grain that does NOT scale with the data). Every entry documents the
# bound; any query not listed here must plan ZERO global windows — this
# is how the r7 q93 finding (three global ntiles over the data-scaled
# customer grain) becomes structurally impossible to reintroduce.
_GLOBAL_WINDOW_ALLOWLIST = {
    # running total over the DAY grain (bounded by the calendar)
    "q18_running_daily_sales": 1,
    # month-over-month lag over the MONTH grain
    "q58_mom_sales_growth": 1,
    # 7-day rolling window over the DAY grain
    "q79_rolling_7day_sales": 1,
    # merge_rank over the top-20 SURVIVOR set (limit applied first)
    "q81_bigram_merge_candidates": 1,
    # ONE fused distributed-ntile pass (append_global_ntile_multi): its
    # single global window runs over the <= shuffle-partitions-row
    # OFFSETS frame (operators/ranking.py)
    "q93_customer_rfm": 1,
    # distributed exact percentiles: one append_global_rank pass, same
    # bounded OFFSETS-frame window
    "q128_distributed_percentiles": 1,
    # q37 rides the same exact_percentiles_distributed path as q128
    # since r9 (the r8 verdict's item 1) — one bounded offsets-frame
    # window
    "q37_order_value_percentiles": 1,
    # equi-depth histogram: one append_global_ntile pass, same bounded
    # <= shuffle-partitions-row OFFSETS-frame window
    "q137_order_value_histogram": 1,
    # winsorized stats: one append_global_rank pass for the nearest-rank
    # bounds, same bounded OFFSETS-frame window
    "q139_winsorized_order_stats": 1,
    # median + MAD = two append_global_rank passes. The med subtree is
    # CONSUMED twice (deviation input + final census join), so its
    # bounded offsets-frame window appears twice more as TREE nodes —
    # all four instances run over <= shuffle-partitions-row frames, and
    # execution dedups the repeated subtree via exchange reuse
    "q130_robust_order_outliers": 4,
    # z-score stats over the DAY grain
    "q97_daily_sales_anomalies": 1,
    # Pareto/ABC: one append_global_prefix_sum pass — its single global
    # window runs over the <= shuffle-partitions-row per-partition
    # TOTALS frame (operators/ranking.py), same bounded class as the
    # rank/ntile offsets windows above
    "q142_pareto_parts": 1,
    # weighted percentiles: one append_global_prefix_sum pass, same
    # bounded TOTALS-frame window
    "q146_weighted_price_percentiles": 1,
    # Gini: one append_global_rank pass, same bounded OFFSETS-frame
    # window
    "q147_customer_gini": 1,
    # CUSUM: running sum + running min over the calendar-bounded DAY
    # grain (the q18/q79 class)
    "q148_sales_cusum": 2,
    # decile lift: one append_global_ntile pass (bounded OFFSETS-frame
    # window), but the scored subtree is CONSUMED twice (per-decile
    # aggregate + totals frame), so the window appears twice as tree
    # nodes — both instances run over the <= shuffle-partitions counts
    # frame of the SAME checkpointed ranged data (the q130 pattern)
    "q152_decile_lift": 2,
    # threshold sweep over <= 10 001 integer basis-point buckets
    "q117_quality_threshold_calibration": 2,
    # Theil-Sen: one append_global_rank pass over the calendar-bounded
    # day-pair frame — bounded OFFSETS-frame window
    "q156_theil_sen_trend": 1,
    # Zipf: rank assignment AFTER the top-1000 cut — the window runs
    # over exactly 1000 rows at any corpus size
    "q158_zipf_slope": 1,
    # hazard: reverse-cumulative at-risk over the <= 6-row gap-bucket
    # frame (buckets are div-30-capped-at-5 by construction)
    "q165_purchase_hazard": 1,
    # dedup yield curve: cumulative sum over the FIXED 20-row batch
    # frame (batches are md5 % 20 by construction)
    "q180_dedup_yield_curve": 1,
}


# --- aggregate-buffer lint (r8 verdict item 2) -----------------------------
# Value-COLLECTING aggregates (exact percentile/median, collect_list,
# collect_set, mode) hold every input value of a group in ONE aggregation
# buffer: over a data-scaled group (or ungrouped) that buffer is a
# single-task OOM at 10^9 rows — the same scale-killer class as an
# unpartitioned sort, hidden where the window lint can't see it (this is
# exactly how q37/q68 stayed "correct but wrong shape" until r9).
# Sketch-bounded aggregates (percentile_approx / approx_percentile — GK,
# buffer bounded by the accuracy parameter) are NOT flagged.
#
# Allowlist: per query, the number of Aggregate NODES allowed to carry a
# collecting function, each justified by a bound on the GROUP size that
# does not scale with the data (per-document, per-bucket-cap, top-k...).
import re as _re

_COLLECTING = _re.compile(
    r"(?<!_)(?<!approx_)percentile\(|collect_list\(|collect_set\(|(?<![a-z_])mode\("
)

_AGG_BUFFER_ALLOWLIST = {
    # two per-DOC shingle collect_sets (one per join side): group = one
    # document, buffer bounded by document length, never by corpus size
    "q57_ngram_jaccard_pairs": 2,
    # postings list capped at max_postings=20 by the rank-gated WHEN
    # inside the collect (operators/text.py:432) — k-bounded buffer
    "q66_inverted_index": 1,
    # (calibrated against every registered plan: these are the ONLY
    # queries whose physical plans carry a collecting aggregate — the
    # dedup families pair buckets by a window-sized self-join
    # (operators/dedup.py:_bucket_pairs), never a member collect, and
    # their per-doc sets (shingles, hashes, winnow fingerprints) are
    # collected once into a localCheckpointed per-doc frame before the
    # registered plan, q204's verify included; q37/q68 ride the
    # distributed rank path and plan none)
}


@pytest.mark.parametrize("name", ALL)
def test_no_unbounded_collecting_aggregate(spark, sf_dir, name):
    df = all_queries()[name](spark, sf_dir)
    hits = []
    for n in _iter_plan_nodes(df._jdf.queryExecution().executedPlan()):
        cls = n.getClass().getSimpleName()
        if "Aggregate" not in cls:
            continue
        s = n.simpleString(100)
        # count LOGICAL aggregates: the partial (map-side) node of a
        # partial/final pair carries the same functions — skip it so the
        # allowlist counts aggregates, not physical node pairs
        if "partial_" in s:
            continue
        if _COLLECTING.search(s):
            hits.append(s[:160])
    allowed = _AGG_BUFFER_ALLOWLIST.get(name, 0)
    assert len(hits) <= allowed, (
        f"{name} plans {len(hits)} value-collecting aggregate nodes "
        f"(allowlisted: {allowed}) — exact percentile/collect_list/"
        f"collect_set/mode buffers every group value in one task; use "
        f"operators/quantiles.py (distributed exact percentiles) or a "
        f"bounded/capped collect, and allowlist with the documented "
        f"group-size bound:\n" + "\n".join(hits)
    )


@pytest.mark.parametrize("name", ALL)
def test_no_data_scaled_global_window(spark, sf_dir, name):
    df = all_queries()[name](spark, sf_dir)
    n = _global_window_count(df)
    allowed = _GLOBAL_WINDOW_ALLOWLIST.get(name, 0)
    assert n <= allowed, (
        f"{name} plans {n} unpartitioned Window nodes (allowlisted: "
        f"{allowed}) — a single-partition sort funnel; use "
        f"operators/ranking.py for global rank/ntile, or allowlist with "
        f"a documented bounded-grain justification"
    )


# PLANS.md regression pins: the scale-critical plan properties of the
# headline queries must survive refactors. Each entry: query -> substrings
# its formatted physical plan must contain.
_PLAN_PINS = {
    # date-range predicate reaches the parquet scan (row-group skipping /
    # partition pruning at scale)
    "q14_sales_daterange": ["GreaterThanOrEqual(o_orderdate", "LessThan(o_orderdate"],
    # ship-date predicate pushed on the single-scan aggregation
    "q48_pricing_summary": ["LessThanOrEqual(l_shipdate"],
    # fact-dim joins broadcast; the fact table is never shuffled for them;
    # q05's top-k must also be a bounded heap, not a global sort
    "q03_sales_by_day": ["BroadcastHashJoin"],
    "q05_top_products": ["BroadcastHashJoin", "TakeOrderedAndProject"],
    "q78_regional_supplier_revenue": ["BroadcastHashJoin"],
    "q92_part_cooccurrence": ["TakeOrderedAndProject"],
    # grouping sets expand AFTER the join, inside the aggregation
    "q35_sales_rollup": ["Expand"],
    # heavy hitters: the MG sketch pass runs eagerly (bounded Arrow
    # collect, merged driver-side — not part of the returned plan); the
    # exact recount joins the <=k candidate set by BROADCAST — a shuffled
    # recount join would drag the full shingle domain through an
    # exchange, the exact thing the operator exists to avoid
    "q101_heavy_hitter_shingles": ["BroadcastHashJoin"],
    # round-6 portable replays: the scale-critical shapes must survive
    # refactors. q110/q111: register/bucket counts fold map-side (partial
    # aggregation) so the exchange carries sketch rows, not data rows.
    # q112/q113: the anchor quantizer is a bounded BROADCAST (assignment
    # must never shuffle the corpus). q114: the bit-position table
    # broadcasts (the probe stream must never shuffle against members).
    "q110_hll_distinct_replay": ["partial_max"],
    "q111_hdr_percentile_replay": ["partial_count"],
    # q112: the query-side probe still joins the bounded anchor frame
    # by broadcast; corpus-side assignment is literal-anchor argmax in a
    # projection (see test_q113_assignment_is_map_side)
    "q112_ivf_replay": ["BroadcastNestedLoopJoin"],
    "q113_cell_stats_replay": ["partial_count"],
    "q114_bloom_membership_audit": ["BroadcastHashJoin"],
    # round-10 shapes: in the prefix-sum/rank queries the offsets/totals
    # join must broadcast (the range-partitioned sort itself now lives
    # behind the operators' eager checkpoint — its shape is pinned by
    # tests/test_ranking.py's materialize=False plan tests, not here);
    # the EWMA weight table and the truncation limit table are bounded
    # literals and must broadcast into their expansions (a shuffled
    # cross join would exchange the day/doc grain against a 30/4-row
    # frame)
    "q142_pareto_parts": ["BroadcastHashJoin"],
    "q146_weighted_price_percentiles": ["BroadcastHashJoin"],
    "q147_customer_gini": ["BroadcastHashJoin"],
    "q141_sales_ewma": ["BroadcastNestedLoopJoin"],
    "q150_truncation_audit": ["BroadcastNestedLoopJoin"],
}


@pytest.mark.parametrize("name", sorted(_PLAN_PINS))
def test_plan_pins(spark, sf_dir, name):
    df = all_queries()[name](spark, sf_dir)
    plan = _formatted_plan(df)
    for needle in _PLAN_PINS[name]:
        assert needle in plan, f"{name}: expected {needle!r} in physical plan"


def test_q113_assignment_is_map_side(spark, sf_dir):
    """Quantizer assignment must be literal-anchor argmax inside ONE
    projection over ONE scan — the earlier join+window form shuffled
    n_cells × corpus rows through a row_number exchange. The registered
    query consumes the assignment through a localCheckpoint (the scan
    is hidden behind an RDD scan there), so the shape is pinned on the
    UNDERLYING operator, and the query plan is pinned to its one
    remaining exchange (the ≤ n_cells-group stats aggregate)."""
    from salesanalytics_etl_spark.operators.ivf import (
        portable_cell_assignment,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    tree = _formatted_plan(portable_cell_assignment(emb)).split("\n\n")[0]
    assert "Exchange" not in tree, "assignment must not shuffle"
    assert tree.count("Scan parquet") == 1, "one corpus scan"
    df = all_queries()["q113_cell_stats_replay"](spark, sf_dir)
    qtree = _formatted_plan(df).split("\n\n")[0]
    assert qtree.count("Exchange") == 1, "only the cell-stats agg may shuffle"


@pytest.mark.parametrize(
    "name",
    ["q34_ann_cosine_ivf", "q89_embedding_cluster_stats", "q112_ivf_replay"],
)
def test_ivf_plans_run_no_python_udf(spark, sf_dir, name):
    """Both IVF quantizers run through the one SQL assignment kernel:
    no query of the family may cross into Python per row."""
    plan = _formatted_plan(all_queries()[name](spark, sf_dir))
    for node in ("ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, f"{name} plans a Python UDF ({node})"


def test_q115_is_map_only(spark, sf_dir):
    """q115's whole point at scale: per-doc signals computed with array
    expressions in ONE projection over ONE scan — a refactor that
    reintroduces a per-char explode+groupBy (or the self-join an early
    draft had) would shuffle |corpus-chars| rows."""
    df = all_queries()["q115_compressibility_replay"](spark, sf_dir)
    plan = _formatted_plan(df)
    assert "Exchange" not in plan, "q115 must stay shuffle-free"
    tree = plan.split("\n\n")[0]  # tree section; node details repeat names
    assert tree.count("Scan parquet") == 1, "q115 must scan documents once"


# Two-level aggregation family (per-order rollup → global stats): the
# correct shape is partial+final HashAggregate pairs around exactly TWO
# exchanges (hash on the group key, then SinglePartition for the global
# row) and a scan pruned to the columns used. A refactor that sneaks in a
# third exchange or widens the scan re-reads the fact table — the round-4
# bench flagged q08 at 8x, which isolated timing proved to be JVM noise;
# these pins make a *structural* regression impossible to miss.
_TWO_LEVEL_AGG = {
    "q08_avg_order_value": "struct<l_orderkey:bigint,l_extendedprice:double>",
    "q12_order_totals": None,  # view-backed; exchange-count pin only
}


@pytest.mark.parametrize("name", sorted(_TWO_LEVEL_AGG))
def test_two_level_agg_exchange_budget(spark, sf_dir, name):
    df = all_queries()[name](spark, sf_dir)
    plan = _formatted_plan(df)
    n_exchanges = plan.count("(Exchange")  # formatted-plan node headers
    if n_exchanges == 0:  # header style fallback
        n_exchanges = sum(
            1 for ln in plan.splitlines() if ln.strip().startswith("(")
            and "Exchange" in ln
        )
    assert n_exchanges <= 2, f"{name}: {n_exchanges} exchanges (budget 2)"
    assert "partial_sum" in plan, f"{name}: no map-side partial aggregation"
    read_schema = _TWO_LEVEL_AGG[name]
    if read_schema:
        assert read_schema in plan, f"{name}: scan not pruned to {read_schema}"


# --- integer-rank-pick invariant (the r11 q156/q171 bug class) --------
#
# An equality filter against a derived rank/offset spelled with `/`
# (fractional Divide) compares an integer rank to a DOUBLE — green when
# the count makes the quotient land on an integer (sf0.01's odd pair
# count), 0 rows when it doesn't (sf0.1's even count). The invariant:
# NO registered query may plan an EqualTo/EqualNullSafe whose expression
# subtree contains a double/float-typed Divide — rank picks must be
# integer arithmetic end-to-end (`(n + 1) div 2`, IntegralDivide).
# Decimal divides are excluded (exact arithmetic, different pattern);
# inequality comparisons are excluded (thresholds on ratios are fine).


def _iter_logical_nodes(node):
    yield node
    cls = node.getClass().getSimpleName()
    if cls == "InMemoryRelation":
        try:
            yield from _iter_logical_nodes(node.cachedPlan().logicalLink().get())
        except Exception:
            pass
        return
    it = node.children().iterator()
    while it.hasNext():
        yield from _iter_logical_nodes(it.next())


def _iter_expr_tree(e):
    yield e
    it = e.children().iterator()
    while it.hasNext():
        yield from _iter_expr_tree(it.next())


def _double_divide_equalities(df) -> list[str]:
    """EqualTo/EqualNullSafe expressions whose subtree contains a
    fractional double/float Divide, across the optimized logical plan."""
    hits = []
    for node in _iter_logical_nodes(df._jdf.queryExecution().optimizedPlan()):
        eit = node.expressions().iterator()
        while eit.hasNext():
            for e in _iter_expr_tree(eit.next()):
                if e.getClass().getSimpleName() not in (
                    "EqualTo",
                    "EqualNullSafe",
                ):
                    continue
                for sub in _iter_expr_tree(e):
                    if sub.getClass().getSimpleName() == "Divide" and (
                        sub.dataType().simpleString() in ("double", "float")
                    ):
                        hits.append(e.toString()[:200])
                        break
    return hits


def test_rank_pick_lint_flags_planted_regression(spark):
    """The lint must go RED on the exact q156 bug shape (`/` against a
    row_number-derived rank) and GREEN on the integer-`div` fix."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(6)], "k INT, v DOUBLE"
    )
    r = df.withColumn(
        "r", F.row_number().over(Window.orderBy("v"))
    ).withColumn("n", F.count("*").over(Window.partitionBy()))
    bad = r.filter(F.col("r") == (F.col("n") + 1) / 2)
    good = r.filter(F.col("r") == F.expr("(n + 1) div 2"))
    assert _double_divide_equalities(bad), "planted `/` regression missed"
    assert not _double_divide_equalities(good), "`div` form false-positived"


@pytest.mark.parametrize("name", ALL)
def test_no_double_divide_equality(spark, sf_dir, name):
    df = all_queries()[name](spark, sf_dir)
    hits = _double_divide_equalities(df)
    assert not hits, (
        f"{name} plans an equality against a double division — the "
        f"q156/q171 class (integer-true at some SFs, empty at others); "
        f"use integer `div` end-to-end for rank/offset picks:\n"
        + "\n".join(hits)
    )


def test_q172_signatures_scan_once(spark, sf_dir):
    """The sketch monitor's whole point at 100 TB: ONE corpus scan into
    the signature aggregation, and a pairwise compare that never touches
    the corpus again. The signature plan must scan documents once with
    exactly two exchanges (the pre-explosion spread + the signature
    groupBy); the pairwise plan consumes the checkpointed |sources|-row
    frame — ZERO parquet scans — through a broadcast join (an earlier
    shape re-ran the whole signature subtree per join alias: 2 scans +
    2 aggregations for a 20-row frame)."""
    from salesanalytics_etl_spark.operators.dedup import (
        source_minhash_jaccard,
        source_minhash_signatures,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sig_tree = _formatted_plan(source_minhash_signatures(docs)).split(
        "\n\n"
    )[0]
    assert sig_tree.count("Scan parquet") == 1, "one corpus scan"
    assert sig_tree.count("Exchange") == 2, "spread + signature agg only"
    pair_tree = _formatted_plan(source_minhash_jaccard(docs)).split("\n\n")[0]
    assert pair_tree.count("Scan parquet") == 0, (
        "pairwise must ride the checkpointed signature frame, not "
        "re-scan the corpus"
    )
    assert "BroadcastNestedLoopJoin" in pair_tree


def test_q28_lsh_shuffles_twice(spark, sf_dir):
    """q28's LSH top-k shuffles twice: the candidate-pair distinct and
    the per-query top-k window. A repartition of the corpus before the
    bucketer adds a third exchange, which the distinct reshuffles right
    after."""
    df = all_queries()["q28_ann_cosine_lsh"](spark, sf_dir)
    tree = _formatted_plan(df).split("\n\n")[0]
    exchanges = [
        ln for ln in tree.splitlines()
        if "Exchange" in ln and "BroadcastExchange" not in ln
    ]
    assert len(exchanges) == 2, "\n".join(exchanges)


def test_session_sets_no_adaptive_config(spark):
    """AQE, coalescing and skew-join settings stay at Spark's defaults:
    ``get_spark`` pins no ``spark.sql.adaptive.*`` key."""
    pinned = [
        k for k, _ in spark.sparkContext.getConf().getAll()
        if k.startswith("spark.sql.adaptive.")
    ]
    assert not pinned, pinned


# Every spread_partitions call site in the package, keyed by (module,
# enclosing function), with the reason it spreads. The text units spread
# once each, in their row generator; the other sites multiply rows that
# are not text units.
_SPREAD_SITES = {
    ("operators/dedup.py", "shingle_rows"): "char k-gram generator",
    ("operators/dedup.py", "word_shingle_rows"): "word n-gram generator",
    ("operators/text.py", "_token_rows"): "token generator",
    ("operators/text.py", "lang_id"): "marker regex pass, no explode",
    ("operators/similarity.py", "cosine_topk_bruteforce"):
        "embedding cross-join re-rank",
    ("operators/similarity.py", "int8_topk_recall"):
        "quantized embedding cross-join re-rank",
    ("operators/linkage.py", "deletion_variants"): "name deletion variants",
    ("operators/curation.py", "label_centroids"):
        "embedding posexplode, keyed only by a low-cardinality label",
    ("operators/editnoise.py", "editnoise_pairs"):
        "per-token perturbation before any gram exists",
    ("operators/dedup.py", "simhash_signatures"): "distinct-token explode",
    ("operators/text.py", "bigram_surprisal"): "token transitions",
    ("plans/extensions.py", "q83_sentence_dedup_stats"): "sentence split",
}


def _spread_call_sites() -> list[tuple[str, str]]:
    import ast
    from pathlib import Path

    import salesanalytics_etl_spark

    def calls(node, fn_name):
        # each call is credited to its innermost enclosing function
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from calls(child, child.name)
                continue
            if isinstance(child, ast.Call) and "spread_partitions" in (
                getattr(child.func, "id", None),
                getattr(child.func, "attr", None),
            ):
                yield fn_name
            yield from calls(child, fn_name)

    root = Path(salesanalytics_etl_spark.__file__).parent
    return [
        (path.relative_to(root).as_posix(), fn_name)
        for path in sorted(root.rglob("*.py"))
        for fn_name in calls(ast.parse(path.read_text()), None)
    ]


def test_spread_partitions_sites_are_pinned():
    """Corpus-width spreads are decided at these twelve sites only: a new
    char-gram, word-n-gram or token fan-out goes through its generator
    instead of spreading again, and a removed site is a plan change that
    needs its own measurement."""
    sites = _spread_call_sites()
    assert len(sites) == len(set(sites)), sites
    added = sorted(set(sites) - set(_SPREAD_SITES))
    removed = sorted(set(_SPREAD_SITES) - set(sites))
    assert not added and not removed, f"added {added}, removed {removed}"
    assert len(sites) == 12
