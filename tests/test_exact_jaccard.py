"""exact_jaccard_join (operators/dedup.py): recall 1.0 vs brute force,
planted near-dup pairs, and threshold edges."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from salesanalytics_etl_spark.operators.dedup import (
    exact_jaccard_join,
    jaccard_verify,
    shingle_rows,
    shingle_sets,
)


def _brute_force(docs, threshold):
    """All-pairs exact Jaccard via the string-array verifier (independent
    of the hashed fast path under test)."""
    sets = shingle_sets(shingle_rows(docs))
    ids = docs.select("doc_id")
    pairs = (
        ids.select(F.col("doc_id").alias("doc_a"))
        .crossJoin(ids.select(F.col("doc_id").alias("doc_b")))
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    return {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in jaccard_verify(pairs, sets, threshold).collect()
    }


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def planted(spark):
    base = "the quick brown fox jumps over the lazy dog " * 8
    rows = [
        (1, base),
        (2, base + "and then naps"),          # near-dup of 1
        (3, base.replace("quick", "rapid")),  # near-dup of 1
        (4, "completely different content about spark physical plans " * 6),
        (5, "completely different content about spark physical plans " * 6),
        (6, "unrelated short text"),
    ] + [(100 + i, f"filler document number {i} with words {i * 7} " * 5)
         for i in range(30)]
    return _docs(spark, rows)


def test_matches_brute_force_all_pairs(planted):
    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in exact_jaccard_join(planted, threshold=0.5).collect()
    }
    assert got == _brute_force(planted, 0.5)
    pairs_only = {(a, b) for a, b, _ in got}
    assert (1, 2) in pairs_only and (1, 3) in pairs_only
    assert (4, 5) in pairs_only  # exact duplicates (J = 1.0)
    assert not any(6 in p for p in pairs_only)


def test_high_threshold_recall(planted):
    got = {
        (r.doc_a, r.doc_b)
        for r in exact_jaccard_join(planted, threshold=0.9).collect()
    }
    brute = {(a, b) for a, b, _ in _brute_force(planted, 0.9)}
    assert got == brute
    assert (4, 5) in got


def test_driver_corpus_matches_brute_force(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in exact_jaccard_join(docs, threshold=0.7).collect()
    }
    assert got == _brute_force(docs, 0.7)


def test_no_pairs_on_disjoint_corpus(spark):
    # each doc is one repeated distinct character: shingle sets are
    # pairwise disjoint by construction
    rows = [(i, chr(ord("a") + i) * 40) for i in range(20)]
    assert exact_jaccard_join(_docs(spark, rows), threshold=0.5).count() == 0


def test_word_unit_matches_brute_force(planted):
    from salesanalytics_etl_spark.operators.dedup import word_shingle_rows

    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in exact_jaccard_join(
            planted, threshold=0.5, unit="word"
        ).collect()
    }
    sets = shingle_sets(word_shingle_rows(planted))
    ids = planted.select("doc_id")
    pairs = (
        ids.select(F.col("doc_id").alias("doc_a"))
        .crossJoin(ids.select(F.col("doc_id").alias("doc_b")))
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    brute = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in jaccard_verify(pairs, sets, 0.5).collect()
    }
    assert got == brute
    pairs_only = {(a, b) for a, b, _ in got}
    assert (1, 2) in pairs_only and (4, 5) in pairs_only


def test_word_unit_short_docs_emit_nothing(spark):
    from salesanalytics_etl_spark.operators.dedup import word_shingle_rows

    df = _docs(spark, [(1, "only four words here"), (2, ""), (3, "a b c d e")])
    rows = word_shingle_rows(df).collect()
    assert {r.doc_id for r in rows} == {3}
    assert rows[0].sh == "a b c d e"


def test_bad_unit_raises(spark):
    with pytest.raises(ValueError, match="unit"):
        exact_jaccard_join(_docs(spark, [(1, "x")]), unit="sentence")


def test_exact_boundary_pair_survives_float_hostile_sizes(spark):
    """J = 28/35 = 0.8 exactly, with sizes where float threshold math goes
    wrong: ceil(0.8*35) = ceil(28.000000000000004) = 29 under binary
    floating point (one prefix element short) and the PPJoin bound
    ceil(0.8/1.8 * 63) = 29 vs the true 28 — either float product prunes
    this qualifying pair. The integer basis-point filters must keep it."""
    words = [f"w{i}" for i in range(32)]
    extra = [f"x{i}" for i in range(7)]
    a = " ".join(words)                 # 32 words -> 28 5-word shingles
    b = " ".join(words + extra)         # 39 words -> 35, superset of A's
    df = _docs(spark, [(1, a), (2, b)])
    got = exact_jaccard_join(df, threshold=0.8, unit="word").collect()
    assert [(r.doc_a, r.doc_b, r.jaccard) for r in got] == [(1, 2, 0.8)]


def test_pair_past_int_range_of_size_products_survives(spark):
    """Shingle-set sizes past 214,748 overflow a 32-bit ``sz * 10000``:
    the length filter would wrap negative and drop this pair. A has
    230 000 distinct 5-word shingles, B is its first 220 000, so
    J = 22/23. The sizes must be bigints so every threshold product
    stays exact."""
    words = [f"w{i}" for i in range(230_004)]
    a = " ".join(words)
    b = " ".join(words[:220_004])
    got = exact_jaccard_join(
        _docs(spark, [(1, a), (2, b)]), threshold=0.9, unit="word"
    ).collect()
    assert [(r.doc_a, r.doc_b, r.jaccard) for r in got] == [(1, 2, 0.9565)]


def test_candidate_budget_fails_loudly_on_degenerate_corpus(spark):
    """Exact joins can't drop candidates (recall contract), so a corpus
    whose candidates exceed the budget must raise, not grind quadratic."""
    # five near-identical docs -> every pair is a candidate (10 pairs)
    docs = _docs(
        spark,
        [(i, "shared shingle text common to all docs variant " + "pad " * 6)
         for i in range(5)],
    )
    with pytest.raises(RuntimeError, match="candidate_budget"):
        exact_jaccard_join(docs, threshold=0.1, candidate_budget=3)
    # same corpus under the default budget: succeeds, all pairs verified
    got = exact_jaccard_join(docs, threshold=0.1)
    assert got.count() == 10
