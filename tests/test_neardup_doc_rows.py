"""The near-dup pipelines (q25 MinHash, q109 its portable twin, q202
winnow) shingle each document once: one per-doc row carries the sketch
(signature lanes or fingerprint set) AND the exact-verify set. These
tests pin that row against the standalone sketch builders and a
pure-Python model, and bound the Spark jobs each query runs."""

from __future__ import annotations

import hashlib
import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SF_DIR_MED = "/root/testdata/sf0.01"

# texts a doc can degenerate to: empty, whitespace only, shorter than
# the 5-gram, shorter than the 8-gram, exactly 8 characters
_EDGE_TEXTS = ["", "   ", " \t\n ", "abc", "Ab  cD", "abcdefg", "abcd efg"]

_texts = st.lists(
    st.text(alphabet="abAB \t\n", max_size=40), min_size=1, max_size=8
)


def _norm(text: str) -> str:
    """normalize_text for an ASCII alphabet: lowercase, whitespace runs
    to one space, trim spaces."""
    return re.sub(r"[ \t\n\x0b\f\r]+", " ", text.lower()).strip(" ")


def _h(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _ref_shingles(text: str) -> set[str]:
    t = _norm(text)
    return {t[i : i + 5] for i in range(max(len(t) - 4, 1))}


def _ref_fingerprints(text: str) -> set[int]:
    """Winnowing over 8-grams, window 4, md5-prefix hashes."""
    t = _norm(text)
    kh = [_h(t[i : i + 8]) for i in range(max(len(t) - 7, 1))]
    return {min(kh[max(0, j - 3) : j + 1]) for j in range(len(kh))}


def _lanes(row) -> tuple:
    return tuple(row[f"mh{i}"] for i in range(32))


@given(_texts)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_doc_rows_equal_standalone_sketches(spark, texts):
    from salesanalytics_etl_spark.operators.dedup import (
        _minhash_doc_rows,
        _portable_doc_rows,
        _portable_perm_constants,
        _portable_signatures,
        minhash_signatures,
        shingle_rows,
        shingle_sets,
        winnow_doc_sets,
        winnow_fingerprints,
    )

    all_texts = _EDGE_TEXTS + texts
    docs = spark.createDataFrame(
        list(enumerate(all_texts)), "doc_id long, text string"
    )
    want_sh = {d: _ref_shingles(t) for d, t in enumerate(all_texts)}
    want_fp = {d: _ref_fingerprints(t) for d, t in enumerate(all_texts)}

    sets = {r.doc_id: r for r in winnow_doc_sets(docs).collect()}
    assert {d: set(r.fset) for d, r in sets.items()} == want_fp
    assert {d: set(r.shingles) for d, r in sets.items()} == want_sh
    fps: dict[int, set[int]] = {}
    for r in winnow_fingerprints(docs).collect():
        fps.setdefault(r.doc_id, set()).add(r.fp)
    assert fps == want_fp
    assert {
        r.doc_id: set(r.shingles)
        for r in shingle_sets(shingle_rows(docs)).collect()
    } == want_sh

    prod = {r.doc_id: r for r in _minhash_doc_rows(docs).collect()}
    assert {d: set(r.shingles) for d, r in prod.items()} == want_sh
    assert {d: _lanes(r) for d, r in prod.items()} == {
        r.doc_id: _lanes(r)
        for r in minhash_signatures(shingle_rows(docs)).collect()
    }

    perms = _portable_perm_constants()
    port = {r.doc_id: r for r in _portable_doc_rows(docs).collect()}
    assert {d: set(r.hset) for d, r in port.items()} == {
        d: {_h(s) for s in sh} for d, sh in want_sh.items()
    }
    assert {d: _lanes(r) for d, r in port.items()} == {
        d: tuple(min(_h(s) ^ p for s in sh) for p in perms)
        for d, sh in want_sh.items()
    }
    assert {d: _lanes(r) for d, r in port.items()} == {
        r.doc_id: _lanes(r)
        for r in _portable_signatures(shingle_rows(docs), "doc_id").collect()
    }


# Spark jobs of build + toPandas on the sf0.01 fixture, tables already
# open. Each pipeline reads one checkpointed per-doc row; reading and
# shingling the corpus a second time for the verify sets took 17, 16 and
# 20 jobs.
_JOB_BUDGET = {
    "q25_minhash_neardup": 11,
    "q109_minhash_lsh_replay": 8,
    "q202_winnow_neardup": 8,
}


@pytest.mark.parametrize("name", sorted(_JOB_BUDGET))
def test_neardup_query_job_budget(spark, name):
    from salesanalytics_etl_spark.plans.registry import all_queries
    from salesanalytics_etl_spark.sources.readers import load_driver_tables

    load_driver_tables(spark, SF_DIR_MED, ["documents"])
    sc = spark.sparkContext
    group = f"neardup-jobs-{name}"
    sc.setJobGroup(group, name)
    try:
        rows = all_queries()[name](spark, SF_DIR_MED).toPandas()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(rows) > 0
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= _JOB_BUDGET[name], jobs
