"""Tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import random
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

import datagen
import layers
import stats
from check import frame_hash, value_hash
from run import DATA_DIR, END_TO_END
from spans import Span, self_times

BENCHMARK = Path(__file__).resolve().parents[2] / "BENCHMARK.json"


def test_etl_generator_is_deterministic_per_seed():
    raw_a, exp_a = datagen.make_etl_inputs(DATA_DIR, seed=7, n_batches=2)
    raw_b, exp_b = datagen.make_etl_inputs(DATA_DIR, seed=7, n_batches=2)
    raw_c, exp_c = datagen.make_etl_inputs(DATA_DIR, seed=8, n_batches=2)
    assert exp_a == exp_b
    for a, b in zip(raw_a, raw_b):
        for name in datagen.ETL_TABLES:
            pd.testing.assert_frame_equal(a[name], b[name])
    assert any(not a[n].equals(c[n]) for a, c in zip(raw_a, raw_c) for n in datagen.ETL_TABLES)


def test_etl_generator_injects_every_kind_of_dirt():
    raw, expected = datagen.make_etl_inputs(DATA_DIR, seed=3, n_batches=1)
    load = raw[0]
    assert load["customers"].iloc[:, 1:].apply(lambda c: c.str.startswith("  ")).any().any()
    assert (load["orders"]["OrderDate"] == "not-a-date").any()
    assert (load["order_details"]["Quantity"] == "abc").any()
    assert load["order_details"].duplicated(["OrderID", "ProductID"]).any()
    for step in expected:
        assert step["rejects"]["orders"] > 0 and step["rejects"]["order_details"] > 0
    # later batches grow the target: new keys arrive, old keys are replaced
    assert expected[1]["counts"]["orders"] > expected[0]["counts"]["orders"]


def _frames(**tables):
    cols = {
        "customers": ["CustomerID", "FirstName", "LastName", "Email", "Phone", "City", "Country"],
        "products": ["ProductID", "ProductName", "Category", "Price", "Stock"],
        "orders": ["OrderID", "CustomerID", "OrderDate", "Status"],
        "order_details": ["OrderID", "ProductID", "Quantity", "TotalPrice"],
    }
    out = {}
    for name, c in cols.items():
        rows = tables.get(name, [])
        out[name] = pd.DataFrame([dict(zip(c, r)) for r in rows], columns=c, dtype=object)
    return out


def test_expected_counts_follow_the_reference_semantics():
    load = _frames(
        customers=[("1",), ("2",), ("", "nokey"), ("2", "dup-last")],
        products=[("10",), ("11",)],
        orders=[("100", "1"), ("101", "9"), ("102", "x1"), ("103", "2"), ("103", "1")],
        order_details=[
            ("100", "10", "abc"),  # unparseable value: kept
            ("100", "10", "2"),  # duplicate key: keep-last
            ("101", "10"),  # parent order rejected: cascade reject
            ("103", "99"),  # unknown product: reject
            ("103", "11"),
        ],
    )
    target, counts, rejects = datagen.expected_counts(load, None)
    assert counts == {"customers": 2, "products": 2, "orders": 2, "order_details": 2}
    assert rejects == {"orders": 1, "order_details": 2}

    # no customers file: the FK check is skipped, every order passes
    batch = _frames(orders=[("103", "7"), ("104", "8")],
                    order_details=[("104", "10")])
    _, counts, rejects = datagen.expected_counts(batch, target)
    assert rejects == {"orders": 0, "order_details": 0}
    assert counts == {"customers": 2, "products": 2, "orders": 3, "order_details": 3}


def test_percentile_refuses_a_tail_with_fewer_than_ten_samples_above():
    with pytest.raises(ValueError):
        stats.percentile(list(range(99)), 90)
    assert stats.percentile(list(range(1, 101)), 90) == 90
    assert stats.highest_percentile(list(range(60))) == (80, 47)
    assert stats.highest_percentile(list(range(15))) is None


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span("root", None, 0.0, 10.0),
        Span("a", 0, 1.0, 4.0),
        Span("b", 0, 3.0, 6.0),  # overlaps a
        Span("a1", 1, 2.0, 3.0),
        Span("late", 0, 9.0, 12.0),  # runs past its parent
    ]
    assert self_times(spans) == pytest.approx([4.0, 2.0, 3.0, 1.0, 3.0])


def test_value_hash_is_order_insensitive_and_matches_frames():
    rows = [(1, 2.5, "x", None), (2, None, "y", "2024-01-01"), (3, 0.1, None, "z")]
    cols = ["id", "v", "s", "t"]
    shuffled = rows[:]
    random.Random(0).shuffle(shuffled)
    assert value_hash(cols, rows) == value_hash(cols, shuffled)
    assert value_hash(cols, rows) != value_hash(cols, rows[:2] + [(3, 0.2, None, "z")])
    pdf = pd.DataFrame(rows, columns=cols)
    assert frame_hash(pdf) == value_hash(cols, rows)
    # an integer column that pandas widened to float because of a NULL
    pdf = pd.DataFrame({"k": [1.0, np.nan]})
    assert frame_hash(pdf, {"k"}) == value_hash(["k"], [(1,), (None,)])


def test_benchmark_json_lists_the_metrics_the_run_prints():
    spec = json.loads(BENCHMARK.read_text())
    assert [m["name"] for m in spec["end_to_end"]] == [n for n, _ in END_TO_END]
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == layers.PER_LAYER
