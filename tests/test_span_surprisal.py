"""Unit tests for exact duplicate-span detection and unigram surprisal.

The oracle-differential sweep (tests/test_queries.py) hash-checks q103/q104
against DuckDB on real data; these tests pin the *semantics* on planted
inputs: cross-doc-only flagging, the sub-window-length guard, exact window
arithmetic, and the surprisal ordering/exactness contracts.
"""

from __future__ import annotations

import math

from salesanalytics_etl_spark.operators.dedup import duplicate_spans
from salesanalytics_etl_spark.operators.text import unigram_surprisal


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


SHARED = " ".join(f"w{i}" for i in range(20))  # exactly one 20-word window


class TestDuplicateSpans:
    def test_cross_doc_span_flagged_both_sides(self, spark):
        df = _docs(
            spark,
            [
                (1, SHARED + " tail1 a b c"),
                (2, "head x y z " + SHARED),
                (3, " ".join(f"u{i}" for i in range(30))),  # unique text
            ],
        )
        out = {
            r["doc_id"]: r for r in duplicate_spans(df, n=20).collect()
        }
        # docs 1 and 2 share the planted window; doc 3 is clean
        assert set(out) == {1, 2}
        # doc 1: 24 words -> 5 windows; windows starting at 1 only are
        # fully inside SHARED (window 1 == SHARED); others include tail
        assert out[1]["n_windows"] == 5
        assert out[1]["n_dup_windows"] == 1
        assert out[2]["n_windows"] == 5
        assert out[2]["n_dup_windows"] == 1
        assert abs(out[1]["dup_ratio"] - 0.2) < 1e-9

    def test_self_repetition_not_flagged(self, spark):
        # one doc repeating its own 20-gram is NOT a cross-doc duplicate
        df = _docs(spark, [(1, SHARED + " " + SHARED), (2, "short text")])
        assert duplicate_spans(df, n=20).count() == 0

    def test_short_docs_emit_no_windows(self, spark):
        df = _docs(
            spark,
            [(1, " ".join(f"w{i}" for i in range(19))), (2, SHARED)],
        )
        # 19-word doc has no 20-word window; single doc with the window
        # has no partner -> empty result
        assert duplicate_spans(df, n=20).count() == 0

    def test_whitespace_case_normalized(self, spark):
        df = _docs(
            spark,
            [(1, SHARED.upper()), (2, SHARED.replace(" ", "   "))],
        )
        out = duplicate_spans(df, n=20).collect()
        assert {r["doc_id"] for r in out} == {1, 2}
        assert all(r["dup_ratio"] == 1.0 for r in out)


class TestUnigramSurprisal:
    def test_uniform_corpus_bits(self, spark):
        # 4 equally-frequent tokens -> every token carries exactly 2 bits
        df = _docs(spark, [(1, "a b"), (2, "c d")])
        out = {r["doc_id"]: r for r in unigram_surprisal(df).collect()}
        assert out[1]["n_tokens"] == 2
        assert out[1]["bits_per_token"] == 2.0
        assert out[2]["bits_per_token"] == 2.0

    def test_rare_tokens_score_higher(self, spark):
        common = " ".join(["the"] * 50)
        df = _docs(
            spark,
            [(1, common), (2, "zq xv kj"), (3, "the the the")],
        )
        out = {r["doc_id"]: r for r in unigram_surprisal(df).collect()}
        assert out[2]["bits_per_token"] > out[3]["bits_per_token"]
        assert out[1]["bits_per_token"] == out[3]["bits_per_token"]

    def test_value_matches_closed_form(self, spark):
        # corpus: 3x"a", 1x"b" (N=4). surprisal(a)=log2(4/3), surpr(b)=2
        df = _docs(spark, [(1, "a a a"), (2, "b")])
        out = {r["doc_id"]: r for r in unigram_surprisal(df).collect()}
        expect_a = round(round(math.log2(4) - math.log2(3), 6), 4)
        assert out[1]["bits_per_token"] == expect_a
        assert out[2]["bits_per_token"] == 2.0

    def test_empty_and_blank_docs_dropped(self, spark):
        df = _docs(spark, [(1, "   "), (2, ""), (3, "hello")])
        out = unigram_surprisal(df).collect()
        assert [r["doc_id"] for r in out] == [3]
        assert out[0]["n_tokens"] == 1


# ---------------------------------------------------------------------------
# Property-based: distributed results == single-node brute force
# ---------------------------------------------------------------------------
from hypothesis import HealthCheck, example, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

# tiny alphabet + short docs → plenty of genuine cross-doc window overlap
_doc = st.lists(
    st.sampled_from(["a", "b", "c"]), min_size=0, max_size=10
).map(" ".join)
_corpus = st.lists(_doc, min_size=1, max_size=8)

_SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


def _brute_dup_spans(texts, n):
    import collections

    spans = {}  # doc_id -> list of window strings (all positions)
    for i, t in enumerate(texts):
        w = " ".join(t.split()).lower().split(" ") if t.strip() else []
        spans[i] = [
            " ".join(w[j : j + n]) for j in range(len(w) - n + 1)
        ] if len(w) >= n else []
    owners = collections.defaultdict(set)
    for i, ws in spans.items():
        for s in ws:
            owners[s].add(i)
    out = {}
    for i, ws in spans.items():
        dup = sum(1 for s in ws if len(owners[s]) > 1)
        if dup:
            out[i] = (len(ws), dup)
    return out


@given(_corpus)
@_SETTINGS
def test_duplicate_spans_matches_brute_force(spark, texts):
    n = 3
    df = _docs(spark, list(enumerate(texts))).repartition(3)
    got = {
        r["doc_id"]: (r["n_windows"], r["n_dup_windows"])
        for r in duplicate_spans(df, n=n).collect()
    }
    assert got == _brute_dup_spans(texts, n)


# Doc 2's mean is exactly 1.73745, a 4-dp midpoint: the floor rule gives
# 1.7375, while a float sum rounded with Python's round() gives 1.7374.
@example(
    texts=[
        "a a a b b b b b b b",
        "b b b b b b b b c c",
        "a c c",
        "c c c c c c c c c c",
        "c c c c c c",
    ]
)
@given(texts=_corpus)
@_SETTINGS
def test_surprisal_matches_brute_force(spark, texts):
    """Per-term bits rounded to 6 dp, summed exactly as DECIMAL(18,6),
    then ``FLOOR(sum / n * 10^4 + 0.5) / 10^4`` in doubles — the rule
    ``unigram_surprisal`` documents."""
    import collections
    from decimal import Decimal

    df = _docs(spark, list(enumerate(texts))).repartition(3)
    got = {
        r["doc_id"]: (r["n_tokens"], r["bits_per_token"])
        for r in unigram_surprisal(df).collect()
    }
    toks = {
        i: [w for w in " ".join(t.split()).lower().split(" ") if w]
        for i, t in enumerate(texts)
    }
    ctf = collections.Counter(w for ws in toks.values() for w in ws)
    total = sum(ctf.values())
    bits = {
        w: Decimal(str(round(math.log2(total) - math.log2(ctf[w]), 6)))
        for w in ctf
    }
    want = {}
    for i, ws in toks.items():
        if not ws:
            continue
        s = sum(bits[w] for w in ws)
        mean = math.floor(float(s) / len(ws) * 10000.0 + 0.5) / 10000.0
        want[i] = (len(ws), mean)
    assert got == want


def test_bigram_surprisal_flags_word_salad(spark):
    """Tokens common, transitions rare: five identical docs make their
    transitions cheap (log2(6/5) bits), while a shuffled doc of the SAME
    vocabulary pays log2(6) per transition — the signal the unigram
    model cannot see (it scores both docs identically)."""
    import math

    from salesanalytics_etl_spark.operators.text import bigram_surprisal

    common = "alpha beta gamma delta epsilon"
    salad = "beta alpha delta gamma epsilon"  # same tokens, new transitions
    rows = [(i, common) for i in range(5)] + [(6, salad), (7, "solo")]
    out = {
        r.doc_id: r
        for r in bigram_surprisal(
            spark.createDataFrame(rows, ["doc_id", "text"])
        ).collect()
    }
    assert 7 not in out  # <2 tokens -> no transitions -> excluded
    assert out[0].n_transitions == 4 and out[6].n_transitions == 4
    # exact MLE: every prev occurs 6x as a context; common transitions 5x
    assert out[0].bits_per_transition == round(
        round(math.log2(6) - math.log2(5), 6), 4
    )
    assert out[6].bits_per_transition == round(round(math.log2(6), 6), 4)
    assert out[6].bits_per_transition > 5 * out[0].bits_per_transition


def test_source_kl_divergence_exact_and_ordering(spark):
    """Hand-computed KL on a 3-source corpus: identical-to-blend terms
    contribute 0, a skewed source scores between, a disjoint-vocabulary
    source scores highest — and the decimal-accumulated values are exact
    under the 6dp-per-term rounding."""
    import math

    from salesanalytics_etl_spark.operators.text import source_kl_divergence

    rows = [
        (1, "a b a b", "A"),   # p_s = {a:.5, b:.5}; corpus p(a)=p(b)=.25
        (2, "a b c c", "B"),   # a,b match corpus; c skewed .5 vs 1/6
        (3, "z z z z", "C"),   # disjoint: p_s(z)=1 vs corpus 1/3
    ]
    out = {
        r.source: r
        for r in source_kl_divergence(
            spark.createDataFrame(rows, ["doc_id", "text", "source"])
        ).collect()
    }
    assert out["A"].kl_bits == 1.0  # 2 terms x round(.5*log2(2), 6)
    assert out["B"].kl_bits == round(round(0.5 * math.log2(3), 6), 4)
    assert out["C"].kl_bits == round(round(math.log2(3), 6), 4)
    assert out["C"].kl_bits > out["A"].kl_bits > out["B"].kl_bits > 0
    assert out["A"].n_tokens == 4 and out["C"].n_terms == 1


def test_source_kl_divergence_zero_when_distributions_match(spark):
    """Every source with the corpus's own distribution -> KL exactly 0
    (the log terms cancel symbolically, so rounding sees a true 0.0)."""
    from salesanalytics_etl_spark.operators.text import source_kl_divergence

    rows = [(i, "x y", s) for i, s in enumerate(["A", "B", "C"])]
    out = source_kl_divergence(
        spark.createDataFrame(rows, ["doc_id", "text", "source"])
    ).collect()
    assert len(out) == 3 and all(r.kl_bits == 0.0 for r in out)


def test_bigram_surprisal_matches_pure_python_model(spark):
    """Full-model equality on arbitrary texts: the Spark pipeline must
    reproduce a pure-python bigram MLE bit-for-bit under the same
    round-6dp-then-decimal-accumulate discipline."""
    import collections
    import math

    texts = [
        "the cat sat on the mat",
        "the cat sat on the hat",
        "a b a b a",
        "one-token",
        "",
        "  spaced   out   tokens  here ",
        "the the the the",
    ]
    from salesanalytics_etl_spark.operators.text import bigram_surprisal

    df = spark.createDataFrame(
        list(enumerate(texts)), ["doc_id", "text"]
    ).repartition(3)
    got = {
        r.doc_id: (r.n_transitions, r.bits_per_transition)
        for r in bigram_surprisal(df).collect()
    }
    toks = {
        i: [w for w in " ".join(t.split()).lower().split(" ") if w]
        for i, t in enumerate(texts)
    }
    trans = {
        i: list(zip(ws, ws[1:])) for i, ws in toks.items() if len(ws) >= 2
    }
    c2 = collections.Counter(t for ts in trans.values() for t in ts)
    c1 = collections.Counter(t[0] for ts in trans.values() for t in ts)
    want = {}
    for i, ts in trans.items():
        bits = {
            t: round(math.log2(c1[t[0]]) - math.log2(c2[t]), 6) for t in ts
        }
        s = sum(bits[t] for t in ts)  # exact: sums of 6dp-rounded values
        want[i] = (len(ts), round(s / len(ts), 4))
    assert got == want
