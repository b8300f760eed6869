"""Planted-case tests for the round-3 curation operators (q70-q74):
decontamination, sequence packing, language rebalance, quantization,
source overlap."""

from __future__ import annotations

import math

import pytest

from salesanalytics_etl_spark.operators.curation import (
    decontaminate,
    language_rebalance,
    pack_sequences,
    quantize_embeddings,
    source_overlap,
)
from salesanalytics_etl_spark.operators.dedup import word_shingle_rows

THIRTEEN = "a b c d e f g h i j k l m"  # exactly 13 tokens -> one 13-gram


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        # contains the benchmark 13-gram inside a longer doc
        (1, "x y z " + THIRTEEN + " tail tokens here"),
        # 12-token prefix only: must NOT be flagged
        (2, "a b c d e f g h i j k l"),
        (3, "entirely unrelated words with no shared thirteen gram at all "
            "plus padding to pass any length cutoffs in the implementation"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


@pytest.fixture(scope="module")
def bench_docs(spark):
    return spark.createDataFrame([(100, THIRTEEN)], ["doc_id", "text"])


def test_ngram_rows_count_and_boundaries(spark):
    df = spark.createDataFrame([(1, THIRTEEN + " n")], ["doc_id", "text"])
    grams = [r.sh for r in word_shingle_rows(df, n=13).collect()]
    assert len(grams) == 2  # 14 tokens -> two 13-grams
    assert grams[0].startswith("a b c") and grams[1].endswith("m n")
    # short doc emits nothing
    short = spark.createDataFrame([(2, "a b c")], ["doc_id", "text"])
    assert word_shingle_rows(short, n=13).count() == 0


def test_decontaminate_flags_only_real_overlap(corpus, bench_docs):
    flagged = {r.doc_id: r for r in decontaminate(corpus, bench_docs).collect()}
    assert set(flagged) == {1}
    assert flagged[1].n_hit_ngrams == 1 and flagged[1].n_bench_docs == 1


def test_pack_sequences_bins_by_start_offset(spark):
    # three docs of 5 tokens each, window 8: doc1 starts at 0 (bin 0),
    # doc2 starts at 5 (bin 0), doc3 starts at 10 (bin 1)
    rows = [(i, "s", "t1 t2 t3 t4 t5") for i in (1, 2, 3)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = {r.bin_id: r for r in pack_sequences(df, window_tokens=8).collect()}
    assert out[0].n_docs == 2 and out[0].bin_tokens == 10
    assert out[1].n_docs == 1 and out[1].bin_tokens == 5


def test_pack_sequences_sources_are_independent(spark):
    rows = [(1, "a", "t1 t2 t3"), (2, "b", "t1 t2 t3")]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = pack_sequences(df, window_tokens=8).collect()
    assert {(r.source, r.bin_id) for r in out} == {("a", 0), ("b", 0)}


def test_language_rebalance_rates_and_budget(spark):
    # 'big' has 40 tokens total -> rate 0.25 with budget 10;
    # 'small' has 5 tokens -> rate 1.0, everything kept
    rows = [(i, "big", "w1 w2 w3 w4") for i in range(10)] + [
        (100, "small", "w1 w2 w3 w4 w5")
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    out = {r.lang: r for r in language_rebalance(df, budget_tokens=10).collect()}
    assert out["small"].rate == 1.0 and out["small"].n_docs_kept == 1
    if "big" in out:  # hash filter may keep 0 of 10 docs at rate 0.25
        assert out["big"].rate == 0.25
        assert out["big"].n_docs_kept < 10


def test_quantize_embeddings_exact_values(spark):
    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        ["vec_id", "embedding"],
    )
    out = {r.vec_id: r for r in quantize_embeddings(df).collect()}
    # the all-zero vector is REPORTED with zeroed metrics, not dropped
    assert set(out) == {1, 2}
    assert out[2].scale == 0.0 and out[2].q_sum == 0 and out[2].rmse == 0.0
    r = out[1]
    scale = 1.0 / 127.0
    assert r.scale == round(scale, 9)
    # q = floor(x/scale + 0.5): 127, -63 (floor(-63.0)), 32, 0
    assert r.q_max == 127
    assert r.q_sum == 127 + math.floor(-0.5 / scale + 0.5) + 32 + 0


def test_source_overlap_counts_cross_source_dups(spark):
    rows = [
        (1, "web", "same text"),
        (2, "books", "same text"),
        (3, "web", "same text"),
        (4, "books", "unique text"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = {
        (r.source_a, r.source_b): (r.n_pairs, r.n_fingerprints)
        for r in source_overlap(df).collect()
    }
    # pairs canonicalized on the UNORDERED source pair (least/greatest):
    # the web↔books relationship is ONE row regardless of which doc id
    # happened to be smaller — (1,2) and (2,3) collapse into it
    assert out[("books", "web")] == (2, 1)
    assert out[("web", "web")] == (1, 1)
    assert ("web", "books") not in out  # no mirrored fragment


def test_curation_pipeline_each_stage_drops_the_right_docs(spark):
    from salesanalytics_etl_spark.operators.curation import curation_pipeline

    filler = " ".join(f"w{i}" for i in range(15))  # 15 unique tokens
    bench_text = " ".join(f"b{i}" for i in range(13))  # benchmark 13-gram
    rows = [
        (1, "en", filler),                      # kept
        (2, "en", filler),                      # exact dup of 1 -> dropped
        (3, "en", "too short"),                 # quality-gated
        (4, "en", "lead in " + bench_text),     # contaminated -> dropped
        (50, "en", bench_text),                 # benchmark doc -> excluded
        (6, "de", filler + " extra token"),     # kept
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    out = curation_pipeline(df, min_tokens=10)
    kept = {(r.split, r.lang): (r.n_docs, r.n_tokens) for r in out.collect()}
    # survivors: doc 1 (en, 15 tokens) and doc 6 (de, 17 tokens)
    assert sum(n for n, _ in kept.values()) == 2
    assert {lang for _, lang in kept} == {"en", "de"}
    assert sum(t for _, t in kept.values()) == 15 + 17


def test_incremental_dedupe_batch_and_corpus_rules(spark):
    from salesanalytics_etl_spark.operators.curation import incremental_dedupe

    corpus = spark.createDataFrame(
        [(1, "existing document text")], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [
            (10, "brand new text"),
            (11, "brand new text"),         # within-batch dup of 10
            (12, "existing document text"), # already in corpus
            (13, "another new text"),
        ],
        ["doc_id", "text"],
    )
    kept = {r.doc_id for r in incremental_dedupe(corpus, batch).collect()}
    assert kept == {10, 13}


def test_label_centroids_exact_means(spark):
    from salesanalytics_etl_spark.operators.curation import label_centroids

    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (0, [3.0, 6.0]), (1, [10.0, -10.0])],
        ["label", "embedding"],
    )
    out = {(r.label, r.dim): (r.centroid, r.n_vecs)
           for r in label_centroids(df).collect()}
    assert out[(0, 0)] == (2.0, 2)
    assert out[(0, 1)] == (4.0, 2)
    assert out[(1, 0)] == (10.0, 1)
    assert out[(1, 1)] == (-10.0, 1)


def test_split_leakage_id_hash_leaks_content_hash_never(spark, tmp_path):
    """Duplicate text on doc ids 1 (train bucket) and 2 (test bucket):
    id-hash splitting leaks the pair across splits; content-hash
    splitting cannot, by construction."""
    from salesanalytics_etl_spark.plans.registry import all_queries

    rows = [
        (1, "en", "web", "identical duplicated document text", 34),
        (2, "en", "web", "identical duplicated document text", 34),
        (3, "en", "web", "some other unique document text", 31),
    ]
    df = spark.createDataFrame(
        rows, ["doc_id", "lang", "source", "text", "n_chars"]
    )
    d = str(tmp_path / "docs")
    df.write.mode("overwrite").parquet(d + "/documents.parquet")
    out = {
        r.split_method: r.n_leaking_groups
        for r in all_queries()["q84_split_leakage_check"](spark, d).collect()
    }
    assert out["by_doc_id"] == 1
    assert out["by_content_hash"] == 0


def test_compression_ratio_separates_boilerplate_from_entropy(spark):
    import zlib

    from salesanalytics_etl_spark.operators.text import compression_ratio

    rep = "spam " * 400                      # long-range repetition
    uniq = " ".join(f"tok{i}x{i*7%13}" for i in range(400))
    rows = [(1, rep), (2, uniq)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in compression_ratio(df).collect()}
    assert out[1].compress_ratio < 0.05      # boilerplate crushes
    assert out[2].compress_ratio > out[1].compress_ratio * 5
    # deterministic: matches a direct zlib call on the normalized text
    norm = rep.strip()
    want = round(len(zlib.compress(norm.encode(), 6)) / len(norm.encode()), 6)
    assert out[1].compress_ratio == want


def test_portable_compressibility_tracks_zlib_signal(spark):
    """The q115 replay must order documents the same way zlib does:
    repetitive boilerplate scores low on BOTH halves, high-entropy text
    high — and the planted values are exact integers a reader can check
    by hand."""
    from salesanalytics_etl_spark.operators.text import (
        portable_compressibility,
    )

    rep = "spam " * 400                      # long-range repetition
    uniq = " ".join(f"tok{i}x{i * 7 % 13}" for i in range(400))
    rows = [(1, rep), (2, uniq), (3, "aaaaaaaaaaab"), (4, None), (5, "")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in portable_compressibility(df).collect()}
    # null/empty docs drop (same rows as the oracle's WHERE clause)
    assert set(out) == {1, 2, 3}
    # boilerplate: almost every 8-gram repeats; unique text: almost none
    assert out[1].dup8_bp > 9900 and out[2].dup8_bp < 500
    # entropy half orders the same way as zlib's ratio
    assert out[1].entropy_bp < out[2].entropy_bp
    # hand-checkable planted doc: 'a'*11 + 'b', N=12
    #   a: 11 chars at length(bin(12 div 11)) = 1 bit -> 11
    #   b:  1 char  at length(bin(12 div  1)) = 4 bits -> 4
    assert out[3].est_bits == 15
    assert out[3].entropy_bp == 15 * 10000 // (8 * 12)
    # 8-grams of doc 3: positions 1..5 -> {aaaaaaaa x4, aaaaaaab}
    assert out[3].dup8_bp == 3 * 10000 // 5


def test_compression_ratio_null_text_propagates(spark):
    from salesanalytics_etl_spark.operators.text import compression_ratio

    df = spark.createDataFrame(
        [(1, "some real text here"), (2, None)], ["doc_id", "text"]
    )
    out = {r.doc_id: r.compress_ratio for r in compression_ratio(df).collect()}
    assert out[2] is None and out[1] is not None


def test_export_shards_deterministic_and_complete(spark, sf_dir, tmp_path):
    from salesanalytics_etl_spark.operators.curation import export_shards
    from salesanalytics_etl_spark.sources.readers import load_driver_tables

    docs = load_driver_tables(spark, sf_dir, ["documents"])["documents"]
    out1, out2 = str(tmp_path / "e1"), str(tmp_path / "e2")
    export_shards(docs, out1, n_shards=8)
    export_shards(docs, out2, n_shards=8)

    back = spark.read.parquet(out1)
    # complete and exactly partitioned
    assert back.count() == docs.count()
    assert back.select("_shard").distinct().count() <= 8
    # shard assignment is content-derived: recompute and compare
    from pyspark.sql import functions as F

    expect = docs.select(
        "doc_id", F.pmod(F.xxhash64("doc_id"), F.lit(8)).alias("want")
    )
    got = back.select("doc_id", F.col("_shard").cast("long").alias("got"))
    assert got.join(expect, "doc_id").filter("got <> want").count() == 0

    # determinism: same corpus -> same per-shard doc sequences (file order)
    def seq(path):
        out = {}
        for row in (
            spark.read.parquet(path)
            .select("_shard", "doc_id")
            .toPandas()
            .itertuples(index=False)
        ):
            out.setdefault(row._0, []).append(row.doc_id)
        return out

    import pyarrow.parquet as pq
    import glob

    def shard_files(path):
        return {
            d: sorted(glob.glob(f"{path}/_shard={d}/*.parquet"))
            for d in range(8)
        }

    for d, files in shard_files(out1).items():
        ids1 = [
            i
            for f in files
            for i in pq.read_table(f, columns=["doc_id"])["doc_id"].to_pylist()
        ]
        ids2 = [
            i
            for f in shard_files(out2)[d]
            for i in pq.read_table(f, columns=["doc_id"])["doc_id"].to_pylist()
        ]
        assert ids1 == ids2 and len(ids1) > 0

    # a different salt permutes within shards but keeps membership
    out3 = str(tmp_path / "e3")
    export_shards(docs, out3, n_shards=8, salt=7)
    d0 = shard_files(out1)[0]
    d3 = sorted(glob.glob(f"{out3}/_shard=0/*.parquet"))
    ids_a = [i for f in d0 for i in pq.read_table(f, columns=["doc_id"])["doc_id"].to_pylist()]
    ids_b = [i for f in d3 for i in pq.read_table(f, columns=["doc_id"])["doc_id"].to_pylist()]
    assert sorted(ids_a) == sorted(ids_b)
    assert ids_a != ids_b  # new epoch permutation


def test_quality_threshold_calibration_exact_masses(spark):
    """Planted two-quality corpus: the cut must land on the exact bucket
    whose cumulative token mass first reaches each target, and keeping
    docs at quality >= cut must reproduce kept_tokens exactly."""
    from salesanalytics_etl_spark.operators.curation import (
        quality_threshold_calibration,
    )
    from salesanalytics_etl_spark.operators.text import quality_score

    # ~100-token alpha docs (high quality) + digit-heavy docs (low)
    good = " ".join(f"word{i}" for i in range(100))
    bad = " ".join("1234567890" for _ in range(100))
    rows = [(i, good) for i in range(3)] + [(10 + i, bad) for i in range(3)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.target_bp: r for r in quality_threshold_calibration(df).collect()}
    assert set(out) == {2500, 5000, 7500}
    scores = {
        r.doc_id: (int(round(r.quality * 10000)), r.n_tokens)
        for r in quality_score(df).collect()
    }
    total = sum(t for _, t in scores.values())
    for target, r in out.items():
        kept = [s for s in scores.values() if s[0] >= r.cut_score_bp]
        assert sum(t for _, t in kept) == r.kept_tokens
        assert len(kept) == r.kept_docs
        assert r.total_tokens == total
        assert r.kept_tokens * 10000 >= target * total
        # minimality: one bucket lower in the sweep order would... the
        # cut is the HIGHEST score reaching the target, so the kept set
        # of any higher cut must miss it
        higher = [s for s in scores.values() if s[0] > r.cut_score_bp]
        assert sum(t for _, t in higher) * 10000 < target * total


def test_decontaminate_fuzzy_ratio_semantics(spark):
    """Planted overlap ratios: a doc half-built from benchmark chunks is
    flagged with the exact basis-point ratio; a doc with one shared
    5-gram out of many stays under the 20% bar; the verbatim check's
    blind spot (no full 13-gram, high 5-gram overlap) is covered."""
    from salesanalytics_etl_spark.operators.curation import (
        decontaminate,
        decontaminate_fuzzy,
    )

    bench_text = " ".join(f"b{i}" for i in range(10))  # 6 distinct 5-grams
    # doc 1: benchmark 10 tokens + 10 unique tokens = 16 distinct 5-grams,
    # 6 of them benchmark-sourced -> 3750 bp, flagged at 2000
    d1 = bench_text + " " + " ".join(f"u{i}" for i in range(10))
    # doc 2: one shared 5-gram in a 50-token doc -> far below 20%
    d2 = " ".join(f"b{i}" for i in range(5)) + " " + " ".join(
        f"w{i}" for i in range(45)
    )
    corpus = spark.createDataFrame([(1, d1), (2, d2)], ["doc_id", "text"])
    bench = spark.createDataFrame([(100, bench_text)], ["doc_id", "text"])
    out = {r.doc_id: r for r in decontaminate_fuzzy(corpus, bench).collect()}
    assert set(out) == {1}
    assert out[1].n_doc_ngrams == 16 and out[1].n_hit_ngrams == 6
    assert out[1].overlap_bp == 6 * 10000 // 16
    # the verbatim 13-gram check misses doc 1 entirely (no shared 13-gram)
    assert decontaminate(corpus, bench).count() == 0


def test_language_rebalance_zero_token_language_keeps_all(spark):
    """A language bucket with no countable tokens (pure punctuation/CJK
    under the ASCII tokenizer) must not crash under ANSI division and
    keeps all its docs at rate 1.0 — they cost nothing against the
    budget."""
    from salesanalytics_etl_spark.operators.curation import (
        language_rebalance,
    )

    rows = [
        (1, "en", "real tokens here for the english bucket of docs"),
        (2, "xx", "!!! ### $$$"),  # zero [A-Za-z0-9] runs? no: '###' has none
        (3, "xx", "…—…"),
    ]
    out = {
        r.lang: r
        for r in language_rebalance(
            spark.createDataFrame(rows, ["doc_id", "lang", "text"]),
            budget_tokens=1000,
        ).collect()
    }
    assert out["xx"].rate == 1.0 and out["xx"].n_docs_kept == 2
    assert out["xx"].kept_tokens == 0


def test_curation_pipeline_honors_text_col(spark):
    """Every stage (including the decontamination n-gram joins) must read
    the caller's text column — a corpus without a 'text' column used to
    crash in the n-gram generator."""
    from salesanalytics_etl_spark.operators.curation import curation_pipeline

    filler = " ".join(f"w{i}" for i in range(15))
    rows = [(i, "en", filler + f" tail{i}") for i in range(1, 8)]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "body"])
    out = curation_pipeline(df, text_col="body").collect()
    assert sum(r.n_docs for r in out) == 7  # all docs survive, no crash
