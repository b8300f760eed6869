"""No session memo: operators over a table that was overwritten in the
same session must answer from the table's CURRENT rows. Nothing may be
cached on plan or path identity, because a re-read of an overwritten
path has the same plan as the read before the write, so such a cache
would serve the old answer."""

from __future__ import annotations

from pyspark.sql import functions as F

DOC_SCHEMA = "doc_id BIGINT, text STRING"
EMB_SCHEMA = "vec_id BIGINT, embedding ARRAY<FLOAT>"

_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform"
).split()


def _doc_rows(shift: int) -> list[tuple[int, str]]:
    """Ten base texts, each with a one-word-edited near duplicate; the
    word order depends on ``shift``, so two shifts give two corpora
    with different near-duplicate pairs."""
    rows = []
    for i in range(10):
        words = [_WORDS[(i * 3 + j * (shift + 1)) % len(_WORDS)]
                 for j in range(14)]
        rows.append((2 * i, " ".join(words)))
        if (i + shift) % 3:
            words[7] = "zulu"
            rows.append((2 * i + 1, " ".join(words)))
    return rows


def _emb_rows(shift: int) -> list[tuple[int, list[float]]]:
    return [
        (i, [float((i * (shift + 2)) % 7), float((i + shift) % 5), 1.0,
             float(i % 3)])
        for i in range(30)
    ]


def _sorted(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def _overwrite(spark, rows, schema, path) -> None:
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(path)


def test_overwrite_then_reread_matches_fresh_computation(spark, tmp_path):
    from salesanalytics_etl_spark.operators.dedup import (
        minhash_near_dupes_portable,
    )
    from salesanalytics_etl_spark.operators.ivf import cosine_topk_ivf_portable
    from salesanalytics_etl_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )

    def pairs(docs):
        return _sorted(minhash_near_dupes_portable(docs))

    def topk(emb):
        queries = emb.filter(F.col("vec_id") < 3)
        return (
            _sorted(cosine_topk_bruteforce(emb, queries, k=3)),
            _sorted(cosine_topk_ivf_portable(emb, queries, k=3, n_cells=4)),
        )

    docs_path = str(tmp_path / "documents")
    emb_path = str(tmp_path / "embeddings")
    _overwrite(spark, _doc_rows(0), DOC_SCHEMA, docs_path)
    _overwrite(spark, _emb_rows(0), EMB_SCHEMA, emb_path)
    before_pairs = pairs(spark.read.parquet(docs_path))
    before_topk = topk(spark.read.parquet(emb_path))

    _overwrite(spark, _doc_rows(1), DOC_SCHEMA, docs_path)
    _overwrite(spark, _emb_rows(1), EMB_SCHEMA, emb_path)
    fresh_pairs = pairs(spark.createDataFrame(_doc_rows(1), DOC_SCHEMA))
    fresh_topk = topk(spark.createDataFrame(_emb_rows(1), EMB_SCHEMA))
    # the overwrite must change every answer, or this test proves nothing
    assert fresh_pairs != before_pairs
    assert fresh_topk[0] != before_topk[0]
    assert fresh_topk[1] != before_topk[1]

    assert pairs(spark.read.parquet(docs_path)) == fresh_pairs
    assert topk(spark.read.parquet(emb_path)) == fresh_topk


def test_read_after_merge_sees_merged_rows(spark, tmp_path):
    """The same contract through the framework's own table mutator."""
    from salesanalytics_etl_spark.operators.dedup import _portable_banded
    from salesanalytics_etl_spark.operators.upsert import merge_upsert_table

    path = str(tmp_path / "docs_tbl")
    spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], DOC_SCHEMA
    ).write.parquet(path)
    before = _portable_banded(spark.read.parquet(path)).localCheckpoint()
    assert {r.doc_id for r in before.collect()} == {1}
    batch = spark.createDataFrame(
        [(2, "eta theta iota kappa lambda mu")], DOC_SCHEMA
    )
    merge_upsert_table(spark, path, batch, ["doc_id"])
    after = _portable_banded(spark.read.parquet(path)).localCheckpoint()
    assert {r.doc_id for r in after.collect()} == {1, 2}


def test_cold_ivf_call_derives_anchors_once(spark, monkeypatch):
    """One cosine_topk_ivf_portable call scans the corpus for its anchor
    sample exactly ONCE: the collected anchors are handed to the shared
    IVF search through ``anchor_rows`` and feed both the probes and the
    corpus assignment."""
    from salesanalytics_etl_spark.operators import ivf as I

    emb = spark.createDataFrame(
        [(i, [float(i % 4), float(i % 7), 1.0]) for i in range(24)],
        EMB_SCHEMA,
    )
    derived = []
    handed = []
    real_anchors = I._portable_anchors
    real_search = I._ivf_search

    def counting_anchors(*a, **k):
        derived.append(1)
        return real_anchors(*a, **k)

    def recording_search(corpus, queries, anchor_rows, *a, **k):
        handed.append(anchor_rows)
        return real_search(corpus, queries, anchor_rows, *a, **k)

    monkeypatch.setattr(I, "_portable_anchors", counting_anchors)
    monkeypatch.setattr(I, "_ivf_search", recording_search)
    out = I.cosine_topk_ivf_portable(
        emb, emb.filter(F.col("vec_id") < 2), k=3, n_cells=4
    )
    assert out.count() > 0
    assert len(derived) == 1  # one anchor derivation in total
    assert len(handed) == 1 and len(handed[0]) == 4
