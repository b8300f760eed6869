"""Corpus-curation operators round 3: benchmark decontamination, sequence
packing, language rebalancing, embedding quantization, cross-source overlap.

These extend the training-data-pipeline surface (BASELINE.json north star;
the reference — etl_sales_analytics.py — has no text ops, so everything
here is extension surface, registered with DuckDB oracle twins).

Scale design:
- **Decontamination**: benchmark n-grams are a tiny distinct set (the
  held-out eval suite), broadcast against the corpus n-gram stream — the
  standard "13-gram overlap" check run before every training run. Never a
  cross join; the corpus side shuffles once on the n-gram key.
- **Sequence packing**: concat-and-split packing (docs concatenated in a
  deterministic order, cut every `window` tokens) via a per-source
  cumulative-sum window — each source partition is independent, so the
  window never collapses to a single partition.
- **Language rebalance**: per-language sampling rates derived from a token
  budget (|languages|-row broadcast), applied as a deterministic
  content-hash filter — reproducible across runs and engines, unlike
  ``rand()``.
- **Quantization**: per-vector int8 symmetric quantization — map-only
  array expressions, no shuffle at all.
- **Source overlap**: fingerprint self-join; group sizes are duplicate
  multiplicities (small), so the join explodes nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from salesanalytics_etl_spark import telemetry

from salesanalytics_etl_spark.functions.scalar import floor_round

from salesanalytics_etl_spark.operators.dedup import (
    spread_partitions,
    word_shingle_rows,
)
from salesanalytics_etl_spark.operators.text import (
    normalize_text,
    token_count,
    tokens,
)

NGRAM_N = 13  # the community-standard contamination n-gram length


def split_bucket(key) -> "F.Column":
    """THE deterministic split hash: first 24 bits of md5(key) mod 100.
    Single source of truth for every 80/10/10 assignment (q51, the
    composed curation pipeline, cluster_safe_split) — a change to the
    hash (e.g. widening the hex prefix) happens here once or the
    'cluster-safe reduces to naive q51 for unclustered docs' invariant
    silently breaks. DuckDB twin:
    ``CAST(('0x'||substr(md5(CAST(k AS VARCHAR)),1,6)) AS INT) % 100``.
    """
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 6), 16, 10)
        .cast("long")
        % 100
    )


def split_label(bucket) -> "F.Column":
    """80/10/10 train/val/test label for a :func:`split_bucket` value."""
    return (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )


def decontaminate(
    corpus: DataFrame, benchmark: DataFrame, n: int = NGRAM_N
) -> DataFrame:
    """Flag corpus docs sharing any token n-gram with a benchmark doc.

    Returns (doc_id, n_hit_ngrams, n_bench_docs) for contaminated docs
    only. The benchmark n-gram set (distinct, tiny — it's the eval suite)
    is broadcast; the corpus n-gram stream joins it without a shuffle of
    the corpus side at all when the broadcast fits, else one shuffle on
    the n-gram key.
    """
    bench = F.broadcast(
        word_shingle_rows(benchmark, n=n)
        .select(F.col("doc_id").alias("bench_id"), "sh")
        .distinct()
    )
    # no distinct on the corpus stream: the broadcast join filters it down
    # to contaminated hits FIRST (a distinct-before-join would shuffle the
    # entire corpus n-gram stream — the largest dataset in the plan), and
    # countDistinct dedups repeated (doc, ngram) hits in the aggregation
    hits = word_shingle_rows(corpus, n=n).join(bench, "sh")
    return hits.groupBy("doc_id").agg(
        F.countDistinct("sh").alias("n_hit_ngrams"),
        F.countDistinct("bench_id").alias("n_bench_docs"),
    )


def pack_sequences(
    df: DataFrame, window_tokens: int = 2048, text_col: str = "text"
) -> DataFrame:
    """Concat-and-split sequence packing: per source, docs are concatenated
    in doc_id order and cut every ``window_tokens`` tokens; each doc is
    assigned to the bin where it STARTS.

    Returns (source, bin_id, n_docs, bin_tokens). The cumulative sum runs
    per source partition (never a global single-partition window); bin
    arithmetic is integer-exact (div, not double division).
    """
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = df.select(
        "doc_id",
        "source",
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    ).withColumn("cum", F.sum("n_tokens").over(w))
    binned = cum.withColumn(
        "bin_id", F.expr(f"(cum - n_tokens) div {window_tokens}")
    )
    return binned.groupBy("source", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
    )


def language_rebalance(
    df: DataFrame, budget_tokens: int, text_col: str = "text"
) -> DataFrame:
    """Downsample each language to ~``budget_tokens`` via a deterministic
    content-hash filter: rate_l = min(1, budget / tokens_l); keep doc iff
    hash-bucket(doc_id)/10000 < rate_l.

    Returns (lang, rate, n_docs_kept, kept_tokens). The per-language
    totals are a |languages|-row broadcast — the corpus is scanned twice
    (once for totals, once for the filter) but shuffled only by lang for
    the tiny aggregations, the standard two-pass shape for data-dependent
    sampling rates.
    """
    toks = df.select(
        "doc_id", "lang", token_count(F.col(text_col)).cast("long").alias("n_tokens")
    )
    totals = toks.groupBy("lang").agg(F.sum("n_tokens").alias("lang_tokens"))
    # zero-token language guard: a bucket with no countable tokens
    # (punctuation-only docs — CJK codepoints DO count since the r8
    # tokenizer change, so pure-CJK buckets are weighted normally)
    # would DIVIDE_BY_ZERO under ANSI mode; keep-all (rate 1.0) is both
    # the sensible semantics (those docs cost nothing against the token
    # budget) and what the IEEE-inf division already gave on ANSI-off
    # engines (least(1.0, inf) = 1.0)
    rate = F.least(
        F.lit(1.0),
        F.when(
            F.col("lang_tokens") > 0,
            F.lit(float(budget_tokens)) / F.col("lang_tokens"),
        ).otherwise(F.lit(1.0)),
    ).alias("rate")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("long")
        % 10000
    )
    kept = (
        toks.join(F.broadcast(totals.select("lang", rate)), "lang")
        .filter(bucket / 10000.0 < F.col("rate"))
    )
    return kept.groupBy("lang").agg(
        # floor-formula: the keep rate is a quotient of small integers
        # and can sit exactly on a 7th-decimal midpoint (q104 class)
        floor_round(F.min("rate"), 6).alias("rate"),
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum("n_tokens").alias("kept_tokens"),
    )


def quantize_embeddings(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-vector symmetric int8 quantization quality report.

    scale = max|x| / 127; q_i = floor(x_i/scale + 0.5) (explicit half-up —
    engine-portable, unlike banker's rounding); reports the quantized
    checksum (integer-exact) and the reconstruction RMSE. Map-only array
    expressions — zero shuffle, zero Python; 4x memory reduction is the
    point at 100 TB of embeddings.
    """
    # Stage the per-row scalars as real columns so each is computed ONCE per
    # vector. (The first version textually inlined the `scale` fragment —
    # itself an array_max over the vector — inside the per-element lambdas,
    # which codegen evaluates per element: O(d²) work per row, ~7s of the
    # sf0.1 bench. Outer-column references inside higher-order-function
    # lambdas keep it O(d).)
    # All-zero vectors (failed/padded embeddings — exactly what a quality
    # report should surface) emit scale=0, q_sum=0, q_max=0, rmse=0
    # instead of silently vanishing: a dropped row breaks row accounting
    # for callers reconciling the report against the corpus.
    staged = (
        df.withColumn("_emb", F.expr(f"transform({vec_col}, v -> CAST(v AS DOUBLE))"))
        .withColumn("_maxabs", F.expr("array_max(transform(_emb, v -> abs(v)))"))
        .withColumn("_scale", F.expr("_maxabs / 127.0D"))
        .withColumn(
            "_q",
            F.expr(
                "CASE WHEN _maxabs > 0 THEN "
                "transform(_emb, v -> CAST(floor(v / _scale + 0.5D) AS INT)) "
                "ELSE transform(_emb, v -> 0) END"
            ),
        )
    )
    # error measured against the STAGED _q, not a re-spelled rounding
    # formula: if the quantizer ever changes, the reported RMSE must
    # measure the emitted values, not a silently-divergent copy
    sq_err = (
        "aggregate(zip_with(_emb, _q, (v, q) -> "
        "pow(v - q * _scale, 2)), 0.0D, (acc, e) -> acc + e)"
    )
    return staged.select(
        "vec_id",
        F.round(F.col("_scale"), 9).alias("scale"),
        F.expr("aggregate(_q, 0L, (acc, v) -> acc + v)").alias("q_sum"),
        F.expr("array_max(_q)").alias("q_max"),
        F.when(F.col("_maxabs") > 0, F.round(
            F.expr(f"sqrt({sq_err} / size({vec_col}))"), 6
        )).otherwise(F.lit(0.0)).alias("rmse"),
    )


def source_overlap(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Cross-source exact-duplicate matrix: for every (source_a, source_b)
    pair (a <= b by doc order), how many duplicate doc pairs share a
    normalized-text fingerprint.

    Fingerprint self-join — group sizes are duplicate multiplicities, so
    the join output is bounded by the duplicate tail, not |corpus|².
    Returns (source_a, source_b, n_pairs, n_fingerprints).
    """
    fp = df.select(
        "doc_id",
        "source",
        F.md5(normalize_text(F.col(text_col))).alias("fingerprint"),
    )
    a = fp.select(
        F.col("fingerprint"),
        F.col("doc_id").alias("id_a"),
        F.col("source").alias("source_a"),
    )
    b = fp.select(
        F.col("fingerprint"),
        F.col("doc_id").alias("id_b"),
        F.col("source").alias("source_b"),
    )
    pairs = a.join(b, "fingerprint").filter(F.col("id_a") < F.col("id_b"))
    # canonicalize the UNORDERED source pair: keyed on doc order, the
    # counts for one relationship fragment across mirrored (A,B)/(B,A)
    # rows depending on arbitrary doc-id assignment — a consumer reading
    # "the (web, books) row" would undercount
    return (
        pairs.select(
            F.least("source_a", "source_b").alias("source_a"),
            F.greatest("source_a", "source_b").alias("source_b"),
            "fingerprint",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("fingerprint").alias("n_fingerprints"),
        )
    )


def curation_pipeline(
    df: DataFrame,
    min_tokens: int = 10,
    n: int = NGRAM_N,
    text_col: str = "text",
) -> DataFrame:
    """End-to-end corpus curation: quality gate → exact dedupe (keep min
    id) → benchmark decontamination → deterministic split assignment →
    per-(split, lang) summary.

    The composition every training-data pipeline runs before tokenization,
    as ONE lazy plan Catalyst optimizes whole (the fingerprint window and
    the n-gram join see only quality-surviving rows; the summary sees only
    clean rows). Benchmark = every 50th doc (the held-out eval suite);
    those docs are excluded from the corpus and their n-grams poison any
    doc sharing one.

    Returns (split, lang, n_docs, n_tokens).
    """
    toks = df.select(
        "doc_id",
        "lang",
        F.col(text_col),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
        F.md5(normalize_text(F.col(text_col))).alias("fingerprint"),
    )
    quality = toks.filter(F.col("n_tokens") >= min_tokens)
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    deduped = (
        quality.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    corpus = deduped.filter(F.col("doc_id") % 50 != 0)
    bench = df.filter(F.col("doc_id") % 50 == 0)
    # AQE coalesces the (tiny) fingerprint-window shuffle output to ~1
    # partition; the n-gram explode multiplies rows 100-1000× AFTER that,
    # so the explode must re-spread first (measured 8.3s → 5.4s cold /
    # 1.9s warm at sf0.1) — word_shingle_rows spreads its input
    # projection before it explodes.
    flagged = (
        word_shingle_rows(corpus, text_col, n).join(
            F.broadcast(
                word_shingle_rows(bench, text_col, n).select("sh").distinct()
            ),
            "sh",
        )
        .select("doc_id")
        .distinct()
    )
    clean = corpus.join(flagged, "doc_id", "left_anti")
    split = split_label(split_bucket(F.col("doc_id")))
    return (
        clean.select("lang", "n_tokens", split.alias("split"))
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )


def incremental_dedupe(
    corpus: DataFrame, batch: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Daily-ingest dedup: keep batch docs that are new BOTH within the
    batch (min doc_id per fingerprint wins) and against the existing
    corpus (anti-join on fingerprint).

    Returns the kept (doc_id, fingerprint) rows. Two shuffles on the
    16-byte fingerprint key — at 100 TB the corpus side is a pre-computed
    fingerprint index (16 bytes/doc), not a rescan of the corpus text;
    the anti-join is the standard "have we seen this document before"
    membership check.
    """
    fp = F.md5(normalize_text(F.col(text_col))).alias("fingerprint")
    batch_fp = batch.select("doc_id", fp)
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    batch_unique = (
        batch_fp.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    # a corpus that already carries a fingerprint column IS the index —
    # never re-hash stored text (per-batch cost must be O(index), and a
    # streaming caller's accumulated corpus would otherwise be re-read
    # and re-hashed in full every micro-batch)
    if "fingerprint" in corpus.columns:
        corpus_fp = corpus.select("fingerprint")
    else:
        corpus_fp = corpus.select(fp)
    return batch_unique.join(corpus_fp, "fingerprint", "left_anti").select(
        "doc_id", "fingerprint"
    )


def label_centroids(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-label embedding centroid, one row per (label, dim).

    posexplode → groupBy(label, dim): the shuffle key count is
    |labels|·dims, independent of corpus size, and partial sums combine
    map-side. Each float is cast to DECIMAL(27,10) before summing so the
    accumulation is EXACT and order-insensitive (double summation order
    varies with partitioning and would flap the gate hash); the mean is
    emitted as a rounded double.
    """
    # round-robin spread (by=None): hash-partitioning by the
    # low-cardinality label would CONCENTRATE the explode onto |labels|
    # tasks; order-insensitive decimal accumulation downstream makes the
    # nondeterministic row placement harmless
    exploded = spread_partitions(
        df.select("label", vec_col), by=None
    ).select(
        "label", F.posexplode(vec_col).alias("dim", "x")
    )
    return exploded.groupBy("label", "dim").agg(
        # floor-formula: a decimal-grid sum divided by the count can
        # terminate exactly on a 7th-decimal midpoint (q104 class)
        floor_round(
            (
                F.sum(F.col("x").cast("double").cast("decimal(27,10)"))
                / F.count(F.lit(1))
            ).cast("double"),
            6,
        ).alias("centroid"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


def export_shards(
    df: DataFrame,
    out_dir: str,
    n_shards: int,
    key_col: str = "doc_id",
    salt: int = 0,
) -> None:
    """Deterministic global shuffle + sharding: the last step before
    training consumes a curated corpus.

    Training wants (a) a fixed number of shards sized for loader
    parallelism, (b) a global shuffle so batches are not correlated with
    source/crawl order, and (c) DETERMINISM — the same corpus must export
    byte-identical shards on every run, engine version, and input
    partitioning, or training runs are not reproducible. So both decisions
    come from content, never ``rand()`` or partition layout:

    - shard  = pmod(xxhash64(key), n_shards)
    - order  = (xxhash64(key, salt), key) within the shard — the key
      tiebreak makes the sort a total order even across xxhash64
      collisions; a new ``salt`` gives an independent epoch permutation
      without rewriting shard membership

    ``key_col`` must be unique (export AFTER dedupe): rows sharing a key
    would tie on both sort columns and their relative order would follow
    input partitioning, breaking byte-stable re-export.

    Plan: one repartition on the shard id + sortWithinPartitions — a
    single shuffle of the corpus, the unavoidable one (a global shuffle IS
    the product), then a partitioned write. At 100 TB, n_shards is
    typically 10k-100k so each shard is a few GB: ~one writer task per
    shard, no driver involvement. (Range boundaries are SAMPLED, so the
    task-per-shard layout is near-1:1, not guaranteed — two adjacent ids
    can share a range; shard membership, contents, and bytes are exact
    regardless, only task balance varies.)
    """
    telemetry.bump("range_exchange")
    (
        df.withColumn(
            "_shard", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_shards))
        )
        .withColumn("_ord", F.xxhash64(F.col(key_col), F.lit(salt)))
        # range-partition, not hash: pmod(hash(_shard), n) collides ~1/e
        # of shard ids into shared tasks (empty writers + multi-shard
        # stragglers); ranges over the dense 0..n_shards-1 id space give
        # a near-1:1 task-per-shard layout (sampled boundaries — an
        # occasional range may carry two ids). Equal ids always land in
        # one partition either way, so shard contents and bytes are
        # unchanged.
        .repartitionByRange(n_shards, F.col("_shard"))
        .sortWithinPartitions("_shard", "_ord", key_col)
        .drop("_ord")
        .write.mode("overwrite")
        .partitionBy("_shard")
        .parquet(out_dir)
    )


def quality_threshold_calibration(
    df: DataFrame,
    targets_bp: tuple[int, ...] = (2500, 5000, 7500),
    text_col: str = "text",
) -> DataFrame:
    """Calibrate a quality-score cut per token-budget target: for each
    target (basis points of total corpus TOKENS to keep), the HIGHEST
    score cut whose kept-token mass reaches it — the filter-tuning
    primitive behind "keep the best X% of tokens" curation policies.

    Returns one row per target: (target_bp, cut_score_bp, kept_docs,
    kept_tokens, total_tokens); keeping docs with
    ``floor(quality*10000 + 0.5) >= cut_score_bp`` — the SAME integer
    bucketing this function applies — yields exactly kept_tokens. (A raw
    ``quality*10000 >= cut_score_bp`` float compare can land an epsilon
    below the integer cut, e.g. 0.25*10000 = 2499.999…, and drop docs
    the calibration counted as kept.)

    Exactness/portability: quality is 4-decimal-rounded, so the score
    buckets are exact integer basis points (floor(q*10000 + 0.5) — the
    engine-portable rounding formula); token sums, cumulative masses
    and the threshold compare are all integer arithmetic.

    Scale shape (the q111 trick): the corpus collapses to ≤ 10 001
    (score_bp) buckets in one map-side-combinable groupBy; the
    cumulative sweep and per-target pick run over the BOUNDED bucket
    rows (single-partition window over ≤ 10 001 rows), never the
    corpus. A naive global sort-and-cumsum over documents would funnel
    the corpus into one task.
    """
    from salesanalytics_etl_spark.operators.text import quality_score

    q = quality_score(df, text_col)
    buckets = (
        q.select(
            F.expr("CAST(floor(quality * 10000 + 0.5) AS BIGINT)").alias(
                "score_bp"
            ),
            F.col("n_tokens").cast("long").alias("tok"),
        )
        .groupBy("score_bp")
        .agg(F.sum("tok").alias("btok"), F.count(F.lit(1)).alias("bdocs"))
    )
    wdesc = (
        Window.orderBy(F.desc("score_bp"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = buckets.select(
        "score_bp",
        F.sum("btok").over(wdesc).alias("cum_tok"),
        F.sum("bdocs").over(wdesc).alias("cum_docs"),
        F.sum("btok").over(wall).alias("total_tok"),
    )
    targeted = cum.select(
        "*",
        F.explode(
            F.array(*[F.lit(int(t)).cast("long") for t in targets_bp])
        ).alias("target_bp"),
    )
    # first bucket (descending score) whose cumulative token mass
    # reaches the target: cum_* are monotone along the descending
    # sweep, so max(score_bp) and min(cum_*) pick the same row
    return (
        targeted.filter(
            F.col("cum_tok") * 10000 >= F.col("target_bp") * F.col("total_tok")
        )
        .groupBy("target_bp")
        .agg(
            F.max("score_bp").alias("cut_score_bp"),
            F.min("cum_docs").alias("kept_docs"),
            F.min("cum_tok").alias("kept_tokens"),
            F.min("total_tok").alias("total_tokens"),
        )
    )


def decontaminate_fuzzy(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    threshold_bp: int = 2000,
) -> DataFrame:
    """Overlap-FRACTION decontamination: flag corpus docs whose distinct
    token ``n``-grams overlap the benchmark's n-gram set by at least
    ``threshold_bp`` basis points — the ratio criterion that catches
    partially-contaminated docs (a paraphrase keeping many short chunks)
    which the verbatim-13-gram containment check (:func:`decontaminate`)
    misses by design.

    Returns (doc_id, n_doc_ngrams, n_hit_ngrams, overlap_bp) for flagged
    docs. Exact integer ratio; no floats anywhere.

    Scale shape: the denominator (each doc's distinct n-gram count) is
    computed MAP-SIDE with array expressions on the doc's own row — the
    corpus n-gram stream is never shuffled for it. The numerator joins
    the stream against the broadcast benchmark set FIRST (hits only) and
    dedups after, so the only gram-grain shuffle is proportional to the
    contamination hits, exactly like :func:`decontaminate`.
    """
    bench = F.broadcast(
        word_shingle_rows(benchmark, n=n).select("sh").distinct()
    )
    grams_expr = (
        f"transform(sequence(1, size(_toks) - {n - 1}),"
        f" i -> array_join(slice(_toks, i, {n}), ' '))"
    )
    denom = (
        corpus.select(
            "doc_id",
            tokens(F.col("text")).alias("_toks"),
        )
        .filter(F.size("_toks") >= n)
        .select(
            "doc_id",
            F.expr(f"size(array_distinct({grams_expr}))")
            .cast("long")
            .alias("n_doc_ngrams"),
        )
    )
    hits = (
        word_shingle_rows(corpus, n=n)
        .join(bench, "sh")
        .groupBy("doc_id")
        .agg(F.countDistinct("sh").alias("n_hit_ngrams"))
    )
    return (
        denom.join(hits, "doc_id")
        .filter(
            F.col("n_hit_ngrams") * 10000
            >= F.lit(int(threshold_bp)) * F.col("n_doc_ngrams")
        )
        .select(
            "doc_id",
            "n_doc_ngrams",
            "n_hit_ngrams",
            F.expr("n_hit_ngrams * 10000 div n_doc_ngrams").alias(
                "overlap_bp"
            ),
        )
    )


def cluster_safe_split(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Leakage-free train/val/test assignment: the q51 80/10/10
    content-hash split applied to the doc's near-dup CLUSTER id instead
    of its own id, so every cluster lands whole in one split —
    cross-split near-dup leakage (the q178 metric) is zero by
    construction.

    ``clusters`` is a (cluster_id, doc_id) frame (connected components
    of verified near-dup pairs — q49's output shape); docs outside any
    cluster key on their own id, which reduces to exactly the naive
    q51 assignment for them. Returns per-doc rows:

        doc_id | gkey | split | split_naive | moved

    ``moved`` marks docs whose split CHANGED vs the naive assignment —
    the repair cost a curation run reports next to the leakage it
    eliminated. One broadcast-or-shuffle join (|clusters| ≪ corpus) +
    map-side hashing; no window, no collect.
    """

    joined = docs.select(F.col(id_col).alias("doc_id")).join(
        clusters.select("cluster_id", "doc_id"), "doc_id", "left"
    )
    gkey = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    out = joined.select(
        "doc_id",
        gkey.alias("gkey"),
        split_label(split_bucket(gkey)).alias("split"),
        split_label(split_bucket(F.col("doc_id"))).alias("split_naive"),
    )
    return out.withColumn(
        "moved", (F.col("split") != F.col("split_naive")).cast("int")
    )
