"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the whole point — these must survive 100 TB):

- **Exact**: hash-groupBy on a fingerprint — one shuffle on a short hex key,
  map-side partial aggregation, no data skew (md5 is uniform).
- **MinHash+LSH**: signatures via explode(shingles) → groupBy(doc) with 32
  ``min`` aggregates — each shingle hashed once, partials combined map-side.
  Candidates come from an equi-join on (band_id, band_hash): only docs
  sharing a band bucket ever meet, never an O(n²) cross join. Degenerate
  buckets (boilerplate clusters — every member pair would be a candidate)
  are CAPPED at ``max_bucket_size`` members, industry practice for web-scale
  dedup where a few giant clusters would otherwise dominate the pair count.
  Verification (exact Jaccard on shingle sets) touches only candidate pairs.
- **SimHash**: 63-bit signature via bit-vote aggregation over token hashes
  (explode → 63 conditional sums), near-dup candidates via banding the bits
  into 16-bit chunks (Hamming ≤ 3 ⇒ ≥1 of 4 chunks equal — pigeonhole),
  same bucket cap.
- **n-gram Jaccard**: the exact verifier used by both LSH paths.

Everything below is built-in Spark SQL expressions (sequence/transform/
xxhash64/array_*), zero UDFs.
"""

from __future__ import annotations

import logging
from collections.abc import Callable
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# floor-formula rounding for small-integer quotients (jaccard
# intersect/union, dup-window rates): these CAN sit exactly on a
# 5th-decimal midpoint where engine-native ROUND diverges (Spark
# HALF_UP vs DuckDB rint — the q104 sf0.1 class, round 10)
from salesanalytics_etl_spark.functions.scalar import floor_round

_LOG = logging.getLogger(__name__)

from salesanalytics_etl_spark.operators.text import normalize_text, tokens

SHINGLE_K = 5  # character shingles
N_HASHES = 32  # minhash signature length
# 6 bands × 5 rows (30 of the 32 hashes): steeper than 8×4 below the
# threshold — a J=0.3 noise pair band-matches 1.4% of the time vs 6.3%
# under 8×4 (4.5× fewer false candidates on shared-template corpora),
# while a J=0.7 true near-dup still matches ≥87% of the time. Recall at
# exactly J=0.5 drops 23%→17% per the banding formula — inside the
# scheme's documented recall envelope (the estimate filter was already
# rejecting most of what 8×4 admitted; planted-pair tests pin recall).
N_BANDS = 6
ROWS_PER_BAND = 5
MAX_BUCKET = 64  # cap on members of one LSH bucket (degenerate-cluster guard)


def exact_dedupe(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedupe by normalized-text fingerprint: keep min doc_id per group.

    Returns (fingerprint, keep_id, dup_count). One shuffle on the md5 key.
    """
    fp = F.md5(normalize_text(F.col(text_col))).alias("fingerprint")
    return (
        df.select(fp, "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def spread_partitions(df: DataFrame, by: str | None = "doc_id") -> DataFrame:
    """Repartition up to the session's parallelism when the input scan
    has fewer files than cores.

    Explode-heavy operators multiply row counts 100-1000×; if the corpus
    arrives as a handful of parquet splits (small files, coalesced scans),
    the explosion runs on that handful of tasks no matter how wide the
    cluster is. One cheap shuffle of the *compact* pre-explosion rows buys
    full parallelism downstream (measured 7.2s → 1.2s on the signature
    stage at sf0.1, whose single 15 MB file plans as one task). No-op when
    the source is already wide (the 100 TB case).

    The width probe is ``inputFiles()`` — pure plan metadata. (An earlier
    version checked ``df.rdd.getNumPartitions()``, which under AQE
    finalizes the adaptive plan and EXECUTES upstream shuffle stages at
    DataFrame-construction time — a silent whole-stage recompute per
    call.) ``by=None`` round-robins instead of hash-partitioning — use it
    when no high-cardinality key survives the projection. A streaming
    frame is returned unchanged: the probe is batch-only, and a
    micro-batch is as wide as its files.

    Where the spread is decided — one site per text unit, and each
    other site names a fan-out that is not a text unit:

    - :func:`shingle_rows` (char k-grams), :func:`word_shingle_rows`
      (word n-grams) and ``text._token_rows`` (tokens): every char-gram,
      word-n-gram and token explode goes through one of these three;
    - ``text.lang_id``: its marker regex pass is the cost, no explode;
    - ``similarity.cosine_topk_bruteforce`` and
      ``similarity.int8_topk_recall``: the |corpus|×|queries| embedding
      cross-joins;
    - ``linkage.deletion_variants``: the name deletion neighborhoods;
    - ``curation.label_centroids``: the embedding posexplode, with
      ``by=None`` because its only key is the low-cardinality label;
    - ``editnoise.editnoise_pairs``: the per-token perturbation of the
      sampled docs, before any gram exists;
    - :func:`simhash_signatures`: its explode is over DISTINCT tokens;
    - ``text.bigram_surprisal``: the token transitions;
    - q83: the sentence split.

    ``tests/test_plan_lint.py`` pins this set of call sites."""
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if len(df.inputFiles()) >= target:
        return df
    return df.repartition(target, by) if by else df.repartition(target)


def shingle_rows(
    df: DataFrame,
    text_col: str = "text",
    k: int = SHINGLE_K,
    with_pos: bool = False,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id[, *keep][, i, norm], sh) rows: k-char shingles of the
    normalized text, WITH duplicates (min-aggregation downstream is
    duplicate-insensitive); ``keep`` passes metadata columns (e.g.
    ``source``) through. A doc shorter than k emits one shingle: its
    whole normalized text. ``with_pos`` keeps the 1-based shingle
    position ``i`` and the normalized text ``norm``, so a caller can
    derive a longer gram from the same positions (see
    :func:`_winnow_rows`); project ``norm`` away before any sort or
    shuffle, since every row of a doc carries the whole text.

    Deliberately explode(sequence)+substr — flat codegen'd operators —
    rather than a ``transform`` lambda: higher-order functions are
    interpreted per element (and would re-evaluate the normalize regex per
    shingle), an order-of-magnitude difference at scale. The norm column is
    materialized in its own projection so the regex runs once per doc.
    """
    normed = spread_partitions(
        df.select("doc_id", *keep, F.col(text_col))
    ).select("doc_id", *keep, normalize_text(F.col(text_col)).alias("norm"))
    exploded = normed.select(
        "doc_id",
        *keep,
        "norm",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length("norm") - (k - 1), F.lit(1)))
        ).alias("i"),
    )
    cols = ["doc_id", *keep, "i", "norm"] if with_pos else ["doc_id", *keep]
    return exploded.select(*cols, F.expr(f"substr(norm, i, {k})").alias("sh"))


def shingle_sets(sh_rows: DataFrame) -> DataFrame:
    """(doc_id, shingles set) for exact-Jaccard verification."""
    return sh_rows.groupBy("doc_id").agg(F.collect_set("sh").alias("shingles"))


def minhash_signatures(sh_rows: DataFrame, *also: Column) -> DataFrame:
    """Per-doc MinHash signature as N_HASHES columns ``mh0..mh31``, plus
    the ``also`` aggregates over the same rows (``sh`` and its hash
    ``h`` are in scope).

    The variable-length shingle string is hashed ONCE to a long; the 32
    per-function hashes are fixed-width ``xxhash64(i, h)`` re-hashes of
    that long — a single-block hash, several times cheaper than running
    the string hash N_HASHES times (measured ~35% off the signature stage
    at sf0.1). ``min`` partials combine map-side; the only shuffle is on
    doc_id.
    """
    hashed = sh_rows.select("doc_id", "sh", F.xxhash64("sh").alias("h"))
    # SQL-string aggregates (one py4j call each; int literal {i} is the
    # same IntegerType operand F.lit(i) produced — identical hashes)
    aggs = [
        F.expr(f"min(xxhash64({i}, h)) as mh{i}")
        for i in range(N_HASHES)
    ]
    return hashed.groupBy("doc_id").agg(*aggs, *also)


def _minhash_doc_rows(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, mh0..mh31, shingles): each document's production
    signature and its shingle set, from one aggregate over its shingle
    rows."""
    return minhash_signatures(
        shingle_rows(df, text_col), F.collect_set("sh").alias("shingles")
    )


def _md5_salt(tag: str) -> Callable[[list[str]], Column]:
    """Recovery salt over the named columns: the 24-bit md5 prefix of
    ``tag-c1-…-cn``. Every piece is ANSI SQL, so an oracle rebuilds the
    same sub-buckets."""

    def salt(cols: list[str]) -> Column:
        parts = ", ".join(f"cast(`{c}` as string)" for c in cols)
        return F.expr(
            f"cast(conv(substr(md5(concat_ws('-', '{tag}', {parts})), 1, 6),"
            " 16, 10) as int)"
        )

    return salt


def _bucket_pairs(
    members: DataFrame,
    keys: list[str],
    cap: int,
    rule: str = "drop",
    payload: str | None = None,
    recover_rounds: int = 0,
    salt: Callable[[list[str]], Column] | None = None,
    budget: int | None = None,
) -> DataFrame:
    """Candidate pairs of a bucket index — the one bucket→pair kernel of
    the MinHash bands, SimHash chunks and winnow posting lists/min-bands.

    ``members`` has one row per (bucket ``keys``…, ``doc_id``) and an
    optional ``payload`` column. The result is ``(doc_a, doc_b[,
    {payload}_a, {payload}_b])`` with doc_a < doc_b, once per bucket the
    two docs share: callers apply their own ``distinct()`` or count.

    A bucket of m members pairs by ``rule``:

    - ``"drop"``: whole when 2 ≤ m ≤ ``cap``, not at all when m > cap
      (a boilerplate cluster of 10⁵ docs would emit 5·10⁹ pairs);
    - ``"truncate"``: its first ``cap`` members by doc_id.

    m is ``count(*) over (partition by keys)`` and the pairs are a
    self-join on the keys: both join sides (and the recovery branch) read
    one shuffle of ``members``, and window sorters spill, so no bucket is
    ever held in one buffer however large it grows. Pass ``members``
    lazy or localCheckpointed, not persisted: AQE does not reuse a
    shuffle over a cached scan, so each side would shuffle it again.

    ``recover_rounds = R > 0`` re-admits every over-cap bucket with
    bounded work: in round r a member joins sub-bucket
    ``pmod(salt([*keys, "_r", "doc_id"]), ceil(m/cap))``, and the
    sub-buckets pair by the truncate rule. That is at most R·(cap−1)/2
    pairs per member, never the bucket's m(m−1)/2. The bucket key is in
    the salt, so every (bucket, round) is an independent partition and a
    dropped pair returns with probability ≈ 1−(1−cap/m)^(kR), k being
    the number of buckets that hold it. R=0 leaves the base plan alone.

    ``budget``: Σ m(m−1)/2 in bigint over the kept buckets and
    sub-buckets (m after truncation) is counted before any pair
    expansion, and a count above ``budget`` raises. The count and the
    pairs are two jobs, so the sized members (the window's shuffle and
    sort) are localCheckpointed once for both.
    """
    cols = [*keys, "doc_id", *([payload] if payload else [])]
    sized = _sized(members.select(*cols), keys)
    if budget is not None:
        sized = sized.localCheckpoint()
    kept = [(_capped(sized, keys, cap, rule), keys)]
    if recover_rounds > 0:
        rkeys = [*keys, "_r", "_g"]
        sub = (
            sized.filter(F.col("_m") > cap)
            .select(
                *cols,
                "_m",
                F.explode(F.sequence(F.lit(0), F.lit(recover_rounds - 1))).alias(
                    "_r"
                ),
            )
            .select(
                *cols,
                "_r",
                F.pmod(
                    salt([*keys, "_r", "doc_id"]),
                    F.expr(f"(_m + {cap} - 1) div {cap}"),
                ).alias("_g"),
            )
        )
        kept.append((_capped(_sized(sub, rkeys), rkeys, cap, "truncate"), rkeys))
    if budget is not None:
        # a kept bucket of m is m rows of (m - 1), so the sum is Σ m(m-1)
        n = (
            reduce(DataFrame.unionByName, [k.select("_m") for k, _ in kept])
            .agg(F.expr("sum(_m - 1) div 2"))
            .first()[0]
            or 0
        )
        if n > budget:
            raise RuntimeError(
                f"{n} candidate pairs (base + recovery) exceed the budget "
                f"({budget}); a degenerate bucket is going quadratic under "
                "the lifted cap, or recover_rounds is multiplying a "
                "collapsed corpus. Raise candidate_budget to proceed "
                "anyway, or restore a finite max_bucket / lower "
                "recover_rounds."
            )
    return reduce(
        DataFrame.unionByName, [_pair_up(k, bk, payload) for k, bk in kept]
    )


def _sized(frame: DataFrame, keys: list[str]) -> DataFrame:
    """``frame`` + ``_m``, its bucket's member count. The window is
    ordered by doc_id so the truncate rule's row_number shares its sort."""
    return frame.withColumn(
        "_m",
        F.expr(
            f"count(1) over (partition by {', '.join(keys)} order by doc_id"
            " rows between unbounded preceding and unbounded following)"
        ),
    )


def _capped(sized: DataFrame, keys: list[str], cap: int, rule: str) -> DataFrame:
    """The members that pair under ``rule``, ``_m`` reset to the number
    of them in the bucket."""
    if rule == "drop":
        return sized.filter(f"_m BETWEEN 2 AND {cap}")
    return (
        sized.withColumn(
            "_rn",
            F.expr(
                f"row_number() over (partition by {', '.join(keys)}"
                " order by doc_id)"
            ),
        )
        .filter(f"_m >= 2 AND _rn <= {cap}")
        .withColumn("_m", F.least("_m", F.lit(cap).cast("long")))
    )


def _pair_up(kept: DataFrame, keys: list[str], payload: str | None) -> DataFrame:
    """The doc_a < doc_b pairs of every bucket: a self-join on ``keys``."""

    def side(s: str) -> DataFrame:
        extra = [f"`{payload}` as `{payload}_{s}`"] if payload else []
        return kept.selectExpr(*keys, f"doc_id as doc_{s}", *extra)

    out = [f"{payload}_a", f"{payload}_b"] if payload else []
    return (
        side("a")
        .join(side("b"), keys)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", *out)
    )


def lsh_candidates(
    sigs: DataFrame,
    max_bucket: int = MAX_BUCKET,
    recover_rounds: int = 0,
) -> DataFrame:
    """LSH banding: docs agreeing on any band become candidate pairs
    (doc_a < doc_b), each pair once.

    A band bucket pairs whole when it holds 2..``max_bucket`` docs and
    not at all above (the drop rule of :func:`_bucket_pairs`). Exact
    duplicates of a dropped cluster are still caught by exact_dedupe;
    LSH targets the *near*-dup tail, where buckets are small by nature.

    ``recover_rounds = R`` re-admits the dropped buckets through the
    kernel's salted sub-buckets, salted with xxhash64 — the production
    hash family, like the band keys. For a bucket of m=300 at cap 64,
    R=8 recovers a pair held in one band with probability 0.85; the
    recovery reclaims most where the drop hurts most, m just over the
    cap. R=0 (the default) is the plain drop.
    """
    # one SQL-string band hash per band (one py4j call each)
    band_hashes = [
        F.expr(
            "xxhash64("
            + ", ".join(
                f"mh{i}"
                for i in range(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND)
            )
            + ")"
        )
        for b in range(N_BANDS)
    ]
    banded = sigs.select(
        "doc_id", F.posexplode(F.array(*band_hashes)).alias("band_id", "band_hash")
    )
    return _bucket_pairs(
        banded,
        ["band_id", "band_hash"],
        max_bucket,
        recover_rounds=recover_rounds,
        salt=lambda cols: F.expr(f"xxhash64('lshrec', {', '.join(cols)})"),
    ).distinct()


def jaccard_verify(
    candidates: DataFrame, sh_sets: DataFrame, threshold: float
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs only.

    Joins the shingle arrays back (two hash joins on doc_id), then
    |A∩B| / |A∪B| via array_intersect/array_union — still no Python.
    """
    a = sh_sets.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = sh_sets.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        candidates.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", floor_round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _agree_sql(a: str, b: str) -> str:
    """SQL count of agreeing signature components ``{a}i = {b}i`` over
    the N_HASHES columns. One SQL string, so one py4j call; a NULL side
    (no signature) counts as no match."""
    return " + ".join(
        f"(case when {a}{i} = {b}{i} then 1 else 0 end)"
        for i in range(N_HASHES)
    )


def estimate_filter(
    candidates: DataFrame, sigs: DataFrame, min_agree: int
) -> DataFrame:
    """Drop candidate pairs whose SIGNATURE similarity estimate is hopeless
    before the expensive exact verification.

    The fraction of agreeing minhashes is an unbiased Jaccard estimate; a
    pair at the verify threshold 0.5 has P(estimate < 8/32) ≈ 0.4%, while
    the false candidates a shared-vocabulary corpus floods the bands with
    sit far below it — so ~95% of candidates die here for the cost of two
    hash joins on doc id + 32 codegen'd comparisons per pair, instead of
    materializing shingle sets and running array_intersect on each.
    """
    # selectExpr: one py4j call per frame
    a = sigs.selectExpr(
        "doc_id as doc_a", *[f"mh{i} as _a{i}" for i in range(N_HASHES)]
    )
    b = sigs.selectExpr(
        "doc_id as doc_b", *[f"mh{i} as _b{i}" for i in range(N_HASHES)]
    )
    return (
        candidates.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(F.expr(_agree_sql("_a", "_b")) >= min_agree)
        .select("doc_a", "doc_b")
    )


def minhash_near_dupes(
    df: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    max_bucket: int = MAX_BUCKET,
    min_agree: int | None = None,
    recover_rounds: int = 0,
) -> DataFrame:
    """End-to-end MinHash+LSH near-duplicate pairs with exact verification.

    Banding proposes candidates; the signature-estimate filter kills the
    hopeless ones cheaply; exact Jaccard verifies the survivors. Each
    document is shingled once: one aggregate over its shingle rows gives
    its 32 signature lanes AND its shingle set, and banding, the
    estimate filter and the verify all read that one checkpointed row.
    The trade: the checkpoint holds every document's set (bounded by the
    document's length), not only the candidates', in exchange for one
    corpus read, normalize and explode instead of two, and no second
    collect_set exchange.

    ``min_agree`` defaults to ``N_HASHES·(threshold − 0.125)`` — the
    verify threshold minus ~1.5σ of the 32-hash estimate (σ≈0.088 at
    t=0.5). Candidates below it essentially can't verify: shared-vocabulary
    corpora flood the bands with J≈0.2-0.3 pairs whose estimates sit well
    under the margin (measured at sf0.1: cutoff 12 vs 8 shrinks the verify
    set 27k→4k pairs and loses zero of the 256 true pairs, whose minimum
    agreement is 26/32). The residual miss probability at J=threshold is
    a few percent — well inside the banding scheme's own recall limit at
    the threshold (P(no band match | J=0.5) ≈ 60% for 8×4 banding).

    ``recover_rounds > 0`` turns on the capped-bucket recovery pass (see
    :func:`lsh_candidates`) — the recall-critical configuration for
    corpora where the q116 audit shows material ``dropped_pairs`` volume
    in buckets the cap can't simply be raised over.

    **Default-selection rule (r15 knee, measured at 30× on the drop AND
    mixed edit-noise corpora — SCALE.md Round-15 §1):** keep ``R=0``
    while q116's ``dropped_pairs`` is under ~5% of the emitted pair
    count — recovery can only reclaim capped-bucket pairs, so below
    that the ceiling is under a recall point. Above it use **R=4**:
    the reclaim-vs-R curve halves each doubling (R=2 captures ~60% of
    the total reclaimable mass, R=4 ~81-83%, R=8 ~94%, R=16 ~97% on
    BOTH corpora), while the marginal wall cost is bounded by the r14
    clean interleaved measurement at ~20-30% of pipeline wall for R=8
    (~3.1k reclaimed pairs/s there; the r15 same-session sweep puts
    R≤4 inside run-to-run noise). Past R=8 a doubling buys <0.5 recall
    points — spend the budget on a larger ``max_bucket`` instead if the
    q116 audit shows few very-large buckets rather than many slightly
    -over-cap ones.
    """
    if min_agree is None:
        min_agree = max(1, int(N_HASHES * (threshold - 0.125)))
    # The per-doc row (lanes + shingle set) is materialized, eagerly:
    # banding, the estimate filter and both verify join sides consume
    # it, and lazily each would re-run the shingle explode and the
    # aggregation. localCheckpoint, not persist: the bucket self-join's
    # two sides then share one shuffle (AQE does not reuse an exchange
    # over a cached scan), and there is no cache to release.
    sigs = _minhash_doc_rows(df, text_col).localCheckpoint()
    # The estimate filter exists to protect the verify stage from a flood
    # of hopeless candidates; when banding already produced a small set,
    # its two signature joins cost more than the verify work they'd save
    # — so it only runs past a candidate budget. At 100 TB the budget is
    # always exceeded and the filter always runs. The count materializes
    # the candidates for the verify that reads them next.
    cands = lsh_candidates(sigs, max_bucket, recover_rounds).localCheckpoint(
        eager=False
    )
    if cands.count() > 200_000:
        cands = estimate_filter(cands, sigs, min_agree)
    else:
        # At most 200 000 pairs (3.2 MB): broadcast them, so the verify
        # streams the per-doc rows in parallel. The checkpoint keeps the
        # self-join's size estimate (terabytes), so unhinted the per-doc
        # rows were broadcast and every pair verified in one task
        # (2.7 s of q25 at sf0.1).
        cands = F.broadcast(cands)
    # materialize the (tiny) verified-pair set: the caller's actions then
    # never re-run the pipeline
    return jaccard_verify(cands, sigs, threshold).localCheckpoint()


def _portable_perm_constants(n: int = N_HASHES) -> list[int]:
    """The twin's n xor-mask 'permutation' constants, derived from md5 so
    the DuckDB oracle regenerates the identical values with
    ``CAST('0x'||substr(md5('perm-'||i),1,15) AS BIGINT)``. XOR with a
    constant is a bijection on the 60-bit hash space — a valid (if
    weaker-than-random-permutation) min-wise family, standard practice
    where speed/portability beat the last few percent of estimator
    variance."""
    import hashlib

    return [
        int(hashlib.md5(f"perm-{i}".encode()).hexdigest()[:15], 16)
        for i in range(n)
    ]


def _portable_signatures(
    sh_rows: DataFrame, key: str, *also: Column
) -> DataFrame:
    """(key, mh0..mh31[, also]): the portable xor-mask min-wise
    signatures of ``(key, sh)`` shingle rows over their md5-prefix hash
    ``h``, plus the ``also`` aggregates over the same rows (``h`` is in
    scope). Each aggregate is one SQL string (one py4j call).

    The raw hash rows are NOT deduplicated or persisted: min-aggregation
    is duplicate-insensitive, so the signature stage consumes the
    codegen'd explode stream directly (map-side combine, no distinct
    shuffle of the largest dataset in the pipeline — a full-corpus
    distinct was the single hottest stage of the first cut: 9.1s, see
    ROUND6.md)."""
    perms = _portable_perm_constants()
    return (
        sh_rows.select(key, md5_token_hash(F.col("sh")).alias("h"))
        .groupBy(key)
        .agg(
            *[F.expr(f"min(h ^ {perms[i]}L) as mh{i}") for i in range(N_HASHES)],
            *also,
        )
    )


def _portable_bands(sigs: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_key) rows of a portable signature frame:
    md5 band keys over N_BANDS × ROWS_PER_BAND lanes. The q109 pipeline
    and the q116 bucket audit both band through here, so both see the
    identical buckets."""
    band_keys = [
        F.expr(
            "md5(concat_ws(',', "
            + ", ".join(
                f"mh{i}"
                for i in range(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND)
            )
            + "))"
        )
        for b in range(N_BANDS)
    ]
    return sigs.select(
        "doc_id",
        F.posexplode(F.array(*band_keys)).alias("band_id", "band_key"),
    )


def _portable_doc_rows(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, mh0..mh31, hset): each document's portable signature and
    its shingle-hash set, from one aggregate over its shingle rows."""
    return _portable_signatures(
        shingle_rows(df, text_col), "doc_id", F.collect_set("h").alias("hset")
    )


def _portable_banded(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, band_id, band_key) rows of the PORTABLE MinHash pipeline
    over a documents frame: md5-prefix shingle hashes → xor-mask
    min-wise signatures → md5 band keys."""
    return _portable_bands(
        _portable_signatures(shingle_rows(df, text_col), "doc_id")
    )


def lsh_bucket_audit(
    df: DataFrame, text_col: str = "text", max_bucket: int = MAX_BUCKET
) -> DataFrame:
    """Per-band accounting of what the LSH bucket cap keeps and DROPS —
    the "no silent caps" audit for the MinHash pipeline (portable hash
    family, so the driver oracle replays it bit-for-bit, q116).

    One row per band: total buckets, singletons (no pair work), pair
    buckets (2 ≤ m ≤ cap), capped buckets (m > cap), and the candidate
    pairs each class represents (m·(m−1)/2, exact integers). A capped
    boilerplate cluster stops being invisible: ``dropped_pairs`` is the
    exact candidate volume the cap refused to generate, the number to
    check before trusting the near-dup tail (exact_dedupe still catches
    J=1 duplicates regardless).

    Scale: one groupBy on (band_id, band_key) with map-side partial
    counts — the SAME exchange the candidate pipeline already does —
    then a 6-row aggregate. No pair expansion anywhere, so the audit is
    safe to run on a corpus whose caps WOULD explode the pair join.
    """
    bsize = (
        _portable_banded(df, text_col)
        .localCheckpoint()
        .groupBy("band_id", "band_key")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    pairs = F.expr("m * (m - 1) div 2")
    kept = (F.col("m") >= 2) & (F.col("m") <= max_bucket)
    over = F.col("m") > max_bucket
    return (
        bsize.groupBy(F.col("band_id").cast("long").alias("band_id"))
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(F.when(F.col("m") == 1, 1).otherwise(0)).alias(
                "n_singletons"
            ),
            F.sum(F.when(kept, 1).otherwise(0)).alias("n_pair_buckets"),
            F.sum(F.when(over, 1).otherwise(0)).alias("n_capped_buckets"),
            F.sum(F.when(kept, pairs).otherwise(F.lit(0).cast("long"))).alias(
                "kept_pairs"
            ),
            F.sum(F.when(over, pairs).otherwise(F.lit(0).cast("long"))).alias(
                "dropped_pairs"
            ),
        )
    )


def minhash_near_dupes_portable(
    df: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    max_bucket: int = MAX_BUCKET,
    recover_rounds: int = 0,
) -> DataFrame:
    """The full MinHash+LSH pipeline in ENGINE-PORTABLE form — every stage
    (shingle hash, xor-mask min-wise signatures, banding, the bucket-size
    cap, exact verification) is reproducible in ANSI SQL, so the DuckDB
    oracle replays the approximation itself and the driver hash-checks the
    approximate output (the q28 trick applied to MinHash — recall<1 stops
    implying unverifiable once the randomness is deterministic and
    portable).

    Buckets, the cap and recovery are the same :func:`_bucket_pairs`
    call as the production :func:`minhash_near_dupes`; the candidate
    pairs differ only in the hash family, all forced by portability:
    md5-prefix shingle hashes and xor-mask permutations instead of
    xxhash64 (the signature hash), md5 of the joined signature slice
    instead of xxhash64 (the band key), and an md5 recovery salt instead
    of xxhash64. The twin skips the estimate filter, a performance
    pruner that production runs only past 200 000 candidates. Shuffle
    shape: signature groupBy on doc_id, bucket self-join on (band_id,
    band_key), verify joins on doc ids.
    """
    t_bp = int(round(threshold * 10000))
    # one corpus pass: each doc's lanes and its hash set, checkpointed —
    # banding and both verify join sides read it (see minhash_near_dupes)
    sigs = _portable_doc_rows(df, text_col).localCheckpoint()
    cands = _bucket_pairs(
        _portable_bands(sigs),
        ["band_id", "band_key"],
        max_bucket,
        recover_rounds=recover_rounds,
        salt=_md5_salt("lshrec"),
    ).distinct()
    # Verify staging matches the production path (jaccard_verify):
    # bounded per-doc hash-set arrays + native array_intersect on the
    # pair rows, NOT a per-hash-row expansion join — the expansion
    # shuffles |pairs| × |doc set| rows where this joins |pairs| rows
    # carrying two bounded arrays (measured ~2× on the verify stage).
    # The threshold compare stays exact integer basis points.
    return (
        cands.join(
            sigs.select(
                F.col("doc_id").alias("doc_a"), F.col("hset").alias("hs_a")
            ),
            "doc_a",
        )
        .join(
            sigs.select(
                F.col("doc_id").alias("doc_b"), F.col("hset").alias("hs_b")
            ),
            "doc_b",
        )
        .withColumn(
            "ov", F.size(F.array_intersect("hs_a", "hs_b")).cast("long")
        )
        .withColumn(
            "uni",
            F.size("hs_a").cast("long") + F.size("hs_b") - F.col("ov"),
        )
        .filter(F.col("ov") * 10000 >= F.lit(t_bp) * F.col("uni"))
        .select(
            "doc_a",
            "doc_b",
            floor_round(F.col("ov") / F.col("uni"), 4).alias("jaccard"),
        )
        .localCheckpoint()
    )


def source_minhash_jaccard(
    df: DataFrame, key_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Pairwise MinHash-ESTIMATED shingle Jaccard between groups (the
    q25/q109 sketch-vs-exact pairing applied to SOURCE grain — q170's
    exact form stays as this sketch's audit twin).

    Why this exists at 100 TB: the exact source-pair Jaccard (q170)
    must DISTINCT the full ``(source, 5-gram)`` domain — a corpus-sized
    shuffle. Here the only corpus-sized work is map-side (normalize →
    explode → hash feeding a partial min): the exchange carries at most
    ``partitions × |sources|`` partially-aggregated signature rows of
    ``N_HASHES`` longs, and the pairwise compare runs on a
    ``|sources|``-row frame. No distinct anywhere — min-aggregation is
    duplicate-insensitive, the same trick the doc-grain signature stage
    uses (see :func:`_portable_signatures`).

    Portable hash family throughout (md5-prefix shingle hashes, xor-mask
    permutations from ``md5('perm-'||i)``), so a DuckDB oracle replays
    the sketch bit-for-bit and the driver hash-checks the ESTIMATE
    itself. Output: one row per unordered source pair with the exact
    matching-component count and the estimate in basis points
    (``matching * 10000 div N_HASHES`` — integer arithmetic end-to-end,
    no float surface).
    """
    return signature_pair_estimates(
        source_minhash_signatures(df, key_col, text_col), key_col
    ).orderBy("source_a", "source_b")


def source_minhash_signatures(
    df: DataFrame, key_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """(key, mh0..mh31) portable MinHash signatures at group grain — the
    shared sketch stage of :func:`source_minhash_jaccard` AND the
    streaming maintenance path (``streaming/sketch_maintenance.py``):
    min is a MONOTONE FOLD, so the identical expression tree over a
    STREAMING frame is exact incremental signature maintenance — the
    state store keeps |sources| × N_HASHES running mins and every
    micro-batch folds in map-side. No distinct anywhere (min is
    duplicate-insensitive)."""
    return _portable_signatures(
        shingle_rows(df, text_col, keep=(key_col,)), key_col
    )


def signature_pair_estimates(
    sigs: DataFrame, key_col: str = "source"
) -> DataFrame:
    """Pairwise estimated Jaccard from a (key, mh0..mh31) signature
    frame — |keys|²-bounded, consumed by the batch matrix query and by
    the streaming monitor's per-batch readout. Unordered.

    The signature frame is localCheckpointed FIRST: both join aliases
    consume it, and without the materialization each side re-runs the
    whole corpus-scan signature subtree (the q108 self-join lesson —
    .explain showed 2 scans + 2 signature aggregations for a |keys|-row
    frame). Eager at plan-construction time, like the IVF anchor
    collect; the frame is |keys| rows, so the checkpoint is trivially
    bounded."""
    sigs = sigs.localCheckpoint()
    # selectExpr / SQL-string forms: one py4j call per frame instead of
    # two per column. key_col is backtick-quoted so identifiers that
    # F.col() tolerated (dots, spaces, reserved words) keep parsing.
    a = sigs.selectExpr(
        f"`{key_col}` as source_a",
        *[f"mh{i} as a{i}" for i in range(N_HASHES)],
    )
    b = sigs.selectExpr(
        f"`{key_col}` as source_b",
        *[f"mh{i} as b{i}" for i in range(N_HASHES)],
    )
    matching = F.expr(_agree_sql("a", "b"))
    return (
        a.join(F.broadcast(b), F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            matching.cast("int").alias("matching_components"),
        )
        .withColumn(
            "est_jaccard_bp",
            F.expr(
                f"cast(matching_components * 10000 div {N_HASHES} as int)"
            ),
        )
    )


def source_shingle_jaccard(df: DataFrame, text_col: str = "text") -> DataFrame:
    """EXACT pairwise 5-gram Jaccard between sources — q172's audit twin
    (the q170 query surface; lifted into an operator so the error audit
    composes it). One (source, shingle) DISTINCT — deliberately
    corpus-sized: this is the audit-cadence form whose estimate-mode
    replacement is :func:`source_minhash_jaccard` — then a shingle-keyed
    self-join (only shingles in 2+ sources produce rows) and bounded
    |sources|² rollups. Unordered; callers apply their own ORDER BY.
    """
    sh = (
        shingle_rows(df, text_col, keep=("source",))
        .select("source", "sh")
        .distinct()
    )
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("source").alias("source_a"), "sh")
    b = sh.select(F.col("source").alias("source_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("ov"))
    )
    return (
        inter.join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("source_a"),
                    F.col("sz").alias("sza"),
                )
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("source_b"),
                    F.col("sz").alias("szb"),
                )
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            F.col("ov").cast("bigint").alias("shared_shingles"),
            floor_round(
                F.col("ov").cast("double")
                / (F.col("sza") + F.col("szb") - F.col("ov")),
                4,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

N_SIM_BITS = 63  # bits 0..62: keeping the sign bit clear avoids signed-
# long overflow juggling and loses almost nothing for the sketch


def md5_token_hash(tok: Column) -> Column:
    """60-bit token hash from the md5 hex prefix — the ENGINE-PORTABLE hash
    family: DuckDB computes the identical value via
    ``CAST('0x'||substr(md5(tok),1,15) AS BIGINT)``, which is what lets the
    driver oracle-check an exact SimHash twin (q26). xxhash64 stays the
    production default (one JVM op vs md5's digest + hex parse)."""
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long")


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    token_hash: Callable[[Column], Column] | None = None,
) -> DataFrame:
    """63-bit SimHash per doc from distinct-token hashes.

    explode tokens → one xxhash64 per token → groupBy(doc) with 63
    conditional-sum "bit votes" (map-side combinable) → fold votes into a
    single long. One shuffle on doc_id, each token hashed once.
    ``token_hash`` swaps the hash family (md5_token_hash for the
    oracle-portable twin); the SimHash algorithm itself is unchanged.
    """
    hash_fn = token_hash or (lambda c: F.xxhash64(c))
    toks = F.array_distinct(tokens(F.col(text_col)))
    exploded = (
        spread_partitions(df.select("doc_id", F.col(text_col)))
        .select("doc_id", F.explode(toks).alias("tok"))
        .select("doc_id", hash_fn(F.col("tok")).alias("h"))
    )
    # SQL-string expressions: one py4j call per vote aggregate / one for
    # the 63-term fold, instead of the former Column-combinator loops
    # whose ~10 py4j round-trips per term made DataFrame CONSTRUCTION a
    # multi-second driver-side fixed cost per query (measured r16 opt
    # round on the editnoise twin: build 3.5-14 s vs exec ~1 s).
    # Semantics identical: CASE WHEN mirrors when/otherwise, bigint
    # literals mirror the former cast('long') shapes.
    votes = [
        F.expr(
            f"sum(case when (shiftright(h, {b}) & 1) = 1"
            f" then 1 else -1 end) as v{b}"
        )
        for b in range(N_SIM_BITS)
    ]
    voted = exploded.groupBy("doc_id").agg(*votes)
    sig = F.expr(
        " + ".join(
            f"(case when v{b} > 0 then {2**b}L else 0L end)"
            for b in range(N_SIM_BITS)
        )
    )
    return voted.select("doc_id", sig.alias("simhash"))


def simhash_near_dupes(
    df: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket: int = MAX_BUCKET,
    token_hash: Callable[[Column], Column] | None = None,
    candidate_budget: int | None = None,
    recover_rounds: int = 0,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming.

    Candidate generation by banding the 64 bits into 4×16-bit chunks
    (pigeonhole: Hamming ≤ 3 ⇒ ≥1 chunk identical) — an equi-join, not a
    cross join; degenerate chunk buckets capped like the MinHash path;
    exact Hamming check on candidates via bit_count(xor).

    With ``max_bucket >= n_docs`` no bucket is ever dropped, so the
    pigeonhole guarantee makes this path EXACT (recall 1.0) for
    Hamming ≤ 3 — which is how the q26 driver twin gets oracle-checked
    against DuckDB's all-pairs ``bit_count(xor(...))``.

    ``candidate_budget``: with the cap lifted for exact mode, a
    shared-template corpus (many docs voting to near-identical
    signatures) can make one chunk bucket quadratic. The budget counts
    the candidate pairs of the base buckets and recovery sub-buckets
    FROM THEIR SIZES — Σ m·(m−1)/2 in bigint, no pair expansion — and
    raises loudly when exceeded instead of grinding through the pair
    join.

    ``recover_rounds > 0`` re-admits over-cap chunk buckets through the
    salted sub-buckets of :func:`_bucket_pairs`. Permutation-invariant
    signatures collapse whole near-dup clusters into one chunk bucket,
    so there the cap, not Hamming, bounds recall. The salt is the md5
    24-bit prefix of 'simrec-chunk_id-chunk_val-r-doc_id', so with
    ``token_hash=md5_token_hash`` every stage — signatures, chunks,
    recovery partitions — is engine-portable and the production
    function value-gates directly against DuckDB (q201). The exact
    Hamming check verifies every recovered pair; R=0 is the plain drop.
    """
    sigs = simhash_signatures(df, text_col, token_hash=token_hash)
    chunks = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), 16 * c).bitwiseAND(F.lit(0xFFFF))
                    for c in range(4)
                ]
            )
        ).alias("chunk_id", "chunk_val"),
    )
    pairs = _bucket_pairs(
        chunks,
        ["chunk_id", "chunk_val"],
        max_bucket,
        payload="simhash",
        recover_rounds=recover_rounds,
        salt=_md5_salt("simrec"),
        budget=candidate_budget,
    ).distinct()
    # the payload carries both signatures, so the check needs no join back
    return pairs.select(
        "doc_a",
        "doc_b",
        F.expr("bit_count(simhash_a ^ simhash_b)").alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# Exact set-similarity join (prefix filtering)
# ---------------------------------------------------------------------------


def exact_jaccard_join(
    df: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    unit: str = "char",
    candidate_budget: int | None = 5_000_000,
) -> DataFrame:
    """ALL pairs with exact shingle-Jaccard >= ``threshold`` — recall 1.0.

    ``unit``: "char" = 5-char shingles (fine-grained, the MinHash
    granularity); "word" = 5-word shingles (the standard document-dedup
    granularity — ~5-10x fewer shingle rows, shrinking every stage of
    the join by the same factor at unchanged document-level recall).

    The third dedup path, complementing exact fingerprints (recall 1 at
    J=1 only) and MinHash+LSH (any J, recall < 1): prefix filtering
    (public algorithm: Chaudhuri et al. SSJoin / Xiao et al. PPJoin)
    makes the EXACT similarity join an equi-join instead of a cross join.

    Theorem: order every doc's shingle set by a global order (document
    frequency ascending, rarest first — ties on the shingle). If
    J(A,B) >= t then |A∩B| >= t·max(|A|,|B|), so the first
    |d| - ceil(t·|d|) + 1 elements of each side (its "prefix") must
    intersect — a pair sharing NO prefix element cannot qualify. The
    candidate join therefore touches only prefix rows (the rare tail of
    each doc), and the exact verifier filters false positives — never
    false negatives.

    The verifier intersects arrays of xxhash64'd shingles (longs, not
    strings — measured 6x: long equality vs per-element string hashing
    across |A|+|B| ~ 600 elements on every candidate pair) and derives
    the union from the known set sizes (|A∪B| = |A|+|B|-|A∩B|), halving
    the per-pair array work. Hashed-set Jaccard equals string-set Jaccard
    unless xxhash64 collides within a pair's ~600 shingles (P ~ 2^-45 per
    pair) — and the DuckDB oracle computes on raw strings, so the gate
    would surface a collision as a hash mismatch.

    Also applies length pruning inside the join: J >= t forces
    t <= |A|/|B| <= 1/t, so wildly different-size docs never pair.

    Scale: candidates are bounded by prefix-element co-occurrence; on
    zipf-distributed real text the prefix lands on low-df shingles and
    the join stays sparse. A uniformly-shared vocabulary (every shingle
    high-df) degrades toward all-pairs — that is intrinsic to EXACT
    similarity joins; use the MinHash path when recall < 1 is acceptable.
    Shuffles: df count (sh), per-doc rank window (doc_id), candidate
    equi-join (sh), verify joins (doc id) — all key-bounded, no cross
    product anywhere.
    """
    from pyspark.sql import Window

    if unit not in ("char", "word"):
        raise ValueError(f"unit must be 'char' or 'word', got {unit!r}")
    raw_rows = (
        shingle_rows(df, text_col)
        if unit == "char"
        else word_shingle_rows(df, text_col)
    )
    # Hash shingles to 64-bit longs at the source: every downstream
    # shuffle (distinct, df count, prefix join, candidate equi-join,
    # verify sets) then moves 8-byte keys instead of ~30-char strings —
    # at 100 TB the prefix join's exchange IS the cost. Prefix filtering
    # only needs SOME consistent global order, so ordering by (df, hash)
    # is as valid as (df, shingle). A cross-doc hash collision could at
    # worst admit a false candidate (killed by the verifier) or inflate
    # one pair's intersection by 1 (P ~ 2^-45 per pair, and the DuckDB
    # twin computes on raw strings — the gate would surface it).
    # persisted + EAGER (concurrent consumers of a lazy persist each
    # recompute the full upstream before any cache partition lands):
    # sets_rows feeds sizes/dfreq/prefix-join and the verify-side
    # semi-join
    sets_rows = (
        raw_rows.select("doc_id", F.xxhash64("sh").alias("sh"))
        .distinct()
        .persist()
    )
    sets_rows.count()
    # All threshold comparisons below use INTEGER basis points, never
    # float products: ceil(0.8 * 35) evaluates as ceil(28.000000000000004)
    # = 29 in binary floating point — one element short on the prefix, one
    # too many on the overlap bound — silently dropping exact-boundary
    # pairs and breaking the recall-1.0 contract. t_bp is exact for any
    # threshold expressible in 4 decimals (the operator's precision).
    t_bp = int(round(threshold * 10000))
    sizes = sets_rows.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    dfreq = sets_rows.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "sh")
    # ceil(t*sz) in exact integer math: (t_bp*sz + 9999) div 10000
    ceil_t_sz = F.expr(f"({t_bp} * sz + 9999) div 10000")
    pref = (
        sets_rows.join(dfreq, "sh")
        .join(sizes, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.col("sz") - ceil_t_sz + 1)
        .select("doc_id", "sh", "sz", "rn")
        # consumed by BOTH sides of the candidate self-join. persist()
        # WITHOUT an eager count (r17 opt round): the two join aliases
        # resolve to the same InMemoryRelation, so the DAGScheduler
        # shares its stages within the cands action even before the
        # cache lands — measured identical shuffle bytes with/without
        # the barrier job, and dropping it cut 1 job + ~0.6 s at sf0.1.
        # (sets_rows above is different: dropping ITS count raced the
        # base distinct across the three pref subtrees and doubled
        # shuffle write 3.85->8.16 MB in 2 of 10 A/B rounds — that
        # barrier is load-bearing; these two are not.)
        .persist()
    )
    a = pref.select(
        F.col("doc_id").alias("doc_a"),
        "sh",
        F.col("sz").alias("sz_a"),
        F.col("rn").alias("rn_a"),
    )
    b = pref.select(
        F.col("doc_id").alias("doc_b"),
        "sh",
        F.col("sz").alias("sz_b"),
        F.col("rn").alias("rn_b"),
    )
    # positional filter (PPJoin): for the pair's FIRST shared element in
    # the global order, overlap <= 1 + min(elements after it on each
    # side); a qualifying pair needs overlap >= t/(1+t)·(|A|+|B|) (the
    # Jaccard-to-overlap bound), so a pair whose every co-occurrence row
    # fails it cannot qualify — the first-shared-element row would pass.
    overlap_ub = F.lit(1) + F.least(
        F.col("sz_a") - F.col("rn_a"), F.col("sz_b") - F.col("rn_b")
    )
    # overlap >= t/(1+t)·(|A|+|B|): ceil via integer math with the exact
    # rational t_bp/(10000+t_bp) — t=0.8 is 4/9 of the size sum, which
    # float ceil(0.4444...*63) gets wrong (29 vs 28)
    overlap_req = F.expr(
        f"({t_bp} * (sz_a + sz_b) + {10000 + t_bp} - 1)"
        f" div {10000 + t_bp}"
    )
    cands = (
        a.join(b, "sh")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("sz_a") * 10000 >= F.lit(t_bp) * F.col("sz_b"))
            & (F.col("sz_b") * 10000 >= F.lit(t_bp) * F.col("sz_a"))
            & (overlap_ub >= overlap_req)
        )
        .select("doc_a", "doc_b", "sz_a", "sz_b")
        .distinct()
        .persist()  # consumed by docs_in_pairs and the verify pair join
    )
    n_cands = cands.count()
    _LOG.info(
        "exact_jaccard_join(unit=%s, t=%s): %d candidate pairs after "
        "prefix/length/positional filtering",
        unit,
        threshold,
        n_cands,
    )
    if candidate_budget is not None and n_cands > candidate_budget:
        # An EXACT join cannot drop candidates without breaking its
        # recall-1.0 contract, so a degenerate corpus (uniformly shared
        # vocabulary -> every prefix element high-df -> candidates trend
        # toward all-pairs) must fail LOUDLY, not grind quadratically.
        # The char-5-gram unit on shared-template corpora is the known
        # offender (~20s isolated at sf0.1); word shingles or the MinHash
        # path (recall<1, capped buckets) are the escape hatches.
        cands.unpersist()
        pref.unpersist()
        sets_rows.unpersist()
        raise RuntimeError(
            f"exact_jaccard_join: {n_cands} candidate pairs exceed the "
            f"budget ({candidate_budget}); the corpus is degenerating "
            "toward all-pairs under exact prefix filtering. Raise "
            "candidate_budget to proceed anyway, use unit='word', or "
            "switch to the MinHash path (minhash_near_dupes) if "
            "recall < 1 is acceptable."
        )
    docs_in_pairs = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # the sets feed the verifier through BOTH pair aliases (a/b) — same
    # double-consumer trap as the MinHash verify stage
    hsets = (
        sets_rows.join(docs_in_pairs, "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_set("sh").alias("hs"))  # sh is already the 64-bit hash
        .persist()  # no eager count — see pref above (same alias pair)
    )
    ha = hsets.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("h_a"))
    hb = hsets.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("h_b"))
    # cast BEFORE the ×10000: size() is a 32-bit int, and a doc of
    # >214,748 shingles would wrap the admission product silently
    # (the overflow class the bucket-pair budget counts in bigint for)
    ov = F.size(F.array_intersect("h_a", "h_b")).cast("long")
    uni = F.col("sz_a") + F.col("sz_b") - ov
    # admit on the EXACT integer comparison ov/uni >= t (ov*10000 >=
    # t_bp*uni) — the same boundary the candidate filters prune at; a
    # round-then-compare admission would disagree with the pruning for
    # pairs whose J rounds up across the threshold. Rounding is display
    # only (and the oracle twin mirrors exact-filter + rounded-emit).
    out = (
        cands.join(ha, "doc_a")
        .join(hb, "doc_b")
        .filter(ov * 10000 >= F.lit(t_bp) * uni)
        .select("doc_a", "doc_b", floor_round(ov / uni, 4).alias("jaccard"))
        .localCheckpoint()
    )
    sets_rows.unpersist()
    pref.unpersist()
    cands.unpersist()
    hsets.unpersist()
    return out


def word_shingle_rows(
    df: DataFrame, text_col: str = "text", n: int = 5
) -> DataFrame:
    """(doc_id, sh) rows: n-WORD shingles of the normalized text.

    The standard dedup granularity for text corpora (word n-grams):
    ~5-10x fewer rows than character shingles at the same recall for
    document-level near-dups, which shrinks every downstream stage of a
    similarity join by the same factor. Docs with fewer than ``n`` words
    emit NO shingles (and so pair with nothing) — the same guard the
    DuckDB twins use, keeping both engines' edge semantics identical.
    """
    normed = spread_partitions(df.select("doc_id", F.col(text_col))).select(
        "doc_id", tokens(F.col(text_col)).alias("w")
    )
    exploded = normed.select(
        "doc_id",
        "w",
        F.explode(
            F.when(
                F.size("w") >= n, F.sequence(F.lit(1), F.size("w") - (n - 1))
            ).otherwise(F.array().cast("array<int>"))
        ).alias("i"),
    )
    return exploded.select(
        "doc_id", F.expr(f"concat_ws(' ', slice(w, i, {n}))").alias("sh")
    )


def duplicate_spans(
    df: DataFrame, text_col: str = "text", n: int = 20
) -> DataFrame:
    """Exact duplicated-span detection: per-doc count/fraction of n-WORD
    windows that also appear verbatim in at least one OTHER document.

    The fixed-window form of exact-substring training-data dedup (the
    suffix-array approach finds maximal repeats; fixed windows find the
    same cross-document boilerplate with two aggregations instead of a
    suffix sort, the standard map-reduce adaptation). Returns
    (doc_id, n_windows, n_dup_windows, dup_ratio) for docs with at least
    one duplicated window — the rows a curation pipeline would route to
    span-level cutting.

    Scale shape: windows shuffle by a 128-bit md5 fingerprint (32-char
    hex, ~4x smaller than the raw ~120-char span — the shuffle IS the
    cost at 100 TB), min!=max on doc_id detects cross-doc repeats without
    a COUNT DISTINCT, and the flagging join is an equi-join on the same
    fingerprint (re-using the partitioning; dup-span sets are small enough
    for AQE to broadcast them in practice). The span text itself never
    shuffles. Collision risk at 128 bits is negligible at any corpus size.
    """
    spans = (
        word_shingle_rows(df, text_col, n)
        .select("doc_id", F.md5("sh").alias("span_fp"))
        .persist()  # consumed twice: the dup aggregate and the flag join-back
    )
    dup = (
        spans.groupBy("span_fp")
        .agg(F.min("doc_id").alias("_mn"), F.max("doc_id").alias("_mx"))
        .where(F.col("_mn") != F.col("_mx"))
        .select("span_fp", F.lit(1).alias("_dup"))
    )
    out = (
        spans.join(dup, "span_fp", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.count("_dup").alias("n_dup_windows"),
        )
        .where(F.col("n_dup_windows") > 0)
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            floor_round(
                F.col("n_dup_windows") / F.col("n_windows"), 4
            ).alias("dup_ratio"),
        )
        .localCheckpoint()
    )
    spans.unpersist()
    return out


SHINGLE_SAMPLE_MOD = 16  # q181/q182: keep shingle IDENTITIES with h % 16 == 0


def sampled_shingle_boilerplate(
    df: DataFrame, text_col: str = "text", mod: int = SHINGLE_SAMPLE_MOD
) -> DataFrame:
    """(doc_id, n_sampled, n_common): per-doc boilerplate counts over a
    HASH-SAMPLED shingle domain — the monitor-cadence estimator for the
    exact q177 statistic.

    Why sampling, not a count-min sketch: shingle doc-frequency is a flat
    long-tail domain (|distinct shingles| >> any broadcastable sketch
    width), so a fixed-width CMS saturates — its overestimate ≈ N/w
    swamps the df >= 2 test at any real corpus size (measured: at a mere
    sf0.001 the estimate was +51 on an avg true df of ~2). Hash-sampling
    the SHINGLE IDENTITY (keep h % mod == 0) instead keeps EVERY
    (doc, shingle) pair of the kept shingles, so each kept shingle's df
    is EXACT and each doc's sampled shingles are a deterministic ~1/mod
    uniform subset of its distinct shingles — an unbiased estimator of
    its boilerplate share whose corpus-keyed exchange is 1/mod of the
    exact pipeline's. Deterministic (md5 hash domain), hence
    DuckDB-replayable bit-for-bit; q182 audits the decile drift the
    sampling introduces.
    """
    sh = (
        shingle_rows(df, text_col)
        .select("doc_id", md5_token_hash(F.col("sh")).alias("h"))
        .distinct()
        .filter(F.col("h") % mod == 0)
    )
    # window-count doc frequency — q177's r16 shape: ONE h-keyed
    # exchange and a single-consumer sh subtree, vs groupBy + join-back
    # (two h exchanges at scale, sh computed once per consumer); values
    # identical. Same skew caveat as q177 (analytics.py): a
    # near-ubiquitous shingle is one unsplittable window task — here
    # additionally damped by the h % mod sampling upstream; pre-split h
    # two-level if a deployment's boilerplate shingles defeat that.
    return (
        sh.withColumn(
            "d", F.count(F.lit(1)).over(Window.partitionBy("h"))
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum(F.when(F.col("d") >= 2, 1).otherwise(0)).alias("n_common"),
        )
    )


# --------------------------------------------------------------------------
# Winnowing-fingerprint near-duplicate PIPELINE (r15 handoff: the audits
# q189/q199 measured winnow-vs-exact fidelity; this turns the fingerprints
# into a production dedup path with the measured slack baked in).
# --------------------------------------------------------------------------
WINNOW_K = 8  # k-gram length for winnowing fingerprints (q60's k)
WINNOW_W = 4  # window width: min over WINNOW_W consecutive k-gram hashes
# Candidate-filter slack in basis points: the winnow-fingerprint Jaccard
# UNDERSTATES the exact 5-gram Jaccard (the fingerprints are a ~2/(w+1)
# deterministic sample whose windows re-pick minima under edits). Measured
# per decile by the q189 (token-drop) and q199 (segment-reorder) audits at
# 30x probe volume: mean |gap| ~850-1800 bp at deciles 4-8 under drop
# edits, up to ~2900 bp under reorder (SCALE.md Round-15 §2). 3000 bp
# covers the worst measured decile of both regimes, so the pre-verify
# filter kills only pairs that essentially cannot verify; the exact
# verifier restores precision at the true threshold.
WINNOW_SLACK_BP = 3000


def _winnow_rows(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, sh, fp): one row per SHINGLE_K-gram position ``i`` of the
    normalized text — the one row generator of the winnow pipeline, for
    its fingerprints and its verify sets alike.

    ``sh`` is the SHINGLE_K-gram at ``i``. Where a WINNOW_K-gram starts
    at ``i`` (``i <= greatest(len - WINNOW_K + 1, 1)``; a doc shorter
    than WINNOW_K has one, its whole text), ``fp`` is the winnowed
    fingerprint of that position (Schleimer et al.'s winnowing, the MOSS
    sampler): the MIN md5-prefix hash over the window of WINNOW_W
    WINNOW_K-grams ending at ``i``. ``fp`` is NULL on the other rows,
    which sort after every valid one, so no window reaches them.
    Fingerprints are 60-bit longs from the portable hash family, so the
    whole downstream pipeline (and the q202 oracle) is engine-replayable.
    One explode and one (doc_id)-partitioned running-min window over
    rows that the spread already partitioned by doc_id.
    """
    rows = shingle_rows(df, text_col, with_pos=True).select(
        "doc_id",
        "i",
        "sh",
        F.when(
            F.col("i")
            <= F.greatest(F.length("norm") - (WINNOW_K - 1), F.lit(1)),
            md5_token_hash(F.expr(f"substr(norm, i, {WINNOW_K})")),
        ).alias("kh"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(-(WINNOW_W - 1), 0)
    )
    return rows.select(
        "doc_id",
        "sh",
        F.when(F.col("kh").isNotNull(), F.min("kh").over(w)).alias("fp"),
    )


def winnow_fingerprints(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, fp) DISTINCT winnowed document fingerprints (see
    :func:`_winnow_rows`). Guarantees a shared fingerprint for any
    common run >= WINNOW_W + WINNOW_K - 1 chars while storing
    ~2/(WINNOW_W+1) of the gram hashes."""
    return (
        _winnow_rows(df, text_col)
        .filter(F.col("fp").isNotNull())
        .select("doc_id", "fp")
        .distinct()
    )


def winnow_doc_sets(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, fset, shingles), localCheckpointed: each document's
    distinct winnow fingerprints and its SHINGLE_K-gram set, from one
    aggregate over :func:`_winnow_rows`. The aggregate reads rows the
    spread already partitioned by doc_id, so it adds no exchange; the
    postings, the recovery bands and the exact verify all read this
    one checkpoint, whose per-doc sets are bounded by document length.
    """
    return (
        _winnow_rows(df, text_col)
        .groupBy("doc_id")
        .agg(
            F.collect_set("fp").alias("fset"),
            F.collect_set("sh").alias("shingles"),
        )
        .localCheckpoint()
    )


def winnow_near_dupes(
    df: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    max_bucket: int = MAX_BUCKET,
    min_shared: int = 2,
    slack_bp: int = WINNOW_SLACK_BP,
    recover_bands: int = 0,
) -> DataFrame:
    """End-to-end winnowing near-duplicate pairs with exact verification —
    the fourth dedup family next to exact fingerprints, MinHash+LSH and
    SimHash. (doc_a, doc_b, jaccard) with exact 5-gram Jaccard >=
    ``threshold``, doc_a < doc_b.

    Stages (every join keyed, no cross product):

    1. **Fingerprint**: :func:`winnow_doc_sets` — each doc's
       fingerprint set (~2/(w+1) of its gram hashes, the cheapest
       sketch of the four) and its 5-gram verify set, from one corpus
       pass, checkpointed.
    2. **Inverted index**: documents sharing a fingerprint are
       candidates. Fingerprints held by > ``max_bucket`` docs are
       DROPPED WHOLESALE (the MOSS stopword rule): a fingerprint that
       common is boilerplate, and dropping the whole posting list is
       deterministic — engine-portable, unlike a rank-truncation whose
       tie order DuckDB could replay differently. Per-fp pair work is
       thus bounded by max_bucket^2/2. Singleton fingerprints never
       pair and are filtered before the self-join.
    3. **Shared-fp floor**: pairs sharing < ``min_shared`` uncapped
       fingerprints are dropped (one shared window survives any common
       11-char run — a real near-dup at t >= 0.5 shares many).
    4. **Winnow-estimate filter with measured slack**: the bucket join
       already yields n_shared = a LOWER bound of |fpA ∩ fpB| (capped
       fps are excluded), so w_lb_bp = floor-round bp of the
       fingerprint-Jaccard lower bound. Winnow-J understates exact J
       (q189/q199 audits — see :data:`WINNOW_SLACK_BP`), so the filter
       keeps w_lb_bp >= t_bp - slack_bp rather than t_bp: the slack is
       the measured estimator bias, not a fudge.
    5. **Exact verify**: 5-gram shingle Jaccard on survivors only
       (:func:`jaccard_verify` — same verifier as the MinHash path),
       reading the sets of step 1's checkpoint.

    Recall is set by the fingerprint sample (any pair whose shared runs
    all sit inside capped fingerprints is missed — q203 measures the
    per-decile recall against exact ground truth); precision is exact.

    ``recover_bands = R > 0`` turns on the capped-corpus recovery pass
    (r16 probe finding: on the 30× replica corpora EVERY posting list
    blows the cap — template text makes each 8-gram run appear in
    hundreds of docs — and the stopword rule deletes the entire index:
    clique recall 0.000 against 2.14M GT pairs, the winnow twin of the
    r15 SimHash collapse). Instead of re-admitting hot posting lists
    (whose pair work is quadratic in list length), the pass runs R
    salted MIN-FINGERPRINT bands: round r keys each doc by
    ``min over its fps of md5('winrec-r-' || fp)`` — a one-row MinHash
    over the FINGERPRINT SET, so two docs agree on round r with
    probability exactly their fingerprint Jaccard. Buckets are
    row_number-TRUNCATED at ``max_bucket`` (not dropped: a giant
    min-band bucket is an exact-dup class, exact_dedupe's territory,
    not boilerplate noise), pairs form within buckets, and every
    recovered pair is scored by its EXACT fingerprint Jaccard
    (array_intersect on the two ~2/(w+1)-sized fp sets — far cheaper
    than gram arrays) against ``t_bp - slack_bp`` before the exact
    5-gram verify. Cost is R extra rows per doc plus capped-bucket
    pairing — linear in the corpus, never in posting-list length; a
    J>=t pair is recovered with probability ~ 1-(1-fpJ)^R. R=0 is
    byte-identical to the plain pipeline. All md5 — the whole branch
    replays in DuckDB (q206 value-gates it).

    Scale: the per-doc aggregate rides the spread's doc_id exchange;
    the self-join shuffles the ~2/(w+1)-sized postings on fp with
    bounded buckets; n_shared groupBy shuffles on the pair key; verify
    joins on doc id.
    """
    t_bp = int(round(threshold * 10000))
    sets = winnow_doc_sets(df, text_col)
    est = (
        winnow_candidate_scores(df, text_col, max_bucket, min_shared, sets)
        .filter(F.col("w_lb_bp") >= F.lit(t_bp - slack_bp))
        .select("doc_a", "doc_b")
    )
    if recover_bands > 0:
        salted = (
            sets.select("doc_id", F.explode("fset").alias("fp"))
            .select(
                "doc_id",
                F.explode(
                    F.sequence(F.lit(0), F.lit(recover_bands - 1))
                ).alias("r"),
                "fp",
            )
            .withColumn(
                "h",
                md5_token_hash(
                    F.concat(
                        F.lit("winrec-"),
                        F.col("r").cast("string"),
                        F.lit("-"),
                        F.col("fp").cast("string"),
                    )
                ),
            )
            .groupBy("doc_id", "r")
            .agg(F.min("h").alias("g"))
        )
        # min-band buckets TRUNCATE (a giant one is an exact-dup class)
        rcand = _bucket_pairs(
            salted, ["r", "g"], max_bucket, rule="truncate"
        ).distinct()
        fa = sets.select(
            F.col("doc_id").alias("doc_a"), F.col("fset").alias("fset_a")
        )
        fb = sets.select(
            F.col("doc_id").alias("doc_b"), F.col("fset").alias("fset_b")
        )
        i_ = F.size(F.array_intersect("fset_a", "fset_b")).cast("long")
        u_ = F.size(F.array_union("fset_a", "fset_b")).cast("long")
        rest = (
            rcand.join(fa, "doc_a")
            .join(fb, "doc_b")
            .withColumn("i", i_)
            .withColumn("u", u_)
            .filter(
                F.expr("(i * 20000 + u) div (2 * u)")
                >= F.lit(t_bp - slack_bp)
            )
            .select("doc_a", "doc_b")
        )
        est = est.unionByName(rest).distinct()
    return jaccard_verify(est, sets, threshold).localCheckpoint()


def winnow_candidate_scores(
    df: DataFrame,
    text_col: str = "text",
    max_bucket: int = MAX_BUCKET,
    min_shared: int = 2,
    sets: DataFrame | None = None,
) -> DataFrame:
    """Stages 1-4 of :func:`winnow_near_dupes` WITHOUT the slack cut:
    (doc_a, doc_b, n_shared, w_lb_bp) for every pair sharing >=
    ``min_shared`` uncapped winnow fingerprints, where ``w_lb_bp`` is
    the integer-bp LOWER BOUND of the fingerprint Jaccard
    (``(n_shared*20000 + un) div (2*un)``, un = sz_a + sz_b − n_shared
    — capped fps are excluded from n_shared but counted in the sizes,
    so both the intersection is under- and the union over-stated).
    Exposed separately so q204's slack-sensitivity curve can score the
    SAME candidate set at several slack values without re-running the
    fingerprint stages. ``sets`` is the :func:`winnow_doc_sets` frame
    of ``df``, for a caller that verifies from it too; it is built when
    not given. The result is lazy: a caller that reads it more than
    once checkpoints it.
    """
    if sets is None:
        sets = winnow_doc_sets(df, text_col)
    # one posting per (fp, doc), carrying the doc's fingerprint count
    postings = sets.select(
        "doc_id", F.explode("fset").alias("fp"), F.size("fset").alias("sz")
    )
    # posting lists over the cap DROP whole (the MOSS stopword rule)
    return (
        _bucket_pairs(postings, ["fp"], max_bucket, payload="sz")
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .withColumn("un", F.col("sz_a") + F.col("sz_b") - F.col("n_shared"))
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.expr("(n_shared * 20000 + un) div (2 * un)").alias("w_lb_bp"),
        )
    )
