"""Engine-portable sketches: a classic HyperLogLog built from Spark
built-ins whose every step is reproducible in ANSI SQL.

Why this exists next to ``approx_count_distinct`` (q64): Spark's HLL++ is
the production path, but its register layout and bias tables live inside
the JVM — the driver gate can only rows-check it. This implementation
(classic Flajolet et al. HLL, m=2^p registers, md5-derived hash) computes
the identical estimate in DuckDB, so the sketch itself is hash-checked
against an independent engine (q110) — the q28/q109 determinism trick
applied to cardinality estimation.

Scale shape (unchanged from the production sketch): one scan computes
(key, bucket, rho) rows; ``groupBy(key, bucket).max(rho)`` combines
map-side, so the exchange carries at most ``keys × m`` register rows
regardless of data size; the final per-key fold is over ≤ m rows. The
register MAX is mergeable by construction — the same two-level groupBy IS
the distributed merge.

Determinism notes (what makes the oracle twin possible):
- hash = md5-prefix 60-bit (``md5_token_hash``) — portable, uniform.
- the accumulator sum(2^-rho) is kept as the EXACT integer
  sum(2^(52-rho)) (rho ≤ 52, ≤ 512·2^51 < 2^63) — order-insensitive
  under any partitioning, unlike a double sum.
- doubles appear only in the final scalar expression, written with the
  same literals/associativity on both engines (IEEE mul/div are exactly
  specified). The linear-counting branch's ``ln`` is the one libm call;
  engines may differ in the last ulp, which survives the FLOOR unless the
  true value sits within an ulp of an integer — a transcendental value,
  so effectively never.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from salesanalytics_etl_spark.operators.dedup import md5_token_hash

HLL_P = 9  # 2^9 = 512 registers → rsd ≈ 1.04/√512 ≈ 4.6%
_M = 1 << HLL_P
_WBITS = 60 - HLL_P  # md5_token_hash yields 60 bits; top p pick the bucket
_ALPHA = 0.7213 / (1.0 + 1.079 / _M)


def hll_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    out_col: str = "approx_distinct",
) -> DataFrame:
    """Per-group approximate COUNT(DISTINCT value_col), classic HLL.

    Returns one row per group: ``group_cols + [out_col]`` with the
    floored estimate as a long. Linear counting below 2.5·m with empty
    registers, raw harmonic estimate above — the classic two-regime
    estimator (no HLL++ bias tables; document 4.6% rsd at m=512).
    """
    h = md5_token_hash(
        F.concat_ws("-", F.lit("hll"), F.col(value_col).cast("string"))
    )
    w = h.bitwiseAND(F.lit((1 << _WBITS) - 1))
    rho = F.when(w == 0, F.lit(_WBITS + 1)).otherwise(
        _WBITS + 1 - F.length(F.bin(w))
    )
    regs = (
        df.select(
            *group_cols,
            F.shiftright(h, _WBITS).alias("_bucket"),
            rho.alias("_rho"),
        )
        .groupBy(*group_cols, "_bucket")
        .agg(F.max("_rho").alias("_mx"))
    )
    sk = regs.groupBy(*group_cols).agg(
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({_WBITS + 1} - _mx AS INT))")
        ).alias("_s1"),
        F.count(F.lit(1)).alias("_present"),
    )
    z = F.lit(_M) - F.col("_present")
    stot = (F.col("_s1") + z.cast("long") * F.lit(1 << (_WBITS + 1))).cast(
        "double"
    )
    raw = F.lit(_ALPHA * float(_M) * float(_M) * float(1 << (_WBITS + 1))) / stot
    est = F.when(
        (raw <= 2.5 * _M) & (z > 0),
        F.lit(float(_M)) * F.log(F.lit(float(_M)) / z.cast("double")),
    ).otherwise(raw)
    return sk.select(
        *group_cols, F.floor(est).cast("long").alias(out_col)
    )


BLOOM_M = 1 << 14  # filter bits
BLOOM_K = 7  # hash functions; at ~11 bits/key this gives FPR ≈ 1%


def _bloom_positions(key: Column, m: int = BLOOM_M, k: int = BLOOM_K) -> Column:
    """Array of k bit positions for ``key`` — md5-derived, so DuckDB
    computes the identical positions (integer mod, no engine RNG)."""
    return F.array(
        *[
            md5_token_hash(
                F.concat_ws("-", F.lit("bloom"), F.lit(i), key.cast("string"))
            )
            % m
            for i in range(k)
        ]
    )


def bloom_membership_audit(
    members: DataFrame,
    probes: DataFrame,
    member_key: str,
    probe_key: str,
) -> DataFrame:
    """Build a Bloom filter over ``members`` and audit it against the
    exact membership of ``probes`` — returns ONE row:
    (n_probed, n_members, bloom_positives, false_positives,
    false_negatives, fpr_bp).

    The 100 TB use: pre-filtering a huge probe stream before an expensive
    join (ship the ≤ 2^14-row bit-position table as a broadcast instead
    of shuffling the probe side against the full member set). The audit
    row certifies the structure's contract in-band: ``false_negatives``
    must be 0 (a Bloom filter never drops a member) and ``fpr_bp`` is the
    measured false-positive rate in integer basis points.

    Engine-portable by construction — md5-derived bit positions, integer
    mod, exact counts — so the driver hash-checks the filter's behavior
    (q114), unlike Spark's internal BloomFilter aggregate whose murmur
    layout never leaves the JVM.

    Scale shape: the filter build is ``distinct positions`` over
    members×k rows (bounded output: ≤ m rows regardless of member
    count); the probe pass is explode(k)+broadcast-join+count — one
    shuffle on the probe key, partials combined map-side.
    """
    mpos = (
        members.select(
            F.explode(_bloom_positions(F.col(member_key))).alias("pos")
        )
        .distinct()  # ≤ BLOOM_M rows — the filter itself
    )
    # ONE pass over the probe stream (r16 opt round, guide §2.3/2.4):
    # distinct -> explode(k) -> broadcast LEFT join against the filter ->
    # groupBy pk, which reuses the distinct's pk partitioning. The former
    # shape probed the RAW stream and re-read probes a second time for
    # the audit join. For DISTINCT NON-NULL probe keys (the only call
    # sites: q114's distinct custkeys) the nhit arithmetic is identical
    # (bloom-positive iff all k exploded position rows match, duplicate
    # POSITIONS of one key counted per row exactly as before). Two edge
    # semantics CHANGED vs pre-r16 — deliberately, both were latent
    # bugs (r16 advice): a probe key appearing n>1 times used to
    # accumulate nhit = n*K != K and was wrongly classified
    # bloom-negative (a Bloom filter has no false negatives); a NULL
    # probe key could never match the null-unsafe hits join. The
    # distinct-first shape classifies a duplicated member key
    # bloom-positive, and a NULL key hashes like any value. Any future
    # caller with duplicate probe rows must dedupe its oracle twin the
    # same way.
    truth = members.select(F.col(member_key).alias("pk")).distinct()
    audit = (
        probes.select(F.col(probe_key).alias("pk"))
        .distinct()
        .select("pk", F.explode(_bloom_positions(F.col("pk"))).alias("pos"))
        .join(F.broadcast(mpos.withColumn("_hit", F.lit(1))), "pos", "left")
        .groupBy("pk")
        .agg(F.sum(F.coalesce("_hit", F.lit(0))).alias("nhit"))
        .withColumn(
            "_pos", F.when(F.col("nhit") == BLOOM_K, F.lit(1))
        )
        .join(truth.withColumn("_mem", F.lit(1)), "pk", "left")
    )
    return audit.agg(
        F.count(F.lit(1)).alias("n_probed"),
        F.sum(F.coalesce("_mem", F.lit(0))).alias("n_members"),
        F.sum(F.coalesce("_pos", F.lit(0))).alias("bloom_positives"),
        F.sum(
            F.when(F.col("_pos").isNotNull() & F.col("_mem").isNull(), 1)
            .otherwise(0)
        ).alias("false_positives"),
        F.sum(
            F.when(F.col("_mem").isNotNull() & F.col("_pos").isNull(), 1)
            .otherwise(0)
        ).alias("false_negatives"),
        F.expr(
            "CAST(sum(CASE WHEN _pos IS NOT NULL AND _mem IS NULL THEN 1 "
            "ELSE 0 END) * 10000 div "
            "greatest(sum(CASE WHEN _mem IS NULL THEN 1 ELSE 0 END), 1) "
            "AS BIGINT)"
        ).alias("fpr_bp"),
    )


HDR_MANTISSA_BITS = 5  # bucket width ratio 33/32 → ≤ ~3.1% value error


def hdr_percentiles(
    df: DataFrame,
    group_cols: list[str],
    cents_col: str,
    percents: list[int] = (50, 95, 99),
) -> DataFrame:
    """Approximate per-group percentiles via an HDR-histogram sketch over
    POSITIVE integer cents — every step exact integer arithmetic, so the
    estimate is bit-identical on any engine and under any partitioning
    (the property Spark's GK `percentile_approx`, q82, cannot offer the
    oracle gate).

    Bucketing (HdrHistogram's exponent+mantissa scheme): a value keeps its
    top ``1 + HDR_MANTISSA_BITS`` significant bits — small values (≤ 6
    bits) are exact, larger ones land in buckets whose bounds are
    consecutive in those top bits, bounding relative error by
    2^-HDR_MANTISSA_BITS ≈ 3.1%. Bit positions come from
    ``length(bin(v))`` (no logarithms, no libm, no ulp hazards — the
    reason this replays where DDSketch's ``ceil(ln v / ln γ)`` wouldn't).

    The percentile estimate is the nearest-rank bucket's LOWER BOUND in
    cents / 100.0. Counts per (group, bucket) combine map-side; the
    exchange carries at most ``groups × (64 - m) × 2^m`` bucket rows
    (~1.9k per group here) at any data size, and the sketch is mergeable
    by construction (bucket-count sum).
    """
    mb = HDR_MANTISSA_BITS
    # lower = (v >> s) << s with s = max(bitlen(v) - (mb+1), 0) — the
    # SQL-expr form because shiftleft/shiftright need column bit counts
    lower = F.expr(
        f"shiftleft(shiftright({cents_col}, CAST(greatest("
        f"length(bin({cents_col})) - {mb + 1}, 0) AS INT)), CAST(greatest("
        f"length(bin({cents_col})) - {mb + 1}, 0) AS INT))"
    )
    buckets = (
        df.select(*group_cols, lower.alias("_lower"))
        .groupBy(*group_cols, "_lower")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*group_cols)
        .orderBy("_lower")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = buckets.withColumn("_cum", F.sum("_cnt").over(w)).withColumn(
        "_n", F.sum("_cnt").over(Window.partitionBy(*group_cols))
    )
    aggs = [F.max("_n").alias("n_rows")]
    for p in percents:
        # nearest-rank: rank = ceil(p% · n) in exact integers
        rank = F.expr(f"(_n * {p} + 99) div 100")
        aggs.append(
            F.min(
                F.when(F.col("_cum") >= rank, F.col("_lower"))
            ).alias(f"_p{p}c")
        )
    out = cum.groupBy(*group_cols).agg(*aggs)
    return out.select(
        *group_cols,
        "n_rows",
        *[
            (F.col(f"_p{p}c") / F.lit(100.0)).alias(f"p{p}_approx")
            for p in percents
        ],
    )


# ---------------------------------------------------------------------------
# Count-min sketch (engine-portable, md5-derived hash rows)
# ---------------------------------------------------------------------------

CMS_D = 4  # hash rows
CMS_W = 2048  # buckets per row; eps ≈ e/w ≈ 0.13% of total inserts


def cms_seed_constants(d: int = CMS_D) -> list[int]:
    """The d xor-mask row constants, derived like the MinHash perms
    (md5('cms-'||i) 60-bit prefix) so DuckDB regenerates the identical
    sketch: ``CAST(('0x'||substr(md5('cms-'||i),1,15)) AS BIGINT)``."""
    import hashlib

    return [
        int(hashlib.md5(f"cms-{i}".encode()).hexdigest()[:15], 16)
        for i in range(d)
    ]


def cms_build(
    rows: DataFrame, key_col: str = "h", d: int = CMS_D, w: int = CMS_W
) -> DataFrame:
    """(i, b, c) counter rows of a count-min sketch over ``rows[key_col]``
    (60-bit longs, e.g. ``md5_token_hash`` output) — one increment per
    input ROW, so doc-frequency wants DISTINCT (doc, key) rows in.

    THE 100 TB shape this buys (vs the exact q177 pattern): the exact
    doc-frequency table is |distinct keys| rows and must SHUFFLE-join
    back against the corpus-sized key stream; the CMS is ≤ d·w rows
    (8 K at the defaults) regardless of corpus size, so the estimate
    join (:func:`cms_lookup`) becomes d map-side broadcast joins and the
    only corpus-keyed exchange left is the build's bounded
    ``groupBy(i, bucket)`` — partial-aggregated map-side into at most
    d·w groups. Counters are one-sided: estimate ≥ truth always, with
    P[err > eN] ≤ (1/2)^d at w = e/e buckets (Cormode & Muthukrishnan,
    J. Algorithms 2005). The (i, b) grain is mergeable by SUM — shard
    sketches combine with the same groupBy, which is what a streaming
    maintenance job would do.
    """
    seeds = F.array(
        *[
            F.struct(F.lit(i).alias("i"), F.lit(a).alias("a"))
            for i, a in enumerate(cms_seed_constants(d))
        ]
    )
    return (
        rows.select(F.col(key_col).alias("_k"))
        .select("_k", F.explode(seeds).alias("_s"))
        .groupBy(
            F.col("_s.i").alias("i"),
            F.expr(f"(_k ^ _s.a) % {w}").alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )


def cms_lookup(
    rows: DataFrame,
    cms: DataFrame,
    key_col: str = "h",
    d: int = CMS_D,
    w: int = CMS_W,
    out_col: str = "dhat",
) -> DataFrame:
    """Adds ``out_col`` = min over the d counter rows for ``rows[key_col]``
    — the CMS point estimate. d map-side BROADCAST joins (the sketch is
    ≤ d·w rows), never a corpus shuffle; a key whose (i, b) counter is
    absent was never inserted and reads 0 (only possible for keys outside
    the build input, since any inserted key's counters are ≥ 1)."""
    out = rows
    ests = []
    for i, a in enumerate(cms_seed_constants(d)):
        cms_i = cms.filter(F.col("i") == i).select(
            F.col("b").alias(f"_b{i}"), F.col("c").alias(f"_c{i}")
        )
        out = out.join(
            F.broadcast(cms_i),
            F.expr(f"({key_col} ^ {a}L) % {w}") == F.col(f"_b{i}"),
            "left",
        )
        ests.append(F.coalesce(F.col(f"_c{i}"), F.lit(0)))
    return out.withColumn(out_col, F.least(*ests)).drop(
        *[f"_b{i}" for i in range(d)], *[f"_c{i}" for i in range(d)]
    )


def bloom_decontaminate_audit(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    m_bits: int = 1 << 20,
    k_hashes: int = 7,
) -> DataFrame:
    """Monitor-cadence decontamination via an engine-portable Bloom
    filter over the benchmark's token n-grams, FP-audited in-band
    against the exact semi-join (q70's path) — the sketch/exact/audit
    triple applied to decontamination. One fixed row:

        n_corpus_docs | n_flagged_exact | n_flagged_bloom
        | n_false_pos_docs | fp_doc_bp

    At 100 TB the exact path broadcasts the benchmark N-GRAM STRINGS
    (eval suites are small, but n-grams are long); the Bloom variant
    broadcasts an actual packed bitset instead — the set positions are
    OR-ed into 64-bit words, so the broadcast relation is m_bits/64
    rows of bigint (2^20 bits = 16384 rows ≈ 128 KiB here), size-
    independent of n-gram length AND of benchmark size, and stays
    broadcast-safe when a caller raises m_bits (2^26 → ~8 MiB of
    words; the pre-r14 form broadcast one ROW PER SET POSITION, which
    the F.broadcast hint would have forced at any m_bits). Bloom never
    false-negatives, so it is the cheap continuous monitor and this
    audit prices its false-positive overhead: a Bloom-flagged doc that
    the exact join clears costs one wasted quarantine/recheck. Each
    n-gram is hashed ONCE to a 60-bit long (md5 prefix), the k bit
    positions derive from md5('bloomd-'||i||'-'||h) — both engines
    rebuild the filter bit-for-bit, so even the measured FP count is
    hash-checked.
    """
    from salesanalytics_etl_spark.operators.dedup import (
        md5_token_hash,
        word_shingle_rows,
    )

    def grams(df: DataFrame) -> DataFrame:
        return word_shingle_rows(df, n=n).select(
            "doc_id", md5_token_hash(F.col("sh")).alias("h")
        )

    def positions(df: DataFrame) -> DataFrame:
        i = F.explode(
            F.sequence(F.lit(0), F.lit(k_hashes - 1))
        ).alias("i")
        hashed = df.select("*", i)
        return hashed.select(
            *df.columns,
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                "-",
                                F.lit("bloomd"),
                                F.col("i").cast("string"),
                                F.col("h").cast("string"),
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")
                % m_bits
            ).alias("pos"),
        )

    # r17 opt round: the corpus gram frame is consumed ONCE — the exact
    # flag rides the probe explode as a broadcast-marker column, so the
    # former second consumer (exact semi-join) no longer re-runs the
    # corpus scan+ngram+md5+distinct. At 100 TB that halves the corpus-
    # side work (the only data-proportional term). No persist anywhere:
    # bench_h is recomputed by its two broadcast builds (benchmark side
    # is eval-suite-small by contract), which interleaved A/B measured
    # within noise of persisting it, without the cache pin + eager
    # release barrier the r16 shape paid (4-way A/B at sf0.1, min-of-4:
    # onepass 3.18/3.13 s vs r16-persist 3.30/3.06 s vs two-pass
    # original 3.71/3.67 s for m=2^20/2^22; jobs 10 vs 13 vs 11;
    # outputs row-identical in the FP-exercising 30x mixed-edit probe,
    # 18931 FP docs).
    bench_h = grams(benchmark).select("h").distinct()
    # pack the filter into 64-bit words: <= m_bits/64 rows of bigint —
    # a genuine bitset relation, broadcast-safe at any practical m_bits
    filter_words = (
        positions(bench_h)
        .groupBy(F.expr("pos div 64").alias("w"))
        .agg(
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)))"
            ).alias("bits")
        )
    )
    corpus_h = grams(corpus).select("doc_id", "h").distinct()

    # ONE pass over corpus grams. The exact-contamination flag is a
    # broadcast LEFT-join marker (_bh: h in bench_h — exactly the old
    # left_semi), carried through the k-way position explode; the Bloom
    # flag per gram is "all k positions hit a set bit", counted over a
    # LEFT join against the word relation (a missing word or a clear
    # bit contributes 0 — identical to the old inner-join+filter count,
    # which dropped those rows before the ==k test). The groupBy
    # (doc_id, h) reuses the distinct's partitioning (no new exchange);
    # the doc rollup replaces the old shape's TWO doc-grain distincts +
    # two joins with one groupBy + one join.
    marked = corpus_h.join(
        F.broadcast(bench_h.withColumn("_bh", F.lit(1))), "h", "left"
    )
    probe = positions(marked).withColumn("w", F.expr("pos div 64"))
    per_gram = (
        probe.join(F.broadcast(filter_words), "w", "left")
        .groupBy("doc_id", "h")
        .agg(
            F.sum(
                F.expr(
                    "case when bits is not null and (bits & "
                    "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))) != 0 "
                    "then 1 else 0 end"
                )
            ).alias("k_hit"),
            F.max("_bh").alias("_bh"),
        )
    )
    per_doc = per_gram.groupBy("doc_id").agg(
        F.max((F.col("k_hit") == k_hashes).cast("int")).alias("bloom_f0"),
        F.max(F.coalesce("_bh", F.lit(0))).alias("exact_f0"),
    )
    flags = (
        corpus.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            F.coalesce("bloom_f0", F.lit(0)).alias("bloom_f"),
            F.coalesce("exact_f0", F.lit(0)).alias("exact_f"),
        )
    )
    agg = flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_corpus_docs"),
        F.sum("exact_f").cast("bigint").alias("n_flagged_exact"),
        F.sum("bloom_f").cast("bigint").alias("n_flagged_bloom"),
        F.sum(
            ((F.col("bloom_f") == 1) & (F.col("exact_f") == 0)).cast("int")
        )
        .cast("bigint")
        .alias("n_false_pos_docs"),
    )
    # FP rate over docs the exact join clears, in bp (floor-round):
    # denominator is clean docs (guard the all-contaminated corpus)
    return agg.select(
        "n_corpus_docs",
        "n_flagged_exact",
        "n_flagged_bloom",
        "n_false_pos_docs",
        F.expr(
            "case when n_corpus_docs - n_flagged_exact = 0 then 0 "
            "else (n_false_pos_docs * 20000 + (n_corpus_docs - n_flagged_exact)) "
            "div (2 * (n_corpus_docs - n_flagged_exact)) end"
        )
        .cast("bigint")
        .alias("fp_doc_bp"),
    )
