"""Round-11 statistical / profiling query families: robust trend
estimation (Theil-Sen), time-series diagnostics (autocorrelation),
corpus statistics (Zipf), data profiling (soft functional dependencies,
digit-uniformity chi-square), and contamination analytics (cross-source
duplicate matrix). Every query follows the gate discipline: exact
integer/decimal accumulation, engine-portable floor-round on emitted
doubles, total orders on any windowed pick.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from salesanalytics_etl_spark.functions.scalar import dec182, floor_round
from salesanalytics_etl_spark.plans.queries import _t
from salesanalytics_etl_spark.plans.registry import register

_DAILY_CENTS_SQL = """
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(datediff('day', DATE '1970-01-01',
                           CAST(o_orderdate AS DATE)) AS INT) AS i,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2
"""


def _daily_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(d, i, cents) day grain — the q141/q148 convention: exact decimal
    accumulation, integer day index, integer cents."""
    (orders,) = _t(spark, sf_dir, "orders")
    return (
        orders.select(
            F.to_date("o_orderdate").alias("d"),
            dec182("o_totalprice").alias("p"),
        )
        .groupBy("d")
        .agg((F.sum("p") * 100).cast("bigint").alias("cents"))
        .withColumn(
            "i", F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
        )
    )


@register(
    "q156_theil_sen_trend",
    oracle=f"""
    WITH daily AS ({_DAILY_CENTS_SQL}),
    pairs AS (
      SELECT a.i AS ia, b.i AS ib,
             CAST(b.cents - a.cents AS DOUBLE) / (b.i - a.i) AS slope
      FROM daily a JOIN daily b ON b.i > a.i
    ),
    ranked AS (
      SELECT slope, ROW_NUMBER() OVER (ORDER BY slope, ia, ib) AS r,
             COUNT(*) OVER () AS n
      FROM pairs
    )
    SELECT FLOOR(slope * 1000000.0 + 0.5) / 1000000.0
             AS slope_cents_per_day,
           CAST(n AS BIGINT) AS n_pairs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days
    FROM ranked WHERE r = (n + 1) // 2
    """,
    doc="Theil-Sen robust trend of daily sales: the median of all "
    "pairwise day-to-day slopes (lower median, total order (slope, ia, "
    "ib)) — the outlier-resistant alternative to OLS for drift "
    "monitoring. Pair space is DAY-grain (calendar-bounded: quadratic "
    "in days, independent of row count, so 100 TB of orders costs the "
    "same pair join as 100 GB after the day rollup); the pair join is a "
    "broadcast nested-loop on the bounded day frame and the median pick "
    "rides the distributed rank machinery, never a single-partition "
    "sort. Slopes are exact-integer differences divided once in double "
    "(identical IEEE op both engines).",
)
def q156_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.ranking import append_global_rank

    daily = _daily_cents(spark, sf_dir).select("i", "cents")
    # The day rollup collapses to ~1 partition (AQE coalesces the tiny
    # aggregate), so the |days|^2/2 pair explosion below ran as ONE
    # task (measured: a 1.7 s 1-task job was most of q156's floor, r17)
    # and the rank machinery's range-boundary sampling pass inherited
    # the same single task. Spreading the LEFT side is a ~2400-row
    # exchange at ANY corpus size (the day grain is calendar-bounded)
    # that parallelizes slope generation and the range sampling.
    spread = daily.repartition(
        spark.sparkContext.defaultParallelism, "i"
    )
    a = spread.select(
        F.col("i").alias("ia"), F.col("cents").alias("ca")
    )
    b = daily.select(
        F.col("i").alias("ib"), F.col("cents").alias("cb")
    )
    pairs = a.join(F.broadcast(b), F.col("ib") > F.col("ia")).select(
        "ia",
        "ib",
        (
            (F.col("cb") - F.col("ca")).cast("double")
            / (F.col("ib") - F.col("ia"))
        ).alias("slope"),
    )
    ranked = append_global_rank(
        pairs,
        [F.asc("slope"), F.asc("ia"), F.asc("ib")],
        out_col="r",
        total_col="n",
    )
    n_days = daily.count()
    # integer div, NOT '/': double division of an even n+1 yields x.5
    # and the equality silently matches nothing (caught at sf0.1 by the
    # exchange gate — sf0.01's odd pair count masked it)
    return ranked.filter(
        F.col("r") == F.expr("(n + 1) div 2")
    ).select(
        floor_round(F.col("slope"), 6).alias("slope_cents_per_day"),
        F.col("n").cast("bigint").alias("n_pairs"),
        F.lit(n_days).cast("bigint").alias("n_days"),
    )


@register(
    "q157_sales_autocorrelation",
    oracle=f"""
    WITH daily AS ({_DAILY_CENTS_SQL}),
    lags AS (SELECT unnest(range(1, 8)) AS lag),
    pairs AS (
      SELECT l.lag, a.cents AS x, b.cents AS y
      FROM lags l
      JOIN daily a ON TRUE
      JOIN daily b ON b.i = a.i + l.lag
    ),
    s AS (
      SELECT lag, COUNT(*) AS n,
             SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(y AS HUGEINT) * y) AS syy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy
      FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n_pairs,
           FLOOR(
             (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             * 1000000.0 + 0.5) / 1000000.0 AS acf
    FROM s ORDER BY lag
    """,
    doc="Lag-1..7 Pearson autocorrelation of daily sales over observed "
    "calendar-day pairs — the weekly-cycle diagnostic behind q143's "
    "seasonality index. Exact HUGEINT/DECIMAL(38,0) moment sums on the "
    "bounded day grain (one map-side-combined rollup, then a 7-way "
    "self-equi-join on the day index); the Pearson formula runs ONCE per "
    "lag on exact sums cast to double — a fixed shape of IEEE ops (sqrt "
    "is correctly-rounded by IEEE 754, so it is bit-stable across "
    "engines) — and emits through the portable floor formula.",
)
def q157_sales_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_cents(spark, sf_dir).select("i", "cents")
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("lag"))
    a = daily.select(F.col("i").alias("ia"), F.col("cents").alias("x"))
    b = daily.select(F.col("i").alias("ib"), F.col("cents").alias("y"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("ib") == F.col("ia") + F.col("lag"))
    )
    d38 = "decimal(38,0)"
    s = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(d38)).alias("sx"),
        F.sum(F.col("y").cast(d38)).alias("sy"),
        F.sum(F.col("x").cast(d38) * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(d38) * F.col("y")).alias("syy"),
        F.sum(F.col("x").cast(d38) * F.col("y")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    dx = n * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double")
    dy = n * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    ).cast("double")
    cov = n * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    return s.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("n").cast("bigint").alias("n_pairs"),
        floor_round(cov / F.sqrt(dx * dy), 6).alias("acf"),
    ).orderBy("lag")


@register(
    "q158_zipf_slope",
    oracle="""
    WITH freq AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
            FROM documents)
      GROUP BY tok ORDER BY n DESC, tok LIMIT 1000
    ),
    pts AS (
      SELECT CAST(FLOOR(log2(ROW_NUMBER() OVER (ORDER BY n DESC, tok))
                        * 1000000.0 + 0.5) / 1000000.0
                  AS DECIMAL(18,6)) AS x,
             CAST(FLOOR(log2(n) * 1000000.0 + 0.5) / 1000000.0
                  AS DECIMAL(18,6)) AS y
      FROM freq
    ),
    s AS (
      SELECT COUNT(*) AS m, SUM(x) AS sx, SUM(y) AS sy,
             SUM(CAST(x * y AS DECIMAL(38,12))) AS sxy,
             SUM(CAST(x * x AS DECIMAL(38,12))) AS sxx
      FROM pts
    )
    SELECT CAST(m AS BIGINT) AS n_tokens,
           FLOOR((m * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (m * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS zipf_slope
    FROM s
    """,
    doc="Zipf exponent of the corpus: OLS slope of log2(frequency) vs "
    "log2(rank) over the top-1000 tokens (a natural corpus ~ -1; a "
    "boilerplate-heavy or synthetic one deviates) — the vocabulary-"
    "health diagnostic next to q33's raw frequencies. The corpus-grain "
    "work is one token rollup; ranking happens AFTER the top-1000 cut "
    "(TakeOrderedAndProject), so the single unpartitioned window runs "
    "over exactly 1000 rows at any corpus size. Per-point log terms are "
    "floor-rounded onto a 6dp decimal grid so the OLS moment sums are "
    "exact decimals (order-insensitive), and the final slope is one "
    "fixed-shape double expression.",
)
def q158_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    (documents,) = _t(spark, sf_dir, "documents")
    freq = (
        documents.select(
            F.explode(
                F.expr(r"regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(1000)
    )
    w = Window.orderBy(F.desc("n"), F.asc("tok"))
    pts = freq.select(
        floor_round(F.log2(F.row_number().over(w)), 6)
        .cast("decimal(18,6)")
        .alias("x"),
        floor_round(F.log2("n"), 6).cast("decimal(18,6)").alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,12)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,12)")).alias("sxx"),
    )
    m = F.col("m").cast("double")
    slope = (
        m * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        m * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    return s.select(
        F.col("m").cast("bigint").alias("n_tokens"),
        floor_round(slope, 6).alias("zipf_slope"),
    )


_FD_PAIRS = [
    # (tag, table, determinant, dependent) — candidate pairs across the
    # dimension/fact surface; the measure itself decides which are
    # near-FDs (confidence_bp ~ 10000) vs independent columns
    ("customer.c_nationkey->c_mktsegment", "customer", "c_nationkey",
     "c_mktsegment"),
    ("lineitem.l_returnflag->l_linestatus", "lineitem", "l_returnflag",
     "l_linestatus"),
    ("orders.o_orderpriority->o_orderstatus", "orders", "o_orderpriority",
     "o_orderstatus"),
    ("part.p_brand->p_type", "part", "p_brand", "p_type"),
]


def _fd_oracle_one(tag: str, table: str, det: str, dep: str) -> str:
    return f"""
    SELECT '{tag}' AS fd, CAST(COUNT(*) AS BIGINT) AS n_det_values,
           CAST(SUM(total - mx) AS BIGINT) AS n_violations,
           CAST(SUM(total) AS BIGINT) AS n_rows,
           CAST(SUM(mx) * 10000 // SUM(total) AS INT) AS confidence_bp
    FROM (
      SELECT MAX(c) AS mx, SUM(c) AS total
      FROM (SELECT {det} AS det, {dep} AS dep, COUNT(*) AS c
            FROM {table} WHERE {det} IS NOT NULL
            GROUP BY 1, 2)
      GROUP BY det
    )
    """


@register(
    "q159_soft_fd_audit",
    oracle=" UNION ALL ".join(
        _fd_oracle_one(*p) for p in _FD_PAIRS
    )
    + " ORDER BY fd",
    doc="Approximate functional-dependency profiling (the TANE/soft-FD "
    "g3 measure): for each candidate determinant->dependent pair, the "
    "row count that would have to change for the FD to hold exactly "
    "(sum over determinant values of group-size minus majority-class "
    "size) and its confidence in basis points. Flags near-FDs worth "
    "enforcing and broken ones worth investigating — pure exact "
    "counting: one (det, dep) rollup per pair (map-side combined), "
    "then a determinant-grain max/sum; integer basis points, no "
    "float anywhere.",
)
def q159_soft_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    outs = []
    for tag, table, det, dep in _FD_PAIRS:
        (df,) = _t(spark, sf_dir, table)
        counts = (
            df.filter(F.col(det).isNotNull())
            .groupBy(F.col(det).alias("det"), F.col(dep).alias("dep"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        per_det = counts.groupBy("det").agg(
            F.max("c").alias("mx"), F.sum("c").alias("total")
        )
        outs.append(
            per_det.agg(
                F.lit(tag).alias("fd"),
                F.count(F.lit(1)).cast("bigint").alias("n_det_values"),
                F.sum(F.col("total") - F.col("mx"))
                .cast("bigint")
                .alias("n_violations"),
                F.sum("total").cast("bigint").alias("n_rows"),
                F.expr("CAST(SUM(mx) * 10000 DIV SUM(total) AS INT)").alias(
                    "confidence_bp"
                ),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("fd")


@register(
    "q160_digit_uniformity_chi2",
    oracle="""
    WITH cents AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      FROM orders
    ),
    obs AS (
      SELECT c % 100 AS digits, COUNT(*) AS o FROM cents GROUP BY 1
    ),
    s AS (
      SELECT SUM(CAST(o AS HUGEINT) * o) AS so2, SUM(o) AS n,
             COUNT(*) AS k, MAX(o) AS mx, MIN(o) AS mn
      FROM obs
    )
    SELECT CAST(n AS BIGINT) AS n_rows, CAST(k AS INT) AS n_buckets,
           FLOOR((100.0 * CAST(so2 AS DOUBLE) - CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                 / CAST(n AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
             AS chi2_uniform,
           CAST(mx AS BIGINT) AS max_bucket, CAST(mn AS BIGINT) AS min_bucket
    FROM s
    """,
    doc="Chi-square goodness-of-fit of the trailing two digits of order "
    "totals against uniform(100) — the synthetic-data / rounding-policy "
    "tell that complements q138's Benford leading-digit audit (trailing "
    "digits of organic prices are near-uniform; hand-entered or rounded "
    "ones spike on 00/50/99). Exact: chi2 = (100*sum(obs^2) - n^2)/n "
    "derived from HUGEINT/decimal sums, one double expression at the "
    "end; the digit rollup is 100 buckets regardless of row count.",
)
def q160_digit_uniformity_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = _t(spark, sf_dir, "orders")
    obs = (
        orders.select(
            ((dec182("o_totalprice") * 100).cast("bigint") % 100).alias(
                "digits"
            )
        )
        .groupBy("digits")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    s = obs.agg(
        F.sum(F.col("o").cast("decimal(38,0)") * F.col("o")).alias("so2"),
        F.sum("o").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.max("o").alias("mx"),
        F.min("o").alias("mn"),
    )
    n = F.col("n").cast("double")
    return s.select(
        F.col("n").cast("bigint").alias("n_rows"),
        F.col("k").cast("int").alias("n_buckets"),
        floor_round(
            (F.lit(100.0) * F.col("so2").cast("double") - n * n) / n, 6
        ).alias("chi2_uniform"),
        F.col("mx").cast("bigint").alias("max_bucket"),
        F.col("mn").cast("bigint").alias("min_bucket"),
    )


@register(
    "q161_cross_source_dup_matrix",
    oracle=r"""
    WITH fp AS (
      SELECT DISTINCT source,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS f
      FROM documents
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS shared_fingerprints
    FROM fp a JOIN fp b ON a.f = b.f AND a.source < b.source
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="Source-by-source contamination matrix: how many exact document "
    "fingerprints (q20's md5 of normalized text) each pair of sources "
    "shares — the first question when a near-dup audit (q25/q109) "
    "lights up: is duplication WITHIN sources (re-crawls) or ACROSS "
    "them (mirrors/syndication)? One distinct on (source, fp), one "
    "fp-keyed self-equi-join (never all-pairs: only fingerprints "
    "present in 2+ sources produce join rows), output bounded by "
    "|sources|^2.",
)
def q161_cross_source_dup_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    (documents,) = _t(spark, sf_dir, "documents")
    fp = documents.select(
        "source",
        F.md5(
            F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
        ).alias("f"),
    ).distinct()
    a = fp.select(F.col("source").alias("source_a"), "f")
    b = fp.select(F.col("source").alias("source_b"), "f")
    return (
        a.join(b, "f")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared_fingerprints"))
        .orderBy("source_a", "source_b")
    )


@register(
    "q162_centroid_distance_matrix",
    oracle="""
    WITH cent AS (
      SELECT label, CAST(r.i - 1 AS INT) AS dim,
             CAST(FLOOR(CAST(SUM(CAST(CAST(embedding[r.i] AS DOUBLE)
                                      AS DECIMAL(27,10)))
                             AS DOUBLE) / COUNT(*) * 1000000.0 + 0.5)
                  / 1000000.0 AS DECIMAL(18,6)) AS c
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS r(i)
      GROUP BY 1, 2
    ),
    sq AS (
      SELECT a.label AS label_a, b.label AS label_b,
             SUM(CAST((a.c - b.c) * (a.c - b.c) AS DECIMAL(38,12))) AS d2
      FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
      GROUP BY 1, 2
    )
    SELECT label_a, label_b,
           FLOOR(sqrt(CAST(d2 AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0
             AS l2_distance
    FROM sq ORDER BY 1, 2
    """,
    doc="Pairwise L2 distances between label centroids — the cluster-"
    "separation diagnostic over q77's centroids (labels whose centroids "
    "nearly coincide are candidates for merging; one far from all "
    "others flags a labeling artifact). Centroids land on q77's exact "
    "6dp decimal grid FIRST, so the squared-difference sum is an exact "
    "decimal (order-insensitive) and only the final sqrt runs in double "
    "(IEEE-correctly-rounded, bit-stable). Work is |labels|x|dims| after "
    "one corpus rollup; the pair join is |labels|^2*dims rows — bounded "
    "by the label catalog, independent of corpus size.",
)
def q162_centroid_distance_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    (embeddings,) = _t(spark, sf_dir, "embeddings")
    cent = (
        embeddings.select(
            "label", F.posexplode("embedding").alias("dim", "v")
        )
        .groupBy("label", "dim")
        .agg(
            floor_round(
                F.sum(F.col("v").cast("double").cast("decimal(27,10)"))
                .cast("double")
                / F.count(F.lit(1)),
                6,
            )
            .cast("decimal(18,6)")
            .alias("c")
        )
    )
    a = cent.select(
        F.col("label").alias("label_a"), "dim", F.col("c").alias("ca")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "dim", F.col("c").alias("cb")
    )
    sq = (
        a.join(b, "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(
                (
                    (F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb"))
                ).cast("decimal(38,12)")
            ).alias("d2")
        )
    )
    return sq.select(
        "label_a",
        "label_b",
        floor_round(F.sqrt(F.col("d2").cast("double")), 6).alias(
            "l2_distance"
        ),
    ).orderBy("label_a", "label_b")


@register(
    "q163_trigram_diversity",
    oracle=r"""
    WITH n AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
      FROM documents
    ),
    tg AS (
      SELECT doc_id, substr(norm, CAST(i AS INT), 3) AS g
      FROM n, UNNEST(range(1, GREATEST(length(norm) - 1, 2))) AS t(i)
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
           CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct,
           FLOOR(CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*)
                 * 10000.0 + 0.5) / 10000.0 AS ttr
    FROM tg GROUP BY doc_id
    """,
    doc="Per-document character-trigram type-token ratio — the lexical-"
    "diversity quality signal (boilerplate and generated spam repeat "
    "trigrams; TTR near 1 at short lengths, low TTR flags repetition) "
    "complementing q69's exact-substring repetition and q115's "
    "compressibility. One explode + one (doc, gram)-keyed distinct "
    "count; the ratio is two exact integers through the portable floor "
    "formula.",
)
def q163_trigram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.dedup import shingle_rows

    (documents,) = _t(spark, sf_dir, "documents")
    return shingle_rows(documents, k=3).groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_trigrams"),
        F.countDistinct("sh").cast("bigint").alias("n_distinct"),
        floor_round(
            F.countDistinct("sh").cast("double") / F.count(F.lit(1)), 4
        ).alias("ttr"),
    )


@register(
    "q164_price_elasticity",
    oracle="""
    WITH pq AS (
      SELECT p.p_type,
             CAST(FLOOR(log2(CAST(CAST(p.p_retailprice AS DECIMAL(18,2))
                                  * 100 AS BIGINT))
                        * 1000000.0 + 0.5) / 1000000.0
                  AS DECIMAL(18,6)) AS x,
             CAST(FLOOR(log2(SUM(CAST(l.l_quantity AS BIGINT)))
                        * 1000000.0 + 0.5) / 1000000.0
                  AS DECIMAL(18,6)) AS y
      FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
      GROUP BY p.p_partkey, p.p_type, p.p_retailprice
    ),
    s AS (
      SELECT p_type, COUNT(*) AS m, SUM(x) AS sx, SUM(y) AS sy,
             SUM(CAST(x * y AS DECIMAL(38,12))) AS sxy,
             SUM(CAST(x * x AS DECIMAL(38,12))) AS sxx
      FROM pq GROUP BY p_type
    )
    SELECT p_type, CAST(m AS BIGINT) AS n_parts,
           FLOOR((m * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (m * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS elasticity
    FROM s ORDER BY p_type
    """,
    doc="Log-log price elasticity of demand per part type: OLS slope of "
    "log2(total quantity sold) on log2(retail price cents) at part "
    "grain — the pricing-analytics regression (elasticity < 0 means "
    "demand falls with price within the type). Part-grain rollup is one "
    "co-partitioned partkey join + agg; per-point log terms land on the "
    "6dp decimal grid (q158's discipline) so the per-type moment sums "
    "are exact and order-insensitive; one double OLS expression per "
    "type.",
)
def q164_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    part, lineitem = _t(spark, sf_dir, "part", "lineitem")
    pq = (
        part.join(
            lineitem, F.col("l_partkey") == F.col("p_partkey")
        )
        .groupBy("p_partkey", "p_type", "p_retailprice")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("qty"))
        .select(
            "p_type",
            floor_round(
                F.log2((dec182("p_retailprice") * 100).cast("bigint")), 6
            )
            .cast("decimal(18,6)")
            .alias("x"),
            floor_round(F.log2("qty"), 6).cast("decimal(18,6)").alias("y"),
        )
    )
    s = pq.groupBy("p_type").agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,12)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,12)")).alias("sxx"),
    )
    m = F.col("m").cast("double")
    slope = (
        m * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        m * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    return s.select(
        "p_type",
        F.col("m").cast("bigint").alias("n_parts"),
        floor_round(slope, 6).alias("elasticity"),
    ).orderBy("p_type")


@register(
    "q165_purchase_hazard",
    oracle="""
    WITH gaps AS (
      SELECT LEAST(CAST(datediff('day', prev_d, d) AS BIGINT) // 30, 5)
               AS bucket
      FROM (
        SELECT CAST(o_orderdate AS DATE) AS d,
               LAG(CAST(o_orderdate AS DATE)) OVER (
                 PARTITION BY o_custkey
                 ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS prev_d
        FROM orders
      ) WHERE prev_d IS NOT NULL
    ),
    counts AS (
      SELECT bucket, COUNT(*) AS deaths FROM gaps GROUP BY bucket
    ),
    risk AS (
      SELECT bucket, deaths,
             SUM(deaths) OVER (ORDER BY bucket DESC) AS at_risk
      FROM counts
    )
    SELECT CAST(bucket AS INT) AS gap_bucket,
           CAST(deaths AS BIGINT) AS n_repurchased,
           CAST(at_risk AS BIGINT) AS n_at_risk,
           CAST(deaths * 10000 // at_risk AS INT) AS hazard_bp
    FROM risk ORDER BY gap_bucket
    """,
    doc="Discrete repurchase hazard by 30-day gap bucket (survival "
    "analysis over q144's inter-purchase gaps): of customers still "
    "'alive' entering bucket k, what fraction repurchase in it — "
    "h(k) = deaths_k / at-risk_k with at-risk the reverse-cumulative "
    "death count. Gap extraction is one custkey-partitioned lag; "
    "everything after is a <= 6-row bucket frame with exact-integer "
    "basis-point hazards — no censoring model needed because every gap "
    "observed IS a repurchase (open intervals after the last order are "
    "right-censored and excluded by construction).",
)
def q165_purchase_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    (orders,) = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.to_date("o_orderdate"), "o_orderkey"
    )
    gaps = (
        orders.select(
            F.to_date("o_orderdate").alias("d"),
            F.lag(F.to_date("o_orderdate")).over(w).alias("prev_d"),
        )
        .filter(F.col("prev_d").isNotNull())
        .select(
            F.least(
                F.expr("CAST(datediff(d, prev_d) AS BIGINT) div 30"),
                F.lit(5).cast("bigint"),
            ).alias("bucket")
        )
    )
    counts = gaps.groupBy("bucket").agg(F.count(F.lit(1)).alias("deaths"))
    wr = Window.orderBy(F.desc("bucket")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = counts.withColumn("at_risk", F.sum("deaths").over(wr))
    return risk.select(
        F.col("bucket").cast("int").alias("gap_bucket"),
        F.col("deaths").cast("bigint").alias("n_repurchased"),
        F.col("at_risk").cast("bigint").alias("n_at_risk"),
        F.expr("CAST(deaths * 10000 DIV at_risk AS INT)").alias("hazard_bp"),
    ).orderBy("gap_bucket")


@register(
    "q167_orphan_rate_trend",
    oracle="""
    SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS ym,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_orphans,
           CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS INT) AS orphan_ppm
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1 ORDER BY 1
    """,
    doc="Monthly FK-orphan rate: the q16 integrity check as a TREND — a "
    "referential break that starts in one month points at a specific "
    "upstream deploy, where a global count (q16) only says 'broken'. "
    "One custkey join (customer side broadcast-eligible) + month "
    "rollup; rates in exact parts-per-million so a single orphan among "
    "millions of orders is visible as a nonzero integer.",
)
def q167_orphan_rate_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, customer = _t(spark, sf_dir, "orders", "customer")
    j = orders.join(
        F.broadcast(customer.select("c_custkey")),
        F.col("o_custkey") == F.col("c_custkey"),
        "left",
    )
    return (
        j.groupBy(
            F.date_format(F.to_date("o_orderdate"), "yyyy-MM").alias("ym")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(
                F.when(F.col("c_custkey").isNull(), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_orphans"),
        )
        .select(
            "ym",
            "n_orders",
            "n_orphans",
            F.expr("CAST(n_orphans * 1000000 DIV n_orders AS INT)").alias(
                "orphan_ppm"
            ),
        )
        .orderBy("ym")
    )


@register(
    "q166_cluster_size_histogram",
    oracle=r"""
    WITH RECURSIVE n AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
      FROM documents WHERE doc_id < 250
    ), sh AS (
      SELECT doc_id, list(DISTINCT substr(norm, CAST(i AS INT), 5)) AS shingles
      FROM n, UNNEST(range(1, GREATEST(length(norm) - 3, 2))) AS t(i)
      GROUP BY doc_id
    ), edges AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE FLOOR(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.shingles, b.shingles)))
                  * 10000.0 + 0.5) / 10000.0 >= 0.5
    ), und AS (
      SELECT doc_a AS s, doc_b AS d FROM edges
      UNION SELECT doc_b, doc_a FROM edges
    ), reach(s, d) AS (
      SELECT s, d FROM und
      UNION
      SELECT r.s, u.d FROM reach r JOIN und u ON r.d = u.s
    ), clusters AS (
      SELECT LEAST(s, MIN(d)) AS cluster_id, s AS doc_id
      FROM reach GROUP BY s
    ), sizes AS (
      SELECT cluster_id, COUNT(*) AS sz FROM clusters GROUP BY 1
    )
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_docs,
           CAST(SUM(sz - 1) AS BIGINT) AS n_removable
    FROM sizes GROUP BY sz ORDER BY cluster_size
    """,
    doc="Distribution of near-dup cluster sizes over q49's exact-Jaccard "
    "transitive clusters: how much of the duplicate mass sits in pairs "
    "vs boilerplate blobs, and the exact dedup yield (n_removable = "
    "docs beyond one keeper per cluster) — the number a curation run "
    "reports before dropping anything. Composes q49's cluster frame "
    "with a two-level bounded aggregate.",
)
def q166_cluster_size_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from salesanalytics_etl_spark.plans.extensions import _exact_clusters

    clusters = _exact_clusters(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return (
        sizes.groupBy("sz")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum("sz").cast("bigint").alias("n_docs"),
            F.sum(F.col("sz") - 1).cast("bigint").alias("n_removable"),
        )
        .select(
            F.col("sz").cast("bigint").alias("cluster_size"),
            "n_clusters",
            "n_docs",
            "n_removable",
        )
        .orderBy("cluster_size")
    )


@register(
    "q168_k_anonymity_audit",
    oracle="""
    WITH qi AS (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS m
      FROM customer GROUP BY 1, 2
    ),
    ks AS (SELECT unnest([2, 5, 10]) AS k)
    SELECT CAST(k AS INT) AS k,
           CAST(SUM(CASE WHEN m < k THEN 1 ELSE 0 END) AS BIGINT)
             AS n_groups_below,
           CAST(SUM(CASE WHEN m < k THEN m ELSE 0 END) AS BIGINT)
             AS n_rows_at_risk,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(MIN(m) AS BIGINT) AS min_group_size
    FROM qi CROSS JOIN ks
    GROUP BY k ORDER BY k
    """,
    doc="k-anonymity audit of the (nation, market-segment) quasi-"
    "identifier: for k in {2,5,10}, how many equivalence classes fall "
    "below k and how many customer rows they expose — the privacy "
    "profiling gate before releasing a dimension extract (a class of "
    "size 1 re-identifies its member from 'public' attributes alone). "
    "One QI rollup (map-side combined, |QI classes| rows) crossed with "
    "a 3-row k table; exact integers throughout.",
)
def q168_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    (customer,) = _t(spark, sf_dir, "customer")
    qi = customer.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("m")
    )
    ks = spark.createDataFrame([(2,), (5,), (10,)], "k INT")
    return (
        qi.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("m") < F.col("k"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_groups_below"),
            F.sum(F.when(F.col("m") < F.col("k"), F.col("m")).otherwise(0))
            .cast("bigint")
            .alias("n_rows_at_risk"),
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.min("m").cast("bigint").alias("min_group_size"),
        )
        .select(
            F.col("k").cast("int").alias("k"),
            "n_groups_below",
            "n_rows_at_risk",
            "n_groups",
            "min_group_size",
        )
        .orderBy("k")
    )


@register(
    "q169_packing_utilization",
    oracle=r"""
    WITH t AS (
      SELECT source,
             CAST(SUM(length(regexp_extract_all(text,
               '[A-Za-z0-9]+|[぀-ヿ㐀-䶿一-鿿가-힯]'))) AS BIGINT)
               AS src_tokens
      FROM documents GROUP BY source
    ),
    ls AS (SELECT unnest([512, 1024, 2048, 4096]) AS len),
    bins AS (
      SELECT len, SUM((src_tokens + len - 1) // len) AS n_bins,
             SUM(src_tokens) AS total_tokens
      FROM t CROSS JOIN ls GROUP BY len
    )
    SELECT CAST(len AS INT) AS context_len,
           CAST(total_tokens AS BIGINT) AS total_tokens,
           CAST(n_bins AS BIGINT) AS n_bins,
           CAST(total_tokens * 10000 // (n_bins * len) AS INT)
             AS utilization_bp
    FROM bins ORDER BY context_len
    """,
    doc="Context-length utilization sweep for q71's concat-and-split "
    "packing: at L in {512,1024,2048,4096}, how many L-token bins the "
    "corpus needs (per-source concat ⇒ ceil(source_tokens/L) bins each, "
    "only the last bin per source underfills) and the resulting token "
    "utilization in basis points — the choose-your-context-length "
    "capacity report. One token-count rollup to SOURCE grain, then a "
    "4-row sweep; exact ceil-div integers.",
)
def q169_packing_utilization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.text import token_count

    (documents,) = _t(spark, sf_dir, "documents")
    t = documents.select(
        "source", token_count(F.col("text")).alias("n_tokens")
    ).groupBy("source").agg(
        F.sum("n_tokens").cast("bigint").alias("src_tokens")
    )
    ls = spark.createDataFrame([(512,), (1024,), (2048,), (4096,)], "len INT")
    return (
        t.crossJoin(F.broadcast(ls))
        .groupBy("len")
        .agg(
            F.sum(
                F.expr("(src_tokens + len - 1) div len")
            ).alias("n_bins"),
            F.sum("src_tokens").alias("total_tokens"),
        )
        .select(
            F.col("len").cast("int").alias("context_len"),
            F.col("total_tokens").cast("bigint").alias("total_tokens"),
            F.col("n_bins").cast("bigint").alias("n_bins"),
            F.expr(
                "CAST(total_tokens * 10000 DIV (n_bins * len) AS INT)"
            ).alias("utilization_bp"),
        )
        .orderBy("context_len")
    )


@register(
    "q170_source_shingle_jaccard",
    oracle=r"""
    WITH n AS (
      SELECT source,
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT source, substr(norm, CAST(i AS INT), 5) AS g
      FROM n, UNNEST(range(1, GREATEST(length(norm) - 3, 2))) AS t(i)
    ),
    sizes AS (SELECT source, COUNT(*) AS sz FROM sh GROUP BY 1),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS ov
      FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.source_a, i.source_b,
           CAST(i.ov AS BIGINT) AS shared_shingles,
           FLOOR(CAST(i.ov AS DOUBLE) / (sa.sz + sb.sz - i.ov)
                 * 10000.0 + 0.5) / 10000.0 AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.source = i.source_a
    JOIN sizes sb ON sb.source = i.source_b
    ORDER BY 1, 2
    """,
    doc="Source-level 5-gram Jaccard similarity matrix: which SOURCES "
    "share vocabulary-level content (boilerplate templates, mirrored "
    "feeds) even when no single document pair crosses the near-dup "
    "threshold — the corpus-composition complement to q161's exact-"
    "fingerprint matrix. The shingle-grain join keys on the shingle "
    "(only shingles present in 2+ sources produce rows) after a "
    "(source, shingle) distinct; source grain keeps sizes/intersections "
    "at |sources|^2 regardless of corpus size.",
)
def q170_source_shingle_jaccard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from salesanalytics_etl_spark.operators.dedup import source_shingle_jaccard

    (documents,) = _t(spark, sf_dir, "documents")
    return (
        source_shingle_jaccard(documents)
        .localCheckpoint()
        .orderBy("source_a", "source_b")
    )


@register(
    "q171_source_length_deciles",
    oracle="""
    WITH ranked AS (
      SELECT source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS r,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM documents
    ),
    ds AS (SELECT unnest(range(1, 10)) AS d)
    SELECT source, CAST(d AS INT) AS decile,
           CAST(n_chars AS BIGINT) AS n_chars
    FROM ranked JOIN ds ON ranked.r = (ranked.n * ds.d + 9) // 10
    ORDER BY source, decile
    """,
    doc="Per-source document-length deciles (nearest-rank, "
    "ceil(n*d/10), total order (n_chars, doc_id)) — the length-"
    "distribution fingerprint that catches a source whose scraper "
    "started truncating. Rides append_group_rank: the rank is computed "
    "on (source, length) RANGE partitions, so one giant source spans "
    "executors instead of funneling into a per-source sort task (the "
    "low-cardinality-partition straggler the plan linter hunts); the "
    "decile pick is a 9-row broadcast join on exact integer ranks.",
)
def q171_source_length_deciles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from salesanalytics_etl_spark.operators.ranking import append_group_rank

    (documents,) = _t(spark, sf_dir, "documents")
    ranked = append_group_rank(
        documents.select("source", "n_chars", "doc_id"),
        ["source"],
        [F.asc("n_chars"), F.asc("doc_id")],
        out_col="r",
        total_col="n",
    )
    ds = spark.range(1, 10).select(F.col("id").cast("int").alias("d"))
    return (
        ranked.crossJoin(F.broadcast(ds))
        .filter(F.col("r") == F.expr("(n * d + 9) div 10"))
        .select(
            "source",
            F.col("d").alias("decile"),
            F.col("n_chars").cast("bigint").alias("n_chars"),
        )
        .orderBy("source", "decile")
    )


@register(
    "q172_source_minhash_jaccard",
    # The q25/q109 sketch-vs-exact pairing applied to SOURCE grain: q170
    # (exact) DISTINCTs the full (source, 5-gram) domain — a corpus-
    # sized shuffle at 100 TB — while this sketch's only corpus-sized
    # work is map-side (explode+hash into a partial min); the exchange
    # carries |sources| signature rows of N_HASHES longs. Same portable
    # hash family as q109 (md5-prefix shingles, md5('perm-'||i) xor
    # masks), so DuckDB replays the ESTIMATE bit-for-bit and the driver
    # hash-checks the approximation itself; q170 stays as the exact
    # audit twin that quantifies the estimate's error.
    oracle=r"""
    WITH n AS (
      SELECT source,
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      FROM documents
    ),
    sh AS (
      SELECT source,
             CAST(('0x' || substr(md5(substr(t, CAST(i AS INTEGER), 5)),
                                  1, 15)) AS BIGINT) AS h
      FROM n, UNNEST(range(1, GREATEST(len(t) - 4, 1) + 1)) AS u(i)
    ),
    perms AS (
      SELECT i, CAST(('0x' || substr(md5('perm-' || i), 1, 15)) AS BIGINT) AS a
      FROM (SELECT unnest(range(0, 32)) AS i)
    ),
    sigs AS (
      SELECT s.source, p.i, MIN(xor(s.h, p.a)) AS mh
      FROM sh s CROSS JOIN perms p
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS matching
      FROM sigs a JOIN sigs b ON a.i = b.i AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b,
           CAST(matching AS INT) AS matching_components,
           CAST(matching * 10000 // 32 AS INT) AS est_jaccard_bp
    FROM pairs ORDER BY 1, 2
    """,
    doc="Source-pair MinHash-estimated shingle Jaccard (32-component "
    "portable signatures) — the sketch-mode twin of q170's exact "
    "matrix: signature-sized shuffle instead of a corpus-sized "
    "(source, shingle) distinct, for monitoring cross-source content "
    "overlap at volumes where the exact form is an audit-only run.",
)
def q172_source_minhash_jaccard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from salesanalytics_etl_spark.operators.dedup import source_minhash_jaccard

    (documents,) = _t(spark, sf_dir, "documents")
    return (
        source_minhash_jaccard(documents)
        .localCheckpoint()
        .orderBy("source_a", "source_b")
    )


@register(
    "q173_dup_cluster_source_span",
    oracle=r"""
    WITH f AS (
      SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
             source
      FROM documents
    ),
    c AS (
      SELECT fp, COUNT(*) AS m, COUNT(DISTINCT source) AS span
      FROM f GROUP BY 1
    )
    SELECT CAST(m AS BIGINT) AS cluster_size,
           CAST(span AS INT) AS n_sources,
           CAST(COUNT(*) AS BIGINT) AS n_clusters
    FROM c WHERE m >= 2
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc="Exact-duplicate cluster census by (cluster size, source span): "
    "a cluster spanning ONE source is a re-crawl (dedupe locally, keep "
    "one), a cluster spanning many is syndication/mirroring (a corpus-"
    "composition decision, and a leakage risk if sources map to data "
    "splits — q84's check at cluster grain). Complements q161 (pairwise "
    "source matrix) with the cluster-size dimension and q49 (near-dup "
    "clusters) with the exact-fingerprint population. One fp-keyed agg "
    "over the corpus, then a rollup bounded by |size classes| x "
    "|sources| — no joins, no pair expansion.",
)
def q173_dup_cluster_source_span(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    (documents,) = _t(spark, sf_dir, "documents")
    clusters = (
        documents.select(
            F.md5(
                F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
            ).alias("fp"),
            "source",
        )
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("m"),
            F.countDistinct("source").alias("span"),
        )
        .filter(F.col("m") >= 2)
    )
    return (
        clusters.groupBy(
            F.col("m").cast("bigint").alias("cluster_size"),
            F.col("span").cast("int").alias("n_sources"),
        )
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .orderBy("cluster_size", "n_sources")
    )


@register(
    "q174_source_length_psi",
    # Population Stability Index of the document-length distribution,
    # per source vs the whole corpus — the drift score risk teams put on
    # every feature; here it flags a source whose scraper started
    # truncating or padding. Buckets are n_chars div 100 (exact integer
    # arithmetic — bounded by max document length, a corpus PROPERTY,
    # not corpus size). MLE over buckets the source populates (p>0;
    # q>0 follows since the corpus contains the source); each bucket's
    # (p-q)*ln(p/q) is ONE fixed-shape double expression rounded to 6dp
    # and summed as DECIMAL(18,6) — the q120 discipline, order-
    # insensitive and engine-portable.
    oracle=r"""
    WITH b AS (
      SELECT source, n_chars // 100 AS bkt FROM documents
    ),
    sb AS (SELECT source, bkt, COUNT(*) AS m FROM b GROUP BY 1, 2),
    st AS (SELECT source, SUM(m) AS n_s FROM sb GROUP BY 1),
    cb AS (SELECT bkt, SUM(m) AS mc FROM sb GROUP BY 1),
    ct AS (SELECT SUM(mc) AS n FROM cb),
    contrib AS (
      SELECT sb.source,
             CAST(ROUND(
               (CAST(sb.m AS DOUBLE) / st.n_s - CAST(cb.mc AS DOUBLE) / ct.n)
               * (ln(CAST(sb.m AS DOUBLE)) - ln(CAST(st.n_s AS DOUBLE))
                  - ln(CAST(cb.mc AS DOUBLE)) + ln(CAST(ct.n AS DOUBLE))),
               6) AS DECIMAL(18,6)) AS term
      FROM sb JOIN st USING (source) JOIN cb USING (bkt) CROSS JOIN ct
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_buckets,
           FLOOR(CAST(SUM(term) AS DOUBLE) * 10000.0 + 0.5) / 10000.0
             AS psi
    FROM contrib GROUP BY source ORDER BY source
    """,
    doc="Per-source Population Stability Index of document length vs "
    "the corpus blend (100-char buckets, MLE, natural log) — the "
    "length-distribution DRIFT score that turns q171's decile "
    "fingerprint into one monitorable number per source. Shuffles one "
    "(source, bucket) partial-agg rollup; everything downstream is "
    "|sources| x |buckets| bounded.",
)
def q174_source_length_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = _t(spark, sf_dir, "documents")
    sb = (
        documents.select("source", F.expr("n_chars div 100").alias("bkt"))
        .groupBy("source", "bkt")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    st = sb.groupBy("source").agg(F.sum("m").alias("n_s"))
    cb = sb.groupBy("bkt").agg(F.sum("m").alias("mc"))
    ct = cb.agg(F.sum("mc").alias("n"))
    term = F.round(
        (
            F.col("m").cast("double") / F.col("n_s")
            - F.col("mc").cast("double") / F.col("n")
        )
        * (
            F.log(F.col("m").cast("double"))
            - F.log(F.col("n_s").cast("double"))
            - F.log(F.col("mc").cast("double"))
            + F.log(F.col("n").cast("double"))
        ),
        6,
    ).cast("decimal(18,6)")
    return (
        sb.join(F.broadcast(st), "source")
        .join(F.broadcast(cb), "bkt")
        .crossJoin(F.broadcast(ct))
        .select("source", term.alias("term"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            floor_round(F.sum("term").cast("double"), 4).alias("psi"),
        )
        .orderBy("source")
    )


@register(
    "q175_event_cooccurrence_lift",
    # Market-basket association at USER grain over the event stream:
    # which event types co-occur in the same user's history more (or
    # less) than independence predicts. Complements q96/q135 (SEQUENTIAL
    # transition structure) with the order-free association measure, and
    # q92 (part co-occurrence counts) with the normalized lift statistic.
    # Scale: one distinct to (user, type) — |types| rows per user, a
    # BOUNDED domain — then a user-keyed self-join whose per-user output
    # is <= |types|^2; the totals frame is a 1-row broadcast (J6
    # pattern, no collect). lift = c_ab*N/(c_a*c_b) computed in double
    # (products stay under 2^53 far past trillion-user scale) and
    # floor-rounded to 4dp on both engines.
    oracle=r"""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    tc AS (SELECT event_type, COUNT(*) AS c FROM ut GROUP BY 1),
    n AS (SELECT COUNT(DISTINCT user_id) AS nu FROM events),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS c_ab
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b,
           CAST(p.c_ab AS BIGINT) AS users_both,
           CAST(ta.c AS BIGINT) AS users_a,
           CAST(tb.c AS BIGINT) AS users_b,
           FLOOR(CAST(p.c_ab AS DOUBLE) * n.nu / (ta.c * tb.c)
                 * 10000.0 + 0.5) / 10000.0 AS lift
    FROM pairs p
    JOIN tc ta ON ta.event_type = p.type_a
    JOIN tc tb ON tb.event_type = p.type_b
    CROSS JOIN n
    ORDER BY 1, 2
    """,
    doc="Event-type co-occurrence lift at user grain: "
    "P(a,b)/(P(a)P(b)) over distinct user histories, the order-free "
    "association complement to the q96 transition matrix. Output is "
    "|event types|^2 bounded; the user-keyed self-join emits at most "
    "|types|^2 rows per user.",
)
def q175_event_cooccurrence_lift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    (events,) = _t(spark, sf_dir, "events")
    ut = events.select("user_id", "event_type").distinct()
    tc = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    n = events.agg(F.countDistinct("user_id").alias("nu"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    return (
        pairs.join(
            F.broadcast(
                tc.select(
                    F.col("event_type").alias("type_a"),
                    F.col("c").alias("users_a"),
                )
            ),
            "type_a",
        )
        .join(
            F.broadcast(
                tc.select(
                    F.col("event_type").alias("type_b"),
                    F.col("c").alias("users_b"),
                )
            ),
            "type_b",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "type_a",
            "type_b",
            F.col("c_ab").cast("bigint").alias("users_both"),
            F.col("users_a").cast("bigint").alias("users_a"),
            F.col("users_b").cast("bigint").alias("users_b"),
            floor_round(
                F.col("c_ab").cast("double")
                * F.col("nu")
                / (F.col("users_a") * F.col("users_b")),
                4,
            ).alias("lift"),
        )
        .orderBy("type_a", "type_b")
    )


@register(
    "q176_source_jaccard_sketch_error",
    # The recall-audit pattern (q121/q122) applied to the NEW sketch:
    # join q172's MinHash estimate against q170's exact source-pair
    # Jaccard and emit the signed per-pair error in basis points — the
    # quality gate that says when the signature-sized monitor can stand
    # in for the corpus-sized audit. Estimate side emits EVERY pair
    # (the pairwise compare has no overlap filter); exact side emits
    # only pairs sharing >= 1 shingle — coalesced to 0 so a
    # zero-overlap pair shows its full estimate as error instead of
    # vanishing. exact_jaccard is floor-rounded to 4dp upstream, so
    # *10000 is integer-valued and the INT cast is exact.
    oracle=r"""
    WITH n AS (
      SELECT source, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      FROM documents
    ),
    shl AS (
      SELECT source,
             CAST(('0x' || substr(md5(substr(t, CAST(i AS INTEGER), 5)),
                                  1, 15)) AS BIGINT) AS h,
             substr(t, CAST(i AS INTEGER), 5) AS g
      FROM n, UNNEST(range(1, GREATEST(len(t) - 4, 1) + 1)) AS u(i)
    ),
    perms AS (
      SELECT i, CAST(('0x' || substr(md5('perm-' || i), 1, 15)) AS BIGINT) AS a
      FROM (SELECT unnest(range(0, 32)) AS i)
    ),
    sigs AS (
      SELECT s.source, p.i, MIN(xor(s.h, p.a)) AS mh
      FROM shl s CROSS JOIN perms p
      GROUP BY 1, 2
    ),
    est AS (
      SELECT a.source AS source_a, b.source AS source_b,
             SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS matching
      FROM sigs a JOIN sigs b ON a.i = b.i AND a.source < b.source
      GROUP BY 1, 2
    ),
    sh AS (SELECT DISTINCT source, g FROM shl),
    sizes AS (SELECT source, COUNT(*) AS sz FROM sh GROUP BY 1),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS ov
      FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT i.source_a, i.source_b,
             CAST(FLOOR(CAST(i.ov AS DOUBLE)
                        / (sa.sz + sb.sz - i.ov) * 10000.0 + 0.5) AS INT)
               AS exact_bp
      FROM inter i
      JOIN sizes sa ON sa.source = i.source_a
      JOIN sizes sb ON sb.source = i.source_b
    )
    SELECT e.source_a, e.source_b,
           COALESCE(x.exact_bp, 0) AS exact_jaccard_bp,
           CAST(e.matching * 10000 // 32 AS INT) AS est_jaccard_bp,
           CAST(e.matching * 10000 // 32 - COALESCE(x.exact_bp, 0) AS INT)
             AS err_bp
    FROM est e LEFT JOIN exact x USING (source_a, source_b)
    ORDER BY 1, 2
    """,
    doc="Per-source-pair error of the MinHash estimate (q172) against "
    "the exact shingle Jaccard (q170), in basis points — the audit that "
    "qualifies the sketch as the at-scale monitor (run the exact form "
    "on a sampled cadence, the sketch continuously, and alert on "
    "err_bp drift). Composes both registered pipelines unchanged.",
)
def q176_source_jaccard_sketch_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from salesanalytics_etl_spark.operators.dedup import (
        source_minhash_jaccard,
        source_shingle_jaccard,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    # both sides are the matrices the monitor (q172) and audit (q170)
    # queries register, each checkpointed at |sources|^2 rows
    est = source_minhash_jaccard(documents).localCheckpoint().select(
        "source_a", "source_b", "est_jaccard_bp"
    )
    # jaccard is floor-rounded to 4dp upstream, so jaccard*10000 is
    # integer-valued up to an ulp (0.7263*10000 = 7262.999...); ROUND to
    # nearest before the INT cast — a bare cast truncates the ulp away
    exact = source_shingle_jaccard(documents).localCheckpoint().select(
        "source_a",
        "source_b",
        F.round(F.col("jaccard") * 10000, 0).cast("int").alias("exact_bp"),
    )
    return (
        est.join(exact, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            F.coalesce(F.col("exact_bp"), F.lit(0))
            .cast("int")
            .alias("exact_jaccard_bp"),
            "est_jaccard_bp",
            (
                F.col("est_jaccard_bp")
                - F.coalesce(F.col("exact_bp"), F.lit(0))
            )
            .cast("int")
            .alias("err_bp"),
        )
        .orderBy("source_a", "source_b")
    )


@register(
    "q177_boilerplate_fraction",
    # Per-document boilerplate share: the fraction of a doc's DISTINCT
    # 5-gram shingles that appear in >= 2 documents, rolled into 11
    # fixed buckets (0-10 = frac_bp div 1000). The per-doc complement
    # to q103 (span-level dup counts) and q69 (intra-doc repetition):
    # a doc can be 90% boilerplate without any single long span
    # duplicating. Shuffle shape is the q104-surprisal class: one
    # (doc, shingle-hash) distinct, one hash-keyed doc-frequency agg,
    # one join back on the hash — all keyed, never pairwise; shingles
    # travel as 60-bit md5-prefix longs (the portable family), not
    # strings, so the exchange carries 8-byte keys.
    oracle=r"""
    WITH n AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             CAST(('0x' || substr(md5(substr(t, CAST(i AS INTEGER), 5)),
                                  1, 15)) AS BIGINT) AS h
      FROM n, UNNEST(range(1, GREATEST(len(t) - 4, 1) + 1)) AS u(i)
    ),
    df AS (SELECT h, COUNT(*) AS d FROM sh GROUP BY 1),
    per_doc AS (
      SELECT sh.doc_id,
             COUNT(*) AS n_shingles,
             SUM(CASE WHEN df.d >= 2 THEN 1 ELSE 0 END) AS n_common
      FROM sh JOIN df USING (h)
      GROUP BY 1
    )
    SELECT CAST(n_common * 10000 // n_shingles // 1000 AS INT)
             AS boilerplate_decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_shingles) AS BIGINT) AS total_shingles
    FROM per_doc GROUP BY 1 ORDER BY 1
    """,
    doc="Boilerplate-share histogram: per doc, the fraction of its "
    "distinct 5-gram shingles seen in 2+ documents (exact integer bp, "
    "11 fixed deciles) — the curation signal that separates 'corpus "
    "has duplicates' (q21/q25) from 'every doc is partially templated' "
    "(navigation chrome, license headers), which near-dup pair mining "
    "underreports because no pair crosses the threshold.",
)
def q177_boilerplate_fraction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from salesanalytics_etl_spark.operators.dedup import (
        md5_token_hash,
        shingle_rows,
    )

    from pyspark.sql import Window

    (documents,) = _t(spark, sf_dir, "documents")
    sh = (
        shingle_rows(documents)
        .select("doc_id", md5_token_hash(F.col("sh")).alias("h"))
        .distinct()
    )
    # doc frequency as a WINDOW count over the h partition (r16 opt
    # round, guide §2.4): the former groupBy(h) + join-back consumed the
    # sh subtree twice and at scale needs TWO h-keyed exchanges (the
    # vocab-grain frequency frame cannot broadcast); the window shares
    # ONE h exchange and leaves sh single-consumer. Values identical
    # (measured equal at sf0.1; 5 stages/41 tasks vs 7/69).
    # SKEW CAVEAT (r16 advice): the window form forfeits map-side
    # partial aggregation AND AQE skew splitting — a near-ubiquitous
    # boilerplate shingle lands its ENTIRE (doc_id, h) row set in one
    # window task, and boilerplate-heavy shingles are what this query
    # measures. Neither shape dominates at every scale: groupBy+join
    # pays a second full h exchange, the window risks one unsplittable
    # hot partition. The window is kept because the per-shingle row set
    # is bounded by |docs| (the upstream distinct caps one row per
    # (doc, h)) and a hot task degrades wall-clock, not correctness;
    # a deployment with truly ubiquitous shingles should pre-split h
    # (two-level: groupBy(h, salt) then by h) before this operator.
    per_doc = (
        sh.withColumn(
            "d", F.count(F.lit(1)).over(Window.partitionBy("h"))
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("d") >= 2, 1).otherwise(0)).alias(
                "n_common"
            ),
        )
    )
    return (
        per_doc.groupBy(
            F.expr("cast(n_common * 10000 div n_shingles div 1000 as int)")
            .alias("boilerplate_decile")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_shingles").cast("bigint").alias("total_shingles"),
        )
        .orderBy("boilerplate_decile")
    )


@register(
    "q178_split_neardup_leakage",
    # q84 proves EXACT-dup leakage across the id-hash split; this is the
    # NEAR-dup extension — the decontamination metric that actually
    # matters for LLM training, where a paraphrased or boilerplate-
    # shifted copy of a test document in train is still leakage. Pairs
    # come from the portable MinHash+LSH pipeline (q109, J >= 0.5),
    # split assignment from q51's deterministic md5 doc-id bucket
    # (80/10/10); the rollup counts pairs by unordered split pair, so
    # the (train, val)/(train, test)/(val, test) rows ARE the leak
    # report and the within-split rows are the dedup-before-split
    # workload. Composes two oracle-green pipelines unchanged; output
    # is <= 6 rows at any corpus size.
    oracle=r"""
    WITH docs AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             CAST(('0x' || substr(md5(substr(t, CAST(i AS INTEGER), 5)),
                                  1, 15)) AS BIGINT) AS h
      FROM docs, UNNEST(range(1, GREATEST(len(t) - 4, 1) + 1)) AS u(i)
    ),
    perms AS (
      SELECT i, CAST(('0x' || substr(md5('perm-' || i), 1, 15)) AS BIGINT) AS a
      FROM (SELECT unnest(range(0, 32)) AS i)
    ),
    sigvals AS (
      SELECT s.doc_id, p.i, MIN(xor(s.h, p.a)) AS mh
      FROM sh s CROSS JOIN perms p
      GROUP BY s.doc_id, p.i
    ),
    banded AS (
      SELECT doc_id, i // 5 AS band_id,
             md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)) AS band_key
      FROM sigvals WHERE i < 30
      GROUP BY doc_id, i // 5
    ),
    bsize AS (SELECT band_id, band_key, COUNT(*) AS m FROM banded GROUP BY 1, 2),
    member AS (
      SELECT b.doc_id, b.band_id, b.band_key
      FROM banded b JOIN bsize s USING (band_id, band_key)
      WHERE s.m BETWEEN 2 AND 64
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM member x JOIN member y USING (band_id, band_key)
      WHERE x.doc_id < y.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
    ovl AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS ov
      FROM cand c JOIN sh a ON a.doc_id = c.doc_a
                  JOIN sh b ON b.doc_id = c.doc_b AND b.h = a.h
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      LEFT JOIN ovl o USING (doc_a, doc_b)
      JOIN sizes sa ON sa.doc_id = c.doc_a
      JOIN sizes sb ON sb.doc_id = c.doc_b
      WHERE COALESCE(o.ov, 0) * 10000
            >= 5000 * (sa.sz + sb.sz - COALESCE(o.ov, 0))
    ),
    sp AS (
      SELECT doc_id,
             CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
      FROM (SELECT doc_id,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                        AS INT) % 100 AS bucket
            FROM documents)
    )
    SELECT LEAST(pa.split, pb.split) AS split_a,
           GREATEST(pa.split, pb.split) AS split_b,
           CAST(COUNT(*) AS BIGINT) AS n_neardup_pairs,
           CAST(SUM(CASE WHEN pa.split <> pb.split THEN 1 ELSE 0 END)
                AS BIGINT) AS n_leaking
    FROM pairs
    JOIN sp pa ON pa.doc_id = pairs.doc_a
    JOIN sp pb ON pb.doc_id = pairs.doc_b
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc="Near-duplicate leakage across the q51 train/val/test split: "
    "MinHash+LSH pairs (J >= 0.5, the q109 portable pipeline) joined "
    "to each side's deterministic split assignment and rolled up by "
    "unordered split pair — cross-split rows are test-set "
    "contamination exact-dup audits (q84) cannot see. <= 6 output rows "
    "at any corpus size; pair volume rides the LSH cap + q116 audit.",
)
def q178_split_neardup_leakage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from salesanalytics_etl_spark.operators.dedup import (
        minhash_near_dupes_portable,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    pairs = minhash_near_dupes_portable(documents).select("doc_a", "doc_b")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("long")
        % 100
    )
    sp = documents.select(
        "doc_id",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )
    joined = (
        pairs.join(
            sp.select(
                F.col("doc_id").alias("doc_a"), F.col("split").alias("sa")
            ),
            "doc_a",
        )
        .join(
            sp.select(
                F.col("doc_id").alias("doc_b"), F.col("split").alias("sb")
            ),
            "doc_b",
        )
    )
    return (
        joined.groupBy(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_neardup_pairs"),
            F.sum(F.when(F.col("sa") != F.col("sb"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_leaking"),
        )
        .orderBy("split_a", "split_b")
    )


@register(
    "q179_lang_source_mutual_info",
    # Mutual information of the (lang, source) contingency table — the
    # mixture diagnostic that says how much knowing the source tells
    # you about language (high MI = language-siloed sources, a
    # rebalancing constraint; zero = languages spread evenly). Joint
    # counts are one (lang, source) rollup; marginals re-aggregate it;
    # each cell's p*log2(p_xy/(p_x*p_y)) is ONE fixed-shape double
    # expression rounded to 6dp and summed as DECIMAL(18,6) — the
    # q120/q174 discipline, order-insensitive and engine-portable. MLE,
    # finite by construction (every joint cell's marginals are >= it).
    oracle=r"""
    WITH j AS (
      SELECT lang, source, COUNT(*) AS c FROM documents GROUP BY 1, 2
    ),
    ml AS (SELECT lang, SUM(c) AS cl FROM j GROUP BY 1),
    ms AS (SELECT source, SUM(c) AS cs FROM j GROUP BY 1),
    n AS (SELECT SUM(c) AS n FROM j),
    contrib AS (
      SELECT j.lang, j.c,
             CAST(ROUND(
               (CAST(j.c AS DOUBLE) / n.n)
               * (log2(CAST(j.c AS DOUBLE)) + log2(CAST(n.n AS DOUBLE))
                  - log2(CAST(ml.cl AS DOUBLE)) - log2(CAST(ms.cs AS DOUBLE))),
               6) AS DECIMAL(18,6)) AS term
      FROM j JOIN ml USING (lang) JOIN ms USING (source) CROSS JOIN n
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(c) AS BIGINT) AS n_docs,
           FLOOR(CAST(SUM(term) AS DOUBLE) * 10000.0 + 0.5) / 10000.0
             AS mi_bits
    FROM contrib
    """,
    doc="Mutual information (bits) of the lang x source contingency "
    "table — quantifies language siloing across sources for mixture "
    "design: one (lang, source) rollup, marginals re-aggregated from "
    "it (the token stream shuffles once), |langs|x|sources| bounded "
    "everywhere after.",
)
def q179_lang_source_mutual_info(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    (documents,) = _t(spark, sf_dir, "documents")
    j = documents.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("c")
    )
    ml = j.groupBy("lang").agg(F.sum("c").alias("cl"))
    ms = j.groupBy("source").agg(F.sum("c").alias("cs"))
    n = j.agg(F.sum("c").alias("n"))
    term = F.round(
        (F.col("c").cast("double") / F.col("n"))
        * (
            F.log2(F.col("c").cast("double"))
            + F.log2(F.col("n").cast("double"))
            - F.log2(F.col("cl").cast("double"))
            - F.log2(F.col("cs").cast("double"))
        ),
        6,
    ).cast("decimal(18,6)")
    return (
        j.join(F.broadcast(ml), "lang")
        .join(F.broadcast(ms), "source")
        .crossJoin(F.broadcast(n))
        .select(F.col("c"), term.alias("term"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.sum("c").cast("bigint").alias("n_docs"),
            floor_round(F.sum("term").cast("double"), 4).alias("mi_bits"),
        )
    )


@register(
    "q180_dedup_yield_curve",
    # The crawl-economics curve: process documents in a deterministic
    # hash order sliced into 20 "batches"; per batch, how many docs are
    # NEW CONTENT (their fingerprint's first appearance is in this
    # batch) vs re-crawled duplicates — cumulative unique share tells
    # you when additional crawling stops paying. First-seen batch is
    # MIN(batch) per fingerprint (one fp-keyed agg — duplicate-
    # insensitive, the same algebra as the sketch mins); the cumulative
    # sum runs over the FIXED 20-row batch frame (q18's calendar-grain
    # window class, here batch-grain — bounded by construction).
    oracle=r"""
    WITH d AS (
      SELECT CAST(('0x' || substr(md5('yield-' || CAST(doc_id AS VARCHAR)),
                                  1, 6)) AS INT) % 20 AS batch,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      FROM documents
    ),
    first_seen AS (SELECT fp, MIN(batch) AS fb FROM d GROUP BY 1),
    per_batch AS (
      SELECT d.batch, COUNT(*) AS n_docs,
             SUM(CASE WHEN f.fb = d.batch THEN 1 ELSE 0 END) AS with_first
      FROM d JOIN first_seen f USING (fp) GROUP BY 1
    ),
    uniq AS (SELECT fb AS batch, COUNT(*) AS n_new FROM first_seen GROUP BY 1)
    SELECT p.batch AS batch,
           CAST(p.n_docs AS BIGINT) AS n_docs,
           CAST(COALESCE(u.n_new, 0) AS BIGINT) AS n_new_fingerprints,
           CAST(SUM(COALESCE(u.n_new, 0))
                  OVER (ORDER BY p.batch) AS BIGINT) AS cum_unique,
           CAST(COALESCE(u.n_new, 0) * 10000 // p.n_docs AS INT)
             AS yield_bp
    FROM per_batch p LEFT JOIN uniq u ON u.batch = p.batch
    ORDER BY 1
    """,
    doc="Dedup yield curve over 20 deterministic hash-ordered crawl "
    "batches: per batch the new-fingerprint count, cumulative unique "
    "content, and yield (new/processed, exact bp) — when the curve "
    "flattens, additional crawling re-buys existing content. One "
    "fp-keyed MIN agg + a 20-row cumulative window (bounded grain).",
)
def q180_dedup_yield_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    (documents,) = _t(spark, sf_dir, "documents")
    d = documents.select(
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("yield-"), F.col("doc_id").cast("string"))),
                    1,
                    6,
                ),
                16,
                10,
            ).cast("long")
            % 20
        ).alias("batch"),
        F.md5(
            F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
        ).alias("fp"),
    )
    first_seen = d.groupBy("fp").agg(F.min("batch").alias("fb"))
    per_batch = (
        d.join(first_seen, "fp")
        .groupBy("batch")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("fb") == F.col("batch"), 1).otherwise(0)
            ).alias("with_first"),
        )
    )
    uniq = first_seen.groupBy(F.col("fb").alias("batch")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    w = Window.orderBy("batch")  # 20-row frame — bounded by construction
    return (
        per_batch.join(uniq, "batch", "left")
        .select(
            "batch",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.coalesce(F.col("n_new"), F.lit(0))
            .cast("bigint")
            .alias("n_new_fingerprints"),
        )
        .withColumn(
            "cum_unique",
            F.sum("n_new_fingerprints").over(w).cast("bigint"),
        )
        .withColumn(
            "yield_bp",
            F.expr(
                "cast(n_new_fingerprints * 10000 div n_docs as int)"
            ),
        )
        .orderBy("batch")
    )


# --------------------------------------------------------------------------
# Round-13 family: sampled monitors + their error audits, the sampled
# near-dup replay, per-source LM-quality drift, and a CMS certification
# --------------------------------------------------------------------------

_SHINGLES_SQL = r"""
      SELECT DISTINCT doc_id,
             CAST(('0x' || substr(md5(substr(t, CAST(i AS INTEGER), 5)),
                                  1, 15)) AS BIGINT) AS h
      FROM (SELECT doc_id,
                   trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
            FROM documents) n,
           UNNEST(range(1, GREATEST(len(t) - 4, 1) + 1)) AS u(i)
"""


@register(
    "q181_boilerplate_sampled",
    # The monitor-cadence twin of q177 (the sketch/exact/audit pattern of
    # q172/q170/q176 applied to boilerplate share). A count-min sketch is
    # the WRONG tool here — shingle df is a flat long-tail domain, so a
    # broadcastable-width CMS saturates (overestimate ≈ N/w swamps the
    # df >= 2 test; measured at sf0.001: +51 on true df ~2). Instead the
    # SHINGLE IDENTITY domain is hash-sampled (h % 16 == 0): every
    # (doc, shingle) pair of a kept shingle survives, so kept shingles'
    # doc-frequencies are EXACT and each doc's sampled shingles are an
    # unbiased ~1/16 subset — the corpus-keyed exchange (the dominant
    # cost of q177 at 100 TB) shrinks 16x while the decile estimate stays
    # unbiased per doc. Docs with no sampled shingle land in decile -1
    # (reported, never silently dropped); q182 audits the decile drift.
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    samp AS (SELECT doc_id, h FROM sh WHERE h % 16 = 0),
    df AS (SELECT h, COUNT(*) AS d FROM samp GROUP BY 1),
    per_doc AS (
      SELECT s.doc_id,
             COUNT(*) AS n_sampled,
             SUM(CASE WHEN df.d >= 2 THEN 1 ELSE 0 END) AS n_common
      FROM samp s JOIN df USING (h)
      GROUP BY 1
    )
    SELECT CASE WHEN p.n_sampled IS NULL THEN -1
                ELSE CAST(p.n_common * 10000 // p.n_sampled // 1000 AS INT)
           END AS boilerplate_decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(p.n_sampled), 0) AS BIGINT)
             AS total_sampled_shingles
    FROM (SELECT doc_id FROM documents) a
    LEFT JOIN per_doc p USING (doc_id)
    GROUP BY 1 ORDER BY 1
    """,
    doc="Boilerplate-share histogram at monitor cadence: per doc, the "
    "fraction of its HASH-SAMPLED (h % 16 == 0) distinct 5-gram shingles "
    "seen in 2+ documents, rolled into the q177 deciles plus a -1 bucket "
    "for docs with no sampled shingle. Sampling by shingle identity "
    "keeps the kept shingles' doc-frequencies exact, so the estimate is "
    "unbiased per doc with 1/16 the corpus-keyed exchange of the exact "
    "q177 audit; q182 quantifies the decile drift.",
)
def q181_boilerplate_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.dedup import (
        sampled_shingle_boilerplate,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    per_doc = sampled_shingle_boilerplate(documents)
    return (
        documents.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .groupBy(
            F.when(F.col("n_sampled").isNull(), F.lit(-1))
            .otherwise(
                F.expr(
                    "cast(n_common * 10000 div n_sampled div 1000 as int)"
                )
            )
            .cast("int")
            .alias("boilerplate_decile")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum("n_sampled"), F.lit(0))
            .cast("bigint")
            .alias("total_sampled_shingles"),
        )
        .orderBy("boilerplate_decile")
    )


@register(
    "q182_boilerplate_sample_error",
    # The audit-cadence error report for q181 (the q176 role): per doc,
    # the EXACT boilerplate decile (q177's corpus-sized pipeline) against
    # the SAMPLED decile (q181's estimator), rolled into a decile-pair
    # confusion matrix — bounded <= 12x11 rows at any corpus size. A mass
    # off the diagonal says the 1/16 sample is too thin for the corpus's
    # doc-length distribution (raise the sample rate); the -1 column
    # counts docs the monitor cannot see at all.
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    edf AS (SELECT h, COUNT(*) AS d FROM sh GROUP BY 1),
    exact_doc AS (
      SELECT sh.doc_id, COUNT(*) AS n_sh,
             SUM(CASE WHEN edf.d >= 2 THEN 1 ELSE 0 END) AS n_c
      FROM sh JOIN edf USING (h) GROUP BY 1
    ),
    samp AS (SELECT doc_id, h FROM sh WHERE h % 16 = 0),
    sdf AS (SELECT h, COUNT(*) AS d FROM samp GROUP BY 1),
    samp_doc AS (
      SELECT s.doc_id, COUNT(*) AS n_s,
             SUM(CASE WHEN sdf.d >= 2 THEN 1 ELSE 0 END) AS n_cs
      FROM samp s JOIN sdf USING (h) GROUP BY 1
    )
    SELECT CAST(e.n_c * 10000 // e.n_sh // 1000 AS INT) AS exact_decile,
           CASE WHEN s.n_s IS NULL THEN -1
                ELSE CAST(s.n_cs * 10000 // s.n_s // 1000 AS INT)
           END AS sampled_decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM exact_doc e LEFT JOIN samp_doc s USING (doc_id)
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc="Sampling-error audit for the q181 monitor: exact boilerplate "
    "decile (q177 pipeline) vs sampled decile per doc, rolled into a "
    "bounded decile-pair confusion matrix. The q170->q172->q176 "
    "discipline applied to the sampling estimator: the monitor is only "
    "trusted because this audit-cadence query measures its drift.",
)
def q182_boilerplate_sample_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from salesanalytics_etl_spark.operators.dedup import (
        md5_token_hash,
        sampled_shingle_boilerplate,
        shingle_rows,
    )

    from pyspark.sql import Window

    (documents,) = _t(spark, sf_dir, "documents")
    sh = (
        shingle_rows(documents)
        .select("doc_id", md5_token_hash(F.col("sh")).alias("h"))
        .distinct()
    )
    # window-count doc frequency — q177's r16 shape (one h exchange,
    # sh consumed once); values identical. Same skew caveat as q177:
    # a near-ubiquitous shingle is one unsplittable window task (no
    # map-side combine, no AQE skew split) — bounded by |docs| rows via
    # the upstream distinct; pre-split h two-level if that bound bites.
    exact_doc = (
        sh.withColumn(
            "d", F.count(F.lit(1)).over(Window.partitionBy("h"))
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum(F.when(F.col("d") >= 2, 1).otherwise(0)).alias("n_c"),
        )
    )
    samp_doc = sampled_shingle_boilerplate(documents)
    return (
        exact_doc.join(samp_doc, "doc_id", "left")
        .groupBy(
            F.expr("cast(n_c * 10000 div n_sh div 1000 as int)").alias(
                "exact_decile"
            ),
            F.when(F.col("n_sampled").isNull(), F.lit(-1))
            .otherwise(
                F.expr(
                    "cast(n_common * 10000 div n_sampled div 1000 as int)"
                )
            )
            .cast("int")
            .alias("sampled_decile"),
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("exact_decile", "sampled_decile")
    )


@register(
    "q183_sampled_neardup_replay",
    # The r12 verdict's sampled-sub-corpus gate made first-class: DuckDB
    # cannot replay the full MinHash+LSH pipeline at 10x/30x probe volume
    # (>79 GB temp spill, measured — SCALE.md Round-12 addendum), so the
    # full-pipeline VALUE gate at probe volume runs on a DETERMINISTIC
    # 5% doc sample (md5('sample-'||doc_id) % 100 < 5 — salt distinct
    # from q51's split hash so the sample is independent of splits).
    # Registering the sampled pipeline as its own query means the SAME
    # surface gates at sf0.01 in the driver window AND at 30x in
    # SCALE.md, with the unsampled q109 remaining the full-corpus record.
    # Output is a fixed 1-row summary, so the row stays comparable at
    # any volume.
    oracle=r"""
    WITH docs AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      FROM documents
      WHERE CAST(('0x' || substr(md5('sample-' || CAST(doc_id AS VARCHAR)),
                                 1, 6)) AS INT) % 100 < 5
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             CAST(('0x' || substr(md5(substr(t, CAST(i AS INTEGER), 5)),
                                  1, 15)) AS BIGINT) AS h
      FROM docs, UNNEST(range(1, GREATEST(len(t) - 4, 1) + 1)) AS u(i)
    ),
    perms AS (
      SELECT i, CAST(('0x' || substr(md5('perm-' || i), 1, 15)) AS BIGINT) AS a
      FROM (SELECT unnest(range(0, 32)) AS i)
    ),
    sigvals AS (
      SELECT s.doc_id, p.i, MIN(xor(s.h, p.a)) AS mh
      FROM sh s CROSS JOIN perms p
      GROUP BY s.doc_id, p.i
    ),
    banded AS (
      SELECT doc_id, i // 5 AS band_id,
             md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)) AS band_key
      FROM sigvals WHERE i < 30
      GROUP BY doc_id, i // 5
    ),
    bsize AS (SELECT band_id, band_key, COUNT(*) AS m FROM banded GROUP BY 1, 2),
    member AS (
      SELECT b.doc_id, b.band_id, b.band_key
      FROM banded b JOIN bsize s USING (band_id, band_key)
      WHERE s.m BETWEEN 2 AND 64
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM member x JOIN member y USING (band_id, band_key)
      WHERE x.doc_id < y.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
    ovl AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS ov
      FROM cand c JOIN sh a ON a.doc_id = c.doc_a
                  JOIN sh b ON b.doc_id = c.doc_b AND b.h = a.h
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT FLOOR(CAST(COALESCE(o.ov, 0) AS DOUBLE)
                   / (sa.sz + sb.sz - COALESCE(o.ov, 0))
                   * 10000.0 + 0.5) / 10000.0 AS jaccard
      FROM cand c
      LEFT JOIN ovl o USING (doc_a, doc_b)
      JOIN sizes sa ON sa.doc_id = c.doc_a
      JOIN sizes sb ON sb.doc_id = c.doc_b
      WHERE COALESCE(o.ov, 0) * 10000
            >= 5000 * (sa.sz + sb.sz - COALESCE(o.ov, 0))
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM docs) AS n_docs_sampled,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COALESCE(SUM(CAST(ROUND(jaccard * 10000, 0) AS INT)), 0)
                AS BIGINT) AS sum_jaccard_bp
    FROM pairs
    """,
    doc="The q109 portable MinHash+LSH pipeline on a deterministic 5% "
    "doc sample (md5 salt 'sample-', independent of the q51 split hash), "
    "summarized to one fixed row (docs, verified pairs, summed Jaccard "
    "bp). Exists so the FULL approximate pipeline value-gates at probe "
    "volumes where DuckDB cannot replay the unsampled corpus (measured "
    ">79 GB spill at 10x/30x) — the SCALE.md 30x gate runs this exact "
    "registered surface.",
)
def q183_sampled_neardup_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from salesanalytics_etl_spark.operators.dedup import (
        minhash_near_dupes_portable,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    sampled = documents.filter(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("sample-"), F.col("doc_id").cast("string")
                    )
                ),
                1,
                6,
            ),
            16,
            10,
        ).cast("int")
        % 100
        < 5
    )
    pairs = minhash_near_dupes_portable(sampled)
    summary = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.coalesce(
            F.sum(F.round(F.col("jaccard") * 10000, 0).cast("int")),
            F.lit(0),
        )
        .cast("bigint")
        .alias("sum_jaccard_bp"),
    )
    n_docs = sampled.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs_sampled")
    )
    # 1-row x 1-row broadcast combine (BroadcastNestedLoopJoin, never a
    # CartesianProduct over data-sized inputs)
    return n_docs.join(F.broadcast(summary), F.lit(True), "inner").select(
        "n_docs_sampled", "n_pairs", "sum_jaccard_bp"
    )


@register(
    "q184_source_surprisal_drift",
    # Per-source LM-quality drift: the q104 per-doc unigram cross-entropy
    # (the CCNet-style perplexity proxy) rolled to SOURCE grain — the
    # quality counterpart of q174 (length PSI) and q179 (lang-source MI)
    # in the source-monitoring family. A source whose mean bits/token
    # drifts up is degrading (boilerplate stripped? OCR noise? spam).
    # Exactness: bits_per_token is already floor-rounded to 4dp on both
    # engines (q104's contract), so bits_bp = ROUND(x*10000) is
    # integer-valued EXACTLY; both means are integer division of BIGINT
    # sums — order-insensitive, engine-portable, no doubles cross the
    # gate. Scale: per-doc table is corpus-sized but the rollup is keyed
    # by source (bounded); one exchange on doc_id (the q104 join), one
    # on source.
    oracle=r"""
    WITH nn AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(regexp_replace(text, '([぀-ヿ㐀-䶿一-鿿가-힯])', ' \1 ', 'g')), '\s+', ' ', 'g')),
                          ' ') AS w
      FROM documents
    ), tok AS (
      SELECT doc_id, t.term FROM nn, UNNEST(w) AS t(term)
      WHERE length(t.term) > 0
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
    ), vocab AS (
      SELECT term, SUM(tf) AS ctf FROM tf GROUP BY term
    ), tot AS (
      SELECT SUM(ctf) AS n FROM vocab
    ), bits AS (
      SELECT term,
             CAST(ROUND(log2(n) - log2(ctf), 6) AS DECIMAL(18,6)) AS bits
      FROM vocab, tot
    ), per_doc AS (
      SELECT doc_id, SUM(tf) AS n_tokens, SUM(tf * bits) AS s
      FROM tf JOIN bits USING (term) GROUP BY doc_id
    ), scored AS (
      SELECT doc_id, n_tokens,
             CAST(ROUND(FLOOR(CAST(s AS DOUBLE) / n_tokens * 10000.0 + 0.5),
                        0) AS BIGINT) AS bits_bp
      FROM per_doc
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(sc.n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(sc.bits_bp) // COUNT(*) AS BIGINT) AS mean_doc_bits_bp,
           CAST(SUM(sc.n_tokens * sc.bits_bp) // SUM(sc.n_tokens) AS BIGINT)
             AS mean_token_bits_bp
    FROM scored sc JOIN documents d USING (doc_id)
    GROUP BY 1 ORDER BY 1
    """,
    doc="Per-source mean unigram surprisal (doc-mean and token-weighted "
    "mean, integer basis points of bits/token): the q104 quality score "
    "at source-monitor grain. Composes the corpus's own unigram LM; all "
    "emitted statistics are integer division of exact BIGINT sums, so "
    "the gate sees no engine-native double rounding.",
)
def q184_source_surprisal_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from salesanalytics_etl_spark.operators.text import unigram_surprisal

    (documents,) = _t(spark, sf_dir, "documents")
    us = unigram_surprisal(documents)
    scored = us.select(
        "doc_id",
        "n_tokens",
        # bits_per_token is FLOOR(x*1e4+0.5)/1e4 on both engines, so
        # *10000 is integer-valued up to an ulp; ROUND before the cast
        # (the q176 exact_bp idiom)
        F.round(F.col("bits_per_token") * 10000, 0)
        .cast("bigint")
        .alias("bits_bp"),
    )
    return (
        scored.join(documents.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.expr("sum(bits_bp) div count(1)")
            .cast("bigint")
            .alias("mean_doc_bits_bp"),
            F.expr("sum(n_tokens * bits_bp) div sum(n_tokens)")
            .cast("bigint")
            .alias("mean_token_bits_bp"),
        )
        .orderBy("source")
    )


@register(
    "q185_cms_user_frequency_audit",
    # Count-min sketch certification on the domain CMS is FOR — skewed
    # per-key frequency (heavy users), where the top keys stand above
    # the eps*N collision noise — with the exact recount beside it (the
    # q110-HLL pattern applied to frequency estimation). The sketch is
    # d x w = 4 x 2048 counter rows built with md5-derived xor-mask
    # hash rows, so DuckDB rebuilds the IDENTICAL counters and the
    # driver hash-checks the sketch itself; estimates are one-sided
    # (never under the exact count). At 100 TB the exact side runs at
    # audit cadence; the sketch side's exchange is bounded at d*w rows
    # regardless of event volume, and (i, b) counters merge by SUM — the
    # same groupBy IS the multi-shard/streaming merge.
    oracle=r"""
    WITH ev AS (
      SELECT user_id,
             CAST(('0x' || substr(md5('u-' || CAST(user_id AS VARCHAR)),
                                  1, 15)) AS BIGINT) AS h
      FROM events
    ),
    seeds AS (
      SELECT i, CAST(('0x' || substr(md5('cms-' || i), 1, 15)) AS BIGINT) AS a
      FROM (SELECT unnest(range(0, 4)) AS i)
    ),
    cms AS (
      SELECT s.i AS i, xor(ev.h, s.a) % 2048 AS b, COUNT(*) AS c
      FROM ev CROSS JOIN seeds s GROUP BY 1, 2
    ),
    exact AS (
      SELECT user_id, ANY_VALUE(h) AS h, COUNT(*) AS n_events
      FROM ev GROUP BY 1
    ),
    top AS (SELECT * FROM exact ORDER BY n_events DESC, user_id LIMIT 10),
    est AS (
      SELECT t.user_id, t.n_events, MIN(c.c) AS dhat
      FROM top t CROSS JOIN seeds s
      JOIN cms c ON c.i = s.i AND c.b = xor(t.h, s.a) % 2048
      GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(dhat AS BIGINT) AS cms_estimate,
           CAST(dhat - n_events AS BIGINT) AS cms_err
    FROM est ORDER BY n_events DESC, user_id
    """,
    doc="Top-10 heaviest users by exact event count, with the count-min "
    "sketch estimate and its (one-sided) error beside them: certifies "
    "operators/sketches.py cms_build/cms_lookup bit-for-bit against an "
    "independent engine on the skewed-frequency domain CMS is designed "
    "for (q101's Misra-Gries is the per-key TOP-K sketch; CMS answers "
    "point queries for ANY key with bounded memory). Total order "
    "(n_events DESC, user_id) — ties broken.",
)
def q185_cms_user_frequency_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from salesanalytics_etl_spark.operators.dedup import md5_token_hash
    from salesanalytics_etl_spark.operators.sketches import (
        cms_build,
        cms_lookup,
    )

    (events,) = _t(spark, sf_dir, "events")
    hashed = events.select(
        "user_id",
        md5_token_hash(
            F.concat(F.lit("u-"), F.col("user_id").cast("string"))
        ).alias("h"),
    )
    cms = cms_build(hashed, "h")
    top = (
        hashed.groupBy("user_id")
        .agg(F.first("h").alias("h"), F.count(F.lit(1)).alias("n_events"))
        .orderBy(F.desc("n_events"), "user_id")
        .limit(10)
    )
    return (
        cms_lookup(top, cms, "h", out_col="dhat")
        .select(
            "user_id",
            F.col("n_events").cast("bigint").alias("n_events"),
            F.col("dhat").cast("bigint").alias("cms_estimate"),
            (F.col("dhat") - F.col("n_events"))
            .cast("bigint")
            .alias("cms_err"),
        )
        .orderBy(F.desc("n_events"), "user_id")
    )


# ---------------------------------------------------------------------------
# Edit-noise near-dup audits (q186/q187) — r12 verdict gap #2: the scale
# probes replicate text EXACTLY, so LSH/SimHash recall had only ever been
# measured in the degenerate-duplicate regime. These audit the operators
# on a deterministic small-edit variant corpus (operators/editnoise.py).
# The oracle strings are GENERATED (64 min-aggregates / 126 vote sums are
# mechanical), from the same md5-derived constants the Spark side uses.
# ---------------------------------------------------------------------------


def _editnoise_base_sql(edits: str = "drop") -> str:
    """Shared oracle CTEs: sampled docs -> deterministic edit-noise
    variant -> (doc_id, side, txt) rows. Mirrors editnoise_pairs/_sided
    exactly (same salts, same 1-based positions, same '' for the
    all-tokens-dropped edge via LEFT JOIN + COALESCE). ``edits='mixed'``
    mirrors perturbed_text's mixed mode: md5 tag (salt 'mix') % 30 picks
    0 delete / 1 replace / 2 insert-after / else keep, with the synthetic
    token = substr(md5('ins-mix-'||doc_id||'-'||i), 1, 8).

    Every modulus and salt is f-string-derived from the SAME module
    constants the Spark side reads (DROP_MOD/SAMPLE_MOD — r14 ADVICE):
    a caller registering a non-default rate cannot silently diverge
    from its oracle."""
    from salesanalytics_etl_spark.operators.editnoise import (
        DROP_MOD,
        N_SEGMENTS,
        SAMPLE_MOD,
    )

    head = rf"""
    WITH base AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      FROM documents
      WHERE CAST(('0x' || substr(md5('editsample-' || CAST(doc_id AS VARCHAR)),
                                 1, 6)) AS INT) % {SAMPLE_MOD} = 0
    ),
    w AS (SELECT doc_id, t, string_split(t, ' ') AS wl FROM base),"""
    if edits == "drop":
        mid = rf"""
    kept AS (
      SELECT doc_id, i, wl[CAST(i AS INTEGER)] AS tok
      FROM w, UNNEST(range(1, len(wl) + 1)) AS u(i)
      WHERE CAST(('0x' || substr(md5('edit-' || CAST(doc_id AS VARCHAR)
                                 || '-' || CAST(i AS VARCHAR)),
                                 1, 6)) AS INT) % {DROP_MOD} != 0
    ),
    vtab AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS v
      FROM kept GROUP BY doc_id
    ),"""
    elif edits == "reorder":
        # segment permutation: token i (1-based) belongs to segment
        # ((i-1)*N_SEGMENTS) // n; segments are reordered by the md5 of
        # 'ro-'||doc_id||'-seg-'||seg (60-bit prefix, the portable hash
        # family), tokens within a segment keep original order — exactly
        # perturbed_text's array_sort((segkey, i, tok)) projection
        mid = rf"""
    kept AS (
      SELECT doc_id, i, wl[CAST(i AS INTEGER)] AS tok,
             CAST(('0x' || substr(md5('ro-' || CAST(doc_id AS VARCHAR)
                   || '-seg-'
                   || CAST(((i - 1) * {N_SEGMENTS}) // len(wl) AS VARCHAR)),
                   1, 15)) AS BIGINT) AS segkey
      FROM w, UNNEST(range(1, len(wl) + 1)) AS u(i)
    ),
    vtab AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY segkey, i) AS v
      FROM kept GROUP BY doc_id
    ),"""
    else:
        assert edits == "mixed", edits
        mid = rf"""
    kept AS (
      SELECT doc_id, i,
             CASE CAST(('0x' || substr(md5('mix-' || CAST(doc_id AS VARCHAR)
                                       || '-' || CAST(i AS VARCHAR)),
                                       1, 6)) AS INT) % {3 * DROP_MOD}
               WHEN 0 THEN NULL
               WHEN 1 THEN substr(md5('ins-mix-' || CAST(doc_id AS VARCHAR)
                                      || '-' || CAST(i AS VARCHAR)), 1, 8)
               WHEN 2 THEN wl[CAST(i AS INTEGER)] || ' '
                           || substr(md5('ins-mix-' || CAST(doc_id AS VARCHAR)
                                         || '-' || CAST(i AS VARCHAR)), 1, 8)
               ELSE wl[CAST(i AS INTEGER)] END AS frag
      FROM w, UNNEST(range(1, len(wl) + 1)) AS u(i)
    ),
    vtab AS (
      SELECT doc_id, string_agg(frag, ' ' ORDER BY i) AS v
      FROM kept WHERE frag IS NOT NULL GROUP BY doc_id
    ),"""
    return head + mid + r"""
    pairs AS (
      SELECT b.doc_id, b.t, COALESCE(vt.v, '') AS v
      FROM base b LEFT JOIN vtab vt USING (doc_id)
    ),
    sided AS (
      SELECT doc_id, 'o' AS side, t AS txt FROM pairs
      UNION ALL
      SELECT doc_id, 'v' AS side, v AS txt FROM pairs
    )"""


def _editnoise_lsh_oracle(edits: str = "drop") -> str:
    from salesanalytics_etl_spark.operators.dedup import (
        N_BANDS,
        N_HASHES,
        ROWS_PER_BAND,
        _portable_perm_constants,
    )

    perms = _portable_perm_constants()
    sig_cols = ",\n             ".join(
        f"MIN(CASE WHEN side = 'o' THEN xor(h, {perms[i]}) END) AS o{i},\n"
        f"             "
        f"MIN(CASE WHEN side = 'v' THEN xor(h, {perms[i]}) END) AS v{i}"
        for i in range(N_HASHES)
    )
    match_sum = " + ".join(
        f"CASE WHEN o{i} = v{i} THEN 1 ELSE 0 END" for i in range(N_HASHES)
    )
    band_sum = " + ".join(
        "CASE WHEN "
        + " AND ".join(
            f"o{i} = v{i}"
            for i in range(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND)
        )
        + " THEN 1 ELSE 0 END"
        for b in range(N_BANDS)
    )
    return (
        _editnoise_base_sql(edits)
        + f""",
    ex AS (
      -- sub-gram-length sides emit EMPTY sets (range(1, <=1) is empty;
      -- no phantom truncated gram — r13 ADVICE)
      SELECT doc_id, side,
             CAST(('0x' || substr(md5(substr(txt, CAST(i AS INTEGER), 5)),
                                  1, 15)) AS BIGINT) AS h
      FROM sided, UNNEST(range(1, GREATEST(len(txt) - 4, 0) + 1)) AS u(i)
    ),
    sigs AS (
      SELECT doc_id,
             {sig_cols}
      FROM ex GROUP BY doc_id
    ),
    sigstats AS (
      SELECT doc_id, ({match_sum}) AS match_cnt, ({band_sum}) AS band_hits
      FROM sigs
    ),
    shd AS (SELECT DISTINCT doc_id, side, h FROM ex),
    perh AS (
      SELECT doc_id, h,
             MAX(CASE WHEN side = 'o' THEN 1 ELSE 0 END) AS in_o,
             MAX(CASE WHEN side = 'v' THEN 1 ELSE 0 END) AS in_v
      FROM shd GROUP BY doc_id, h
    ),
    stats AS (
      SELECT doc_id,
             CAST(SUM(in_o) AS BIGINT) AS sz_o,
             CAST(SUM(in_v) AS BIGINT) AS sz_v,
             CAST(SUM(in_o * in_v) AS BIGINT) AS ov
      FROM perh GROUP BY doc_id
    ),
    per AS (
      SELECT s.doc_id,
             (ov * 20000 + (sz_o + sz_v - ov))
               // (2 * (sz_o + sz_v - ov)) AS j_bp,
             (CAST(match_cnt AS BIGINT) * 20000 + {N_HASHES})
               // {2 * N_HASHES} AS est_bp,
             band_hits
      FROM stats s JOIN sigstats g USING (doc_id)
    )
    SELECT CAST(LEAST(j_bp // 1000, 9) AS INTEGER) AS j_decile,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN band_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_band_hit,
           CAST(SUM(band_hits) AS BIGINT) AS sum_band_hits,
           CAST(SUM(j_bp) AS BIGINT) AS sum_exact_bp,
           CAST(SUM(est_bp) AS BIGINT) AS sum_est_bp,
           CAST((SUM(CASE WHEN band_hits > 0 THEN 1 ELSE 0 END) * 20000
                 + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS recall_bp
    FROM per
    GROUP BY 1"""
    )


def _editnoise_simhash_oracle(edits: str = "drop") -> str:
    chunk_terms = ",\n               ".join(
        f"CASE WHEN ((so >> {16 * c}) & 65535)"
        f" = ((sv >> {16 * c}) & 65535) THEN 1 ELSE 0 END"
        for c in range(4)
    )
    return (
        _editnoise_base_sql(edits)
        + rf""",
    toks AS (
      SELECT DISTINCT doc_id, side,
             unnest(string_split(trim(regexp_replace(lower(regexp_replace(txt, '([぀-ヿ㐀-䶿一-鿿가-힯])', ' \1 ', 'g')), '\s+', ' ', 'g')), ' ')) AS tok
      FROM sided
    ),
    th AS (
      SELECT doc_id, side,
             CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
      FROM toks
    ),
    votes AS (
      SELECT doc_id, b.b AS b,
             SUM(CASE WHEN side = 'o' THEN
                   CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END END) AS vo,
             SUM(CASE WHEN side = 'v' THEN
                   CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END END) AS vv
      FROM th CROSS JOIN (SELECT unnest(range(0, 63)) AS b) b
      GROUP BY doc_id, b.b
    ),
    sigs AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN vo > 0 THEN (1::BIGINT << b)
                           ELSE 0::BIGINT END) AS BIGINT) AS so,
             CAST(SUM(CASE WHEN vv > 0 THEN (1::BIGINT << b)
                           ELSE 0::BIGINT END) AS BIGINT) AS sv
      FROM votes GROUP BY doc_id
    ),
    per AS (
      SELECT doc_id,
             CAST(bit_count(xor(so, sv)) AS INTEGER) AS hamming,
             GREATEST(
               {chunk_terms}
             ) AS chunk_hit
      FROM sigs
    )
    SELECT hamming,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(chunk_hit) AS BIGINT) AS n_chunk_hit
    FROM per
    GROUP BY hamming"""
    )


@register(
    "q186_editnoise_lsh_recall",
    oracle=_editnoise_lsh_oracle(),
    doc="LSH recall S-curve measured on REALISTIC near-duplicates: a "
    "deterministic ~10%-token-drop variant of each sampled doc (25%, "
    "md5 'editsample-' salt), then per (orig, variant) pair the exact "
    "5-gram Jaccard, the 32-hash MinHash estimate, and the 6x5 "
    "band-collision count — rolled to a <=10-row per-decile recall "
    "histogram. Every join is doc-keyed (linear, no candidate "
    "self-join), so the oracle replays it even at probe volumes where "
    "the full q109 pipeline spills DuckDB out (SCALE.md Round-12). "
    "Closes the r12 verdict's degenerate-duplicate probe gap; the "
    "reference has no near-dup audit at all "
    "(etl_sales_analytics.py:302-330 is exact row-dedup only).",
)
def q186_editnoise_lsh_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from salesanalytics_etl_spark.operators.editnoise import (
        editnoise_lsh_audit,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    return editnoise_lsh_audit(documents)


@register(
    "q187_editnoise_simhash",
    oracle=_editnoise_simhash_oracle(),
    doc="SimHash under the same small-edit noise corpus as q186: "
    "Hamming-distance histogram of (orig, variant) 63-bit signatures "
    "plus the 16-bit-chunk pigeonhole hit count (q26's candidate event "
    "— guaranteed for Hamming<=3, measured here for the realistic "
    "tail). Portable md5 token hash, q26's CJK-aware tokenizer; one "
    "doc-keyed 126-vote aggregation, no pair join, <=64 output rows.",
)
def q187_editnoise_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.editnoise import (
        editnoise_simhash_audit,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    return editnoise_simhash_audit(documents)


@register(
    "q188_int8_quantization_audit",
    # Every gate-surface number except the two 6dp cosines is an EXACT
    # integer: the int8 codes are floor(x*127/m + .5) clamps whose
    # expression shape matches token-for-token on both engines (IEEE
    # ops are correctly rounded -> bit-identical codes), and the dot/
    # norm sums are bigint. The float cosine rides q27's proven
    # ROUND(...,6) form; the quantized cosine uses the midpoint-safe
    # floor formula.
    oracle=r"""
    WITH vecs AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    mx AS (
      SELECT vec_id, emb,
             list_max(list_transform(emb, x -> abs(x))) AS m
      FROM vecs
    ),
    qv AS (
      SELECT vec_id,
             CASE WHEN m = 0 THEN list_transform(emb, x -> 0::BIGINT)
                  ELSE list_transform(emb, x ->
                    CAST(GREATEST(LEAST(FLOOR(x * 127.0 / m + 0.5),
                                        127.0), -127.0) AS BIGINT))
             END AS q
      FROM mx
    ),
    nq AS (
      SELECT vec_id,
             CAST(SUM(q[CAST(i AS INTEGER)] * q[CAST(i AS INTEGER)])
                  AS BIGINT) AS n2
      FROM qv, UNNEST(range(1, len(q) + 1)) AS u(i)
      GROUP BY vec_id
    ),
    gt AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])),
                   6) AS cosine_sim
      FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
      WHERE q.vec_id < 10
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY q.vec_id
        ORDER BY ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                              CAST(c.embedding AS DOUBLE[])),
                       6) DESC,
                 c.vec_id) <= 5
    ),
    gtq AS (
      SELECT g.query_id, g.neighbor_id, g.cosine_sim,
             a.q AS qa, b.q AS qb
      FROM gt g JOIN qv a ON a.vec_id = g.query_id
                JOIN qv b ON b.vec_id = g.neighbor_id
    ),
    qd AS (
      SELECT query_id, neighbor_id, cosine_sim,
             CAST(SUM(qa[CAST(i AS INTEGER)] * qb[CAST(i AS INTEGER)])
                  AS BIGINT) AS qdot
      FROM gtq, UNNEST(range(1, len(qa) + 1)) AS u(i)
      GROUP BY 1, 2, 3
    ),
    joined AS (
      SELECT d.query_id, d.neighbor_id, d.cosine_sim, d.qdot,
             na.n2 AS qnorm2_q, nb.n2 AS qnorm2_n,
             FLOOR(CAST(d.qdot AS DOUBLE)
                   / sqrt(CAST(na.n2 * nb.n2 AS DOUBLE))
                   * 1000000.0 + 0.5) / 1000000.0 AS quant_cosine
      FROM qd d JOIN nq na ON na.vec_id = d.query_id
                JOIN nq nb ON nb.vec_id = d.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine_sim, qdot, qnorm2_q, qnorm2_n,
           quant_cosine,
           CAST(FLOOR(ABS(quant_cosine - cosine_sim) * 10000.0 + 0.5)
                AS INTEGER) AS err_bp
    FROM joined
    """,
    doc="int8-quantization fidelity audit over the exact ANN ground "
    "truth: per (query, true-top-5-neighbor) pair, the exact integer "
    "dot product and squared norms of the symmetric int8 codes "
    "(floor(x*127/max|x| + .5), clamped), the quantized cosine "
    "(floor-6dp), and its error vs the float cosine in bp — the check "
    "a 100 TB ANN deployment runs before switching scoring to int8 "
    "SIMD kernels. Corpus scanned once map-side (GT x quantized "
    "queries broadcast); 50 output rows. Rides q27's checkpointed "
    "brute-force frame.",
)
def q188_int8_quantization_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from salesanalytics_etl_spark.operators.similarity import (
        quantization_error_audit,
    )

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    queries = embeddings.filter(F.col("vec_id") < 10)
    return quantization_error_audit(embeddings, queries, k=5)


def _editnoise_winnow_oracle(edits: str = "drop") -> str:
    return (
        _editnoise_base_sql(edits)
        + r""",
    ex AS (
      -- sub-gram-length sides emit EMPTY sets (r13 ADVICE; see q186)
      SELECT doc_id, side,
             CAST(('0x' || substr(md5(substr(txt, CAST(i AS INTEGER), 5)),
                                  1, 15)) AS BIGINT) AS h
      FROM sided, UNNEST(range(1, GREATEST(len(txt) - 4, 0) + 1)) AS u(i)
    ),
    shd AS (SELECT DISTINCT doc_id, side, h FROM ex),
    perh AS (
      SELECT doc_id, h,
             MAX(CASE WHEN side = 'o' THEN 1 ELSE 0 END) AS in_o,
             MAX(CASE WHEN side = 'v' THEN 1 ELSE 0 END) AS in_v
      FROM shd GROUP BY doc_id, h
    ),
    stats AS (
      SELECT doc_id,
             CAST(SUM(in_o) AS BIGINT) AS sz_o,
             CAST(SUM(in_v) AS BIGINT) AS sz_v,
             CAST(SUM(in_o * in_v) AS BIGINT) AS ov
      FROM perh GROUP BY doc_id
    ),
    ej AS (
      SELECT doc_id,
             (ov * 20000 + (sz_o + sz_v - ov))
               // (2 * (sz_o + sz_v - ov)) AS j_bp
      FROM stats
    ),
    wh AS (
      SELECT doc_id, side, CAST(i AS INTEGER) AS i,
             CAST(('0x' || substr(md5(substr(txt, CAST(i AS INTEGER), 8)),
                                  1, 15)) AS BIGINT) AS kh
      FROM sided, UNNEST(range(1, GREATEST(len(txt) - 7, 0) + 1)) AS u(i)
    ),
    wmin AS (
      SELECT doc_id, side,
             MIN(kh) OVER (PARTITION BY doc_id, side ORDER BY i
                           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
      FROM wh
    ),
    wfp AS (SELECT DISTINCT doc_id, side, fp FROM wmin),
    wper AS (
      SELECT doc_id, fp,
             MAX(CASE WHEN side = 'o' THEN 1 ELSE 0 END) AS in_o,
             MAX(CASE WHEN side = 'v' THEN 1 ELSE 0 END) AS in_v
      FROM wfp GROUP BY doc_id, fp
    ),
    wstats AS (
      SELECT doc_id,
             CAST(SUM(in_o) AS BIGINT) AS sz_o,
             CAST(SUM(in_v) AS BIGINT) AS sz_v,
             CAST(SUM(in_o * in_v) AS BIGINT) AS ov
      FROM wper GROUP BY doc_id
    ),
    wj AS (
      SELECT doc_id,
             (ov * 20000 + (sz_o + sz_v - ov))
               // (2 * (sz_o + sz_v - ov)) AS w_bp
      FROM wstats
    ),
    per AS (
      -- LEFT: a doc with >=1 5-gram but no 8-gram keeps w_bp = 0
      SELECT e.doc_id, e.j_bp, COALESCE(w.w_bp, 0) AS w_bp,
             CAST(LEAST(e.j_bp // 1000, 9) AS INTEGER) AS j_decile
      FROM ej e LEFT JOIN wj w USING (doc_id)
    )
    SELECT j_decile,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(j_bp) AS BIGINT) AS sum_exact_bp,
           CAST(SUM(w_bp) AS BIGINT) AS sum_winnow_bp,
           CAST(SUM(ABS(w_bp - j_bp)) AS BIGINT) AS sum_abs_gap_bp
    FROM per
    GROUP BY 1"""
    )


@register(
    "q189_editnoise_winnow_fidelity",
    oracle=_editnoise_winnow_oracle(),
    doc="Winnowing-fingerprint fidelity under the q186 edit-noise "
    "corpus: per (orig, variant) pair the Jaccard of the q60 winnowed "
    "fingerprint sets (8-gram md5 hashes, window-4 min, distinct) "
    "beside the exact 5-gram Jaccard, per-decile with the absolute "
    "gap — does the ~2/(w+1) winnowing sample PRESERVE similarity "
    "under realistic edits? Linear doc-keyed shape, windows at "
    "(doc, side) grain, <=10 output rows.",
)
def q189_editnoise_winnow_fidelity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from salesanalytics_etl_spark.operators.editnoise import (
        editnoise_winnow_audit,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    return editnoise_winnow_audit(documents)


@register(
    "q190_int8_topk_recall",
    # Ranking portability: the quantized score is qdot/sqrt(n2a*n2b)
    # where qdot/n2a/n2b are EXACT integers (bit-identical codes, see
    # q188) — both engines derive the same doubles through the same
    # expression shape, and ties break on neighbor_id, so the top-k
    # sets match exactly. Zero-norm corpus rows excluded on both sides.
    oracle=r"""
    WITH vecs AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    mx AS (
      SELECT vec_id, emb,
             list_max(list_transform(emb, x -> abs(x))) AS m
      FROM vecs
    ),
    qv AS (
      SELECT vec_id,
             CASE WHEN m = 0 THEN list_transform(emb, x -> 0::BIGINT)
                  ELSE list_transform(emb, x ->
                    CAST(GREATEST(LEAST(FLOOR(x * 127.0 / m + 0.5),
                                        127.0), -127.0) AS BIGINT))
             END AS q
      FROM mx
    ),
    qd AS (SELECT vec_id, list_transform(q, x -> CAST(x AS DOUBLE)) AS qd
           FROM qv),
    nq AS (
      SELECT vec_id, list_dot_product(qd, qd) AS n2 FROM qd
    ),
    gt AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
      WHERE q.vec_id < 10
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY q.vec_id
        ORDER BY ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                              CAST(c.embedding AS DOUBLE[])),
                       6) DESC,
                 c.vec_id) <= 5
    ),
    qtop AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id
      FROM qd a JOIN nq na ON na.vec_id = a.vec_id,
           qd b JOIN nq nb ON nb.vec_id = b.vec_id
      WHERE a.vec_id < 10 AND b.vec_id != a.vec_id
        AND na.n2 > 0 AND nb.n2 > 0
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY a.vec_id
        ORDER BY list_dot_product(a.qd, b.qd) / sqrt(na.n2 * nb.n2) DESC,
                 b.vec_id) <= 5
    ),
    ov AS (
      SELECT g.query_id, CAST(COUNT(t.neighbor_id) AS BIGINT) AS n_overlap
      FROM gt g LEFT JOIN qtop t
        ON t.query_id = g.query_id AND t.neighbor_id = g.neighbor_id
      GROUP BY g.query_id
    )
    SELECT query_id, n_overlap,
           CAST((n_overlap * 20000 + 5) // 10 AS INTEGER) AS recall_bp
    FROM ov
    """,
    doc="recall@5 of int8-quantized retrieval vs the exact float top-5 "
    "(q27's ground truth): the corpus is re-ranked per query by the "
    "quantized cosine (exact integer dot / sqrt of integer norm "
    "product, ties by neighbor_id) and the surviving overlap counted — "
    "the retrieval-level complement of q188's value-error audit. One "
    "corpus scan, broadcast queries, two-phase top-k; 10 output rows.",
)
def q190_int8_topk_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.similarity import (
        int8_topk_recall,
    )

    (embeddings,) = _t(spark, sf_dir, "embeddings")
    queries = embeddings.filter(F.col("vec_id") < 10)
    return int8_topk_recall(embeddings, queries, k=5)


@register(
    "q191_cluster_safe_split",
    # q178 measures cross-split near-dup leakage; this is the REPAIR:
    # split by the near-dup cluster id (q49's exact components on the
    # same bounded subset its oracle replays), so leakage is zero by
    # construction — and the query COMPUTES the leak count on both
    # engines rather than asserting it, plus the repair cost (docs
    # whose split moved vs naive q51).
    oracle=r"""
    WITH RECURSIVE n AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
      FROM documents WHERE doc_id < 250
    ), sh AS (
      SELECT doc_id, list(DISTINCT substr(norm, CAST(i AS INT), 5)) AS shingles
      FROM n, UNNEST(range(1, GREATEST(length(norm) - 3, 2))) AS t(i)
      GROUP BY doc_id
    ), edges AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE FLOOR(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.shingles, b.shingles)))
                  * 10000.0 + 0.5) / 10000.0 >= 0.5
    ), und AS (
      SELECT doc_a AS s, doc_b AS d FROM edges
      UNION SELECT doc_b, doc_a FROM edges
    ), reach(s, d) AS (
      SELECT s, d FROM und
      UNION
      SELECT r.s, u.d FROM reach r JOIN und u ON r.d = u.s
    ), cl AS (
      SELECT LEAST(s, MIN(d)) AS cluster_id, s AS doc_id
      FROM reach GROUP BY s
    ), base AS (
      SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS gkey
      FROM (SELECT doc_id FROM documents WHERE doc_id < 250) d
      LEFT JOIN cl c USING (doc_id)
    ), lab AS (
      SELECT doc_id, gkey,
             CASE WHEN CAST(('0x' || substr(md5(CAST(gkey AS VARCHAR)),
                                            1, 6)) AS INT) % 100 < 80
                    THEN 'train'
                  WHEN CAST(('0x' || substr(md5(CAST(gkey AS VARCHAR)),
                                            1, 6)) AS INT) % 100 < 90
                    THEN 'val' ELSE 'test' END AS s_safe,
             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                            1, 6)) AS INT) % 100 < 80
                    THEN 'train'
                  WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                            1, 6)) AS INT) % 100 < 90
                    THEN 'val' ELSE 'test' END AS s_naive
      FROM base
    ), leak AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS leak_pairs
      FROM cl a JOIN cl b
        ON a.cluster_id = b.cluster_id AND a.doc_id < b.doc_id
      JOIN lab la ON la.doc_id = a.doc_id
      JOIN lab lb ON lb.doc_id = b.doc_id
      WHERE la.s_safe != lb.s_safe
    )
    SELECT s_safe AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN s_safe != s_naive THEN 1 ELSE 0 END)
                AS BIGINT) AS n_moved,
           (SELECT leak_pairs FROM leak) AS leak_pairs
    FROM lab
    GROUP BY 1
    """,
    doc="leakage-free train/val/test split: q51's 80/10/10 content-hash "
    "assignment applied to the near-dup CLUSTER id (q49's exact "
    "components, same bounded subset as its oracle), so every cluster "
    "lands whole in one split. Emits per-split doc counts, the repair "
    "cost (docs moved vs naive q51), and the COMPUTED cross-split "
    "cluster-pair leak count (zero by construction, verified not "
    "asserted). The repair twin of q178's leakage metric.",
)
def q191_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.curation import (
        cluster_safe_split,
    )
    from salesanalytics_etl_spark.plans.extensions import _exact_clusters

    (documents,) = _t(spark, sf_dir, "documents")
    docs = documents.filter(F.col("doc_id") < 250)
    clusters = _exact_clusters(spark, sf_dir)
    per_doc = cluster_safe_split(docs, clusters)
    grouped = per_doc.groupBy(F.col("split")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("moved").cast("bigint").alias("n_moved"),
    )
    # leakage counted over CLUSTER co-membership pairs (the transitive
    # closure, incl. each cluster's min-id representative), exactly as
    # the oracle's cl-table self-join does
    lab = per_doc.select("doc_id", "split")
    ca = clusters.select(
        F.col("cluster_id").alias("c_a"), F.col("doc_id").alias("doc_a")
    )
    cb = clusters.select(
        F.col("cluster_id").alias("c_b"), F.col("doc_id").alias("doc_b")
    )
    leak = (
        ca.join(
            cb,
            (F.col("c_a") == F.col("c_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .join(
            lab.select(
                F.col("doc_id").alias("doc_a"),
                F.col("split").alias("sp_a"),
            ),
            "doc_a",
        )
        .join(
            lab.select(
                F.col("doc_id").alias("doc_b"),
                F.col("split").alias("sp_b"),
            ),
            "doc_b",
        )
        .filter(F.col("sp_a") != F.col("sp_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("leak_pairs"))
    )
    return grouped.join(F.broadcast(leak), F.lit(True), "inner").select(
        "split", "n_docs", "n_moved", "leak_pairs"
    )


def _bloom_decon_oracle(m_bits: int = 1 << 20, k_hashes: int = 7) -> str:
    """DuckDB twin of operators/sketches.py:bloom_decontaminate_audit on
    the q192 doc_id%50 benchmark/corpus split, f-string-parameterized by
    the SAME m_bits/k the Spark call passes (the r14-ADVICE constants
    discipline): the q200 resized row cannot drift from its oracle."""
    return rf"""
    WITH toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(regexp_replace(text, '([぀-ヿ㐀-䶿一-鿿가-힯])', ' \1 ', 'g')), '\s+', ' ', 'g')),
                          ' ') AS t
      FROM documents
    ), grams AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(array_to_string(t[i:i+12], ' ')),
                                  1, 15)) AS BIGINT) AS h
      FROM toks, UNNEST(range(1, len(t) - 11)) AS r(i)
      WHERE len(t) >= 13
    ),
    bench AS (SELECT DISTINCT h FROM grams WHERE doc_id % 50 = 0),
    corpus AS (
      SELECT DISTINCT doc_id, h FROM grams WHERE doc_id % 50 <> 0
    ),
    ks AS (SELECT unnest(range(0, {k_hashes})) AS i),
    fbits AS (
      SELECT DISTINCT
        CAST(('0x' || substr(md5(concat_ws('-', 'bloomd',
               CAST(i AS VARCHAR), CAST(h AS VARCHAR))), 1, 15))
             AS BIGINT) % {m_bits} AS pos
      FROM bench, ks
    ),
    ppos AS (
      SELECT doc_id, h,
        CAST(('0x' || substr(md5(concat_ws('-', 'bloomd',
               CAST(i AS VARCHAR), CAST(h AS VARCHAR))), 1, 15))
             AS BIGINT) % {m_bits} AS pos
      FROM corpus, ks
    ),
    bhit AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_id, h FROM ppos JOIN fbits USING (pos)
        GROUP BY doc_id, h HAVING COUNT(*) = {k_hashes}
      )
    ),
    ehit AS (SELECT DISTINCT c.doc_id FROM corpus c JOIN bench b USING (h)),
    docs AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0),
    fl AS (
      SELECT d.doc_id,
             CASE WHEN bh.doc_id IS NOT NULL THEN 1 ELSE 0 END AS bloom_f,
             CASE WHEN eh.doc_id IS NOT NULL THEN 1 ELSE 0 END AS exact_f
      FROM docs d
      LEFT JOIN bhit bh USING (doc_id)
      LEFT JOIN ehit eh USING (doc_id)
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus_docs,
             CAST(SUM(exact_f) AS BIGINT) AS n_flagged_exact,
             CAST(SUM(bloom_f) AS BIGINT) AS n_flagged_bloom,
             CAST(SUM(CASE WHEN bloom_f = 1 AND exact_f = 0
                           THEN 1 ELSE 0 END) AS BIGINT)
               AS n_false_pos_docs
      FROM fl
    )
    SELECT n_corpus_docs, n_flagged_exact, n_flagged_bloom,
           n_false_pos_docs,
           CAST(CASE WHEN n_corpus_docs - n_flagged_exact = 0 THEN 0
                ELSE (n_false_pos_docs * 20000
                      + (n_corpus_docs - n_flagged_exact))
                     // (2 * (n_corpus_docs - n_flagged_exact)) END
                AS BIGINT) AS fp_doc_bp
    FROM agg
    """


@register(
    "q192_bloom_decontamination_audit",
    # The sketch/exact/audit triple applied to decontamination: the
    # Bloom monitor's doc flags AND its measured false-positive count
    # are hash-checked (both engines rebuild the identical 2^20-bit
    # filter from md5-derived positions). Gram strings are q70's exact
    # 13-token grams; each gram hashes ONCE to a 60-bit long, the 7
    # bit positions derive from that long (cheap re-hash of a short
    # digit string, not of the 80-char gram, 7x).
    oracle=_bloom_decon_oracle(m_bits=1 << 20),
    doc="monitor-cadence decontamination: engine-portable Bloom filter "
    "(2^20 bits, k=7, md5-derived positions) over the benchmark's "
    "13-token-gram hashes, FP-audited in-band against q70's exact "
    "semi-join — n_flagged_bloom >= n_flagged_exact structurally (no "
    "false negatives), and the false-positive doc count + fp_doc_bp "
    "are hash-checked. At 100 TB the monitor broadcasts a 128 KiB "
    "position set instead of the benchmark's n-gram strings; the "
    "exact join runs at audit cadence. 1 fixed output row.",
)
def q192_bloom_decontamination_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from salesanalytics_etl_spark.operators.sketches import (
        bloom_decontaminate_audit,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    bench = documents.filter(F.col("doc_id") % 50 == 0)
    corpus = documents.filter(F.col("doc_id") % 50 != 0)
    return bloom_decontaminate_audit(corpus, bench)


# ---------------------------------------------------------------------------
# Mixed-edit twins of the edit-noise audits (q193-q195) — r13 handoff:
# the drop-only variant generator can only REMOVE shingles, so the
# measured S-curve had never seen shingle-ADDING edits (replace/insert).
# Same sampled docs (shared 'editsample-' salt), same rollups — the
# per-decile numbers are directly comparable against q186/q187/q189.
# ---------------------------------------------------------------------------


@register(
    "q193_editnoise_mixed_lsh",
    oracle=_editnoise_lsh_oracle(edits="mixed"),
    doc="q186's LSH recall audit under MIXED edit noise (delete + "
    "replace + insert at ~1/30 of tokens each — salt 'mix', synthetic "
    "tokens from md5): per exact-Jaccard decile, band-collision recall "
    "and MinHash estimate vs exact 5-gram Jaccard, where edits now ADD "
    "shingles the original never had. Linear doc-keyed shape, <=10 "
    "output rows.",
)
def q193_editnoise_mixed_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.editnoise import (
        editnoise_lsh_audit,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    return editnoise_lsh_audit(documents, edits="mixed")


@register(
    "q194_editnoise_mixed_simhash",
    oracle=_editnoise_simhash_oracle(edits="mixed"),
    doc="q187's SimHash audit under MIXED edit noise: Hamming-distance "
    "histogram + 16-bit-chunk pigeonhole hits when replace/insert edits "
    "introduce NEW tokens (each flips independent vote sums) rather "
    "than only removing them. <=64 output rows.",
)
def q194_editnoise_mixed_simhash(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from salesanalytics_etl_spark.operators.editnoise import (
        editnoise_simhash_audit,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    return editnoise_simhash_audit(documents, edits="mixed")


@register(
    "q195_editnoise_mixed_winnow",
    oracle=_editnoise_winnow_oracle(edits="mixed"),
    doc="q189's winnowing-fidelity audit under MIXED edit noise: does "
    "the ~2/(w+1) winnowed fingerprint sample still track exact "
    "Jaccard when edits insert novel 8-grams (which can displace "
    "window minima) instead of only deleting grams? <=10 output rows.",
)
def q195_editnoise_mixed_winnow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from salesanalytics_etl_spark.operators.editnoise import (
        editnoise_winnow_audit,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    return editnoise_winnow_audit(documents, edits="mixed")


@register(
    "q196_sampled_neardup_recovery",
    # q183's sampled portable MinHash+LSH replay with a DELIBERATELY
    # small bucket cap (4) and the r14 capped-bucket recovery pass
    # (recover_rounds=3) — at gate SF the 64-cap pipeline has almost no
    # capped buckets, so this is the surface that VALUE-gates the
    # recovery semantics themselves: salted md5 sub-bucket ids,
    # row_number truncation, pair union — every stage replayed by the
    # oracle bit-for-bit. Compare n_pairs against q183's row to see the
    # cap bite and the recovery reclaim on the same sample.
    oracle=r"""
    WITH docs AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      FROM documents
      WHERE CAST(('0x' || substr(md5('sample-' || CAST(doc_id AS VARCHAR)),
                                 1, 6)) AS INT) % 100 < 5
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             CAST(('0x' || substr(md5(substr(t, CAST(i AS INTEGER), 5)),
                                  1, 15)) AS BIGINT) AS h
      FROM docs, UNNEST(range(1, GREATEST(len(t) - 4, 1) + 1)) AS u(i)
    ),
    perms AS (
      SELECT i, CAST(('0x' || substr(md5('perm-' || i), 1, 15)) AS BIGINT) AS a
      FROM (SELECT unnest(range(0, 32)) AS i)
    ),
    sigvals AS (
      SELECT s.doc_id, p.i, MIN(xor(s.h, p.a)) AS mh
      FROM sh s CROSS JOIN perms p
      GROUP BY s.doc_id, p.i
    ),
    banded AS (
      SELECT doc_id, i // 5 AS band_id,
             md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)) AS band_key
      FROM sigvals WHERE i < 30
      GROUP BY doc_id, i // 5
    ),
    bsize AS (SELECT band_id, band_key, COUNT(*) AS m FROM banded GROUP BY 1, 2),
    member AS (
      SELECT b.doc_id, b.band_id, b.band_key
      FROM banded b JOIN bsize s USING (band_id, band_key)
      WHERE s.m BETWEEN 2 AND 4
    ),
    cand0 AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM member x JOIN member y USING (band_id, band_key)
      WHERE x.doc_id < y.doc_id
    ),
    over_m AS (
      SELECT b.doc_id, b.band_id, b.band_key, s.m
      FROM banded b JOIN bsize s USING (band_id, band_key)
      WHERE s.m > 4
    ),
    sub AS (
      SELECT doc_id, band_id, band_key, r.r AS r,
             CAST(('0x' || substr(md5('lshrec-' || CAST(band_id AS VARCHAR)
                                      || '-' || band_key
                                      || '-' || CAST(r.r AS VARCHAR)
                                      || '-' || CAST(doc_id AS VARCHAR)),
                                  1, 6)) AS INT) % ((m + 3) // 4) AS g
      FROM over_m, (SELECT unnest(range(0, 3)) AS r) r
    ),
    subrn AS (
      SELECT *, row_number() OVER (PARTITION BY band_id, band_key, r, g
                                   ORDER BY doc_id) AS rn
      FROM sub
    ),
    submem AS (
      SELECT band_id, band_key, r, g, doc_id FROM subrn WHERE rn <= 4
    ),
    rcand AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM submem x JOIN submem y USING (band_id, band_key, r, g)
      WHERE x.doc_id < y.doc_id
    ),
    cand AS (SELECT * FROM cand0 UNION SELECT * FROM rcand),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
    ovl AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS ov
      FROM cand c JOIN sh a ON a.doc_id = c.doc_a
                  JOIN sh b ON b.doc_id = c.doc_b AND b.h = a.h
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT FLOOR(CAST(COALESCE(o.ov, 0) AS DOUBLE)
                   / (sa.sz + sb.sz - COALESCE(o.ov, 0))
                   * 10000.0 + 0.5) / 10000.0 AS jaccard
      FROM cand c
      LEFT JOIN ovl o USING (doc_a, doc_b)
      JOIN sizes sa ON sa.doc_id = c.doc_a
      JOIN sizes sb ON sb.doc_id = c.doc_b
      WHERE COALESCE(o.ov, 0) * 10000
            >= 5000 * (sa.sz + sb.sz - COALESCE(o.ov, 0))
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM docs) AS n_docs_sampled,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COALESCE(SUM(CAST(ROUND(jaccard * 10000, 0) AS INT)), 0)
                AS BIGINT) AS sum_jaccard_bp
    FROM pairs
    """,
    doc="q183's sampled portable MinHash+LSH replay run with bucket cap "
    "4 + recover_rounds=3 — the oracle-backed VALUE gate for the "
    "capped-bucket recovery pass (salted md5 sub-buckets, row_number "
    "truncation, recovered-pair union, exact verification). One fixed "
    "summary row; diff n_pairs vs q183 to see cap bite and reclaim.",
)
def q196_sampled_neardup_recovery(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from salesanalytics_etl_spark.operators.dedup import (
        minhash_near_dupes_portable,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    sampled = documents.filter(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("sample-"), F.col("doc_id").cast("string")
                    )
                ),
                1,
                6,
            ),
            16,
            10,
        ).cast("int")
        % 100
        < 5
    )
    pairs = minhash_near_dupes_portable(
        sampled, max_bucket=4, recover_rounds=3
    )
    summary = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.coalesce(
            F.sum(F.round(F.col("jaccard") * 10000, 0).cast("int")),
            F.lit(0),
        )
        .cast("bigint")
        .alias("sum_jaccard_bp"),
    )
    n_docs = sampled.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs_sampled")
    )
    return n_docs.join(F.broadcast(summary), F.lit(True), "inner").select(
        "n_docs_sampled", "n_pairs", "sum_jaccard_bp"
    )


# ---------------------------------------------------------------------------
# Reorder twins of the edit-noise audits (q197-q199) — r14 handoff: drop
# and mixed edits change the token multiset, so no probe had measured
# SECTION REORDERING, the remaining realistic near-dup regime (crawl
# re-renders, template reshuffles). perturbed_text(edits='reorder')
# permutes the doc's 8 equal token runs by md5 ('ro' salt): the token
# multiset is untouched (SimHash is provably invariant — q198 MEASURES
# that), char-5-gram shingle sets change only at run boundaries (long
# docs stay high-J, short docs scramble — q197's S-curve has mass at
# both ends), and winnowing windows move wholesale (q199). Same sampled
# docs ('editsample-' salt), same rollups — per-decile numbers are
# directly comparable against q186/q187/q189 and q193/q194/q195.
# ---------------------------------------------------------------------------


@register(
    "q197_editnoise_reorder_lsh",
    oracle=_editnoise_lsh_oracle(edits="reorder"),
    doc="q186's LSH recall audit under SEGMENT REORDERING (8 md5-"
    "permuted token runs, salt 'ro', no token added or dropped): per "
    "exact-Jaccard decile, band-collision recall and MinHash estimate "
    "vs exact 5-gram Jaccard, where only run-boundary shingles differ. "
    "Linear doc-keyed shape, <=10 output rows.",
)
def q197_editnoise_reorder_lsh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from salesanalytics_etl_spark.operators.editnoise import (
        editnoise_lsh_audit,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    return editnoise_lsh_audit(documents, edits="reorder")


@register(
    "q198_editnoise_reorder_simhash",
    oracle=_editnoise_simhash_oracle(edits="reorder"),
    doc="q187's SimHash audit under segment reordering. Bag-of-tokens "
    "SimHash is invariant under any permutation BY CONSTRUCTION, so "
    "the expected output is a single hamming=0 row with every pair a "
    "chunk hit — this query MEASURES that invariance (and would catch "
    "any accidental order-dependence in the signature path).",
)
def q198_editnoise_reorder_simhash(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from salesanalytics_etl_spark.operators.editnoise import (
        editnoise_simhash_audit,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    return editnoise_simhash_audit(documents, edits="reorder")


@register(
    "q199_editnoise_reorder_winnow",
    oracle=_editnoise_winnow_oracle(edits="reorder"),
    doc="q189's winnowing-fidelity audit under segment reordering: "
    "winnowing samples window minima from the POSITIONAL 8-gram "
    "stream, so permuting runs moves windows across run boundaries — "
    "does the ~2/(w+1) fingerprint sample still track exact Jaccard "
    "when similarity loss is concentrated at 7 seams instead of "
    "spread uniformly? <=10 output rows.",
)
def q199_editnoise_reorder_winnow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from salesanalytics_etl_spark.operators.editnoise import (
        editnoise_winnow_audit,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    return editnoise_winnow_audit(documents, edits="reorder")


@register(
    "q200_bloom_sized_audit",
    oracle=_bloom_decon_oracle(m_bits=1 << 22),
    doc="q192's Bloom decontamination audit resized to m=2^22 bits "
    "(k=7) — the oracle-backed VALUE gate for the r14 sizing rule "
    "('keep filter load <~0.15'): the 30x mixed-edit corpus drives the "
    "2^20 filter to load 0.44 with ~19k FP docs, and this surface "
    "pins the resized filter's flags + FP count bit-for-bit on both "
    "engines (the packed-word bitset broadcast is 4x larger, ~512 KiB "
    "— still trivially broadcast-safe). Same doc_id%50 split as q192, "
    "1 fixed output row; tools/bloom_probe.py --m-bits carries the "
    "same configuration to probe volume.",
)
def q200_bloom_sized_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.sketches import (
        bloom_decontaminate_audit,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    bench = documents.filter(F.col("doc_id") % 50 == 0)
    corpus = documents.filter(F.col("doc_id") % 50 != 0)
    return bloom_decontaminate_audit(corpus, bench, m_bits=1 << 22)


def _simhash_recovery_oracle(
    cap: int = 4, rounds: int = 3, max_hamming: int = 3, sample_pct: int = 5
) -> str:
    """DuckDB twin of the PRODUCTION ``simhash_near_dupes`` run with
    ``token_hash=md5_token_hash`` + a deliberately small bucket cap +
    the r15 capped-bucket recovery pass: portable 63-bit signatures
    (q26's proven construction), 4×16-bit chunk buckets, cap drop,
    md5-salted sub-buckets of ≤ cap with row_number truncation, pair
    union, exact Hamming verification. All constants f-string-derived
    from the same values the Spark call passes (the r14 ADVICE
    discipline)."""
    return rf"""
    WITH docs AS (
      SELECT doc_id, trim(regexp_replace(lower(regexp_replace(text, '([぀-ヿ㐀-䶿一-鿿가-힯])', ' \1 ', 'g')), '\s+', ' ', 'g')) AS t
      FROM documents
      WHERE CAST(('0x' || substr(md5('sample-' || CAST(doc_id AS VARCHAR)),
                                 1, 6)) AS INT) % 100 < {sample_pct}
    ),
    toks AS (
      SELECT DISTINCT doc_id, unnest(string_split(t, ' ')) AS tok FROM docs
    ),
    th AS (
      SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
      FROM toks
    ),
    votes AS (
      SELECT doc_id, b.b AS b,
             SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      FROM th CROSS JOIN (SELECT unnest(range(0, 63)) AS b) b
      GROUP BY doc_id, b.b
    ),
    sigs AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN vote > 0 THEN (1::BIGINT << b)
                      ELSE 0::BIGINT END) AS BIGINT) AS sig
      FROM votes GROUP BY doc_id
    ),
    chunks AS (
      SELECT doc_id, sig, c.c AS chunk_id,
             (sig >> CAST(16 * c.c AS INTEGER)) & 65535 AS chunk_val
      FROM sigs CROSS JOIN (SELECT unnest(range(0, 4)) AS c) c
    ),
    bsize AS (
      SELECT chunk_id, chunk_val, COUNT(*) AS m
      FROM chunks GROUP BY 1, 2
    ),
    member AS (
      SELECT ch.doc_id, ch.sig, ch.chunk_id, ch.chunk_val
      FROM chunks ch JOIN bsize USING (chunk_id, chunk_val)
      WHERE m BETWEEN 2 AND {cap}
    ),
    cand0 AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
             x.sig AS sa, y.sig AS sb
      FROM member x JOIN member y USING (chunk_id, chunk_val)
      WHERE x.doc_id < y.doc_id
    ),
    over_m AS (
      SELECT ch.doc_id, ch.sig, ch.chunk_id, ch.chunk_val, b.m
      FROM chunks ch JOIN bsize b USING (chunk_id, chunk_val)
      WHERE b.m > {cap}
    ),
    sub AS (
      SELECT doc_id, sig, chunk_id, chunk_val, r.r AS r,
             CAST(('0x' || substr(md5('simrec-' || CAST(chunk_id AS VARCHAR)
                   || '-' || CAST(chunk_val AS VARCHAR)
                   || '-' || CAST(r.r AS VARCHAR)
                   || '-' || CAST(doc_id AS VARCHAR)), 1, 6)) AS INT)
               % ((m + {cap - 1}) // {cap}) AS g
      FROM over_m, (SELECT unnest(range(0, {rounds})) AS r) r
    ),
    rmember AS (
      SELECT doc_id, sig, chunk_id, chunk_val, r, g FROM (
        SELECT sub.*, ROW_NUMBER() OVER (
          PARTITION BY chunk_id, chunk_val, r, g ORDER BY doc_id) AS rn
        FROM sub
      ) WHERE rn <= {cap}
    ),
    rcand AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
             x.sig AS sa, y.sig AS sb
      FROM rmember x JOIN rmember y
        ON x.chunk_id = y.chunk_id AND x.chunk_val = y.chunk_val
       AND x.r = y.r AND x.g = y.g AND x.doc_id < y.doc_id
    ),
    allc AS (
      SELECT DISTINCT doc_a, doc_b, sa, sb FROM (
        SELECT * FROM cand0 UNION ALL SELECT * FROM rcand
      )
    ),
    ham AS (
      SELECT doc_a, doc_b,
             CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
      FROM allc WHERE bit_count(xor(sa, sb)) <= {max_hamming}
    )
    SELECT CAST((SELECT COUNT(*) FROM docs) AS BIGINT) AS n_docs_sampled,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COALESCE(SUM(hamming), 0) AS BIGINT) AS sum_hamming
    FROM ham
    """


@register(
    "q201_simhash_recovery_gate",
    oracle=_simhash_recovery_oracle(cap=4, rounds=3, max_hamming=3),
    doc="q196's discipline applied to the SimHash path: the PRODUCTION "
    "simhash_near_dupes run with the portable md5 token hash, a "
    "deliberately small bucket cap (4) and the r15 capped-bucket "
    "recovery pass (recover_rounds=3) on a deterministic 5% doc sample "
    "— the oracle replays signatures, chunk buckets, cap drop, "
    "md5-salted sub-buckets, row_number truncation, pair union and the "
    "exact Hamming check bit-for-bit. VALUE-gates the recovery "
    "semantics the 30x reorder probe showed matter (collapsed buckets "
    "past the cap are where SimHash recall dies). 1 fixed summary row.",
)
def q201_simhash_recovery_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from salesanalytics_etl_spark.operators.dedup import (
        md5_token_hash,
        simhash_near_dupes,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    sampled = documents.filter(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("sample-"), F.col("doc_id").cast("string")
                    )
                ),
                1,
                6,
            ),
            16,
            10,
        ).cast("int")
        % 100
        < 5
    )
    pairs = simhash_near_dupes(
        sampled,
        max_hamming=3,
        max_bucket=4,
        token_hash=md5_token_hash,
        recover_rounds=3,
    )
    summary = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.coalesce(F.sum("hamming"), F.lit(0))
        .cast("bigint")
        .alias("sum_hamming"),
    )
    n_docs = sampled.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs_sampled")
    )
    return n_docs.join(F.broadcast(summary), F.lit(True), "inner").select(
        "n_docs_sampled", "n_pairs", "sum_hamming"
    )


# --------------------------------------------------------------------------
# r16: winnowing near-duplicate PIPELINE (the r15 handoff item) — the
# audits q189/q199 measured how far winnow-fingerprint Jaccard sits below
# exact 5-gram Jaccard; winnow_near_dupes turns the fingerprints into a
# production dedup path with that measured slack baked into its candidate
# filter, and q202/q203 gate the pipeline + its recall against DuckDB.
# --------------------------------------------------------------------------
def _winnow_norm_ctes(
    max_bucket: int | None = None, source: str = "documents"
) -> str:
    """Shared oracle CTEs: normalized text, winnow fingerprints (the q60
    twin, parameterized by the module constants), per-doc fp sizes, the
    capped posting list, candidate pairs, the slack estimate filter and
    5-gram shingle sets — everything except the final verify projection.
    ``max_bucket`` overrides the module cap (q206's deliberately small
    recovery-firing configuration); None = the production constant, so
    q202/q204/q205's SQL is unchanged. ``source`` substitutes the scan
    (q203's scale-fixed doc_id slice — the q166 precedent)."""
    from salesanalytics_etl_spark.operators import dedup
    from salesanalytics_etl_spark.operators.dedup import (
        WINNOW_K,
        WINNOW_SLACK_BP,
        WINNOW_W,
    )

    MAX_BUCKET = dedup.MAX_BUCKET if max_bucket is None else max_bucket
    return rf"""
    WITH n AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
      FROM {source}
    ), h AS (
      SELECT doc_id, CAST(i AS INT) AS i,
             CAST(('0x' || substr(md5(substr(norm, CAST(i AS INT),
                                             {WINNOW_K})), 1, 15))
                  AS BIGINT) AS kh
      FROM n, UNNEST(range(1, GREATEST(length(norm) - {WINNOW_K - 2}, 2)))
             AS t(i)
    ), w AS (
      SELECT DISTINCT doc_id,
             MIN(kh) OVER (PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN {WINNOW_W - 1} PRECEDING
                           AND CURRENT ROW) AS fp
      FROM h
    ), sizes AS (SELECT doc_id, COUNT(*) AS sz FROM w GROUP BY 1),
    keep AS (
      SELECT doc_id, fp FROM w
      WHERE fp IN (SELECT fp FROM w GROUP BY fp
                   HAVING COUNT(*) BETWEEN 2 AND {MAX_BUCKET})
    ), cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM keep a JOIN keep b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING COUNT(*) >= 2
    ), est AS (
      SELECT doc_a, doc_b
      FROM cand
      JOIN sizes sa ON sa.doc_id = cand.doc_a
      JOIN sizes sb ON sb.doc_id = cand.doc_b
      WHERE (n_shared * 20000 + (sa.sz + sb.sz - n_shared))
            // (2 * (sa.sz + sb.sz - n_shared))
            >= {5000 - WINNOW_SLACK_BP}
    ), g AS (
      SELECT doc_id, list(DISTINCT substr(norm, CAST(i AS INT), 5)) AS sh
      FROM n, UNNEST(range(1, GREATEST(length(norm) - 3, 2))) AS t(i)
      GROUP BY doc_id
    )"""


def _winnow_neardup_oracle() -> str:
    return (
        _winnow_norm_ctes()
        + r"""
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT est.doc_a, est.doc_b,
             FLOOR(CAST(len(list_intersect(ga.sh, gb.sh)) AS DOUBLE)
                   / len(list_distinct(list_concat(ga.sh, gb.sh)))
                   * 10000.0 + 0.5) / 10000.0 AS jaccard
      FROM est
      JOIN g ga ON ga.doc_id = est.doc_a
      JOIN g gb ON gb.doc_id = est.doc_b
    ) WHERE jaccard >= 0.5
    """
    )


@register(
    "q202_winnow_neardup",
    oracle=_winnow_neardup_oracle(),
    doc="winnowing near-duplicate PIPELINE end-to-end (the fourth dedup "
    "family): winnow fingerprints (8-gram md5-prefix hashes, window-4 "
    "min, distinct — the q60 sketch) -> inverted index with the MOSS "
    "stopword rule (posting lists over 64 docs dropped wholesale — "
    "deterministic, engine-portable, bounds per-fp pair work at "
    "64^2/2) -> >=2-shared-fingerprint floor -> fingerprint-Jaccard "
    "lower-bound filter at threshold MINUS the 3000 bp slack the "
    "q189/q199 audits measured (winnow-J understates exact J by up to "
    "~2900 bp per decile under reorder edits; the slack is the "
    "measured estimator bias, not a fudge) -> exact 5-gram Jaccard "
    "verify at 0.5 (same verifier as the MinHash path). The oracle "
    "replays every stage bit-for-bit: fingerprints, posting-list cap, "
    "pair counts, integer-bp estimate filter, floor-rounded verify "
    "(operators/dedup.py:winnow_near_dupes)",
)
def q202_winnow_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.dedup import winnow_near_dupes

    (documents,) = _t(spark, sf_dir, "documents")
    return winnow_near_dupes(documents)


_WINNOW_VERIFY_EXPR = (
    "FLOOR(CAST(len(list_intersect(ga.sh, gb.sh)) AS DOUBLE)"
    " / len(list_distinct(list_concat(ga.sh, gb.sh)))"
    " * 10000.0 + 0.5) / 10000.0"
)


def _winnow_recall_oracle() -> str:
    return (
        _winnow_norm_ctes(
            source="(SELECT * FROM documents WHERE doc_id < 400)"
        )
        + rf"""
    , gt AS (
      -- GT admission mirrors exact_jaccard_join: EXACT integer
      -- comparison (i*10000 >= t_bp*u), rounded jaccard on the EMIT
      -- side only (dedup.py's exact-filter/rounded-emit discipline;
      -- review r16: filtering on the rounded value would admit pairs
      -- at J in [t-0.00005, t) that the Spark side rejects)
      SELECT doc_a, doc_b,
             FLOOR(CAST(i AS DOUBLE) / u * 10000.0 + 0.5) / 10000.0
               AS jaccard
      FROM (
        SELECT ga.doc_id AS doc_a, gb.doc_id AS doc_b,
               len(list_intersect(ga.sh, gb.sh)) AS i,
               len(list_distinct(list_concat(ga.sh, gb.sh))) AS u
        FROM g ga JOIN g gb ON ga.doc_id < gb.doc_id
      ) WHERE i * 10000 >= 5000 * u
    ), found AS (
      SELECT est.doc_a, est.doc_b FROM est
      JOIN g ga ON ga.doc_id = est.doc_a
      JOIN g gb ON gb.doc_id = est.doc_b
      WHERE {_WINNOW_VERIFY_EXPR} >= 0.5
    ), per AS (
      SELECT LEAST(CAST(FLOOR(gt.jaccard * 10) AS INT), 9) AS j_decile,
             CASE WHEN f.doc_a IS NULL THEN 0 ELSE 1 END AS hit
      FROM gt LEFT JOIN found f
        ON gt.doc_a = f.doc_a AND gt.doc_b = f.doc_b
    )
    SELECT j_decile, CAST(COUNT(*) AS BIGINT) AS n_gt,
           CAST(SUM(hit) AS BIGINT) AS n_found,
           CAST((SUM(hit) * 20000 + COUNT(*)) // (2 * COUNT(*))
                AS BIGINT) AS recall_bp
    FROM per GROUP BY 1 ORDER BY 1
    """
    )


@register(
    "q203_winnow_recall_audit",
    oracle=_winnow_recall_oracle(),
    doc="winnow-pipeline RECALL against exact ground truth, per Jaccard "
    "decile: GT = every pair with exact 5-gram Jaccard >= 0.5 (Spark "
    "side via the prefix-filtered exact_jaccard_join — recall-1.0 by "
    "the SSJoin prefix theorem; the DuckDB twin brute-forces all "
    "pairs, so a hash match ALSO re-certifies the prefix filter at "
    "char grain), joined against q202's pipeline on the SAME slice. "
    "j_decile | n_gt | n_found | recall_bp (integer bp). Misses are "
    "pairs whose every shared run sits inside a capped (boilerplate) "
    "fingerprint or below the 2-shared floor. Audited over the "
    "scale-FIXED doc_id < 400 slice (the q166 precedent): exact GT is "
    "intrinsically quadratic — unsliced at sf0.1 the prefix join "
    "exceeds its 5M candidate budget (template text degenerates "
    "char-grain prefix filtering, measured r16) and the brute-force "
    "oracle is O(n^2) — so the audit gate is constant-cost at every "
    "SF while volume recall is measured clique-keyed by "
    "tools/winnow_probe.py (SCALE.md r16)",
)
def q203_winnow_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.dedup import (
        exact_jaccard_join,
        winnow_near_dupes,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    sliced = documents.filter(F.col("doc_id") < 400)
    gt = exact_jaccard_join(sliced, threshold=0.5, unit="char")
    found = winnow_near_dupes(sliced).select(
        "doc_a", "doc_b", F.lit(1).alias("hit")
    )
    per = gt.join(found, ["doc_a", "doc_b"], "left").withColumn(
        "j_decile",
        F.least(F.floor(F.col("jaccard") * 10).cast("int"), F.lit(9)),
    )
    return (
        per.groupBy("j_decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gt"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_found"),
        )
        .withColumn(
            "recall_bp",
            F.expr("(n_found * 20000 + n_gt) div (2 * n_gt)").cast("bigint"),
        )
        .orderBy("j_decile")
    )


def _winnow_slack_oracle() -> str:
    return (
        _winnow_norm_ctes()
        + rf"""
    , scores AS (
      SELECT doc_a, doc_b,
             (n_shared * 20000 + (sa.sz + sb.sz - n_shared))
             // (2 * (sa.sz + sb.sz - n_shared)) AS w_lb_bp
      FROM cand
      JOIN sizes sa ON sa.doc_id = cand.doc_a
      JOIN sizes sb ON sb.doc_id = cand.doc_b
    ), okp AS (
      SELECT s.doc_a, s.doc_b, s.w_lb_bp,
             CASE WHEN {_WINNOW_VERIFY_EXPR} >= 0.5
                  THEN 1 ELSE 0 END AS ok
      FROM scores s
      JOIN g ga ON ga.doc_id = s.doc_a
      JOIN g gb ON gb.doc_id = s.doc_b
    ), sl AS (SELECT * FROM (VALUES (0), (1000), (2000), (3000))
              AS v(slack_bp))
    SELECT slack_bp,
           CAST(COUNT(okp.doc_a) AS BIGINT) AS n_candidates,
           CAST(COALESCE(SUM(ok), 0) AS BIGINT) AS n_verified
    FROM sl LEFT JOIN okp ON okp.w_lb_bp >= 5000 - sl.slack_bp
    GROUP BY 1 ORDER BY 1
    """
    )


@register(
    "q204_winnow_slack_curve",
    oracle=_winnow_slack_oracle(),
    doc="slack-sensitivity curve for q202's candidate filter: the SAME "
    "candidate set (>=2 shared uncapped fingerprints) scored at slack "
    "0/1000/2000/3000 bp — per slack, how many candidates pass the "
    "fingerprint-Jaccard lower-bound cut and how many of those verify "
    "exactly at 0.5. n_verified rising with slack = true pairs the "
    "unslacked filter would throw away (the q189/q199 estimator bias "
    "made operational); n_candidates is the extra verify work the "
    "slack buys it with. 4 fixed rows; the non-equi join against the "
    "4-row slack frame is a broadcast nested loop over the tiny "
    "candidate-score frame (operators/dedup.py:winnow_candidate_scores)",
)
def q204_winnow_slack_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators.dedup import (
        jaccard_verify,
        shingle_rows,
        shingle_sets,
        winnow_candidate_scores,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    scores = winnow_candidate_scores(documents)
    docs_in_pairs = (
        scores.select(F.col("doc_a").alias("doc_id"))
        .unionByName(scores.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # persisted like winnow_near_dupes' verify stage: jaccard_verify
    # consumes the sets frame through BOTH pair aliases, and unpersisted
    # it computed twice (r16 opt round, stage metrics)
    sets = shingle_sets(
        shingle_rows(documents).join(docs_in_pairs, "doc_id", "left_semi")
    ).persist()
    verified = jaccard_verify(
        scores.select("doc_a", "doc_b"), sets, 0.5
    ).select("doc_a", "doc_b", F.lit(1).alias("ok"))
    sc = scores.join(verified, ["doc_a", "doc_b"], "left").withColumn(
        "ok", F.coalesce(F.col("ok"), F.lit(0))
    )
    # r16 opt round: ONE conditional-aggregation pass over the scored
    # candidates instead of the former non-equi LEFT join against a
    # 4-row slack frame — the BroadcastNestedLoopJoin held the whole
    # verify subtree unmaterialized beneath its build side. Per slack s:
    # n_candidates = count(w_lb_bp >= 5000-s), n_verified = sum(ok)
    # under the same cut — exactly what the left join + groupBy
    # produced, including the no-match slack row (count 0/sum 0 via the
    # unconditional aggregate + stack). Values identical; oracle
    # unchanged.
    slacks = [0, 1000, 2000, 3000]
    aggs = []
    for s in slacks:
        cond = F.col("w_lb_bp") >= F.lit(5000 - s)
        aggs.append(
            F.sum(F.when(cond, 1).otherwise(0))
            .cast("bigint")
            .alias(f"c{s}")
        )
        aggs.append(
            F.sum(F.when(cond, F.col("ok")).otherwise(0))
            .cast("bigint")
            .alias(f"v{s}")
        )
    stack_args = ", ".join(
        f"{s}, coalesce(c{s}, 0L), coalesce(v{s}, 0L)" for s in slacks
    )
    out = (
        sc.agg(*aggs)
        .select(
            F.expr(
                f"stack({len(slacks)}, {stack_args})"
                " as (slack_bp, n_candidates, n_verified)"
            )
        )
        .orderBy("slack_bp")
        # 4 rows; materialized so the sets pin can be released here
        # instead of leaking into the sweep (the lazy-persist trap)
        .localCheckpoint()
    )
    sets.unpersist()
    return out


def _winnow_cluster_oracle() -> str:
    # q166's recursive-CTE transitive closure, seeded by the q202
    # pipeline's verified edges instead of the exact all-pairs graph
    return (
        _winnow_norm_ctes().replace("WITH n AS", "WITH RECURSIVE n AS")
        + rf"""
    , edges AS (
      SELECT doc_a, doc_b FROM (
        SELECT est.doc_a, est.doc_b,
               {_WINNOW_VERIFY_EXPR} AS jaccard
        FROM est
        JOIN g ga ON ga.doc_id = est.doc_a
        JOIN g gb ON gb.doc_id = est.doc_b
      ) WHERE jaccard >= 0.5
    ), und AS (
      SELECT doc_a AS s, doc_b AS d FROM edges
      UNION SELECT doc_b, doc_a FROM edges
    ), reach(s, d) AS (
      SELECT s, d FROM und
      UNION
      SELECT r.s, u.d FROM reach r JOIN und u ON r.d = u.s
    ), clusters AS (
      SELECT LEAST(s, MIN(d)) AS cluster_id, s AS doc_id
      FROM reach GROUP BY s
    ), csizes AS (
      SELECT cluster_id, COUNT(*) AS sz FROM clusters GROUP BY 1
    )
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_docs,
           CAST(SUM(sz - 1) AS BIGINT) AS n_removable
    FROM csizes GROUP BY sz ORDER BY cluster_size
    """
    )


@register(
    "q205_winnow_cluster_histogram",
    oracle=_winnow_cluster_oracle(),
    doc="dedup YIELD of the winnow pipeline: q202's verified pairs -> "
    "transitive clusters (connected components — driver union-find "
    "under the size gate, distributed min-label propagation above it) "
    "-> cluster-size histogram with n_removable = docs beyond one "
    "keeper per cluster; the q166 report computed for the fourth dedup "
    "family, so the two families' yields are directly comparable. "
    "Oracle: the q202 stage replay seeding q166's recursive-CTE "
    "transitive closure (operators/graph.py:dedup_clusters)",
)
def q205_winnow_cluster_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from salesanalytics_etl_spark.operators.dedup import winnow_near_dupes
    from salesanalytics_etl_spark.operators.graph import dedup_clusters

    (documents,) = _t(spark, sf_dir, "documents")
    clusters = dedup_clusters(
        winnow_near_dupes(documents).select("doc_a", "doc_b")
    )
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return (
        sizes.groupBy("sz")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum("sz").cast("bigint").alias("n_docs"),
            F.sum(F.col("sz") - 1).cast("bigint").alias("n_removable"),
        )
        .select(
            F.col("sz").cast("bigint").alias("cluster_size"),
            "n_clusters",
            "n_docs",
            "n_removable",
        )
        .orderBy("cluster_size")
    )


def _winnow_recovery_oracle(cap: int, bands: int) -> str:
    from salesanalytics_etl_spark.operators.dedup import WINNOW_SLACK_BP

    values = ", ".join(f"({r})" for r in range(bands))
    return (
        _winnow_norm_ctes(max_bucket=cap)
        + rf"""
    , rs AS (SELECT * FROM (VALUES {values}) AS v(r))
    , salted AS (
      SELECT w.doc_id, rs.r,
             MIN(CAST(('0x' || substr(md5('winrec-' || CAST(rs.r AS VARCHAR)
                       || '-' || CAST(w.fp AS VARCHAR)), 1, 15))
                 AS BIGINT)) AS g
      FROM w CROSS JOIN rs GROUP BY 1, 2
    ), rmem AS (
      SELECT doc_id, r, g,
             ROW_NUMBER() OVER (PARTITION BY r, g ORDER BY doc_id) AS rn
      FROM salted
    ), rcand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM rmem a JOIN rmem b
        ON a.r = b.r AND a.g = b.g AND a.doc_id < b.doc_id
      WHERE a.rn <= {cap} AND b.rn <= {cap}
    ), fsets AS (
      SELECT doc_id, list(fp) AS fset FROM w GROUP BY 1
    ), rest AS (
      SELECT doc_a, doc_b FROM rcand
      JOIN fsets fa ON fa.doc_id = rcand.doc_a
      JOIN fsets fb ON fb.doc_id = rcand.doc_b
      WHERE (len(list_intersect(fa.fset, fb.fset)) * 20000
             + len(list_distinct(list_concat(fa.fset, fb.fset))))
            // (2 * len(list_distinct(list_concat(fa.fset, fb.fset))))
            >= {5000 - WINNOW_SLACK_BP}
    ), estall AS (
      SELECT doc_a, doc_b FROM est
      UNION
      SELECT doc_a, doc_b FROM rest
    )
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT estall.doc_a, estall.doc_b,
             {_WINNOW_VERIFY_EXPR} AS jaccard
      FROM estall
      JOIN g ga ON ga.doc_id = estall.doc_a
      JOIN g gb ON gb.doc_id = estall.doc_b
    ) WHERE jaccard >= 0.5
    """
    )


@register(
    "q206_winnow_recovery_gate",
    oracle=_winnow_recovery_oracle(cap=4, bands=3),
    doc="q201's discipline applied to the winnow path: the PRODUCTION "
    "winnow_near_dupes run with a deliberately small posting-list cap "
    "(4) and the r16 min-fingerprint-band recovery (recover_bands=3) — "
    "the configuration the 30x probe showed matters (on replica-heavy "
    "corpora EVERY posting list blows the cap and the MOSS stopword "
    "rule deletes the whole index: clique recall 0.000 against 2.14M "
    "GT pairs; at cap 4 the collapse reproduces at gate SF, so the "
    "recovery FIRES here). Each of the R salted bands keys a doc by "
    "min over its fps of md5('winrec-r-'||fp) — a one-row MinHash over "
    "the fingerprint set (agreement probability = fp-Jaccard) — then "
    "capped-bucket pairing, exact fp-set-Jaccard estimate at "
    "threshold-slack, and the usual exact 5-gram verify. The oracle "
    "replays salted minima, bucket truncation, pair union, estimate "
    "and verify bit-for-bit (operators/dedup.py:winnow_near_dupes "
    "recover_bands)",
)
def q206_winnow_recovery_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from salesanalytics_etl_spark.operators.dedup import winnow_near_dupes

    (documents,) = _t(spark, sf_dir, "documents")
    return winnow_near_dupes(documents, max_bucket=4, recover_bands=3)


def _winnow_health_oracle() -> str:
    from salesanalytics_etl_spark.operators import dedup

    cap = dedup.MAX_BUCKET
    return (
        _winnow_norm_ctes()
        + rf"""
    , dfc AS (
      SELECT fp, CAST(COUNT(*) AS BIGINT) AS d FROM w GROUP BY 1
    ), bucketed AS (
      SELECT CASE WHEN d <= {cap} THEN 0 WHEN d <= 256 THEN 1
                  WHEN d <= 1024 THEN 2 WHEN d <= 4096 THEN 3
                  ELSE 4 END AS b,
             d
      FROM dfc
    ), per AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS n_fps,
             CAST(SUM(d) AS BIGINT) AS n_occurrences
      FROM bucketed GROUP BY 1
    ), tot AS (SELECT SUM(n_occurrences) AS t FROM per)
    SELECT b AS dfc_bucket, n_fps, n_occurrences,
           CAST((n_occurrences * 20000 + tot.t) // (2 * tot.t)
                AS BIGINT) AS occ_share_bp
    FROM per CROSS JOIN tot ORDER BY dfc_bucket
    """
    )


@register(
    "q207_winnow_index_health",
    oracle=_winnow_health_oracle(),
    doc="winnow INDEX HEALTH audit — the q116-style pre-flight a "
    "deployment runs BEFORE trusting the winnow family: posting-list "
    "(fp document-frequency) size distribution in 5 buckets "
    "(<=cap kept / 65-256 / 257-1024 / 1025-4096 / >4096) with the "
    "occurrence share of each in integer bp. The r16 30x probe "
    "mechanism in one query: on the replica corpus only 7 561 "
    "distinct fps cover 15.2M occurrences and the kept share is "
    "9 bp (0.09%) — the index carries no discriminative signal at "
    "8-gram grain and recall is structurally capped (recover_bands "
    "reclaims 0.17, not 1.0); a healthy organic corpus keeps the "
    "overwhelming share. Deployment rule: kept occ_share_bp low + "
    "recall mattering -> use minhash_near_dupes (0.884 at the same "
    "volume). Linear: one fp groupBy + a 5-row rollup "
    "(operators/dedup.py:winnow_fingerprints)",
)
def q207_winnow_index_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    from salesanalytics_etl_spark.operators import dedup
    from salesanalytics_etl_spark.operators.dedup import winnow_fingerprints

    cap = dedup.MAX_BUCKET
    (documents,) = _t(spark, sf_dir, "documents")
    dfc = (
        winnow_fingerprints(documents)
        .groupBy("fp")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    per = (
        dfc.withColumn(
            "dfc_bucket",
            F.when(F.col("d") <= cap, 0)
            .when(F.col("d") <= 256, 1)
            .when(F.col("d") <= 1024, 2)
            .when(F.col("d") <= 4096, 3)
            .otherwise(4),
        )
        .groupBy("dfc_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_fps"),
            F.sum("d").cast("bigint").alias("n_occurrences"),
        )
        # <=5 rows; materialized ONCE so the share join's broadcast side
        # does not re-run the whole fingerprint+dfc subtree (the r16
        # opt-round plan showed the scan->explode->md5->window->distinct
        # ->groupBy tree TWICE — guide §5 on reuse; results identical)
        .localCheckpoint()
    )
    tot = per.agg(F.sum("n_occurrences").alias("t"))
    return (
        per.join(F.broadcast(tot), F.lit(True), "inner")
        .select(
            "dfc_bucket",
            "n_fps",
            "n_occurrences",
            F.expr("(n_occurrences * 20000 + t) div (2 * t)")
            .cast("bigint")
            .alias("occ_share_bp"),
        )
        .orderBy("dfc_bucket")
    )
