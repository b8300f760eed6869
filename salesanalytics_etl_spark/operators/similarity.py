"""Similarity search over embedding columns (array<float>).

- ``cosine_topk_bruteforce`` — exact top-k: broadcast the (small) query set
  against the corpus; cosine via zip_with/aggregate array expressions
  (JVM-side, no Python). This is the correctness baseline and is already
  the right 100 TB plan when |queries| is small: the corpus is scanned once,
  partition-parallel, with the queries broadcast — no shuffle of the corpus.
- ``embedding_neardup_exact`` — exact ALL-PAIRS above a threshold. A row-
  at-a-time pair join is hopeless (the 4M-pair join materializes GBs of
  array copies before any math); instead each corpus partition runs an
  Arrow-batched numpy kernel against a broadcast of the (normalized) corpus
  block — the classic block-matrix design. At true scale the broadcast side
  is sharded into B passes; the kernel is unchanged.
- ``cosine_topk_lsh`` — the scale path for large query sets: random-
  hyperplane LSH buckets both sides, so only vectors sharing a bucket are
  compared (equi-join instead of cross product), then exact re-rank within
  buckets. Recall < 1 by construction → registered as a rows-only check.

Determinism note: every dot/norm — JVM expression or numpy kernel — is
accumulated strictly left-to-right over the dimension in float64 (the numpy
kernel loops over dims, vectorizing across PAIRS, so per-pair order is
sequential), the same association DuckDB's list_cosine_similarity uses.
Similarities are therefore bit-identical across engines and safe to
hash-compare after round(6). This is why the kernel does NOT use np.dot /
BLAS: dgemm reorders the accumulation.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

N_PLANES = 4  # hyperplanes per table → 16 buckets/table
N_TABLES = 8  # independent hash tables; a pair is a candidate if it
# collides in ANY table — the standard recall knob (recall grows with L,
# candidate fraction ≈ L/2^planes). Defaults favor recall on weakly-
# clustered data; for real embedding corpora (tight clusters) raise
# N_PLANES to cut candidates by 2^Δ.


def _dot_sql(a: str, b: str) -> str:
    """SQL dot product of two array expressions: float64 products summed
    left to right from 0."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * "
        "CAST(y AS DOUBLE)), 0.0D, (acc, v) -> acc + v)"
    )


def _norm_sql(a: str) -> str:
    """SQL Euclidean norm of an array expression, summed like
    :func:`_dot_sql`."""
    return (
        f"sqrt(aggregate(transform({a}, x -> CAST(x AS DOUBLE) * "
        "CAST(x AS DOUBLE)), 0.0D, (acc, v) -> acc + v))"
    )


def cosine(a: str, b: str) -> Column:
    """Cosine of array columns ``a`` and ``b``, built as ONE SQL
    expression: one py4j call, where Column lambdas cost one per node."""
    a, b = f"`{a}`", f"`{b}`"
    return F.expr(f"{_dot_sql(a, b)} / ({_norm_sql(a)} * {_norm_sql(b)})")


def _seq_sqnorms(A: np.ndarray) -> np.ndarray:
    acc = np.zeros(len(A), dtype=np.float64)
    for d in range(A.shape[1]):
        acc += A[:, d] * A[:, d]
    return acc


def _round_half_up(x: np.ndarray, decimals: int = 6) -> np.ndarray:
    """ROUND half-away-from-zero — matches Spark F.round and DuckDB ROUND.
    (np.round is banker's half-to-even: a sim landing exactly on a .5 at
    the 6th decimal would be kept by one engine and dropped by the other.)
    """
    scale = 10.0 ** decimals
    return np.copysign(np.floor(np.abs(x) * scale + 0.5) / scale, x)


def embedding_neardup_exact(
    spark,
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = 8192,
    chunk_entries: int = 2_000_000,
) -> DataFrame:
    """All pairs (a < b) with cosine ≥ threshold, exact.

    Block-matrix plan with bounded driver memory: the corpus is split into
    ``ceil(n/block_rows)`` id-hash blocks; each pass collects ONE block
    (≈block_rows vectors — never the whole corpus), broadcasts it, and
    scans the full corpus with an Arrow-batched numpy kernel that compares
    each corpus chunk against the block in one outer-accumulation — no
    per-row Python loop. A pair {x, y} (y the larger id) is emitted exactly
    once: in the pass whose block contains y, from the corpus batch holding
    x, under the strict ``block_id > corpus_id`` mask. Driver memory is
    O(block_rows·dim) per pass; task memory is O(chunk·|block|) with chunk
    sized so the sim matrix stays ~16 MB.

    Accumulation is strictly left-to-right over the dimension (vectorized
    across PAIRS, never np.dot/BLAS which reorder), and rounding is
    half-away-from-zero — both identical to DuckDB's
    list_cosine_similarity + ROUND, so results are bit-stable across
    engines and partitionings.
    """
    src = corpus.select(id_col, vec_col)
    out_schema = T.StructType(
        [
            T.StructField("vec_a", T.LongType()),
            T.StructField("vec_b", T.LongType()),
            T.StructField("cosine_sim", T.DoubleType()),
        ]
    )

    n = src.count()
    if n == 0:
        return spark.createDataFrame([], out_schema)
    n_blocks = max(1, -(-n // block_rows))

    def make_kernel(bc):
        def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            blk_ids, blk_mat, blk_norms = bc.value
            m = len(blk_ids)
            chunk = max(1, chunk_entries // m)
            for b in batches:
                if len(b) == 0:
                    continue
                a_ids = b[id_col].to_numpy(dtype=np.int64)
                A = np.array(
                    [np.asarray(v, dtype=np.float64) for v in b[vec_col]]
                )
                a_norms = np.sqrt(_seq_sqnorms(A))
                for s in range(0, len(a_ids), chunk):
                    Ac = A[s : s + chunk]
                    ai = a_ids[s : s + chunk]
                    an = a_norms[s : s + chunk]
                    # (nc, m) sims: accumulate over the dimension in strict
                    # left-to-right order — per-pair math identical to the
                    # scalar sequential loop
                    acc = np.zeros((len(ai), m), dtype=np.float64)
                    for d in range(A.shape[1]):
                        acc += Ac[:, d, None] * blk_mat[None, :, d]
                    sims = _round_half_up(acc / (an[:, None] * blk_norms[None, :]))
                    keep = (sims >= threshold) & (blk_ids[None, :] > ai[:, None])
                    ii, jj = np.nonzero(keep)
                    if len(ii):
                        yield pd.DataFrame(
                            {
                                "vec_a": ai[ii],
                                "vec_b": blk_ids[jj],
                                "cosine_sim": sims[ii, jj],
                            }
                        )

        return kernel

    out = None
    for blk_no in range(n_blocks):
        # block on pmod(xxhash64(id)) — raw id residues are NOT uniform
        # (ids stamped in strides of 100 would put the whole corpus into
        # one block and collect it onto the driver); the hash residue is
        # uniform for any id-assignment scheme, keeping every block
        # ~block_rows as promised
        blk = (
            src.filter(
                F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)) == blk_no
            )
            .toPandas()  # bounded: ~block_rows rows, never the corpus
        )
        if len(blk) == 0:
            continue
        blk_ids = blk[id_col].to_numpy(dtype=np.int64)
        blk_mat = np.array([np.asarray(v, dtype=np.float64) for v in blk[vec_col]])
        blk_norms = np.sqrt(_seq_sqnorms(blk_mat))
        bc = spark.sparkContext.broadcast((blk_ids, blk_mat, blk_norms))
        part = src.mapInPandas(make_kernel(bc), schema=out_schema)
        out = part if out is None else out.unionByName(part)
    if out is None:
        return spark.createDataFrame([], out_schema)
    return out


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of ``corpus`` for each row of ``queries``.

    Output: (query_id, neighbor_id, cosine_sim), k rows per query,
    self-matches excluded, ties broken by neighbor_id for determinism.
    """
    from salesanalytics_etl_spark.operators.dedup import spread_partitions

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    # spread the corpus scan BEFORE the |corpus|x|queries| re-rank: a
    # single-file embeddings scan plans as ONE task and the whole
    # brute-force ranking runs serially (measured: one 6.8 s 1-task job
    # was q190's entire cost at sf0.1). Plan-metadata guard — no-op when
    # the source is already wider than the cluster (the 100 TB case).
    c = spread_partitions(corpus, by=id_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    sim = F.round(cosine("q_vec", "c_vec"), 6)
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine_sim"))
    )
    # Two-phase top-k (operators/skew.py): a single window partitioned
    # by query_id would funnel ALL |corpus|×|queries| scored rows into
    # |queries| straggler tasks at scale.
    from salesanalytics_etl_spark.operators.skew import topk_per_group

    return topk_per_group(
        scored,
        ["query_id"],
        [F.desc("cosine_sim"), F.asc("neighbor_id")],
        k,
    )


def _deterministic_planes(
    dim: int, n: int = N_PLANES, table: int = 0
) -> list[list[float]]:
    """Pseudo-random hyperplanes from a fixed LCG — no RNG state, so plans
    are reproducible across sessions/executors; ``table`` salts the stream
    so each LSH table gets independent planes."""
    planes = []
    seed = 0x2545F4914F6CDD1D
    x = 88172645463325252 + 7919 * table
    for _ in range(n):
        row = []
        for _ in range(dim):
            x = (x * seed + 0xB504F333) % (1 << 63)
            row.append((x / float(1 << 63)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def _bucket_array_pandas(dim: int):
    """Vectorized bucket computation: one Arrow batch → numpy matmul over
    the stacked plane matrix → N_TABLES bucket keys per vector, bit p of a
    table's key = (vec · plane_p) > 0. Sign bits only, so the BLAS
    accumulation order is irrelevant here.
    """
    from pyspark.sql.functions import pandas_udf

    all_planes = np.array(
        [
            _deterministic_planes(dim, N_PLANES, table=t)
            for t in range(N_TABLES)
        ]
    ).reshape(N_TABLES * N_PLANES, dim)  # (T*P, dim)
    offsets = np.arange(N_TABLES, dtype=np.int64) * (2 ** N_PLANES)
    powers = (1 << np.arange(N_PLANES, dtype=np.int64))

    @pandas_udf(T.ArrayType(T.LongType()))
    def buckets(vecs: pd.Series) -> pd.Series:
        mat = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        if len(mat) == 0:
            return pd.Series([], dtype=object)
        proj = mat @ all_planes.T  # (n, T*P)
        bits = (proj > 0).reshape(len(mat), N_TABLES, N_PLANES)
        keys = (bits * powers).sum(axis=2) + offsets  # (n, T)
        return pd.Series(list(keys))

    return buckets


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: compare only vectors colliding in ≥1 LSH table.

    At 100 TB the cross product is impossible; this turns ANN into an
    equi-join on (table, bucket) keys — each side explodes to N_TABLES rows,
    the join key is uniform-ish (no skew), and a pair is compared at most
    once thanks to the distinct() on candidate ids before scoring.
    """
    bucketer = _bucket_array_pandas(dim)
    # the UDF-bearing bucket subtree is built ONCE per side; the scoring
    # join below reuses the raw (id, vec) projections so the Python stage
    # never re-runs for the q_vec/c_vec lookups
    qbase = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    q_buckets = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(bucketer(F.col(vec_col))).alias("bucket"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.explode(bucketer(F.col(vec_col))).alias("bucket"),
    )
    cand = (
        c.join(F.broadcast(q_buckets), on="bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    sim = F.round(cosine("q_vec", "c_vec"), 6)
    scored = (
        cand.join(F.broadcast(qbase), on="query_id")
        .join(
            corpus.select(
                F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
            ),
            on="neighbor_id",
        )
        .select("query_id", "neighbor_id", sim.alias("cosine_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def int8_quantize(vec: Column) -> Column:
    """Symmetric per-vector int8 quantization as a Column of bigint codes:
    ``q_i = clamp(floor(x_i * 127.0 / m + 0.5), -127, 127)`` with
    ``m = max(|x|)`` (all-zero vectors quantize to zeros).

    floor(x + 0.5) instead of engine-native ROUND on purpose (the
    q08/q104 midpoint rule), and the expression SHAPE (``x * 127.0 / m``,
    left-associative, all double) matches the DuckDB twin token for
    token — IEEE ops are correctly rounded, so identical shapes yield
    bit-identical codes and the audit's integers are exact on both
    engines."""
    m = F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))

    def qi(x: Column) -> Column:
        raw = F.floor(x.cast("double") * F.lit(127.0) / m + F.lit(0.5))
        return F.greatest(F.least(raw, F.lit(127)), F.lit(-127)).cast(
            "long"
        )

    return F.when(
        m == F.lit(0.0),
        F.transform(vec, lambda x: F.lit(0).cast("long")),
    ).otherwise(F.transform(vec, qi))


def quantization_error_audit(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Int8-quantization fidelity over the exact top-k ground truth:
    for every (query, true-neighbor) pair, the EXACT integer dot
    product / squared norms of the quantized codes, the quantized
    cosine (floor-6dp), and its error vs the float cosine in basis
    points.

    This is the audit a 100 TB ANN deployment runs before switching
    its scoring to int8 SIMD kernels: the ground-truth frame is the
    checkpointed brute-force top-k (k rows per query, bounded), the
    quantized-code join touches the corpus once, map-side (the k·|Q|
    pair frame broadcasts), and every gate-surface number except the
    two 6dp cosines is an exact integer. |q_i| <= 127 and dim <= 2^16
    keep the dot products far inside bigint.
    """
    gt = cosine_topk_bruteforce(
        corpus, queries, k, id_col=id_col, vec_col=vec_col
    ).localCheckpoint()
    qq = queries.select(
        F.col(id_col).alias("query_id"),
        int8_quantize(F.col(vec_col)).alias("qa"),
    )
    qc = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        int8_quantize(F.col(vec_col)).alias("qb"),
    )
    # gt (k·|Q| rows) x queries (|Q| rows): both tiny -> broadcast into
    # the corpus-side join so the corpus is scanned once, map-side
    pairs = qc.join(
        F.broadcast(gt.join(F.broadcast(qq), "query_id")), "neighbor_id"
    )
    idot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    sq = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    out = pairs.select(
        "query_id",
        "neighbor_id",
        "cosine_sim",
        idot.alias("qdot"),
        sq("qa").alias("qnorm2_q"),
        sq("qb").alias("qnorm2_n"),
    )
    quant_cos = (
        F.floor(
            F.col("qdot").cast("double")
            / F.sqrt((F.col("qnorm2_q") * F.col("qnorm2_n")).cast("double"))
            * F.lit(1000000.0)
            + F.lit(0.5)
        )
        / F.lit(1000000.0)
    )
    return (
        out.withColumn("quant_cosine", quant_cos)
        .withColumn(
            "err_bp",
            F.floor(
                F.abs(F.col("quant_cosine") - F.col("cosine_sim"))
                * F.lit(10000.0)
                + F.lit(0.5)
            ).cast("int"),
        )
        .orderBy("query_id", F.desc("cosine_sim"), "neighbor_id")
    )


def int8_topk_recall(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """recall@k of int8-quantized retrieval vs the exact float top-k:
    re-rank the WHOLE corpus per query by the quantized cosine
    (exact-integer dot / sqrt of exact-integer norm product — both
    engines compute identical doubles, ties broken by neighbor_id) and
    count how many of the float top-k survive.

        query_id | n_overlap | recall_bp

    q188 measures the VALUE error of int8 scoring (2-15 bp here);
    this measures the only error that matters to retrieval — rank
    inversions at the top-k boundary. Zero-norm corpus rows are
    excluded from the quantized ranking on both engines (their cosine
    is undefined). Same broadcast-queries/one-corpus-scan shape as the
    exact brute force; two-phase top-k; |queries| output rows.
    """
    gt = cosine_topk_bruteforce(
        corpus, queries, k, id_col=id_col, vec_col=vec_col
    ).localCheckpoint()
    sq = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    # norms computed ONCE per vector in the projections (not inside the
    # |corpus|x|queries| join, where the query norm would be recomputed
    # |corpus| times — ~2/3 of the per-row array arithmetic on the hot
    # re-rank scan; mirrors the oracle's nq CTE)
    qq = queries.select(
        F.col(id_col).alias("query_id"),
        int8_quantize(F.col(vec_col)).alias("qa"),
    ).withColumn("n2a", sq("qa"))
    from salesanalytics_etl_spark.operators.dedup import spread_partitions

    # spread the corpus scan before the quantized re-rank for the same
    # reason as cosine_topk_bruteforce: a single-file scan serializes
    # the |corpus|x|queries| scoring into one task
    qc = spread_partitions(corpus, by=id_col).select(
        F.col(id_col).alias("neighbor_id"),
        int8_quantize(F.col(vec_col)).alias("qb"),
    ).withColumn("n2b", sq("qb"))
    idot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = (
        qc.crossJoin(F.broadcast(qq))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .filter((F.col("n2a") > 0) & (F.col("n2b") > 0))
        .select(
            "query_id",
            "neighbor_id",
            (
                idot.cast("double")
                / F.sqrt((F.col("n2a") * F.col("n2b")).cast("double"))
            ).alias("qscore"),
        )
    )
    from salesanalytics_etl_spark.operators.skew import topk_per_group

    top = topk_per_group(
        scored,
        ["query_id"],
        [F.desc("qscore"), F.col("neighbor_id")],
        k,
    )
    overlap = (
        gt.join(top, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_overlap"))
    )
    base = gt.select("query_id").distinct()
    return (
        base.join(overlap, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_overlap", F.lit(0).cast("bigint")).alias(
                "n_overlap"
            ),
        )
        .withColumn(
            "recall_bp",
            F.expr(f"(n_overlap * 20000 + {k}) div {2 * k}").cast("int"),
        )
        .orderBy("query_id")
    )
