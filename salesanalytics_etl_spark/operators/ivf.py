"""IVF (inverted-file) approximate nearest neighbor: a coarse quantizer,
probe-N cells, exact rescoring.

The second ANN scale path beside hyperplane LSH (similarity.py). A
quantizer is a bounded list of ``(anchor_id, a_vec)`` rows, built one of
two ways:

- trained (``cosine_topk_ivf``, ``assign_clusters``; q34/q89): spherical
  k-means fit on the driver over a BOUNDED deterministic sample of the
  corpus (the standard IVF practice — a quantizer does not need every
  vector); the centroids are the anchors, ids 0..k-1.
- portable (``cosine_topk_ivf_portable``, ``portable_cell_assignment``;
  q112/q113/q122): the corpus rows with the smallest md5-derived keys, so
  every stage replays in ANSI SQL and the approximate answer is
  oracle-checked.

Everything after the quantizer exists once:

1. Assignment (``_assign``): every vector joins its nearest anchor's cell
   by ROUNDED cosine (6dp, anchor id tiebreak — the cross-engine-stable
   total order), one SQL expression over the scan with the anchors
   inlined as literals: n_cells struct comparisons per row, no shuffle.
2. Search (``_ivf_search``): each query probes its ``n_probe`` nearest
   cells and is rescored exactly against those cells' members only — an
   equi-join on cell id, candidate fraction ≈ n_probe/n_cells.

Recall/cost dial: (n_cells, n_probe). Unlike LSH there is no hashing
variance — probing more cells monotonically approaches exact search.
"""

from __future__ import annotations

import math

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from salesanalytics_etl_spark.operators.similarity import (
    _dot_sql,
    _norm_sql,
    cosine,
)

N_CLUSTERS = 16
N_PROBE = 4
SEED = 42
SAMPLE_CAP = 4096


def _spherical_kmeans(sample: np.ndarray, k: int, iters: int = 8) -> np.ndarray:
    """Deterministic Lloyd's on the unit sphere (assign by max dot,
    recenter = normalized mean). Runs on the driver over the bounded
    sample in milliseconds — a distributed fit at quantizer scale is all
    scheduling overhead."""
    norms = np.sqrt((sample * sample).sum(axis=1, keepdims=True))
    pts = sample / np.where(norms == 0, 1.0, norms)
    rng = np.random.RandomState(SEED)
    centroids = pts[rng.choice(len(pts), size=min(k, len(pts)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(pts @ centroids.T, axis=1)
        for c in range(len(centroids)):
            members = pts[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.sqrt((m * m).sum())
                if n > 0:
                    centroids[c] = m / n
    return centroids


def _fit_centroids(
    corpus: DataFrame, id_col: str, vec_col: str, k: int
) -> list[tuple[int, np.ndarray]]:
    """The trained quantizer as anchor rows ``(centroid index, centroid)``."""
    n = corpus.count()
    step = max(1, n // SAMPLE_CAP)
    # hash-stride sample: deterministic across partitionings/sessions,
    # unlike df.sample whose draw depends on partition layout. Striding
    # on the HASH of the id, not the id itself — raw residues can be
    # empty (all-odd ids with step 2 select zero rows and the k-means
    # fit crashes on an empty array) while hash residues are uniform
    # under any id-assignment scheme.
    pdf = (
        corpus.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(step)) == 0)
        .select(vec_col)
        .limit(SAMPLE_CAP)
        .toPandas()
    )
    if len(pdf) == 0:  # belt-and-braces: tiny corpora or extreme skew
        pdf = corpus.select(vec_col).limit(SAMPLE_CAP).toPandas()
    sample = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    return list(enumerate(_spherical_kmeans(sample, k)))


def _anchor_sims(vec_col: str, anchor_rows) -> list[str]:
    """One ``named_struct('s', round(cosine, 6), 'nid', -anchor_id)`` SQL
    expression per anchor, over ``vec_col`` and its norm column ``_cn``.
    The structs compare as (desc sim, asc anchor id), the
    cross-engine-stable total order, so ``greatest`` picks the nearest
    anchor and a descending ``sort_array`` ranks them.

    Each anchor is ONE string literal of shortest round-trip reprs cast
    to array<double>: the optimizer folds it to the same doubles that 64
    ``0.5D``-style literals parse to, without the parser's ~10 ms per 64
    such literals. |a| is summed in Python in the same left-to-right
    float64 order as the SQL |c|, so the quotient equals
    ``similarity.cosine``'s bit for bit. An empty quantizer (an empty
    corpus samples no anchors) yields one NULL struct, which matches no
    cell.
    """
    v = f"`{vec_col}`"
    cands = []
    for aid, a_vec in anchor_rows:
        a = [float(x) for x in a_vec]
        anorm = math.sqrt(sum((x * x for x in a), 0.0))
        lits = ",".join(map(repr, a))
        dot = _dot_sql(v, f"CAST(split('{lits}', ',') AS ARRAY<DOUBLE>)")
        cands.append(
            f"named_struct('s', round({dot} / (_cn * {anorm!r}D), 6), "
            f"'nid', {-int(aid)}L)"
        )
    return cands or ["CAST(NULL AS STRUCT<s: DOUBLE, nid: BIGINT>)"]


def _with_norm(df: DataFrame, vec_col: str) -> DataFrame:
    # |v| is hoisted to one column per row instead of one per anchor
    return df.withColumn("_cn", F.expr(_norm_sql(f"`{vec_col}`")))


def _assign(df: DataFrame, anchor_rows, vec_col: str) -> DataFrame:
    """``df`` + (cell, cell_sim): the nearest anchor of ``vec_col``, the
    ``greatest`` of :func:`_anchor_sims` — ONE SQL expression (one py4j
    call), n_cells struct comparisons per row, no shuffle."""
    cands = _anchor_sims(vec_col, anchor_rows)
    best = cands[0] if len(cands) == 1 else f"greatest({', '.join(cands)})"
    return (
        _with_norm(df, vec_col)
        .withColumn("_b", F.expr(best))
        .select(
            *df.columns,
            (-F.col("_b.nid")).alias("cell"),
            F.col("_b.s").alias("cell_sim"),
        )
    )


def _ivf_search(
    corpus: DataFrame,
    queries: DataFrame,
    anchor_rows,
    k: int,
    n_probe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Top-k by rounded cosine (ties by neighbor_id) among the members of
    each query's ``n_probe`` nearest cells. The probes are ranked map-side
    from the same anchor structs as the assignment (the first
    ``n_probe`` of the descending ``sort_array``) and exploded; they
    (bounded: queries × n_probe rows) carry ``q_vec`` and broadcast into
    the corpus assignment, so the corpus is scanned once and never
    shuffled before the final per-query top-k."""
    if n_probe < 1:
        raise ValueError(f"n_probe must be positive, got {n_probe}")
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    sims = ", ".join(_anchor_sims("q_vec", anchor_rows))
    ranked = f"slice(sort_array(array({sims}), false), 1, {n_probe})"
    probes = (
        _with_norm(q, "q_vec")
        .select("query_id", "q_vec", F.explode(F.expr(ranked)).alias("_p"))
        .select("query_id", "q_vec", (-F.col("_p.nid")).alias("cell"))
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        _assign(c, anchor_rows, "c_vec")
        .join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine("q_vec", "c_vec"), 6).alias("cosine_sim"),
        )
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("_rk", F.row_number().over(wk))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_clusters: int = N_CLUSTERS,
    n_probe: int = N_PROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k via IVF probing over the trained
    quantizer. Output matches cosine_topk_bruteforce's schema; ties
    broken by neighbor_id."""
    centroids = _fit_centroids(corpus, id_col, vec_col, n_clusters)
    return _ivf_search(corpus, queries, centroids, k, n_probe, id_col, vec_col)


def assign_clusters(
    corpus: DataFrame,
    n_clusters: int = N_CLUSTERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hard-assign every vector to its nearest trained centroid.

    Returns the corpus columns + (cluster, centroid_sim): the centroid
    index and the 6dp cosine to it. Fits the same quantizer the IVF
    search path probes, so cluster profiles and ANN share one model.
    """
    centroids = _fit_centroids(corpus, id_col, vec_col, n_clusters)
    return _assign(corpus, centroids, vec_col).select(
        *corpus.columns,
        F.col("cell").cast("int").alias("cluster"),
        F.col("cell_sim").alias("centroid_sim"),
    )


def _portable_anchors(
    corpus: DataFrame, n_cells: int, id_col: str, vec_col: str
) -> list:
    """The portable quantizer: the ``n_cells`` corpus rows with the
    smallest md5-derived keys — a deterministic uniform sample both
    engines can reproduce (k-means|| seeding without the iterations).

    Collected (BOUNDED: n_cells rows — the sanctioned sketch-sized
    collect), so plan CONSTRUCTION is eager and the anchors are frozen at
    build time. A degenerate ``n_cells <= 0`` raises loudly (silent-empty
    results hide parameter bugs)."""
    from salesanalytics_etl_spark.operators.dedup import md5_token_hash

    if n_cells <= 0:
        raise ValueError(f"n_cells must be positive, got {n_cells}")
    h = md5_token_hash(
        F.concat_ws("-", F.lit("anchor"), F.col(id_col).cast("string"))
    )
    return (
        corpus.select(
            F.col(id_col).alias("anchor_id"),
            F.col(vec_col).alias("a_vec"),
            h.alias("_h"),
        )
        .orderBy("_h", "anchor_id")
        .limit(n_cells)
        .drop("_h")
        .collect()
    )


def portable_cell_assignment(
    corpus: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cid, cell, cell_sim): each vector's nearest md5-sampled anchor —
    the assignment stage of the portable IVF (q112) and the
    cell-statistics report (q113), strictly map-side."""
    rows = _portable_anchors(corpus, n_cells, id_col, vec_col)
    c = corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("c_vec"))
    return _assign(c, rows, "c_vec").drop("c_vec")


def cosine_topk_ivf_portable(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe-N ANN with the DETERMINISTIC md5-sampled quantizer —
    every stage replayable in ANSI SQL, so the approximate output itself
    is oracle-checkable (the q28/q109 pattern applied to IVF). "IVF over
    sampled centroids" is the standard quality baseline the trained
    quantizer (q34) is measured against. The anchors are collected once
    and feed both the probes and the corpus assignment."""
    anchor_rows = _portable_anchors(corpus, n_cells, id_col, vec_col)
    return _ivf_search(
        corpus, queries, anchor_rows, k, n_probe, id_col, vec_col
    )
