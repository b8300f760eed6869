"""Edit-noise volume probe: the PRODUCTION near-dup pipeline measured on
realistic near-duplicate cliques at probe volume (r12 verdict gap #2).

The standard scale probe replicates document text EXACTLY, so every
prior volume measurement of MinHash+LSH ran in the degenerate regime
(J = 1.0 cliques). This probe builds the corpus with
``SPARK_GRAFT_PROBE_EDITNOISE=1`` — replica i of each base doc is a
deterministic ~10%-token-drop variant (distinct salt per replica), so
the FACTOR replicas of one base doc form a clique of realistic
near-duplicates with pairwise shingle Jaccard ~0.6-0.9 — and measures:

1. Ground truth: exact shingle Jaccard for every within-clique pair
   (base_id-keyed self-join — bounded FACTOR^2 pairs per base, never
   all-pairs).
2. Production recall: which GT pairs with J >= 0.5 does
   ``minhash_near_dupes`` (xxhash64, 6x5 banding, bucket cap 64,
   estimate filter) actually emit — binned by true Jaccard, against
   the analytic S-curve 1-(1-J^5)^6.
3. Precision context: emitted pairs OUTSIDE the cliques (organic
   near-dups of the base corpus, scaled).
4. Portable recall: the same per-band recall for the oracle-replayable
   ``minhash_near_dupes_portable`` on the same ground truth, printed
   beside production's overall recall (ROADMAP item 8's 0.02 gate).
5. Bucket shape: the q116 audit (band bucket sizes, cap drops) under
   the realistic regime.

Usage:
    SPARK_GRAFT_PROBE_EDITNOISE=1 SPARK_GRAFT_PROBE_FACTOR=30 \
        python tools/editnoise_probe.py [--no-build] [--recover R]

``--recover R[,R2,...]`` measures the r14 capped-bucket recovery knob
(minhash_near_dupes recover_rounds=R) on the same GT — a comma list
sweeps the knee in ONE warm session (GT computed once, wall deltas =
marginal recovery cost);
``SPARK_GRAFT_PROBE_EDITMODE=mixed`` builds the replica cliques with
delete+replace+insert edits (the shingle-adding regime). Results are
recorded in SCALE.md (Round-13 for the drop-only baseline, Round-14
for mixed edits and recovery).
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

os.environ.setdefault("SPARK_GRAFT_PROBE_EDITNOISE", "1")

from tools import scale_probe  # noqa: E402  (reads env at import)


def _band_recall(target, found, band, label: str, analytic: bool) -> tuple[int, int]:
    """Print the recall of ``found`` (doc_a, doc_b pairs) on the GT pairs
    ``target``, binned by true-Jaccard ``band``; return (hits, GT pairs).
    ``analytic`` adds the production banding's S-curve 1-(1-J^5)^6."""
    from pyspark.sql import functions as F

    gt_by = target.select(band).groupBy("band").agg(F.count("*").alias("n_gt"))
    hit_by = (
        target.join(found, ["doc_a", "doc_b"], "left_semi")
        .select(band)
        .groupBy("band")
        .agg(F.count("*").alias("n_hit"))
    )
    recall = (
        gt_by.join(hit_by, "band", "left")
        .select("band", "n_gt", F.coalesce("n_hit", F.lit(0)).alias("n_hit"))
        .orderBy("band")
        .collect()
    )
    tot_gt = tot_hit = 0
    for r in recall:
        curve = ""
        if analytic:
            s_curve = 1 - (1 - (r.band / 10000 + 0.025) ** 5) ** 6
            curve = f"  (analytic {s_curve:.3f})"
        print(
            f"  {label}J[{r.band/10000:.2f},{r.band/10000+0.05:.2f}): "
            f"GT {r.n_gt:>7} hit {r.n_hit:>7} "
            f"recall {r.n_hit/r.n_gt:6.3f}{curve}"
        )
        tot_gt += r.n_gt
        tot_hit += r.n_hit
    return tot_hit, tot_gt


def main() -> None:
    from pyspark.sql import functions as F

    from salesanalytics_etl_spark.operators.dedup import (
        lsh_bucket_audit,
        minhash_near_dupes,
        minhash_near_dupes_portable,
        shingle_rows,
        shingle_sets,
    )
    from salesanalytics_etl_spark.session import get_spark

    assert scale_probe.EDITNOISE, "set SPARK_GRAFT_PROBE_EDITNOISE=1"
    spark = get_spark(app_name="editnoise_probe")

    base_dir, probe_dir = scale_probe.BASE, scale_probe.PROBE
    if "--no-build" not in sys.argv:
        scale_probe.build(spark, ["documents"])
    docs = spark.read.parquet(f"{probe_dir}/documents.parquet")
    dom = (
        spark.read.parquet(f"{base_dir}/documents.parquet")
        .agg(F.max("doc_id"))
        .collect()[0][0]
        + 1
    )
    n_docs = docs.count()
    print(f"probe corpus: {n_docs} docs ({scale_probe.FACTOR}x, dom={dom})")

    # --- 1. ground truth: within-clique exact Jaccard -----------------
    sets = (
        shingle_sets(shingle_rows(docs))
        .withColumn("base_id", F.col("doc_id") % dom)
        .persist()
    )
    sets.count()
    a = sets.select(
        "base_id",
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sh_a"),
    )
    b = sets.select(
        "base_id",
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("sh_b"),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    gt = (
        a.join(b, "base_id")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            inter.alias("ov"),
            (
                F.size("sh_a").cast("long")
                + F.size("sh_b").cast("long")
                - inter
            ).alias("un"),
        )
        .select(
            "doc_a",
            "doc_b",
            F.expr("(ov * 20000 + un) div (2 * un)").alias("j_bp"),
        )
        .localCheckpoint()
    )
    sets.unpersist()
    n_gt = gt.count()

    # --- 2. production pipeline ---------------------------------------
    # --recover accepts a comma-separated list (r15: knee measurement —
    # GT is computed ONCE and every R runs in the same warm session, so
    # the wall-time deltas between R values are the marginal recovery
    # cost, not JVM/load noise)
    recovers = (
        [
            int(x)
            for x in sys.argv[sys.argv.index("--recover") + 1].split(",")
        ]
        if "--recover" in sys.argv
        else [0]
    )
    target = gt.filter(F.col("j_bp") >= 5000).persist()
    target.count()
    band = F.expr("least(j_bp, 9999) div 500 * 500").alias("band")
    knee: list[tuple[int, int, float, float]] = []
    for recover in recovers:
        t0 = time.perf_counter()
        found = minhash_near_dupes(  # already a localCheckpoint
            docs, recover_rounds=recover
        )
        n_found = found.count()
        dt = time.perf_counter() - t0
        print(
            f"pipeline (recover_rounds={recover}): {n_found} pairs "
            f"in {dt:.1f}s; GT clique pairs: {n_gt}"
        )
        tot_hit, tot_gt = _band_recall(target, found, band, "", analytic=True)
        print(
            f"overall clique recall (J>=0.5, R={recover}): "
            f"{tot_hit}/{tot_gt} = {tot_hit/max(tot_gt,1):.3f}"
        )
        cross = found.join(gt, ["doc_a", "doc_b"], "left_anti").count()
        print(f"pairs outside cliques (organic near-dups): {cross}")
        knee.append((recover, tot_hit, tot_hit / max(tot_gt, 1), dt))
    if len(knee) > 1:
        print("knee summary (R, hits, recall, wall_s, d_hits/d_s vs prev):")
        for i, (rr, th, rc, dt) in enumerate(knee):
            marg = ""
            if i > 0:
                dh = th - knee[i - 1][1]
                ds = dt - knee[i - 1][3]
                marg = f"  marginal {dh} hits / {ds:+.1f}s"
            print(f"  R={rr:>2}: hits {th} recall {rc:.3f} wall {dt:.1f}s{marg}")

    # --- 3. portable twin on the same GT (recover_rounds=0) ------------
    t0 = time.perf_counter()
    pfound = minhash_near_dupes_portable(docs).localCheckpoint()
    n_pfound = pfound.count()
    print(
        f"portable pipeline: {n_pfound} pairs in "
        f"{time.perf_counter()-t0:.1f}s"
    )
    p_hit, p_gt = _band_recall(target, pfound, band, "portable ", analytic=False)
    p_recall = p_hit / max(p_gt, 1)
    print(
        f"overall clique recall (J>=0.5): portable {p_hit}/{p_gt} = "
        f"{p_recall:.3f}, production (R={knee[0][0]}) {knee[0][2]:.3f}, "
        f"gap {knee[0][2] - p_recall:+.3f}"
    )
    target.unpersist()

    # --- 4. bucket shape under the realistic regime -------------------
    audit = lsh_bucket_audit(docs).collect()
    for r in audit:
        print(f"  bucket audit: {r}")

    # --- 5. production SimHash path on the same cliques ----------------
    # SimHash(<=3) targets the near-exact tail; this measures how much
    # of the realistic-edit clique mass it sees, per true-J band.
    # --simhash-recover R runs the r15 capped-bucket recovery pass —
    # the knob the reorder corpus needs (collapsed signature buckets
    # blow the cap exactly where the clique mass is).
    from salesanalytics_etl_spark.operators.dedup import simhash_near_dupes

    srecovers = (
        [
            int(x)
            for x in sys.argv[
                sys.argv.index("--simhash-recover") + 1
            ].split(",")
        ]
        if "--simhash-recover" in sys.argv
        else [0]
    )
    sgt_by = (
        gt.select(band).groupBy("band").agg(F.count("*").alias("n_gt"))
    )
    for srecover in srecovers:
        t0 = time.perf_counter()
        sfound = simhash_near_dupes(
            docs, max_hamming=3, recover_rounds=srecover
        )
        n_sfound = sfound.count()
        print(
            f"simhash(<=3, R={srecover}): {n_sfound} pairs "
            f"in {time.perf_counter()-t0:.1f}s"
        )
        shit_by = (
            gt.join(sfound, ["doc_a", "doc_b"], "left_semi")
            .select(band)
            .groupBy("band")
            .agg(F.count("*").alias("n_hit"))
        )
        srecall = (
            sgt_by.join(shit_by, "band", "left")
            .select(
                "band",
                "n_gt",
                F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            )
            .orderBy("band")
            .collect()
        )
        tot_g = tot_h = 0
        for r in srecall:
            print(
                f"  simhash J[{r.band/10000:.2f},{r.band/10000+0.05:.2f}): "
                f"GT {r.n_gt:>7} hit {r.n_hit:>7} "
                f"recall {r.n_hit/r.n_gt:6.3f}"
            )
            tot_g += r.n_gt
            tot_h += r.n_hit
        print(
            f"simhash overall (J>=0.5 bands incl. sub-0.5 shown: all GT),"
            f" R={srecover}: {tot_h}/{tot_g} = {tot_h/max(tot_g,1):.3f}"
        )


if __name__ == "__main__":
    main()
