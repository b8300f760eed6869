"""Bloom decontamination saturation probe (r13 verdict item 3).

q192's FP path measured ZERO at every exact-copy probe volume because
replicated text collapses the distinct 13-gram domain (~6k grams at any
factor). This probe runs the q192 audit on the CONTENT-SCALING
edit-noise corpus (each replica a distinct ~10%-token-edit variant, so
the distinct-gram count grows with volume) and reports, per volume:

- distinct benchmark grams inserted,
- measured filter load (set bits / m, from the packed word relation —
  the quantity 1-exp(-kn/m) predicts),
- exact vs Bloom flagged docs, the FP doc count and fp_doc_bp, and
- wall time of the audit.

The benchmark/corpus split mirrors q192 (doc_id % 50). With edit-noise
content, corpus docs that are VARIANTS of benchmarked base docs share
an (1-edit_rate)^13 fraction of their grams, so exact contamination
stays nonzero while the growing gram domain drives the filter toward
saturation — the regime where the Bloom monitor's FP overhead becomes
measurable and the m_bits sizing rule matters.

Usage:
    SPARK_GRAFT_PROBE_EDITNOISE=1 SPARK_GRAFT_PROBE_FACTOR=30 \
        python tools/bloom_probe.py [--no-build] [--m-bits 1048576]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from tools import scale_probe  # noqa: E402  (reads env at import)


def main() -> None:
    from pyspark.sql import functions as F

    from salesanalytics_etl_spark.operators.dedup import (
        md5_token_hash,
        word_shingle_rows,
    )
    from salesanalytics_etl_spark.operators.sketches import (
        bloom_decontaminate_audit,
    )
    from salesanalytics_etl_spark.session import get_spark

    m_bits = 1 << 20
    if "--m-bits" in sys.argv:
        m_bits = int(sys.argv[sys.argv.index("--m-bits") + 1])
    k_hashes, n = 7, 13

    spark = get_spark(app_name="bloom_probe")
    if "--no-build" not in sys.argv:
        scale_probe.build(spark, ["documents"])
    docs = spark.read.parquet(f"{scale_probe.PROBE}/documents.parquet")
    n_docs = docs.count()
    print(
        f"probe corpus: {n_docs} docs ({scale_probe.FACTOR}x, "
        f"editnoise={scale_probe.EDITNOISE}, m_bits={m_bits})"
    )

    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)

    # benchmark gram domain + filter load, by the audit's own md5 scheme
    bench_h = (
        word_shingle_rows(bench, n=n)
        .select(md5_token_hash(F.col("sh")).alias("h"))
        .distinct()
    )
    n_grams = bench_h.count()
    i = F.explode(F.sequence(F.lit(0), F.lit(k_hashes - 1))).alias("i")
    set_bits = (
        bench_h.select("h", i)
        .select(
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
            ).alias("pos")
        )
        .distinct()
        .count()
    )
    load = set_bits / m_bits
    import math

    pred = 1 - math.exp(-k_hashes * n_grams / m_bits)
    print(
        f"bench grams: {n_grams}  set bits: {set_bits}  "
        f"load {load:.4f} (1-exp(-kn/m) predicts {pred:.4f})  "
        f"analytic fp/gram ~ {load ** k_hashes:.2e}"
    )

    t0 = time.perf_counter()
    row = bloom_decontaminate_audit(
        corpus, bench, n=n, m_bits=m_bits, k_hashes=k_hashes
    ).collect()[0]
    dt = time.perf_counter() - t0
    print(
        f"audit {dt:6.2f}s: corpus_docs {row.n_corpus_docs}  "
        f"exact {row.n_flagged_exact}  bloom {row.n_flagged_bloom}  "
        f"fp_docs {row.n_false_pos_docs}  fp_doc_bp {row.fp_doc_bp}"
    )


if __name__ == "__main__":
    main()
