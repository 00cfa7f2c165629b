"""A/B dp_text_stats' repetition-signal computation (judge r14 #6): the
staged higher-order-function folds (text.repetition_stats +
text.ngram_char_frac_cols — interpreted CodegenFallback per the r14
profile) vs the Arrow-vectorized single-pass mirror
(datapipe/vectorized.rep_ngram_signals, factorize + flat numpy) on the
10x SCALECHECK documents corpus.

Both arms compute the SAME four columns (dup_word_ratio,
dup_trigram_ratio, top2_char_frac, dup5_char_frac) from the same staged
word array; equality is asserted before timing.  The mirror returns raw
integers and derives ratios/rounding JVM-side, so a value difference is
impossible short of a 64-bit gram-hash collision in the FOLD (the
mirror is exact).

Usage: python tools/repfold_ab.py [--sf DIR]   (default: the 10x dir)
Prints ONE JSON line.  Run ALONE — concurrent JVMs invalidate timings.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, "/root/repo")

PASSES = 3
SPECS = [(2, "top", "top2_char_frac"), (5, "dup", "dup5_char_frac")]
COLS = ["dup_word_ratio", "dup_trigram_ratio", "top2_char_frac",
        "dup5_char_frac"]


def main() -> int:
    from pyspark.sql import functions as F

    from yupana_spark.datapipe.dedup import _fan_out
    from yupana_spark.datapipe.text import (ngram_char_frac_cols,
                                            repetition_stats, words)
    from yupana_spark.datapipe.vectorized import (rep_ngram_cols,
                                                  rep_ngram_signals)
    from yupana_spark.session import get_spark, posture, rehome

    sf = sys.argv[sys.argv.index("--sf") + 1] if "--sf" in sys.argv \
        else "/tmp/yupana_scale10_sf0.1"
    spark = get_spark("repfold-ab",
                      cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    spark.sparkContext.setLogLevel("ERROR")
    docs = _fan_out(rehome(spark.read.parquet(
        os.path.join(sf, "documents.parquet")), posture(spark)))
    staged = docs.withColumn("__lw", words(F.lower(F.col("text"))))

    def arm_fold():
        rep = repetition_stats(F.col("__lw"), as_words=True)
        return staged.select(
            "doc_id",
            rep["dup_word_ratio"].alias("dup_word_ratio"),
            rep["dup_trigram_ratio"].alias("dup_trigram_ratio"),
            *ngram_char_frac_cols(F.col("__lw"),
                                  F.length(F.col("text")), SPECS))

    def arm_arrow():
        s = staged.withColumn("__sig", rep_ngram_signals(F.col("__lw")))
        mc = rep_ngram_cols(F.col("__sig"), F.col("__lw"),
                            F.length(F.col("text")))
        return s.select("doc_id", *[mc[c].alias(c) for c in COLS])

    # equality first (single pass) — EXACT integer aggregates only: a
    # rounded double F.sum is accumulation-order-dependent across the
    # two differently-planned jobs and could flake at a rounding
    # boundary; the order-independent per-row hash sum already proves
    # bit-identical values (r15 review)
    agg = lambda df: df.select(
        F.count("*").alias("n"),
        F.sum(F.hash(*COLS).cast("long")).alias("h")).collect()[0]
    a, b = agg(arm_fold()), agg(arm_arrow())
    assert tuple(a) == tuple(b), (a, b)

    def _noop(df):
        df.write.format("noop").mode("overwrite").save()

    arms = {"fold": arm_fold, "arrow": arm_arrow}
    times = {k: [] for k in arms}
    for k, fn in arms.items():        # warmup (codegen / UDF worker spinup)
        _noop(fn())
    for _ in range(PASSES):
        for k, fn in arms.items():
            t0 = time.perf_counter()
            _noop(fn())
            times[k].append(time.perf_counter() - t0)
    med = {k: round(statistics.median(v), 3) for k, v in times.items()}
    print(json.dumps({
        "metric": "repfold_ab", "sf": sf, "passes": PASSES,
        "rows": a["n"],
        "medians_s": med,
        "all_passes_s": {k: [round(t, 3) for t in v]
                         for k, v in times.items()},
        "speedup_arrow": round(med["fold"] / med["arrow"], 2),
        "results_identical": True,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
