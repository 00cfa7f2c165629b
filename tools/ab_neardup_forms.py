"""CORRECTED in-session interleaved A/B for dp_neardup_scale form changes.

The first r18 A/B scripts went through ent.queries(), whose prepared-plan
cache returns the FIRST-built DataFrame on every later call — both "forms"
were the same cached plan and the comparison measured only pass-ordering
drift.  This harness builds each form ONCE by calling the RAW entry
function directly (construction effects reported separately), then
alternates noop passes over the two live DataFrames — exactly the bench's
per-pass semantics (bench re-executes one session-cached plan).

Usage: python tools/ab_neardup_forms.py <which> [pairs]
  which = cellrep   (A: _cell_repartition identity, B: shipped)
        | gate      (A: per-call probe path,        B: gate_small path)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WHICH = sys.argv[1] if len(sys.argv) > 1 else "cellrep"
PAIRS = int(sys.argv[2]) if len(sys.argv) > 2 else 6


def main() -> None:
    import __spark_entry__ as ent
    import yupana_spark.datapipe.dedup as dd
    from yupana_spark.session import get_spark

    spark = get_spark("ab-neardup-forms")
    spark.sparkContext.setLogLevel("ERROR")

    def _noop(df):
        df.write.format("noop").mode("overwrite").save()

    # warm the artifact memo once (shared by both forms)
    _noop(ent.dp_neardup_scale(spark, SF_DIR))

    def build(form: str):
        if WHICH == "cellrep":
            orig = dd._cell_repartition
            if form == "A":
                dd._cell_repartition = lambda cells, *a, **kw: cells
            try:
                t0 = time.time()
                df = ent.dp_neardup_scale(spark, SF_DIR)
                t_build = time.time() - t0
            finally:
                dd._cell_repartition = orig
        else:  # gate
            orig = dd.minhash_dedup_pairs

            def probe_form(*a, **kw):
                kw.pop("gate_small", None)
                return orig(*a, **kw)

            if form == "A":
                dd.minhash_dedup_pairs = probe_form
            try:
                t0 = time.time()
                df = ent.dp_neardup_scale(spark, SF_DIR)
                t_build = time.time() - t0
            finally:
                dd.minhash_dedup_pairs = orig
        return df, t_build

    df_a, build_a = build("A")
    df_b, build_b = build("B")
    print(f"construction: A {build_a:.3f}s  B {build_b:.3f}s")
    _noop(df_a)
    _noop(df_b)
    a, b = [], []
    for i in range(PAIRS):
        t0 = time.time()
        _noop(df_a)
        a.append(time.time() - t0)
        t0 = time.time()
        _noop(df_b)
        b.append(time.time() - t0)
        print(f"pair {i}: A {a[-1]:.3f}s  B {b[-1]:.3f}s")
    print(f"A min {min(a):.3f}s  B min {min(b):.3f}s  "
          f"speedup(min) {min(a) / min(b):.3f}x  "
          f"B faster in {sum(y < x for x, y in zip(a, b))}/{PAIRS}")


if __name__ == "__main__":
    main()
