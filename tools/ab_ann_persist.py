"""In-session interleaved A/B for the r18 dp_ann_approx narrow persists
(sd / pairs): the SemDeDup verdict's four sd-consumers and three
pairs-consumers each re-executed a FlatMapGroupsInPandas Gram-kernel
subtree per action.

dp_ann_approx is NOT plan-cached (eager index builds are its timed work),
so the bench-faithful unit here is construct+noop per pass — both forms
rebuilt every pass via the raw entry, alternating, with _persist_narrow
toggled to identity for the old form.  Artifacts (the index frames and
fits) are memoized per application and shared by both forms.

Usage: python tools/ab_ann_persist.py [pairs] [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PAIRS = int(sys.argv[1]) if len(sys.argv) > 1 else 6
SF_DIR = (sys.argv[2] if len(sys.argv) > 2
          else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))


def main() -> None:
    import __spark_entry__ as ent
    from yupana_spark.session import get_spark

    spark = get_spark("ab-ann-persist")
    spark.sparkContext.setLogLevel("ERROR")

    def _noop(df):
        df.write.format("noop").mode("overwrite").save()

    orig = ent._persist_narrow

    def run(new: bool) -> float:
        ent._persist_narrow = orig if new else (lambda slot, df: df)
        try:
            t0 = time.time()
            _noop(ent.dp_ann_approx(spark, SF_DIR))
            return time.time() - t0
        finally:
            ent._persist_narrow = orig

    run(False)
    run(True)
    a, b = [], []
    for i in range(PAIRS):
        a.append(run(False))
        b.append(run(True))
        print(f"pair {i}: old {a[-1]:.3f}s  new {b[-1]:.3f}s")
    print(f"old min {min(a):.3f}s  new min {min(b):.3f}s  "
          f"speedup(min) {min(a) / min(b):.3f}x  "
          f"new faster in {sum(y < x for x, y in zip(a, b))}/{PAIRS}")


if __name__ == "__main__":
    main()
