"""Local mirror of the driver's correctness gate: run every queries() entry on
Spark and its oracle_sql() on DuckDB at sf0.01, compare row count, column
names, and a canonical VALUE HASH the same way the driver does.

The driver (observed via CORRECTNESS_r01.json) converts both results to
pandas, sorts columns by name, sorts rows by all columns, and hashes the
stringified values RAW — no decimal normalization.  Consequences this gate
must reproduce:

* Spark ``toPandas`` keeps DECIMAL columns as ``decimal.Decimal`` objects
  (``str`` -> '123.4500'); DuckDB ``.df()`` renders DECIMAL and HUGEINT as
  float64 (``str`` -> '123.45').  They only coincide when the decimal's
  digits equal the float's shortest repr, so **driver-facing columns must be
  DOUBLE / BIGINT / VARCHAR / BOOL / TIMESTAMP on both sides** — decimals are
  for interior (order-independent) math only.
* Raw ARRAY columns crash the driver's ``sort_values`` (unhashable ndarray);
  this gate reproduces that as a failure instead of hiding it.

Usage: python tools/check_oracle.py [name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    """Driver-style canonical frame: columns sorted by name, rows sorted by
    all columns, values stringified raw."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    if len(pdf.columns):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort")
    return pdf.reset_index(drop=True).astype(str)


def canon_hash(pdf: pd.DataFrame) -> str:
    c = _canon(pdf)
    return hashlib.md5(c.to_csv(index=False).encode()).hexdigest()


def main(only=None):
    import __spark_entry__ as ent
    from yupana_spark.session import get_spark

    spark = get_spark("oracle-check", cpus=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    qs = ent.queries()
    oracles = ent.oracle_sql()
    if len(qs) > 50:
        print(f"WARNING: {len(qs)} queries() entries — driver checks only the "
              f"first 50; these get NO signal: {list(qs)[50:]}")
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sp = fn(spark, SF_DIR).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {exc}")
            failed.append(name)
            continue
        if name not in oracles:
            try:
                canon_hash(sp)  # rows-only entries must still canonicalize
            except Exception as exc:  # noqa: BLE001
                print(f"FAIL  {name}: rows-only but canon crashes "
                      f"(driver would err): {exc}")
                failed.append(name)
                continue
            print(f"ok?   {name}: rows-only ({len(sp)} rows, "
                  f"{time.time()-t0:.1f}s)")
            continue
        try:
            du = con.sql(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {exc}")
            failed.append(name)
            continue
        if sorted(c.lower() for c in sp.columns) != sorted(c.lower() for c in du.columns):
            print(f"FAIL  {name}: columns {list(sp.columns)} vs {list(du.columns)}")
            failed.append(name)
            continue
        if len(sp) != len(du):
            print(f"FAIL  {name}: rowcount {len(sp)} vs {len(du)}")
            failed.append(name)
            continue
        sp.columns = [c.lower() for c in sp.columns]
        du.columns = [c.lower() for c in du.columns]
        try:
            hs, hd = canon_hash(sp), canon_hash(du)
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: canon crashes (driver would err): {exc}")
            failed.append(name)
            continue
        if hs != hd:
            cs, cd = _canon(sp), _canon(du)
            diff = cs.ne(cd)
            bad_cols = [c for c in cs.columns if diff[c].any()]
            r = int(diff.any(axis=1).idxmax())
            print(f"FAIL  {name}: hash mismatch, cols {bad_cols}, e.g. row {r}:")
            print(f"      spark: {cs.iloc[r].tolist()}")
            print(f"      duck : {cd.iloc[r].tolist()}")
            failed.append(name)
            continue
        print(f"OK    {name} ({len(sp)} rows, {time.time()-t0:.1f}s)")
    print()
    if failed:
        print(f"{len(failed)} FAILED: {failed}")
        sys.exit(1)
    print("all queries match (driver-hash-strict)")


if __name__ == "__main__":
    main(set(sys.argv[1:]) or None)
