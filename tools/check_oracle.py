"""Local stand-in for the driver's correctness gate: run every
__spark_entry__ query on Spark AND its DuckDB oracle at sf0.01, compare
row count, column set, and order-insensitive values.

A FULL run (no ONLY filter) also writes a machine-readable per-query
artifact to CORRECTNESS_full.json in the repo root (round-5 verdict
next-round #2: q51+ were previously evidenced only by this script's
console output), committed at round close so the whole 127-query suite
has a durable record, not just the driver's first 50."""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as E  # noqa: E402
from sassy_spark import build_spark  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None
FULL_OUT = Path(__file__).resolve().parent.parent / "CORRECTNESS_full.json"


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].astype("float64").round(4)
        elif "datetime" in str(df[c].dtype):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif str(df[c].dtype).startswith(("int", "uint")):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns), ignore_index=True)


def main() -> int:
    spark = build_spark()
    con = duckdb.connect()
    for t in E.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    qs = E.queries()
    oracles = E.oracle_sql()
    failed = []
    record: dict[str, dict] = {}

    def rec(name, **kw):
        record[name] = {
            "rows_match": None,
            "schema_match": None,
            "values_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
            **kw,
        }

    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF).toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: spark error {type(ex).__name__}: {ex}")
            failed.append(name)
            rec(name, err=f"spark {type(ex).__name__}: {ex}"[:300])
            continue
        if name not in oracles:
            print(
                f"ok?  {name}: rows-only check, {len(sdf)} rows "
                f"({time.time() - t0:.1f}s)"
            )
            rec(name, spark_rows=len(sdf), err=None, rows_match=True)
            record[name]["rows_only"] = True
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error {ex}")
            failed.append(name)
            rec(name, spark_rows=len(sdf), err=f"duckdb: {ex}"[:300])
            continue
        a, b = canon(sdf), canon(odf)
        rec(
            name,
            spark_rows=len(a),
            oracle_rows=len(b),
            schema_match=list(a.columns) == list(b.columns),
            rows_match=len(a) == len(b),
        )
        if list(a.columns) != list(b.columns):
            print(f"FAIL {name}: columns {list(a.columns)} vs {list(b.columns)}")
            failed.append(name)
            continue
        if len(a) != len(b):
            print(f"FAIL {name}: rows {len(a)} vs {len(b)}")
            failed.append(name)
            continue
        if not a.equals(b):
            neq = (a != b) & ~(a.isna() & b.isna())
            bad = neq.any(axis=1)
            print(f"FAIL {name}: {int(bad.sum())}/{len(a)} differing rows")
            print("  spark:", a[bad].head(3).to_dict("records"))
            print("  duck :", b[bad].head(3).to_dict("records"))
            failed.append(name)
            record[name]["values_match"] = False
            continue
        record[name]["values_match"] = True
        print(f"PASS {name}: {len(a)} rows ({time.time() - t0:.1f}s)")
    print(f"\n{len(failed)} failures: {failed}" if failed else "\nALL PASS")
    if not ONLY:
        FULL_OUT.write_text(
            json.dumps(
                {
                    "sf": SF,
                    "n_queries": len(record),
                    "n_failed": len(failed),
                    "failed": failed,
                    "queries": record,
                },
                indent=1,
            )
        )
        print(f"wrote {FULL_OUT} ({len(record)} queries)")
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
