"""Local replica of the driver's correctness gate: run each queries()
entry on Spark AND its oracle_sql() on DuckDB at sf0.01, compare row
count, schema (column names) and sorted values (driver semantics: columns
sorted by name, rows sorted, value hash).

Usage: python scripts/check_driver.py [query ...]   (default: all)
"""
from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare(sdf: pd.DataFrame, odf: pd.DataFrame) -> str:
    if len(sdf) != len(odf):
        return f"ROWS spark={len(sdf)} oracle={len(odf)}"
    if sorted(sdf.columns) != sorted(odf.columns):
        return f"SCHEMA spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"
    s, o = normalize(sdf), normalize(odf)
    for c in s.columns:
        sv, ov = s[c].to_numpy(), o[c].to_numpy()
        # Driver's value hash is TYPE-sensitive: int64 83669 vs float64
        # 83669.0 hash-mismatch even when numerically equal (VERDICT r4,
        # rel_json_extract: DuckDB SUM(BIGINT)->HUGEINT->float64).  Flag
        # an int-vs-float dtype split before the value-coercing compare.
        s_int = np.issubdtype(sv.dtype, np.integer)
        o_int = np.issubdtype(np.asarray(ov).dtype, np.integer)
        s_flt = np.issubdtype(sv.dtype, np.floating)
        o_flt = np.issubdtype(np.asarray(ov).dtype, np.floating)
        if (s_int and o_flt) or (s_flt and o_int):
            return (f"DTYPE col={c} spark={sv.dtype} "
                    f"oracle={np.asarray(ov).dtype} (driver hash would "
                    f"mismatch even with equal values)")
        if np.issubdtype(sv.dtype, np.floating) or np.issubdtype(
                np.asarray(ov).dtype, np.floating):
            sv = np.asarray(sv, dtype=np.float64)
            ov = np.asarray(ov, dtype=np.float64)
            both_nan = np.isnan(sv) & np.isnan(ov)
            if not np.array_equal(sv[~both_nan], ov[~both_nan]):
                bad = np.where(sv != ov)[0][:3]
                return f"VALUES col={c} rows={bad} spark={sv[bad]} oracle={ov[bad]}"
        elif not np.array_equal(sv.astype(str), np.asarray(ov).astype(str)):
            bad = np.where(sv.astype(str) != np.asarray(ov).astype(str))[0][:3]
            return f"VALUES col={c} rows={bad} spark={sv[bad]} oracle={ov[bad]}"
    return "ok"


def main():
    import __spark_entry__ as E
    from terraspark.session import build_session

    qs, osql = E.queries(), E.oracle_sql()
    picks = sys.argv[1:] or list(qs)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    # one task slot per core of this host: a wider session than the
    # host can back gets its JVM killed for memory on small machines
    spark = build_session("check-driver", cores=int(
        os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count())))
    fails = []
    for name in picks:
        try:
            sdf = qs[name](spark, SF).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"{name:28s} SPARK ERR {exc}")
            fails.append(name)
            continue
        if name not in osql:
            print(f"{name:28s} rows={len(sdf)} (no oracle)")
            continue
        try:
            odf = con.execute(osql[name]).df()
        except Exception as exc:  # noqa: BLE001
            print(f"{name:28s} ORACLE ERR {exc}")
            fails.append(name)
            continue
        verdict = compare(sdf, odf)
        print(f"{name:28s} rows={len(sdf)} {verdict}")
        if verdict != "ok":
            fails.append(name)
    spark.stop()
    if fails:
        print("FAILED:", fails)
        sys.exit(1)
    print("all green")


if __name__ == "__main__":
    main()
