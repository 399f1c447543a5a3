"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB over
the same parquet, compare row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted). The
hash covers each column's dtype kind (integer, float, bool, string,
datetime), so a twin that returns DOUBLE (or HUGEINT, which pandas holds
as float) where the query returns BIGINT is red even when every value
prints the same. Integer width is left out, as in the gate this mirrors:
CORRECTNESS_r05.json passes an INTEGER-vs-BIGINT pair (o2_topn_per_group's
row number) and fails an integer-vs-float one (a HUGEINT sum against a
BIGINT one).

Usage: python scripts/check_oracles.py [sf_dir ...] [query_name ...]

Arguments that are directories are scale-factor dirs, the rest select
queries. With no sf_dir the sweep runs sf0.001, then sf0.01.
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

DEFAULT_SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> tuple[int, list[str], dict[str, str], str, str]:
    """(rows, columns, dtype kinds, hash with dtypes, hash of values alone)."""
    cols = sorted(df.columns)
    dtypes = {c: df[c].dtype.kind for c in cols}
    d = df[cols].copy()
    for c in cols:
        if str(d[c].dtype).startswith("float"):
            d[c] = d[c].map(lambda x: f"{x:.9g}")
        else:
            d[c] = d[c].astype(str)
    rows = sorted(d.apply(lambda r: "\x01".join(r.values), axis=1).tolist()) if len(d) else []
    head = "\x01".join(f"{c}:{dtypes[c]}" for c in cols)
    h = hashlib.md5("\n".join([head, *rows]).encode()).hexdigest()
    hv = hashlib.md5("\n".join(rows).encode()).hexdigest()
    return len(df), cols, dtypes, h, hv


def check_sf(spark, sf_dir: str, only: set[str] | None) -> int:
    import __spark_entry__ as e

    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    qs, oracles = e.queries(), e.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error {type(ex).__name__}: {str(ex)[:200]}")
            failures += 1
            continue
        if name not in oracles:
            print(f"rows-only {name}: {len(spark_pdf)} rows, cols={sorted(spark_pdf.columns)}")
            continue
        try:
            duck_pdf = con.execute(oracles[name]).df()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error {type(ex).__name__}: {str(ex)[:200]}")
            failures += 1
            continue
        sn, sc, sd, sh, sv = canon(spark_pdf)
        dn, dc, dd, dh, dv = canon(duck_pdf)
        status = "OK  " if (sn, sc, sh) == (dn, dc, dh) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(f"{status} {name}: spark({sn} rows, {sh[:10]}) duck({dn} rows, {dh[:10]}) cols={'=' if sc == dc else f'{sc} vs {dc}'}")
        if status == "FAIL" and sc == dc:
            diff = {c: f"{sd[c]} vs {dd[c]}" for c in sc if sd[c] != dd[c]}
            if diff:
                same = "values equal" if (sn, sv) == (dn, dv) else "values differ"
                print(f"  dtypes (spark vs duck): {diff}; {same}")
        if status == "FAIL" and sn == dn and sc == dc:
            # show first differing row for debugging
            a = spark_pdf[sc].sort_values(sc).reset_index(drop=True)
            b = duck_pdf[sc].sort_values(sc).reset_index(drop=True)
            diff = (a.astype(str) != b.astype(str)).any(axis=1)
            if diff.any():
                i = diff.idxmax()
                print("  spark:", a.iloc[i].to_dict())
                print("  duck :", b.iloc[i].to_dict())
    return failures


def main() -> int:
    args = sys.argv[1:]
    sf_dirs = [a for a in args if os.path.isdir(a)] or DEFAULT_SF_DIRS
    only = {a for a in args if not os.path.isdir(a)} or None

    from xdan_dqa_spark.session import get_spark

    spark = get_spark("check_oracles")
    totals = {}
    for sf_dir in sf_dirs:
        print(f"== {sf_dir}")
        totals[sf_dir] = check_sf(spark, sf_dir, only)
    spark.stop()
    print()
    for sf_dir, n in totals.items():
        print(f"{sf_dir}: {n} failures")
    return 1 if any(totals.values()) else 0


if __name__ == "__main__":
    sys.exit(main())
