"""DuckDB output checks for the graft benchmark.

The comparison is the one `dev/check.py` applies to graft's catalogue:
column names sorted, equal row counts, per-column value equality with
NULL == NULL, and no dtype-kind difference. Catalogue query results keep
their total order; pipeline tables are compared as sorted row sets,
because a warehouse table has no row order.
"""
import glob
import os

import duckdb
import pandas as pd

ANCHOR = "anchor AS (SELECT CAST(max(o_orderdate) AS DATE) AS a FROM orders)"


def connect(data_dir):
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.sql(f"CREATE OR REPLACE TEMP VIEW {name} AS SELECT * FROM '{p}'")
    return con


def read_dir(con, path):
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    files = [f for f in files if not any(part.startswith(("_", "."))
                                         for part in os.path.relpath(f, path).split(os.sep))]
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    listed = ", ".join(f"'{f}'" for f in files)
    return con.sql(f"SELECT * FROM read_parquet([{listed}])").df()


def compare(sdf, odf, ordered):
    """None when the frames agree, else a one-line reason."""
    odf = odf[sorted(odf.columns)]
    sdf = sdf[sorted(sdf.columns)]
    if list(odf.columns) != list(sdf.columns):
        return f"columns spark={list(sdf.columns)} oracle={list(odf.columns)}"
    if len(odf) != len(sdf):
        return f"rows spark={len(sdf)} oracle={len(odf)}"
    if not ordered and len(odf):
        cols = list(odf.columns)
        odf = odf.sort_values(cols, na_position="first").reset_index(drop=True)
        sdf = sdf.sort_values(cols, na_position="first").reset_index(drop=True)
    for c in odf.columns:
        a, b = sdf[c], odf[c]
        try:
            eq = a.equals(b) or bool(((a == b) | (a.isna() & b.isna())).all())
        except Exception:
            eq = list(a) == list(b)
        if not eq:
            return f"value mismatch in column {c}"
        if getattr(a.dtype, "kind", "?") != getattr(b.dtype, "kind", "?"):
            return f"dtype kind diff in {c}: spark={a.dtype} oracle={b.dtype}"
    return None


def check_query(con, sql, out_dir):
    return compare(read_dir(con, out_dir), con.sql(sql).df(), ordered=True)


def check_day(con, oracle_sql, data_dir, chk, csv_rows):
    """One execution date of the incremental loop: its raw landing, its fact
    slice and summary rows, and the customer mart as of that date, against
    the batch oracle over the dates processed so far."""
    day, days = chk["day"], chk["days"]
    for table, rows in csv_rows.items():
        part = os.path.join(chk["warehouse"], "raw", table, f"ingestion_date={day}")
        landed = sum(pd.read_parquet(f).shape[0] for f in glob.glob(os.path.join(part, "*.parquet")))
        if landed != rows:
            return f"raw.{table}: {landed} rows landed, {rows} in the CSV drop"
    listed = ", ".join(f"DATE '{d}'" for d in days)
    con.sql(f"CREATE OR REPLACE TEMP VIEW orders AS SELECT * FROM "
            f"'{os.path.join(data_dir, 'orders.parquet')}' "
            f"WHERE CAST(o_orderdate AS DATE) IN ({listed})")
    try:
        for name, col in (("fact_orders", "order_date"), ("sales_summary", "date")):
            sql = f"SELECT * FROM ({oracle_sql[name]}) WHERE {col} = DATE '{day}'"
            got = read_dir(con, os.path.join(chk["check_dir"], name))
            got = got[got[col] == pd.Timestamp(day)].reset_index(drop=True)
            why = compare(got, con.sql(sql).df(), ordered=False)
            if why:
                return f"{name}: {why}"
        sql = oracle_sql["customer_analytics"]
        if ANCHOR not in sql:
            return "customer_analytics oracle no longer has the anchor this check pins"
        sql = sql.replace(ANCHOR, f"anchor AS (SELECT DATE '{day}' AS a)")
        why = compare(read_dir(con, chk["customers"]),
                      con.sql(sql).df(), ordered=False)
        return f"customer_analytics: {why}" if why else None
    finally:
        con.sql(f"CREATE OR REPLACE TEMP VIEW orders AS SELECT * FROM "
                f"'{os.path.join(data_dir, 'orders.parquet')}'")
