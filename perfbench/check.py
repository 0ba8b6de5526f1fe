"""Output checks: each query's parquet result against a computation made by
DuckDB on the same input files.

The oracle compare follows the rules of the project's `tools/compare.py`:
columns matched by name, every object column compared as text, rows sorted
by all columns, equal row counts, then exact equality of every value.
"""
import glob

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def read_result(result_dir):
    files = sorted(glob.glob(f"{result_dir}/*.parquet"))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(spark_df, oracle_df):
    """None when the frames agree, else the first reason they do not."""
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        return f"columns spark={sorted(spark_df.columns)} oracle={sorted(oracle_df.columns)}"
    a, b = norm(spark_df), norm(oracle_df)
    if len(a) != len(b):
        return f"rows spark={len(a)} oracle={len(b)}"
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return "value mismatch: " + str(e).replace("\n", " ")[:300]
    return None


def check_oracle(con, sql, result_dir):
    sdf = read_result(result_dir)
    if sdf is None:
        return "no result parquet"
    try:
        odf = con.execute(sql).df()
    except Exception as e:  # an oracle that does not run is a failed check
        return f"oracle SQL error: {e}"
    return compare(sdf, odf)


Q18_EXACT = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type, count(DISTINCT user_id) AS exact_users
FROM events GROUP BY 1, 2"""


def approx_distinct_reason(approx, exact):
    """The error bands `ApproxDistinctSpec` documents for q18's HLL sketch
    (rsd 0.05): the same groups as the exact count; over groups with at
    least 20 users a mean relative error of at most 0.05 and a worst of at
    most 0.25; over groups with at least 50 users a worst of at most 0.15.
    Smaller groups are held only to the group set."""
    if set(approx) != set(exact):
        return f"groups differ: {len(set(approx) ^ set(exact))} not in both"
    broad = [abs(approx[k] - e) / e for k, e in exact.items() if e >= 20]
    big = [abs(approx[k] - e) / e for k, e in exact.items() if e >= 50]
    if broad and sum(broad) / len(broad) > 0.05:
        return f"mean error {sum(broad) / len(broad):.4f} > 0.05"
    if broad and max(broad) > 0.25:
        return f"worst error {max(broad):.4f} > 0.25 (exact >= 20)"
    if big and max(big) > 0.15:
        return f"worst error {max(big):.4f} > 0.15 (exact >= 50)"
    return None


def check_q18(con, result_dir):
    sdf = read_result(result_dir)
    if sdf is None:
        return "no result parquet"
    approx = {(w, k): int(n) for w, k, n in
              sdf[["win_start", "event_type", "approx_users"]].itertuples(index=False)}
    exact = {(w, k): int(n) for w, k, n in con.execute(Q18_EXACT).fetchall()}
    return approx_distinct_reason(approx, exact)


def check_stream_rows(con, tables, reported):
    """The input rows a streaming query's progress events report must equal
    the rows of the tables it replays."""
    expected = sum(con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in tables)
    if reported != expected:
        return f"input rows reported={reported} replayed={expected}"
    return None
