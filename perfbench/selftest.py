#!/usr/bin/env python3
"""Self-tests of the benchmark's output checks.

Usage: python3 perfbench/selftest.py

Each check must accept the correct result and reject a result with one
changed value, one dropped row or one extra row. Exits non-zero on the
first check that does not.
"""
import os
import shutil
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402

WORK = os.path.join(os.path.dirname(os.path.abspath(__file__)), "target", "selftest")


def spoiled(df):
    """The three one-row faults the checks must see."""
    changed = df.copy()
    changed.iloc[1, changed.columns.get_loc("total")] += 0.01
    return {"changed value": changed, "dropped row": df.drop(index=2),
            "extra row": pd.concat([df, df.iloc[[0]]], ignore_index=True)}


def expect(ok, what):
    print(f"{'ok  ' if ok else 'FAIL'} {what}")
    return ok


def main():
    shutil.rmtree(WORK, ignore_errors=True)
    data = os.path.join(WORK, "data")
    os.makedirs(data)
    events = pd.DataFrame({
        "ts": pd.to_datetime(["2024-01-01 00:10", "2024-01-01 00:20", "2024-01-01 01:05",
                              "2024-01-01 01:06", "2024-01-01 01:07"]),
        "user_id": [1, 2, 1, 3, 3], "event_type": ["view", "view", "click", "view", "click"],
        "value": [1.5, 2.25, 3.0, 4.75, 5.5]})
    events.to_parquet(os.path.join(data, "events.parquet"), index=False)
    for t in check.TABLES:
        if t != "events":
            events.head(0).to_parquet(os.path.join(data, f"{t}.parquet"), index=False)
    con = check.connect(data)
    sql = ("SELECT event_type, user_id, round(sum(value), 2) AS total "
           "FROM events GROUP BY 1, 2 ORDER BY 1, 2")
    good = con.execute(sql).df()
    ok = True

    result = os.path.join(WORK, "result")
    for name, df in {"correct result": good, **spoiled(good)}.items():
        shutil.rmtree(result, ignore_errors=True)
        os.makedirs(result)
        # Rows in another order must not matter, as in the oracle compare.
        df.iloc[::-1].to_parquet(os.path.join(result, "part-0.parquet"), index=False)
        reason = check.check_oracle(con, sql, result)
        ok &= expect((reason is None) == (name == "correct result"),
                     f"oracle compare, {name}: {reason or 'pass'}")

    exact = {("2024-01-01 00:00:00", "view"): 2, ("2024-01-01 01:00:00", "view"): 1,
             ("2024-01-01 01:00:00", "click"): 2}
    ok &= expect(check.approx_distinct_reason(exact, exact) is None, "q18 band, exact counts")
    big = {("h", f"t{i}"): 100 for i in range(20)}
    off = {**big, ("h", "t0"): 130}
    ok &= expect(check.approx_distinct_reason(off, big) is not None,
                 "q18 band, one group 30% off")
    ok &= expect(check.approx_distinct_reason(dict(list(exact.items())[1:]), exact) is not None,
                 "q18 band, one group dropped")
    ok &= expect(check.approx_distinct_reason({**exact, ("h", "t9"): 1}, exact) is not None,
                 "q18 band, one group extra")

    ok &= expect(check.check_stream_rows(con, ["events"], 5) is None, "stream rows, equal")
    ok &= expect(check.check_stream_rows(con, ["events"], 4) is not None,
                 "stream rows, one missing")
    ok &= expect(check.check_stream_rows(con, ["events", "events"], 5) is not None,
                 "stream rows, one replay of two")
    con.close()
    shutil.rmtree(WORK, ignore_errors=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
