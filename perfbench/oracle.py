"""Compare ops' outputs with their registered DuckDB oracles.

The harness writes the output of each op it checks as parquet, after
the timed passes. This module runs the op's oracle SQL
(`SparkEntry.oracleSql`) in DuckDB over the tables the op read and
compares the two row multisets the way the repository's oracle gate
does (`tools/check.py`): columns matched by name, rows sorted by value,
cells and types compared exactly.
"""
import glob
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _views(con, tables):
    """Registers every parquet table under `tables` as a view by bare name."""
    for t in sorted(os.listdir(tables)):
        if t.endswith(".parquet"):
            src = os.path.join(tables, t)
            pat = os.path.join(src, "*.parquet") if os.path.isdir(src) else src
            con.execute(f"CREATE VIEW {t[:-len('.parquet')]} AS SELECT * FROM read_parquet('{pat}')")


def _compare(con, chk, norm):
    import pandas as pd
    files = sorted(glob.glob(os.path.join(chk["output"], "*.parquet")))
    if not files:
        return "no output written"
    got = norm(pd.concat([pd.read_parquet(f) for f in files]))
    exp = norm(con.execute(chk["sql"]).df())
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs oracle {list(exp.columns)}"
    if len(got) != len(exp):
        return f"{len(got)} rows vs oracle {len(exp)}"
    if not got.equals(exp):
        neq = got.values != exp.values
        return (f"{int(neq.sum())} of {neq.size} cells differ from the oracle; "
                f"dtypes {dict(got.dtypes.astype(str))} vs {dict(exp.dtypes.astype(str))}")
    return None


def failures(checks):
    """One line per op whose output does not match its oracle."""
    if not checks:
        return []
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check import norm  # the repository's oracle gate
    bad = []
    cons = {}
    for chk in checks:
        tables = chk["tables"]
        if tables not in cons:
            cons[tables] = duckdb.connect()
            cons[tables].execute("SET TimeZone = 'UTC'")
            _views(cons[tables], tables)
        try:
            why = _compare(cons[tables], chk, norm)
        except Exception as e:  # a comparison that cannot run is a failed check
            why = f"oracle comparison raised {type(e).__name__}: {(str(e).splitlines() or [''])[0]}"
        if why:
            bad.append(f"{chk['op']}: {why}")
    return bad
