"""Oracle check of the batch workloads: each query's result (dumped by the
harness as parquet) against DuckDB running `SparkEntry.oracleSql(name)` on
the same generated tables, by the rules of the repo's oracle gate
(`tools/compare_oracle.py`, whose type rules are reused): columns compared
by name, no wide oracle types, compatible type classes, rows as exact
multisets of VARCHAR casts (EXCEPT ALL both ways inside DuckDB)."""
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from compare_oracle import FORBIDDEN, cols_of, type_class  # noqa: E402


def compare(con, got_q, want_q):
    got, want = sorted(cols_of(con, got_q)), sorted(cols_of(con, want_q))
    if [c for c, _ in got] != [c for c, _ in want]:
        return f"SCHEMA got={[c for c, _ in got]} want={[c for c, _ in want]}"
    wide = [c for c, t in want if t.upper().startswith(FORBIDDEN)]
    if wide:
        return f"WIDETYPE {wide}"
    bad = [c for (c, g), (_, w) in zip(got, want) if type_class(g) != type_class(w)]
    if bad:
        return f"DTYPE {bad}"
    proj = ", ".join(f'CAST("{c}" AS VARCHAR) AS "{c}"' for c, _ in got)
    n_got, n_want, n_diff = con.sql(f"""
        WITH g AS (SELECT {proj} FROM ({got_q})), w AS (SELECT {proj} FROM ({want_q}))
        SELECT (SELECT count(*) FROM g), (SELECT count(*) FROM w),
               (SELECT count(*) FROM ((SELECT * FROM g EXCEPT ALL SELECT * FROM w)
                                      UNION ALL (SELECT * FROM w EXCEPT ALL SELECT * FROM g)))
    """).fetchone()
    if n_got != n_want:
        return f"ROWS got={n_got} want={n_want}"
    return f"VALUES {n_diff} rows differ" if n_diff else f"OK {n_got}"


def check(data_dir, out_dir):
    """Returns {query: verdict}; a verdict starting with OK is a match."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{out_dir}/duckdb_tmp'")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{data_dir}/{f}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    verdicts = {}
    for name, sql in sorted(oracle.items()):
        if os.path.exists(f"{out_dir}/{name}.error"):
            verdicts[name] = "ERROR in engine"
            continue
        try:
            verdicts[name] = compare(con, f"SELECT * FROM '{out_dir}/{name}/*.parquet'", sql)
        except Exception as e:  # an oracle or read failure is a failed check
            verdicts[name] = f"ERROR {str(e)[:160]}"
            try:
                con.execute("ROLLBACK")
            except Exception:
                pass
    return verdicts
