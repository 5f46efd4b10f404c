"""DuckDB oracle compare for query_mix results.

Each query's Spark result (one parquet directory per query) is compared
with its `SparkEntry.oracleSql` text run by DuckDB over the same fixture
files: columns sorted by name, rows sorted, values stringified.
"""
import glob
import os

import duckdb


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1).astype(str)
    return sorted(map(tuple, df.values.tolist()))


def compare(fixture_dir, results_dir, oracle_sql):
    """One check per query: {"name", "ok", "detail"}."""
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(fixture_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    checks = []
    for name, sql in sorted(oracle_sql.items()):
        files = sorted(glob.glob(os.path.join(results_dir, name, "*.parquet")))
        try:
            if not files:
                raise ValueError("no Spark output")
            want = con.execute(sql).fetchdf()
            got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
            if sorted(want.columns) != sorted(got.columns):
                detail = f"columns oracle={sorted(want.columns)} spark={sorted(got.columns)}"
            else:
                w, g = _canon(want), _canon(got)
                diff = [(x, y) for x, y in zip(w, g) if x != y][:2]
                detail = "" if w == g else f"rows oracle={len(w)} spark={len(g)} first diffs {diff}"
        except Exception as e:  # an oracle or read error fails the check
            detail = f"{type(e).__name__}: {e}"[:300]
        checks.append({"name": f"oracle:{name}", "ok": detail == "", "detail": detail})
    con.close()
    return checks
