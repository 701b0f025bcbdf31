"""Checks a workload's share of the query mix against its DuckDB oracles.

The JVM side writes every query's full output as parquet under
`<out>/<query>/` and the oracle SQL (`SparkEntry.oracleSql`) to
`<out>/oracle_sql.json`. Each oracle runs in DuckDB over views of the same
fixture tables; the two results must have the same columns, dtypes, row
count and values, in order (every oracle and every query ends in a total
ORDER BY). Values are compared exactly, as `tools/check_oracles.py` does;
NaN matches NaN and null matches null.
"""
import json
import math
from pathlib import Path

import duckdb

TABLES = "region nation customer supplier part orders lineitem documents embeddings".split()


def _same(a, b):
    if hasattr(a, "__len__") and not isinstance(a, (str, bytes)):
        return (hasattr(b, "__len__") and len(a) == len(b)
                and all(_same(x, y) for x, y in zip(a, b)))
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return a == b


def check(tables_dir, out_dir):
    """Returns {query: problem} for every query that threw or differs."""
    out = Path(out_dir)
    sql = json.loads((out / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    problems = {}
    for q in sql:
        if not (out / q).is_dir():
            problems[q] = "no output (the query threw)"
            continue
        if not sql.get(q):
            problems[q] = "no oracle SQL"
            continue
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{out / q}/*.parquet')").df()
            want = con.execute(sql[q]).df()
        except Exception as e:  # an oracle that cannot run is a failed check
            problems[q] = f"{type(e).__name__}: {e}"
            continue
        got, want = got[sorted(got.columns)], want[sorted(want.columns)]
        if list(got.columns) != list(want.columns):
            problems[q] = f"columns {list(got.columns)} != {list(want.columns)}"
        elif len(got) != len(want):
            problems[q] = f"{len(got)} rows, oracle {len(want)}"
        else:
            for c in got.columns:
                if str(got[c].dtype) != str(want[c].dtype):
                    problems[q] = f"{c}: dtype {got[c].dtype} != {want[c].dtype}"
                    break
                bad = [i for i, (x, y) in enumerate(zip(got[c].tolist(), want[c].tolist()))
                       if not _same(x, y)]
                if bad:
                    i = bad[0]
                    problems[q] = (f"{c}: {len(bad)} of {len(got)} values differ, first at row {i}: "
                                   f"{got[c].iloc[i]!r} != {want[c].iloc[i]!r}")
                    break
    return problems
