"""Check the battery's query results against their DuckDB oracle SQL.

The benchmark JVM writes each battery query's result to
`<results>/<query>/` (parquet) and the queries' oracle SQL to
`<results>/oracle_sql.json`; `check` runs the SQL in DuckDB over the same
generated tables and compares the two the way the repository's
correctness gate does: columns sorted by name, rows sorted, floats to six
significant digits. A query whose result is empty counts as a mismatch.
"""

import glob
import json
import math
import os

TABLES = ("documents",)


def _cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def _normalize(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], sorted(tuple(_cell(r[i]) for i in order) for r in rows)


def _parquet(path):
    return "read_parquet(" + repr(os.path.join(path, "*.parquet")) + ")"


def check(results, tables):
    """Failure messages, one per query whose result differs from DuckDB's."""
    import duckdb

    with open(os.path.join(results, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {_parquet(os.path.join(tables, t + '.parquet'))}")
    failures = []
    for name, sql in sorted(oracle.items()):
        out = os.path.join(results, name)
        if not glob.glob(os.path.join(out, "*.parquet")):
            failures.append(f"{name}: no result written")
            continue
        res = con.execute(f"SELECT * FROM {_parquet(out)}")
        s_cols, s_rows = [d[0] for d in res.description], res.fetchall()
        try:
            res = con.execute(sql)
        except duckdb.Error as e:
            failures.append(f"{name}: oracle SQL failed: {e}")
            continue
        d_cols, d_rows = [d[0] for d in res.description], res.fetchall()
        sc, sr = _normalize(s_cols, s_rows)
        dc, dr = _normalize(d_cols, d_rows)
        if not sr:
            failures.append(f"{name}: empty result")
        elif sc != dc:
            failures.append(f"{name}: columns {sc}, oracle {dc}")
        elif sr != dr:
            bad = sum(a != b for a, b in zip(sr, dr)) + abs(len(sr) - len(dr))
            failures.append(f"{name}: {bad} of {max(len(sr), len(dr))} rows differ from the oracle")
    con.close()
    return failures
