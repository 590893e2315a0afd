"""DuckDB oracle check of operator_mix results.

Each query's Spark result (parquet, written by the mix's warm-up pass) is
compared with the query's `SparkEntry.oracleSql` run in DuckDB over the
same input tables: columns sorted by name, rows sorted, cells compared
exactly (floats by repr after the float64 cast) -- the same rule as the
repository's oracle gate.
"""
import json
import math
from pathlib import Path

import duckdb
import pyarrow.dataset as ds


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return repr(v)


def _table(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(_norm(r[i]) for i in idx) for r in rows)
    return [cols[i] for i in idx], out


def check(data_dir: Path, out_dir: Path) -> dict:
    """{query: None if it matches the oracle, else a one-line reason}."""
    oracle = json.loads((out_dir / "oracle_sql.json").read_text())
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for p in sorted(data_dir.glob("*.parquet")):
            con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
        result = {}
        for name, sql in oracle.items():
            try:
                tbl = ds.dataset(str(out_dir / name)).to_table()
                s_cols = tbl.column_names
                s_rows = [tuple(r[c] for c in s_cols) for r in tbl.to_pylist()]
                res = con.execute(sql)
                o_cols = [c[0] for c in res.description]
                o_rows = res.fetchall()
            except Exception as e:  # a missing result or a broken SQL fails the query
                result[name] = f"error: {e}"
                continue
            sc, st = _table(s_rows, s_cols)
            oc, ot = _table(o_rows, o_cols)
            if sc != oc:
                result[name] = f"schema spark={sc} oracle={oc}"
            elif st != ot:
                bad = sum(a != b for a, b in zip(st, ot)) + abs(len(st) - len(ot))
                result[name] = f"{bad} of {max(len(st), len(ot))} rows differ"
            else:
                result[name] = None
        return result
    finally:
        con.close()
