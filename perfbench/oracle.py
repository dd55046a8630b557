"""DuckDB oracle check for the `gates` workload.

The harness writes each gate's first output (as parquet) and the gate's
oracle SQL from `SparkEntry.oracleSql`. Here DuckDB runs that SQL over the
same fixture and both results are reduced to a fingerprint: the row count
and a SHA-256 over the sorted, rendered rows (columns in name order), so the
check does not depend on row order.
"""

import hashlib
import json
import os


def render(v):
    if isinstance(v, list):
        return "[" + ",".join(render(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{render(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, float):
        return repr(v)
    return "null" if v is None else str(v)


def fingerprint(table):
    names = sorted(table.column_names)
    rows = sorted("|".join(render(r[n]) for n in names) for r in table.to_pylist())
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode() + b"\n")
    return len(rows), h.hexdigest(), names


def check(fixture_dir, work, gates, plant=""):
    """Returns {gate: (ok, reason)}."""
    import duckdb
    import pyarrow.parquet as pq

    with open(os.path.join(work, "oracle_sql.json")) as f:
        sqls = json.load(f)
    con = duckdb.connect()
    for name in sorted(os.listdir(fixture_dir)):
        table = name[:-len(".parquet")]
        path = os.path.join(fixture_dir, name).replace("'", "''")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    results = {}
    for i, gate in enumerate(gates):
        out = os.path.join(work, "oracle-check", gate)
        if not os.path.isdir(out):
            results[gate] = (False, "the engine produced no output")
            continue
        try:
            expected = con.execute(sqls[gate]).arrow()
        except Exception as e:  # a broken oracle is a failed check, not a crash
            results[gate] = (False, f"oracle SQL failed: {e}")
            continue
        got = fingerprint(pq.read_table(out))
        want = fingerprint(expected)
        if i == 0 and "wrong-fingerprint" in plant.split(","):
            want = (want[0] + 1, hashlib.sha256(want[1].encode()).hexdigest(), want[2])
        ok = got == want
        results[gate] = (ok, "" if ok else
                         f"engine {got[0]} rows {got[1][:12]} {got[2]}, "
                         f"oracle {want[0]} rows {want[1][:12]} {want[2]}")
    return results
