"""Output checks, run after the harness exits (outside every timed region).

- cooc_stream: the drained LLR top-K against the DuckDB replay of the
  sampled pipeline (``Sampling.sampledLlrOracleSql``) over the same files,
  seed, cuts and one-day window.
- serve_mix: every catalog query's result against its DuckDB oracle (the
  maintained matrix is checked inside the harness against
  ``Cooccurrence.coocCounts`` / ``llrTopKFromCounts`` over the surviving
  interactions).

Rows are compared with ``tools/check.py``'s canonicalization. A mismatch
fails every op that produced that output.
"""
import os
import re
import sys

import duckdb
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
from check import TABLES, frame_rows  # noqa: E402


def compare(ocols, orows, scols, srows):
    """None when the program's rows equal the oracle's, else why not."""
    oc, orws = frame_rows(ocols, orows)
    sc, srws = frame_rows(scols, srows)
    if oc != sc:
        return f"schema mismatch spark={sc} oracle={oc}"
    if len(orws) != len(srws):
        return f"rowcount spark={len(srws)} oracle={len(orws)}"
    # int 42 and float 42.0 differ here, as in tools/check.py
    bad = [(a, b) for a, b in zip(srws, orws)
           if a != b or any(type(x) is not type(y) for x, y in zip(a, b))]
    if bad:
        return f"{len(bad)}/{len(srws)} rows differ; first: spark={bad[0][0]} oracle={bad[0][1]}"
    return None


def materialized(sql):
    """The sampled-pipeline replay with its multiply-referenced CTEs marked
    MATERIALIZED: an evaluation hint only (same relation), without which
    DuckDB re-runs the recursive window fold once per reference."""
    return re.sub(r"\n(ev|wnds|evt|acts|occ|others|prevs|pairs) AS \(",
                  lambda m: f"\n{m.group(1)} AS MATERIALIZED (", sql)


def tally(ops, failed_ids):
    """(attempted, failed): an op fails when it raised or its output is wrong."""
    return len(ops), sum(1 for o in ops if not o["ok"] or o["id"] in failed_ids)


def _oracle(con, sql):
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return cols, [tuple(r) for r in res.df().itertuples(index=False, name=None)]


def _program(path):
    t = pq.read_table(path)
    return t.column_names, [tuple(r[c] for c in t.column_names) for r in t.to_pylist()]


def _diff(con, sql, path):
    if not os.path.isdir(path):
        return "no program output"
    try:
        return compare(*_oracle(con, sql), *_program(path))
    except Exception as e:  # an oracle that cannot run is a failed check
        return f"oracle error: {e}"


def check(workload, rec, work, in_dir):
    """Op ids whose output is wrong, plus a note per failed check."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    con.execute(f"SET temp_directory = '{os.path.join(work, 'tmp')}'")
    oracle = rec["extra"].get("oracle_sql", {})
    failed, notes = set(), []
    if workload == "cooc_stream":
        con.execute(f"""CREATE VIEW inter_csv AS
            SELECT CAST(column0 AS INT) AS usr, CAST(column1 AS INT) AS item,
                   make_timestamp(column2 * 1000) AS ts
            FROM read_csv('{in_dir}/stream/*.csv', header = false,
                          columns = {{'column0': 'BIGINT', 'column1': 'BIGINT',
                                     'column2': 'BIGINT'}})""")
        why = _diff(con, materialized(oracle["cooc_stream"]),
                    os.path.join(work, "results", "cooc_stream"))
        if why:
            notes.append(f"cooc_stream: {why}")
            failed |= {o["id"] for o in rec["ops"] if o["kind"] == "drain"}
        return failed, notes
    for t in TABLES:
        p = os.path.join(in_dir, "catalog", f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    for name, sql in sorted(oracle.items()):
        why = _diff(con, sql, os.path.join(work, "results", name)) if sql else "no oracle"
        if why:
            notes.append(f"{name}: {why}")
            failed |= {o["id"] for o in rec["ops"] if o["kind"] == "query" and o["name"] == name}
    return failed, notes
