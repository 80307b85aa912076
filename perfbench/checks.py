"""Output checks, run after the timed runs. Every check returns a list
of failure messages; an empty list means the outputs are correct.

Values are compared with the exact-match policy of
tools/check_parity.py: columns matched by name, rows compared as
sorted multisets, doubles by their full repr.
"""
import math
from pathlib import Path

import duckdb

SCALE_TARGET = 10000


def canon(v):
    if v is None:
        return (0, "")
    if isinstance(v, float):
        if math.isnan(v):
            return (1, "nan")
        return (1, repr(v))
    if isinstance(v, bytes):
        return (2, v.hex())
    if isinstance(v, list):
        return (3, tuple(canon(x) for x in v))
    return (4, str(v))


def same_result(con, name, oracle_sql, parquet_glob):
    want = con.sql(oracle_sql)
    want_cols = [d[0] for d in want.description]
    want_rows = want.fetchall()
    got = con.sql(f"SELECT * FROM '{parquet_glob}'")
    got_cols = [d[0] for d in got.description]
    got_rows = got.fetchall()
    if sorted(want_cols) != sorted(got_cols):
        return [f"{name}: columns {sorted(got_cols)} != oracle {sorted(want_cols)}"]
    if len(want_rows) != len(got_rows):
        return [f"{name}: {len(got_rows)} rows != oracle {len(want_rows)}"]
    wi = sorted(range(len(want_cols)), key=lambda i: want_cols[i])
    gi = sorted(range(len(got_cols)), key=lambda i: got_cols[i])
    wr = sorted(tuple(canon(r[i]) for i in wi) for r in want_rows)
    gr = sorted(tuple(canon(r[i]) for i in gi) for r in got_rows)
    if wr != gr:
        bad = next(i for i, (a, b) in enumerate(zip(wr, gr)) if a != b)
        return [f"{name}: sorted row {bad} is {gr[bad]}, oracle {wr[bad]}"]
    return []


def connect(data_dir, tmp_dir):
    con = duckdb.connect()
    # the checked outputs are small: one thread keeps the checks light
    con.sql("SET threads = 1")
    con.sql(f"SET temp_directory = '{tmp_dir}'")
    for f in sorted(Path(data_dir).glob("*.parquet")):
        con.sql(f"CREATE VIEW {f.stem} AS SELECT * FROM '{f}'")
    return con


def daily(data_dir, tmp_dir, info):
    """The daily run's four sinks against the oracle and Sbm's output."""
    out = Path(info["outputs"])
    con = connect(data_dir, tmp_dir)
    errors = same_result(con, "contact_matrix",
                         info["oracle_total_vs_observed"],
                         f"{out}/contact_matrix/*.parquet")
    if info["scaled_size_sum"] != SCALE_TARGET:
        errors.append(f"scaled sizes sum to {info['scaled_size_sum']}, "
                      f"not {SCALE_TARGET}")
    text = (out / "network.graphml").read_text()
    nodes, edges = text.count("<node "), text.count("<edge ")
    if (nodes, edges) != (info["sbm_nodes"], info["sbm_edges"]):
        errors.append(f"GraphML has {nodes} nodes / {edges} edges, Sbm "
                      f"made {info['sbm_nodes']} / {info['sbm_edges']}")
    status_rows = con.sql(f"SELECT count(*) FROM "
                          f"'{out}/seir_status/*.parquet'").fetchone()[0]
    want = info["seir_seeds"] * info["sbm_nodes"]
    if status_rows != want:
        errors.append(f"seir_status has {status_rows} rows, not seeds x "
                      f"nodes = {want}")
    return errors


def suite(data_dir, tmp_dir, info):
    """Each suite query's result against its registered oracle SQL."""
    out = Path(info["outputs"])
    con = connect(data_dir, tmp_dir)
    errors = []
    for name, sql in info["oracle_sql"].items():
        errors += same_result(con, name, sql, f"{out}/{name}/*.parquet")
    return errors
