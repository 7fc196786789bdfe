"""Correctness checks for perfbench, run after the timed window.

- ``oracle_checks``: every collected query result against its
  ``SparkEntry.oracleSql`` text replayed in DuckDB over the same parquet
  tables, compared the way ``tools/selfcheck.py`` compares: column-sorted,
  row-sorted, dtype kinds equal, floats at full precision. The clustering
  oracles' recursive component walk is evaluated here (see
  ``_oracle_frame``).
- ``ooh_checks``: the extracted occupations and the filtered report of every
  shard against the values the generator planted.
"""
import math
import os
import re

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _render(v):
    if v is None:
        return "None"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "NaN" if math.isnan(f) else repr(f)
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    return str(v)


def _frame(df):
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == object and df[c].map(
                lambda v: isinstance(v, (list, tuple, dict, np.ndarray))).any():
            raise ValueError(f"non-scalar column '{c}'")
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort",
                            na_position="last").reset_index(drop=True)
    dtypes = [df[c].dtype.kind for c in df.columns]
    rows = [tuple(_render(v) for v in row) for row in df.itertuples(index=False, name=None)]
    return list(df.columns), dtypes, rows


CC_TAIL = re.compile(
    r",\s*edges AS \(SELECT (\w+) AS src, (\w+) AS dst FROM pairs UNION ALL SELECT \2, \1 FROM pairs\),"
    r"\s*walk\(node, lab\) AS \(\s*SELECT DISTINCT src, src FROM edges\s*UNION"
    r"\s*SELECT e\.dst, w\.lab FROM walk w JOIN edges e ON w\.node = e\.src\),"
    r"\s*comp AS \(SELECT node AS (\w+), min\(lab\) AS cluster_id FROM walk GROUP BY node\),"
    r"\s*sz AS \(SELECT cluster_id, count\(\*\) AS cluster_size FROM comp GROUP BY cluster_id\)"
    r"\s*SELECT c\.\3, c\.cluster_id, s\.cluster_size,"
    r"\s*CAST\(CASE WHEN c\.\3 = c\.cluster_id THEN 1 ELSE 0 END AS INT\) AS is_keeper"
    r"\s*FROM comp c JOIN sz s USING \(cluster_id\)\s*ORDER BY c\.\3\s*$")


def _oracle_frame(con, sql):
    """Run an oracle. The clustering oracles end in the same recursive
    min-label walk, which DuckDB evaluates slowly; for exactly that tail the
    pair graph still comes from the oracle text and the connected components
    (min member id as cluster id) are labelled here instead.
    """
    m = CC_TAIL.search(sql)
    if not m:
        return con.sql(sql).df()
    a, b, key = m.groups()
    pairs = con.sql(sql[:m.start()] + f"\nSELECT {a}, {b} FROM pairs").fetchall()
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for x, y in pairs:
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    nodes = sorted(parent)
    label = {n: find(n) for n in nodes}
    size = {}
    for lab in label.values():
        size[lab] = size.get(lab, 0) + 1
    return pd.DataFrame({
        key: np.array(nodes, dtype=np.int64),
        "cluster_id": np.array([label[n] for n in nodes], dtype=np.int64),
        "cluster_size": np.array([size[label[n]] for n in nodes], dtype=np.int64),
        "is_keeper": np.array([int(label[n] == n) for n in nodes], dtype=np.int32)})


def oracle_checks(tables_dir, results_dir, oracles, tmp_dir):
    """name -> None when the result matches its oracle, else a message."""
    con = duckdb.connect()
    con.sql("SET threads=4")
    con.sql(f"SET temp_directory='{tmp_dir}'")
    for t in TABLES:
        path = os.path.join(tables_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    out = {}
    for name, sql in sorted(oracles.items()):
        got_dir = os.path.join(results_dir, name)
        try:
            got = _frame(con.sql(f"SELECT * FROM '{got_dir}/*.parquet'").df())
            want = _frame(_oracle_frame(con, sql))
        except Exception as e:  # a missing result or a failing oracle is a failed check
            out[name] = f"error: {str(e)[:200]}"
            continue
        if got[0] != want[0]:
            out[name] = f"columns {got[0]} != {want[0]}"
        elif got[1] != want[1]:
            out[name] = f"dtypes {got[1]} != {want[1]}"
        elif got[2] != want[2]:
            diff = sorted(set(got[2]) ^ set(want[2]))[:2]
            out[name] = f"rows {len(got[2])} vs {len(want[2])}; e.g. {diff}"
        else:
            out[name] = None
    con.close()
    return out


def _occ_key(r):
    pay = r["pay"]
    if isinstance(pay, list):  # pyarrow renders a map as (key, value) pairs
        pay = dict(pay)
    sim = r["similarOccupations"]
    return (r["title"], r["medianPayAnnual"], r["numberOfJobs"], r["employmentOutlookCode"],
            None if pay is None else tuple(sorted(pay.items())),
            None if sim is None else tuple(sim))


def ooh_checks(out_dir, planted_by_shard):
    """shard index -> None when occupations and report match the plan."""
    out = {}
    for i, planted in enumerate(planted_by_shard):
        try:
            occ = pq.read_table(os.path.join(out_dir, str(i), "occupations")).to_pylist()
            rep = pq.read_table(os.path.join(out_dir, str(i), "report")).to_pylist()
        except Exception as e:
            out[i] = f"error: {str(e)[:200]}"
            continue
        got = sorted(map(_occ_key, occ), key=repr)
        want = sorted(map(_occ_key, planted), key=repr)
        got_rep = sorted((r["title"], r["medianPayAnnual"], r["employmentOutlookCode"])
                         for r in rep)
        want_rep = sorted((p["title"], p["medianPayAnnual"], p["employmentOutlookCode"])
                          for p in planted if p["in_report"])
        if got != want:
            bad = [g for g, w in zip(got, want) if g != w][:1]
            out[i] = f"occupations differ ({len(got)} vs {len(want)} rows), e.g. {bad}"
        elif got_rep != want_rep:
            bad = sorted(set(got_rep) ^ set(want_rep))[:1]
            out[i] = f"report rows differ ({len(got_rep)} vs {len(want_rep)}), e.g. {bad}"
        else:
            out[i] = None
    return out
