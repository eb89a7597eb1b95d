"""Output checks, run after the timed region.

* ``check_registry``: each op's output in the first timed pass against
  its registry ``oracleSql`` in DuckDB over the same generated tables,
  compared the way ``scripts/check_oracle.py`` compares (sorted
  columns, sorted rows, floats within 1e-9, everything else as
  strings).
* ``check_cdc``: the three CDC tables against the expected fold, and
  the micro-batch record against the staged groups.
"""
import glob
import json
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
FLOAT_TOL = 1e-9


def _read_dir(d):
    files = sorted(glob.glob(os.path.join(d, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def _compare(got, exp):
    """None when equal, else a one-line reason."""
    g = got.reindex(sorted(got.columns), axis=1)
    e = exp.reindex(sorted(exp.columns), axis=1)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} != {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} != {len(e)}"
    if len(g) == 0:
        return None
    gs = g.sort_values(by=list(g.columns)).reset_index(drop=True)
    es = e.sort_values(by=list(e.columns)).reset_index(drop=True)
    for c in g.columns:
        a, b = gs[c], es[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            a = pd.to_numeric(a, errors="coerce")
            b = pd.to_numeric(b, errors="coerce")
            ok = ((a.isna() & b.isna()) | ((a - b).abs() < FLOAT_TOL)).all()
        else:
            ok = (a.astype(str) == b.astype(str)).all()
        if not ok:
            return f"values differ in column {c}"
    return None


def check_registry(check_dir, data_dir, ops):
    """{op: None or reason} for every op."""
    oracle = json.load(open(os.path.join(check_dir, "oracle_sql.json")))
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    out = {}
    for name in ops:
        got = _read_dir(os.path.join(check_dir, name))
        if got is None:
            out[name] = "no output"
        elif name not in oracle:
            out[name] = "no oracle SQL"
        else:
            try:
                out[name] = _compare(got, con.sql(oracle[name]).df())
            except Exception as e:  # an oracle error is a failed check
                out[name] = f"oracle error {e}"
    return out


def batch_files(ckpt):
    """File names each micro-batch read, from the file source's log in
    the streaming checkpoint (one file per batch id)."""
    d = os.path.join(ckpt, "sources", "0")
    out = []
    for name in sorted((n for n in os.listdir(d) if n.isdigit()), key=int):
        with open(os.path.join(d, name)) as fh:
            entries = [json.loads(l) for l in fh.read().splitlines()[1:] if l.strip()]
        out.append(sorted(os.path.relpath(e["path"].replace("file://", ""), os.sep)
                          for e in entries))
    return out


def check_cdc(check_dir, expected, groups, ckpt, triggers):
    """{check: None or reason}: one entry per table, plus the micro-batch
    check: one trigger per group fed to the stream, reading exactly that
    group's files, in order, and at least the group's rows."""
    out = {}
    for table, rows in expected.items():
        got = _read_dir(os.path.join(check_dir, table))
        if got is None:
            out[table] = "no output"
            continue
        exp = pd.DataFrame(rows, columns=["id", "seq", "val", "cat"])
        out[table] = _compare(got, exp)
    read = batch_files(ckpt)
    staged = [sorted(os.path.relpath(f, os.sep) for f in g["files"]) for g in groups]
    if len(triggers) != len(groups) or read != staged:
        out["micro_batches"] = (f"{len(triggers)} triggers read {len(read)} file "
                                f"groups; {len(groups)} groups were staged")
    elif any(t["rows"] < g["rows"] for t, g in zip(triggers, groups)):
        out["micro_batches"] = "a trigger read fewer rows than its group holds"
    else:
        out["micro_batches"] = None
    return out
