"""Seeded input generation for the benchmark.

Two kinds of input:

* ``write_tables``: the star schema graft's registry queries read
  (region, nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings), with the column types and value domains of
  the TPC-H-like test tables, at a chosen scale factor.
* ``write_cdc_backlog``: a backlog of Debezium envelopes for three
  tables, one directory of text files per micro-batch group;
  ``expected_tables`` gives the table contents after a prefix of the
  groups, from an independent per-batch fold.

The same seed always gives the same bytes of input.
"""
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ["row", "the", "query", "stream", "fast", "spark", "line", "small",
         "customer", "group", "value", "hash", "batch", "sort", "data", "big",
         "filter", "key", "agg", "scan", "slow", "table", "part", "a",
         "merge", "window", "order", "column", "join", "vector"]
DUP_SHARE = 0.05
PART_ADJ = ["blue", "hot", "small", "old", "cold", "red", "new", "large"]
PART_NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _ts(start, seconds):
    """Microsecond timestamps ``start + seconds``."""
    base = np.datetime64(start, "us")
    return (base + (np.asarray(seconds) * 1e6).astype("timedelta64[us]"))


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir, seed, sf):
    """Write the ten input tables at scale ``sf`` (0.1 = the 600k-row
    lineitem scale of the project's test tables)."""
    os.makedirs(out_dir, exist_ok=True)
    r = np.random.default_rng(seed)
    n_cust = int(150000 * sf)
    n_supp = max(10, int(10000 * sf))
    n_part = int(200000 * sf)
    n_ord = int(1500000 * sf)
    n_li = int(6000000 * sf)
    n_ev = int(1000000 * sf)
    n_users = max(15, int(15000 * sf))
    n_docs = max(500, int(50000 * sf))
    n_emb = max(500, int(20000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)})
    pk = np.arange(n_part)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["P", "O", "F"])[r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", r.integers(0, 2404, n_ord) * 86400),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)]})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(r.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[r.integers(0, 2, n_li)],
        "l_shipdate": _ts("1995-01-02", r.integers(0, 2498, n_li) * 86400)})
    # strictly increasing event times over 30 days, microsecond grain
    gaps = r.exponential(1.0, n_ev)
    secs = np.cumsum(gaps) / gaps.sum() * (30 * 86400 - 60) + 5
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts("2024-01-01", np.round(secs, 6)),
        "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
        "value": np.round(r.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})
    # 10 to 99 words drawn uniformly from the vocabulary; then about one
    # document in twenty becomes a near-duplicate of another (its text
    # plus " dup"), chains included, as in the test tables
    words = np.array(WORDS)
    texts = [" ".join(words[r.integers(0, len(WORDS), n)])
             for n in r.integers(10, 100, n_docs)]
    for i in np.flatnonzero(r.random(n_docs) < DUP_SHARE):
        j = (i + r.integers(1, n_docs)) % n_docs
        texts[i] = texts[j] + " dup"
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{s}" for s in r.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = r.normal(0.0, 1.0, (n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_emb), pa.int32())})


# -- CDC backlog --------------------------------------------------------------

CDC_DB = "graftdb"
# one table per write mode; the harness maps the suffix to the mode
CDC_TABLES = ["orders_cow", "orders_mor", "orders_dv"]
CATS = ["new", "paid", "shipped", "returned", "closed"]


def _envelope(table, op, row, ts_ms):
    """One Debezium envelope line; before/after/source are nested JSON
    text, as Debezium's JSON converter writes them."""
    payload = (f'{{\\"id\\":{row["id"]},\\"seq\\":{row["seq"]},'
               f'\\"val\\":{row["val"]!r},\\"cat\\":\\"{row["cat"]}\\"}}')
    image = f'"before":"{payload}","after":null' if op == "d" \
        else f'"before":null,"after":"{payload}"'
    return (f'{{{image},"source":"{{\\"db\\":\\"{CDC_DB}\\",'
            f'\\"table\\":\\"{table}\\"}}","op":"{op}","ts_ms":{ts_ms}}}')


def write_cdc_backlog(out_dir, seed, group_events, files_per_group):
    """Write one micro-batch group of Debezium envelopes per entry of
    ``group_events`` (its event count) to ``out_dir/staged/gNNNN``, from
    where the harness moves each group, in turn, to ``out_dir/in``.
    Returns per group its rows, its files (as paths under ``in``) and
    its events; ``expected_tables`` folds a prefix of the groups.

    Each group mixes inserts of new keys, skewed updates of live keys
    (a key can change several times in one group) and deletes.
    """
    r = random.Random(seed)
    live = {t: {} for t in CDC_TABLES}       # key -> row, the folded state
    next_key = {t: 0 for t in CDC_TABLES}
    seq = 0
    ts0 = 1_700_000_000_000
    groups_out = []
    for g, n_events in enumerate(group_events):
        lines = []
        batch = []  # (table, op, row) in event order
        for _ in range(n_events):
            t = CDC_TABLES[r.randrange(3)]
            keys = live[t]
            u = r.random()
            if not keys or u < 0.35:
                op, key = "c", next_key[t]
                next_key[t] += 1
            else:
                op = "u" if u < 0.85 else "d"
                key = _hot_key(r, keys, next_key[t])
            row = {"id": key, "seq": seq, "val": round(r.uniform(1.0, 1000.0), 2),
                   "cat": CATS[r.randrange(len(CATS))]}
            lines.append(_envelope(t, op, row, ts0 + seq))
            batch.append((t, op, row))
            seq += 1
        _fold(live, batch)
        name = f"g{g:04d}"
        gdir = os.path.join(out_dir, "staged", name)
        os.makedirs(gdir)
        files = []
        for f in range(files_per_group):
            with open(os.path.join(gdir, f"part-{f}.json"), "w") as fh:
                fh.write("\n".join(lines[f::files_per_group]))
            files.append(os.path.abspath(os.path.join(out_dir, "in", name, f"part-{f}.json")))
        groups_out.append({"rows": len(lines), "files": files, "events": batch})
    return groups_out


def expected_tables(groups):
    """The rows each table holds after the given groups, each applied
    as one micro-batch (``_fold``)."""
    live = {t: {} for t in CDC_TABLES}
    for g in groups:
        _fold(live, g["events"])
    return {t: sorted(live[t].values(), key=lambda x: x["id"]) for t in CDC_TABLES}


def _hot_key(r, keys, n):
    """A live key, skewed: half the draws follow a heavy-tailed distance
    back from the newest key, the rest are uniform over the key range."""
    while True:
        if r.random() < 0.5:
            k = max(0, n - int(r.paretovariate(0.3)))
        else:
            k = r.randrange(n)
        if k in keys:
            return k


def _fold(live, batch):
    """One micro-batch, as the CDC suites pin it: per key, creates and
    updates fold to the latest by (update over create, ts_ms, seq) and
    upsert the table; then every key deleted in the batch is removed."""
    latest = {}
    deleted = set()
    for t, op, row in batch:
        k = (t, row["id"])
        if op == "d":
            deleted.add(k)
            continue
        rank = (1 if op == "u" else 0, row["seq"])
        if k not in latest or rank > latest[k][0]:
            latest[k] = (rank, row)
    for (t, key), (_, row) in latest.items():
        live[t][key] = row
    for t, key in deleted:
        live[t].pop(key, None)
