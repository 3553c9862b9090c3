"""Seeded input generators for the benchmark.

Two kinds of input are made here, both from a seed alone:

* ``star(dir, seed, sf)`` writes the ten tables graft's registered
  queries read (the TPC-H-style star schema plus ``events``,
  ``documents`` and ``embeddings``), with the column types and value
  domains of the project's test data at scale factor ``sf``.
* ``changelog(seed, ...)`` and ``coord_ops(seed, ...)`` make the
  coordination workload: a Zipf-skewed changelog in the ``events``
  schema and the closed-loop sequence of API calls run against it.

Nothing here reads outside its arguments, so the same seed always gives
byte-identical tables and the same op list.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a the join hash row batch scan column customer filter small slow "
         "merge order vector line table data agg value key stream window "
         "spark part group big sort query fast").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
MONTH_US = 30 * 86400 * 1_000_000


def _write(dir_, name, cols):
    pq.write_table(pa.table(cols), os.path.join(dir_, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days.astype("datetime64[D]").astype("datetime64[us]"),
                    pa.timestamp("us"))


def _event_times(rng, n):
    """n strictly increasing event times (µs) over 30 days."""
    return np.sort(rng.integers(0, MONTH_US - n, n)) + np.arange(n)


def zipf_keys(rng, n, n_keys, zipf, perm):
    """n Zipf(zipf)-ranked keys; perm maps rank r to key perm[r - 1]."""
    ranks = np.empty(0, dtype=np.int64)
    while len(ranks) < n:  # ranks past n_keys are rejected; top up
        more = rng.zipf(zipf, max(n, 16))
        ranks = np.concatenate([ranks, more[more <= n_keys]])
    return perm[ranks[:n] - 1]


def events_table(rng, n, n_users, event_types=EVENT_TYPES, zipf=None, perm=None):
    """The ``events`` schema: id, ts, user_id, event_type, value, props."""
    us = _event_times(rng, n)
    users = zipf_keys(rng, n, n_users, zipf, perm) if zipf else rng.integers(0, n_users, n)
    etype = rng.integers(0, len(event_types), n)
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
    return {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array((EPOCH_2024 + us.astype("timedelta64[us]")),
                       pa.timestamp("us")),
        "user_id": pa.array(users.astype(np.int64)),
        "event_type": pa.array([event_types[i] for i in etype]),
        "value": pa.array(value),
        "props": pa.array(props),
    }


def star(dir_, seed, sf):
    """Write the ten star-schema tables at scale factor ``sf`` into dir_."""
    os.makedirs(dir_, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs = 500 if sf <= 0.01 else int(50_000 * sf)
    n_emb = 500 if sf <= 0.01 else int(20_000 * sf)

    _write(dir_, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    _write(dir_, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    _write(dir_, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(
            [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)])})
    _write(dir_, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    pk = np.arange(n_part, dtype=np.int64)
    _write(dir_, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array(
            [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array([PART_TYPES[i] for i in rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10.0, 2))})
    _write(dir_, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(
            [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _dates(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": pa.array(
            [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)])})
    _write(dir_, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(
            [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(
            [("F", "O")[i] for i in rng.integers(0, 2, n_line)]),
        "l_shipdate": _dates(rng, "1995-01-02", "2001-11-04", n_line)})
    _write(dir_, "events", events_table(rng, n_ev, max(int(15_000 * sf), 10)))

    texts = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[rng.integers(0, i)] + " dup" * rng.integers(1, 3))
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), n_words)))
    _write(dir_, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(list(rng.choice(LANGS, n_docs, p=LANG_P))),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})

    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = 0.15 * centers[labels] + rng.normal(0, 1 / 8, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(dir_, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})


# ---- coordination workload ------------------------------------------------

NAMESPACES = ["kv", "config", "locks", "members", "leases"]
READS = ["fetch", "fetchCas", "isMember", "getLeader", "membershipList"]
WRITES = ["put", "update", "delete", "joinGroup", "leaveGroup"]
# one round: two writes, each followed by a read of what it wrote, plus
# six more reads -- 80% reads, 20% writes, the same mix in every round
ROUND_READS = ["fetch", "fetch", "fetchCas", "isMember", "getLeader", "membershipList"]
ROUND_OPS = len(ROUND_READS) + 4
CHECK_READ = {"put": "fetch", "update": "fetchCas", "delete": "fetchCas",
              "joinGroup": "isMember", "leaveGroup": "fetchCas"}
ZIPF = 1.1


def hot_keys(seed, n_keys):
    """The seed's key popularity order, shared by the changelog and the ops,
    so the keys the ops hit most are the ones with the longest histories."""
    return np.random.default_rng([seed, 0]).permutation(n_keys)


def changelog(seed, n_rows, n_keys):
    """Columns of a Zipf-skewed changelog over NAMESPACES x n_keys."""
    rng = np.random.default_rng([seed, 1])
    return events_table(rng, n_rows, n_keys, NAMESPACES, ZIPF, hot_keys(seed, n_keys))


def write_changelog(dir_, cols, n_parts=4):
    """Write the changelog as a parquet directory (appends add part files)."""
    path = os.path.join(dir_, "events.parquet")
    os.makedirs(path, exist_ok=True)
    t = pa.table(cols)
    step = -(-t.num_rows // n_parts)
    for i in range(n_parts):
        pq.write_table(t.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))
    return path


def coord_ops(seed, n_rounds, n_keys, end_us):
    """The closed-loop op list: a warm-up block, then rounds of ten ops.

    The warm-up block makes every read and one append once. Each round
    has the same composition (ROUND_READS plus two writes, the write
    kinds cycling through WRITES) in a seeded order, so runs of
    different seeds and lengths see the same mix. Keys are Zipf-skewed
    with the changelog's hot keys. Every write is followed by a read of
    the key it wrote (read-your-writes). Write timestamps advance past
    the log end, so the TTL views move as the run goes. Ops carry their
    round (0 = warm).
    """
    rng = np.random.default_rng([seed, 2])
    perm = hot_keys(seed, n_keys)
    ts = int(end_us)

    def key():
        return int(zipf_keys(rng, 1, n_keys, ZIPF, perm)[0])

    def ns():
        return NAMESPACES[int(rng.integers(0, len(NAMESPACES)))]

    def read(kind):
        op = {"op": kind, "ns": ns()}
        if kind in ("fetch", "fetchCas", "isMember"):
            op["key"] = key()
        return [op]

    def write(kind):
        nonlocal ts
        ts += int(rng.integers(1, 600)) * 1_000_000
        op = {"op": kind, "ns": ns(), "key": key(), "ts_us": ts}
        if kind in ("put", "update", "joinGroup"):
            op["value"] = round(float(rng.uniform(0, 500)), 2)
        return [op, {"op": CHECK_READ[kind], "ns": op["ns"], "key": op["key"]}]

    units = [read(k) for k in READS] + [write("put")]
    ops = [dict(o, round=0) for u in units for o in u]
    for r in range(1, n_rounds + 1):
        kinds = [WRITES[(2 * r) % 5], WRITES[(2 * r + 1) % 5]]
        units = [("w", k) for k in kinds] + [("r", k) for k in ROUND_READS]
        order = rng.permutation(len(units))
        for j in order:
            what, k = units[j]
            ops += [dict(o, round=r) for o in (write(k) if what == "w" else read(k))]
    return ops
