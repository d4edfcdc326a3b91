"""Seeded input generation for the graft benchmark.

The OLAP tables follow the schemas, row counts and value domains of the
sf0.1 fixture (FIXTURES.md): a TPC-H-like star schema plus `events`,
`documents` and `embeddings`. Every column is drawn uniformly (or
exponentially for `events.value`), independently of the others, which is
what a profile of the fixture shows; README.md compares the two.

Everything is a pure function of the seed, and each input set is cached
in its own directory with a checksum file, so a seed is generated once.
"""
import datetime
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# rows per table at sf0.1, as in the fixtures
SF01_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
             "orders": 150000, "lineitem": 600000, "events": 100000,
             "users": 1500, "documents": 5000, "embeddings": 2000}

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.147, 0.412, 0.147, 0.147, 0.147]
US_PER_DAY = 86400 * 1000000
EPOCH_2024 = (datetime.datetime(2024, 1, 1) -
              datetime.datetime(1970, 1, 1)) // datetime.timedelta(microseconds=1)
EPOCH_1995 = (datetime.datetime(1995, 1, 1) -
              datetime.datetime(1970, 1, 1)) // datetime.timedelta(microseconds=1)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix, n):
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def sf01_tables(seed):
    """The ten OLAP tables at sf0.1 for one seed, as pyarrow tables."""
    ss = np.random.SeedSequence([seed, 1])
    rngs = dict(zip(TABLES, (np.random.default_rng(s) for s in ss.spawn(len(TABLES)))))
    n = SF01_ROWS
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    r = rngs["customer"]; c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": _names("Customer", c),
        "c_nationkey": r.integers(0, 25, c, dtype=np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, c),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[r.integers(0, 5, c)])})
    r = rngs["supplier"]; s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": _names("Supplier", s),
        "s_nationkey": r.integers(0, 25, s, dtype=np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, s)})
    r = rngs["part"]; p = n["part"]
    names = np.char.add(np.char.add(np.array(ADJ)[r.integers(0, 8, p)], " "),
                        np.array(NOUN)[r.integers(0, 8, p)])
    out["part"] = pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": pa.array(names),
        "p_brand": pa.array(np.char.add("Brand#", r.integers(1, 26, p).astype(str))),
        "p_type": pa.array(np.array(PTYPES)[r.integers(0, 6, p)]),
        "p_size": r.integers(1, 51, p, dtype=np.int32),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10, 1)})
    r = rngs["orders"]; o = n["orders"]
    days_o = (datetime.date(2001, 8, 1) - datetime.date(1995, 1, 1)).days
    out["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": r.integers(0, c, o, dtype=np.int64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, o)]),
        "o_totalprice": _money(r, 1000, 500000, o),
        "o_orderdate": _ts(EPOCH_1995 + r.integers(0, days_o + 1, o) * US_PER_DAY),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[r.integers(0, 5, o)])})
    r = rngs["lineitem"]; li = n["lineitem"]
    days_l = (datetime.date(2001, 11, 4) - datetime.date(1995, 1, 2)).days
    out["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, o, li, dtype=np.int64),
        "l_partkey": r.integers(0, p, li, dtype=np.int64),
        "l_suppkey": r.integers(0, s, li, dtype=np.int64),
        "l_linenumber": r.integers(1, 8, li, dtype=np.int32),
        "l_quantity": r.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(r, 900, 105000, li),
        "l_discount": r.integers(0, 11, li) / 100.0,
        "l_tax": r.integers(0, 9, li) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, li)]),
        "l_shipdate": _ts(EPOCH_1995 + US_PER_DAY +
                          r.integers(0, days_l + 1, li) * US_PER_DAY)})
    r = rngs["events"]; e = n["events"]
    # distinct, sorted event times over 30 days; event_id follows time
    ts = np.sort(r.choice(30 * US_PER_DAY, e, replace=False))
    out["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": _ts(EPOCH_2024 + ts),
        "user_id": r.integers(0, n["users"], e, dtype=np.int64),
        "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, e)]),
        "value": np.round(r.exponential(50.0, e), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, e)])})
    r = rngs["documents"]; d = n["documents"]
    lens = r.integers(10, 101, d)
    words = np.array(VOCAB)[r.integers(0, len(VOCAB), lens.sum())]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(ws) for ws in np.split(words, cuts)]
    # 5% near-duplicates, made one after another: another document's
    # current text plus " dup". A source may be a near-duplicate already
    # ("... dup dup"), and two near-duplicates of one source are exact
    # duplicates, as in the sf0.1 fixture (8 such pairs there)
    for i in r.choice(d, d // 20, replace=False):
        src = int(r.integers(0, d - 1))
        texts[i] = texts[src + (src >= i)] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(d, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[r.choice(5, d, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(d)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    r = rngs["embeddings"]; m = n["embeddings"]
    v = r.standard_normal((m, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(v.ravel()), 64).cast(pa.list_(pa.field("element", pa.float32()))),
        "label": r.integers(0, 10, m, dtype=np.int32)})
    return out


def _write(dir_, tables):
    for name, t in tables.items():
        pq.write_table(t, os.path.join(dir_, f"{name}.parquet"))


def checksum(dir_):
    """sha256 over every file's relative path and bytes, in path order."""
    h = hashlib.sha256()
    for root, dirs, files in sorted(os.walk(dir_)):
        dirs.sort()
        for f in sorted(files):
            if f == "CHECKSUM":
                continue
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, dir_).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def cached(dir_, build):
    """Return `dir_`, building it with `build(tmp_dir)` unless a previous
    build left it complete and its checksum still matches."""
    mark = os.path.join(dir_, "CHECKSUM")
    if os.path.exists(mark):
        with open(mark) as fh:
            if fh.read().strip() == checksum(dir_):
                return dir_
    shutil.rmtree(dir_, ignore_errors=True)
    tmp = dir_ + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "CHECKSUM"), "w") as fh:
        fh.write(checksum(tmp))
    os.rename(tmp, dir_)
    return dir_


def source_hash(*modules):
    """Short hash of the generator sources: a cached input set is reused
    only by the code that made it."""
    h = hashlib.sha256()
    for m in modules:
        with open(m.__file__, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def olap_inputs(root, seed):
    """Generate (or reuse) the sf0.1 OLAP tables of `seed`."""
    return cached(os.path.join(root, f"sf01_seed{seed}_{source_hash(sys.modules[__name__])}"),
                  lambda tmp: _write(tmp, sf01_tables(seed)))


def write_json(path, obj):
    with open(path, "w") as fh:
        json.dump(obj, fh, sort_keys=True)
