"""The `lake_cycle` workload: a seeded op sequence on two graft tables and
the row model that checks every read against it.

Rows are (key, cust, amt, day); `key` is unique. `idx` carries min/max
stats on `key` and a Bloom filter on `cust`, so its UPDATE, DELETE and
MERGE take the copy-on-write path; `mor` is plain, so UPDATE and DELETE
record a deletion vector, which each cycle purges after its reads (an
append refuses a head that carries one). Plan lines read
`cycle|table|op|args...`; cycle 0 holds the base commits.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_ROWS = 150000
APPEND_ROWS = 4000
MERGE_ROWS = 2000            # 60% update, 10% delete, 30% insert
UPDATE_MOD = 100             # UPDATE rows with key % 100 = r: 1%
DELETE_MOD = 400             # DELETE rows with key % 400 = r: 0.25%
RANGE_SHARE = 0.002
POINT_READS = 3
RANGE_READS = 3
TT_BACK = 3                  # time-travel reads go this many versions back
KEEP_VERSIONS = 6            # maintenance expires all but the newest ones
CUSTS = 20000
TABLES = ("idx", "mor")

M = 2147483647


def row_hash(key, cust, amt, day):
    """Per-row hash; `Digest.row` in the harness is the same arithmetic."""
    return ((key % M) * 1000003 % M + cust * 10007 + amt * 101 + day) % M


def digest(rows):
    """'count:sum' over an iterable of (key, (cust, amt, day))."""
    n = s = 0
    for k, (c, a, d) in rows:
        n += 1
        s += row_hash(k, c, a, d)
    return f"{n}:{s}"


class Table:
    """Row model of one table: live rows and the rows of every version."""

    def __init__(self):
        self.rows = {}
        self.versions = {}
        self.version = -1

    def commit(self, v):
        for x in range(self.version + 1, v + 1):
            self.versions[x] = dict(self.rows)
        self.version = v

    def apply(self, op, args, batch=None):
        """Applies a commit op; returns the number of rows it changed."""
        r = self.rows
        if op in ("base", "append"):
            for k, c, a, d in batch:
                r[k] = (c, a, d)
            return len(batch)
        if op == "merge":
            for k, c, a, d, o in batch:
                if o == "D":
                    r.pop(k, None)
                else:
                    r[k] = (c, a, d)
            return len(batch)
        if op not in ("update", "delete"):
            return 0
        mod, rem = int(args[0]), int(args[1])
        hit = [k for k in r if k % mod == rem]
        for k in hit:
            if op == "update":
                c, a, d = r[k]
                r[k] = (c, a + 7, d)
            else:
                del r[k]
        return len(hit)

    def read(self, lo, hi, version=None):
        rows = self.rows if version is None else self.versions[version]
        return digest((k, v) for k, v in rows.items() if lo <= k <= hi)


def _batch_table(rows, with_op=False):
    cols = {"key": pa.array([x[0] for x in rows], pa.int64()),
            "cust": pa.array([x[1] for x in rows], pa.int64()),
            "amt": pa.array([x[2] for x in rows], pa.int64()),
            "day": pa.array([x[3] for x in rows], pa.int32())}
    if with_op:
        cols["op"] = pa.array([x[4] for x in rows], pa.string())
    return pa.table(cols)


def generate(out_dir, seed, cycles, base_rows=BASE_ROWS):
    """Writes the staged batches under `out_dir` and returns the plan
    lines. The plan is simulated on the row model as it is generated, so
    updates, deletes and merges target live keys."""
    rng = np.random.default_rng([seed, 3])
    next_key = base_rows
    models = {t: Table() for t in TABLES}
    plan = []

    def new_rows(n):
        nonlocal next_key
        keys = np.arange(next_key, next_key + n)
        next_key += n
        return list(zip(keys.tolist(), rng.integers(0, CUSTS, n).tolist(),
                        rng.integers(0, 1000000, n).tolist(),
                        rng.integers(0, 366, n).tolist()))

    def span(share, model):
        width = max(1, int(share * base_rows))
        keys = list(model.rows)
        lo = keys[int(rng.integers(0, len(keys)))]
        return lo, lo + width - 1

    def emit(cycle, t, op, *args):
        plan.append("|".join(str(x) for x in (cycle, t, op) + args))

    for t in TABLES:
        name = f"base_{t}.parquet"
        # every key once, in a seeded order
        keys = rng.permutation(base_rows)
        base = list(zip(keys.tolist(), rng.integers(0, CUSTS, base_rows).tolist(),
                        rng.integers(0, 1000000, base_rows).tolist(),
                        rng.integers(0, 366, base_rows).tolist()))
        pq.write_table(_batch_table(base), os.path.join(out_dir, name))
        models[t].apply("base", (), base)
        emit(0, t, "base", name)
    for c in range(1, cycles + 1):
        for t in TABLES:
            m = models[t]
            name = f"append_{t}_{c}.parquet"
            rows = new_rows(APPEND_ROWS)
            pq.write_table(_batch_table(rows), os.path.join(out_dir, name))
            m.apply("append", (), rows)
            emit(c, t, "append", name)
            n_upd, n_del = int(MERGE_ROWS * 0.6), int(MERGE_ROWS * 0.1)
            live = rng.choice(np.fromiter(m.rows, np.int64), n_upd + n_del,
                              replace=False).tolist()
            merge = [(k, int(rng.integers(0, CUSTS)), int(rng.integers(0, 1000000)),
                      int(rng.integers(0, 366)), "U" if i < n_upd else "D")
                     for i, k in enumerate(live)]
            merge += [r + ("I",) for r in new_rows(MERGE_ROWS - n_upd - n_del)]
            name = f"merge_{t}_{c}.parquet"
            pq.write_table(_batch_table(merge, True), os.path.join(out_dir, name))
            m.apply("merge", (), merge)
            emit(c, t, "merge", name)
            # scattered keys: every file holds some, so the work of a
            # copy-on-write rewrite does not depend on where a range falls
            for op, mod in (("update", UPDATE_MOD), ("delete", DELETE_MOD)):
                rem = int(rng.integers(0, mod))
                m.apply(op, (mod, rem))
                emit(c, t, op, mod, rem)
            keys = list(m.rows)
            for _ in range(POINT_READS):
                emit(c, t, "point", keys[int(rng.integers(0, len(keys)))])
            for _ in range(RANGE_READS):
                emit(c, t, "range", *span(RANGE_SHARE, m))
            emit(c, t, "tt", *span(RANGE_SHARE, m), TT_BACK)
            if t == "mor":
                emit(c, t, "purge")
                m.apply("purge", ())
            emit(c, t, "maintain", KEEP_VERSIONS)
    return plan


def read_batch(path, with_op=False):
    t = pq.read_table(path)
    cols = [t.column(n).to_pylist() for n in ("key", "cust", "amt", "day")]
    if with_op:
        cols.append(t.column("op").to_pylist())
    return list(zip(*cols))


def check(inputs, plan, results, final):
    """Replays the executed prefix of `plan` on the row model.

    `results` holds (ok, result) for each executed plan line in order:
    "v<n>" for commits, "count:sum" for reads ("v<n>|count:sum" for
    time-travel reads); `final` maps each table to the "count:sum" of its
    last snapshot. Returns (per-line pass flags, final pass flag, rows
    changed per line)."""
    models = {t: Table() for t in TABLES}
    flags, changed = [], []
    for line, (ok, res) in zip(plan, results):
        _, t, op, *args = line.split("|")
        m = models[t]
        good, n = ok, 0
        if op in ("point", "range", "tt"):
            lo = int(args[0])
            hi = int(args[1]) if op != "point" else lo
            v = None
            if op == "tt":
                v, _, res = res.partition("|")
                v = int(v[1:]) if ok else -1
                good = ok and v in m.versions
            good = good and res == m.read(lo, hi, v)
        else:
            batch = None
            if op in ("base", "append", "merge"):
                batch = read_batch(os.path.join(inputs, args[0]), op == "merge")
            n = m.apply(op, args, batch)
            if ok:
                m.commit(int(res[1:]))
        flags.append(bool(good))
        changed.append(n)
    final_ok = all(final.get(t) == digest(models[t].rows.items()) for t in TABLES)
    return flags, final_ok, changed
