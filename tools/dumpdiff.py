#!/usr/bin/env python3
"""Compare two `graft.Verify` output dirs key by key: the same columns,
the same rows in the same order, values exactly (NaN equals NaN).

Usage: python3 tools/dumpdiff.py <outA> <outB>
Prints one line per key; the keys are the union of both dirs, and a key
present on one side only fails. Exits 1 on any difference.
"""
import math
import os
import sys

import duckdb


def keys(out):
    """Result dirs of a Verify output, skipping underscore-prefixed
    artifacts (the _forensics dump beside the Bloom keys)."""
    return {k for k in os.listdir(out)
            if os.path.isdir(os.path.join(out, k)) and not k.startswith("_")}


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, _norm(x)) for k, x in v.items())
    return v


def _read(con, out, k):
    rel = con.execute(f"SELECT * FROM read_parquet('{out}/{k}/*.parquet')")
    cols = [d[0] for d in con.description]
    return cols, [_norm(r) for r in rel.fetchall()]


def compare(out_a, out_b):
    """Yields (key, None) for an identical key and (key, reason) for a
    differing one, over the union of both dirs' keys."""
    con = duckdb.connect()
    ka, kb = keys(out_a), keys(out_b)
    for k in sorted(ka | kb):
        if k not in ka or k not in kb:
            yield k, f"only in {out_a if k in ka else out_b}"
            continue
        try:
            (ca, ra), (cb, rb) = _read(con, out_a, k), _read(con, out_b, k)
        except Exception as e:  # an unreadable dump is a difference
            yield k, f"read error: {e}"
            continue
        if ca != cb:
            yield k, f"columns {ca} vs {cb}"
        elif len(ra) != len(rb):
            yield k, f"{len(ra)} vs {len(rb)} rows"
        else:
            bad = next((i for i, (a, b) in enumerate(zip(ra, rb)) if a != b), None)
            yield k, None if bad is None else \
                f"row {bad} of {len(ra)}: {ra[bad]!r} vs {rb[bad]!r}"


def main(out_a, out_b):
    fails = n = 0
    for k, why in compare(out_a, out_b):
        n += 1
        if why:
            fails += 1
            print(f"FAIL {k}: {why}")
        else:
            print(f"ok   {k}")
    print("RESULT:", "FAIL" if fails else "PASS", f"({fails} differing of {n})")
    return 1 if fails else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
