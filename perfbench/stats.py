"""The benchmark's arithmetic: percentiles, interval unions, self time,
space amplification, error accounting and result comparison. Pure
functions, tested by tests/test_stats.py."""
import datetime
import decimal
import math
import statistics

import pyarrow as pa
import pyarrow.compute as pc

# a percentile is reported only when this many samples lie beyond it
TAIL_SUPPORT = 10


def median(values):
    return statistics.median(values)


def percentile(values, q):
    """The q-quantile (0 < q < 1) by linear interpolation, or None when
    fewer than TAIL_SUPPORT samples lie beyond it."""
    v = sorted(values)
    n = len(v)
    if n == 0 or n - math.ceil(q * n - 1e-9) < TAIL_SUPPORT:
        return None
    pos = q * (n - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def clip(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    a, b = span
    return (b - a) - union_length(clip(children, a, b))


def driver_gap(op, jobs):
    """Op wall time during which no Spark job ran: the op's duration minus
    the union of the job intervals inside it (not the sum of job
    durations, which double-counts concurrent jobs)."""
    return self_time(op, jobs)


def space_amp(table_bytes, plain_bytes):
    """Bytes a table keeps on disk per byte of its live rows written once
    as plain parquet."""
    return sum(table_bytes) / sum(plain_bytes)


def error_rate(attempted, failed):
    if attempted <= 0:
        raise ValueError("no op was attempted")
    return failed / attempted


def norm(v):
    """Value normalisation of the oracle diff (tools/check.py)."""
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    return v


def canonical(table):
    """A result table with its columns in name order, decimals as doubles
    and timestamps as naive microseconds, as tools/check.py compares."""
    cols = sorted(table.column_names)
    out = []
    for c in cols:
        a = table.column(c)
        if pa.types.is_decimal(a.type):
            a = a.cast(pa.float64())
        elif pa.types.is_timestamp(a.type):
            a = a.cast(pa.timestamp("us"), safe=False)
        out.append(a)
    return pa.table(out, names=cols)


def _same_column(a, b):
    if a.type == b.type and a.equals(b):
        return True
    try:
        ok = pc.fill_null(pc.equal(a, b), False)
    except (pa.ArrowNotImplementedError, pa.ArrowInvalid, pa.ArrowTypeError):
        return [norm(x) for x in a.to_pylist()] == [norm(x) for x in b.to_pylist()]
    ok = pc.or_(ok, pc.and_(pc.is_null(a), pc.is_null(b)))
    if pa.types.is_floating(a.type) and pa.types.is_floating(b.type):
        ok = pc.or_(ok, pc.fill_null(pc.and_(pc.is_nan(a), pc.is_nan(b)), False))
    return pc.all(ok).as_py() is not False


def same_result(expected, got):
    """Both are `canonical` tables: same column names, same number of rows,
    and equal values row by row in order (nulls equal nulls, NaN equals
    NaN)."""
    return (expected.column_names == got.column_names
            and expected.num_rows == got.num_rows
            and all(_same_column(expected.column(c), got.column(c))
                    for c in expected.column_names))
