"""Correctness checks and statistics helpers. Nothing here runs inside a
timed region.

The store checks read the committed snapshot the way any reader of the
``ParquetStore`` layout would: the latest ``v{n}/_manifest.json`` lists
the data files of every bucket, and DuckDB compares their rows with the
expected source frames as multisets (``EXCEPT ALL`` both ways), so the
check is independent of the engine's own read path.
"""

from __future__ import annotations

import datetime
import decimal
import json
import math
import os
import statistics

import pyarrow as pa

# -- the manifest layout -----------------------------------------------------

def versions(root: str, table: str) -> list[int]:
    d = os.path.join(root, table)
    if not os.path.isdir(d):
        return []
    return sorted(int(v[1:]) for v in os.listdir(d)
                  if v.startswith("v") and v[1:].isdigit()
                  and os.path.isfile(os.path.join(d, v, "_manifest.json")))


def manifest(root: str, table: str, version: int) -> dict[int, list[str]]:
    """bucket → data files (relative to the table directory)."""
    with open(os.path.join(root, table, f"v{version}", "_manifest.json")) as fh:
        return {int(b): f for b, f in json.load(fh)["buckets"].items()}


def live_files(root: str, table: str) -> list[str]:
    vs = versions(root, table)
    if not vs:
        return []
    return [os.path.join(root, table, f)
            for files in manifest(root, table, vs[-1]).values() for f in files]


def tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def rewritten_buckets(root: str, table: str, after: int
                      ) -> tuple[set[int], int]:
    """Buckets physically rewritten by the commits after version
    ``after``: a manifest entry whose files live in that commit's own
    directory. Also returns the bytes those commits wrote."""
    buckets: set[int] = set()
    nbytes = 0
    for v in versions(root, table):
        if v <= after:
            continue
        for b, files in manifest(root, table, v).items():
            own = [f for f in files if f.startswith(f"v{v}/")]
            if own:
                buckets.add(b)
                nbytes += sum(os.path.getsize(os.path.join(root, table, f))
                              for f in own)
    return buckets, nbytes


def _multiset_diff(con, got_sql: str, want_sql: str) -> tuple[int, int]:
    extra = con.sql(f"SELECT count(*) FROM ({got_sql} EXCEPT ALL {want_sql})"
                    ).fetchone()[0]
    missing = con.sql(f"SELECT count(*) FROM ({want_sql} EXCEPT ALL "
                      f"{got_sql})").fetchone()[0]
    return extra, missing


def frames_match(con, got: pa.Table, want: pa.Table) -> tuple[bool, str]:
    """Two Arrow tables hold the same multiset of rows."""
    if sorted(got.column_names) != sorted(want.column_names):
        return False, f"columns {got.column_names} != {want.column_names}"
    cols = ", ".join(f'"{c}"' for c in want.column_names)
    con.register("__got", got)
    con.register("__want", want)
    try:
        extra, missing = _multiset_diff(con, f"SELECT {cols} FROM __got",
                                        f"SELECT {cols} FROM __want")
    finally:
        con.unregister("__got")
        con.unregister("__want")
    if extra or missing:
        return False, f"{extra} unexpected rows, {missing} missing"
    return True, ""


def store_matches(con, root: str, table: str, expected: pa.Table
                  ) -> tuple[bool, str]:
    """The committed snapshot of ``table`` equals ``expected`` as a
    multiset of rows."""
    files = live_files(root, table)
    cols = ", ".join(f'"{c}"' for c in expected.column_names)
    con.register("__expected", expected)
    try:
        if files:
            lst = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
            got = (f"SELECT {cols} FROM read_parquet([{lst}], "
                   f"hive_partitioning=false)")
        else:
            got = f"SELECT {cols} FROM __expected WHERE false"
        extra, missing = _multiset_diff(con, got,
                                        f"SELECT {cols} FROM __expected")
    finally:
        con.unregister("__expected")
    if extra or missing:
        return False, f"{table}: {extra} unexpected rows, {missing} missing"
    return True, ""


def key_buckets(spark, keys: dict, n_buckets: int) -> dict:
    """Storage buckets of each key set under the store's layout hash
    (``pmod(xxhash64(key), n_buckets)``), in one Spark job."""
    rows = [(i, k) for i, ks in enumerate(keys.values()) for k in ks]
    out = {tag: set() for tag in keys}
    if not rows:
        return out
    from pyspark.sql import functions as F
    tags = list(keys)
    df = spark.createDataFrame(rows, "i int, k string")
    for i, b in df.select("i", F.pmod(F.xxhash64(F.col("k")),
                                      F.lit(n_buckets)).cast("int")
                          ).distinct().collect():
        out[tags[i]].add(b)
    return out


# -- value hashing of query results ---------------------------------------------

def _cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    return v


def normalize(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, cells normalized (floats to 9 places),
    rows sorted — an order-insensitive value image of a result."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i].lower() for i in order], out


def arrow_rows(table: pa.Table) -> tuple[list[str], list[tuple]]:
    cols = table.column_names
    data = [table.column(c).to_pylist() for c in cols]
    return cols, list(zip(*data)) if data else []


def same_result(got: tuple[list[str], list[tuple]],
                want: tuple[list[str], list[tuple]]) -> tuple[bool, str]:
    gc, gr = normalize(*got)
    wc, wr = normalize(*want)
    if gc != wc:
        return False, f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return False, f"{len(gr)} rows != {len(wr)}"
    if gr != wr:
        diff = next((a, b) for a, b in zip(gr, wr) if a != b)
        return False, f"first differing row {diff[0]} != {diff[1]}"
    return True, ""


# -- statistics ------------------------------------------------------------------

def quantile(samples: list[float], q: float) -> float:
    """Nearest-rank quantile of a non-empty sample (0 < q ≤ 1)."""
    xs = sorted(samples)
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def tail(samples: list[float], beyond: int = 10) -> tuple[float, int, int]:
    """The highest whole percentile with at least ``beyond`` samples
    strictly above it: ``(value, percentile, samples above)``. Below 50
    the rule stops: a sample too small for any percentile from 50 up to
    qualify (fewer than about ``2 * beyond`` samples) reports the median,
    with the count above it as is."""
    xs = sorted(samples)
    for p in range(99, 49, -1):
        v = quantile(xs, p / 100)
        above = sum(x > v for x in xs)
        if above >= beyond:
            return v, p, above
    v = statistics.median(xs)
    return v, 50, sum(x > v for x in xs)
