"""DuckDB references for the embedding kernels of llm/similarity.py.

Each helper evaluates, in DuckDB and over the caller's own rows, the SQL
that the plans/llm_gate.py oracles replay: the ``list_zip`` +
``list_reduce`` left fold (dot, cosine, L2, integer dot, SRP
projections), the int8 quantization, the exact-integer Lloyd chain and
the within-group pair scans. A test then compares the engine's one
implementation of each kernel with an independent engine on the same
inputs. Float results come back as ``repr`` strings, so a one-ulp
difference fails."""

from __future__ import annotations

import duckdb
import pyarrow as pa

from tally_database_loader_spark.llm.similarity import _planes
from tally_database_loader_spark.plans.llm_gate import (
    _DD_Q8, _DD_SD_SUB, _DD_SEMDEDUP_COS, _dd_dot, _dd_l2, _dd_lloyd,
    _dd_srp_bucket)


def _null_safe(fold: str, a: str, b: str) -> str:
    # DuckDB's list_zip reads a NULL list as empty, and list_reduce
    # rejects an empty list; in SQL a fold over a NULL vector is NULL
    return f"CASE WHEN {a} IS NOT NULL AND {b} IS NOT NULL THEN {fold} END"


def _dot(a: str, b: str) -> str:
    return _null_safe(_dd_dot(a, b), a, b)


def _cos(a: str, b: str) -> str:
    return (_dot(a, b) + " / (sqrt(" + _dot(a, a) + ") * sqrt("
            + _dot(b, b) + "))")


def vectors(rows, elem=pa.float32()) -> pa.Table:
    """``(vec_id, embedding)`` rows as the Arrow table DuckDB reads;
    ``elem`` must match the Spark side's element type."""
    ids, vecs = zip(*rows)
    return pa.table({"vec_id": pa.array(ids, pa.int64()),
                     "embedding": pa.array(vecs, pa.list_(elem))})


def connect(**tables: pa.Table) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name, t in tables.items():
        con.register(name, t)
    return con


def _fetch(sql: str, **tables: pa.Table) -> list:
    con = connect(**tables)
    return con.sql(sql).fetchall()


def folds(rows, planes) -> dict:
    """``{id: (dot, cosine, l2, srp_bucket)}`` over ``(id, a, b)`` rows
    of DOUBLE[] pairs; the bucket is of ``a``."""
    ids, a, b = zip(*rows)
    t = pa.table({"id": pa.array(ids, pa.int64()),
                  "a": pa.array(a, pa.list_(pa.float64())),
                  "b": pa.array(b, pa.list_(pa.float64()))})
    sql = (f"SELECT id, {_dot('a', 'b')}, {_cos('a', 'b')}, "
           f"{_null_safe(_dd_l2('a', 'b'), 'a', 'b')}, "
           f"{_dd_srp_bucket('a', planes)} FROM t")
    return {r[0]: (repr(r[1]), repr(r[2]), repr(r[3]), r[4])
            for r in _fetch(sql, t=t)}


def int_dots(rows) -> dict:
    """``{id: Σ a[i]*b[i]}`` over ``(id, a, b)`` rows of BIGINT[] pairs —
    the quantized_topk oracle's integer fold."""
    ids, a, b = zip(*rows)
    t = pa.table({"id": pa.array(ids, pa.int64()),
                  "a": pa.array(a, pa.list_(pa.int64())),
                  "b": pa.array(b, pa.list_(pa.int64()))})
    fold = ("list_reduce(list_apply(list_zip(a, b), p -> p[1] * p[2]), "
            "(x, y) -> x + y)")
    sql = f"SELECT id, {_null_safe(fold, 'a', 'b')} FROM t"
    return dict(_fetch(sql, t=t))


def quantize(rows) -> dict:
    """``{id: (scale, q)}`` over ``(id, v)`` DOUBLE[] rows by the
    quantized_topk oracle's int8 quantization. A NULL vector or one with
    a NaN component has no int8 image (``floor(NaN)``); the engine pins
    those to a fields-NULL struct, ``(None, None)`` here."""
    con = connect(src=vectors(rows, pa.float64()))
    con.sql("CREATE VIEW embeddings AS SELECT * FROM src "
            "WHERE embedding IS NOT NULL "
            "AND len(list_filter(embedding, x -> isnan(x))) = 0")
    got = {r[0]: (r[1], tuple(r[2])) for r in con.sql(_DD_Q8).fetchall()}
    return {i: got.get(i, (None, None)) for i, _ in rows}


def near_dups(rows, threshold: float, n_bits: int, dim: int) -> list:
    """``embedding_near_duplicates``: sorted ``(d1, d2, repr(cos))``
    pairs inside SRP buckets with ``cos >= threshold``."""
    cos = _cos("a.embedding", "c.embedding")
    sql = f"""
WITH b AS (SELECT vec_id, embedding,
                  {_dd_srp_bucket('embedding', _planes(n_bits, dim))} AS bucket
           FROM embeddings)
SELECT a.vec_id, c.vec_id, {cos}
FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
WHERE {cos} >= CAST({threshold!r} AS DOUBLE)"""
    return sorted((d1, d2, repr(c)) for d1, d2, c in
                  _fetch(sql, embeddings=vectors(rows)))


def semantic_dedup(rows, threshold: float, n_lists: int, iters: int,
                   cell_cap: int | None = None) -> list:
    """``semantic_dedup``: sorted ``(vec_id, cell)`` survivors — the
    Lloyd chain, the (capped) within-cell pair scan and the anti-join of
    the semantic_dedup / semantic_dedup_capped oracles."""
    sub = "0" if cell_cap is None else \
        f"{_DD_SD_SUB} % ((csz.c + {cell_cap} - 1) // {cell_cap})"
    sql = f"""
WITH {_dd_lloyd('k', 'embedding', n_lists, iters)},
csz AS (SELECT cell, CAST(count(*) AS BIGINT) AS c FROM kaf GROUP BY 1),
sub AS (SELECT kaf.vec_id, kaf.cell, {sub} AS sb
        FROM kaf JOIN csz USING (cell)),
drops AS (
  SELECT DISTINCT b.vec_id AS drop_id
  FROM sub a JOIN sub b ON a.cell = b.cell AND a.sb = b.sb
                       AND a.vec_id < b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
  WHERE {_DD_SEMDEDUP_COS} > CAST({threshold!r} AS DOUBLE))
SELECT kaf.vec_id, CAST(kaf.cell AS INT) FROM kaf
WHERE kaf.vec_id NOT IN (SELECT drop_id FROM drops)"""
    return sorted(_fetch(sql, embeddings=vectors(rows)))


def cell_drops(rows, threshold: float) -> list:
    """The pair stage alone over a hand-built ``(n_id, n_vec, cell)``
    assignment: sorted ids with a lower-id same-cell neighbour at
    cosine ``> threshold``."""
    ids, vecs, cells = zip(*rows)
    t = pa.table({"n_id": pa.array(ids, pa.int64()),
                  "n_vec": pa.array(vecs, pa.list_(pa.float32())),
                  "cell": pa.array(cells, pa.int32())})
    sql = f"""
SELECT DISTINCT b.n_id FROM t a JOIN t b
  ON a.cell = b.cell AND a.n_id < b.n_id
WHERE {_cos('a.n_vec', 'b.n_vec')} > CAST({threshold!r} AS DOUBLE)"""
    return sorted(r[0] for r in _fetch(sql, t=t))


def kmeans(con: duckdb.DuckDBPyConnection, n_lists: int, iters: int,
           vec: str = "embedding", prefix: str = "k") -> tuple:
    """``kmeans_cells`` over the ``embeddings`` relation of ``con``:
    ``({vec_id: cell}, centroids)`` from the oracles' Lloyd chain;
    ``vec`` may slice the embedding (a PQ subspace)."""
    ctes = _dd_lloyd(prefix, vec, n_lists, iters)
    cells = dict(con.sql(f"WITH {ctes} SELECT vec_id, CAST(cell AS INT) "
                         f"FROM {prefix}af").fetchall())
    cents = [list(c) for _, c in sorted(con.sql(
        f"WITH {ctes} SELECT cell, c FROM {prefix}c{iters}").fetchall())]
    return cells, cents
