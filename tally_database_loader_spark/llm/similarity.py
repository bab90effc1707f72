"""Similarity search over embedding columns (array<float>).

Two paths:

- ``cosine_topk`` — brute-force exact top-k: queries broadcast against the
  corpus, dot products evaluated by one Arrow kernel per batch.
  O(queries × corpus); the right answer for small query sets and the
  correctness baseline for the ANN path.
- ``lsh_topk`` — sign-random-projection LSH: every vector gets a B-bit
  bucket (sign of B fixed pseudo-random hyperplane projections); search
  compares only same-bucket vectors. At 100 TB the bucket join replaces
  the full cross product; recall is tunable via B (fewer bits → bigger
  buckets → higher recall, more compute).

All arithmetic is double-precision and sequential (a left fold over the
zipped elements), which a SQL oracle reproduces bit-for-bit — see
plans/llm_gate.py, whose DuckDB ``list_zip`` + ``list_reduce`` folds are
the semantic reference.

Execution note: every embedding kernel has exactly one implementation.
The float folds, the int8 kernels and the SRP bucket are ``arrow_udf``s
and the two pair stages are ``applyInArrow`` kernels, so a null vector
element arrives as SQL NULL (never as NaN) and NULL-propagates the way
``zip_with`` and DuckDB do. Floats accumulate dimension-at-a-time across
the batch, which is the oracle's left fold bit-for-bit; the k-means/PQ
assignment is exact int64 matrix math in numpy.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
# UDF result types are DataType objects: a type STRING is first tried as a
# DDL schema, and a bare type name fails that parse inside the JVM, whose
# exception costs dozens of Py4J round trips per UDF
from pyspark.sql.types import (ArrayType, ByteType, DoubleType, IntegerType,
                               LongType, StructField, StructType)


def dot(a: Column | str, b: Column | str) -> Column:
    """Σ a[i]*b[i] in double, left-to-right (float→double is exact, so the
    only rounding is the adds — deterministic and oracle-reproducible).

    The kernel reproduces the left-to-right fold BIT-FOR-BIT by
    accumulating one dimension at a time across the whole Arrow batch
    (``acc += P[:, i]`` — per ROW that is exactly init + x₀ + x₁ + …,
    the same IEEE adds in the same order; numpy's own ``sum`` would
    pairwise-sum and change the bits)."""
    return _fold_vec("dot")(a, b)


def cosine(a: Column | str, b: Column | str) -> Column:
    """dot/(‖a‖·‖b‖) with every operand derived by the same fold rules,
    as ONE Arrow exchange (three sequential folds + sqrt + divide in
    numpy, each op correctly-rounded IEEE like the JVM)."""
    return _fold_vec("cosine")(a, b)


def _seq_fold(prod: "np.ndarray") -> "np.ndarray":
    """Left-to-right accumulation across columns: per row this is
    0.0 + p₀ + p₁ + … — the exact add order of the SQL fold."""
    acc = np.zeros(prod.shape[0], dtype=prod.dtype)
    for i in range(prod.shape[1]):
        acc = acc + prod[:, i]
    return acc


def _flat(arr: pa.Array, dtype) -> tuple:
    """``(vals, starts, lens)`` of an Arrow ``list<number>`` array: the
    child elements as ``dtype`` (a NULL element reads as 0), each row's
    start in ``vals``, and each row's length — -1 for a NULL vector AND
    for a vector holding a NULL element, since a SQL fold over either
    is NULL."""
    offs = arr.offsets.to_numpy().astype(np.int64)
    child = arr.values
    vals = child.fill_null(0).to_numpy(zero_copy_only=False).astype(dtype)
    # NULL elements per row as a difference of prefix counts: one pass
    # over the child, no per-row Python
    nul = np.concatenate(([0], np.cumsum(
        child.is_null().to_numpy(zero_copy_only=False))))
    lens = np.diff(offs)
    bad = arr.is_null().to_numpy(zero_copy_only=False) \
        | (nul[offs[1:]] != nul[offs[:-1]])
    return vals, offs[:-1], np.where(bad, -1, lens)


def _rows(vals: np.ndarray, starts: np.ndarray, idx: np.ndarray,
          L: int) -> np.ndarray:
    """The ``len(idx) × L`` matrix of the length-``L`` rows ``idx``."""
    return vals[starts[idx][:, None] + np.arange(L)[None, :]]


def _fold_vec(kind: str):
    """Build the arrow_udf for a float fold family (``dot`` /
    ``cosine`` / ``l2``). Rows are grouped by length and each group is
    stacked and folded dimension-at-a-time — no per-row Python.

    Edges (each one matches the DuckDB oracle's ``list_zip`` +
    ``list_reduce`` fold):

    - null VECTOR → NULL.
    - null ELEMENT → NULL: Arrow hands the kernel a real null (a
      pandas_udf would have seen NaN), and a fold over a NULL operand is
      NULL, as under ``zip_with`` + ``aggregate``.
    - ragged lengths within a pair → NULL (``zip_with`` pads the short
      side with nulls); mixed dims across the batch still compute.
    - NaN elements → NaN results, returned as a VALUE (an Arrow array
      built with an explicit mask keeps NaN distinct from NULL).
    - zero-norm cosine → NULL (DuckDB's double x/0 is NULL, and Spark 4's
      default ANSI mode would raise DIVIDE_BY_ZERO) — a NaN result would
      poison similarity thresholds (NaN orders above every τ in Spark
      AND DuckDB). A NaN denominator is not zero and propagates NaN."""

    @F.arrow_udf(DoubleType())
    def fold(xs: pa.Array, ys: pa.Array) -> pa.Array:
        xv, xo, xl = _flat(xs, np.float64)
        yv, yo, yl = _flat(ys, np.float64)
        out = np.zeros(len(xs))
        null = (xl < 0) | (xl != yl)
        for L in np.unique(xl[~null]):
            idx = np.flatnonzero(~null & (xl == L))
            A = _rows(xv, xo, idx, L)
            B = _rows(yv, yo, idx, L)
            if kind == "dot":
                out[idx] = _seq_fold(A * B)
            elif kind == "l2":
                d = A - B
                out[idx] = _seq_fold(d * d)
            else:
                den = np.sqrt(_seq_fold(A * A)) * np.sqrt(_seq_fold(B * B))
                with np.errstate(divide="ignore", invalid="ignore"):
                    out[idx] = _seq_fold(A * B) / den
                null[idx[den == 0.0]] = True
        return pa.array(out, mask=null)

    return fold


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` (small) is broadcast; the corpus is scanned once. The
    ranking window partitions by query id — the shuffle is O(queries ×
    corpus) rows but each post-filter partition is tiny. Ties break on
    neighbor id for determinism."""
    q = F.broadcast(queries.selectExpr(f"`{id_col}` AS q_id",
                                       f"`{vec_col}` AS q_vec"))
    c = corpus.selectExpr(f"`{id_col}` AS n_id", f"`{vec_col}` AS n_vec")
    scored = (c.join(q, F.expr("n_id != q_id"))
               .withColumn("cos", cosine("q_vec", "n_vec"))
               .select("q_id", "n_id", "cos"))
    return _top_k(scored, k, "cos", "cos DESC")


def _top_k(scored: DataFrame, k: int, score: str, order: str) -> DataFrame:
    """The ``k`` best ``(q_id, n_id, score)`` rows per query under
    ``order``, ties to the lower neighbor id: ``q_id, neighbor_id, rank,
    score`` — the output shape every top-k search here shares. One
    window projection and one filter, built from SQL text."""
    return (scored.selectExpr(
                "q_id", "n_id AS neighbor_id",
                f"CAST(row_number() OVER (PARTITION BY q_id ORDER BY {order}, "
                f"n_id) AS INT) AS rank", score)
            .filter(f"rank <= {k}"))


# ---------------------------------------------------------------------------
# int8 quantization (scalar quantization, per-vector scale)
# ---------------------------------------------------------------------------

def quantize_int8(vec: Column | str) -> Column:
    """Per-vector symmetric int8 quantization: ``struct(scale, q)`` with
    ``scale = max|x|/127`` and ``q[i] = floor(x[i]/scale + 0.5)`` (zero
    vectors quantize to all-zero, scale 0).

    floor(x+0.5) is used instead of round() because its IEEE semantics are
    identical across engines (Spark HALF_UP vs DuckDB's round differ at
    ties). At scale this is the memory lever for ANN: 4× smaller vectors,
    and the dot product becomes *exact integer* arithmetic — associative,
    so partial aggregation and AQE reordering cannot perturb it.

    Every step (abs-max, divide, floor) is an elementwise
    correctly-rounded IEEE op, so the kernel needs no fold-order care.
    Edges, as in the DuckDB oracle: a NULL element is skipped by the
    abs-max and quantizes to NULL (an all-NULL or empty vector has NULL
    scale); a NaN component, or a NULL vector, gives a fields-NULL
    struct — the NaN pin, since ``floor(NaN)`` has no int8 value."""

    @F.arrow_udf(StructType([StructField("scale", DoubleType()),
                             StructField("q", ArrayType(ByteType()))]))
    def quant(xs: pa.Array) -> pa.Array:
        n = len(xs)
        offs = xs.offsets.to_numpy().astype(np.int64)
        child = xs.values.slice(offs[0], offs[-1] - offs[0])
        offs = offs - offs[0]
        en = child.is_null().to_numpy(zero_copy_only=False)
        v = child.fill_null(0).to_numpy(zero_copy_only=False) \
            .astype(np.float64)
        row = np.repeat(np.arange(n), np.diff(offs))
        # -1 marks a NULL element: below every |x|, so the max skips it,
        # and a row with no non-NULL element keeps amax = -1 → NULL scale
        amax = np.full(n, -1.0)
        np.maximum.at(amax, row, np.where(en, -1.0, np.abs(v)))
        pinned = xs.is_null().to_numpy(zero_copy_only=False) \
            | (np.bincount(row, weights=np.isnan(v) & ~en, minlength=n) > 0)
        scale = amax / 127.0
        with np.errstate(divide="ignore", invalid="ignore"):
            q = np.floor(v / scale[row] + 0.5)
        zero = amax[row] == 0.0
        q_null = en & ~zero
        # Stored as array<tinyint> — values are in [-127, 127] by
        # construction, so the materialized column really is 1
        # byte/component (the claimed 4-8× memory reduction); int_dot
        # widens before multiplying.
        q = np.where(zero | q_null | pinned[row], 0.0, q).astype(np.int8)
        # a pinned row is a struct with NULL fields, not a NULL struct:
        # the shape quantized_topk's consumers have always been given
        return pa.StructArray.from_arrays(
            [pa.array(scale, mask=pinned | (amax < 0)),
             pa.ListArray.from_arrays(
                 pa.array(offs.astype(np.int32)),
                 pa.array(q, mask=q_null), mask=pa.array(pinned))],
            names=["scale", "q"])

    return quant(vec)


def int_dot(a: Column | str, b: Column | str) -> Column:
    """Σ a[i]*b[i] over int64 — exact, order-independent. Inputs may be
    stored narrow (tinyint); each component is widened to long *before*
    the multiply so tinyint×tinyint can never wrap. Integer addition is
    associative, so the kernel may sum in any order. A NULL vector, a
    NULL element or a ragged pair gives NULL, as ``_fold_vec``."""

    @F.arrow_udf(LongType())
    def idot(xs: pa.Array, ys: pa.Array) -> pa.Array:
        xv, xo, xl = _flat(xs, np.int64)
        yv, yo, yl = _flat(ys, np.int64)
        out = np.zeros(len(xs), dtype=np.int64)
        null = (xl < 0) | (xl != yl)
        for L in np.unique(xl[~null]):
            idx = np.flatnonzero(~null & (xl == L))
            out[idx] = (_rows(xv, xo, idx, L) * _rows(yv, yo, idx, L)) \
                .sum(axis=1)
        return pa.array(out, mask=null)

    return idot(a, b)


def quantized_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Top-k by quantized dot product: ``score = int_dot(qa, qb) · sa · sb``
    — the int8 rescoring path. The integer dot is exact; only the two
    final double multiplies round, deterministically, so a SQL oracle
    matches bit-for-bit. Recall vs the float path is asserted in tests."""
    q = F.broadcast(queries.withColumn("qq", quantize_int8(vec_col))
                           .selectExpr(f"`{id_col}` AS q_id", "qq"))
    c = (corpus.withColumn("nq", quantize_int8(vec_col))
               .selectExpr(f"`{id_col}` AS n_id", "nq"))
    scored = (c.join(q, F.expr("n_id != q_id"))
               .withColumn("dotq", int_dot("qq.q", "nq.q"))
               .selectExpr("q_id", "n_id",
                           "qq.scale * nq.scale * CAST(dotq AS DOUBLE) AS score"))
    return _top_k(scored, k, "score", "score DESC")


# ---------------------------------------------------------------------------
# sign-random-projection LSH
# ---------------------------------------------------------------------------

def _planes(n_bits: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 hyperplanes from md5 parity — no RNG state, so every
    executor (and any re-run) derives identical planes."""
    out = []
    for p in range(n_bits):
        row = []
        for j in range(dim):
            h = hashlib.md5(f"plane:{p}:{j}".encode()).digest()[0]
            row.append(1.0 if h % 2 == 0 else -1.0)
        out.append(row)
    return out


def srp_bucket(vec: Column | str, planes: list[list[float]]) -> Column:
    """B-bit bucket id: bit p = sign(vec · plane_p), each projection the
    same left-to-right fold as ``dot`` (n_bits sequential folds over the
    Arrow batch).

    Edges: the bit test is ``NOT (proj <= 0)``, because Spark SQL and
    DuckDB order NaN above every number (``NaN > 0`` is TRUE) while
    numpy comparisons on NaN are all false — a NaN projection sets the
    bit. A NULL vector, a NULL element, or a length other than the plane
    dimension gives NULL projections, and ``CASE WHEN NULL > 0`` takes
    the ELSE branch, so the bucket is 0."""
    pl = np.asarray(planes, dtype=np.float64)      # n_bits × dim
    weights = np.array([1 << p for p in range(len(planes))], dtype=np.int64)
    dim = pl.shape[1]

    @F.arrow_udf(LongType())
    def bucket(xs: pa.Array) -> pa.Array:
        vals, starts, lens = _flat(xs, np.float64)
        out = np.zeros(len(xs), dtype=np.int64)
        idx = np.flatnonzero(lens == dim)
        A = _rows(vals, starts, idx, dim)
        projs = np.stack([_seq_fold(A * pl[p]) for p in range(pl.shape[0])],
                         axis=1)                   # n × n_bits
        out[idx] = ~(projs <= 0) @ weights
        return pa.array(out)

    return bucket(vec)


def embedding_near_duplicates(corpus: DataFrame, threshold: float = 0.95,
                              n_bits: int = 4, dim: int = 64,
                              id_col: str = "vec_id",
                              vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate pairs (d1 < d2, cos ≥ threshold) —
    the fifth dedup modality (exact / Jaccard / MinHash / SimHash / and
    this): two documents whose embeddings nearly coincide are duplicates
    even when their surface text diverges.

    Scale path: SRP-bucket self-join (same buckets as ``lsh_topk``) so the
    pairwise cosine is evaluated only inside buckets — expected
    n²/2^n_bits pairs instead of n². Near-identical vectors agree on every
    hyperplane sign with probability ≈ 1-ε, so recall at dedup-grade
    thresholds (≥0.9) is effectively total; raise n_bits to shrink buckets
    on bigger corpora."""
    planes = _planes(n_bits, dim)
    # grouped per-bucket pair stage (the semantic_dedup _cell_drops
    # rationale: ship each vector once per BUCKET, not once per pair):
    # the bucket projection runs once and one numpy task per bucket
    # emits the (d1, d2, cos) pairs with the exact left-fold bits.
    b = corpus.select(F.col(id_col).alias("n_id"),
                      F.col(vec_col).alias("n_vec"),
                      srp_bucket(F.col(vec_col), planes).alias("bucket"))
    return _bucket_pairs(b, ["bucket"], float(threshold))


_CQ = 1 << 14  # component quantization for centroid arithmetic


def centroid_cosine(corpus: DataFrame, id_col: str = "vec_id",
                    label_col: str = "label",
                    vec_col: str = "embedding") -> DataFrame:
    """Cosine of every vector to its group's centroid — the embedding-
    space quality filter (SemDeDup / data-pruning style): vectors far
    from their cluster centroid are outliers (mislabeled, noise, or
    off-distribution) and are the ones a curation pass drops first.

    Exact-arithmetic design: cosine to the MEAN vector equals cosine to
    the per-position SUM vector (the 1/n scale cancels), so the centroid
    is kept as an integer sum of quantized components
    (``floor(v·2^14 + 0.5)``) and every aggregation — per-position sums,
    dot products, squared norms — is associative integer math in
    DECIMAL(38,0). Partition order, AQE re-plans and retries cannot
    perturb a single bit, and a SQL engine reproduces the doubles
    exactly; the only roundings are the final cast and one sqrt/divide.

    Scale shape: one posexplode scan → groupBy (label, pos) partial-agg
    (labels × dim rows — dimension-sized); the scoring join broadcasts
    that table back onto the exploded stream and re-aggregates by vector
    id map-side. Two shuffles total, both on uniform keys.

    Output: ``vec_id, label, cos_centroid`` (vectors with zero norm are
    dropped — cosine undefined).
    """
    def dsum(a: str, b: str) -> str:
        return f"sum(CAST({a} AS DECIMAL(38,0)) * CAST({b} AS DECIMAL(38,0)))"

    return corpus.sparkSession.sql(f"""
WITH e AS (
  SELECT vid, label, pos,
         CAST(floor(CAST(v AS DOUBLE) * {float(_CQ)!r}D + 0.5D) AS BIGINT) AS qv
  FROM (SELECT `{id_col}` AS vid, `{label_col}` AS label,
               posexplode(`{vec_col}`) AS (pos, v) FROM {{corpus}})),
s AS (SELECT label, pos, sum(qv) AS sq FROM e GROUP BY label, pos),
cn AS (SELECT label, {dsum('sq', 'sq')} AS cn2 FROM s GROUP BY label),
sc AS (
  SELECT /*+ BROADCAST(s) */ e.vid, e.label,
         {dsum('e.qv', 's.sq')} AS dotq, {dsum('e.qv', 'e.qv')} AS vn2
  FROM e JOIN s ON e.label = s.label AND e.pos = s.pos
  GROUP BY e.vid, e.label)
SELECT /*+ BROADCAST(cn) */ sc.vid AS vec_id, sc.label,
       CAST(dotq AS DOUBLE)
       / (sqrt(CAST(vn2 AS DOUBLE)) * sqrt(CAST(cn2 AS DOUBLE))) AS cos_centroid
FROM sc JOIN cn ON sc.label = cn.label
WHERE vn2 > 0 AND cn2 > 0""", corpus=corpus)


_KQ = 1 << 14  # component quantization for exact k-means arithmetic


def _kmeans_uq(vec: str) -> str:
    """SQL text of the non-negative integer quantization for exact
    k-means distances, over the SQL array expression ``vec``:
    ``u[i] = clamp(floor(v[i]·2^14 + 0.5), ±2^14) + 2^14`` ∈ [0, 2^15].

    The +2^14 offset makes every value (hence every per-cell component
    sum) non-negative, so integer division truncates identically in every
    engine (Spark ``div``, DuckDB ``//``, Python ``//`` all agree on
    non-negative operands). Distances are differences, so the common
    offset cancels — cluster geometry is unchanged. The clamp bounds the
    domain for unnormalized vectors (components beyond ±1 saturate).

    The clamp runs in double BEFORE the floor (the two commute for
    integer bounds): Spark's ``floor`` returns a long and turns NaN into
    0, where the oracle's double ``floor`` keeps NaN, which ``least``
    then saturates to +2^14 — clamping first gives that in both. A NULL
    element is skipped by ``greatest`` in both engines (→ 0), so the
    output holds no NULL. One ``transform`` lambda parsed from text
    costs a handful of JVM round trips where the Column-API form cost
    ~145."""
    return (f"transform({vec}, x -> CAST(floor(least(greatest("
            f"CAST(x AS DOUBLE) * {float(_KQ)!r}D + 0.5D, {-float(_KQ)!r}D), "
            f"{float(_KQ)!r}D)) + {_KQ} AS BIGINT))")


def _sql_array2(rows: list[list[int]]) -> str:
    """k×d integer codebook as ONE SQL array literal. ``F.lit`` of a
    nested Python list round-trips every element through py4j (~2s per
    4096-element codebook, per expression); the SQL parser ingests the
    same text in milliseconds."""
    return "array(" + ",".join(
        "array(" + ",".join(f"{int(v)}L" for v in row) + ")"
        for row in rows) + ")"


def _hash_head(df: DataFrame, id_col: str, n: int) -> DataFrame:
    """First ``n`` rows by keyed-md5 order (ties → id) — the shared
    deterministic-sample idiom (kmeans/PQ seeding, IVF fit bound): a
    pure function of the data, so the selected set is identical across
    retries, repartitioning and AQE re-plans, yet hash-uniform like a
    random sample."""
    return df.orderBy(F.expr(f"md5(CAST(`{id_col}` AS STRING))"),
                      id_col).limit(n)


def _dist_table(u: str, cents: list[list[int]]) -> str:
    """SQL text of the array of exact integer squared distances from a
    u-quantized vector (scale 2^14, offset +2^14 — multiplied by 64 here
    to reach the centroid scale 2^20) to EVERY centroid. The codebook is
    one nested-array literal and the loop is a single ``transform`` fold,
    so the expression tree is O(1) in codebook size — per-centroid
    literal arrays blow the plan (and task binaries) up ~100× at k=64.
    Max magnitude: dim·(2^21)² ≤ 2^48 for dim ≤ 64 — comfortably
    int64."""
    return (f"transform({_sql_array2(cents)}, c -> aggregate("
            f"zip_with({u}, c, (x, y) -> (x * 64 - y) * (x * 64 - y)), "
            f"CAST(0 AS BIGINT), (acc, d) -> acc + d))")


def _argmin_cells(mat: np.ndarray, cb: np.ndarray,
                  cb2: np.ndarray) -> np.ndarray:
    """Nearest centroid per row of ``mat`` (u-quantized rows already
    ×64) by exact integer squared distance, ties to the lower cell id.
    Exactness: ``(64u-c)² = (64u)² - 2·64u·c + c²`` — every product
    ≤ 2^42 and every sum ≤ dim·2^42 ≤ 2^48, so int64 matrix ops are
    exact (no float, no overflow), and ``np.argmin`` returns the FIRST
    minimum — the lower-cell tie rule the SQL oracles replay
    (``ORDER BY`` distance, cell)."""
    d = (mat * mat).sum(axis=1, keepdims=True) - 2 * (mat @ cb.T) + cb2
    return np.argmin(d, axis=1).astype(np.int32)


def _assign_codes(u: Column, books: list[list[list[int]]]) -> Column:
    """``struct<code_0 int, …>``: the nearest centroid
    (``_argmin_cells``) of the ``s``-th equal slice of the u-quantized
    vector in codebook ``s`` — one Arrow batch UDF for every codebook
    (a whole-vector k-means has one; PQ has one per subspace). The
    assignment is the k-means hot loop (corpus × k × dim integer ops
    per pass); a higher-order-function form would run as interpreted
    CodegenFallback, ~1.3 ms per vector at k=64 (FAISS makes the same
    choice: quantizer assignment is vectorized native code).

    A pandas UDF suffices here: its input is ``_kmeans_uq``'s output,
    which holds no NULL element (``greatest``/``least`` skip nulls).
    Contract: non-null fixed-dim vectors (the ``kmeans_cells``
    id/vector requirement); corrupt rows raise rather than silently
    diverge."""
    cbs = [np.asarray(b, dtype=np.int64) for b in books]    # k × sub
    cb2s = [(cb * cb).sum(axis=1) for cb in cbs]
    sub = cbs[0].shape[1]
    names = [f"code_{s}" for s in range(len(books))]

    @F.pandas_udf(StructType([StructField(n, IntegerType()) for n in names]))
    def enc(us: pd.Series) -> pd.DataFrame:
        if len(us) == 0:
            return pd.DataFrame({n: pd.Series([], dtype="int32")
                                 for n in names})
        mat = np.array(list(us), dtype=np.int64) * 64
        return pd.DataFrame({
            n: _argmin_cells(mat[:, s * sub:(s + 1) * sub], cbs[s], cb2s[s])
            for s, n in enumerate(names)})

    return enc(u)


def _u_matrix(arr: pa.Array) -> np.ndarray:
    """The ``n × dim`` int64 matrix of an Arrow ``list<bigint>`` column
    of ``_kmeans_uq`` rows. A NULL vector or a ragged batch violates the
    non-null fixed-dim vector contract and raises."""
    if arr.null_count:
        raise ValueError("kmeans_cells: NULL vector violates the non-null "
                         "vector contract")
    lens = np.diff(arr.offsets.to_numpy())
    if len(arr) and (lens != lens[0]).any():
        raise ValueError("kmeans_cells: vectors of different lengths")
    flat = arr.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
    return flat.reshape(len(arr), lens[0] if len(arr) else 0)


_PARTIALS = StructType([StructField("s", IntegerType()),
                        StructField("cell", IntegerType()),
                        StructField("cnt", LongType()),
                        StructField("sums", ArrayType(LongType()))])


def _lloyd(base: DataFrame, books: list[list[list[int]]],
           iters: int) -> list[list[list[int]]]:
    """``iters`` exact-integer Lloyd rounds over the ``u`` column of
    ``base``, for ``len(books)`` codebooks at once: codebook ``s`` fits
    the ``s``-th equal slice of every vector (one slice: ``kmeans_cells``;
    m slices: ``pq_encode``'s subspaces).

    A round is ONE single-stage job: a ``mapInArrow`` kernel assigns each
    row of its partition with ``_argmin_cells`` and emits the mergeable
    per-partition summary ``(s, cell, cnt, sums)`` — at most
    partitions × m × k rows, never one row per vector component. The
    driver adds the partials (integer addition, so the result does not
    depend on how the corpus is partitioned) and sets each centroid to
    ``(64·sum) div count``; a cell that lost all its vectors keeps its
    previous centroid."""
    m = len(books)
    k = len(books[0])
    sub = len(books[0][0])
    vectors = base.select("u")
    for _ in range(iters):
        cbs = [np.asarray(b, dtype=np.int64) for b in books]
        cb2s = [(cb * cb).sum(axis=1) for cb in cbs]

        def partials(batches, cbs=cbs, cb2s=cb2s):
            cnt = np.zeros((m, k), dtype=np.int64)
            sums = np.zeros((m, k, sub), dtype=np.int64)
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                u = _u_matrix(batch.column(0))
                for s in range(m):
                    us = u[:, s * sub:(s + 1) * sub]
                    cell = _argmin_cells(us * 64, cbs[s], cb2s[s])
                    onehot = (cell[:, None] == np.arange(k)).astype(np.int64)
                    cnt[s] += onehot.sum(axis=0)
                    sums[s] += onehot.T @ us
            s_idx, c_idx = np.nonzero(cnt)
            yield pa.RecordBatch.from_arrays(
                [pa.array(s_idx.astype(np.int32)),
                 pa.array(c_idx.astype(np.int32)),
                 pa.array(cnt[s_idx, c_idx]),
                 pa.array(list(sums[s_idx, c_idx]), pa.list_(pa.int64()))],
                names=["s", "cell", "cnt", "sums"])

        tot: dict = {}
        for s, c, n, sm in vectors.mapInArrow(partials, _PARTIALS).collect():
            prev = tot.get((s, c))
            tot[(s, c)] = (n, sm) if prev is None else (
                prev[0] + n, [a + b for a, b in zip(prev[1], sm)])
        books = [[[(64 * v) // tot[(s, j)][0] for v in tot[(s, j)][1]]
                  if (s, j) in tot else books[s][j]
                  for j in range(k)] for s in range(m)]
    return books


def kmeans_cells(corpus: DataFrame, n_lists: int = 8, iters: int = 2,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 ) -> tuple[DataFrame, list[list[int]]]:
    """Deterministic distributed Lloyd k-means in exact integer
    arithmetic — a coarse quantizer whose every step a SQL engine can
    replay bit-for-bit (unlike MLlib's ``KMeans``, whose float reductions
    are partition-order-dependent).

    - **Init**: the ``n_lists`` vectors with the smallest
      ``md5(cast(id as string))`` (hash order ≈ uniform sample, stable
      under retries/repartition — the same keyed-hash trick as
      ``hash_sample``/``domain_cap``).
    - **Iterate** (fixed ``iters`` rounds, ``_lloyd``): each round is one
      single-stage job whose Arrow kernel assigns every vector by the
      exact int64 argmin and emits per-partition ``(cell, count,
      component sums)`` partials; the driver adds them exactly and sets
      new centroid components to ``(64·sum) div count`` — non-negative
      integer division, identical in Spark/DuckDB/Python. Cells that
      lose all vectors keep their previous centroid.
    - **Scale**: the corpus is scanned once per round and the round ships
      at most partitions × n_lists summary rows to the driver, whatever
      the corpus size. The centroids live on the driver as Python ints
      (n_lists × dim values ≤ a few KB) and enter each plan as constants
      of the assignment kernel, so lineage does NOT grow with iterations
      and no checkpoint is needed.

    ``id_col`` must be non-null: the keyed-hash ordering of NULL ids is
    engine-specific (Spark sorts NULLS FIRST, DuckDB LAST), which would
    desynchronize the seed selection from the oracle.

    Returns ``(assignments, centroids)``: the corpus with a ``cell``
    column, and the final scale-2^20 integer centroid components."""
    base = corpus.selectExpr(f"`{id_col}` AS vid",
                             f"{_kmeans_uq(f'`{vec_col}`')} AS u")
    seed_rows = _hash_head(base, "vid", n_lists).collect()
    if not seed_rows:
        # without this, cents=[] builds the malformed literal `array()`
        # downstream and fails analysis with an opaque parser error
        raise ValueError("kmeans_cells: empty corpus (no seed vectors)")
    if any(r["u"] is None for r in seed_rows):
        raise ValueError("kmeans_cells: NULL vector violates the non-null "
                         "vector contract")
    (cents,) = _lloyd(base, [[[64 * int(x) for x in r["u"]]
                              for r in seed_rows]], iters)
    # coalesce(-1) marks the column non-nullable (the UDF never returns
    # null for contract-valid vectors, so -1 is unreachable): without it,
    # every equi-join on `cell` injects IsNotNull(cell), and the optimizer
    # evaluates the assignment UDF TWICE per join side — once under the
    # pushed filter, once in the projection (guide §4.4). The plans for
    # semantic_dedup went from 4 `enc` ArrowEvalPython nodes to 2.
    # The inner CASE/raise_error validates the input: a NULL vector
    # fails LOUDLY with a message naming the contract, where the -1
    # sentinel would otherwise silently merge such rows into one shared
    # pair cell. raise_error sits only on the contract-violating branch,
    # so valid rows pay one isNotNull test.
    assigned = corpus.selectExpr(
        f"`{id_col}` AS n_id", f"`{vec_col}` AS n_vec").withColumn(
        "__codes", _assign_codes(F.expr(_kmeans_uq("n_vec")), [cents])
    ).selectExpr(
        "n_id", "n_vec",
        "coalesce(CASE WHEN n_vec IS NOT NULL THEN __codes.code_0 ELSE "
        "raise_error('kmeans_cells: NULL vector violates the non-null "
        "vector contract') END, -1) AS cell")
    return assigned, cents


def ivf_kmeans_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                    n_lists: int = 8, iters: int = 2, nprobe: int = 2,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    fitted: tuple | None = None) -> DataFrame:
    """IVF ANN whose coarse quantizer is the exact-integer ``kmeans_cells``
    — end-to-end deterministic AND SQL-replayable, closing the one gap the
    MLlib-backed ``ivf_topk`` leaves (its float k-means cannot be
    oracle-checked; this one is hash-matched by the driver).

    Search mirrors ``ivf_topk``: each query ranks cells by the same
    integer distance (ties → lower cell id), probes its ``nprobe``
    nearest, and scores candidates with the deterministic double-fold
    cosine. Queries are broadcast; the cell join replaces the cross
    product. ``fitted`` takes a precomputed ``kmeans_cells(corpus, ...)``
    result so several operators over the same corpus share ONE Lloyd fit
    (each fit scans the corpus ``iters`` times)."""
    assigned, cents = fitted if fitted is not None else kmeans_cells(
        corpus, n_lists=n_lists, iters=iters, id_col=id_col, vec_col=vec_col)

    # the nprobe nearest cells: (distance, cell) structs sorted, sliced
    dists = _dist_table(_kmeans_uq(f"`{vec_col}`"), cents)
    probe = (f"transform(slice(array_sort(zip_with({dists}, "
             f"sequence(0, {len(cents) - 1}), "
             f"(dd, i) -> named_struct('dist', dd, 'cell', i))), 1, {nprobe}), "
             f"s -> s.cell)")
    q = queries.selectExpr(f"`{id_col}` AS q_id", f"`{vec_col}` AS q_vec",
                           f"explode({probe}) AS cell")
    scored = (assigned.join(F.broadcast(q), "cell")
              .filter("n_id != q_id")
              .withColumn("cos", cosine("q_vec", "n_vec"))
              .select("q_id", "n_id", "cos"))
    return _top_k(scored, k, "cos", "cos DESC")


def cluster_balanced_sample(corpus: DataFrame, per_cluster: int = 50,
                            n_clusters: int = 8, iters: int = 2,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            fitted: tuple | None = None) -> DataFrame:
    """Cluster-balanced corpus selection (the DataComp/SemDeDup curation
    move): learn ``n_clusters`` embedding clusters with the
    deterministic ``kmeans_cells``, then keep at most ``per_cluster``
    documents per cluster — capping over-represented semantic regions
    (boilerplate, near-identical templates) the way ``domain_cap`` caps
    over-represented sources, but by *learned* structure instead of a
    metadata column.

    Selection within a cluster is keyed-md5 hash order (ties → id) —
    deterministic under retries/repartition where ``rand()`` is not, and
    uniform within each cluster. Shape: the assignment is map-side
    (codebook literals); the only shuffle is the per-cluster ranking
    window on uniform cell keys. Output: ``vec_id, cell, rk`` for the
    kept rows. ``fitted`` shares a precomputed ``kmeans_cells`` result
    (see ``ivf_kmeans_topk``)."""
    assigned, _ = fitted if fitted is not None else kmeans_cells(
        corpus, n_lists=n_clusters, iters=iters,
        id_col=id_col, vec_col=vec_col)
    return (assigned
            .selectExpr("n_id", "cell",
                        "row_number() OVER (PARTITION BY cell ORDER BY "
                        "md5(CAST(n_id AS STRING)), n_id) AS rk")
            .filter(f"rk <= {per_cluster}")
            .selectExpr(f"n_id AS `{id_col}`", "CAST(cell AS INT) AS cell",
                        "CAST(rk AS INT) AS rk"))


def semantic_dedup(corpus: DataFrame, threshold: float = 0.3,
                   n_lists: int | None = 8, iters: int = 2,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   cell_cap: int | None = None) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): learn
    embedding clusters with the deterministic exact-integer
    ``kmeans_cells``, then WITHIN each cluster drop every document that
    has a more-preferred (lower-id) ε-neighbor — pairwise cosine is
    computed only inside a cluster, never across the corpus. This is the
    semantic complement to ``embedding_near_duplicates`` (SRP-LSH
    buckets): LSH buckets catch near-copies; learned clusters scope the
    comparison to semantic regions, which is how SemDeDup prunes
    redundant-but-not-identical training text.

    Keeper rule: a row survives unless some SAME-CLUSTER row with a
    smaller id is ``> threshold`` cosine-similar — deterministic, one
    representative per similar group (a chain a~b, b~c keeps only ``a``
    — the aggressive end of SemDeDup's policy; raise the threshold for
    gentler pruning).

    Scale shape: assignment is map-side (codebook literals); the
    pairwise stage groups BY CELL into one numpy task per cell
    (``_cell_drops``) — with ``n_lists`` scaled so clusters stay
    O(corpus/n_lists), the pair count is corpus²/n_lists, the SemDeDup
    trade, over one shuffle on uniform cell keys (never a cartesian).
    The drop set anti-joins back on id.

    Hot-cluster guard (round-5): pass ``n_lists=None`` to auto-scale
    the cluster count from a corpus count probe (SemDeDup at web scale
    uses ~50k clusters, not 8), and/or ``cell_cap`` to bound the pair
    stage BY CONSTRUCTION — any cell past the cap is split into
    ``ceil(cell_size / cell_cap)`` keyed-md5 hash sub-buckets ('sd:'
    salt, the per-operator hash-stream convention) and pairs are joined
    on ``(cell, sub)``. Expected sub-bucket size ≤ ``cell_cap``
    regardless of embedding skew (an id-hash splits even a cell of
    IDENTICAL vectors, where ``srp_bucket`` would co-bucket them all),
    so pair rows per cell fall from quadratic to ~``cell_size ·
    cell_cap / 2``. Recall trade, documented: a similar group straddling
    s sub-buckets keeps ≤ s representatives instead of 1 — the bounded
    end of the SemDeDup policy. Both knobs are deterministic functions
    of the corpus (count probes are bounded: one scalar / n_lists
    rows), so the operator stays retry-stable and SQL-replayable.

    Output: ``vec_id, cell`` of the SURVIVORS (cell int, id-ordered
    semantics; no dependence on join or partition order)."""
    assigned, key = semantic_cells(corpus, n_lists=n_lists, iters=iters,
                                   id_col=id_col, vec_col=vec_col,
                                   cell_cap=cell_cap)
    drops = _cell_drops(assigned, key, float(threshold))
    return (assigned.join(drops, F.expr("n_id = drop_id"), "left_anti")
                    .selectExpr(f"n_id AS `{id_col}`",
                                "CAST(cell AS INT) AS cell"))


# columns of the pairwise block a kernel task holds at once: bounds the
# per-task accumulator at cell_size × _PAIR_BLOCK doubles (a 20k-row
# capped cell at block 2048 holds ~330 MB ÷ 8 = 40 MB extra)
_PAIR_BLOCK = 2048


def _pair_blocks(tbl: pa.Table):
    """Blocked pairwise cosine inside one group of ``(n_id, n_vec)``
    rows, shared by the two grouped pair stages. Yields ``(row_ids,
    col_ids, cos, ok)`` per block of at most ``_PAIR_BLOCK`` columns;
    ``ok`` marks the pairs whose cosine is defined and that satisfy
    ``row_id < col_id``. Each caller applies its own threshold test.

    Bit-identity with the SQL fold (oracle-checked):

    - products and adds in float64 after an exact float32→float64
      upcast, accumulated DIMENSION-AT-A-TIME (``S += outer(A[:,k],
      A[:,k])`` — per pair exactly ``0.0 + p₀ + p₁ + …``, the SQL left
      fold, same trick as ``_seq_fold``);
    - norms via the same per-row fold + one correctly-rounded sqrt;
    - ``den == 0`` → NULL cosine → not ``ok`` (the zero-norm pin);
    - a NaN cosine (NaN element, or NaN den) stays ``ok``: Spark and
      DuckDB order NaN above every threshold, so callers test
      ``(cos ⋛ τ) | isnan(cos)``;
    - a NULL vector or a vector with a NULL element has a NULL norm →
      never ``ok`` (``_flat`` gives it length -1);
    - ragged dims inside a group → ``zip_with`` pads → NULL fold →
      never ``ok``: pairs are computed only within same-length groups.

    ``row_id < col_id`` becomes the strict upper triangle after an id
    sort (ids are unique by contract). Memory is bounded by
    ``_PAIR_BLOCK`` accumulator columns at a time, so a ``cell_cap``'d
    cell never materializes a full n×n matrix."""
    ids = tbl.column("n_id").to_numpy()
    vals, starts, lens = _flat(tbl.column("n_vec").combine_chunks(),
                               np.float64)
    order = np.argsort(ids, kind="stable")
    ids, starts, lens = ids[order], starts[order], lens[order]
    for L in np.unique(lens):
        idx = np.flatnonzero(lens == L)
        if L <= 0 or len(idx) < 2:
            # NULL (or NULL-element) vector, or dim-0 (zero norm → NULL
            # cosine): never similar — and a singleton length-group has
            # no same-dim partner
            continue
        A = _rows(vals, starts, idx, L)
        m = len(idx)
        nrm = np.sqrt(_seq_fold(A * A))
        gids = ids[idx]
        for j0 in range(0, m, _PAIR_BLOCK):
            j1 = min(j0 + _PAIR_BLOCK, m)
            S = np.zeros((m, j1 - j0))
            for k in range(L):
                S += np.outer(A[:, k], A[j0:j1, k])
            den = nrm[:, None] * nrm[None, j0:j1]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = S / den
            # strict upper triangle in GLOBAL sorted-id order
            ok = (den != 0.0) & (np.arange(m)[:, None]
                                 < np.arange(j0, j1)[None, :])
            yield gids, gids[j0:j1], cos, ok


def _cell_drops(assigned: DataFrame, key: list[str],
                threshold: float) -> DataFrame:
    """(drop_id) — grouped per-cell pair stage (guide §2.3 "shuffle keys
    and metadata instead of payloads" + §4.2): a row is dropped when a
    lower-id row of its group is ``> threshold`` similar.

    A pair join would ship BOTH embedding vectors across the Arrow
    boundary once per PAIR — corpus²/n_lists × 2·dim doubles; at bench
    SF that is ~400 MB of Arrow traffic per execution and it grows
    quadratically in cell size. This kernel groups by the pair key and
    ships each (id, vector) once per CELL, computing the pairwise
    decisions inside one numpy task per cell (``_pair_blocks``)."""
    tau = float(threshold)

    def kern(tbl: pa.Table) -> pa.Table:
        hits = [cols[(ok & ((cos > tau) | np.isnan(cos))).any(axis=0)]
                for _, cols, cos, ok in _pair_blocks(tbl)]
        return pa.table({"drop_id": pa.array(
            np.concatenate(hits) if hits else [], pa.int64())})

    return (assigned.select("n_id", "n_vec", *key)
                    .groupBy(*key)
                    .applyInArrow(kern, "drop_id long"))


def _bucket_pairs(b: DataFrame, key: list[str],
                  threshold: float) -> DataFrame:
    """(d1, d2, cos) — grouped per-bucket pair LISTING (the
    embedding_near_duplicates output shape; `_cell_drops` emits only the
    losers), over the same ``_pair_blocks``. The filter is ``>=``
    (near-duplicate grade), and a NaN cosine passes it (Spark orders NaN
    above every threshold) with the NaN VALUE in the output."""
    tau = float(threshold)

    def kern(tbl: pa.Table) -> pa.Table:
        d1s, d2s, coss = [], [], []
        for rows, cols, cos, ok in _pair_blocks(tbl):
            ii, jj = np.nonzero(ok & ((cos >= tau) | np.isnan(cos)))
            d1s.append(rows[ii])
            d2s.append(cols[jj])
            coss.append(cos[ii, jj])
        return pa.table({
            "d1": pa.array(np.concatenate(d1s) if d1s else [], pa.int64()),
            "d2": pa.array(np.concatenate(d2s) if d2s else [], pa.int64()),
            "cos": pa.array(np.concatenate(coss) if coss else [],
                            pa.float64())})

    return b.groupBy(*key).applyInArrow(kern, "d1 long, d2 long, cos double")


def semantic_cells(corpus: DataFrame, n_lists: int | None = 8,
                   iters: int = 2, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   cell_cap: int | None = None,
                   ) -> tuple[DataFrame, list[str]]:
    """The assignment stage of ``semantic_dedup``, exposed so tests (and
    composed pipelines) can measure the pair-join fan-out directly:
    returns ``(assigned, key)`` where ``assigned`` has
    ``n_id, n_vec, cell`` (plus ``__sub`` when the hot-cluster guard
    split a cell) and ``key`` is the pair-join key list. The pair stage
    is exactly ``assigned ⋈ assigned ON key`` filtered to ``a_id <
    b_id`` — its row count is what ``cell_cap`` bounds."""
    from ..session import local_frame
    from .packing import hash_order
    if cell_cap is not None and cell_cap < 1:
        raise ValueError("cell_cap must be positive")
    if n_lists is None:
        n = corpus.count()
        n_lists = max(8, min(65536, -(-n // (cell_cap or 20_000))))
    assigned, _ = kmeans_cells(corpus, n_lists=n_lists, iters=iters,
                               id_col=id_col, vec_col=vec_col)
    # NOT checkpointed (round 12, measured): every semantic_dedup
    # execution reads `assigned` more than once (the pair stage + the
    # anti-join base), but materializing it means writing/reading the
    # full embedding vectors (n_vec rides every consumer) — cold-run
    # A/B at bench SF put the localCheckpoint variant ~15% SLOWER than
    # re-running the Arrow-batched assignment UDF per consumer
    # (tools_isolate_slot.py --cold; OPTIMIZATION_r12.md). The centroids
    # are driver-side constants of that UDF, so nothing upstream of it
    # needs materializing either.
    key = ["cell"]
    if cell_cap is not None:
        sizes = (assigned.groupBy("cell")
                 .agg(F.count(F.lit(1)).alias("c")).collect())
        n_subs = {int(r["cell"]): -(-int(r["c"]) // cell_cap)
                  for r in sizes}
        if any(v > 1 for v in n_subs.values()):
            # (cell, n_subs) is a ≤ n_lists-row dimension — broadcast
            # it rather than folding literals into a when-chain (the
            # temperature_resample lesson, review r4 #1).
            subs_df = local_frame(corpus.sparkSession,
                                  sorted(n_subs.items()),
                                  "cell int, __n_subs long")
            assigned = (assigned
                        .join(F.broadcast(subs_df), "cell")
                        .withColumn("__sub", F.pmod(
                            hash_order(F.concat(
                                F.lit("sd:"),
                                F.col("n_id").cast("string"))),
                            F.col("__n_subs")))
                        .drop("__n_subs"))
            key = ["cell", "__sub"]
    return assigned, key


def pq_encode(corpus: DataFrame, m: int = 4, n_codes: int = 16,
              iters: int = 2, dim: int | None = None,
              id_col: str = "vec_id", vec_col: str = "embedding",
              ) -> tuple[DataFrame, list[list[list[int]]]]:
    """Product quantization (the FAISS memory lever): split each vector
    into ``m`` subvectors, run the exact-integer ``kmeans_cells`` per
    subspace, store each subvector as its nearest-centroid code — a
    dim-doubles vector compresses to ``m`` small ints (dim·8 bytes →
    m·1, 64× at dim=64/m=4/k≤256), which is what lets a 100 TB embedding
    corpus live in executor memory for candidate scanning.

    Every step is the deterministic integer Lloyd math of
    ``kmeans_cells``, so encoding is bit-reproducible and SQL-replayable
    (plans/llm_gate.py unrolls the per-subspace chains). The m subspaces
    train together (``_lloyd``): each round is one single-stage job whose
    Arrow kernel assigns every subvector against its own codebook and
    emits per-partition ``(subspace, cell, count, component sums)``
    partials — at most partitions × m × n_codes rows — and the driver
    adds them exactly and applies ``(64·sum) div count``, keeping the
    old centroid of an emptied cell. The codebooks live on the driver
    as Python ints and enter the plans as constants of the assignment
    kernels (``encoded``) or as one SQL array literal
    (``pq_adc_topk``'s distance tables).

    Returns ``(encoded, codebooks)``: ``encoded`` has ``n_id`` plus
    ``code_0..code_{m-1}`` (one map-side projection — the m argmins
    evaluate in a single corpus pass), and ``codebooks[s]`` is subspace
    s's centroid components at scale 2^20.

    ``dim`` is required (review r4 #4 retired the ``None``→LIMIT-1
    probe fallback: every caller knows its embedding width, and the
    probe cost an extra analyzer job per call)."""
    if dim is None:
        raise ValueError(
            "pq_encode: pass dim explicitly (the embedding width, e.g. "
            "dim=64) — the implicit LIMIT-1 probe was retired")
    if dim == 0 or dim % m != 0:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    sub_len = dim // m

    # Joint Lloyd over all m subspaces at once: one kernel pass per round
    # assigns every subvector against its own codebook and emits the
    # (s, cell) partials of every subspace — ONE corpus scan per round,
    # not m sequential k-means jobs. The per-subspace math is exactly
    # kmeans_cells', so the SQL oracle can still replay each subspace
    # independently.
    base = corpus.selectExpr(f"`{id_col}` AS vid",
                             f"{_kmeans_uq(f'`{vec_col}`')} AS u")
    seed_rows = _hash_head(base, "vid", n_codes).collect()
    if not seed_rows:
        raise ValueError("pq_encode: empty corpus (no seed vectors)")
    codebooks = _lloyd(base, [
        [[64 * int(x) for x in r["u"][s * sub_len:(s + 1) * sub_len]]
         for r in seed_rows] for s in range(m)], iters)
    encoded = (corpus.selectExpr(f"`{id_col}` AS n_id", f"`{vec_col}` AS v")
               .withColumn("codes", _assign_codes(F.expr(_kmeans_uq("v")),
                                                  codebooks))
               .select("n_id", "codes.*"))
    return encoded, codebooks


def l2_dist(a: Column | str, b: Column | str) -> Column:
    """Σ (a[i]-b[i])² in double, left-to-right — same fold discipline
    (and same kernel) as ``dot``, so a SQL oracle reproduces it
    bit-for-bit."""
    return _fold_vec("l2")(a, b)


def pq_adc_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                m: int = 4, n_codes: int = 64, iters: int = 2,
                refine: int = 50, dim: int | None = None,
                n_salt: int = 8, id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Asymmetric-distance (ADC) candidate scan over PQ codes with exact
    re-ranking — the FAISS search pattern. Each query precomputes one
    integer distance table per subspace (its subvector vs all
    ``n_codes`` centroids — a per-query projection, NOT per pair); every
    candidate's approximate distance is ``m`` array lookups summed
    (``Σ_s qd_s[code_s]`` — pure int64, associative, AQE/retry-stable).
    The ``refine`` nearest candidates per query (ties → lower id) are
    then re-ranked by exact double L2 on the original vectors — PQ
    prunes the corpus, the refine step restores metric fidelity (recall
    vs the exact scan is asserted in tests; the oracle replays both
    stages exactly).

    Scale shape: the table-carrying queries broadcast onto the encoded
    corpus (m ints per candidate in memory — the 64× compression is
    what makes a 100 TB corpus scannable); the candidate cut is a salted
    two-phase top-``refine`` (per-(q_id, salt) local heaps, then a
    refine×n_salt-row re-rank per query — no corpus-sized
    single-partition sort); the refine set (queries × refine rows)
    broadcasts back onto the corpus for one vector-fetch pass.
    Output: ``q_id, neighbor_id, rank, l2_dist``."""
    if dim is None:
        raise ValueError(
            "pq_adc_topk: pass dim explicitly (the embedding width, "
            "e.g. dim=64) — the implicit LIMIT-1 probe was retired")
    encoded, codebooks = pq_encode(corpus, m=m, n_codes=n_codes,
                                   iters=iters, dim=dim, id_col=id_col,
                                   vec_col=vec_col)
    sub_len = dim // m
    tables = ", ".join(
        _dist_table(_kmeans_uq(
            f"slice(`{vec_col}`, {s * sub_len + 1}, {sub_len})"),
            codebooks[s]) + f" AS qd_{s}"
        for s in range(m))
    total = " + ".join(f"element_at(q.qd_{s}, e.code_{s} + 1)"
                       for s in range(m))
    # Two-phase top-`refine`: a single partitionBy(q_id) window would
    # sort the ENTIRE corpus inside one partition per query — terabytes
    # through single tasks at 10^11 docs. Phase 1 keeps refine rows per
    # (q_id, salt) — partitions are corpus/n_salt-sized and spread over
    # the cluster; phase 2 re-ranks the surviving refine×n_salt rows per
    # query. The global top-refine set (total order: pq_dist, n_id) is
    # contained in the union of per-salt top-refine sets, so the result —
    # and therefore the SQL oracle, which replays the single-window form —
    # is IDENTICAL; only the physical shape changes. The salt never leaves
    # the plan, so it needs no cross-engine hash, just determinism. The
    # refine set (queries × refine rows) broadcasts back onto the corpus
    # for the vector fetch.
    ref = corpus.sparkSession.sql(f"""
WITH q AS (SELECT `{id_col}` AS q_id, {tables} FROM {{queries}}),
scored AS (
  SELECT /*+ BROADCAST(q) */ q.q_id, e.n_id, {total} AS pq_dist,
         pmod(xxhash64(e.n_id), {n_salt}) AS salt
  FROM {{encoded}} e CROSS JOIN q WHERE e.n_id != q.q_id),
local AS (
  SELECT q_id, n_id, pq_dist FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id, salt
                                 ORDER BY pq_dist, n_id) AS lrn
    FROM scored)
  WHERE lrn <= {refine}),
cand AS (
  SELECT q_id, n_id FROM (
    SELECT q_id, n_id, row_number() OVER (
             PARTITION BY q_id ORDER BY pq_dist, n_id) AS crn
    FROM local)
  WHERE crn <= {refine})
SELECT /*+ BROADCAST(cand, qv) */ cand.q_id, cand.n_id, qv.`{vec_col}` AS q_vec,
       c.`{vec_col}` AS n_vec
FROM {{corpus}} c
JOIN cand ON c.`{id_col}` = cand.n_id
JOIN {{queries}} qv ON qv.`{id_col}` = cand.q_id""",
                                  queries=queries, encoded=encoded,
                                  corpus=corpus).withColumn(
        "l2_dist", l2_dist("q_vec", "n_vec")).select("q_id", "n_id", "l2_dist")
    return _top_k(ref, k, "l2_dist", "l2_dist")


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             n_lists: int = 16, nprobe: int = 2, seed: int = 7,
             id_col: str = "vec_id", vec_col: str = "embedding",
             fit_sample: int = 100_000) -> DataFrame:
    """IVF (inverted-file) approximate NN: k-means partitions the corpus
    into ``n_lists`` cells; each query searches only its ``nprobe``
    nearest cells.

    The coarse quantizer is Spark MLlib KMeans (fixed seed) fit on a
    **keyed-hash bounded sample** of at most ``fit_sample`` vectors: the
    ``fit_sample`` smallest ``md5(id)`` rows — a pure function of the
    data, so the training set (hence the centroids) is identical across
    retries, repartitioning and AQE re-plans, where ``sample().limit()``
    would keep whichever rows the first-finishing partitions supplied.
    The iterative MLlib job never touches the full corpus, which is what
    keeps the fit O(sample) at 100 TB, exactly as FAISS trains IVF on a
    slice. Assignment and
    search are DataFrame joins: the centroid table is broadcast (n_lists ×
    dim doubles) and the cell join replaces the cross product. No SQL
    oracle can replay the k-means fit, so the driver applies its rows-only
    check; recall vs the exact path is asserted in tests/test_llm.py."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    dense = corpus.select(F.col(id_col).alias("n_id"),
                          F.col(vec_col).alias("n_vec"),
                          array_to_vector(F.col(vec_col).cast("array<double>"))
                          .alias("features"))
    # unconditional: _hash_head IS the bound — when the corpus holds
    # fewer than fit_sample rows it returns all of them, so the former
    # `dense.count() > fit_sample` gate only added a full corpus scan
    feats = _hash_head(dense, "n_id", fit_sample).select("features")
    km = KMeans(k=n_lists, seed=seed, maxIter=10).fit(feats)
    assigned = km.transform(dense).select(
        "n_id", "n_vec", F.col("prediction").alias("cell"))

    centroids = [list(map(float, c)) for c in km.clusterCenters()]

    def _cell_rank(vec: Column) -> Column:
        """Array of cell ids sorted by centroid distance (nearest first).
        n_lists is small, so this is a flat codegen expression."""
        dists = F.array(*[
            F.struct(
                F.sqrt(F.aggregate(
                    F.zip_with(vec, F.array(*[F.lit(x) for x in c]),
                               lambda a_, b_: (a_.cast("double") - b_)
                               * (a_.cast("double") - b_)),
                    F.lit(0.0), lambda acc, x: acc + x)).alias("dist"),
                F.lit(i).alias("cell"))
            for i, c in enumerate(centroids)])
        return F.transform(F.slice(F.array_sort(dists), 1, nprobe),
                           lambda s: s.getField("cell"))

    q = (queries.select(F.col(id_col).alias("q_id"),
                        F.col(vec_col).alias("q_vec"))
         .withColumn("cell", F.explode(_cell_rank(F.col("q_vec")))))
    scored = (assigned.join(F.broadcast(q), "cell")
              .filter(F.col("n_id") != F.col("q_id"))
              .select("q_id", "n_id",
                      cosine(F.col("q_vec"), F.col("n_vec")).alias("cos")))
    return _top_k(scored, k, "cos", "cos DESC")


def lsh_topk(corpus: DataFrame, queries: DataFrame, k: int = 5, n_bits: int = 4,
             dim: int = 64, id_col: str = "vec_id", vec_col: str = "embedding",
             multiprobe: int = 0) -> DataFrame:
    """Approximate top-k: compare only vectors sharing the SRP bucket.

    2^n_bits buckets ⇒ expected corpus/2^B candidates per query.
    ``multiprobe=1`` additionally probes every bucket at Hamming distance 1
    from the query's bucket (n_bits+1 probes) — the standard recall lever
    when vectors near a hyperplane land on opposite sides. Recall is
    verified against cosine_topk in tests (tests/test_llm.py)."""
    planes = _planes(n_bits, dim)
    qb = (queries.selectExpr(f"`{id_col}` AS q_id", f"`{vec_col}` AS q_vec")
                 .withColumn("bucket", srp_bucket("q_vec", planes)))
    if multiprobe >= 1:
        flips = ", ".join(f"bucket ^ CAST({1 << i} AS BIGINT)"
                          for i in range(n_bits))
        qb = qb.selectExpr("q_id", "q_vec",
                           f"explode(array(bucket, {flips})) AS bucket")
    q = F.broadcast(qb)
    c = (corpus.selectExpr(f"`{id_col}` AS n_id", f"`{vec_col}` AS n_vec")
               .withColumn("bucket", srp_bucket("n_vec", planes)))
    scored = (c.join(q, "bucket")
               .filter("n_id != q_id")
               .withColumn("cos", cosine("q_vec", "n_vec"))
               .select("q_id", "n_id", "cos"))
    return _top_k(scored, k, "cos", "cos DESC")
