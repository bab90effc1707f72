"""The grouped pair stages of semantic_dedup (``_cell_drops``) and
embedding_near_duplicates (``_bucket_pairs``) must make bit-for-bit the
pair decisions of the SQL self-join + left fold that DuckDB evaluates
over the same rows — including the documented edge semantics
(zero-norm NULL, NaN-similar, ragged-dim NULL)."""
from __future__ import annotations

import pytest

from tally_database_loader_spark.llm import similarity as sim
from tests import embedding_oracle as ref


def _survivors(spark, rows, threshold, cell_cap=None):
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = sim.semantic_dedup(df, threshold=threshold, n_lists=2,
                             iters=1, cell_cap=cell_cap).collect()
    return sorted((r["vec_id"], r["cell"]) for r in out)


def _mk_rows():
    import math
    import random
    rnd = random.Random(7)
    rows = []
    for i in range(120):
        rows.append((i, [rnd.uniform(-1, 1) for _ in range(8)]))
    # exact duplicates (cos == 1) and near-duplicates
    rows.append((200, rows[3][1]))
    rows.append((201, [x * 2.0 for x in rows[3][1]]))
    # zero vector: zero norm -> NULL cosine -> never dropped by similarity
    rows.append((202, [0.0] * 8))
    # NaN element: NaN cosine -> Spark orders NaN above tau -> similar
    rows.append((203, [math.nan] + [0.1] * 7))
    rows.append((204, [0.5] * 8))
    return rows


@pytest.mark.parametrize("cell_cap", [None, 16])
def test_kernel_matches_relational_join(spark, cell_cap):
    rows = _mk_rows()
    for tau in (0.3, 0.9):
        got = _survivors(spark, rows, tau, cell_cap=cell_cap)
        assert got == ref.semantic_dedup(rows, tau, 2, 1, cell_cap), \
            f"tau={tau} cell_cap={cell_cap}"


def test_kernel_ragged_dims_never_pair(spark):
    # Ragged dims cannot reach the pair stage through semantic_dedup
    # (the k-means assignment raises on mixed dims per its fixed-dim
    # contract), so exercise the pair stage directly on a hand-built
    # assignment: the SQL zip pads the short side -> NULL fold -> pairs
    # across dim groups never drop; identical duplicates within a dim
    # group still collapse.
    rows = [(1, [1.0, 0.0], 0), (2, [1.0, 0.0], 0),
            (3, [1.0, 0.0, 0.0], 0), (4, [1.0, 0.0, 0.0], 0)]
    assigned = spark.createDataFrame(
        rows, "n_id long, n_vec array<float>, cell int")
    got = sorted(r["drop_id"] for r in
                 sim._cell_drops(assigned, ["cell"], 0.5).collect())
    assert got == ref.cell_drops(rows, 0.5) == [2, 4]


def _pairs(spark, rows, threshold):
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = sim.embedding_near_duplicates(df, threshold=threshold,
                                        n_bits=2, dim=8).collect()
    return sorted((r["d1"], r["d2"], repr(r["cos"])) for r in out)


def test_bucket_pair_kernel_matches_join(spark):
    rows = _mk_rows()
    for tau in (0.8, 0.95):
        got = _pairs(spark, rows, tau)
        assert got == ref.near_dups(rows, tau, 2, 8) and len(got) > 0, \
            f"tau={tau}"


def test_bucket_pair_kernel_nan_and_zero_norm(spark):
    import math
    rows = [(1, [0.0] * 8), (2, [0.0] * 8),              # zero norm: no pair
            (3, [math.nan] + [0.3] * 7), (4, [0.3] * 8)]  # NaN cos: pair, cos NaN
    got = _pairs(spark, rows, 0.9)
    assert got == ref.near_dups(rows, 0.9, 2, 8)
    assert all(d1 != 1 and d2 != 2 for d1, d2, _ in got)
