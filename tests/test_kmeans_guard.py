"""kmeans_cells NULL-vector contract guard (ADVICE r11): a NULL vector
must fail loudly, never be silently merged into one shared -1 cell by
the non-nullability sentinel. A NULL *element* is valid input — the
quantization saturates it like the DuckDB oracle does — so each case
also runs with a corpus that holds one."""

from __future__ import annotations

import pyarrow as pa
import pytest

from tally_database_loader_spark.llm import similarity as S
from tests import embedding_oracle as ref

_ROWS = [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0]), (4, [2.0, 0.0])]


def _rows(with_null: bool, null_element: bool):
    rows = list(_ROWS)
    if null_element:
        rows.append((6, [None, 1.0]))
    if with_null:
        rows.append((5, None))
    return rows


def _corpus(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


@pytest.mark.parametrize("null_element", [True, False])
def test_kmeans_null_vector_raises_on_both_paths(spark, null_element):
    # the failure may surface at fit time (seed probe / Lloyd pass)
    # or at assignment collection — either way it must be LOUD,
    # never a silent shared -1 cell
    with pytest.raises(Exception):
        assigned, _ = S.kmeans_cells(
            _corpus(spark, _rows(True, null_element)), n_lists=2, iters=1)
        assigned.collect()


@pytest.mark.parametrize("null_element", [True, False])
def test_kmeans_valid_vectors_unaffected_by_guard(spark, null_element):
    rows = _rows(False, null_element)
    assigned, cents = S.kmeans_cells(_corpus(spark, rows), n_lists=2,
                                     iters=1)
    got = {r["n_id"]: r["cell"] for r in assigned.collect()}
    assert len(got) == len(rows)
    assert all(c is not None and c >= 0 for c in got.values())
    con = ref.connect(embeddings=ref.vectors(rows, pa.float64()))
    assert (got, cents) == ref.kmeans(con, 2, 1)
    # the non-nullability marking survives the guard: equi-joins on
    # cell must not re-inject IsNotNull (the r11 UDF-duplication fix)
    assert not assigned.schema["cell"].nullable
