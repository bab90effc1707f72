"""The incremental sink's store constructor.

The engine has one table store: ``ParquetStore``
(``operators/incremental.py``), a manifest-based snapshot store on bare
parquet — CAS stage-then-rename commits, carried-forward files, typed
read schemas. Its docstring states the commit semantics the incremental
engine relies on.

Reference parity: the reference loader's sink abstraction is one
``database.mts`` module fronting five SQL/file targets (reference
src/database.mts:33-90); ``make_store`` is the same seam for the
versioned parquet target.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .incremental import ParquetStore


def make_store(loadpath: str,
               spark: SparkSession | None = None) -> ParquetStore:
    """The store the CLI and the benchmark sync into. ``spark`` is
    accepted for callers that pass their session; the store needs
    none."""
    return ParquetStore(loadpath)
