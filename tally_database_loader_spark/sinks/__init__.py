"""Sink/writer layer (SURVEY §2.B) — CSV, JSON, JDBC, BigQuery, CDM and
the config table."""

from .writers import (  # noqa: F401
    bigquery_writer_options,
    jdbc_writer_options,
    write_bigquery,
    write_cdm,
    write_config_table,
    write_csv,
    write_jdbc,
    write_json,
)
