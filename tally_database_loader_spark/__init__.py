"""PySpark-native analytics engine with the query and data-processing
capabilities of TheCoderFish/tally-database-loader (reference studied at
/root/reference, v1.0.30).

The reference is a single-threaded TypeScript ETL + report stack for Tally
Prime.  This package re-expresses its capabilities Spark-first:

- ``sources``   : schema registry (YAML-driven), Tally XML dump reader,
                  parquet/JDBC catalog helpers            (SURVEY §2.A)
- ``functions`` : the TDL computed-field expression language compiled to
                  Catalyst ``Column`` expressions; scalar function library
                  (SURVEY §2.C, §2.G)
- ``operators`` : flatten/explode of hierarchical records, incremental
                  diff/merge engine, hierarchy closure, dedup/similarity
                  (SURVEY §2.C4, §2.E, §2.F12)
- ``plans``     : the report-query library (SURVEY §2.F) as DataFrame/SQL
                  programs, plus the driver-gate analytics queries
- ``streaming`` : sync run log and control-plane server; session windows
                  (SURVEY §2.H)
- ``llm``       : large-scale training-data pipeline extras — exact/fuzzy
                  dedup, ANN similarity search, text analysis, multimodal
                  column plumbing
"""

__version__ = "0.1.0"
