"""Sink layer (SURVEY §2.B): the reference's 7 load targets re-expressed on
``DataFrameWriter``.

Reference behaviors reproduced (citations are reference files):

- B7 CSV file sink — UTF-8 BOM for Excel, ISO dates, ``"``→``""`` quoting,
  blank for null dates (src/tally.mts:365-388, src/database.mts:60-79).
- B8 JSON file sink — typed rows, null dates as JSON null
  (src/database.mts:81-119).
- B1-B4 relational sinks — batched inserts ≤1000 rows (src/database.mts:12,
  140) become the Spark JDBC writer's ``batchsize``; partition-parallel
  connections replace the reference's single connection.
- B5 BigQuery / B6 ADLS-CDM — CDM ``model.json`` (entity/attribute/partition
  metadata, type map at src/database.mts:341-360) + per-table CSV parts.
- B9 truncate-before-load (src/database.mts:269-288) — ``mode('overwrite')``.
- B10 config-table writer (src/tally.mts:580-591).

Scale notes: every writer is a distributed ``df.write`` — no driver
collect. ``single_file=True`` (Excel-parity mode) concatenates part files
driver-side and is intended for report-sized exports, not the 100 TB path;
the default keeps one file per partition so a 1000-executor write stays
parallel.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import run_concurrently

_BOM = b"\xef\xbb\xbf"

# logical type → CDM dataType (reference src/database.mts:341-360)
_CDM_TYPES = {
    "text": "string", "custom": "string",
    "number": "int64", "logical": "int64",
    "amount": "decimal", "quantity": "decimal", "rate": "decimal",
    "date": "date",
}


def _finalize_single_file(tmp_dir: str, dest: str, bom: bool) -> None:
    """Concatenate the part files of ``tmp_dir`` into one file at ``dest``.

    Driver-side but streamed (no whole-file buffering, unlike the
    reference's fs.readFileSync at src/database.mts:129); meant for
    report-sized Excel/BI exports only.
    """
    parts = sorted(glob.glob(os.path.join(tmp_dir, "part-*")))
    with open(dest, "wb") as out:
        if bom:
            out.write(_BOM)
        for i, part in enumerate(parts):
            with open(part, "rb") as src:
                if i > 0:  # drop the duplicated header of later parts
                    src.readline()
                shutil.copyfileobj(src, out)
    shutil.rmtree(tmp_dir)


def write_counted(df: DataFrame, write) -> int:
    """Run ``write(df)`` and return the rows it wrote, observed ON the
    write job itself (``DataFrame.observe``) — a trailing ``df.count()``
    would re-run the whole plan as a second job (and could disagree with
    what was written for a non-deterministic input), and re-reading the
    sink would be a second scan."""
    from pyspark.sql import Observation
    obs = Observation()
    write(df.observe(obs, F.count(F.lit(1)).alias("n")))
    return int(obs.get["n"])


def load_tables(spark: SparkSession, frames: dict[str, DataFrame], load_one,
                aborted=None) -> dict[str, tuple[int, float]]:
    """Full load of every frame through ``load_one(name, df)``, each
    table on its own driver thread (``session.run_concurrently``): one
    table's load is one single-task parse-plus-write job, so loading the
    tables one after another leaves all but one core idle. Each row
    count comes from the table's write job (``write_counted``).

    ``aborted`` (the cooperative-stop predicate) is checked as each table
    starts; a table whose check is true is not loaded. Returns
    ``name → (rows, seconds)`` for the loaded tables, in ``frames``
    order, each with its own measured seconds."""
    def one(item):
        name, df = item
        if aborted is not None and aborted():
            return None
        t0 = time.perf_counter()
        rows = write_counted(df, lambda d: load_one(name, d))
        return name, (rows, time.perf_counter() - t0)

    return dict(r for r in run_concurrently(spark, one, frames.items()) if r)


def write_csv(df: DataFrame, path: str, *, single_file: bool = False,
              bom: bool = True, quote_all: bool = False,
              mode: str = "overwrite") -> None:
    """CSV sink (B7). ISO dates, ``"``→``""`` escaping, header row, null →
    empty field (the reference's ñ-sentinel dance, src/database.mts:64,
    collapses to native nulls here — SURVEY §2.D3)."""
    writer = (df.write.mode(mode)
              .option("header", "true")
              .option("dateFormat", "yyyy-MM-dd")
              .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
              .option("escape", '"')           # RFC-4180 "" doubling
              .option("quoteAll", str(quote_all).lower())
              .option("emptyValue", "\"\"")
              .option("nullValue", ""))
    if single_file:
        tmp = path + "._parts"
        writer.csv(tmp)
        _finalize_single_file(tmp, path, bom)
    else:
        writer.csv(path)


def write_json(df: DataFrame, path: str, *, single_file: bool = False,
               mode: str = "overwrite") -> None:
    """JSON sink (B8): typed values, null dates as JSON null. Default is
    JSON-lines (the scalable layout); ``single_file`` wraps rows into the
    reference's one JSON array (src/database.mts:81-119)."""
    if single_file:
        tmp = path + "._parts"
        df.write.mode(mode).option("dateFormat", "yyyy-MM-dd").json(tmp)
        # stream part-by-part (like _finalize_single_file for CSV) — no
        # whole-output buffering in driver memory
        with open(path, "w", encoding="utf-8") as out:
            out.write("[\n")
            first = True
            for part in sorted(glob.glob(os.path.join(tmp, "part-*"))):
                with open(part, "r", encoding="utf-8") as src:
                    for line in src:
                        line = line.rstrip("\n")
                        if not line.strip():
                            continue
                        if not first:
                            out.write(",\n")
                        out.write(line)
                        first = False
            out.write("\n]\n")
        shutil.rmtree(tmp)
    else:
        df.write.mode(mode).option("dateFormat", "yyyy-MM-dd").json(path)


def jdbc_writer_options(technology: str, *, batchsize: int = 1000,
                        truncate: bool = True) -> dict[str, str]:
    """Writer options for the relational sinks (B1-B4, B9).

    The reference caps insert batches at 1000 rows (src/database.mts:140;
    the cap exists because >1000-row inserts failed, docs/
    release-history.md:132) — the JDBC writer batches natively, so the cap
    becomes ``batchsize``. ``truncate`` keeps the target's DDL in place on
    overwrite, matching the reference's truncate-then-load protocol
    (src/database.mts:269-288) instead of drop/recreate.
    """
    opts = {
        "batchsize": str(batchsize),
        "truncate": str(truncate).lower(),
        "isolationLevel": "READ_COMMITTED",
    }
    if technology == "mysql":
        # multi-row VALUES rewriting ≈ the reference's hand-built
        # multi-row INSERT batching (src/database.mts:128-167)
        opts["rewriteBatchedStatements"] = "true"
    if technology == "mssql":
        # reference disables the 15 s default timeout for bulk loads
        # (docs/release-history.md:40, src/database.mts:672)
        opts["queryTimeout"] = "0"
    return opts


def write_jdbc(df: DataFrame, url: str, table: str, *, technology: str,
               properties: dict[str, str] | None = None,
               mode: str = "overwrite", batchsize: int = 1000) -> None:
    """Relational sink (B1-B4): partition-parallel batched JDBC write.

    Each partition opens one connection and streams ≤``batchsize``-row
    batches — the distributed replacement for the reference's
    single-connection sequential loader.
    """
    opts = jdbc_writer_options(technology, batchsize=batchsize)
    if properties:
        opts.update(properties)
    writer = df.write.mode(mode).format("jdbc") \
        .option("url", url).option("dbtable", table)
    for k, v in opts.items():
        writer = writer.option(k, v)
    writer.save()


def overwrite_table(df: DataFrame, path: str) -> None:
    """Truncate-before-load (B9) on file storage = atomic overwrite."""
    df.write.mode("overwrite").parquet(path)


def bigquery_writer_options(dataset: str, table: str, *,
                            truncate: bool = True,
                            temp_bucket: str | None = None) -> dict[str, str]:
    """BigQuery sink options (B5) for the public spark-bigquery connector.

    Maps the reference's load-job settings (src/database.mts:290-305:
    CSV load, ``skipLeadingRows: 1``, ``WRITE_TRUNCATE``) onto the
    connector's surface: ``writeDisposition`` carries the truncate
    semantics and the intermediate format is parquet (columnar staging —
    the header-skip knob disappears because parquet is schema'd)."""
    opts = {
        "table": f"{dataset}.{table}",
        "writeDisposition": "WRITE_TRUNCATE" if truncate else "WRITE_APPEND",
        "intermediateFormat": "parquet",
    }
    if temp_bucket:
        opts["temporaryGcsBucket"] = temp_bucket
    return opts


def write_bigquery(df: DataFrame, dataset: str, table: str, *,
                   truncate: bool = True, temp_bucket: str | None = None,
                   stub_dir: str | None = None) -> int:
    """BigQuery sink (B5). With the spark-bigquery connector jar on the
    classpath this is a distributed ``format('bigquery')`` write; in
    environments without the jar (this container), ``stub_dir`` runs the
    same path end-to-end against a local stub: the rows are staged as the
    CSV the reference uploads and the load-job configuration the
    reference submits (src/database.mts:290-305) is emitted as
    ``{table}.load.json``, so tests can assert the exact job that would
    run. Returns the staged/loaded row count (the reference reports
    ``outputRows``)."""
    opts = bigquery_writer_options(dataset, table, truncate=truncate,
                                   temp_bucket=temp_bucket)
    if stub_dir is not None:
        stage = os.path.join(stub_dir, f"{table}.csv")
        n_rows = write_counted(df, lambda d: write_csv(
            d, stage, single_file=True, bom=False))
        job = {
            "configuration": {
                "load": {
                    "destinationTable": {"datasetId": dataset, "tableId": table},
                    "sourceFormat": "CSV",
                    "skipLeadingRows": 1,
                    "writeDisposition": opts["writeDisposition"],
                },
            },
            "statistics": {"load": {"outputRows": n_rows}},
        }
        with open(os.path.join(stub_dir, f"{table}.load.json"), "w",
                  encoding="utf-8") as fh:
            json.dump(job, fh, indent=2, sort_keys=True)
        return n_rows

    def save(d: DataFrame) -> None:
        writer = d.write.mode("overwrite").format("bigquery")
        for k, v in opts.items():
            writer = writer.option(k, v)
        writer.save()

    try:
        return write_counted(df, save)
    except Exception as exc:  # connector jar absent / misconfigured
        raise RuntimeError(
            "BigQuery write requires the spark-bigquery connector on the "
            "classpath (--packages com.google.cloud.spark:spark-bigquery-"
            "with-dependencies); pass stub_dir= for a local dry run"
        ) from exc


def write_cdm(dfs: dict[str, DataFrame], specs: dict, out_dir: str, *,
              model_name: str = "tally") -> str:
    """ADLS-CDM sink (B6): per-table CSV folders + a ``model.json``
    describing entities/attributes/partitions (reference
    src/database.mts:307-397; type map :341-360).

    ``specs`` maps table name → ``TableSpec`` (sources/registry.py) so the
    CDM attribute types come from the same registry that owns the Spark
    schema — one source of truth (SURVEY §1.3).
    """
    os.makedirs(out_dir, exist_ok=True)
    entities = []
    for name, df in dfs.items():
        table_dir = os.path.join(out_dir, name)
        write_csv(df, table_dir, single_file=False, bom=False)
        parts = sorted(glob.glob(os.path.join(table_dir, "part-*.csv")))
        spec = specs[name]
        entities.append({
            "$type": "LocalEntity",
            "name": name,
            "attributes": [
                {"name": f.name, "dataType": _CDM_TYPES[f.type]}
                for f in spec.fields
            ],
            "partitions": [
                {"name": os.path.basename(p),
                 "location": os.path.relpath(p, out_dir)}
                for p in parts
            ],
        })
    model_path = os.path.join(out_dir, "model.json")
    with open(model_path, "w", encoding="utf-8") as fh:
        json.dump({"name": model_name, "version": "1.0", "entities": entities},
                  fh, indent=2)
    return model_path


def write_config_table(spark: SparkSession, path: str, *, company: str,
                       from_date: str, to_date: str,
                       updated_at: str) -> DataFrame:
    """Config-table writer (B10): the 4 KV rows the reference records per
    sync (src/tally.mts:580-591). ``updated_at`` is caller-supplied so runs
    are reproducible."""
    df = spark.createDataFrame(
        [("Update Timestamp", updated_at),
         ("Company Name", company),
         ("Period From", from_date),
         ("Period To", to_date)],
        "name string, value string")
    df.write.mode("overwrite").parquet(path)
    return df


def write_parquet_partitioned(df: DataFrame, path: str, *,
                              partition_by: list[str] | None = None,
                              date_col: str | None = None,
                              mode: str = "overwrite") -> None:
    """Scale-layout parquet write: partition directories by the given
    columns, with the common case — month buckets from a date column —
    derived automatically.

    This is the 100 TB layout for the transaction tables: partitioning
    ``trn_*`` by month turns every report's date filter (all of them —
    trial balance, registers, daily/monthly series) into partition
    pruning, so a one-quarter query touches ~3/120 of a decade's files.
    Masters stay unpartitioned (dimension-sized, broadcast at read).
    """
    cols = list(partition_by or [])
    if date_col is not None:
        df = df.withColumn("_ym", F.date_format(F.col(date_col), "yyyy-MM"))
        cols = ["_ym", *cols]
    w = df.write.mode(mode)
    if cols:
        w = w.partitionBy(*cols)
    w.parquet(path)


def write_bucketed_table(df: DataFrame, name: str, *, bucket_col: str,
                         n_buckets: int = 32, sort_col: str | None = None,
                         path: str | None = None) -> None:
    """Bucketed managed table: pre-shuffles rows into ``n_buckets`` by
    ``bucket_col`` so equi-joins and groupBys on that key are
    shuffle-free at read time.

    The header/detail star (trn_voucher ⋈ trn_accounting ⋈ trn_inventory
    on guid) is the target: bucket all three by guid and every report's
    join runs map-side. At 100 TB this converts the biggest repeated
    shuffle in the workload into a one-time write cost."""
    w = df.write.mode("overwrite").format("parquet") \
        .bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    if path:
        w = w.option("path", path)  # external table at an explicit location
    w.saveAsTable(name)


def write_training_shards(df: DataFrame, path: str, *, id_col: str,
                          len_col: str, n_shards: int,
                          batch_size: int | None = None,
                          mode: str = "overwrite") -> dict:
    """Write a corpus as the training-loader layout: ``shard=K/`` parquet
    directories with deterministic hash-shard assignment (optionally
    length-bucketed ``batch_idx``/``pos_in_batch`` columns so the loader
    streams padding-efficient batches straight off disk, no per-epoch
    sort), plus a ``_manifest.json`` recording per-shard document/token
    totals and a content checksum.

    Scale shape: shard assignment is a map-side hash expression over the
    full-width rows — the batched variant runs ONE per-shard window
    (``length_bucketed_batches(passthrough=True)``), never a join back to
    the input, so duplicate or NULL ids cannot fan out or drop rows. The
    manifest checksum is a ``bit_xor`` of per-row hashes —
    order-insensitive and overflow-free, so retries and AQE re-plans
    cannot change it — and is written through the Hadoop FileSystem API,
    so ``s3a://``/``abfs://``/``hdfs://`` destinations work exactly like
    local paths. Returns the manifest dict.
    """
    from ..llm.packing import hash_order, length_bucketed_batches

    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    if batch_size is not None:
        out = length_bucketed_batches(df, id_col, len_col, batch_size,
                                      n_shards, passthrough=True)
    else:
        key = F.coalesce(F.col(id_col).cast("string"), F.lit("\x00<null>"))
        out = df.withColumn(
            "shard", F.pmod(hash_order(key), F.lit(n_shards)).cast("int"))
    out.write.mode(mode).partitionBy("shard").parquet(path)

    back = df.sparkSession.read.parquet(path)
    rows = (back.groupBy("shard")
            .agg(F.count(F.lit(1)).cast("long").alias("docs"),
                 F.sum(F.col(len_col).cast("long")).alias("tokens"),
                 F.expr(f"bit_xor(xxhash64(CAST({id_col} AS STRING)))")
                  .alias("checksum"))
            .collect())
    manifest = {
        "n_shards": n_shards,
        "shards": sorted(
            ({"shard": int(r["shard"]), "docs": int(r["docs"]),
              # all-NULL len_col in a shard sums to NULL, like checksum
              "tokens": int(r["tokens"]) if r["tokens"] is not None else 0,
              "checksum": int(r["checksum"]) if r["checksum"] is not None
              else 0}
             for r in rows), key=lambda s: s["shard"]),
    }
    spark = df.sparkSession
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path + "/_manifest.json")
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    stream = fs.create(hpath, True)
    try:
        stream.write(bytearray(json.dumps(manifest, indent=1,
                                          sort_keys=True).encode("utf-8")))
    finally:
        stream.close()
    return manifest
