"""The benchmark's workloads. Both are closed loops: one client, one
process with one local Spark JVM (``local[nproc]``); every step waits for
the previous one.

- ``tally_cycle``: the product path of the sync engine. A full
  ``run_import`` from TDL-XML dumps into the parquet store, a seeded CDC
  batch through ``IncrementalSync.incremental_sync_frames`` and one pass
  of the 15 reports over the merged store, the way the reference's poll
  loop syncs and then refreshes its reports. Its set-up is the XML round
  trip: the engine parses every dump back.
- ``llm_curation``: one pass of the ten curation slots, each building its
  plan, executing it and fetching its rows. Its set-up is the catalog
  probe: the engine opens and counts every corpus table.

Input generation is benchmark code and runs before set-up, untimed. A
step is one call a user waits for: a sync, a merge, one report, one
curation slot. Correctness checks run between steps, never inside one.
"""

from __future__ import annotations

import copy
import json
import os
import time

from . import checks, gen
from .trace import Tracer, TracedStore, traced_engine

# Tally slice size: ~1 500 vouchers, ~18 000 ledger lines, ~6 000
# inventory lines; ~3 MB of TDL-XML.
N_ORDERS = 1500
# Curation corpus: 300 documents, 300 embeddings.
N_DOCS = 300
N_VECS = 300
# set-ups per run; setup_s is their median
SETUP_REPS = 3
N_BUCKETS = 16  # the store default ``make_store`` builds

SLOTS = ["text_profile", "dedup_exact", "minhash_lsh_dedup", "simhash_dedup",
         "substring_dedup_prod", "span_dedup", "semantic_dedup",
         "two_tier_dedup", "similarity_topk_suite", "pack_sequences"]
# the production arm shares the gate's operator and is pinned
# row-identical to it (hash collisions aside), so it answers to the
# gate's oracle; simhash_dedup has no oracle and is counted unverified
SLOT_ORACLE = {"substring_dedup_prod": "substring_dedup"}

# report gate → the report programs whose output it checks
GATES = {
    "report_trial_balance": ["trial_balance"],
    "report_profit_loss": ["profit_loss"],
    "report_stock_summary": ["stock_summary"],
    "report_account_ledger": ["account_ledger"],
    "report_sales_register": ["sales_register"],
    "report_purchase_register": ["purchase_register"],
    "report_accounting_voucher_view": ["accounting_voucher_view"],
    "report_sales_daily": ["sales_daily"],
    "report_sales_monthly": ["sales_monthly"],
    "report_purchase_daily": ["purchase_daily"],
    "report_purchase_monthly": ["purchase_monthly"],
    "report_daily_cash_movement": ["daily_cash_movement"],
    "report_stock_voucher_view": ["stock_voucher_view"],
    "report_group_trees": ["group_tree_parent_child",
                           "group_tree_children_parent"],
}


def report_programs() -> dict:
    """The 15 reports with the arguments their gates use."""
    from tally_database_loader_spark.plans import tally_reports as R
    from tally_database_loader_spark.plans.report_gate import FROM, TO
    return {
        "trial_balance": lambda c: R.trial_balance(c, FROM, TO),
        "profit_loss": R.profit_loss,
        "stock_summary": R.stock_summary,
        "account_ledger": lambda c: R.account_ledger(
            c, "Customer#000000001", "1992-01-01", "1998-12-31"),
        "sales_register": R.sales_register,
        "purchase_register": R.purchase_register,
        "accounting_voucher_view": R.accounting_voucher_view,
        "sales_daily": lambda c: R.sales_daily(c, FROM, TO),
        "sales_monthly": lambda c: R.sales_monthly(c, FROM, TO),
        "purchase_daily": lambda c: R.purchase_daily(c, FROM, TO),
        "purchase_monthly": lambda c: R.purchase_monthly(c, FROM, TO),
        "daily_cash_movement": lambda c: R.daily_cash_movement(c, FROM, TO),
        "stock_voucher_view": R.stock_voucher_view,
        "group_tree_parent_child":
            lambda c: R.group_tree_parent_child(c, "Current Assets"),
        "group_tree_children_parent":
            lambda c: R.group_tree_children_parent(c, "Retail Debtors"),
    }


REPORTS = [r for names in GATES.values() for r in names]


def _doubles(df):
    """Money leaves a report as DOUBLE, as the report gates emit it."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    return df.select(*[F.col(f.name).cast("double").alias(f.name)
                       if isinstance(f.dataType, T.DecimalType)
                       else F.col(f.name) for f in df.schema.fields])


class Run:
    """State of one benchmark run: the session, the tracer, the step log,
    the set-up samples, failures and the per-layer counters."""

    def __init__(self, spark, tracer: Tracer, work: str, seed: int,
                 seconds: float):
        import duckdb
        self.spark, self.tracer, self.work = spark, tracer, work
        self.seed, self.seconds = seed, seconds
        self.steps: list[tuple[str, str, float]] = []
        self.cycles: list[float] = []
        self.setup: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.unverified: list[str] = []
        self.layer: dict[str, float] = {}
        self.info: dict = {}
        self.con = duckdb.connect()
        os.makedirs(os.path.join(work, "duckdb"), exist_ok=True)
        self.con.execute(
            f"SET temp_directory='{os.path.join(work, 'duckdb')}'")

    def step(self, kind: str, name: str, seconds: float) -> None:
        self.steps.append((kind, name, seconds))
        self.attempted += 1

    def fail(self, what: str, steps: int = 1) -> None:
        """Record a wrong result; ``steps`` is how many steps it falsifies."""
        self.failures.append(what)
        self.failed += steps

    def add(self, key: str, value: float) -> None:
        self.layer[key] = self.layer.get(key, 0.0) + value

    def views(self, sf_dir: str) -> None:
        for f in sorted(os.listdir(sf_dir)):
            name = f.removesuffix(".parquet")
            path = os.path.join(sf_dir, f).replace("'", "''")
            self.con.execute(f"CREATE OR REPLACE VIEW {name} AS "
                             f"SELECT * FROM read_parquet('{path}')")


# -- tally_cycle ------------------------------------------------------------------

class TallyInputs:
    def __init__(self, root: str, tables, frames):
        self.root = root
        self.sf_dir = os.path.join(root, "sf")
        self.dumpdir = os.path.join(root, "dump")
        self.definition = os.path.join(root, "definition.yaml")
        self.frames = frames
        gen.write_bench_tables(tables, self.sf_dir)
        self.xml_bytes = gen.write_dumps(frames, self.dumpdir)
        with open(self.definition, "w") as fh:
            fh.write(gen.SPEC_YAML)

    def config(self, loadpath: str):
        from tally_database_loader_spark.config import load_config
        return load_config(json.dumps({
            "database": {"technology": "parquet", "loadpath": loadpath,
                         "logpath": os.path.join(self.root, "import-log.txt")},
            "tally": {"definition": self.definition,
                      "dumpdir": self.dumpdir, "sync": "full"}}))


def _store_state(run: Run, root: str, frames) -> list[str]:
    """Mismatches between the committed store and the source frames."""
    out = []
    for name in gen.TABLES:
        want = gen.arrow(name, frames[name])
        ok, msg = checks.store_matches(run.con, root, name, want)
        if not ok:
            out.append(msg)
    return out


def _report_pass(run: Run, store, programs) -> dict:
    """One pass of the 15 reports; each step builds the report over the
    store's latest snapshot and fetches its rows."""
    tr = run.tracer
    t0 = time.perf_counter()
    with tr.span("report.catalog"):
        cat = {t: store.read(run.spark, t).select(*gen.REPORT_COLUMNS[t])
               for t in gen.TABLES}
    results = {}
    for name in REPORTS:
        s0 = time.perf_counter()
        with tr.span(f"report.{name}.build", report=name):
            df = _doubles(programs[name](cat))
        with tr.span(f"report.{name}.exec", report=name):
            results[name] = df.toArrow()
        run.step("report", name, time.perf_counter() - s0)
        run.add(f"report.{name}_s", time.perf_counter() - s0)
    run.info.setdefault("library_s", []).append(time.perf_counter() - t0)
    return results


def _gate_rows(gate: str, results: dict):
    names = GATES[gate]
    if gate != "report_group_trees":
        return checks.arrow_rows(results[names[0]])
    rows = []
    for direction, name in zip(("parent_child", "children_parent"), names):
        tbl = results[name]
        rows += [(direction, n, p) for n, p in zip(
            tbl.column("name").to_pylist(), tbl.column("parent").to_pylist())]
    return ["direction", "name", "parent"], rows


def _check_reports(run: Run, results: dict, sql_of) -> None:
    """Each report against its gate's DuckDB oracle, rendered over the
    same source state by ``sql_of``."""
    from tally_database_loader_spark import plans
    for gate, names in GATES.items():
        rel = run.con.sql(sql_of(plans.ORACLES[gate]))
        ok, msg = checks.same_result(_gate_rows(gate, results),
                                     (rel.columns, rel.fetchall()))
        if not ok:
            run.fail(f"{gate}: {msg}", steps=len(names))


def check_derivation(con, frames) -> None:
    """The generated slice equals the report gates' own derivation of the
    bench tables (their oracle CTEs, evaluated by DuckDB over the views
    ``con`` holds)."""
    from tally_database_loader_spark.plans import report_gate as RG
    for name in gen.TABLES:
        cols = gen.REPORT_COLUMNS[name]
        got = gen.arrow(name, frames[name]).select(cols)
        want = con.sql(f"WITH {RG._CTES} SELECT {', '.join(cols)} "
                       f"FROM {name}").arrow()
        ok, msg = checks.frames_match(con, got, want.cast(got.schema))
        if not ok:
            raise RuntimeError(f"generated {name} differs from the report "
                               f"gates' derivation: {msg}")


def _swap_ctes(run: Run, frames):
    """The gates' oracle SQL over the given source frames instead of the
    bench tables: the derivation CTEs become projections of the frames."""
    from tally_database_loader_spark.plans import report_gate as RG
    parts = ["vt_map AS (SELECT NULL AS priority, NULL AS vt)",
             "li AS (SELECT NULL AS l_orderkey)"]
    for name in gen.TABLES:
        run.con.register(f"src_{name}",
                         gen.arrow(name, frames[name]))
        cols = ", ".join(gen.REPORT_COLUMNS[name])
        parts.append(f"{name} AS (SELECT {cols} FROM src_{name})")
    body = ",\n".join(parts)
    return lambda sql: sql.replace(RG._CTES, body)


def _parse_dumps(run: Run, inputs: TallyInputs, specs) -> dict:
    """The engine's TDL-XML reader over every dump, rows fetched: one
    set-up of ``tally_cycle``. Records its wall time as a set-up sample
    and as the parse time of the ``tally_xml`` layer."""
    from tally_database_loader_spark.sources.tally_xml import read_tdl_response
    tr = run.tracer
    out = {}
    t0 = time.perf_counter()
    with tr.span("setup"):
        for name in gen.TABLES:
            with tr.span("tally_xml.parse", table=name):
                out[name] = read_tdl_response(
                    run.spark, os.path.join(inputs.dumpdir, f"{name}.xml"),
                    specs[name]).toArrow()
    dt = time.perf_counter() - t0
    run.setup.append(dt)
    run.info.setdefault("parse_s", []).append(dt)
    return out


def _merge(run: Run, eng, seq, frames, root: str, rename: bool):
    """Apply the next CDC batch of ``seq`` to the source frames and
    extract it (checkpointed) before the timer, merge it through the
    E-protocol, then audit the buckets it rewrote and check the store
    against the source. Returns the merge's wall time and its stats."""
    spark, tr = run.spark, run.tracer
    touched = seq.apply(int(rename), rename=rename)
    src = {t: gen.to_spark(spark, t, frames[t]).localCheckpoint(eager=True)
           for t in gen.SYNCED}
    before = {t: checks.versions(root, t)[-1] for t in gen.TABLES}
    t0 = time.perf_counter()
    with tr.span("rename.sync_frames" if rename
                 else "incremental.sync_frames"):
        stats = eng.incremental_sync_frames(src)
    dt = time.perf_counter() - t0
    what = "rename batch" if rename else "CDC batch"
    _audit(run, root, before, touched, what, record=not rename)
    bad = _store_state(run, root, frames)
    if bad:
        run.fail(f"after the {what}: {bad}")
    return dt, stats


def tally_cycle(run: Run) -> None:
    from tally_database_loader_spark.__main__ import run_import
    from tally_database_loader_spark.operators.incremental import \
        IncrementalSync
    from tally_database_loader_spark.operators.table_format import make_store
    from tally_database_loader_spark.sources.registry import load_yaml_spec
    from tally_database_loader_spark.streaming.progress import SyncLogger

    spark, tr = run.spark, run.tracer
    specs = load_yaml_spec(gen.SPEC_YAML)
    programs = report_programs()

    # inputs, outside set-up time: bench tables, the report slice, its
    # TDL-XML dumps and the definition; the slice must equal the report
    # gates' derivation of the bench tables
    tables = gen.bench_tables(run.seed, N_ORDERS)
    inputs = TallyInputs(os.path.join(run.work, "in"), tables,
                         gen.derive_slice(tables))
    run.views(inputs.sf_dir)
    check_derivation(run.con, inputs.frames)
    run.info.update(xml_bytes=inputs.xml_bytes,
                    rows={t: len(f) for t, f in inputs.frames.items()})

    # set-up: the XML round trip, before any timed step; every dump must
    # parse back to its source rows (a wrong parse falsifies the sync)
    for _ in range(SETUP_REPS):
        parsed = _parse_dumps(run, inputs, specs)
        for name in gen.TABLES:
            ok, msg = checks.frames_match(
                run.con, parsed[name], gen.arrow(name, inputs.frames[name]))
            if not ok:
                run.fail(f"XML round trip of {name}: {msg}")

    cycle = 0
    measured = 0.0
    while cycle == 0 or measured < run.seconds:
        frames = copy.deepcopy(inputs.frames)
        root = os.path.join(run.work, f"store{cycle}")
        logger = SyncLogger(os.path.join(inputs.root, "import-log.txt"))

        # step: full sync, XML dumps → committed store
        t0 = time.perf_counter()
        with traced_engine(tr), tr.span("main.run_import"):
            run_import(spark, inputs.config(root), logger)
        sync_s = time.perf_counter() - t0
        run.step("sync", "full_sync", sync_s)
        run.info.setdefault("full_sync_s", []).append(sync_s)
        bad = _store_state(run, root, frames)
        if bad:
            run.fail(f"full sync: {bad}")
        run.add("store.bytes_written", checks.tree_bytes(root))
        run.add("store.files_written", sum(
            len(checks.live_files(root, t)) for t in gen.TABLES))
        base = make_store(root, spark=spark)
        store = TracedStore(base, tr) if tr.enabled else base

        # step: one clustered CDC batch (no rename)
        seq = gen.CdcSequence(frames, run.seed + cycle)
        eng = IncrementalSync(spark, store, specs)
        merge_s, stats = _merge(run, eng, seq, frames, root, rename=False)
        run.step("merge", "cdc_batch", merge_s)
        run.add("merge.rows_deleted", sum(stats["deleted"].values()))
        run.add("merge.rows_appended", sum(stats["appended"].values()))
        if tr.enabled:
            run.add("store.files_read", sum(
                len(checks.live_files(root, t)) for t in gen.TABLES))

        results = _report_pass(run, store, programs)
        _check_reports(run, results, _swap_ctes(run, frames))

        # the cycle: the sync, the merge and the report pass (its steps
        # and the catalog's store reads); checks and extraction excluded
        elapsed = sync_s + merge_s + run.info["library_s"][-1]
        run.cycles.append(elapsed)
        measured += elapsed
        cycle += 1

    # untimed, after the last cycle: the minority shape, a second batch
    # that also renames a customer ledger (the cascade-update edge)
    run.attempted += 1
    _merge(run, eng, seq, frames, root, rename=True)
    if tr.enabled:
        _space_ratio(run, root, frames)
    tr.collect()


def _audit(run: Run, root: str, before: dict, touched: dict, what: str,
           record: bool) -> None:
    """Every bucket a CDC batch rewrote must hold a key the batch touched
    (the ``tools_scale_10x.check_incremental`` property). With ``record``,
    the rewritten buckets and bytes go into the per-layer counters."""
    buckets = checks.key_buckets(run.spark, touched, N_BUCKETS)
    hit = rewritten_n = nbytes = 0
    for t in gen.TABLES:
        rewritten, b = checks.rewritten_buckets(root, t, before[t])
        allowed = buckets.get(t, set())
        stray = rewritten - allowed
        if stray:
            run.fail(f"{what} rewrote {t} buckets {sorted(stray)} "
                     f"holding no touched key")
        hit += len(rewritten & allowed)
        rewritten_n += len(rewritten)
        nbytes += b
    if record:
        run.add("merge.buckets_rewritten", rewritten_n)
        run.add("merge.bytes_rewritten", nbytes)
        run.add("merge.bucket_hit_ratio",
                hit / rewritten_n if rewritten_n else 1.0)


def _space_ratio(run: Run, root: str, frames) -> None:
    """Bytes on disk after the batch sequence ÷ bytes of a fresh full
    write of the converged state (traced runs only)."""
    from tally_database_loader_spark.operators.table_format import make_store
    fresh_root = os.path.join(run.work, "fresh")
    fresh = make_store(fresh_root, spark=run.spark)
    for t in gen.TABLES:
        fresh.write(gen.to_spark(run.spark, t, frames[t]), t)
    run.add("store.space_ratio",
            checks.tree_bytes(root) / checks.tree_bytes(fresh_root))


# -- llm_curation ---------------------------------------------------------------

def llm_curation(run: Run) -> None:
    from tally_database_loader_spark import plans
    from tally_database_loader_spark.plans.bench_plans import BENCH_PLANS
    from tally_database_loader_spark.sources.catalog import load_table

    registry = dict(plans.QUERIES)
    registry.update(BENCH_PLANS)
    spark, tr = run.spark, run.tracer

    # inputs, outside set-up time: the corpus as parquet
    sf_dir = os.path.join(run.work, "in", "sf")
    corpus = gen.corpus(run.seed, N_DOCS, N_VECS)
    gen.write_bench_tables(corpus, sf_dir)

    # set-up: the catalog probe; the engine opens every corpus table and
    # counts its rows
    want = {t: tbl.num_rows for t, tbl in corpus.items()}
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        with tr.span("setup"):
            counts = {t: load_table(spark, sf_dir, t).count() for t in corpus}
        run.setup.append(time.perf_counter() - t0)
        if counts != want:
            run.fail(f"catalog probe counted {counts}, not {want}")

    passes = []
    measured = 0.0
    while not passes or measured < run.seconds:
        t_cycle = time.perf_counter()
        results = {}
        for slot in SLOTS:
            t0 = time.perf_counter()
            with tr.span(f"llm.{slot}.build"):
                df = registry[slot](spark, sf_dir)
            t1 = time.perf_counter()
            with tr.span(f"llm.{slot}.exec"):
                results[slot] = df.toArrow()
            t2 = time.perf_counter()
            run.step("slot", slot, t2 - t0)
            run.add(f"llm.{slot}.build_s", t1 - t0)
            run.add(f"llm.{slot}.exec_s", t2 - t1)
        elapsed = time.perf_counter() - t_cycle
        run.cycles.append(elapsed)
        measured += elapsed
        passes.append(results)
    tr.collect()

    # the slots' DuckDB oracles over the same corpus files, after the
    # timed cycles
    run.views(sf_dir)
    for slot in SLOTS:
        sql = plans.ORACLES.get(SLOT_ORACLE.get(slot, slot))
        if sql is None:
            run.unverified.append(slot)
            continue
        rel = run.con.sql(sql)
        expected = (rel.columns, rel.fetchall())
        for results in passes:
            ok, msg = checks.same_result(checks.arrow_rows(results[slot]),
                                         expected)
            if not ok:
                run.fail(f"{slot}: {msg}")


WORKLOADS = {"tally_cycle": tally_cycle, "llm_curation": llm_curation}
