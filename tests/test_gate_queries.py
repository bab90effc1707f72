"""Every registered driver-gate query must hash-match its DuckDB oracle at
sf0.01 — the same check the driver's verify runs (CORRECTNESS_r{N}.json)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_CORRECTNESS
from tests.oracle_utils import compare_spark_duckdb


def _pairs():
    from tally_database_loader_spark import plans
    return sorted(plans.QUERIES)


# bpe_train_batched's recursive rank-walk oracle replay costs ~113 s at
# sf0.01 — the second-heaviest item in the whole suite. It is IN the
# driver's 50-slot window, so the driver itself hash-checks it at two
# SFs every round; the in-suite replay moves to the slow set
# (SPARK_GRAFT_RUN_SLOW=1) rather than double-paying inside the default
# run's budget (VERDICT r11 #1). Every other registration — including
# all displaced/non-window queries, whose ONLY oracle check is this
# suite — stays in the default run.
_SLOW_GATES = {"bpe_train_batched"}


@pytest.mark.parametrize("name", [
    pytest.param(n, marks=pytest.mark.slow) if n in _SLOW_GATES else n
    for n in _pairs()])
def test_gate_query_matches_oracle(name, spark, duck):
    from tally_database_loader_spark.plans import gate
    df = gate.QUERIES[name](spark, SF_CORRECTNESS)
    if name not in gate.ORACLES:
        assert df.count() >= 0  # rows-only check, like the driver
        return
    ok, msg = compare_spark_duckdb(df, duck, gate.ORACLES[name])
    assert ok, f"{name}: {msg}"


def test_fingerprint_gates_survive_non_ascii_corpus(spark, tmp_path):
    """The fingerprint payload builders index text by CHARACTER and the
    oracles take unicode() codepoints at character offsets — multi-byte
    characters would desynchronize byte vs char offsets (ADVICE r8).
    Both sides now strip non-ASCII with the same character class, so a
    corpus salted with 2-/3-/4-byte UTF-8 and codepoints > 255 must
    still hash-match on all three modality gates AND the composed
    pipeline."""
    import random

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(90901)
    junk = ["é", "Ω", "中", "😀", " ", "…", "ñ"]
    rows = []
    for d in range(1, 13):
        body = "".join(rng.choice("abcdefgh XYZ.,") for _ in range(900))
        # salt non-ASCII at random positions (including position 0)
        chars = list(body)
        for _ in range(40):
            chars.insert(rng.randrange(len(chars)), rng.choice(junk))
        text = "".join(chars)
        if d % 4 == 0:
            # a clone pair whose members differ ONLY in non-ASCII salt:
            # after stripping they are byte-identical, exercising the
            # exact-clone collapse and the pair arms
            text = rows[-1][1].replace("é", "Ω")
        rows.append((d, text))
    tbl = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": pa.array(["en"] * len(rows), pa.string()),
        "source": pa.array(["synth"] * len(rows), pa.string()),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    })
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{tmp_path / 'documents.parquet'}')")
    from tally_database_loader_spark.plans import gate
    for name in ("image_ahash_dups", "audio_fp_dups", "video_fp_dups",
                 "fingerprint_dedup_pipeline"):
        df = gate.QUERIES[name](spark, str(tmp_path))
        ok, msg = compare_spark_duckdb(df, con, gate.ORACLES[name])
        assert ok, f"{name}: {msg}"
        assert df.count() > 0, f"{name}: empty result defeats the test"


def test_driver_window_covers_all_families():
    """The driver checks only the FIRST 50 registrations; every distinct
    operator family must have a representative inside that window
    (plans/__init__._WINDOW). Guard against a stray import reordering."""
    from tally_database_loader_spark import plans
    window = list(plans.QUERIES)[:50]
    must_have = [
        "renumber_join_update", "report_trial_balance",
        "report_profit_loss", "text_profile",
        "similarity_topk_suite", "incremental_dedup", "pack_sequences",
        "benchmark_contamination", "domain_cap",
        # round-2 suites (several families per slot)
        "lm_score_suite", "token_stats_suite", "normalize_suite",
        "selection_suite",
        # end-to-end composition (filter ∪ dedup ∪ clustering ∪ quality
        # keeper election ∪ packing in one hash; v2 replaced v1
        # in-window round 10 — v1's stages run verbatim inside it)
        "curation_pipeline_v2",
        # round-3 curation: merged suites give every round-2 flagship a
        # driver row, and the real-report twins carry the F1/F7/F12/F15
        # families the displaced synthetic variants covered
        "multimodal_suite", "sketch_suite", "report_stock_summary",
        "report_sales_register", "report_group_trees",
        # round-4 curation: the real-report twins that displaced the last
        # synthetic shape variants (F4/F5/F9 theta-semi-stringagg ledger,
        # F11/F2 spine star, F13/F19 opening-row union) — 8 report_* rows
        "report_account_ledger", "report_daily_cash_movement",
        "report_accounting_voucher_view",
        # round-5 curation: the 3-regime workflow dedup (F10) and the
        # composite-key month join (F16/F2) now run on the real model —
        # 10 report_* rows in the window
        "report_stock_voucher_view", "report_sales_monthly",
        # round-6 curation: round-5 flagships carry driver rows (VERDICT
        # r5 #1) — guarded SemDeDup, two-tier dedup, real-decoder gate
        # (bpe_train rotated out round 8: the training-loop family keeps
        # two in-window rows via bpe_encode's full-recursion oracle and
        # bpe_train_batched)
        "semantic_dedup_capped", "two_tier_dedup",
        "ppm_decode_real",
        # round-7 curation: the train→apply tokenizer chain (VERDICT r6
        # #1) displaces dedup_exact — exact dedup stays driver-verified
        # via incremental_dedup + curation_pipeline's dedup stage
        "bpe_encode",
        # round-8 curation: the batched trainer (VERDICT r7 #1) displaces
        # length_stats — the length/percentile family stays in-window via
        # token_stats_suite and text_profile
        "bpe_train_batched",
        # round-8 flagships: exact substring dedup (suffix-array
        # semantics via overlapping k-gram anchors), perceptual image
        # near-dup (exact-integer aHash over the real decoder + lossless
        # 4×16-band Hamming LSH) and acoustic near-dup (real-WAV
        # energy-delta fingerprint through the same banded join).
        # Displaced embedding_cosine_dups stays driver-verified inside
        # dedup_clusters' pair stage; displaced inverted_index stays
        # in-window via bm25_query_scores (same postings entry points).
        "substring_dedup", "image_ahash_dups", "audio_fp_dups",
        # round-9 curation: the two r8 flagships that had no driver row
        # (VERDICT r8 #1) — displaced gap_fill_locf's family stays via
        # asof_latest_view + report_daily_cash_movement's spine;
        # segment_pivot stays registered + oracle-replayed.
        # Round-11 curation (VERDICT r10 #4): fingerprint_dedup_pipeline
        # rotated out for incremental_fp_multibatch — the fingerprint
        # edges→closure→keeper shape stays in-window verbatim inside
        # cross_modal_dedup and incremental_cross_modal_dedup, while the
        # multi-batch label-table recurrence (3 batches, star re-entry,
        # from-scratch-closure oracle) gains its driver row
        "video_fp_dups", "incremental_fp_multibatch",
        # round-9 flagship: text MinHash edges + the three fingerprint
        # edge sets under one recursive-CTE closure (displaced
        # minhash_lsh_dedup's banding+verify is embedded verbatim in
        # this oracle's tpairs CTE and in two_tier_dedup's tier 1)
        "cross_modal_dedup",
        # round-10 curation (VERDICT r9 #2): the incremental-clustering
        # flagship — star-edge label reentry, oracle = cross_modal_dedup
        # verbatim so the driver checks incremental ≡ batch as a hash.
        # Displaced dedup_clusters' closure runs inside this gate,
        # cross_modal_dedup and fingerprint_dedup_pipeline.
        "incremental_cross_modal_dedup",
    ]
    missing = [n for n in must_have if n not in window]
    assert not missing, f"families fell out of the driver window: {missing}"
    # and the window carries no oracle-less entry that could have one
    from tally_database_loader_spark.plans import ORACLES
    no_oracle = [n for n in window if n not in ORACLES]
    assert no_oracle == [], f"oracle-less queries inside the window: {no_oracle}"


def test_every_benchmark_slot_has_an_oracle():
    """Every curation slot the repo benchmark times (perfbench/workloads.py
    SLOTS, through its SLOT_ORACLE aliases) resolves to a DuckDB oracle,
    so no benchmarked plan runs unverified."""
    from perfbench.workloads import SLOT_ORACLE, SLOTS
    from tally_database_loader_spark.plans import ORACLES
    unverified = [s for s in SLOTS if SLOT_ORACLE.get(s, s) not in ORACLES]
    assert unverified == [], f"benchmark slots without an oracle: {unverified}"


def test_prod_twins_reuse_gate_operator_entry_points():
    """Every production-shaped bench twin (plans/bench_plans.py) must
    call the SAME operator entry points as its hash-verified gate twin
    (VERDICT r6 "What's wrong" #4) — the twins exist to drop the
    oracle-side exact-verification arms, not to run a different plan.
    Import-level check: the set of ``from ..llm.X import ...`` names in
    the twin's source must be a subset of the gate twin's, so the timed
    plan can never silently diverge from the value-hash-verified one."""
    import inspect
    import re

    from tally_database_loader_spark.plans import gate
    from tally_database_loader_spark.plans.bench_plans import BENCH_PLANS

    def llm_imports(fn, _seen=None):
        # gate twins compose OTHER gate functions (sketch_suite calls
        # hll_token_distinct etc.), so follow same-module calls
        # transitively to collect the full operator entry-point set
        seen = _seen if _seen is not None else set()
        if fn in seen:
            return set()
        seen.add(fn)
        src = inspect.getsource(fn)
        out = set()
        # both import styles: plain one-liners and parenthesized
        # (possibly multi-line) lists — llm_gate uses both
        for m in re.finditer(
                r"from \.\.llm\.(\w+) import (?:\(([^)]*)\)|([\w, ]+))",
                src, re.S):
            mod, names = m.group(1), m.group(2) or m.group(3)
            out.update(f"{mod}.{n.strip()}"
                       for n in names.split(",") if n.strip())
        mod_globals = getattr(inspect.getmodule(fn), "__dict__", {})
        for name in re.findall(r"\b(\w+)\(", src):
            callee = mod_globals.get(name)
            if inspect.isfunction(callee) and callee is not fn:
                out |= llm_imports(callee, seen)
        return out

    assert BENCH_PLANS, "bench twin registry is empty"
    for prod_name, prod_fn in BENCH_PLANS.items():
        assert prod_name.endswith("_prod"), prod_name
        gate_name = prod_name[: -len("_prod")]
        assert gate_name in gate.QUERIES, (
            f"{prod_name} has no hash-verified gate twin {gate_name}")
        assert gate_name in gate.ORACLES, (
            f"gate twin {gate_name} carries no value-hash oracle")
        prod_ops = llm_imports(prod_fn)
        gate_ops = llm_imports(gate.QUERIES[gate_name])
        assert prod_ops, f"{prod_name} imports no llm operator entry points"
        extra = prod_ops - gate_ops
        assert not extra, (
            f"{prod_name} uses operator entry points its gate twin never "
            f"verified: {sorted(extra)}")
