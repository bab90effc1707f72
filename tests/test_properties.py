"""Property-based tests (hypothesis) for the custom operators whose
invariants must hold on arbitrary inputs, not just the bench shapes."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

_SETTINGS = dict(deadline=None, max_examples=12,
                 suppress_health_check=[HealthCheck.function_scoped_fixture])


@settings(**_SETTINGS)
@given(
    lens=st.lists(st.integers(min_value=0, max_value=37), min_size=1, max_size=24),
    seq_len=st.integers(min_value=1, max_value=19),
    dup_every=st.integers(min_value=2, max_value=5),
)
def test_pack_sequences_invariants(spark, lens, seq_len, dup_every):
    """For ANY doc-length multiset (zero lengths, duplicate ids) and any
    seq_len: slices tile each sequence exactly; per-row coverage equals
    the row's length; offsets never overlap."""
    from tally_database_loader_spark.llm.packing import pack_sequences
    rows = [("s", f"d-{i // dup_every}", n) for i, n in enumerate(lens)]
    docs = spark.createDataFrame(rows, "shard string, doc_id string, n long")
    out = pack_sequences(docs, "shard", "doc_id", "n", seq_len=seq_len).collect()
    total = sum(n for n in lens)
    # per-sequence tiling
    per_seq = {}
    for r in out:
        assert 0 <= r.seq_pos < seq_len
        assert 0 <= r.tok_from < r.tok_to
        per_seq[r.seq_idx] = per_seq.get(r.seq_idx, 0) + (r.tok_to - r.tok_from)
    if total == 0:
        assert out == []
        return
    n_seqs = (total + seq_len - 1) // seq_len
    assert set(per_seq) == set(range(n_seqs))
    for s in range(n_seqs - 1):
        assert per_seq[s] == seq_len
    assert per_seq[n_seqs - 1] == total - (n_seqs - 1) * seq_len
    # total coverage
    assert sum(r.tok_to - r.tok_from for r in out) == total


@settings(**_SETTINGS)
@given(
    events=st.lists(st.tuples(st.integers(0, 50), st.integers(0, 9)),
                    min_size=0, max_size=30),
    queries=st.lists(st.tuples(st.integers(0, 50), st.integers(0, 9)),
                     min_size=1, max_size=15),
)
def test_asof_join_matches_naive(spark, events, queries):
    """asof_join == the naive per-query max-ts-not-after lookup for ANY
    event/query multiset (ties included)."""
    from tally_database_loader_spark.operators.asof import asof_join
    ev = spark.createDataFrame(
        [(k, t, f"v{t}@{k}#{i}") for i, (t, k) in enumerate(events)],
        "key int, ts int, payload string")
    qr = spark.createDataFrame(
        [(k, t, i) for i, (t, k) in enumerate(queries)],
        "key int, ts int, qid int")
    got = {r.qid: r.payload
           for r in asof_join(qr, ev, keys=["key"], left_ts="ts",
                              right_ts="ts", value_cols=["payload"],
                              tiebreak="payload").collect()}
    for i, (t, k) in enumerate(queries):
        cands = [(et, p) for j, (et, ek) in enumerate(events)
                 for p in [f"v{et}@{ek}#{j}"] if ek == k and et <= t]
        expect = max(cands)[1] if cands else None
        assert got.get(i) == expect, (i, t, k, got.get(i), expect)


@settings(**_SETTINGS)
@given(
    points=st.lists(st.integers(0, 60), min_size=0, max_size=25),
    ivals=st.lists(st.tuples(st.integers(0, 60), st.integers(0, 20)),
                   min_size=0, max_size=15),
    width=st.integers(1, 25),
)
def test_range_join_matches_naive(spark, points, ivals, width):
    """Grid-cell range join == the naive theta join for ANY point set,
    interval set (incl. empty/degenerate) and bucket width."""
    from tally_database_loader_spark.operators.range_join import range_join
    pts = spark.createDataFrame([(i, p) for i, p in enumerate(points)],
                                "pid int, x int")
    iv = spark.createDataFrame(
        [(j, s, s + d) for j, (s, d) in enumerate(ivals)],
        "iid int, lo int, hi int")
    got = sorted((r.pid, r.iid) for r in
                 range_join(pts, iv, "x", "lo", "hi",
                            bucket_width=width).collect())
    expect = sorted((i, j) for i, p in enumerate(points)
                    for j, (s, d) in enumerate(ivals) if s <= p <= s + d)
    assert got == expect


@settings(**_SETTINGS)
@given(
    groups=st.lists(st.sampled_from(["a", "b", "c", "d", "e"]),
                    min_size=1, max_size=30),
    fracs=st.sampled_from([
        {"train": 0.8, "valid": 0.1, "test": 0.1},
        {"train": 0.5, "test": 0.5},
        {"x": 0.25, "y": 0.25, "z": 0.5},
    ]),
)
def test_group_split_properties(spark, groups, fracs):
    """For ANY group multiset and fraction map: every row gets a split
    from the map, every group maps to exactly one split, and the split
    of a group is independent of which other rows exist."""
    from tally_database_loader_spark.llm.packing import group_split
    rows = [(i, g) for i, g in enumerate(groups)]
    d = spark.createDataFrame(rows, "doc_id long, grp string")
    got = group_split(d, "grp", dict(fracs)).collect()
    assert len(got) == len(rows)
    by_grp = {}
    for r in got:
        assert r.split in fracs
        by_grp.setdefault(r.grp, set()).add(r.split)
    assert all(len(v) == 1 for v in by_grp.values())
    # subset invariance: a one-row frame assigns the same split
    for g, splits in by_grp.items():
        solo = group_split(
            spark.createDataFrame([(0, g)], "doc_id long, grp string"),
            "grp", dict(fracs)).collect()[0].split
        assert {solo} == splits


@settings(**_SETTINGS)
@given(words=st.lists(
    st.text(alphabet="abcxyz019", min_size=1, max_size=8),
    min_size=1, max_size=25))
def test_bpe_pair_counts_matches_reference(spark, words):
    """BPE pair counts over ANY word multiset equal the per-occurrence
    python fold (the vocabulary-weighted rewrite is exact, not an
    approximation)."""
    from collections import Counter
    from tally_database_loader_spark.llm.lm import bpe_pair_counts
    text = " ".join(words)
    d = spark.createDataFrame([(0, text)], "doc_id long, text string")
    got = {(r.a, r.b): r.n_pairs
           for r in bpe_pair_counts(d, "text", top_k=10_000).collect()}
    ref: Counter = Counter()
    for w in words:
        for i in range(len(w) - 1):
            ref[(w[i], w[i + 1])] += 1
    assert got == dict(ref)


@settings(**_SETTINGS)
@given(
    texts=st.lists(st.text(alphabet="ab x", min_size=0, max_size=20),
                   min_size=1, max_size=12),
)
def test_bigram_logprob_total_mass_and_nulls(spark, texts):
    """For ANY corpus: docs with <2 tokens score NULL with 0 bigrams;
    scoring is total (every doc returns exactly one row); and scores are
    ≤ 0 (smoothed probabilities never exceed 1)."""
    from tally_database_loader_spark.llm.lm import bigram_logprob
    rows = list(enumerate(texts))
    d = spark.createDataFrame(rows, "doc_id long, text string")
    import re
    got = {r.doc_id: r for r in bigram_logprob(d).collect()}
    assert set(got) == {i for i, _ in rows}
    for i, t in rows:
        # engine tokenizer: [a-z0-9]+ — recompute with the same rule
        toks = re.findall(r"[a-z0-9]+", t.lower())
        r = got[i]
        if len(toks) < 2:
            assert r.n_bigrams == 0 and r.lm2_score is None
        else:
            assert r.n_bigrams == len(toks) - 1
            assert r.lm2_score <= 0.0


@pytest.mark.slow  # driver-window budget (VERDICT r11 #1 / ADVICE r11); runs under SPARK_GRAFT_RUN_SLOW=1
def test_ln_fixed_exhaustive(spark):
    """The three renderings of the fixed-point ln (staged Spark
    projections, DuckDB SQL, Python reference) produce the IDENTICAL
    int64 over the ENTIRE [1, 2^20] domain (compared via exact
    count+sum+xor checksums — any single differing value breaks at least
    the xor), and the value tracks true ln within 2e-6."""
    import math
    from functools import reduce

    import duckdb

    from tally_database_loader_spark.functions.fixmath import (
        LN_SCALE, dd_ln_fixed, ln_fixed_py, ln_fixed_staged)

    top = 1 << 20
    py_vals = [ln_fixed_py(v) for v in range(1, top + 1)]
    # accuracy vs libm (spot the ends + a stride — full domain is slow)
    for v in list(range(1, 2050)) + list(range(1, top + 1, 997)) + [top]:
        assert abs(py_vals[v - 1] / LN_SCALE - math.log(v)) < 2e-6
    want = (len(py_vals), sum(py_vals), reduce(lambda a, b: a ^ b, py_vals))

    df = ln_fixed_staged(spark.range(1, top + 1), F.col("id"), "lnf")
    row = df.agg(F.count("*").alias("n"), F.sum("lnf").alias("s"),
                 F.expr("bit_xor(lnf)").alias("x")).first()
    assert (row["n"], row["s"], row["x"]) == want

    con = duckdb.connect()
    d = con.sql(
        "SELECT COUNT(*) AS n, CAST(SUM(lnf) AS BIGINT) AS s, "
        "CAST(bit_xor(lnf) AS BIGINT) AS x FROM ("
        + dd_ln_fixed(f"SELECT range AS v FROM range(1, {top + 1})")
        + ")").fetchone()
    assert tuple(d) == want


@given(
    sizes=st.lists(st.integers(min_value=1, max_value=60), min_size=1,
                   max_size=3),
    cap=st.integers(min_value=3, max_value=20),
)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@pytest.mark.slow  # 6 hypothesis examples × a full Lloyd fit ≈ 66 s; the
# cell_cap pair-stage bound stays default-tested on the bench corpus by
# tests/test_llm.py::test_semantic_dedup_cell_cap_bounds_pair_stage
def test_semantic_cell_cap_properties(spark, sizes, cap):
    """Round-5 hot-cluster guard, property-checked: for ANY corpus shape
    and cap, (a) the pair stage is bounded — every (cell, sub) bucket
    stays within a small constant of the cap (keyed-md5 splits are
    near-uniform), (b) the uncapped survivor set is a subset of the
    capped one (capping only ever compares FEWER pairs), and (c) the
    guard is a no-op when no cell exceeds the cap."""
    from pyspark.sql import functions as F
    from tally_database_loader_spark.llm.similarity import (semantic_cells,
                                                            semantic_dedup)
    rows, vid = [], 0
    for gi, n in enumerate(sizes):
        for _ in range(n):
            # one tight direction per group → groups tend to share cells
            rows.append((vid, [1.0 + gi, 0.5 * gi, 1.0, 0.0 + vid * 1e-7]))
            vid += 1
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned, key = semantic_cells(e, n_lists=2, iters=1, cell_cap=cap)
    counts = [r.c for r in assigned.groupBy(*key)
              .agg(F.count(F.lit(1)).alias("c")).collect()]
    if key == ["cell"]:
        assert all(c <= cap for c in counts), "guard skipped past-cap cell"
    else:
        # hash sub-buckets: expected size ≤ cap; allow 3x + 8 slack for
        # small-sample hash variance (the bound that matters is that no
        # bucket is ever ~quadratic, i.e. anywhere near the corpus size)
        assert all(c <= 3 * cap + 8 for c in counts), counts
    kept_capped = {r.vec_id for r in semantic_dedup(
        e, threshold=0.99, n_lists=2, iters=1, cell_cap=cap).collect()}
    kept_plain = {r.vec_id for r in semantic_dedup(
        e, threshold=0.99, n_lists=2, iters=1).collect()}
    assert kept_plain <= kept_capped


@given(
    target=st.dictionaries(st.integers(0, 12), st.integers(0, 99),
                           min_size=0, max_size=8),
    new=st.dictionaries(st.integers(0, 12), st.integers(0, 99),
                        min_size=0, max_size=8),
    touched=st.sets(st.integers(0, 12), min_size=0, max_size=8),
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_scoped_commit_contract(spark, tmp_path_factory, target, new,
                                touched):
    """``ParquetStore.write_scoped``, property-checked for ANY (target,
    new-content, touched) shape: committing ``scoped_base``'s rows with
    the touched keys' new content in their place must leave exactly
    {untouched target rows} ∪ {new rows for touched keys}."""
    from tally_database_loader_spark.operators.incremental import (
        ParquetStore)
    store = ParquetStore(str(tmp_path_factory.mktemp("scoped")),
                         n_buckets=4)
    schema = "guid int, v int"
    store.write(spark.createDataFrame(sorted(target.items()), schema), "t")
    tdf = spark.createDataFrame([(k,) for k in sorted(touched)], "k int")
    edits = spark.createDataFrame(
        [(k, new[k]) for k in sorted(touched) if k in new], schema)
    df = (store.scoped_base(spark, "t", tdf)
          .join(tdf.withColumnRenamed("k", "guid"), "guid", "left_anti")
          .unionByName(edits))
    store.write_scoped(df, "t", tdf)
    got = {r["guid"]: r["v"] for r in store.read(spark, "t").collect()}
    want = {k: v for k, v in target.items() if k not in touched}
    want.update({k: new[k] for k in touched if k in new})
    assert got == want
