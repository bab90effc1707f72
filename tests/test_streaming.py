"""Streaming-mode tests (SURVEY §2.H): session windows and the stateful
streaming operators match their batch twins across micro-batches."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F


def test_sessionize_stream_matches_batch(spark, tmp_path):
    from tally_database_loader_spark.streaming.continuous import sessionize
    rows = []
    for u in (1, 2):
        # burst A (3 events), 40-min silence, burst B (2 events)
        for m in (0, 5, 10):
            rows.append((datetime.datetime(2024, 1, 1, 9, m), u))
        for m in (50, 55):
            rows.append((datetime.datetime(2024, 1, 1, 9, m), u))
        # late flush event advances the watermark past both sessions'
        # close, so append mode finalizes them
        rows.append((datetime.datetime(2024, 1, 1, 12, 0), u))
    batch = spark.createDataFrame(rows, "ts timestamp, user_id int")
    src_dir = str(tmp_path / "ev")
    batch.write.parquet(src_dir)

    closed = batch.filter("ts < timestamp '2024-01-01 10:00:00'")
    want = sorted(tuple(str(x) for x in r)
                  for r in sessionize(closed, gap="30 minutes").collect())
    assert len(want) == 4                      # 2 users × 2 sessions

    stream = (spark.readStream.schema("ts timestamp, user_id int")
              .parquet(src_dir))
    q = (sessionize(stream, gap="30 minutes", watermark="1 minute")
         .writeStream.format("memory").queryName("sess")
         .outputMode("append")                 # emits watermark-closed sessions
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = sorted(tuple(str(x) for x in r)
                 for r in spark.sql("select * from sess").collect())
    assert got == want


def test_stateful_running_totals_across_batches(spark, tmp_path):
    """applyInPandasWithState keeps per-key state across micro-batches and
    across query restarts (checkpoint recovery)."""
    from tally_database_loader_spark.streaming.stateful import running_totals
    src = str(tmp_path / "feed")
    ck = str(tmp_path / "ck")
    d1 = spark.createDataFrame([(1, 10.0), (1, 5.0), (2, 7.0)],
                               "user_id bigint, value double")
    d2 = spark.createDataFrame([(1, 1.0), (2, 2.0), (3, 4.0)],
                               "user_id bigint, value double")

    def run_once():
        # foreachBatch sink: checkpoint-recoverable (memory sink is not)
        out: list = []
        stream = (spark.readStream
                  .schema("user_id bigint, value double").parquet(src))
        q = (running_totals(stream)
             .writeStream.foreachBatch(
                 lambda df, _id: out.extend(df.collect()))
             .outputMode("update")
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return {r["key"]: (r["n_events"], r["total"]) for r in out}

    d1.write.mode("append").parquet(src)
    assert run_once() == {1: (2, 15.0), 2: (1, 7.0)}

    d2.write.mode("append").parquet(src)
    # restart from checkpoint: state must resume, not reset
    assert run_once() == {1: (3, 16.0), 2: (2, 9.0), 3: (1, 4.0)}


def test_streaming_dedup_first_wins_across_batches(spark, tmp_path):
    """Streaming exact dedup: the keeper for a fingerprint is stable across
    micro-batches and restarts; duplicate counts accumulate."""
    from tally_database_loader_spark.streaming.stateful import streaming_dedup
    src = str(tmp_path / "docs")
    ck = str(tmp_path / "ck")

    def run_once():
        out: list = []
        stream = (spark.readStream
                  .schema("fingerprint string, doc_id bigint").parquet(src))
        q = (streaming_dedup(stream)
             .writeStream.foreachBatch(
                 lambda df, _id: out.extend(df.collect()))
             .outputMode("update")
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return {r["fingerprint"]: (r["doc_id"], r["dup_count"]) for r in out}

    spark.createDataFrame([("fa", 1), ("fa", 2), ("fb", 3)],
                          "fingerprint string, doc_id bigint") \
         .write.mode("append").parquet(src)
    got = run_once()
    assert got == {"fa": (1, 1), "fb": (3, 0)}

    # second batch: fa's keeper must remain 1 even though only doc 9 arrives
    spark.createDataFrame([("fa", 9), ("fc", 4)],
                          "fingerprint string, doc_id bigint") \
         .write.mode("append").parquet(src)
    got = run_once()
    assert got == {"fa": (1, 2), "fc": (4, 0)}


def test_streaming_dedup_keeper_spans_arrow_chunks(spark, tmp_path):
    """A large group arrives as multiple Arrow chunks; the keeper must be
    the min across ALL of them, not chunk 1's min (chunk boundaries are
    partitioning-dependent, so anything else is retry-unstable)."""
    from tally_database_loader_spark.streaming.stateful import streaming_dedup
    src = str(tmp_path / "docs")
    ck = str(tmp_path / "ck")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        # one fingerprint, 6 rows, min id (1) deliberately NOT first —
        # with 2-row chunks the keeper election must cross chunks
        rows = [("fx", i) for i in (7, 5, 9, 1, 8, 6)]
        spark.createDataFrame(rows, "fingerprint string, doc_id bigint") \
             .coalesce(1).write.mode("append").parquet(src)
        out: list = []
        stream = (spark.readStream
                  .schema("fingerprint string, doc_id bigint").parquet(src))
        q = (streaming_dedup(stream)
             .writeStream.foreachBatch(
                 lambda df, _id: out.extend(df.collect()))
             .outputMode("update")
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        got = {r["fingerprint"]: (r["doc_id"], r["dup_count"]) for r in out}
        assert got == {"fx": (1, 5)}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_hll_registers_stream_equals_batch(spark, tmp_path):
    """The HLL register table is a distributive max-aggregate, so the
    SAME hll_registers plan runs as a streaming query (complete mode) —
    continuous distinct-count telemetry with 2^b rows of state — and its
    registers equal the batch sketch over the same data."""
    from tally_database_loader_spark.llm.sketch import hll_registers
    src = str(tmp_path / "vals")
    rows = [(f"v{i % 300}",) for i in range(1500)]
    batch = spark.createDataFrame(rows, "v string")
    batch.write.parquet(src)
    want = sorted(map(tuple, hll_registers(batch, "v", b=10).collect()))
    stream = spark.readStream.schema("v string").parquet(src)
    q = (hll_registers(stream, "v", b=10)
         .writeStream.format("memory").queryName("hllreg")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = sorted(tuple(r) for r in spark.sql("select * from hllreg").collect())
    assert got == want


def test_cms_sketch_stream_equals_batch(spark, tmp_path):
    """The count-min sketch is a distributive integer sum over salted
    (r, bkt) coordinates, so the SAME cms_build plan runs as a streaming
    query (complete mode) — continuous frequency telemetry with ≤ d·w
    rows of state — and the streamed sketch equals the batch sketch over
    the same data (VERDICT r2 'Next round' #8)."""
    from tally_database_loader_spark.llm.sketch import cms_build
    src = str(tmp_path / "vals")
    rows = [(f"v{i % 150}",) for i in range(1200)] + [(None,)] * 7
    batch = spark.createDataFrame(rows, "v string")
    batch.write.parquet(src)
    want = sorted(map(tuple, cms_build(batch, "v", d=4, w=256).collect()))
    stream = spark.readStream.schema("v string").parquet(src)
    q = (cms_build(stream, "v", d=4, w=256)
         .writeStream.format("memory").queryName("cmsreg")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = sorted(tuple(r) for r in spark.sql("select * from cmsreg").collect())
    assert got == want


def test_band_signatures_match_batch_minhash(spark):
    """The streaming path's map-side band signatures (array_min over
    transformed shingle hashes — no explode/groupBy) must equal the batch
    groupBy signature table bucket-for-bucket."""
    from pyspark.sql import functions as F

    from tally_database_loader_spark.llm.dedup import minhash_signature_table
    from tally_database_loader_spark.sources.catalog import load_table
    from tally_database_loader_spark.streaming.stateful import band_signatures

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    batch = minhash_signature_table(d, "doc_id", "text")
    bexp = {(r.doc_id, j): ",".join(str(r[f"mh{j*4+i}"]) for i in range(4))
            for r in batch.collect() for j in range(4)}
    stream_style = (d.select("doc_id",
                             F.explode(band_signatures("text"))
                              .alias("b"))
                     .select("doc_id", "b.band", "b.bsig")
                     .filter(F.col("bsig") != ""))
    sgot = {(r.doc_id, r.band): r.bsig for r in stream_style.collect()}
    assert sgot == bexp


def test_streaming_near_dedup_stars_and_stable_keeper(spark, tmp_path):
    """Near-identical documents arriving in different micro-batches emit a
    candidate pair against the bucket's stable representative; distinct
    documents emit nothing; restarts keep the representative."""
    from tally_database_loader_spark.streaming.stateful import streaming_near_dedup

    src = str(tmp_path / "docs")
    ck = str(tmp_path / "ck")
    text_a = "the quick brown fox jumps over the lazy dog again and again"
    text_c = "completely unrelated legal boilerplate about parquet files"

    def run_once():
        out: list = []
        # non-default id/text column names: regression for the grouped
        # frame carrying the ALIASED id column, not the caller's name
        stream = (spark.readStream
                  .schema("my_id bigint, body string").parquet(src))
        q = (streaming_near_dedup(stream, id_col="my_id", text_col="body")
             .writeStream.foreachBatch(
                 lambda df, _id: out.extend(df.collect()))
             .outputMode("update")
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return {(r.d1, r.d2) for r in out}

    spark.createDataFrame([(1, text_a), (3, text_c)],
                          "my_id bigint, body string") \
         .write.mode("append").parquet(src)
    assert run_once() == set()  # no bucket has two members yet

    # doc 2 shares every shingle with doc 1 -> same buckets -> pair (1, 2);
    # keeper stayed 1 across the restart from checkpoint
    spark.createDataFrame([(2, text_a), (4, text_a + " woof")],
                          "my_id bigint, body string") \
         .write.mode("append").parquet(src)
    stars = run_once()
    assert (1, 2) in stars and (1, 4) in stars and (2, 4) not in stars

    # downstream verification through minhash_stream_verify equals the
    # batch pipeline exactly (pairs AND jaccard values) — r9, the
    # MinHash twin of fp_stream_verify's component-wise guarantee
    from tally_database_loader_spark.llm.dedup import (
        minhash_near_duplicates)
    from tally_database_loader_spark.streaming.stateful import (
        minhash_stream_verify)
    all_docs = spark.createDataFrame(
        [(1, text_a), (2, text_a), (3, text_c), (4, text_a + " woof")],
        "my_id bigint, body string")
    cand = spark.createDataFrame(sorted(stars), "d1 bigint, d2 bigint")
    got = {(r["d1"], r["d2"]): round(r["jaccard"], 12)
           for r in minhash_stream_verify(
               cand, all_docs, id_col="my_id", text_col="body").collect()}
    want = {(r["d1"], r["d2"]): round(r["jaccard"], 12)
            for r in minhash_near_duplicates(
                all_docs, "my_id", "body", threshold=0.7).collect()}
    assert got == want and (1, 2) in want

    import pytest
    with pytest.raises(ValueError):
        from tally_database_loader_spark.streaming.stateful import band_signatures
        band_signatures(F.lit("x"), k=16, bands=5)


def test_bloom_positions_stream_equals_batch(spark, tmp_path):
    """Bloom completes the streaming sketch family (VERDICT r3 #4): the
    position table is a distinct over bounded coordinates (≤ m rows of
    state), which Structured Streaming runs as a stateful aggregation in
    complete mode — the SAME bloom_build plan streams, and the streamed
    bit-set equals the batch build over the same data. (Append mode would
    need a watermark to ever emit dropDuplicates results on an unbounded
    source; complete mode is the right shape for a ≤ m-row summary.)"""
    from tally_database_loader_spark.llm.sketch import bloom_build
    src = str(tmp_path / "vals")
    rows = [(f"v{i % 100}",) for i in range(900)] + [(None,)] * 5
    batch = spark.createDataFrame(rows, "v string")
    batch.write.parquet(src)
    want = sorted(r.pos for r in bloom_build(batch, "v", m=4096, k=4).collect())
    stream = spark.readStream.schema("v string").parquet(src)
    q = (bloom_build(stream, "v", m=4096, k=4)
         .writeStream.format("memory").queryName("bloomreg")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = sorted(r.pos for r in spark.sql("select * from bloomreg").collect())
    assert got == want and len(got) > 0


def test_stateful_operators_accept_string_keys(spark, tmp_path):
    """Review r4: output/state schemas must mirror the caller's key/id
    types — the docstring's own per-LEDGER example is string-keyed, and
    the previous hard-coded bigint schemas crashed on it."""
    from tally_database_loader_spark.streaming.stateful import (
        running_totals, streaming_dedup)
    src = str(tmp_path / "feed")
    spark.createDataFrame(
        [("Cash", 10.0), ("Cash", 5.0), ("Bank", 7.0)],
        "ledger string, value double").write.parquet(src)
    stream = spark.readStream.schema("ledger string, value double").parquet(src)
    out: list = []
    q = (running_totals(stream, key_col="ledger")
         .writeStream.foreachBatch(lambda df, _id: out.extend(df.collect()))
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ck1"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert {r["key"]: (r["n_events"], r["total"]) for r in out} \
        == {"Cash": (2, 15.0), "Bank": (1, 7.0)}

    dsrc = str(tmp_path / "docs")
    spark.createDataFrame(
        [("fp1", "doc-b"), ("fp1", "doc-a"), ("fp2", "doc-c")],
        "fingerprint string, doc_id string").write.parquet(dsrc)
    dstream = spark.readStream.schema(
        "fingerprint string, doc_id string").parquet(dsrc)
    dout: list = []
    q = (streaming_dedup(dstream)
         .writeStream.foreachBatch(lambda df, _id: dout.extend(df.collect()))
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ck2"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {r["fingerprint"]: (r["doc_id"], r["dup_count"]) for r in dout}
    assert got == {"fp1": ("doc-a", 1), "fp2": ("doc-c", 0)}  # min-wins


def test_streaming_fp_near_dedup_connectivity_matches_batch(spark, tmp_path):
    """The streaming fingerprint near-dup arm: candidate star pairs per
    band bucket, keeper stable across micro-batches, and the streamed
    candidate graph's connected components EQUAL the batch banded
    join's candidate components (connectivity equivalence — what
    clustering consumes). NULL hashes pass through unexamined."""
    import numpy as np
    from tally_database_loader_spark.llm.multimodal import (
        ahash_near_duplicates)
    from tally_database_loader_spark.streaming.stateful import (
        streaming_fp_near_dedup)

    def row(doc_id, h):
        u = h & 0xFFFFFFFFFFFFFFFF
        return (doc_id, int(np.uint64(u).astype(np.int64)),
                u & 0xFFFF, (u >> 16) & 0xFFFF,
                (u >> 32) & 0xFFFF, (u >> 48) & 0xFFFF)

    base = 0x1234FEDCBA987654
    batch1 = [row(1, base), row(2, base ^ (1 << 5)), row(5, 0)]
    batch2 = [row(3, base ^ (1 << 21)), row(4, base),
              (6, None, None, None, None, None)]
    schema = "doc_id long, ahash long, b0 int, b1 int, b2 int, b3 int"
    src = str(tmp_path / "hashes")
    ck = str(tmp_path / "ck")

    def run_once():
        out: list = []
        stream = spark.readStream.schema(schema).parquet(src)
        q = (streaming_fp_near_dedup(stream)
             .writeStream.foreachBatch(
                 lambda df, _id: out.extend(df.collect()))
             .outputMode("update")
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return out

    spark.createDataFrame(batch1, schema).write.mode("append").parquet(src)
    first = run_once()
    # docs 1 and 2 share three untouched bands; doc 5 opens its own
    # buckets and pairs with nobody
    assert {(r["d1"], r["d2"]) for r in first} == {(1, 2)}

    spark.createDataFrame(batch2, schema).write.mode("append").parquet(src)
    second = run_once()
    pairs = {(r["d1"], r["d2"]) for r in first + second}
    # keeper stability: doc 1 (batch 1) stays the representative; 3 and
    # 4 star onto it, never onto each other
    assert (1, 3) in pairs and (1, 4) in pairs and (3, 4) not in pairs

    # connectivity equivalence vs the batch banded join's candidates
    # (compare components, not edges: streaming emits a star per bucket)
    all_rows = [r for r in batch1 + batch2 if r[1] is not None]
    bdf = spark.createDataFrame(all_rows, schema)
    batch_pairs = {(r["id_a"], r["id_b"])
                   for r in ahash_near_duplicates(bdf, max_hamming=3)
                   .collect()}

    def components(edges, nodes):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        comp = {}
        for n in nodes:
            comp.setdefault(find(n), set()).add(n)
        return {frozenset(v) for v in comp.values()}

    nodes = {r[0] for r in all_rows}
    # streaming candidates through the documented downstream verify —
    # fp_stream_verify's membership-restricted band join, NOT a pairwise
    # filter of the star edges (edge-wise is not batch-equivalent: see
    # test_fp_stream_verify_component_wise_end_to_end) — must reproduce
    # the batch pair set exactly, hamming values included
    from tally_database_loader_spark.streaming.stateful import (
        fp_stream_verify)
    cand_df = spark.createDataFrame(
        [(r["d1"], r["d2"]) for r in first + second], "d1 long, d2 long")
    verified = {(r["id_a"], r["id_b"]): r["hamming"]
                for r in fp_stream_verify(cand_df, bdf).collect()}
    batch_full = {(r["id_a"], r["id_b"]): r["hamming"]
                  for r in ahash_near_duplicates(bdf, max_hamming=3)
                  .collect()}
    assert verified == batch_full
    assert components(set(verified), nodes) == components(batch_pairs, nodes)


@pytest.mark.slow  # heavy recurrence — driver-window budget, VERDICT r11 #1; runs under SPARK_GRAFT_RUN_SLOW=1
def test_fp_stream_verify_component_wise_end_to_end(spark, tmp_path):
    """End-to-end stream→batch cluster equality on the ADVICE-r8
    adversarial configuration: a bucket keeper K sits Hamming > 3 from
    two co-members M1, M2 that are within 3 of EACH OTHER and share no
    other bucket. Edge-wise filtering of the star edges drops both
    (through-the-keeper distances 6 and 9) and loses the true pair;
    fp_stream_verify's component-wise (membership-restricted band join)
    verification recovers it, and the final clusters equal the all-batch
    pipeline's — for both the image (ahash) and audio (fp) modalities."""
    import numpy as np
    from tally_database_loader_spark.llm.dedup import dup_clusters
    from tally_database_loader_spark.llm.multimodal import (
        ahash_near_duplicates)
    from tally_database_loader_spark.streaming.stateful import (
        fp_stream_verify, streaming_fp_near_dedup)

    K = 0
    M1 = (1 << 16) | (1 << 17) | (1 << 32) | (1 << 33) | (1 << 48) | (1 << 49)
    # M2 differs from M1 by ONE bit in each of bands 1..3: hamming 3,
    # but all three nonzero bands differ, so the ONLY shared bucket is
    # band 0 (value 0) — the bucket K keeps
    M2 = M1 ^ (1 << 18) ^ (1 << 34) ^ (1 << 50)
    assert bin(M1 ^ M2).count("1") == 3
    assert bin(K ^ M1).count("1") == 6 and bin(K ^ M2).count("1") == 9

    def row(doc_id, h):
        return (doc_id, int(np.uint64(h).astype(np.int64)),
                h & 0xFFFF, (h >> 16) & 0xFFFF,
                (h >> 32) & 0xFFFF, (h >> 48) & 0xFFFF)

    for hash_col in ("ahash", "fp"):
        schema = f"doc_id long, {hash_col} long, b0 int, b1 int, " \
                 f"b2 int, b3 int"
        src = str(tmp_path / f"hashes_{hash_col}")
        ck = str(tmp_path / f"ck_{hash_col}")
        out: list = []

        def run_once():
            stream = spark.readStream.schema(schema).parquet(src)
            q = (streaming_fp_near_dedup(stream, hash_col=hash_col)
                 .writeStream.foreachBatch(
                     lambda df, _id: out.extend(df.collect()))
                 .outputMode("update")
                 .option("checkpointLocation", ck)
                 .trigger(availableNow=True).start())
            q.awaitTermination()

        # K arrives first (becomes the band-0 bucket keeper), M1/M2 later
        spark.createDataFrame([row(1, K)], schema) \
             .write.mode("append").parquet(src)
        run_once()
        spark.createDataFrame([row(2, M1), row(3, M2)], schema) \
             .write.mode("append").parquet(src)
        run_once()

        star = {(r["d1"], r["d2"]) for r in out}
        assert star == {(1, 2), (1, 3)}, star
        # the hazard is real: every star edge fails a pairwise Hamming
        # filter, so edge-wise verification would emit NOTHING
        hmap = {1: K, 2: M1, 3: M2}
        assert all(bin(hmap[a] ^ hmap[b]).count("1") > 3 for a, b in star)

        hashes = spark.createDataFrame(
            [row(1, K), row(2, M1), row(3, M2)], schema)
        cand = spark.createDataFrame(sorted(star), "d1 long, d2 long")
        verified = fp_stream_verify(cand, hashes, hash_col=hash_col)
        got_pairs = {(r["id_a"], r["id_b"]): r["hamming"]
                     for r in verified.collect()}
        assert got_pairs == {(2, 3): 3}

        # final clusters equal the all-batch pipeline's
        stream_clusters = {(r["doc_id"], r["cluster_id"])
                           for r in dup_clusters(
                               verified.select("id_a", "id_b"),
                               id_cols=("id_a", "id_b")).collect()}
        batch_clusters = {(r["doc_id"], r["cluster_id"])
                          for r in dup_clusters(
                              ahash_near_duplicates(
                                  hashes, max_hamming=3,
                                  hash_col=hash_col)
                              .select("id_a", "id_b"),
                              id_cols=("id_a", "id_b")).collect()}
        assert stream_clusters == batch_clusters == {(2, 2), (3, 2)}


@pytest.mark.slow  # heavy recurrence — driver-window budget, VERDICT r11 #1; runs under SPARK_GRAFT_RUN_SLOW=1
def test_streaming_incremental_clustering_foreachbatch(spark, tmp_path):
    """The multi-batch incremental-clustering recurrence driven through
    Structured Streaming (VERDICT r9 #4, the stream/batch gap): hash
    rows arrive as micro-batches; a foreachBatch sink maintains ONLY
    the label table and the corpus fingerprint index
    (incremental_fp_dedup probe → incremental_dup_clusters star
    re-entry), and after every micro-batch the maintained labels equal
    a from-scratch closure of everything seen so far. Same state shape
    as the batch gate incremental_fp_multibatch — the streaming arm is
    the same recurrence, fed by the engine's micro-batch boundaries."""
    import random

    import numpy as np
    from tally_database_loader_spark.llm.dedup import (
        dup_clusters, incremental_dup_clusters)
    from tally_database_loader_spark.llm.multimodal import (
        ahash_near_duplicates, fp_cluster_edges, incremental_fp_dedup)

    rng = random.Random(424242)
    base = [rng.getrandbits(64) for _ in range(5)]
    hashes = {}
    for d in range(1, 61):
        h = rng.choice(base)
        for _ in range(rng.randrange(6)):
            h ^= 1 << rng.randrange(64)
        hashes[d] = h

    def row(d, h):
        return (d, int(np.uint64(h).astype(np.int64)),
                h & 0xFFFF, (h >> 16) & 0xFFFF,
                (h >> 32) & 0xFFFF, (h >> 48) & 0xFFFF)

    schema = "doc_id long, ahash long, b0 int, b1 int, b2 int, b3 int"
    src = str(tmp_path / "hashes")
    ck = str(tmp_path / "ck")
    state = {"labels": None, "index": None}
    checked = {"batches": 0}

    def labelset(df):
        return {(r["doc_id"], r["cluster_id"]) for r in df.collect()}

    def absorb(df, _batch_id):
        batch = df.localCheckpoint(eager=True)
        if batch.isEmpty():
            return
        if state["index"] is None:
            state["labels"] = dup_clusters(
                fp_cluster_edges(batch, max_hamming=3),
                id_cols=("id_a", "id_b")).localCheckpoint(eager=True)
            state["index"] = batch
        else:
            new_edges = (incremental_fp_dedup(state["index"], batch,
                                              max_hamming=3)
                         .select("id_a", "id_b"))
            state["labels"] = incremental_dup_clusters(
                state["labels"], new_edges,
                id_cols=("id_a", "id_b")).localCheckpoint(eager=True)
            state["index"] = (state["index"].unionByName(batch)
                              .localCheckpoint(eager=True))
        # the identity holds at every micro-batch boundary
        want = dup_clusters(
            ahash_near_duplicates(state["index"], max_hamming=3),
            id_cols=("id_a", "id_b"))
        assert labelset(state["labels"]) == labelset(want), \
            f"stream batch {checked['batches']} diverged"
        checked["batches"] += 1

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (stream.writeStream.foreachBatch(absorb)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    # three micro-batches with deterministic boundaries
    for i in range(3):
        rows = [row(d, h) for d, h in hashes.items() if d % 3 == i]
        spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
        run_once()
    assert checked["batches"] == 3
    assert labelset(state["labels"]), "fixture produced no clusters"


@pytest.mark.slow  # heavy recurrence — driver-window budget, VERDICT r11 #1; runs under SPARK_GRAFT_RUN_SLOW=1
def test_streaming_cross_modal_union_state_foreachbatch(spark, tmp_path):
    """The FULL cross-modal recurrence through Structured Streaming
    (VERDICT r10 "Next round" #6): documents arrive as micro-batches;
    a foreachBatch sink maintains the flagship gate's COMPLETE union
    state — the text corpus feeding the MinHash band index (the
    production index persists the signature/band table, which derives
    deterministically from these docs — incremental_dedup's documented
    index argument), the three fingerprint indexes (image aHash, audio
    fp, video fp), and ONE label table. Per batch the new evidence is
    exactly the gate's (plans/llm_gate.py incremental_cross_modal_dedup,
    generalized to n batches): batch-involving MinHash pairs plus three
    incremental_fp_dedup band-index probes, merged by
    incremental_dup_clusters star re-entry. After EVERY micro-batch the
    maintained labels must equal the from-scratch batch closure
    (cross_modal_dedup's shape) over everything seen so far.

    A handcrafted chain pins why the UNION matters: 101–102 are text
    near-dups, 102–103 share an image hash, 103–104 share an audio
    fingerprint, 104–105 are video near-dups — five documents no
    single modality connects, asserted to land in ONE cluster, while
    the text-only closure provably separates them."""
    import random

    from tally_database_loader_spark.llm.dedup import (
        dup_clusters, incremental_dup_clusters, minhash_near_duplicates)
    from tally_database_loader_spark.llm.multimodal import (
        fp_cluster_edges, incremental_fp_dedup)

    rng = random.Random(20260816)
    words = [f"w{i:02d}" for i in range(40)]
    templates = [" ".join(rng.choice(words) for _ in range(24))
                 for _ in range(4)]

    def mutate(t, k):
        toks = t.split()
        for _ in range(k):
            toks[rng.randrange(len(toks))] = rng.choice(words)
        return " ".join(toks)

    texts = {}
    for d in range(1, 37):
        texts[d] = mutate(templates[d % 4], rng.randrange(3))
    # the cross-modal chain: text(101,102) — image(102,103) —
    # audio(103,104) — video(104,105); text deliberately disjoint
    # beyond 101/102 (different templates, heavy mutation)
    texts[101] = templates[0]
    texts[102] = templates[0].rsplit(" ", 1)[0] + " zz"
    texts[103] = mutate(templates[1], 8)
    texts[104] = mutate(templates[2], 8)
    texts[105] = mutate(templates[3], 8)

    def bands(h):
        return (h & 0xFFFF, (h >> 16) & 0xFFFF,
                (h >> 32) & 0xFFFF, (h >> 48) & 0xFFFF)

    def fp_rows(assign):
        import numpy as np
        return [(d, int(np.uint64(h).astype(np.int64)), *bands(h))
                for d, h in assign.items()]

    img, aud, vid = {}, {}, {}
    base = [rng.getrandbits(64) for _ in range(6)]
    for d in texts:
        if rng.random() < 0.7:
            h = rng.choice(base)
            for _ in range(rng.randrange(6)):
                h ^= 1 << rng.randrange(64)
            img[d] = h
        if rng.random() < 0.6:
            aud[d] = rng.getrandbits(64)
        if rng.random() < 0.6:
            vid[d] = rng.getrandbits(64)
    H_IMG, H_AUD, H_VID = (rng.getrandbits(64) for _ in range(3))
    img[102] = img[103] = H_IMG
    aud[103] = aud[104] = H_AUD
    vid[104] = H_VID
    vid[105] = H_VID ^ 0b101        # hamming 2 <= 3
    for d in (101, 105):
        img.pop(d, None)
    for d in (101, 102, 105):
        aud.pop(d, None)
    for d in (101, 102, 103):
        vid.pop(d, None)

    fschema = "doc_id long, fp long, b0 int, b1 int, b2 int, b3 int"
    hs_all = {
        "img": spark.createDataFrame(fp_rows(img), fschema),
        "aud": spark.createDataFrame(fp_rows(aud), fschema),
        "vid": spark.createDataFrame(fp_rows(vid), fschema),
    }

    def text_edges(docs_df, restrict_ids=None):
        pairs = minhash_near_duplicates(docs_df, "doc_id", "text",
                                        threshold=0.7, k=16, bands=4, n=3)
        if restrict_ids is not None:
            pairs = pairs.filter(F.col("d1").isin(restrict_ids)
                                 | F.col("d2").isin(restrict_ids))
        return pairs.select(F.col("d1").alias("id_a"),
                            F.col("d2").alias("id_b"))

    def batch_closure(docs_df, hs):
        edges = text_edges(docs_df)
        for m in ("img", "aud", "vid"):
            edges = edges.unionByName(
                fp_cluster_edges(hs[m], max_hamming=3, hash_col="fp"))
        return dup_clusters(edges, id_cols=("id_a", "id_b"))

    def labelset(df):
        return {(r["doc_id"], r["cluster_id"]) for r in df.collect()}

    state = {"docs": None, "img": None, "aud": None, "vid": None,
             "labels": None}
    checked = {"batches": 0}

    def absorb(df, _batch_id):
        batch_docs = df.localCheckpoint(eager=True)
        if batch_docs.isEmpty():
            return
        ids = [r["doc_id"] for r in batch_docs.select("doc_id").collect()]
        batch_hs = {m: hs_all[m].filter(F.col("doc_id").isin(ids))
                      .localCheckpoint(eager=True)
                    for m in ("img", "aud", "vid")}
        if state["docs"] is None:
            state["labels"] = batch_closure(batch_docs, batch_hs) \
                .localCheckpoint(eager=True)
            state["docs"] = batch_docs
            for m in ("img", "aud", "vid"):
                state[m] = batch_hs[m]
        else:
            # batch-involving text pairs over index ∪ batch (the corpus
            # signature table is the persisted index in production)
            union_docs = state["docs"].unionByName(batch_docs)
            new_edges = text_edges(union_docs, restrict_ids=ids)
            for m in ("img", "aud", "vid"):
                new_edges = new_edges.unionByName(
                    incremental_fp_dedup(state[m], batch_hs[m],
                                         max_hamming=3, hash_col="fp")
                    .select("id_a", "id_b"))
            state["labels"] = incremental_dup_clusters(
                state["labels"], new_edges,
                id_cols=("id_a", "id_b")).localCheckpoint(eager=True)
            state["docs"] = union_docs.localCheckpoint(eager=True)
            for m in ("img", "aud", "vid"):
                state[m] = (state[m].unionByName(batch_hs[m])
                            .localCheckpoint(eager=True))
        # the identity holds at every micro-batch boundary
        want = batch_closure(state["docs"],
                             {m: state[m] for m in ("img", "aud", "vid")})
        assert labelset(state["labels"]) == labelset(want), \
            f"stream batch {checked['batches']} diverged"
        checked["batches"] += 1

    src = str(tmp_path / "docs")
    ck = str(tmp_path / "ck")
    dschema = "doc_id long, text string"

    def run_once():
        stream = spark.readStream.schema(dschema).parquet(src)
        q = (stream.writeStream.foreachBatch(absorb)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    # three micro-batches; the chain is spread across all three so every
    # modality's index is probed incrementally at least once
    batches = [[d for d in texts if d % 3 == i] for i in range(3)]
    for i, ids in enumerate(batches):
        rows = [(d, texts[d]) for d in ids]
        spark.createDataFrame(rows, dschema).write.mode("append").parquet(src)
        run_once()
    assert checked["batches"] == 3

    # the union evidence matters: the handcrafted chain is ONE cluster...
    final = {d: c for d, c in labelset(state["labels"])}
    chain = {final.get(d) for d in (101, 102, 103, 104, 105)}
    assert len(chain) == 1 and None not in chain, chain
    # ...while the text-only closure cannot put 103 with 101/102
    text_only = {r["doc_id"]: r["cluster_id"]
                 for r in dup_clusters(
                     text_edges(state["docs"]),
                     id_cols=("id_a", "id_b")).collect()}
    assert text_only.get(101) == text_only.get(102) is not None
    assert text_only.get(103) != text_only.get(101)
