"""Custom stateful streaming operator (SURVEY §2.I4 surface).

The reference keeps its only cross-poll state driver-side (the cached
last-AlterId pair, reference src/index.mts:60-71). For operators whose
state must live *per key at data scale* — running balances, lifetime
counters — Structured Streaming's ``applyInPandasWithState`` is the
escape hatch: user state per group key, Arrow-batched, checkpointed with
the query, spilling to the state store rather than the driver.

``running_totals`` is the accounting-native example: per-ledger lifetime
(count, sum) maintained across micro-batches — the streaming form of a
cumulative trial-balance feed. State is two scalars per key, so a year of
100 TB/day events stores gigabytes, not the stream.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_STATE_SCHEMA = "n bigint, total double"


def _col_type(df: DataFrame, col: str) -> str:
    """DDL type of ``df[col]`` — the output/state schemas mirror the
    caller's key/id types (a string-keyed ledger feed must not crash on
    a hard-coded ``bigint``, ADVICE-class review finding r4)."""
    return df.schema[col].dataType.simpleString()


def _py(v):
    """numpy scalar → plain Python (Arrow state/output columns reject
    np.int64 for string-typed schemas and vice versa)."""
    return v.item() if hasattr(v, "item") else v


def running_totals(events: DataFrame, *, key_col: str = "user_id",
                   val_col: str = "value") -> DataFrame:
    """Per-key lifetime (n_events, total) maintained in keyed state.

    Each micro-batch folds its rows into the key's (n, total) pair and
    emits the updated pair — ``update`` output mode semantics. Restarting
    from the checkpoint resumes the totals (asserted in
    tests/test_streaming.py). The output ``key`` column carries the
    caller's key type."""
    out_schema = f"key {_col_type(events, key_col)}, " \
                 f"n_events bigint, total double"

    def update(key, pdfs: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[val_col].sum())
        state.update((n, total))
        yield pd.DataFrame({"key": [key[0]], "n_events": [n], "total": [total]})

    return (events.groupBy(key_col)
            .applyInPandasWithState(update, out_schema, _STATE_SCHEMA,
                                    "update", GroupStateTimeout.NoTimeout))


def streaming_dedup(docs: DataFrame, *, key_col: str = "fingerprint",
                    id_col: str = "doc_id") -> DataFrame:
    """Streaming exact dedup: first document per fingerprint wins, forever.

    The streaming form of ``llm/dedup.exact_duplicates`` for continuous
    corpus ingestion: keyed state stores (keeper_id, dup_count) per
    fingerprint — two scalars, so state size is bounded by distinct
    content, not stream length — and each micro-batch emits one row per
    fingerprint it touched with the stable keeper and the updated
    duplicate count (``update`` semantics: downstream keeps rows where
    doc_id == keeper and reads dup_count for stats). The keeper is the
    MIN doc_id of the earliest micro-batch that saw the fingerprint —
    row order inside a batch is shuffle-dependent, so "first row wins"
    would be nondeterministic; min-wins matches the batch operator's
    keep_id = min(doc_id) convention and is retry-stable. Checkpoint
    recovery resumes the seen-set (asserted in tests/test_streaming.py),
    which is what makes ingestion restarts idempotent. Output/state
    schemas mirror the caller's fingerprint/id types (string doc ids
    work)."""
    out_schema = f"fingerprint {_col_type(docs, key_col)}, " \
                 f"doc_id {_col_type(docs, id_col)}, dup_count bigint"
    state_schema = f"keeper {_col_type(docs, id_col)}, dups bigint"

    def update(key, pdfs: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        keeper, dups = state.get if state.exists else (None, 0)
        # a large group arrives as MULTIPLE Arrow chunks
        # (arrow.maxRecordsPerBatch) whose boundaries are
        # partitioning-dependent — fold the min across ALL of them
        # before electing, or the keeper would be chunk-1's min and
        # differ across retries
        n_new, batch_min = 0, None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            m = _py(pdf[id_col].min())
            batch_min = m if batch_min is None else min(batch_min, m)
            n_new += len(pdf)
        if n_new:
            if keeper is None:
                keeper = batch_min
                dups += n_new - 1
            else:
                dups += n_new
        state.update((keeper, dups))
        yield pd.DataFrame({"fingerprint": [key[0]], "doc_id": [keeper],
                            "dup_count": [dups]})

    return (docs.groupBy(key_col)
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "update", GroupStateTimeout.NoTimeout))


# ---------------------------------------------------------------------------
# streaming MinHash-LSH near-duplicate candidates
# ---------------------------------------------------------------------------



def band_signatures(text: str, n: int = 3, k: int = 16, bands: int = 4):
    """``array<struct<band:int, bsig:string>>`` of the SQL string
    expression ``text`` (a column name, say) — the document's LSH band
    signatures computed entirely MAP-SIDE (array_min over transformed
    shingle hashes), no explode/groupBy. Same constants and md5-parity
    base hash as the batch path (llm/dedup.minhash_signature_table), so
    a document lands in identical buckets streaming or batch.

    The shuffle-free formulation matters specifically for streaming:
    Structured Streaming allows only one stateful operator per query, so
    the per-doc signature aggregation the batch path runs as a groupBy
    must collapse into a projection here."""
    from pyspark.sql import functions as F

    from ..llm.dedup import (MINHASH_PRIME, _parity_base,
                             _permutation_constants, shingles)
    if bands <= 0 or k % bands:
        raise ValueError("bands must divide k (every minhash row belongs "
                         "to exactly one band)")
    consts = _permutation_constants(k)
    sh = F.expr(shingles(text, n))
    bases = F.transform(sh, lambda s: F.pmod(_parity_base(s),
                                             F.lit(MINHASH_PRIME)))
    mh = [F.array_min(F.transform(
              bases, lambda x: (x * F.lit(a) + F.lit(b)) % F.lit(MINHASH_PRIME)))
          for a, b in consts]
    rows = k // bands
    return F.array(*[
        F.struct(F.lit(j).alias("band"),
                 F.concat_ws(",", *[mh[j * rows + i].cast("string")
                                    for i in range(rows)]).alias("bsig"))
        for j in range(bands)])


def streaming_near_dedup(docs: DataFrame, *, id_col: str = "doc_id",
                         text_col: str = "text", n: int = 3, k: int = 16,
                         bands: int = 4) -> DataFrame:
    """Streaming MinHash-LSH near-duplicate candidates: documents landing
    in an LSH bucket already claimed by an earlier document emit a
    candidate pair against that bucket's stable representative.

    State per (band, bsig) bucket is ONE scalar — the representative
    (min doc id of the earliest micro-batch that touched the bucket, the
    same min-wins convention as ``streaming_dedup``) — so state size is
    bounded by distinct buckets, not stream length. Emitted pairs form a
    spanning star per bucket: connectivity-equivalent to the batch
    ``lsh_candidates`` pair set (every bucket co-member connects through
    the representative), which is what duplicate CLUSTERING consumes;
    downstream exact-Jaccard verification stays batch-side and must be
    ``minhash_stream_verify`` (membership-restricted re-run), NEVER a
    pairwise Jaccard filter of the star edges — the same non-equivalence
    as the fingerprint arm (see ``fp_stream_verify``): a keeper can sit
    below threshold against two co-members that clear it against each
    other. Documents shorter than the shingle width produce no
    signatures and pass through unexamined, exactly like the batch
    path. The pair columns mirror the caller's id type (string doc ids
    work; min-wins becomes lexicographic)."""
    idt = _col_type(docs, id_col)
    nd_out = f"band int, bsig string, d1 {idt}, d2 {idt}"
    nd_state = f"keeper {idt}"

    def update(key, pdfs: "Iterator[pd.DataFrame]",
               state: GroupState) -> "Iterator[pd.DataFrame]":
        keeper = state.get[0] if state.exists else None
        ids = set()
        for pdf in pdfs:
            # the grouped frame carries the ALIASED id column, never the
            # caller's original name
            ids.update(_py(x) for x in pdf["doc_id"])
        ids = sorted(ids)
        if keeper is None and ids:
            keeper = ids[0]
        state.update((keeper,))
        others = [i for i in ids if i != keeper]
        yield pd.DataFrame({
            "band": [key[0]] * len(others),
            "bsig": [key[1]] * len(others),
            "d1": [min(keeper, o) for o in others],
            "d2": [max(keeper, o) for o in others]})

    from pyspark.sql import functions as F
    sig = (docs.select(F.col(id_col).alias("doc_id"),
                       F.explode(band_signatures(f"`{text_col}`", n, k, bands))
                        .alias("b"))
               .select("doc_id", F.col("b.band").alias("band"),
                       F.col("b.bsig").alias("bsig"))
               .filter(F.col("bsig") != ""))
    return (sig.groupBy("band", "bsig")
            .applyInPandasWithState(update, nd_out, nd_state,
                                    "update", GroupStateTimeout.NoTimeout))


def streaming_fp_near_dedup(hashes: DataFrame, *, id_col: str = "doc_id",
                            hash_col: str = "ahash") -> DataFrame:
    """Streaming fingerprint (image aHash / audio / video) near-dup
    CANDIDATES: the streaming arm of ``ahash_near_duplicates``. Each
    arriving hash row lands in its four 16-bit band buckets; a document
    entering a bucket already claimed by an earlier document emits a
    candidate pair against that bucket's stable representative (min-id,
    first-micro-batch wins — the ``streaming_near_dedup`` convention).

    State per (band, band_val) bucket is ONE scalar, so state size is
    bounded by distinct occupied buckets (≤ 4 × distinct hash values),
    not stream length. The emitted star pairs are CONNECTIVITY-
    equivalent to the batch banded join's candidate set — every bucket
    co-member connects through the representative — which is what
    duplicate clustering consumes. Hamming verification deliberately
    stays downstream and batch-side: "some bucket co-member within
    distance d" is NOT decidable from bucket-local keeper state,
    exactly as exact-Jaccard verification stays batch-side for the
    MinHash streaming arm.

    The downstream verify must be ``fp_stream_verify`` (membership-
    restricted band join), NEVER a pairwise Hamming filter of the star
    edges themselves: a star edge runs through the keeper, and a keeper
    can sit > max_hamming from two co-members that are within
    max_hamming of each other (they share a band value, so the
    configuration is reachable) — edge-wise filtering would drop both
    star edges and lose the true pair, under-clustering vs batch
    (ADVICE r8). NULL hashes pass through unexamined, like the batch
    operator's isNotNull filter."""
    idt = _col_type(hashes, id_col)
    out_schema = f"band int, band_val int, d1 {idt}, d2 {idt}"
    state_schema = f"keeper {idt}"

    def update(key, pdfs: "Iterator[pd.DataFrame]",
               state: GroupState) -> "Iterator[pd.DataFrame]":
        keeper = state.get[0] if state.exists else None
        ids = set()
        for pdf in pdfs:
            ids.update(_py(x) for x in pdf["doc_id"])
        ids = sorted(ids)
        if keeper is None and ids:
            keeper = ids[0]
        state.update((keeper,))
        others = [i for i in ids if i != keeper]
        yield pd.DataFrame({
            "band": [key[0]] * len(others),
            "band_val": [key[1]] * len(others),
            "d1": [min(keeper, o) for o in others],
            "d2": [max(keeper, o) for o in others]})

    from pyspark.sql import functions as F
    sig = (hashes.filter(F.col(hash_col).isNotNull())
                 .select(F.col(id_col).alias("doc_id"),
                         F.posexplode(F.array("b0", "b1", "b2", "b3"))
                          .alias("band", "band_val")))
    return (sig.groupBy("band", "band_val")
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "update", GroupStateTimeout.NoTimeout))


def fp_stream_verify(candidates: DataFrame, hashes: DataFrame, *,
                     max_hamming: int = 3, id_col: str = "doc_id",
                     hash_col: str = "ahash") -> DataFrame:
    """Batch Hamming verification of ``streaming_fp_near_dedup`` star
    candidates, COMPONENT-WISE rather than edge-wise: returns exactly
    the batch ``ahash_near_duplicates`` pair set (id_a, id_b, hamming)
    over the streamed corpus, so feeding the result to ``dup_clusters``
    yields the identical cluster partition the all-batch pipeline would
    (asserted end-to-end in tests/test_streaming.py for image and audio
    fingerprints).

    Implementation: restrict the accumulated hash table to documents
    that appear in ANY star candidate (a left-semi membership probe —
    the coarsest component-preserving restriction), then run the normal
    lossless banded join on that restriction. Equality with the batch
    pair set is provable, not heuristic:

    - every batch pair (a, b) shares a band bucket (pigeonhole at
      ``max_hamming <= bands - 1``), that bucket has >= 2 members, so
      both a and b appear in its star edges (as keeper or co-member) —
      the restriction keeps them, and the band join re-finds the pair;
    - conversely the restricted join only emits pairs the full-table
      join emits (a subset scan cannot invent buckets).

    Filtering the star edges THEMSELVES by pairwise Hamming is NOT
    equivalent: both star edges of a close pair can fail the threshold
    through a far keeper, losing the pair (ADVICE r8 — the docstring
    above spells out the reachable configuration). The restriction
    keeps the verify stage bucketed (never all-pairs), and on a
    dup-heavy stream it is SMALLER than the full batch join's input:
    documents whose buckets stayed singletons never re-enter."""
    from pyspark.sql import functions as F

    from ..llm.multimodal import ahash_near_duplicates

    members = (candidates.select(F.col("d1").alias(id_col))
               .unionByName(candidates.select(F.col("d2").alias(id_col)))
               .distinct())
    # the member set is bounded by documents that ever shared a bucket —
    # broadcast it so the probe is a map-side semi join, no shuffle of
    # the accumulated hash table
    restricted = hashes.join(F.broadcast(members), id_col, "left_semi")
    return ahash_near_duplicates(restricted, max_hamming=max_hamming,
                                 hash_col=hash_col)


def minhash_stream_verify(candidates: DataFrame, docs: DataFrame, *,
                          id_col: str = "doc_id", text_col: str = "text",
                          threshold: float = 0.7, k: int = 16,
                          bands: int = 4, n: int = 3) -> DataFrame:
    """Batch exact-Jaccard verification of ``streaming_near_dedup`` star
    candidates — the MinHash twin of ``fp_stream_verify``, closing the
    same hazard preemptively: filtering the star edges THEMSELVES by
    pairwise Jaccard is not batch-equivalent (a bucket keeper can sit
    below threshold against two co-members that clear it against each
    other), so the verify restricts the corpus to documents appearing
    in ANY star candidate and re-runs the normal pipeline on the
    restriction. Returns exactly
    ``minhash_near_duplicates(docs)``:

    - every batch pair shared an LSH bucket, so both endpoints appear
      in that bucket's star edges; their per-document signatures are
      unchanged under restriction, so the restricted banding re-finds
      the candidate and the same shingle sets pass the same threshold;
    - conversely a subset corpus produces a subset of the full
      candidate set, so nothing new can pass.

    Uses the md5-parity base hash — the SAME family ``band_signatures``
    streams with — so the restricted banding reproduces the stream's
    buckets exactly."""
    from pyspark.sql import functions as F

    from ..llm.dedup import minhash_near_duplicates

    members = (candidates.select(F.col("d1").alias(id_col))
               .unionByName(candidates.select(F.col("d2").alias(id_col)))
               .distinct())
    restricted = docs.join(F.broadcast(members), id_col, "left_semi")
    return minhash_near_duplicates(restricted, id_col, text_col,
                                   threshold=threshold, k=k, bands=bands,
                                   n=n)
