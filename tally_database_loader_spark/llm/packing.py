"""Training-sample packing and corpus capping.

``pack_sequences`` — offset-based sequence packing: documents are laid end
to end (per shard, in a deterministic order) into one token stream, and
the stream is cut into fixed-length training sequences. A document whose
span crosses a cut contributes a slice to each sequence it touches — the
standard "concat-then-chunk" LLM pretraining layout (vs. the reference's
row-per-record model; this is a charter extension for training-data prep).

Scale shape: one window prefix-sum per shard (the shuffle key is the shard
column, so stream assembly parallelizes across shards — at 100 TB a shard
is a file-group/source bucket, never the whole corpus), then a map-side
explode over the touched sequence indexes. All arithmetic is int64 —
exact, AQE/retry-stable, and reproducible in any SQL engine.

``domain_cap`` — at most ``k`` documents per group (source/domain), chosen
by deterministic keyed hash order, the anti-over-representation cap
(cf. C4/Gopher corpus curation). A hash order is retry-stable and engine
-reproducible where ``rand()`` is not; the window shuffle partitions by
the group key and the cap bounds every partition's output.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

__all__ = ["pack_sequences", "domain_cap", "weighted_sample", "group_split",
           "split_bounds", "length_bucketed_batches", "batch_padding_stats",
           "hash_order"]

_H20 = 1 << 20  # hash bucket space for split thresholds


def split_bounds(fractions: dict[str, float]) -> list[int]:
    """Cumulative integer thresholds ``floor(cumfrac · 2^20)`` for all but
    the last split name — THE derivation ``group_split`` compares hash
    buckets against. Exported so oracle/SQL renderings use the same
    accumulation (same float adds, same floor) instead of re-implementing
    it and drifting."""
    if not fractions or any(v <= 0 for v in fractions.values()):
        raise ValueError("fractions must be positive")
    if abs(sum(fractions.values()) - 1.0) > 1e-9:
        raise ValueError("fractions must sum to 1")
    names = list(fractions)
    bounds, acc = [], 0.0
    for name in names[:-1]:
        acc += fractions[name]
        bounds.append(int(math.floor(acc * _H20)))
    return bounds


def hash_order(id_col: Column) -> Column:
    """Deterministic pseudo-random order key: md5-prefix of the id as a
    15-hex-digit integer (same construction as llm/dedup.py's base hash,
    so a SQL oracle folds the digits to the identical value)."""
    return F.conv(F.substring(F.md5(id_col.cast("string")), 1, 15), 16, 10) \
            .cast("long")


def pack_sequences(docs: DataFrame, shard_col: str, id_col: str,
                   len_col: str, seq_len: int) -> DataFrame:
    """Cut the per-shard concatenated token stream into ``seq_len`` chunks.

    Documents are ordered by ``id_col`` within ``shard_col``; a document
    starting at stream offset ``s`` with ``n`` tokens lands in sequences
    ``floor(s/L) … floor((s+n-1)/L)``, contributing the slice
    ``[tok_from, tok_to)`` of itself to each. Zero-length documents are
    dropped (they occupy no stream positions).

    Output: ``shard, doc_id, seq_idx, tok_from, tok_to, seq_pos`` where
    ``seq_pos`` is the slice's start position inside the sequence.
    Invariants (tested): slices tile every sequence exactly; per-doc
    slices cover [0, n) without overlap.
    """
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    L = F.lit(seq_len).cast("long")
    # ROWS frame, not the RANGE default: duplicate doc_ids within a shard
    # must still get distinct running offsets or the tiling invariant
    # breaks. __n is the secondary sort key so two same-id docs of
    # DIFFERENT lengths take their offsets in a deterministic order
    # (orderBy doc_id alone left the tie partition-order-dependent);
    # same-id same-length duplicates are interchangeable either way.
    w = (W.partitionBy("shard").orderBy("doc_id", "__n")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    n = F.col(len_col).cast("long")
    d = (docs.filter(F.col(len_col) > 0)
             .select(F.col(shard_col).alias("shard"),
                     F.col(id_col).alias("doc_id"),
                     n.alias("__n"))
             .withColumn("__start", F.sum("__n").over(w) - F.col("__n")))
    # `div` = true int64 division (Spark `/` on longs is double division,
    # which rounds past 2^53 and can misplace a document near a cut).
    first = F.expr(f"__start div {seq_len}")
    last = F.expr(f"(__start + __n - 1) div {seq_len}")
    out = d.withColumn("seq_idx", F.explode(F.sequence(first, last)))
    seq_start = F.col("seq_idx") * L
    tok_from = F.greatest(F.lit(0).cast("long"), seq_start - F.col("__start"))
    tok_to = F.least(F.col("__n"), seq_start + L - F.col("__start"))
    return out.select(
        "shard", "doc_id", "seq_idx",
        tok_from.alias("tok_from"), tok_to.alias("tok_to"),
        F.greatest(F.lit(0).cast("long"),
                   F.col("__start") - seq_start).alias("seq_pos"))


def group_split(docs: DataFrame, group_col: str,
                fractions: dict[str, float] | None = None) -> DataFrame:
    """Leakage-safe train/validation/test assignment: the split is a pure
    function of ``group_col`` (source domain, dedup-cluster id, URL host),
    so every row of a group lands in the SAME split — near-duplicates and
    same-source documents can never straddle the train/eval boundary,
    which is the leak that inflates eval numbers.

    Mechanics: ``bucket = hash(group) mod 2^20`` (keyed md5 order — the
    engine's standard retry-stable, SQL-reproducible hash) compared to
    cumulative integer thresholds ``floor(cumfrac · 2^20)``. Expected
    split sizes follow the fractions in *group* mass, exactly as a random
    group-level split would; determinism means re-runs, retries and other
    engines assign identically. Zero shuffles: the split column is one
    map-side expression.

    A NULL group key is one more group (all NULL-keyed rows travel
    together, hashed under a sentinel that cannot collide with a real
    string key) — without this, md5(NULL)=NULL would dump every NULL-key
    row into the LAST split name, silently concentrating an unhashed
    cohort on one side of the train/eval boundary.

    Output: the input plus a ``split`` string column.
    """
    fractions = fractions or {"train": 0.9, "valid": 0.05, "test": 0.05}
    names = list(fractions)
    bounds = split_bounds(fractions)
    key = F.coalesce(F.col(group_col).cast("string"), F.lit("\x00<null>"))
    bucket = F.pmod(hash_order(key), F.lit(_H20))
    split = F.lit(names[-1])
    for name, bound in zip(reversed(names[:-1]), reversed(bounds)):
        split = F.when(bucket < bound, F.lit(name)).otherwise(split)
    return docs.withColumn("split", split)


def length_bucketed_batches(docs: DataFrame, id_col: str, len_col: str,
                            batch_size: int, n_shards: int) -> DataFrame:
    """Padding-efficient batch layout: deterministically shard the corpus,
    sort each shard by length, and cut fixed-size batches — so a batch
    holds similar-length documents and the pad-to-max waste collapses
    (the fairseq/HuggingFace ``group_by_length`` loader layout, done once
    relationally instead of per-epoch in the loader).

    Sharding is ``hash(doc_id) mod n_shards`` (keyed md5 — retry-stable,
    engine-reproducible; a NULL id hashes under the same sentinel
    ``group_split`` uses, so NULL-id rows shard deterministically instead
    of collapsing into a NULL shard); within a shard documents order by
    ``(length, doc_id)`` and batch ``(rank-1) div batch_size``. The sort
    is per shard — the window shuffle partitions on the shard key, so no
    global ordering bottleneck exists at any corpus size; shards are
    hash-balanced in expectation.

    Output: ``shard, batch_idx, doc_id, n_tokens, pos_in_batch``.
    """
    if batch_size <= 0 or n_shards <= 0:
        raise ValueError("batch_size and n_shards must be positive")
    key = F.coalesce(F.col(id_col).cast("string"), F.lit("\x00<null>"))
    # 'lb:' salt — independent of the other hash-keyed selections
    shard = F.pmod(hash_order(F.concat(F.lit("lb:"), key)),
                   F.lit(n_shards)).cast("int")
    # the window runs over the derived frame, so it orders by the derived
    # length column, not the caller's
    w = (W.partitionBy("shard")
          .orderBy(F.asc_nulls_last("__len"), F.asc_nulls_last(id_col)))
    d = (docs.withColumn("shard", shard)
             .withColumn("__len", F.col(len_col).cast("long"))
             .withColumn("__rn", F.row_number().over(w))
             .withColumn("batch_idx",
                         F.expr(f"(__rn - 1) div {batch_size}").cast("int"))
             .withColumn("pos_in_batch",
                         F.expr(f"(__rn - 1) % {batch_size}").cast("int")))
    return d.select("shard", "batch_idx",
                    F.col(id_col).alias("doc_id"),
                    F.col("__len").alias("n_tokens"), "pos_in_batch")


def batch_padding_stats(batches: DataFrame) -> DataFrame:
    """Per-batch padding accounting over ``length_bucketed_batches``
    output: ``shard, batch_idx, n_docs, tok_sum, tok_max, pad_waste``
    where ``pad_waste = n_docs·tok_max − tok_sum`` (tokens burned if the
    batch pads to its longest member). Integer-only aggregates —
    AQE-order-proof and SQL-replayable."""
    return (batches.groupBy("shard", "batch_idx")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("tok_sum"),
                 F.max("n_tokens").cast("long").alias("tok_max"))
            .withColumn("pad_waste",
                        (F.col("n_docs") * F.col("tok_max")
                         - F.col("tok_sum")).cast("long")))


def weighted_sample(docs: DataFrame, weight_col: str, k: int,
                    id_col: str = "doc_id") -> DataFrame:
    """Deterministic weighted sampling without replacement — the
    Efraimidis–Spirakis A-ES scheme with keyed-hash randomness: keep the
    ``k`` rows with the largest ``ln(u)/w`` where ``u`` is a dyadic
    uniform in (0, 1] derived from ``md5('ws:' || id)``. Inclusion
    follows the w-weighted without-replacement distribution, but the
    drawn set is a PURE FUNCTION of the data (retry/speculation/
    AQE-stable, auditable) where ``rand()`` is not — this is how a
    quality- or DSIR-score-weighted subsample stays reproducible at
    100 TB. The ``'ws:'`` salt gives this operator its own hash stream —
    since round 4 EVERY hash-keyed selection is salted (``'dc:'``
    domain_cap, ``'tr:'`` temperature_resample, ``'lb:'`` batch shards,
    ``'sample:'`` hash_sample), so composed selections (e.g. sampling
    the survivors of a hash-capped corpus) are independent draws instead
    of confining ``u`` to a subrange and distorting the inclusion
    distribution.

    Exactness: ``u`` is exact (``v/2^20`` with ``v = hash mod 2^20 + 1``
    — a dyadic rational), and ``ln(u)·2^30`` is the EXACT-INTEGER
    ``ln_fixed_staged(v) − 20·LN2_F`` (functions/fixmath.py) — no libm/JVM
    transcendental anywhere, so no 1-ulp divergence can flip the
    priority at a floor boundary; the only float steps are one
    correctly-rounded IEEE division by ``w`` and the floor, identical
    in every engine. Rows with NULL or non-positive weight are excluded
    (their sampling probability is 0).

    Scale shape: ``orderBy(...).limit(k)`` plans as
    TakeOrderedAndProject — per-partition heaps of k, driver merge — no
    global sort at any corpus size. Ties (duplicate ids) break on id.

    Weight range: the 2^30 priority scale resolves weights in roughly
    [1e-8, 1e8] — below that the clamp floor (pinned INSIDE int64 so
    Spark's saturating cast and a SQL engine's range check cannot
    diverge) ties ultra-tiny-weight rows together, above it priorities
    lose resolution. Rescale weights into that band first (ranking is
    invariant to a common scale factor).

    Output: ``doc_id, weight (double), priority_q (bigint)``."""
    from ..functions.fixmath import LN2_F, ln_fixed_staged
    if k <= 0:
        raise ValueError("k must be positive")
    w = F.col(weight_col).cast("double")
    # staged fixed-point ln: each series level is its own projection
    # column instead of one ~2,500-node inline tree that Catalyst
    # re-analyzed on every action (fixmath.ln_fixed_staged; 0.44s →
    # 0.11s per execution at sf0.1)
    base = (docs.filter(F.col(weight_col).isNotNull()
                        & (F.col(weight_col) > 0))
                .select(F.col(id_col).alias("doc_id"), w.alias("weight")))
    base = ln_fixed_staged(
        base,
        F.pmod(hash_order(F.concat(F.lit("ws:"),
                                   F.col("doc_id").cast("string"))),
               F.lit(_H20)) + 1,
        "__lnf")
    lnu = F.col("__lnf") - F.lit(20 * LN2_F)  # ln(u)·2^30, exact int64 ≤ 0
    pri_q = F.floor(F.greatest(lnu.cast("double") / F.col("weight"),
                               F.lit(-9.0e18))).cast("long")
    return (base.select("doc_id", "weight", pri_q.alias("priority_q"))
                .orderBy(F.col("priority_q").desc(), F.col("doc_id"))
                .limit(k))


def domain_cap(docs: DataFrame, group_col: str, id_col: str,
               k: int) -> DataFrame:
    """Keep at most ``k`` rows per ``group_col``, picked by keyed-hash
    order (ties broken by id — fully deterministic). Returns the kept
    rows' ``group, doc_id, pick`` with ``pick`` = 1-based selection rank."""
    if k <= 0:
        raise ValueError("k must be positive")
    # NULLS LAST pinned on both keys: Spark's asc default is NULLS FIRST,
    # DuckDB's is NULLS LAST — a NULL doc_id must sort the same in both.
    # 'dc:' salt: each hash-keyed operator draws from its own stream
    # (review r4) — unsalted md5(doc_id) would make this cap, the
    # resample threshold and the batch shard CORRELATED selections when
    # the operators compose over one corpus.
    w = W.partitionBy("grp").orderBy(
        F.asc_nulls_last(hash_order(
            F.concat(F.lit("dc:"), F.col("doc_id").cast("string")))),
        F.asc_nulls_last("doc_id"))
    return (docs.select(F.col(group_col).alias("grp"),
                        F.col(id_col).alias("doc_id"))
                .withColumn("pick", F.row_number().over(w))
                .filter(F.col("pick") <= k)
                .select("grp", "doc_id", F.col("pick").cast("int").alias("pick")))
