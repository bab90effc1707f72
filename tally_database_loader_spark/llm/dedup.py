"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Design for 100 TB:

- Exact dedup is a fingerprint groupBy — one shuffle on a short hash key,
  map-side combine, no skew (hashes are uniform).
- N-gram Jaccard all-pairs is quadratic; it exists as the verifier and the
  small-corpus baseline. The scale path is MinHash+LSH: O(docs × k) to
  signature, O(docs × bands) to bucket, pairs only within buckets.
- Banding join is a self-equi-join on (band_index, band_signature) —
  uniform hash keys again, broadcast-free but skew-free.
- Hash functions: MinHash and SimHash hash each shingle once with a
  60-bit md5 prefix, which a SQL oracle reproduces digit-for-digit
  (plans/llm_gate.py). Substring dedup keys its grams by xxhash64; its
  output never carries the key, and the raw-gram oracle would show a
  64-bit collision as a mismatch.

Reference note: the reference ETL (tally-database-loader) has no dedup
operators; these are the training-data-pipeline extension required by the
project charter (BASELINE.json north_star).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from .text import fingerprint_md5, tokens


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group identical (normalized) content; keep min id as canonical.

    Returns (fingerprint, keep_id, n_copies). Drop dups with::

        df.join(exact_duplicates(df,...).filter('n_copies>1'), ...)
    """
    return (df.selectExpr(
                f"`{id_col}` AS doc_id",
                f"{fingerprint_md5(f'`{text_col}`')} AS fingerprint")
              .groupBy("fingerprint")
              .agg(F.min("doc_id").alias("keep_id"),
                   F.count(F.lit(1)).alias("n_copies")))


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------

def shingles(text: str, n: int = 3) -> str:
    """SQL text of the distinct word n-gram shingle array (space-joined)
    of the SQL string expression ``text``."""
    t = tokens(text)
    return (f"CASE WHEN size({t}) >= {n} THEN array_distinct(transform("
            f"sequence(1, size({t}) - {n - 1}), "
            f"i -> concat_ws(' ', slice({t}, i, {n})))) "
            f"ELSE CAST(array() AS array<string>) END")


def shingle_table(df: DataFrame, id_col: str, text_col: str, n: int = 3,
                  density: float = 1.0) -> DataFrame:
    """(doc_id, shingle) exploded long table — input to Jaccard/MinHash.

    The input is fanned out first when the scan arrived narrower
    (sources/catalog.fan_out, byte-derived width since round 12):
    shingling cost scales with exploded tokens (~100× the input bytes),
    so a few-MB parquet would otherwise pin the whole explode+hash
    pipeline to a couple of cores. ``density`` forwards the CONSUMER's
    per-byte compute multiplier (SimHash's 64 conditional sums per
    shingle pass 8; the MinHash pipeline, whose heavy stages are
    construction-time checkpoints, keeps 1)."""
    from ..sources.catalog import fan_out
    df = fan_out(df, id_col, density=density)
    return (df.select(F.col(id_col).alias("doc_id"),
                      F.explode(F.expr(shingles(f"`{text_col}`", n))).alias("shingle")))


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact verifier / small-corpus path)
# ---------------------------------------------------------------------------

def jaccard_pairs(sh: DataFrame, threshold: float,
                  candidates: DataFrame | None = None) -> DataFrame:
    """Exact Jaccard over a shingle table; optionally restricted to
    candidate (d1, d2) pairs (the LSH output). Returns (d1, d2, jaccard)
    with d1 < d2.

    Without candidates this is the quadratic baseline (documents sharing
    ≥1 shingle); with candidates it is the cheap LSH verification join.
    """
    semi = ("" if candidates is None else
            "LEFT SEMI JOIN {cand} k ON k.d1 = common.d1 AND k.d2 = common.d2")
    return sh.sparkSession.sql(f"""
WITH common AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(1) AS c
  FROM {{sh}} a JOIN {{sh}} b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id),
hits AS (SELECT * FROM common {semi}),
sizes AS (SELECT doc_id, count(1) AS n FROM {{sh}} GROUP BY doc_id)
SELECT d1, d2, jaccard FROM (
  SELECT d1, d2, CAST(c AS DOUBLE) / (s1.n + s2.n - c) AS jaccard
  FROM hits JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2)
WHERE jaccard >= {float(threshold)!r}D""", sh=sh,
                               **({} if candidates is None
                                  else {"cand": candidates}))


# ---------------------------------------------------------------------------
# MinHash + LSH (the scale path)
# ---------------------------------------------------------------------------

MINHASH_PRIME = 2147483647  # 2^31-1; (a*base + b) stays < 2^62 in int64


def _permutation_constants(k: int) -> list[tuple[int, int]]:
    """Fixed (a_i, b_i) for the universal-hash family
    ``h_i(x) = (a_i * x + b_i) mod p`` — derived from md5 so Spark and the
    SQL oracle embed identical literals."""
    import hashlib
    out = []
    for i in range(k):
        a = int(hashlib.md5(f"minhash-a-{i}".encode()).hexdigest()[:8], 16) % (MINHASH_PRIME - 1) + 1
        b = int(hashlib.md5(f"minhash-b-{i}".encode()).hexdigest()[:8], 16) % MINHASH_PRIME
        out.append((a, b))
    return out


def _parity_base(s: Column) -> Column:
    """60-bit base hash from an md5 prefix — reproducible in ANSI SQL
    (DuckDB: md5 hex → fold hex digits). One md5 per shingle total;
    the k permutations are arithmetic on this base."""
    return F.conv(F.substring(F.md5(F.encode(s, "utf-8")), 1, 15), 16, 10).cast("long")


def minhash_signature_table(df: DataFrame, id_col: str, text_col: str,
                            k: int = 16, n: int = 3,
                            _shingles: DataFrame | None = None) -> DataFrame:
    """(doc_id, mh0..mh{k-1}) MinHash signature columns.

    Plan shape chosen for scale AND local speed: explode shingles, hash
    each ONCE, then one groupBy(doc) with k arithmetic min-aggregates.
    Everything is flat codegen'd expressions — no nested higher-order
    functions (those run interpreted per element and were 50× slower) —
    and the shuffle carries partial mins (k longs per doc per mapper)."""
    sh = _shingles if _shingles is not None else \
        shingle_table(df, id_col, text_col, n)
    base = F.pmod(_parity_base(F.col("shingle")), F.lit(MINHASH_PRIME))
    hashed = sh.select("doc_id", base.alias("base"))
    return hashed.groupBy("doc_id").agg(*[
        F.expr(f"min((base * {a} + {b}) % {MINHASH_PRIME}) AS mh{i}")
        for i, (a, b) in enumerate(_permutation_constants(k))])


def lsh_candidates(df: DataFrame, id_col: str, text_col: str,
                   k: int = 16, bands: int = 4, n: int = 3,
                   _shingles: DataFrame | None = None) -> DataFrame:
    """LSH banding: split the signature into ``bands`` bands of k/bands
    rows; docs agreeing on any full band are candidate pairs (d1 < d2).

    Plan shape: signature → explode band structs (×bands rows) →
    self-join on (band_idx, band_sig). At 100 TB the join keys are
    uniformly distributed hashes, so no skew; AQE coalesces the mostly
    tiny buckets."""
    r = k // bands
    sig = minhash_signature_table(df, id_col, text_col, k, n,
                                  _shingles=_shingles)
    band_structs = ", ".join(
        f"named_struct('band', {j}, 'bsig', concat_ws(',', "
        + ", ".join(f"CAST(mh{j * r + i} AS STRING)" for i in range(r))
        + "))" for j in range(bands))
    return sig.sparkSession.sql(f"""
WITH banded AS (
  SELECT doc_id, b.band, b.bsig
  FROM (SELECT doc_id, explode(array({band_structs})) AS b FROM {{sig}}))
SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
FROM banded a JOIN banded b ON a.band = b.band AND a.bsig = b.bsig
WHERE a.doc_id < b.doc_id""", sig=sig)


def minhash_near_duplicates(df: DataFrame, id_col: str, text_col: str,
                            threshold: float = 0.7, k: int = 16, bands: int = 4,
                            n: int = 3) -> DataFrame:
    """Full near-dup pipeline: MinHash → LSH buckets → exact-Jaccard verify.

    Returns (d1, d2, jaccard ≥ threshold). The verification join is
    restricted to documents that appear in some candidate pair (semi-join
    first), so the quadratic shingle self-join touches only the LSH
    survivors — the property that keeps this viable at 100 TB."""
    sh_all = shingle_table(df, id_col, text_col, n)
    # Materialize the candidate set before verification: downstream it is
    # consumed three times (pair semi-join + both doc-restriction sides),
    # and without the checkpoint each consumer would re-run the whole
    # signature+banding subtree. The candidate list is the LSH survivors —
    # tiny relative to the corpus at any scale, so this is the cheap side
    # to pin.
    cand = lsh_candidates(df, id_col, text_col, k, bands, n,
                          _shingles=sh_all).localCheckpoint(eager=True)
    # Same trick for the verify-side shingles: jaccard_pairs reads its
    # input three times (a side, b side, sizes); restricting to candidate
    # docs first makes the checkpointed table small, and checkpointing it
    # means the full-corpus shingle explode runs once, not three times.
    sh = sh_all.sparkSession.sql("""
SELECT /*+ BROADCAST(c) */ s.doc_id, s.shingle FROM {sh} s
LEFT SEMI JOIN (SELECT d1 AS doc_id FROM {cand}
                UNION SELECT d2 FROM {cand}) c ON s.doc_id = c.doc_id""",
                                 sh=sh_all, cand=cand).localCheckpoint(eager=True)
    return jaccard_pairs(sh, threshold, candidates=cand)


# ---------------------------------------------------------------------------
# duplicate clustering (connected components over the pair graph)
# ---------------------------------------------------------------------------

def dup_clusters(pairs: DataFrame, id_cols: tuple[str, str] = ("d1", "d2"),
                 max_iter: int = 25) -> DataFrame:
    """Connected components over duplicate pairs → (doc_id, cluster_id).

    The step after any pair-producing dedup modality (MinHash/SimHash/
    embedding): near-dup pairs form a graph; each component is one
    duplicate cluster and ``cluster_id`` = the minimum doc id in the
    component, so "keep one per cluster" is ``doc_id == cluster_id``.
    Only documents that appear in some pair are returned (singletons are
    trivially their own cluster).

    Algorithm: min-label propagation with pointer doubling — each round a
    node takes the min of (its label, its neighbors' labels, its label's
    label). The neighbor step alone needs diameter rounds; the
    label-of-label hop squares path lengths each round (the
    large-star/small-star trick), so rounds ≈ log2(diameter). Every round
    is two equi-joins on uniform keys + one partial-aggregated groupBy;
    ``localCheckpoint`` truncates lineage so plans stay flat at 100 TB,
    and the convergence probe reads the checkpointed result (no extra
    recompute).
    """
    d1, d2 = id_cols
    edges = (pairs.select(F.col(d1).alias("src"), F.col(d2).alias("dst"))
                  .unionByName(
                      pairs.select(F.col(d2).alias("src"), F.col(d1).alias("dst")))
                  .distinct()
                  # materialize once: the pair generator upstream (LSH join,
                  # cosine verify, ...) must not re-run every round
                  .localCheckpoint(eager=True))
    labels = (edges.select(F.col("src").alias("node")).distinct()
                   .withColumn("label", F.col("node")))
    for _ in range(max_iter):
        nbr_min = (edges.join(labels.withColumnRenamed("node", "dst"), "dst")
                        .groupBy(F.col("src").alias("node"))
                        .agg(F.min("label").alias("nbr_label")))
        # pointer doubling: label(label(v)) — squares path lengths
        lol = labels.select(F.col("node").alias("label"),
                            F.col("label").alias("label2"))
        step = (labels.join(nbr_min, "node", "left")
                      .join(lol, "label", "left")
                      .select("node", F.col("label").alias("old_label"),
                              F.least(F.col("label"),
                                      F.coalesce("nbr_label", F.col("label")),
                                      F.coalesce("label2", F.col("label")))
                               .alias("label"))
                      .localCheckpoint(eager=True))
        converged = step.filter(
            F.col("old_label") != F.col("label")).isEmpty()
        labels = step.select("node", "label")
        if converged:
            break
    return labels.select(F.col("node").alias("doc_id"),
                         F.col("label").alias("cluster_id"))


def incremental_dup_clusters(prev: DataFrame, new_pairs: DataFrame,
                             id_cols: tuple[str, str] = ("d1", "d2"),
                             max_iter: int = 25) -> DataFrame:
    """Incremental connected components: merge a NEW batch's duplicate
    evidence into existing cluster assignments without re-deriving (or
    even retaining) the historical pair evidence. ``prev`` is a prior
    ``dup_clusters`` output (doc_id, cluster_id); each assignment
    re-enters the graph as ONE star edge (member → its cluster label) —
    a spanning star per old cluster, connectivity-equivalent to every
    previously verified pair — and the union with the new edges goes
    through one pointer-doubling closure.

    The result is IDENTICAL to re-running ``dup_clusters`` over the full
    historical pair set: old evidence connects only old documents, so
    the full graph's components are exactly the components of
    (old-evidence components ∪ new edges), and the star encoding
    preserves the former. min-id labels compose because every old
    cluster label IS the member minimum. Cost per batch:
    O(prev assignments + new edges) rows into O(log diameter) rounds —
    the persisted state is the label table itself, not pair lists."""
    d1, d2 = id_cols
    stars = (prev.filter(F.col("doc_id") != F.col("cluster_id"))
                 .select(F.least("doc_id", "cluster_id").alias(d1),
                         F.greatest("doc_id", "cluster_id").alias(d2)))
    return dup_clusters(stars.unionByName(new_pairs.select(d1, d2)),
                        id_cols=id_cols, max_iter=max_iter)


def elect_keepers(clusters: DataFrame, scores: DataFrame,
                  id_col: str = "doc_id",
                  score_col: str = "score") -> DataFrame:
    """Quality-aware keeper election over duplicate clusters: keep the
    HIGHEST-scoring member of each cluster (tie → min ``id_col``),
    instead of ``dup_clusters``' min-id convention — "keep the best
    copy", the CCNet-style refinement where the retained duplicate is
    chosen by a quality signal (perplexity, length, heuristic score)
    rather than by id accident.

    ``clusters`` is ``dup_clusters`` output (doc_id, cluster_id);
    ``scores`` maps doc_id → a numeric score (rows without a score drop
    out via the inner join — a cluster member the scorer never saw
    cannot be elected OR counted, keeping both engines' views equal).
    A NULL score is treated exactly like a missing score row (ADVICE
    r10): the member is excluded up front, so a mixed NULL/non-NULL
    cluster elects deterministically among the scored members, and a
    cluster whose members are ALL unscored produces no output rows at
    all — by design, never a keeper chosen on no evidence. Callers
    filtering ``keep == 0`` must treat absence as "not electable", not
    "keep everything"; the returned membership is the SCORED membership.
    Ids may be any orderable type — numeric OR string (``dup_clusters``
    and the streaming dedup arm both support string ids): the tie-break
    is a two-step max-score / min-id aggregation, never an id negation,
    which would NULL out non-numeric ids (ADVICE r9).
    Returns (doc_id, cluster_id, keeper_id, keep).

    Plan shape: two partial-aggregated groupBys on cluster_id — the
    max-score table (clusters-sized, broadcast back onto the
    membership) followed by ``min(id)`` over the score-tied rows — so
    the election is map-side-combined shuffles plus broadcast-joinable
    keeper tables; no window over the full membership, no skew beyond
    what cluster sizes already impose."""
    j = clusters.join(scores.filter(F.col(score_col).isNotNull())
                            .select(F.col(id_col),
                                    F.col(score_col).alias("__score")),
                      id_col)
    best_score = (j.groupBy("cluster_id")
                   .agg(F.max("__score").alias("__best")))
    keeper = (j.join(best_score, "cluster_id")
               .filter(F.col("__score") == F.col("__best"))
               .groupBy("cluster_id")
               .agg(F.min(id_col).alias("keeper_id")))
    return (j.join(keeper, "cluster_id")
             .select(F.col(id_col), F.col("cluster_id"),
                     F.col("keeper_id"),
                     (F.col(id_col) == F.col("keeper_id"))
                     .cast("int").alias("keep")))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # the width of _parity_base


def simhash_table(df: DataFrame, id_col: str, text_col: str,
                  n: int = 3) -> DataFrame:
    """60-bit SimHash per document: bit b of the result is the sign of
    Σ_shingles (±1 depending on bit b of the shingle's md5-prefix hash,
    ``_parity_base``), so the result is never negative.

    Plan shape: explode shingles → hash once → groupBy(doc) with flat
    conditional-sum aggregates (all codegen'd, partial-agg'd map-side),
    whose result expression folds the positive sums into one long. The
    sums and the fold are one SQL expression: built one ``Column`` call at
    a time they cost ~10,000 JVM round trips per build. The earlier nested
    higher-order-function formulation ran interpreted and was ~100×
    slower. Docs with no shingles get simhash 0 via the left join."""
    # density=8: 60 conditional sums per exploded shingle — measured
    # fastest at full width while byte-derived ~10 partitions cost ~1.8×
    # (OPTIMIZATION_r12.md fan-out sweep)
    sh = shingle_table(df, id_col, text_col, n, density=8.0)
    hashed = sh.select("doc_id", _parity_base(F.col("shingle")).alias("h"))
    fold = " + ".join(
        f"CASE WHEN sum(CASE WHEN shiftright(h, {b}) & 1 = 1 THEN 1 ELSE -1"
        f" END) > 0 THEN {1 << b}L ELSE 0L END" for b in range(SIMHASH_BITS))
    sums = hashed.groupBy("doc_id").agg(F.expr(fold).alias("simhash"))
    ids = df.select(F.col(id_col).alias("doc_id"))
    return (ids.join(sums, "doc_id", "left")
               .selectExpr("doc_id", "coalesce(simhash, 0L) AS simhash"))


# ---------------------------------------------------------------------------
# span-level dedup (paragraph dedup for corpora without paragraph breaks)
# ---------------------------------------------------------------------------

def span_table(df: DataFrame, id_col: str, text_col: str,
               span_tokens: int = 10) -> DataFrame:
    """(doc_id, pos, span) — the token stream cut into fixed-size spans.

    The scalable unit for sub-document dedup: spans are bounded-size
    strings, so the downstream groupBy(span) shuffle carries rows of
    predictable width no matter how long individual documents are."""
    from ..sources.catalog import fan_out
    df = fan_out(df, id_col)
    t = F.expr(tokens(f"`{text_col}`"))
    n_spans = F.ceil(F.size(t) / F.lit(span_tokens)).cast("int")
    spans = F.when(F.size(t) == 0, F.array().cast("array<string>")).otherwise(
        F.transform(F.sequence(F.lit(0), n_spans - 1),
                    lambda i: F.concat_ws(" ", F.slice(t, i * span_tokens + 1,
                                                      span_tokens))))
    return (df.select(F.col(id_col).alias("doc_id"),
                      F.posexplode(spans).alias("pos", "span")))


def span_dedup(df: DataFrame, id_col: str, text_col: str,
               span_tokens: int = 10) -> DataFrame:
    """Corpus-wide span-level dedup with order-preserving reassembly.

    Keep-first semantics: a span survives only at its lexicographically
    first occurrence (min (doc_id, pos)) — deterministic under retries,
    unlike "first seen" which depends on task scheduling. Reassembly
    sorts each document's surviving spans by position inside an array
    (``array_sort`` of (pos, span) structs), so no per-document window
    or secondary sort stage is needed.

    Plan: one explode (map-side) → one WINDOW over partitionBy(span) to
    elect keepers (round 11; previously a groupBy(span) + join-back whose
    two sides each re-derived the explode subtree) → one groupBy(doc)
    shuffle to reassemble. Skew profile of the window election: a
    boilerplate span repeated millions of times lands in ONE window
    partition — it spills and completes but, unlike the old SMJ
    join-back, AQE's skew-join splitting cannot divide it; at that
    corpus shape prefer hashing spans and salting the election
    (``substring_dedup``'s hashed-gram discipline) over reverting to
    the double-derivation join.

    Contract: ``id_col`` must be unique in ``df`` (every caller passes a
    primary key). ``n_spans`` is computed per ROW in closed form
    (``ceil(size(tokens)/span_tokens)``, round 11); under duplicate ids
    the pre-r11 groupBy(doc).count() would have summed spans across the
    id's rows instead — same values only under the uniqueness contract.

    Returns (doc_id, n_spans, n_kept, dedup_text); fully-duplicate
    documents keep zero spans and get ``dedup_text = ''``.
    """
    sp = span_table(df, id_col, text_col, span_tokens)
    # Keeper election as a WINDOW over the span partition instead of the
    # old groupBy(span) + join-back: the join's two sides each contained
    # the whole explode subtree, so the span table was derived twice per
    # execution (and a third time for totals) — the window shares ONE
    # exchange on the same key, same skew profile, identical min-struct
    # election (guide §2.4: two operations keyed the same way share one
    # exchange).
    ws = W.partitionBy("span")
    kept = (sp.select("doc_id", "pos", "span",
                      F.min(F.struct("doc_id", "pos")).over(ws).alias("keep"))
              .filter((F.col("keep.doc_id") == F.col("doc_id"))
                      & (F.col("keep.pos") == F.col("pos"))))
    reassembled = (kept.groupBy("doc_id")
                       .agg(F.count(F.lit(1)).cast("int").alias("n_kept"),
                            F.array_join(
                                F.transform(
                                    F.array_sort(F.collect_list(
                                        F.struct("pos", "span"))),
                                    lambda s: s["span"]),
                                " ").alias("dedup_text")))
    # n_spans is closed-form per document (it is the very expression
    # span_table explodes), so the third derivation of the span table
    # collapses to map-side arithmetic over the source rows.
    t = F.expr(tokens(f"`{text_col}`"))
    n_spans = F.ceil(F.size(t) / F.lit(span_tokens)).cast("int")
    totals = df.select(F.col(id_col).alias("doc_id"),
                       F.coalesce(n_spans, F.lit(0)).alias("n_spans"))
    return (totals.join(reassembled, "doc_id", "left")
                  .select("doc_id", "n_spans",
                          F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                          F.coalesce("dedup_text", F.lit(""))
                           .alias("dedup_text")))


# ---------------------------------------------------------------------------
# exact substring dedup (overlapping k-gram anchors, suffix-array semantics)
# ---------------------------------------------------------------------------

def gram_table(df: DataFrame, id_col: str, text_col: str,
               k: int = 8) -> DataFrame:
    """(doc_id, pos, gram) — OVERLAPPING k-token windows at stride 1.

    Unlike ``span_table``'s disjoint spans, every token position opens a
    window, so a duplicated passage is detected at ANY alignment — the
    property suffix-array substring dedup has and fixed-span dedup lacks.
    Documents shorter than ``k`` tokens contribute no anchors. ``pos`` is
    the 0-based token index of the window start."""
    from ..sources.catalog import fan_out
    # density=k: stride-1 windows amplify bytes ~×k before the gram
    # shuffle — measured fastest at full width (fan-out sweep, r12)
    df = fan_out(df, id_col, density=float(k))
    t = tokens(f"`{text_col}`")
    grams = (f"CASE WHEN size({t}) < {k} THEN CAST(array() AS array<string>) "
             f"ELSE transform(sequence(1, size({t}) - {k - 1}), "
             f"i -> concat_ws(' ', slice({t}, i, {k}))) END")
    return df.selectExpr(f"`{id_col}` AS doc_id",
                         f"posexplode({grams}) AS (pos, gram)")


def substring_dedup(df: DataFrame, id_col: str, text_col: str,
                    k: int = 8) -> DataFrame:
    """Exact substring-level dedup: remove every passage of >= ``k``
    tokens that also occurs elsewhere in the corpus, keeping only its
    globally-first occurrence (the distributed re-expression of
    suffix-array training-data dedup, Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better").

    Semantics (deterministic, retry-safe):

    - every overlapping k-token window is an anchor (``gram_table``);
    - for each gram occurring >= 2 times corpus-wide, the occurrence with
      the smallest (doc_id, pos) is the keeper; all other occurrences are
      duplicate anchors;
    - a token is removed iff some duplicate anchor's window covers it;
      adjacent/overlapping covered ranges merge into maximal spans —
      exactly the maximal repeated-substring intervals a suffix array
      yields, minus up to k-1 boundary tokens of alignment slack;
    - surviving tokens are re-joined in order.

    Plan shape: one explode (map-side, stride-1 so bytes amplify ~×k —
    the same ×k a suffix array pays in pointers), one WINDOW over
    partitionBy(gram) electing keepers (round 11; previously a
    groupBy(gram) + join-back whose sides each re-ran the explode), and
    one groupBy(doc) to assemble the removal set. Skew note: a
    boilerplate gram repeated millions of times lands in one window
    partition (spills, completes, but AQE cannot split it) — at that
    corpus shape, pre-salt the election or special-case the hot grams.

    The election shuffles 8-byte ``xxhash64`` keys instead of k-token
    strings. The output never carries the key, so the result equals the
    raw-gram grouping on every corpus without a 64-bit hash collision;
    the DuckDB oracle groups the raw grams, so a collision on a checked
    corpus would show as a mismatch.

    Returns (doc_id, n_tokens, n_removed, n_spans_removed, dedup_text).
    """
    gr = gram_table(df, id_col, text_col, k)
    # Keeper election as a WINDOW over the gram partition instead of the
    # old groupBy(g) + join-back: the join's sides each embedded the
    # stride-1 gram explode, so the corpus was tokenized and exploded
    # TWICE per execution. One exchange on g now carries the whole
    # election (guide §2.4); min-struct/count semantics unchanged, and
    # boilerplate-gram skew hits this shuffle exactly as it hit the
    # join's anchor side before.
    dup = df.sparkSession.sql("""
SELECT doc_id, pos FROM (
  SELECT doc_id, pos, min(struct(doc_id, pos)) OVER w AS keep,
         count(1) OVER w AS n_occ
  FROM (SELECT doc_id, pos, xxhash64(gram) AS g FROM {gr})
  WINDOW w AS (PARTITION BY g))
WHERE n_occ >= 2 AND NOT (keep.doc_id = doc_id AND keep.pos = pos)""", gr=gr)
    return _reassemble_removed(
        df.selectExpr(f"`{id_col}` AS doc_id",
                      f"{tokens(f'`{text_col}`')} AS t"),
        dup, k)


def _reassemble_removed(base: DataFrame, dup: DataFrame,
                        k: int) -> DataFrame:
    """Shared tail of the substring-dedup family: expand duplicate
    anchors (doc_id, pos) to covered token positions, merge them into
    maximal islands, and reassemble each document's surviving text in
    O(n) — concatenating the token slices BETWEEN islands instead of
    testing every token against the removal set (which is O(n·removed)
    per document: quadratic on a fully-duplicated long document,
    exactly the worst case a clone-heavy crawl hits). ``base`` is
    (doc_id, t) with t the full token array; a NULL t (NULL source
    text) normalizes to the empty array so the output contract matches
    ``span_dedup`` — n_tokens 0 and dedup_text '', never NULL."""
    # island boundaries in the sorted removal set (element_at is 1-based,
    # so element_at(rs, i) IS the predecessor of the element at 0-based
    # lambda index i; the CASE guards keep ANSI mode off index 0 /
    # past-the-end)
    rs = "coalesce(removed, CAST(array() AS array<int>))"
    starts = (f"filter({rs}, (x, i) -> CASE WHEN i = 0 THEN TRUE "
              f"ELSE x != element_at({rs}, i) + 1 END)")
    ends = (f"filter({rs}, (x, i) -> CASE WHEN i = size({rs}) - 1 THEN TRUE "
            f"ELSE element_at({rs}, i + 2) != x + 1 END)")
    # islands are maximal, so inter-island gaps are >= 1 token and every
    # slice length below is >= 0
    inner = (f"flatten(transform({starts}, (s, j) -> CASE WHEN j = 0 "
             f"THEN slice(t, 1, s) ELSE slice(t, element_at({ends}, j) + 2, "
             f"s - element_at({ends}, j) - 1) END))")
    last = f"element_at({ends}, size({ends}))"
    tail = f"slice(t, {last} + 2, size(t) - {last} - 1)"
    return base.sparkSession.sql(f"""
WITH b AS (SELECT doc_id, coalesce(t, CAST(array() AS array<string>)) AS t
           FROM {{base}}),
rem AS (
  SELECT doc_id, array_sort(collect_set(tpos)) AS removed
  FROM (SELECT doc_id, explode(sequence(pos, pos + {k - 1})) AS tpos
        FROM {{dup}})
  GROUP BY doc_id)
SELECT b.doc_id, size(t) AS n_tokens,
       coalesce(size(removed), 0) AS n_removed,
       size({starts}) AS n_spans_removed,
       array_join(CASE WHEN size({rs}) = 0 THEN t
                       ELSE concat({inner}, {tail}) END, ' ') AS dedup_text
FROM b LEFT JOIN rem ON b.doc_id = rem.doc_id""", base=base, dup=dup)


def incremental_substring_dedup(corpus: DataFrame, batch: DataFrame,
                                id_col: str, text_col: str,
                                k: int = 8) -> DataFrame:
    """Exact substring dedup of a NEW batch against an EXISTING corpus:
    every >= k-token passage of a batch document that already occurs
    anywhere in the corpus is removed (the incremental sibling of
    ``substring_dedup``, mirroring ``incremental_dedup``'s contract).
    Batch-internal duplication is deliberately out of scope — it
    belongs to the ordinary whole-corpus pass, not the incremental
    probe. Returns the same five columns as ``substring_dedup``, one
    row per batch document.

    Scale shape: the corpus side reduces to its DISTINCT gram set — a
    persistable index of 8-byte xxhash64 keys,
    exactly like the signature index in ``incremental_dedup`` — and the
    per-batch cost is one left-semi probe join of the batch's anchors
    against it, i.e. batch-sized, never corpus-rescanning (the index
    builds once and appends as batches commit)."""
    index = (gram_table(corpus, id_col, text_col, k)
             .select(F.xxhash64("gram").alias("g")).distinct())
    anchors = (gram_table(batch, id_col, text_col, k)
               .select("doc_id", "pos", F.xxhash64("gram").alias("g")))
    dup = anchors.join(index, "g", "left_semi").select("doc_id", "pos")
    return _reassemble_removed(
        batch.select(F.col(id_col).alias("doc_id"),
                     F.expr(tokens(f"`{text_col}`")).alias("t")),
        dup, k)


# ---------------------------------------------------------------------------
# incremental dedup (new batch vs existing corpus snapshot)
# ---------------------------------------------------------------------------

def incremental_dedup(corpus: DataFrame, batch: DataFrame, id_col: str,
                      text_col: str, threshold: float = 0.7, k: int = 16,
                      bands: int = 4, n: int = 3) -> DataFrame:
    """Classify each new-batch document against an existing corpus:
    ``exact`` (byte-identical after normalization), ``near`` (MinHash-LSH
    candidate verified at ``jaccard >= threshold``), or ``new``. Returns
    ``(doc_id, status, match_id)`` where match_id is the smallest matching
    corpus id (deterministic) and NULL for ``new``.

    Ids must be disjoint across the two inputs. Exact wins over near;
    batch-internal duplicates are deliberately out of scope (they belong
    to the ordinary whole-corpus pass, not the incremental probe).

    Scale shape: the exact probe is a fingerprint equi-join (corpus side
    is (id, fp) only — a slim projection, not the text). The near probe
    runs MinHash over corpus ∪ batch and keeps only cross pairs; at
    production scale the corpus signature/band table is the persisted
    index (it depends only on the corpus), so each arriving batch pays
    signatures for ITS OWN documents plus one join against the index —
    the same incremental-cost argument as the reference's AlterId diff
    protocol (reference src/tally.mts:88-307), transplanted to dedup.
    """
    fp = f"{fingerprint_md5(f'`{text_col}`')} AS fp"
    fp_c = corpus.selectExpr(f"`{id_col}` AS c_id", fp)
    fp_b = batch.selectExpr(f"`{id_col}` AS doc_id", fp)
    exact = (fp_b.join(fp_c, "fp")
                 .groupBy("doc_id").agg(F.min("c_id").alias("match_id")))

    both = (corpus.select(F.col(id_col).alias("doc_id"), text_col)
                  .unionByName(batch.select(F.col(id_col).alias("doc_id"),
                                            text_col)))
    # materialized once: both pair orientations below consume it, and the
    # MinHash/LSH subtree is the expensive part — without the checkpoint
    # the whole signature+banding pipeline executes twice
    pairs = minhash_near_duplicates(both, "doc_id", text_col, threshold,
                                    k, bands, n) \
        .localCheckpoint(eager=False)
    b_ids = batch.select(F.col(id_col).alias("doc_id"))
    # orient each cross pair as (batch doc, corpus partner)
    d1b = pairs.join(b_ids.withColumnRenamed("doc_id", "d1"), "d1", "left_semi") \
               .join(b_ids.withColumnRenamed("doc_id", "d2"), "d2", "left_anti") \
               .select(F.col("d1").alias("doc_id"), F.col("d2").alias("m"))
    d2b = pairs.join(b_ids.withColumnRenamed("doc_id", "d2"), "d2", "left_semi") \
               .join(b_ids.withColumnRenamed("doc_id", "d1"), "d1", "left_anti") \
               .select(F.col("d2").alias("doc_id"), F.col("d1").alias("m"))
    near = (d1b.unionByName(d2b)
               .join(exact.select("doc_id"), "doc_id", "left_anti")
               .groupBy("doc_id").agg(F.min("m").alias("match_id")))

    e = exact.withColumn("status", F.lit("exact"))
    nr = near.withColumn("status", F.lit("near"))
    return (b_ids.join(e.unionByName(nr), "doc_id", "left")
                 .select("doc_id",
                         F.coalesce("status", F.lit("new")).alias("status"),
                         "match_id"))
