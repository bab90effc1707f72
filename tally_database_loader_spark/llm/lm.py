"""Model-based corpus scoring and mixture resampling.

``unigram_logprob`` — corpus-trained unigram language-model score per
document (mean log-probability): the cheap statistical stand-in for the
perplexity filters used in CCNet/Gopher-style curation, where a corpus
LM scores each document and the tails are dropped. Everything is
relational: the "model" is the token-count table.

Scale shape: one explode + two aggregations. The count table is
vocabulary-sized (≪ corpus), so the scoring join broadcasts it; the
per-document mean aggregates map-side. The corpus total is a single-row
probe-then-parameterize scalar (same discipline as BM25 in
``llm/tfidf.py``).

Float discipline: per-token log-probs are quantized to fixed-point
BIGINTs (``floor(ln(p) * 1e6)``) *before* the per-document sum, so the
aggregation is associative integer math — immune to AQE partition-order
nondeterminism and reproducible bit-for-bit in any SQL engine. The one
double division happens after the exact sum.

``temperature_resample`` — mixture re-weighting by sampling temperature
(mT5/Gopher style): group g with n_g documents is kept at a rate ∝
n_g^(α-1) with α = 1/2, flattening over-represented sources. Selection
is a deterministic keyed-hash threshold, not ``rand()`` — retry and
speculation stable. The per-group thresholds are derived with *pure
integer arithmetic* over ``floor(√n · 2^20)`` weights (√ is IEEE
correctly-rounded, so every engine quantizes identically), making the
kept set bit-reproducible in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame
from .packing import hash_order
from .text import tokens as _tokens

__all__ = ["unigram_logprob", "bigram_logprob", "temperature_resample",
           "cooccurrence_pmi", "bpe_pair_counts", "dsir_importance"]

_Q = 1_000_000  # fixed-point scale for log-prob quantization
_H = 1 << 20    # hash-threshold denominator for sampling


def unigram_logprob(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text",
                    tokens_col: str | None = None) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram distribution (no smoothing needed — every scored token was
    counted). Output: ``doc_id, n_tokens, lm_score`` with ``lm_score =
    Σ floor(ln(count(t)/N)·1e6) / (1e6·n)`` (NULL for token-less docs);
    more negative = more surprising under the corpus model.

    ``tokens_col`` names a pre-staged token-array column to score instead
    of re-running the tokenizer regex over ``text_col`` — callers that
    run several scorers over one corpus (lm_score_suite) materialize the
    token arrays ONCE and every scorer reads them (the round-11 staging
    discipline of llm/text.py, extended across operators in round 12)."""
    toks_arr = F.col(tokens_col) if tokens_col else F.expr(_tokens(f"`{text_col}`"))
    tok = docs.select(F.col(id_col).alias("doc_id"),
                      F.explode(toks_arr).alias("tok"))
    # vocabulary-sized model table, checkpointed: the N probe folds from
    # it (Σc == token count) and the broadcast build reads the same
    # blocks — ONE corpus tokenize pass builds the model instead of three
    counts = (tok.groupBy("tok").agg(F.count("*").alias("c"))
                 .localCheckpoint(eager=False))
    n_total = int(counts.agg(F.sum("c")).first()[0] or 0)
    q = F.floor(F.log(F.col("c").cast("double") / F.lit(float(n_total)))
                * F.lit(_Q)).cast("long")
    scored = (tok.join(F.broadcast(counts), "tok")
                 .groupBy("doc_id")
                 .agg(F.sum(q).alias("qsum"), F.count("*").alias("n")))
    return (docs.select(F.col(id_col).alias("doc_id"))
                .join(scored, "doc_id", "left")
                .select("doc_id",
                        F.coalesce(F.col("n"), F.lit(0)).cast("int")
                         .alias("n_tokens"),
                        (F.col("qsum").cast("double")
                         / (F.col("n") * F.lit(_Q)).cast("double"))
                        .alias("lm_score")))


def bigram_logprob(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", add_k: int = 1,
                   broadcast_model: bool = True,
                   tokens_col: str | None = None) -> DataFrame:
    """Per-document mean *bigram* conditional log-probability with add-k
    smoothing — the context-sensitive upgrade of ``unigram_logprob``
    (KenLM-style perplexity filters score with an n-gram model; bigrams
    are the smallest model where word order matters, so boilerplate with
    common words in odd orders scores low while fluent text scores high).

    Model: ``p(w2|w1) = (C(w1,w2) + k) / (C(w1·) + k·V)`` with ``V`` the
    corpus vocabulary size and ``C(w1·)`` the bigram-left context total.
    Both count tables are derived in one pass over the exploded bigram
    stream; the context table folds FROM the bigram table (observed-pair
    sized — never re-scans the corpus). ``V`` is a probe-then-parameterize
    scalar (same discipline as BM25 / unigram_logprob).

    Float discipline: per-bigram log-probs quantize to fixed-point BIGINT
    (``floor(ln(p)·1e6)``) before the per-document sum — associative
    integer math, AQE/retry-stable, bit-reproducible in any SQL engine.

    Scale shape: scoring joins the pair stream back to the model on
    (w1, w2). With ``broadcast_model=True`` (default) the model table is
    broadcast — right whenever the observed-bigram table fits executor
    memory (vocabulary-bounded, ≪ corpus). For an open-domain 100 TB
    corpus whose bigram table outgrows broadcast, pass ``False`` and the
    join shuffles on (w1, w2) instead — correctness identical.

    Output: ``doc_id, n_bigrams, lm2_score`` (NULL score for docs with
    fewer than two tokens).
    """
    if add_k <= 0:
        raise ValueError("add_k must be positive")
    toks = F.col(tokens_col) if tokens_col else F.expr(_tokens(f"`{text_col}`"))
    n = F.size(toks)
    # adjacent pairs via slice+zip_with (two O(n) array walks) — ~40%
    # faster than element_at-per-index, which re-derives positions
    bi_arr = F.when(n >= 2, F.zip_with(
        F.slice(toks, 1, n - 1), F.slice(toks, 2, n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))) \
        .otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    pairs = (docs.select(F.col(id_col).alias("doc_id"),
                         F.explode(bi_arr).alias("p"))
                 .select("doc_id", "p.w1", "p.w2"))
    bc = pairs.groupBy("w1", "w2").agg(F.count("*").alias("cb"))
    if broadcast_model:
        # observed-pair-sized (the same bound the broadcast itself
        # assumes) — checkpointing it means the context fold and the
        # model broadcast read these blocks instead of re-exploding the
        # corpus pair stream twice
        bc = bc.localCheckpoint(eager=False)
    ctx = bc.groupBy("w1").agg(F.sum("cb").alias("cw"))
    vocab = (docs.select(F.explode(toks).alias("tok"))
                 .agg(F.countDistinct("tok")).first()[0])  # scalar probe
    model = bc.join(ctx, "w1")
    if broadcast_model:
        model = F.broadcast(model)
    q = F.floor(F.log((F.col("cb") + F.lit(add_k)).cast("double")
                      / (F.col("cw") + F.lit(add_k * int(vocab)))
                        .cast("double")) * F.lit(_Q)).cast("long")
    scored = (pairs.join(model, ["w1", "w2"])
                   .groupBy("doc_id")
                   .agg(F.sum(q).alias("qsum"), F.count("*").alias("nb")))
    return (docs.select(F.col(id_col).alias("doc_id"))
                .join(scored, "doc_id", "left")
                .select("doc_id",
                        F.coalesce(F.col("nb"), F.lit(0)).cast("int")
                         .alias("n_bigrams"),
                        (F.col("qsum").cast("double")
                         / (F.col("nb") * F.lit(_Q)).cast("double"))
                        .alias("lm2_score")))


def bpe_pair_counts(docs: DataFrame, text_col: str = "text",
                    top_k: int = 100,
                    tokens_col: str | None = None) -> DataFrame:
    """Adjacent character-pair frequencies — the statistic a BPE tokenizer
    trainer computes at every merge step (the highest-count pair becomes
    the next merge rule). One relational round = one training iteration's
    candidate table.

    Scale shape: the corpus is scanned ONCE to build the word-frequency
    vocabulary (map-side partial agg → vocabulary-sized table); pair
    generation then explodes characters of *distinct words* weighted by
    their corpus frequency — the classic BPE trick that makes the pair
    scan O(vocabulary), independent of corpus size. Top-k lands in a
    TakeOrderedAndProject (no global sort materialization).

    Output: ``a, b, n_pairs`` — the ``top_k`` most frequent pairs,
    deterministically tie-broken by (a, b).
    """
    if top_k <= 0:
        raise ValueError("top_k must be positive")
    toks_arr = F.col(tokens_col) if tokens_col else F.expr(_tokens(f"`{text_col}`"))
    words = (docs.select(F.explode(toks_arr).alias("w"))
                 .groupBy("w").agg(F.count("*").alias("wc")))
    ln = F.length("w")
    # sequence(1, len-1) would DESCEND for 1-char words (Spark extends
    # sequences both ways) — guard on length ≥ 2.
    pair_arr = F.when(ln >= 2, F.transform(
        F.sequence(F.lit(1), ln - 1),
        lambda i: F.struct(F.col("w").substr(i, F.lit(1)).alias("a"),
                           F.col("w").substr(i + 1, F.lit(1)).alias("b")))) \
        .otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    return (words.select("wc", F.explode(pair_arr).alias("p"))
                 .groupBy("p.a", "p.b")
                 .agg(F.sum("wc").cast("long").alias("n_pairs"))
                 .orderBy(F.desc("n_pairs"), "a", "b")
                 .limit(top_k))


def bpe_train(docs: DataFrame, text_col: str = "text", k: int = 3,
              min_count: int = 2) -> DataFrame:
    """Train ``k`` BPE merges at corpus scale (Sennrich et al. 2016) —
    the full greedy tokenizer-training loop, not just one iteration's
    candidate table (``bpe_pair_counts``): at each step count adjacent
    symbol pairs over the vocabulary, adopt the most frequent (ties →
    lexicographic (left, right) — deterministic), and rewrite every
    word's symbol sequence by greedy leftmost non-overlapping merging.
    Stops early when no pair reaches ``min_count``.

    Scale shape — the classic BPE trick: the corpus is scanned ONCE for
    the word-frequency vocabulary; every iteration after that is
    O(vocabulary), independent of corpus size (pair explode + one
    partial-agg'd groupBy + a map-side fold rewrite). Each step's winner
    is a 1-row driver probe (same probe-then-parameterize shape as
    BM25); ``localCheckpoint`` trims the per-iteration lineage so step
    ``s`` costs one vocabulary pass, not ``s`` of them.

    The merge rewrite is a left fold (``F.aggregate``): append each
    symbol unless the accumulator tail is ``left`` and the symbol is
    ``right`` — which IS greedy leftmost non-overlapping ("aaa" with
    pair (a,a) → [aa, a], because the merged tail "aa" no longer equals
    "a"). The DuckDB oracle replays the identical fold as a recursive
    CTE per word, so the full k-step chain is value-hash-checked like
    the k-means Lloyd chain.

    Output: ``step, lhs, rhs, n_pairs`` — the learned merge table
    (≤ k rows; driver-side by construction, one row per probe)."""
    if k < 1:
        raise ValueError("k must be positive")
    spark = docs.sparkSession
    words = (docs.select(F.explode(F.expr(_tokens(f"`{text_col}`"))).alias("w"))
                 .groupBy("w").agg(F.count("*").cast("long").alias("wc")))
    ln = F.length("w")
    chars = F.transform(F.sequence(F.lit(1), ln),
                        lambda i: F.col("w").substr(i, F.lit(1)))
    cur = words.select("wc", chars.alias("syms"))
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, k + 1):
        two = cur.filter(F.size("syms") >= 2)
        pair = F.zip_with(
            F.slice("syms", 1, F.size("syms") - 1),
            F.slice("syms", 2, F.size("syms") - 1),
            lambda a, b: F.struct(a.alias("a"), b.alias("b")))
        top = (two.select("wc", F.explode(pair).alias("p"))
                  .groupBy("p.a", "p.b")
                  .agg(F.sum("wc").cast("long").alias("n_pairs"))
                  .orderBy(F.desc("n_pairs"), "a", "b")
                  .limit(1).collect())
        if not top or top[0]["n_pairs"] < min_count:
            break
        a, b, n = top[0]["a"], top[0]["b"], int(top[0]["n_pairs"])
        merges.append((step, a, b, n))
        fold = F.aggregate(
            "syms", F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(a)) & (x == F.lit(b)),
                F.concat(F.slice(acc, 1, F.size(acc) - 1),
                         F.array(F.lit(a + b))))
             .otherwise(F.concat(acc, F.array(x))))
        cur = cur.select("wc", fold.alias("syms")).localCheckpoint()
    return local_frame(spark, merges,
                       "step int, lhs string, rhs string, n_pairs long")


def _color_candidates(ranked: list[tuple[str, str, int]], batch: int,
                      max_classes: int) -> list[list[tuple[str, str, int]]]:
    """Greedy-color a ranked BPE candidate list (count desc, then
    (lhs, rhs)) over its conflict graph: each candidate takes the
    SMALLEST class where it neither shares an operand symbol with an
    earlier adoption (the exact-counts condition) nor string-collides
    with one (operand == a class concat, or concat == a class operand
    — the ``bpe_train_batched`` cascade guard), until ``batch`` pairs
    are adopted in total; candidates conflicting with every class are
    skipped. Pure driver-side logic, factored out so the guard branch
    is unit-testable on synthetic candidate lists (the collision is
    believed unreachable from single-char initialization — see the
    trainer docstring). Returns ``max_classes`` per-class pair lists;
    a class is non-empty only if every earlier class is (greedy
    coloring fills classes in order)."""
    classes: list[list[tuple[str, str, int]]] = [[] for _ in
                                                 range(max_classes)]
    used: list[set[str]] = [set() for _ in range(max_classes)]
    made: list[set[str]] = [set() for _ in range(max_classes)]
    n_adopt = 0
    for a, b, n in ranked:
        if n_adopt >= batch:
            break
        for c in range(max_classes):
            if (a not in used[c] and b not in used[c]
                    and (a + b) not in used[c]
                    and a not in made[c] and b not in made[c]):
                classes[c].append((a, b, n))
                used[c].update((a, b))
                made[c].add(a + b)
                n_adopt += 1
                break
    return classes


def bpe_train_batched(docs: DataFrame, text_col: str = "text",
                      rounds: int = 2, batch: int = 4,
                      min_count: int = 2, scan_mult: int = 4,
                      max_classes: int = 4) -> DataFrame:
    """Batched BPE training with CONFLICT-GRAPH (greedy-coloring)
    adoption: per ROUND, rank the top ``scan_mult·batch`` candidate
    pairs, greedy-color them over the candidate conflict graph
    (highest-count-first; conflict = sharing a symbol OR a string-level
    merge collision, below), adopt up to ``batch`` pairs across the
    first ``max_classes`` color classes, and apply each class as its
    own combined fold pass IN CLASS ORDER — cutting the driver-bound
    sequential rounds from k to ~k/batch (round 7 shipped the
    single-class symbol-disjoint variant at a measured 8–22 adoptions
    per 32-pair budget; round-8 coloring fills the budget whenever the
    scan window holds enough eligible candidates, because conflicting
    pairs land in later classes instead of being dropped — SCALE.md
    §15 has the measured adoption table).

    Why coloring is sound: merging (a, b) can only create or destroy
    adjacencies that INVOLVE a or b, so pre-round counts of pairs
    sharing no symbol with any same-class earlier pair stay exact —
    class 1 counts are exact, exactly like round-7's disjoint batch.
    Classes ≥ 2 conflict with earlier classes by construction, so
    their pre-round counts are UPPER BOUNDS at application time (a
    later-class merge can even find zero sites and no-op); that stale
    ranking is the documented batching trade-off, the per-word REWRITE
    stays exact regardless (a fold only merges adjacencies that
    actually exist when its class runs).

    String-collision guard (within a class; ADVICE r7): beyond symbol
    disjointness, a candidate (a, b) is bumped to the next class when
    a+b equals an already-adopted operand, or a or b equals an
    already-adopted pair's concat — e.g. (x, yz) and (xyz, c) with
    ``xyz`` pre-existing via (xy, z). Without the guard such a class
    fold would cascade x·yz→xyz→xyzc in one pass while step-order
    sequential replay (``bpe_encode``) would not. We believe the
    collision is UNREACHABLE from single-character initialization (a
    string's creating merge consumes all its constituent adjacencies,
    and merges never create new adjacencies between pre-existing
    symbols, so two live decompositions of one string cannot coexist
    — 200 seeded random corpora never trigger it), but the guard
    costs O(batch) driver-side string lookups and makes the
    equivalence claim UNCONDITIONAL instead of resting on that
    argument: within a class no rule can consume or produce another
    rule's symbols, so
    the class fold ≡ one-at-a-time application of its pairs, classes
    apply in step order, and therefore the WHOLE merge table replayed
    sequentially by ``bpe_encode`` reproduces the trainer's
    tokenization on every corpus (pinned by
    tests/test_llm.py::test_bpe_batched_fold_equals_sequential_replay
    against a pure-Python reference trainer, and the guard branch
    itself by tests over synthetic candidate lists — reachable or
    not, the invariant is enforced, which also covers any future
    caller that seeds symbol sequences differently).

    A round adopts nothing only when NO pair reaches ``min_count``
    (class 1 starts empty each round, so a non-empty candidate list
    always adopts its head) — then the vocabulary is unchanged and
    training stops, matching ``bpe_train``'s early stop.

    Scale shape: one O(vocabulary) pair count + one ≤ ``scan_mult·
    batch``-row driver probe + ≤ ``max_classes`` fold rewrites per
    ROUND (all lazy; one ``localCheckpoint`` per round bounds
    lineage). ``scan_mult`` sizes the candidate window the coloring
    draws from; with coloring, scan_mult=4 already fills a 32-pair
    budget on the measured envelope corpus (32.0/32 vs single-class
    10.9/32, SCALE.md §16); at batch=64 the window and classes both
    bind, and scanning deeper + more classes fills that budget too
    (measured). Production guidance: batch 32–64, scan_mult 4–16,
    max_classes 4–8.

    Output: ``round, cls, step, lhs, rhs, n_pairs`` — ``step`` is the
    global APPLICATION order (round, then class, then rank within
    class): feeding ``bpe_encode`` ordered by ``step`` reproduces
    training exactly."""
    if rounds < 1 or batch < 1 or scan_mult < 1 or max_classes < 1:
        raise ValueError(
            "rounds, batch, scan_mult and max_classes must be positive")
    spark = docs.sparkSession
    words = (docs.select(F.explode(F.expr(_tokens(f"`{text_col}`"))).alias("w"))
                 .groupBy("w").agg(F.count("*").cast("long").alias("wc")))
    ln = F.length("w")
    chars = F.transform(F.sequence(F.lit(1), ln),
                        lambda i: F.col("w").substr(i, F.lit(1)))
    cur = words.select("wc", chars.alias("syms"))
    merges: list[tuple[int, int, int, str, str, int]] = []
    for rnd in range(1, rounds + 1):
        two = cur.filter(F.size("syms") >= 2)
        pair = F.zip_with(
            F.slice("syms", 1, F.size("syms") - 1),
            F.slice("syms", 2, F.size("syms") - 1),
            lambda a, b: F.struct(a.alias("a"), b.alias("b")))
        ranked = (two.select("wc", F.explode(pair).alias("p"))
                     .groupBy("p.a", "p.b")
                     .agg(F.sum("wc").cast("long").alias("n_pairs"))
                     .filter(F.col("n_pairs") >= min_count)
                     .orderBy(F.desc("n_pairs"), "a", "b")
                     .limit(batch * scan_mult).collect())
        classes = _color_candidates(
            [(r["a"], r["b"], int(r["n_pairs"])) for r in ranked],
            batch, max_classes)
        if not any(classes):
            break
        for cls, pairs in enumerate(classes, start=1):
            for a, b, n in pairs:
                merges.append((rnd, cls, len(merges) + 1, a, b, n))

        def make_fold(pairs):
            # NB: the merge lambda must take exactly (acc, x) — pyspark
            # binds EVERY named parameter as a lambda Column, so the
            # adopted pairs enter via this closure, not a default arg
            def fold_step(acc, x):
                tail = F.element_at(acc, -1)
                out = F.concat(acc, F.array(x))
                # within a class the conditions are mutually exclusive
                # (operand symbols pairwise distinct; the collision
                # guard keeps same-class concats inert), so chain
                # order is immaterial
                for a, b, _ in pairs:
                    merged = F.concat(F.slice(acc, 1, F.size(acc) - 1),
                                      F.array(F.lit(a + b)))
                    out = F.when((F.size(acc) > 0) & (tail == F.lit(a))
                                 & (x == F.lit(b)), merged).otherwise(out)
                return out
            return fold_step

        for pairs in classes:
            if not pairs:
                break  # coloring fills classes in order; rest are empty
            fold = F.aggregate("syms", F.array().cast("array<string>"),
                               make_fold(tuple(pairs)))
            cur = cur.select("wc", fold.alias("syms"))
        cur = cur.localCheckpoint()
    return local_frame(
        spark, merges,
        "round int, cls int, step int, lhs string, rhs string, "
        "n_pairs long")


def bpe_encode(docs: DataFrame, merges: list[tuple[str, str]],
               id_col: str = "doc_id", text_col: str = "text",
               checkpoint_every: int = 8) -> DataFrame:
    """Apply a learned BPE merge table (``bpe_train`` output order) to
    the corpus — per-document token counts under the REAL trained
    tokenizer, completing the train→encode story (the whitespace/regex
    token counts elsewhere are pre-tokenizer approximations).

    Scale shape — the same vocabulary trick as training: the fold work
    runs over DISTINCT words only (O(vocabulary) regardless of corpus
    size; each merge is the identical greedy leftmost ``F.aggregate``
    left fold as ``bpe_train``, so train and encode CANNOT disagree on
    merge semantics), then the word → symbol-count map equi-joins back
    onto the per-document word stream (AQE broadcasts it when the
    vocabulary is small; at web scale it is a plain shuffle join on
    uniform word keys) and aggregates map-side. Every
    ``checkpoint_every`` merges the vocabulary DataFrame
    localCheckpoints so a large merge table does not stack k fold
    expressions into one analyzer tree (the bpe_train lineage lesson).

    Output: ``doc_id, n_words, n_bpe_tokens`` — one row per input
    document (zero-token documents kept with zeros)."""
    words = docs.select(F.col(id_col).alias("doc_id"),
                        F.explode(F.expr(_tokens(f"`{text_col}`"))).alias("w"))
    ln = F.length("w")
    chars = F.transform(F.sequence(F.lit(1), ln),
                        lambda i: F.col("w").substr(i, F.lit(1)))
    vocab = words.select("w").distinct().withColumn("__syms", chars)

    def merge_fold(a: str, b: str):
        # a two-arg lambda per PySpark's higher-order introspection;
        # (a, b) captured by closure
        def step(acc, x):
            return F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(a)) & (x == F.lit(b)),
                F.concat(F.slice(acc, 1, F.size(acc) - 1),
                         F.array(F.lit(a + b)))
            ).otherwise(F.concat(acc, F.array(x)))
        return F.aggregate("__syms", F.array().cast("array<string>"), step)

    for i, (a, b) in enumerate(merges):
        vocab = vocab.withColumn("__syms", merge_fold(a, b))
        if (i + 1) % max(1, checkpoint_every) == 0:
            vocab = vocab.localCheckpoint()
    wlen = vocab.select("w", F.size("__syms").cast("long").alias("__n"))
    per_doc = (words.join(wlen, "w")
                    .groupBy("doc_id")
                    .agg(F.count(F.lit(1)).cast("long").alias("n_words"),
                         F.sum("__n").cast("long").alias("n_bpe_tokens")))
    return (docs.select(F.col(id_col).alias("doc_id"))
                .join(per_doc, "doc_id", "left")
                .select("doc_id",
                        F.coalesce("n_words", F.lit(0)).cast("long")
                         .alias("n_words"),
                        F.coalesce("n_bpe_tokens", F.lit(0)).cast("long")
                         .alias("n_bpe_tokens")))


def dsir_importance(docs: DataFrame, target: Column,
                    n_buckets: int = 4096, add_k: int = 1,
                    id_col: str = "doc_id",
                    text_col: str = "text",
                    tokens_col: str | None = None) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169): score every document by how much more likely its
    hashed-unigram features are under a *target* domain than under the
    raw corpus — ``Σ_tokens log(p_target(bucket)/p_raw(bucket))``. The
    top of the ranking is the raw data that "looks like" the target;
    resampling by this weight shifts the corpus mixture toward it.

    ``target`` is a boolean Column over ``docs`` marking the target-domain
    examples (e.g. ``F.col('lang') == 'en'`` or a quality-classifier
    verdict). Features are token hash-buckets (``n_buckets`` of them) so
    the two "models" are fixed-width count vectors regardless of
    vocabulary — the DSIR trick that makes the fit one aggregation.

    Scale shape: one token explode; one bucket-count aggregation bounded
    by ``n_buckets`` (map-side partial agg does almost all the work); the
    bucket-score table (≤ n_buckets rows) broadcasts back onto the token
    stream; the per-document sum aggregates map-side. The two corpus
    totals are probe-then-parameterize scalars (BM25 discipline).

    Float discipline: per-token log-ratios quantize to fixed-point BIGINT
    before the per-document sum. The ratio is computed as
    ``((ct+k)/(cr+k)) · ((Nr+kB)/(Nt+kB))`` — two correctly-rounded
    double divisions of exact integers and one multiply (overflow-free at
    any corpus size, unlike a cross-product numerator), then one ``ln``:
    bit-reproducible across engines, associative under AQE/retries.

    Output: ``doc_id, n_tokens, dsir_logratio`` (mean per-token log
    importance ratio; NULL for token-less documents; higher = more
    target-like).
    """
    if n_buckets <= 0 or add_k <= 0:
        raise ValueError("n_buckets and add_k must be positive")
    toks_arr = F.col(tokens_col) if tokens_col else F.expr(_tokens(f"`{text_col}`"))
    tok = docs.select(F.col(id_col).alias("doc_id"),
                      target.alias("is_t"),
                      F.explode(toks_arr).alias("tok"))
    tok = tok.withColumn(
        "bkt", F.pmod(hash_order(F.col("tok")), F.lit(n_buckets)))
    # n_buckets-row model table, checkpointed: the totals probe and the
    # broadcast build share one corpus tokenize pass
    counts = (tok.groupBy("bkt").agg(
        F.sum(F.when(F.col("is_t"), 1).otherwise(0)).alias("ct"),
        F.count("*").alias("cr"))
        .localCheckpoint(eager=False))
    totals = counts.agg(F.sum("ct"), F.sum("cr")).first()
    n_t, n_r = int(totals[0] or 0), int(totals[1] or 0)
    # p_t/p_r = ((ct+k)/(cr+k)) · ((Nr+kB)/(Nt+kB)) — per-bucket double
    # division times a constant double ratio, one ln, quantized.
    c_ratio = float(n_r + add_k * n_buckets) / float(n_t + add_k * n_buckets)
    ratio = ((F.col("ct") + F.lit(add_k)).cast("double")
             / (F.col("cr") + F.lit(add_k)).cast("double")) * F.lit(c_ratio)
    q = F.floor(F.log(ratio) * F.lit(_Q)).cast("long")
    scored = (tok.join(F.broadcast(counts), "bkt")
                 .groupBy("doc_id")
                 .agg(F.sum(q).alias("qsum"), F.count("*").alias("n")))
    return (docs.select(F.col(id_col).alias("doc_id"))
                .join(scored, "doc_id", "left")
                .select("doc_id",
                        F.coalesce(F.col("n"), F.lit(0)).cast("int")
                         .alias("n_tokens"),
                        (F.col("qsum").cast("double")
                         / (F.col("n") * F.lit(_Q)).cast("double"))
                        .alias("dsir_logratio")))


def temperature_resample(docs: DataFrame, group_col: str, id_col: str,
                         keep_num: int = 1, keep_den: int = 2) -> DataFrame:
    """α=1/2 temperature resampling: keep group g at rate
    ``min(1, C·√n_g/n_g)`` with ``C`` fixing the expected kept corpus
    fraction at ``keep_num/keep_den`` — big groups thin ∝ 1/√n, small
    groups pass (nearly) whole.

    Exact arithmetic: with ``w_g = floor(√n_g · 2^20)`` and
    ``W = Σ w_g``, the keep threshold is the integer
    ``min(2^20, (2^20 · keep_num · N · w_g) // (keep_den · W · n_g))``
    and a document survives iff ``hash(doc_id) mod 2^20 < threshold`` —
    every quantity integer (√ and floor are IEEE-exact), so any SQL
    engine reproduces the identical kept set. Output: ``grp, doc_id``
    of survivors.

    The whole computation is ONE lazy plan (review r5 #3 — no driver
    collect, no dimension-sized-groups assumption): group sizes are one
    aggregation, the two corpus totals (``N``, ``W``) are a second
    1-row aggregation re-entering on a constant-key broadcast hash
    join, the threshold is a per-group Decimal(38,0) expression —
    scale-0 decimals are exact 128-bit integers, so
    ``2^20·keep_num·N·w_g`` cannot overflow int64 the way a LONG
    multiply would beyond ~40k docs — and ``div`` is Spark's integral
    divide (all terms positive, so truncation == floor). Thresholds
    then re-enter the plan as a broadcast-joined ``(grp, thr)``
    dimension, never a per-group when-chain: a 10k-domain corpus would
    otherwise build a 10k-deep CASE expression and choke the analyzer
    long before data volume matters (review r4 #1).
    """
    if keep_num <= 0 or keep_den <= 0 or keep_num > keep_den:
        raise ValueError("keep fraction must be in (0, 1]")
    # reduce and bound the fraction: the Decimal(38,0) threshold product
    # is 2^20·keep_num·N·w_g ≤ 2^60·N^1.5 with keep_num ≤ 2^20, safe to
    # N ≈ 2·10^13 docs — but an astronomically-scaled fraction could
    # push the product past 10^38 where Spark's non-ANSI decimal multiply
    # returns NULL and F.least would silently SKIP it (threshold 2^20 =
    # keep-everything, review r6). Reject loudly instead; any real keep
    # fraction reduces below 2^20.
    from math import gcd
    g = gcd(keep_num, keep_den)
    keep_num, keep_den = keep_num // g, keep_den // g
    if keep_den > _H:
        raise ValueError(f"keep fraction denominator {keep_den} exceeds "
                         f"2^20 after reduction — the exact-integer "
                         "threshold product would overflow Decimal(38,0)")
    # NULL group keys are one more group, matched via a sentinel that
    # cannot collide with a real string key (the group_split convention)
    # — `grp == NULL` would silently drop every NULL-keyed row, and a
    # Python sort over mixed None/str keys raises.
    key = F.coalesce(F.col(group_col).cast("string"), F.lit("\x00<null>"))
    base = docs.select(F.col(group_col).alias("grp_out"), key.alias("grp"),
                       F.col(id_col).alias("doc_id"))
    # w_g = floor(sqrt(n_g)·2^20): sqrt is correctly rounded IEEE in
    # every engine, ·2^20 is an exact power-of-two scaling — identical
    # to the oracle's floor(sqrt(CAST(n AS DOUBLE)) * 1048576)
    wq = (base.groupBy("grp").agg(F.count("*").alias("__tr_n"))
              .withColumn("__tr_w",
                          F.floor(F.sqrt(F.col("__tr_n").cast("double"))
                                  * F.lit(float(_H))).cast("long")))
    tot = wq.agg(F.sum("__tr_n").cast("long").alias("__tr_nn"),
                 F.sum("__tr_w").cast("long").alias("__tr_ww"))
    dec = "decimal(38,0)"
    # 1-row totals re-enter as a broadcast cross-join (the benign scalar
    # BNLJ shape adjudicated in test_plans_scale.py's inventory) onto
    # the group-level table — never onto the corpus-level one
    thr_df = (
        wq.crossJoin(F.broadcast(tot))
          .withColumn("__tr_num",
                      F.lit(_H * keep_num).cast(dec)
                      * F.col("__tr_nn").cast(dec)
                      * F.col("__tr_w").cast(dec))
          .withColumn("__tr_den",
                      F.lit(keep_den).cast(dec)
                      * F.col("__tr_ww").cast(dec)
                      * F.col("__tr_n").cast(dec))
          .select("grp",
                  F.least(F.lit(_H).cast("long"),
                          F.expr("__tr_num div __tr_den"))
                   .alias("__tr_thr")))
    # 'tr:' salt — the resample draw must be independent of domain_cap's
    # pick order and batch_layout's shard (review r4: per-operator hash
    # streams, the 'ws:'/'cms0:'/'bf0:' convention)
    return (base.join(F.broadcast(thr_df), "grp")
                .filter(
        F.pmod(hash_order(F.concat(F.lit("tr:"),
                                   F.col("doc_id").cast("string"))),
               F.lit(_H)) < F.col("__tr_thr"))
                .select(F.col("grp_out").alias("grp"), "doc_id"))


def cooccurrence_pmi(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", window: int = 2,
                     min_count: int = 3,
                     tokens_col: str | None = None) -> DataFrame:
    """Directional token co-occurrence counts + pointwise mutual
    information within a ±``window`` token neighborhood — the corpus
    statistic word-embedding training starts from (word2vec/GloVe build
    their training pairs exactly this way).

    Scale shape: pair generation is a pure map-side array expression
    (positions × window slice, inside whole-stage codegen — no self-join
    on position), so the only shuffles are the two counting groupBys,
    both bounded by vocabulary (unigrams) / observed-pair (bigrams)
    cardinality after map-side partial aggregation. The corpus pair
    total is a probe-then-parameterize scalar. PMI is a single per-row
    double expression over exact integer counts — engine-stable like
    the TF-IDF log expressions.

    Output: ``w1, w2, n_pairs, pmi`` for pairs seen ≥ ``min_count``.
    """
    if window < 1:
        raise ValueError("window must be positive")
    toks = F.col(tokens_col) if tokens_col else F.expr(_tokens(f"`{text_col}`"))
    n = F.size(toks)
    # pairs at distance o for o = 1..window, each as a slice+zip_with of
    # the array against its own o-shifted tail — O(window·n) array walks
    # with no per-position element_at; same pair multiset as the
    # positions × window-slice formulation, order-insensitive downstream
    empty = F.array().cast("array<struct<w1:string,w2:string>>")
    offset_arrs = [
        F.when(n > o, F.zip_with(
            F.slice(toks, 1, n - o), F.slice(toks, 1 + o, n - o),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2"))))
         .otherwise(empty)
        for o in range(1, window + 1)]
    pair_arr = F.concat(*offset_arrs) if len(offset_arrs) > 1 \
        else offset_arrs[0]
    pairs = (docs.select(F.explode(pair_arr).alias("p"))
                 .select("p.w1", "p.w2"))
    uni = (docs.select(F.explode(toks).alias("tok"))
               .groupBy("tok").agg(F.count("*").alias("c"))
               .localCheckpoint(eager=False))
    # total_pairs in closed form — a doc of n tokens contributes
    # Σ_{o=1..window} max(n-o, 0) pairs, so the scalar probe is one cheap
    # pass over doc lengths and the pre-min_count pair table (the largest
    # intermediate in the job) is never materialized: checkpointing it
    # would pin a non-fault-tolerant copy of the biggest table in the
    # plan just to serve a count. The filtered table has one consumer, so
    # no checkpoint is needed at all.
    per_doc = None
    for o in range(1, window + 1):
        t = F.greatest(n - F.lit(o), F.lit(0)).cast("long")
        per_doc = t if per_doc is None else per_doc + t
    total_pairs = int(
        docs.agg(F.sum(per_doc)).first()[0] or 0)
    pc = (pairs.groupBy("w1", "w2").agg(F.count("*").alias("n_pairs"))
               .filter(F.col("n_pairs") >= min_count))
    c1 = uni.select(F.col("tok").alias("w1"), F.col("c").alias("c1"))
    c2 = uni.select(F.col("tok").alias("w2"), F.col("c").alias("c2"))
    # each factor cast to double BEFORE the multiply: n_pairs·total and
    # c1·c2 overflow int64 once single-token counts pass ~3e9 (doubles
    # round above 2^53 instead of wrapping negative; the ratio form stays
    # finite) — the dsir_importance overflow discipline
    pmi = F.log((F.col("n_pairs").cast("double") * F.lit(float(total_pairs)))
                / (F.col("c1").cast("double") * F.col("c2").cast("double")))
    return (pc.join(F.broadcast(c1), "w1").join(F.broadcast(c2), "w2")
              .select("w1", "w2", F.col("n_pairs").cast("long").alias("n_pairs"),
                      pmi.alias("pmi")))
