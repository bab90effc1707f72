"""Text-analysis operators for training-data pipelines.

All hot-path logic is built-in Spark SQL (JVM-side, whole-stage codegen)
— no Python UDFs. The per-document signal builders (tokens, counts,
quality, language ID, repetition, fingerprints, Gopher rules) take and
return SQL expression TEXT: the caller names its text column (``"text"``)
and places the returned expressions with ``selectExpr`` / ``F.expr``, so
one projection over the corpus computes every signal and the JVM parses
each expression once, instead of receiving one Py4J call per operator of
a Column-API tree (a ``text_profile`` build made ~2,500 such calls). The
scrubbing and URL builders further down operate on arbitrary payload
Columns and stay Column builders.

Determinism note: every expression here has an exact DuckDB twin (see
plans/llm_gate.py) so the driver can hash-match results.
"""

from __future__ import annotations

import pandas

from pyspark.sql import Column
from pyspark.sql import functions as F

# token pattern shared by counting/quality/lang-id; ASCII-only on purpose:
# identical semantics in Java regex (Spark) and RE2 (DuckDB)
TOKEN_PATTERN = "[a-z0-9]+"
# BPE-ish pre-tokenizer: letter runs, single digits, single punctuation
BPE_ISH_PATTERN = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"
_WS_RUN = r"\s+"
_NOT_PUNCT = r"[a-z0-9\s]"
_CJK = r"[\x{4e00}-\x{9fff}]"

STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "is"],
    "de": ["der", "die", "und", "das", "ein"],
    "es": ["el", "la", "que", "los", "una"],
    "fr": ["le", "les", "des", "une", "dans"],
}


def sql_str(value: str) -> str:
    """``value`` as a Spark SQL string literal (backslashes, quotes and
    control characters escaped for the SQL parser)."""
    return "'" + (value.replace("\\", "\\\\").replace("'", "\\'")
                  .replace("\n", "\\n").replace("\t", "\\t")
                  .replace("\r", "\\r")) + "'"


def _words(words: list[str]) -> str:
    return ", ".join(sql_str(w) for w in words)


def tokens(text: str) -> str:
    """Lower-cased alnum token array of the SQL string expression
    ``text``."""
    return f"regexp_extract_all(lower({text}), {sql_str(TOKEN_PATTERN)}, 0)"


def whitespace_token_count(text: str) -> str:
    return (f"CASE WHEN length(trim({text})) = 0 THEN 0 "
            f"ELSE size(split(trim({text}), {sql_str(_WS_RUN)})) END")


def word_token_count(text: str) -> str:
    return f"size({tokens(text)})"


def bpe_ish_token_count(text: str) -> str:
    """Approximate BPE token count: count pre-tokenizer pieces (letter runs
    count once — real BPE splits long words further, so this is a lower
    bound, adequate for mixture/length bucketing)."""
    return f"size(regexp_extract_all({text}, {sql_str(BPE_ISH_PATTERN)}, 0))"


def stopword_hits(toks: str, lang: str = "en") -> str:
    return f"size(filter({toks}, w -> w IN ({_words(STOPWORDS[lang])})))"


# Staging note (round 11): every builder below accepts an optional
# ``toks`` expression. Callers that compute several builders in one
# projection should FIRST materialize the token array as its own column
# (``df.withColumn("__toks", F.expr(tokens("text")))``) and pass its
# name: Spark's subexpression elimination cannot hoist an expression out
# of a ``CASE WHEN`` branch, so the inline tokenize regex re-ran once per
# conditional consumer (lang_id alone holds five). Staged, the regex runs
# once per row — text_profile measured 1.6s -> 0.37s at sf0.1, rows
# identical.


def quality_columns(text: str, toks: str | None = None) -> dict[str, str]:
    """Heuristic document-quality signals (length, punctuation density,
    stopword density, mean word length) and a composite [0,1] score.

    The formula is arbitrary-but-fixed; what matters is that it is pure
    double arithmetic evaluated identically by Spark and the SQL oracle."""
    if toks is None:
        toks = tokens(text)
    n_chars = f"length({text})"
    n_tokens = f"size({toks})"
    alpha_chars = f"length(regexp_replace(lower({text}), '[^a-z0-9]', ''))"
    punct_chars = (f"length(regexp_replace(lower({text}), "
                   f"{sql_str(_NOT_PUNCT)}, ''))")
    denom_t = f"CAST(greatest({n_tokens}, 1) AS DOUBLE)"
    denom_c = f"CAST(greatest({n_chars}, 1) AS DOUBLE)"
    avg_word_len = f"(CAST({alpha_chars} AS DOUBLE) / {denom_t})"
    punct_ratio = f"(CAST({punct_chars} AS DOUBLE) / {denom_c})"
    stop_ratio = f"(CAST({stopword_hits(toks, 'en')} AS DOUBLE) / {denom_t})"
    score = (
        f"((least(1.0D, CAST({n_tokens} AS DOUBLE) / 100.0D) * 0.5D"
        f" + (1.0D - least(1.0D, {punct_ratio} * 10.0D)) * 0.3D)"
        f" + least(1.0D, {stop_ratio} * 5.0D) * 0.2D)")
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "avg_word_len": avg_word_len,
        "punct_ratio": punct_ratio,
        "stopword_ratio": stop_ratio,
        "quality_score": score,
    }


def lang_id(text: str, toks: str | None = None) -> str:
    """N-gram/stopword-heuristic language ID over {en,de,es,fr,zh}.

    CJK characters force 'zh'; otherwise argmax of per-language stopword
    hits with a fixed priority tiebreak (en > de > es > fr). A real
    pipeline would use fastText/CLD3 — not installable here; the operator
    shape (single projection, no UDF) is the point."""
    if toks is None:
        toks = tokens(text)
    en, de, es, fr = (stopword_hits(toks, lang) for lang in STOPWORDS)
    cjk = f"size(regexp_extract_all({text}, {sql_str(_CJK)}, 0))"
    return (f"CASE WHEN {cjk} > 0 THEN 'zh'"
            f" WHEN {en} >= {de} AND {en} >= {es} AND {en} >= {fr} THEN 'en'"
            f" WHEN {de} >= {es} AND {de} >= {fr} THEN 'de'"
            f" WHEN {es} >= {fr} THEN 'es' ELSE 'fr' END")


def ngram_array(toks: str, n: int) -> str:
    """Space-joined word n-grams as an array expression (JVM-side
    ``transform`` over an index sequence — no explode, no UDF). Empty for
    docs shorter than ``n`` tokens."""
    parts = ", ".join(f"element_at({toks}, i + {k})" for k in range(n))
    return (f"CASE WHEN size({toks}) >= {n} THEN "
            f"transform(sequence(1, size({toks}) - {n - 1}), "
            f"i -> concat_ws(' ', {parts})) "
            f"ELSE CAST(array() AS array<string>) END")


def _dup_fraction(toks: str, n: int) -> str:
    """Fraction of n-grams that are within-doc repeats.

    The gram count is derived from ``size(toks)`` (never from the gram
    array), and the gram array feeds exactly one ``array_distinct`` — the
    array-building ``transform`` lives inside a ``CASE`` branch, which
    Spark's subexpression elimination cannot hoist, so every additional
    textual occurrence would re-run the whole n-gram construction."""
    total = f"greatest(size({toks}) - {n - 1}, 0)"
    distinct = f"size(array_distinct({ngram_array(toks, n)}))"
    return (f"CASE WHEN {total} > 0 THEN CAST({total} - {distinct} AS DOUBLE)"
            f" / CAST({total} AS DOUBLE) ELSE 0.0D END")


def repetition_columns(text: str, toks: str | None = None) -> dict[str, str]:
    """Gopher-style repetition signals: the fraction of word 2-grams and
    3-grams that are repeats within the document. High values flag
    boilerplate/degenerate text for filtering. Single projection pass,
    all codegen'd array expressions."""
    if toks is None:
        toks = tokens(text)
    return {
        "n_bigrams": f"CAST(greatest(size({toks}) - 1, 0) AS INT)",
        "dup_bigram_frac": _dup_fraction(toks, 2),
        "dup_trigram_frac": _dup_fraction(toks, 3),
    }


def normalized_text(text: str) -> str:
    """Whitespace-collapsed lower-case normalization for fingerprinting."""
    return f"trim(regexp_replace(lower({text}), {sql_str(_WS_RUN)}, ' '))"


def fingerprint_md5(text: str) -> str:
    """Content fingerprint: md5 of normalized text (exact-dup key)."""
    return f"md5(encode({normalized_text(text)}, 'utf-8'))"


POLY_MOD = 2147483647  # 2^31-1; keeps acc*31+c < 2^36, safe in int64


def fingerprint_rolling(text: str) -> str:
    """Polynomial rolling hash over the normalized character stream:
    ``h = (h*31 + codepoint) mod (2^31-1)`` — the classic document
    fingerprint, computed with the higher-order ``aggregate`` (codegen'd,
    no UDF; left-to-right fold matches the SQL oracle's list_reduce)."""
    return (f"aggregate(split({normalized_text(text)}, ''), CAST(0 AS BIGINT), "
            f"(acc, c) -> (acc * 31 + ascii(c)) % {POLY_MOD})")


# ---------------------------------------------------------------------------
# Gopher-style rule filtering (rule-based corpus quality gates)
# ---------------------------------------------------------------------------

# Gopher rule-filter constants (Rae et al. 2021, table A1 thresholds).
# The required-stopword set is Gopher's own; thresholds are parameters so
# short-document corpora (like the bench tables) can tighten them.
GOPHER_REQUIRED_STOPWORDS = ["the", "be", "to", "of", "and", "that",
                             "have", "with"]
# a line that *starts with* a bullet glyph / *ends with* an ellipsis;
# explicit [ \t] instead of \s — Java \s includes \x0B, RE2's does not,
# and these patterns must be exact DuckDB twins
_BULLET_START = r"^[ \t]*[-*•]"
_ELLIPSIS_END = r"(\.\.\.|…)[ \t]*$"
# symbol classes Gopher counts against the word count: '#' and ellipses
_SYMBOLS = r"#|\.\.\.|…"


def gopher_columns(text: str, min_words: int = 50,
                   max_words: int = 100_000,
                   toks: str | None = None) -> dict[str, str]:
    """Gopher-style rule-filter signals: per-rule booleans plus the raw
    ratios they threshold, and a composite ``gopher_pass``.

    Rules (Rae et al. 2021): word count in [min_words, max_words]; mean
    word length in [3, 10]; symbol-to-word ratio ('#'/ellipsis) <= 0.1;
    <= 90% of lines bullet-started; <= 30% of lines ellipsis-ended;
    >= 80% of words contain an alphabetic character; >= 2 distinct
    required stopwords present.

    Scale shape: one projection pass, all JVM-side regex/array
    expressions inside whole-stage codegen — zero shuffles, composes
    with any downstream filter in the same stage. Every expression has
    an exact DuckDB twin (integer counts; the only doubles are single
    divisions of exact integers — IEEE-identical across engines)."""
    if toks is None:
        toks = tokens(text)
    n_words = f"size({toks})"
    denom_w = f"CAST(greatest({n_words}, 1) AS DOUBLE)"
    # sum of token lengths == length of the gap-free concatenation
    mean_word_len = f"(CAST(length(concat_ws('', {toks})) AS DOUBLE) / {denom_w})"
    n_symbols = f"size(regexp_extract_all({text}, {sql_str(_SYMBOLS)}, 0))"
    symbol_ratio = f"(CAST({n_symbols} AS DOUBLE) / {denom_w})"
    lines = f"split({text}, {sql_str(chr(10))})"
    n_lines = f"CAST(greatest(size({lines}), 1) AS DOUBLE)"
    bullet_frac = (f"(CAST(size(filter({lines}, l -> l RLIKE "
                   f"{sql_str(_BULLET_START)})) AS DOUBLE) / {n_lines})")
    ellipsis_frac = (f"(CAST(size(filter({lines}, l -> l RLIKE "
                     f"{sql_str(_ELLIPSIS_END)})) AS DOUBLE) / {n_lines})")
    alpha_frac = (f"(CAST(size(filter({toks}, w -> w RLIKE '[a-z]')) "
                  f"AS DOUBLE) / {denom_w})")
    n_req_stops = (f"size(array_intersect(array_distinct({toks}), "
                   f"array({_words(GOPHER_REQUIRED_STOPWORDS)})))")
    rules = {
        "r_word_count": f"({n_words} >= {min_words} AND {n_words} <= {max_words})",
        "r_mean_word_len": f"({mean_word_len} >= 3.0D AND {mean_word_len} <= 10.0D)",
        "r_symbol_ratio": f"({symbol_ratio} <= 0.1D)",
        "r_bullet_lines": f"({bullet_frac} <= 0.9D)",
        "r_ellipsis_lines": f"({ellipsis_frac} <= 0.3D)",
        "r_alpha_words": f"({alpha_frac} >= 0.8D)",
        "r_stopwords": f"({n_req_stops} >= 2)",
    }
    out: dict[str, str] = {
        "n_words": f"CAST({n_words} AS INT)",
        "mean_word_len": mean_word_len,
        "symbol_ratio": symbol_ratio,
        "bullet_frac": bullet_frac,
        "ellipsis_frac": ellipsis_frac,
        "alpha_frac": alpha_frac,
        "n_req_stopwords": f"CAST({n_req_stops} AS INT)",
    }
    out.update(rules)
    out["gopher_pass"] = "(" + " AND ".join(["TRUE", *rules.values()]) + ")"
    return out


# ---------------------------------------------------------------------------
# PII scrubbing (corpus sanitization before training)
# ---------------------------------------------------------------------------

# Patterns restricted to syntax with identical semantics in Java regex
# (Spark, backtracking) and RE2 (DuckDB oracle, leftmost-longest): no
# alternation between overlapping branches, no lookaround.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+[0-9]{7,15}"
PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def pii_columns(text: Column) -> dict[str, Column]:
    """Match counts per PII class — the audit side of scrubbing."""
    return {
        "n_emails": F.regexp_count(text, F.lit(PII_EMAIL)).cast("int"),
        "n_phones": F.regexp_count(text, F.lit(PII_PHONE)).cast("int"),
        "n_ips": F.regexp_count(text, F.lit(PII_IPV4)).cast("int"),
    }


def redact_pii(text: Column) -> Column:
    """Replace each PII class with a typed placeholder token.

    Application order (email → ip → phone) is fixed and must match the
    oracle: emails are removed before the IP/phone passes so their
    digit runs can't be re-matched. Pure ``regexp_replace`` chain —
    map-side, codegen'd, zero shuffle."""
    out = F.regexp_replace(text, PII_EMAIL, "<EMAIL>")
    out = F.regexp_replace(out, PII_IPV4, "<IP>")
    return F.regexp_replace(out, PII_PHONE, "<PHONE>")


# ---------------------------------------------------------------------------
# Unicode normalization (NFC) — the one text op that genuinely needs Python
# ---------------------------------------------------------------------------

def normalize_nfc(text: Column) -> Column:
    """Canonical-composition (NFC) normalization.

    Spark has no built-in Unicode normalizer, so this is the module's one
    deliberate Python hop — an Arrow-batched ``pandas_udf`` (vectorized
    transfer, one Python call per batch, not per row), NOT a row-at-a-time
    UDF. Python's ``unicodedata`` and DuckDB's utf8proc implement the same
    Unicode canonical composition, so results hash-match the
    ``nfc_normalize`` oracle byte-for-byte.

    Scale note: pure map-side projection — composes into the same scan
    pass as the JVM-side signals; the only cost is the Arrow
    serialize/deserialize of the text column itself."""
    from pyspark.sql.functions import pandas_udf

    # NB: hints are spelled as literal strings resolvable from module
    # globals ("pandas.Series") because `from __future__ import
    # annotations` stringifies them before pandas_udf's inference runs.
    @pandas_udf("string")
    def _nfc(s: "pandas.Series") -> "pandas.Series":
        import unicodedata
        return s.map(lambda x: None if x is None
                     else unicodedata.normalize("NFC", x))

    return _nfc(text)


def html_to_text(html: Column) -> Column:
    """Boilerplate-stripping HTML→text extraction — the first stage of any
    web-crawl training pipeline (trafilatura/jusText's job, reduced to
    the deterministic regex core so it runs inside whole-stage codegen
    with zero Python).

    Pipeline (each a single regexp_replace, Java-regex/RE2-agreeing so a
    SQL oracle matches byte-for-byte):
    1. drop <script>/<style>/<head> blocks wholesale (``(?is)`` inline
       flags + non-greedy spans; three separate patterns because RE2 —
       the oracle engine — has no backreferences);
    2. block-level closers (</p>, </div>, </li>, </h1..6>, <br>) become
       newlines so paragraph structure survives;
    3. every remaining tag is stripped;
    4. the five core entities + &nbsp; unescape;
    5. horizontal whitespace collapses, blank-line runs collapse, edges
       trim.
    """
    t = F.regexp_replace(html, r"(?is)<script[^>]*>.*?</script>", "")
    t = F.regexp_replace(t, r"(?is)<style[^>]*>.*?</style>", "")
    t = F.regexp_replace(t, r"(?is)<head[^>]*>.*?</head>", "")
    t = F.regexp_replace(t, r"(?i)<br[^>]*>|</p>|</div>|</li>|</h[1-6]>|</tr>", "\n")
    t = F.regexp_replace(t, r"<[^>]+>", "")
    # &amp; decodes LAST: double-escaped text ("&amp;lt;") must surface as
    # the literal entity ("&lt;"), not be re-decoded into a fake "<"
    for pat, rep in (("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
                     ("&quot;", "\""), ("&#39;", "'"), ("&amp;", "&")):
        t = F.regexp_replace(t, pat, rep)
    t = F.regexp_replace(t, r"[ \t]+", " ")
    t = F.regexp_replace(t, r" ?\n ?", "\n")
    t = F.regexp_replace(t, r"\n{2,}", "\n")
    # trim spaces AND newlines (F.trim strips spaces only)
    return F.regexp_replace(t, r"^[ \n]+|[ \n]+$", "")


def normalize_url(url: Column) -> Column:
    """Canonicalize a URL for crawl dedup/grouping (the C4/CommonCrawl
    convention): strip the fragment, drop ``utm_*`` tracking params
    (case-insensitively, anchored to parameter boundaries — a param whose
    NAME merely contains ``utm_`` is preserved), strip a leading ``www.``
    and any trailing PATH slash, and lowercase the scheme+authority while
    preserving path/query case (paths are case-sensitive; hosts are not).

    The www-strip and slash-strip are anchored to the authority/path by
    working on the split pieces, never on the whole string — query values
    that embed a URL or end in '/' survive untouched. Every step is a
    backreference-free ``regexp_replace``/``regexp_extract`` (Java regex
    and RE2 disagree on backreference syntax, and RE2 has no lookaround),
    so a SQL oracle replays the chain byte-for-byte. Zero Python, zero
    shuffle.
    """
    def _strip_utm(q: Column) -> Column:
        # utm_* params: non-first, then first-with-successor, then
        # first-alone. Applied to the QUERY piece only — a literal
        # "&utm_" inside a path must survive (the [^&#]* span would
        # otherwise eat the rest of the path and the real query).
        q = F.regexp_replace(q, r"(?i)&utm_[^&#]*", "")
        q = F.regexp_replace(q, r"(?i)\?utm_[^&#]*&", "?")
        return F.regexp_replace(q, r"(?i)\?utm_[^&#]*$", "")

    u = F.regexp_replace(url, r"#.*", "")                # fragment
    head = F.lower(F.regexp_extract(u, r"^([^/]*//[^/?#]*)", 1))
    tail = F.regexp_replace(u, r"^[^/]*//[^/?#]*", "")
    scheme = F.regexp_extract(head, r"^[a-z]+://", 0)
    rest = F.regexp_replace(F.regexp_replace(head, r"^[a-z]+://", ""),
                            r"^www\.", "")
    path = F.regexp_replace(F.regexp_extract(tail, r"^[^?]*", 0),
                            r"/+$", "")
    query = _strip_utm(F.regexp_replace(tail, r"^[^?]*", ""))
    # scheme-less fallback: slash-strip the PATH piece only (the anchored
    # discipline above) — stripping the concatenated whole would eat a
    # query value's trailing '/' and keep a pre-query path slash
    fb = F.concat(F.regexp_replace(F.regexp_extract(u, r"^[^?]*", 0),
                                   r"/+$", ""),
                  _strip_utm(F.regexp_replace(u, r"^[^?]*", "")))
    return F.when(head == "", fb) \
            .otherwise(F.concat(scheme, rest, path, query))


def url_host(url: Column) -> Column:
    """Registered host of a (normalized) URL — the key for per-domain
    caps, domain mixture stats, and leakage-safe splits. Userinfo
    (``user:pass@``) and the port are stripped, so credentialed URLs key
    on the actual domain."""
    auth = F.regexp_extract(normalize_url(url), r"^[a-z]+://([^/?#]*)", 1)
    host = F.regexp_replace(auth, r"^[^/@]*@", "")
    return F.regexp_replace(host, r":.*", "")
