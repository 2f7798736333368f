"""Text analysis operators (SURVEY.md §2.11): tokenization, quality scoring,
language-ID heuristic, document fingerprinting. All pure column expressions
(whole-stage codegen, no Python) so they stream through a 100 TB scan.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword profiles for the n-gram/stopword heuristic.
# Public common-word lists; enough signal for a coarse language call.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "se", "por"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "que"],
    "de": ["der", "die", "und", "das", "von", "den", "im", "ein", "zu", "mit"],
    "zh": ["的", "了", "是", "在", "我", "有", "和", "就", "不", "人"],
}

TOKEN_PATTERN = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"  # BPE-ish: words + punct singles


def tokens(text: str | Column) -> Column:
    """Whitespace tokenization (split + trim of empty edges)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(t), r"\s+")


def token_count_regex(text: str | Column, pattern: str = TOKEN_PATTERN) -> Column:
    """Token count under a BPE-ish regex (words + punctuation singletons)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(t, F.lit(pattern), F.lit(0)))


def punct_ratio(text: str | Column) -> Column:
    """Fraction of non-space characters that are punctuation/symbols.
    Unicode-aware (``\\p{L}\\p{N}`` — Java and RE2 agree on these classes,
    verified cross-engine): the former ASCII class counted every é/中/я as
    punctuation, collapsing quality_score to ~0 for non-English text and
    silently dropping whole languages at prep's quality floor."""
    t = F.col(text) if isinstance(text, str) else text
    nonspace = F.length(F.regexp_replace(t, r"\s+", ""))
    punct = F.length(F.regexp_replace(t, r"[\p{L}\p{N}\s]", ""))
    return F.when(nonspace > 0, punct / nonspace).otherwise(F.lit(0.0))


def stopword_count(toks: Column, lang: str = "en") -> Column:
    """Number of tokens that are stopwords of ``lang`` (lambda filter —
    executes JVM-side, no UDF)."""
    sw = STOPWORDS[lang]
    return F.size(F.filter(toks, lambda x: F.lower(x).isin(sw)))


def lang_scores(toks: Column) -> dict[str, Column]:
    """Per-language stopword-hit counts."""
    return {lang: stopword_count(toks, lang) for lang in STOPWORDS}


def predict_lang(toks: Column) -> Column:
    """Argmax language by stopword hits; 'und' (undetermined) when no hits.

    Deterministic tiebreak: language code ascending (stable cross-engine).

    Built as ONE fold over an array of (count, lang) structs so each
    per-language stopword count is evaluated exactly once per row. The
    former when/greatest chain repeated every count expression ~12×
    textually (once per equality test plus once per ``greatest`` arm),
    and higher-order functions are CodegenFallback — no whole-stage
    codegen, no subexpression elimination — so every repeat re-filtered
    the whole token array (~60 interpreted array passes per row,
    measured as the dominant cost of ``doc_text_stats`` at sf0.1: don't
    compute what is thrown away). The fold visits
    languages in ascending code order with a strict ``>``, seeded with
    ``(0, 'und')`` — identical semantics: argmax, ties break to the
    alphabetically first language, all-zero (or NULL tokens) → 'und'.
    """
    pairs = sorted(lang_scores(toks).items())
    arr = F.array(*[
        F.struct(score.cast("int").alias("s"), F.lit(lang).alias("l"))
        for lang, score in pairs
    ])
    best = F.aggregate(
        arr,
        F.struct(F.lit(0).cast("int").alias("s"), F.lit("und").alias("l")),
        lambda acc, x: F.when(x["s"] > acc["s"], x).otherwise(acc))
    return best["l"]


def quality_score(text: str | Column, toks: Column | None = None) -> Column:
    """Composite quality heuristic in [0,1]: length score × (1 − punct ratio)
    × alpha-token fraction. Mirrors the 'length/punct/stopword ratio' style
    filters used in public LLM-data pipelines (C4/Gopher rules).
    Alpha = any Unicode letter (``\\p{L}``, cross-engine-identical), so
    non-Latin prose scores on its merits.
    ``toks``: a precomputed whitespace token array for the same text —
    pass it where the pipeline already materialized the split (must equal
    ``tokens(text)``; prepare_training_corpus threads its shared token
    projection through here, so the split is computed once per row)."""
    t = F.col(text) if isinstance(text, str) else text
    if toks is None:
        toks = tokens(t)
    n_tok = F.size(toks)
    alpha_frac = F.when(
        n_tok > 0,
        F.size(F.filter(toks, lambda x: x.rlike(r"^\p{L}+$"))) / n_tok,
    ).otherwise(F.lit(0.0))
    len_score = F.least(F.length(t) / F.lit(500.0), F.lit(1.0))
    return F.round(len_score * (1 - punct_ratio(t)) * alpha_frac, 6)


def rolling_fingerprint(text: str | Column, mod: int = 1_000_000_007,
                        base: int = 31) -> Column:
    """Polynomial rolling hash of the whole document (deterministic,
    engine-portable): ``h = (h*base + ascii(char)) % mod`` over characters.

    Pure ``aggregate`` over a character sequence — no UDF, and the same
    recurrence is expressible in ANSI-ish SQL for the oracle. For 100 TB use
    this as the cheap exact-dup fingerprint (vs carrying full text through
    the shuffle).
    """
    t = F.col(text) if isinstance(text, str) else text
    chars = F.split(t, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * base + F.ascii(ch)) % mod,
    )


# Power tables base^k % mod, grown on demand per worker. Built blockwise —
# base^(qB+r) = (base^B)^q · base^r — so table construction is O(B + n/B)
# Python steps, not O(n); lookups and the hash itself are pure numpy.
_POW_CACHE: dict[tuple[int, int], "object"] = {}


def _pow_table(base: int, mod: int, n: int):
    import numpy as np

    key = (base, mod)
    tbl = _POW_CACHE.get(key)
    if tbl is None or len(tbl) < n:
        block = 1 << 11
        # geometric growth: without the doubling, docs arriving in
        # increasing length order would trigger a full rebuild per new
        # maximum (O(docs × max_len) total instead of O(max_len))
        have = 0 if tbl is None else len(tbl)
        size = max(n, 2 * have, 1 << 12)
        small = np.empty(block, dtype=np.int64)
        small[0] = 1
        for k in range(1, block):
            small[k] = small[k - 1] * base % mod
        stride = int(small[block - 1]) * base % mod  # base^block
        n_blocks = (size + block - 1) // block
        big = np.empty(n_blocks, dtype=np.int64)
        big[0] = 1
        for k in range(1, n_blocks):
            big[k] = big[k - 1] * stride % mod
        # big·small < mod² ≈ 1e18 < 2^63 — no overflow before the reduce
        tbl = (big[:, None] * small[None, :] % mod).reshape(-1)[:size]
        _POW_CACHE[key] = tbl
    return tbl


def rolling_fingerprint_udf(text: str | Column, mod: int = 1_000_000_007,
                            base: int = 31) -> Column:
    """Same recurrence as :func:`rolling_fingerprint`, as an Arrow pandas UDF.

    The column-expression form indexes the string per character inside an
    interpreted ``aggregate`` — O(len²) byte scanning per document (substring
    is O(i) on UTF8 bytes), which melts on book-length docs. This form is
    numpy-vectorized Horner via the closed form ``h = Σ cp_j ·
    base^(L−1−j) mod p``: codepoints come from one C-speed UTF-32 decode
    (``ord`` ≡ UTF-32 unit ≡ Spark/DuckDB codepoint, so the same DuckDB
    oracle verifies both), powers from a cached table, and the per-doc work
    is two elementwise ops + a sum — no per-character Python anywhere, the
    hot loop a per-char fold would be on long documents. Overflow-safe
    in int64: cp·p < 2^51 and the final sum of (<mod) terms stays under
    2^63 for any real document. Use this one in pipelines; keep the
    expression form for pure-SQL contexts.
    """
    @F.pandas_udf("long")
    def poly(texts: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for t in texts:
            if t is None:
                # NULL → NULL, matching the expression fold and the SQL
                # twin's natural NULL propagation (NULL→0 would make NULL
                # docs collide with empty docs and diverge from the
                # documented-equivalent forms)
                out.append(None)
            elif not t:
                out.append(0)  # empty → 0, same as the fold
            else:
                cp = np.frombuffer(t.encode("utf-32-le"),
                                   dtype=np.uint32).astype(np.int64)
                powers = _pow_table(base, mod, len(cp))
                out.append(int((cp * powers[len(cp) - 1::-1] % mod).sum()
                               % mod))
        return pd.Series(out, dtype="Int64")

    t = F.col(text) if isinstance(text, str) else text
    return poly(t)


def duplicate_line_fraction(text: str | Column) -> Column:
    """Fraction of a doc's NON-EMPTY lines that are repeats of an earlier
    line — the Gopher/MassiveText within-document repetition filter (docs
    dominated by repeated lines are boilerplate/spam). Empty lines are
    excluded BEFORE the ratio: blank paragraph separators are structure,
    not repetition, and counting them scored ordinary 10-paragraph prose
    at ~0.42 — past the Gopher 0.3 threshold (the cleaning.py Gopher twin
    filters them the same way). Pure array
    expressions: 1 − distinct/total over the filtered newline split;
    single-line and all-blank docs score 0.0."""
    t = F.col(text) if isinstance(text, str) else text
    lines = F.filter(F.split(t, r"\n"), lambda x: x != "")
    n = F.size(lines)
    return F.when(n > 0,
                  1.0 - F.size(F.array_distinct(lines)) / n
                  ).otherwise(F.lit(0.0))


def top_ngram_fraction(text: str | Column, n: int = 2) -> Column:
    """Fraction of a doc's word ``n``-grams occupied by its single most
    frequent n-gram — the Gopher "top n-gram fraction" repetition signal
    (a high value means one phrase dominates the document).

    Computed entirely in array expressions so it streams through the scan
    with no shuffle and no Python: build n-grams, ``array_sort``, then one
    ``aggregate`` fold counting the longest run of equal neighbors (the
    mode count of a sorted array). Docs with no n-grams score 0.0.
    """
    t = F.col(text) if isinstance(text, str) else text
    toks = F.split(F.trim(t), r"\s+")
    idx = F.when(F.size(toks) >= n,
                 F.sequence(F.lit(1), F.size(toks) - (n - 1))
                 ).otherwise(F.array().cast("array<int>"))
    grams = F.array_sort(F.transform(
        idx, lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + k) for k in range(n)])))
    zero = F.lit(0).cast("int")
    state = F.struct(F.lit("").alias("prev"), zero.alias("run"),
                     zero.alias("best"))
    run = lambda acc, x: F.when(  # noqa: E731
        x == acc["prev"], (acc["run"] + 1).cast("int")).otherwise(F.lit(1).cast("int"))
    fold = F.aggregate(
        grams, state,
        lambda acc, x: F.struct(
            x.alias("prev"), run(acc, x).alias("run"),
            F.greatest(acc["best"], run(acc, x)).cast("int").alias("best")))
    best = fold["best"]
    return F.when(F.size(grams) > 0, best / F.size(grams)).otherwise(F.lit(0.0))


# Java regex \s is ASCII-only: [ \t\n\x0B\f\r]. Python re's \s is Unicode
# (splits NBSP/em-space where the JVM does not), and str.strip() removes all
# Unicode whitespace where Spark's trim() removes ONLY spaces (0x20) and
# split(limit=-1) KEEPS boundary empty tokens. Any Python-side kernel that
# claims equality with a `split(trim(text), '\s+')` expression must
# tokenize with THIS helper, not strip()/\s+ (the shortcut diverges on
# any text with trailing newline/tab or NBSP).
_JAVA_WS = __import__("re").compile(r"[ \t\n\x0B\f\r]+")


def java_ws_tokens(t: str) -> list[str]:
    """Python twin of Spark's ``split(trim(text), r'\\s+')`` — space-only
    trim, ASCII whitespace split, boundary empties kept. ``''`` → ``['']``
    like the JVM."""
    return _JAVA_WS.split(t.strip(" "))


def top_ngram_fraction_udf(text: str | Column, n: int = 2) -> Column:
    """Same signal as :func:`top_ngram_fraction`, as an Arrow pandas UDF.

    The expression form's ``aggregate`` fold over the sorted n-gram array
    runs on Spark's INTERPRETED expression path (~2-3 ms/doc measured at
    500 tokens — 13 s for one 5k-doc partition), exactly the hot-lambda
    trap the similarity module documents. This form counts the mode with a
    C-speed ``Counter`` per doc over token tuples (token tuples ≡ the
    fold's space-joined grams: tokens cannot contain whitespace), ~40×
    faster per partition and embarrassingly parallel. Use this one in
    pipelines; keep the expression form for pure-SQL contexts — equality
    is pinned by unit test on real docs plus edge cases."""
    @F.pandas_udf("double")
    def frac(texts: pd.Series) -> pd.Series:
        from collections import Counter

        out = []
        for t in texts:
            if t is None:
                out.append(0.0)
                continue
            toks = java_ws_tokens(t)
            total = len(toks) - (n - 1)
            if total <= 0:
                out.append(0.0)
                continue
            counts = Counter(zip(*[toks[i:] for i in range(n)]))
            out.append(max(counts.values()) / total)
        return pd.Series(out, dtype="float64")

    t = F.col(text) if isinstance(text, str) else text
    return frac(t)
