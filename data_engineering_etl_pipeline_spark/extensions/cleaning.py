"""Document-cleaning rule sets (SURVEY.md §2.11 extension family), each
re-expressed as native Spark column expressions with DuckDB SQL twins:

C4 — Raffel et al. 2020 (T5 / C4, JMLR 21(140) §2.2), the line-level
rules that produced the "Colossal Clean Crawled Corpus":

- keep only lines that end in a terminal punctuation mark;
- keep only lines with at least 5 words;
- drop any line containing the word "javascript";
- drop any PAGE containing "lorem ipsum";
- drop any PAGE containing a curly bracket (code);
- drop any PAGE whose cleaned text has fewer than 3 sentences.

C4's page-level word blocklist (the public "List of Dirty, Naughty ..."
list) is not applied: no pipeline here supplies one.

Gopher — Rae et al. 2021 (arXiv:2112.11446, Appendix A1.1), the
MassiveText document-level quality rules:

- word count in [50, 100000];
- mean word length in [3, 10];
- symbol-to-word ratio <= 0.1 for EACH of '#' and ellipsis (reported as
  the max of the two ratios; words and lines exclude entries that are
  empty after an ASCII-space/newline trim, so trailing newlines mint no
  phantom words — note trim() in both Spark and DuckDB strips ASCII
  spaces only, so a line of tabs or NBSPs still counts as a line; both
  engines agree, which is what the oracle checks);
- <= 90% of lines starting with a bullet point;
- <= 30% of lines ending with an ellipsis;
- >= 80% of words containing at least one alphabetic character;
- at least 2 of the 8 "stop words" (the, be, to, of, and, that, have,
  with) present. (Presence here = exact match against a lowercased
  whitespace token; the paper's tokenizer is unspecified, so both engines
  apply this identical, documented simplification.)

Scale design: everything is a chain of split / filter-lambda / regexp
column expressions — JVM-side, map-only, zero shuffle, zero Python — so
the cleaner streams through a 100 TB scan at scan speed, like
``extensions/pii.py``. Every builder has a DuckDB SQL twin (same rule, same
regex, RE2-compatible) so oracles can verify kept-line sets and the cleaned
text bit-for-bit.

Cross-engine caveats (documented, not papered over): lines split on
``\\r?\\n`` in BOTH engines, so CRLF pages clean identically (because
Java's non-multiline ``$`` matches before a trailing ``\\r`` while RE2's
does not, un-normalized lines would diverge on the terminal-punctuation and
ellipsis rules). Two residual divergences on pathological input: Java's
``\\s`` includes vertical tab (0x0B) where RE2's does not, and Java's ``$``
treats U+0085/U+2028/U+2029 (and a lone final ``\\r``) as line
terminators where RE2 does not — text containing those yields
engine-different word/line counts; the bit-for-bit guarantee covers text
whose whitespace is spaces/tabs/newlines/CRLF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

C4_MIN_LINE_WORDS = 5
C4_MIN_SENTENCES = 3
# terminal punctuation incl. closing double-quote, tested on the
# right-trimmed line (C4: "ended in a terminal punctuation mark")
C4_TERMINAL_RE = r'[.!?"]$'
C4_SENTENCE_RE = r"[.!?]"


def _col(text: str | Column) -> Column:
    return F.col(text) if isinstance(text, str) else text


def _line_keep(line: Column) -> Column:
    """Per-line C4 predicate: terminal punctuation, >=5 words, no
    'javascript' (case-insensitive)."""
    return (
        F.rtrim(line).rlike(C4_TERMINAL_RE)
        & (F.size(F.split(F.trim(line), r"\s+")) >= C4_MIN_LINE_WORDS)
        & ~F.lower(line).contains("javascript")
    )


def _line_keep_sql(var: str = "l") -> str:
    """DuckDB lambda-body twin of :func:`_line_keep`."""
    return (
        f"regexp_matches(rtrim({var}), '{C4_TERMINAL_RE}') AND "
        f"len(string_split_regex(trim({var}), '\\s+')) >= {C4_MIN_LINE_WORDS}"
        f" AND NOT contains(lower({var}), 'javascript')"
    )


def c4_kept_lines(text: str | Column) -> Column:
    """Array of the lines of ``text`` that survive the line rules."""
    return F.filter(F.split(_col(text), r"\r?\n"), _line_keep)


def c4_kept_lines_sql(expr: str) -> str:
    return (f"list_filter(string_split_regex({expr}, '\\r?\\n'), "
            f"l -> {_line_keep_sql('l')})")


def c4_stats(text: str | Column) -> list[Column]:
    """The full per-page C4 cleaning verdict as named columns:
    ``n_lines, n_kept, cleaned, n_sentences, has_lorem, has_brace,
    keep_page``. ``cleaned`` is the kept lines re-joined with newlines;
    ``keep_page`` additionally requires >=3 sentences in the CLEANED text
    and no page-level flag. Pure expressions; compute once per row."""
    t = _col(text)
    kept = c4_kept_lines(t)
    cleaned = F.concat_ws("\n", kept)
    n_sent = F.size(F.regexp_extract_all(
        cleaned, F.lit(C4_SENTENCE_RE), F.lit(0)))
    has_lorem = F.lower(t).contains("lorem ipsum")
    # "a curly bracket" means either brace: a truncated code fragment can
    # carry only the closing one.
    has_brace = t.contains("{") | t.contains("}")
    keep = (n_sent >= C4_MIN_SENTENCES) & ~has_lorem & ~has_brace
    return [
        F.size(F.split(t, r"\r?\n")).cast("int").alias("n_lines"),
        F.size(kept).cast("int").alias("n_kept"),
        cleaned.alias("cleaned"),
        n_sent.cast("int").alias("n_sentences"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        keep.alias("keep_page"),
    ]


def c4_stats_sql(expr: str) -> list[str]:
    """DuckDB twin of :func:`c4_stats` over the SQL expression ``expr`` —
    identical rules, identical column names."""
    kept = c4_kept_lines_sql(expr)
    cleaned = f"array_to_string({kept}, chr(10))"
    n_sent = f"len(regexp_extract_all({cleaned}, '{C4_SENTENCE_RE}'))"
    has_lorem = f"contains(lower({expr}), 'lorem ipsum')"
    has_brace = f"(contains({expr}, '{{') OR contains({expr}, '}}'))"
    return [
        f"CAST(len(string_split_regex({expr}, '\\r?\\n')) AS INT) AS n_lines",
        f"CAST(len({kept}) AS INT) AS n_kept",
        f"{cleaned} AS cleaned",
        f"CAST({n_sent} AS INT) AS n_sentences",
        f"{has_lorem} AS has_lorem",
        f"{has_brace} AS has_brace",
        f"({n_sent} >= {C4_MIN_SENTENCES} AND NOT {has_lorem} AND NOT "
        f"{has_brace}) AS keep_page",
    ]


# ---------------------------------------------------------------------------
# Gopher / MassiveText document-level quality rules (Rae et al. 2021,
# Appendix A1.1). Bounds are module constants so the registry row, the SQL
# twins, and callers tuning the filter all share one source of truth.
# ---------------------------------------------------------------------------

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_BULLET_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_FRAC = 0.3
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_STOPWORDS = 2
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
_BULLET_RE = r"^[•*-]"          # line starts with a bullet glyph
_ELLIPSIS_END_RE = r"(\.\.\.|…)$"  # line ends with an ellipsis


def gopher_stats(text: str | Column) -> list[Column]:
    """Per-document Gopher quality metrics + verdict as named columns:
    ``n_words, mean_word_len, symbol_word_ratio, bullet_line_frac,
    ellipsis_line_frac, alpha_word_frac, n_stop_hits, keep_doc``.

    Pure column expressions: whitespace word split + newline line split,
    each materialized once; counts via size-of-filter; mean word length as
    (chars excluding whitespace) / words — identical to summing per-word
    lengths, but a single codegen'd regexp_replace instead of an
    interpreted higher-order fold. Ratios rounded so the driver's value
    hash is stable across engines."""
    t = _col(text)
    # drop empty tokens/lines: trim strips only spaces and Spark's split
    # keeps boundary empties, so a trailing newline/tab would otherwise
    # mint a phantom word (49-word doc + '\n' passing the 50-word floor)
    # and a phantom line diluting the bullet/ellipsis fractions
    words = F.filter(F.split(F.trim(t), r"\s+"), lambda w: w != "")
    lines = F.filter(F.split(t, r"\r?\n"), lambda l: F.trim(l) != "")
    n_words = F.size(words)
    n_lines = F.size(lines)
    nw = n_words.cast("double")
    word_chars = F.length(F.regexp_replace(t, r"\s+", ""))
    mean_len = F.when(n_words > 0, word_chars.cast("double") / nw)
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ellipsis = (
        ((F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3)
        .cast("long")
        + F.length(t) - F.length(F.replace(t, F.lit("…"), F.lit("")))
    )
    # the paper caps EACH symbol's ratio at 0.1 ("either the hash symbol
    # or the ellipsis"), so the reported ratio is the max of the two —
    # one column, same verdict as two separate caps
    sym_ratio = F.when(
        n_words > 0,
        F.greatest(n_hash.cast("double"), n_ellipsis.cast("double")) / nw)
    bullet_frac = F.when(
        n_lines > 0,
        F.size(F.filter(lines, lambda l: F.ltrim(l).rlike(_BULLET_RE)))
        .cast("double") / n_lines.cast("double"))
    ellipsis_frac = F.when(
        n_lines > 0,
        F.size(F.filter(lines, lambda l: F.rtrim(l).rlike(_ELLIPSIS_END_RE)))
        .cast("double") / n_lines.cast("double"))
    alpha_frac = F.when(
        n_words > 0,
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
        .cast("double") / nw)
    lowered = F.transform(words, lambda w: F.lower(w))
    stop_hits = None
    for s in GOPHER_STOPWORDS:
        hit = F.array_contains(lowered, s).cast("int")
        stop_hits = hit if stop_hits is None else stop_hits + hit
    keep = (
        n_words.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & mean_len.between(GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN)
        & (sym_ratio <= GOPHER_MAX_SYMBOL_RATIO)
        & (bullet_frac <= GOPHER_MAX_BULLET_FRAC)
        & (ellipsis_frac <= GOPHER_MAX_ELLIPSIS_FRAC)
        & (alpha_frac >= GOPHER_MIN_ALPHA_FRAC)
        & (stop_hits >= GOPHER_MIN_STOPWORDS)
    )
    return [
        n_words.cast("int").alias("n_words"),
        F.round(mean_len, 4).alias("mean_word_len"),
        F.round(sym_ratio, 6).alias("symbol_word_ratio"),
        F.round(bullet_frac, 6).alias("bullet_line_frac"),
        F.round(ellipsis_frac, 6).alias("ellipsis_line_frac"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        stop_hits.cast("int").alias("n_stop_hits"),
        F.coalesce(keep, F.lit(False)).alias("keep_doc"),
    ]


def gopher_stats_sql(expr: str) -> list[str]:
    """DuckDB twin of :func:`gopher_stats` over the SQL expression
    ``expr`` — identical rules, identical column names."""
    w = (f"list_filter(string_split_regex(trim({expr}), '\\s+'), "
         f"x -> x <> '')")
    ln = (f"list_filter(string_split_regex({expr}, '\\r?\\n'), "
          f"l -> trim(l) <> '')")
    n_words = f"len({w})"
    n_lines = f"len({ln})"
    word_chars = f"length(regexp_replace({expr}, '\\s+', '', 'g'))"
    mean_len = (f"CASE WHEN {n_words} > 0 THEN "
                f"CAST({word_chars} AS DOUBLE) / {n_words} END")
    n_hash = f"(length({expr}) - length(replace({expr}, '#', '')))"
    n_ellipsis = (f"((length({expr}) - length(replace({expr}, '...', ''))) // 3"
                  f" + length({expr}) - length(replace({expr}, '…', '')))")
    sym_ratio = (f"CASE WHEN {n_words} > 0 THEN "
                 f"greatest(CAST({n_hash} AS DOUBLE), "
                 f"CAST({n_ellipsis} AS DOUBLE)) / {n_words} END")
    bullet = (f"CASE WHEN {n_lines} > 0 THEN CAST(len(list_filter({ln}, "
              f"l -> regexp_matches(ltrim(l), '{_BULLET_RE}'))) AS DOUBLE)"
              f" / {n_lines} END")
    ellip = (f"CASE WHEN {n_lines} > 0 THEN CAST(len(list_filter({ln}, "
             f"l -> regexp_matches(rtrim(l), '{_ELLIPSIS_END_RE}'))) AS "
             f"DOUBLE) / {n_lines} END")
    alpha = (f"CASE WHEN {n_words} > 0 THEN CAST(len(list_filter({w}, "
             f"x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)"
             f" / {n_words} END")
    lowered = f"list_transform({w}, x -> lower(x))"
    stop_list = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    stop_hits = (f"len(list_filter([{stop_list}], "
                 f"s -> list_contains({lowered}, s)))")
    keep = (
        f"COALESCE({n_words} BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}"
        f" AND ({mean_len}) BETWEEN {GOPHER_MIN_MEAN_WORD_LEN} AND "
        f"{GOPHER_MAX_MEAN_WORD_LEN}"
        f" AND ({sym_ratio}) <= {GOPHER_MAX_SYMBOL_RATIO}"
        f" AND ({bullet}) <= {GOPHER_MAX_BULLET_FRAC}"
        f" AND ({ellip}) <= {GOPHER_MAX_ELLIPSIS_FRAC}"
        f" AND ({alpha}) >= {GOPHER_MIN_ALPHA_FRAC}"
        f" AND {stop_hits} >= {GOPHER_MIN_STOPWORDS}, FALSE)"
    )
    return [
        f"CAST({n_words} AS INT) AS n_words",
        f"ROUND({mean_len}, 4) AS mean_word_len",
        f"ROUND({sym_ratio}, 6) AS symbol_word_ratio",
        f"ROUND({bullet}, 6) AS bullet_line_frac",
        f"ROUND({ellip}, 6) AS ellipsis_line_frac",
        f"ROUND({alpha}, 6) AS alpha_word_frac",
        f"CAST({stop_hits} AS INT) AS n_stop_hits",
        f"{keep} AS keep_doc",
    ]
