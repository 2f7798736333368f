"""PII detection & scrubbing (SURVEY.md §2.11 extension family): count and
mask emails, credit-card numbers, SSNs, IPv4 addresses, and phone numbers —
the redaction pass every public LLM training pipeline runs before text
lands in a shard (the C4 cleanup and the BigScience/ROOTS "PII
preprocessing" both describe this regex-mask recipe).

Scale design: everything here is a chain of native ``regexp_count`` /
``regexp_replace`` column expressions — whole-stage-codegen'd, map-only,
zero shuffle, zero Python — so it streams through a 100 TB scan at scan
speed. The patterns are deliberately RE2-compatible (no backreferences, no
lookarounds) so a DuckDB twin verifies counts AND masked text bit-for-bit.

Pattern ordering matters: masking runs in the declared order (IPv4 before
phone so dotted octets are never half-eaten by the phone pattern), and
both engines apply the identical order, so the output is engine-portable
by construction. One caveat: a placeholder's boundary
characters CAN occasionally mint a later match that the raw text lacked —
e.g. ``foo@bar.com123-45-6789`` masks to ``<EMAIL><SSN>`` because ``>``
creates the word boundary the SSN pattern needed, while ``pii_counts`` on
the raw text reports ``n_ssn=0``. Counts describe the RAW text; the mask
is (deliberately) the greedier side — both engines agree on both.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# (name, regex, placeholder) — masking applies in THIS order. All patterns
# RE2-safe (no backreferences/lookarounds). Card covers separated AND
# contiguous 16-digit PANs (the contiguous PAN is the most common dump
# form); phone covers dashed/dotted, spaced, and (area)-parenthesized
# forms.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("card", r"\b\d{4}[ -]\d{4}[ -]\d{4}[ -]\d{4}\b|\b\d{16}\b", "<CARD>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    # both alternatives carry the trailing \b: without it the
    # parenthesized branch masked the first 4 of a longer digit run —
    # '(555) 123-45678' → '<PHONE>8', leaking a residual digit
    ("phone",
     r"\(\d{3}\)[ -]?\d{3}[-. ]\d{4}\b|\b\d{3}[-. ]\d{3}[-. ]\d{4}\b",
     "<PHONE>"),
]


def _col(text: str | Column) -> Column:
    return F.col(text) if isinstance(text, str) else text


def pii_counts(text: str | Column) -> list[Column]:
    """One ``n_<kind>`` count column per PII pattern (non-overlapping
    leftmost matches — identical semantics to DuckDB
    ``len(regexp_extract_all(...))``)."""
    t = _col(text)
    return [F.regexp_count(t, F.lit(pat)).cast("int").alias(f"n_{name}")
            for name, pat, _ in PII_PATTERNS]


def scrub_pii(text: str | Column) -> Column:
    """Masked text: every PII match replaced by its ``<KIND>`` placeholder,
    patterns applied in ``PII_PATTERNS`` order. Counts must be computed on
    the RAW text (before this), since masking destroys the matches."""
    out = _col(text)
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def scrub_pii_sql(expr: str) -> str:
    """DuckDB twin of :func:`scrub_pii` over the SQL expression ``expr`` —
    the same patterns in the same order (RE2-safe by construction), for
    oracle strings and downstream DuckDB users."""
    out = expr
    for _, pat, repl in PII_PATTERNS:
        out = f"regexp_replace({out}, '{pat}', '{repl}', 'g')"
    return out


def pii_counts_sql(expr: str) -> list[str]:
    """DuckDB twin of :func:`pii_counts`: one ``n_<kind>`` projection per
    pattern."""
    return [
        f"CAST(len(regexp_extract_all({expr}, '{pat}')) AS INT) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    ]
