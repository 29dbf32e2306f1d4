"""PII / toxicity regex scrub stage (SURVEY.md §2B "Scrub").

Parity: FormatChecker's regex machinery (ref≈includes/ConstraintCheck/Checker/
FormatChecker.php:~30-110) recast from check to rewrite: instead of reporting
a violation for a matching string, the matching span is replaced.

Implementation: a chain of F.regexp_replace Column expressions — JVM-side,
whole-stage-codegen'd, zero Python. The pattern list is ordered and versioned;
byte-identical output per url is a hard invariant (BASELINE.json:15), so
patterns are applied in a fixed sequence (later patterns see earlier
replacements). Scrubbing is idempotent: replacement tokens never re-match any
pattern (tested property, tests/test_scrub.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SCRUB_VERSION = "2"  # v2: phone prefix optional (r04 review)

# (name, java_regex, replacement) — ORDER MATTERS and is frozen.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # country/area prefix OPTIONAL (v2): the v1 pattern required 1-2 digits
    # before the first separator, so the most common national formats
    # '555-123-4567' and '(555) 123-4567' were never scrubbed (r04 review)
    ("phone", r"(?:\+?\d{1,2}[-. ])?\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}", "<PHONE>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
)

TOXICITY_PATTERNS: tuple[tuple[str, str, str], ...] = (
    # non-capturing: match-identical for replace, and pandas str.contains
    # (the enrich flag path compiles this same constant) warns on groups
    ("blockwords", r"\b(?:badword|toxicword|slurword)\b", "<REDACTED>"),
)

ALL_PATTERNS = PII_PATTERNS + TOXICITY_PATTERNS


def scrub_column(
    text: str | Column = "text",
    patterns: tuple[tuple[str, str, str], ...] = ALL_PATTERNS,
) -> Column:
    col = F.col(text) if isinstance(text, str) else text
    for _, pattern, repl in patterns:
        col = F.regexp_replace(col, pattern, repl)
    return col


def pii_hit_count(text: str | Column = "text") -> Column:
    """How many PII spans a document contains (metrics/violation scoring) —
    once-per-span semantics: a span matching two patterns (an IPv4 inside
    an email's domain, a phone inside an email) is scrubbed once and counts
    once (independent per-pattern counts on raw text double-counted it —
    r04 fix).

    MARKER-DIFF formulation (r04 VERDICT #6): count, per pattern, the
    occurrences of its replacement marker in the SCRUBBED text minus those
    already in the input — i.e. the markers the scrub ADDED, which is
    exactly one per replaced span. The r04 sequential formulation (count on
    progressively-scrubbed text) had identical semantics but re-ran every
    pattern's regex a second time over partially-scrubbed text — measured
    2.04× the pre-fix cost; this one costs the scrub's own single regex
    pass per pattern plus literal \\Q…\\E splits (1.19×), with
    row-identical counts on the sf0.1 corpus (BASELINE.md §r04-regression
    A/B). Equivalence rests on two invariants of the frozen pattern set:
      - idempotence: no marker (or part of one) matches any pattern, so
        pre-existing markers in the input survive scrubbing and cancel in
        the subtraction (property-tested in tests/test_properties.py;
        edge pins in tests/test_scrub.py);
      - no marker can be FORMED by inserting a marker into other text:
        markers are '<NAME>' tokens with no '<'/'>' inside, so splicing one
        between arbitrary characters never completes a different marker.
    Anyone extending the pattern set must preserve both (the scrub-
    idempotence property test enforces the first)."""
    col = F.col(text) if isinstance(text, str) else text
    scrubbed = scrub_column(col, PII_PATTERNS)
    total = F.lit(0)
    for _, _, repl in PII_PATTERNS:
        lit_pat = "\\Q" + repl + "\\E"  # literal, regex-metachar-proof
        total = total + (
            (F.size(F.split(scrubbed, lit_pat, -1)) - 1)
            - (F.size(F.split(col, lit_pat, -1)) - 1)
        )
    # NULL text (extraction failure) counts 0 hits: F.size(NULL) is NULL
    # under Spark 4 (and -1 under legacy sizeOfNull), so without the guard
    # a metrics aggregation over extraction-failure rows silently skips or
    # corrupts them (r04 review)
    return F.when(col.isNotNull(), total).otherwise(F.lit(0))
