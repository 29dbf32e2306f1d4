"""Unicode text normalization + mojibake repair (the ftfy-class pre-clean).

Raw crawl text arrives in three broken flavors a filter pipeline must fix
BEFORE any hashing, token counting, or dedup — otherwise "café" and
"café" (NFC vs NFD) fingerprint as different documents, zero-width
characters inflate exact-dup misses, and cp1252-mojibake ("â€™" for "’")
poisons language ID and perplexity alike:

  1. **control/format chars** — C0/C1 controls, soft hyphen, zero-width
     space/joiners, bidi embedding marks, BOM. Pure regexp removal, stays
     in whole-stage codegen (no Python); `\t`/`\n`/`\r` are deliberately
     KEPT (they are document structure the line-dedup and scrub stages key
     on).
  2. **canonical composition (NFC)** — vectorized `unicodedata.normalize`
     in an iterator pandas UDF. DuckDB's `nfc_normalize` (utf8proc) is the
     cross-engine twin — byte-identical outputs, gated in
     tests/test_normalize.py.
  3. **cp1252 mojibake repair** — UTF-8 bytes once mis-decoded as
     Windows-1252 ("â€™", "Ã©", "Â£"). Repair = re-encode cp1252 →
     decode UTF-8, accepted ONLY when both conversions round-trip strictly
     AND the text was flagged suspicious (a vectorized marker-regex
     prefilter: most web text is clean, so the per-row try/except touches
     a tiny minority of rows). Deterministic, total, idempotent (a repaired
     string no longer matches the markers strictly enough to round-trip —
     property-gated).

Order matters and is fixed by `normalize_text`: repair FIRST (mojibake is a
byte-level fault; NFC on mojibake garbage can destroy repairability), NFC
second, control-strip last (NFC can emit nothing in the stripped ranges, but
repair can surface C1 controls from stray cp1252 bytes).

Scale: (1)/(3) never shuffle; the one pandas stage is iterator-style (model-
free, Arrow-batched) and prunes to the text column. NULL → NULL throughout.

Reference analogue: the FormatChecker ethos (ref≈includes/ConstraintCheck/
Checker/FormatChecker.php:~30-90) — per-value well-formedness enforcement —
applied to the byte level of the document text itself.
"""

from __future__ import annotations

import unicodedata
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# One codepoint inventory; both engine spellings derive from it. Ranges are
# inclusive (lo, hi) pairs. NOT stripped: \t \n \r (structure), U+2028/29
# (line seps — the line-dedup layer treats them as text, changing that is a
# corpus-semantics decision, not a cleanup).
_STRIP_RANGES: list[tuple[int, int]] = [
    (0x00, 0x08),  # C0 before \t
    (0x0B, 0x0C),  # VT, FF (between \n and \r)
    (0x0E, 0x1F),  # C0 after \r
    (0x7F, 0x9F),  # DEL + C1 block
    (0xAD, 0xAD),  # soft hyphen
    (0x200B, 0x200F),  # zero-width sp/joiners + bidi marks
    (0x202A, 0x202E),  # bidi embedding/override
    (0x2060, 0x2060),  # word joiner
    (0xFEFF, 0xFEFF),  # BOM / ZWNBSP
]


def _char_class(esc) -> str:
    parts = []
    for lo, hi in _STRIP_RANGES:
        parts.append(esc(lo) if lo == hi else f"{esc(lo)}-{esc(hi)}")
    return "[" + "".join(parts) + "]"


# Java regex (Spark): \uXXXX escapes are valid for the whole BMP.
CONTROL_CLASS_JAVA = _char_class(lambda c: f"\\u{c:04X}")
# RE2 (DuckDB): \x{XXXX}.
CONTROL_CLASS_RE2 = _char_class(lambda c: f"\\x{{{c:04X}}}")


def strip_control_chars(text: Column | str) -> Column:
    """Remove control/format codepoints (codegen'd regexp, no Python)."""
    col = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(col, CONTROL_CLASS_JAVA, "")


def strip_control_chars_sql(text_expr: str) -> str:
    """DuckDB twin of strip_control_chars (RE2 spelling, global flag)."""
    return f"regexp_replace({text_expr}, '{CONTROL_CLASS_RE2}', '', 'g')"


# --- mojibake repair -------------------------------------------------------
# Marker prefilter: a UTF-8 LEAD byte (0xC2-0xF4) mis-decoded as cp1252/
# latin-1 lands on Â…ô, and it is always FOLLOWED by a continuation byte
# (0x80-0xBF), which lands on the cp1252 decodes of that range (€ ‚ " – ™ œ
# NBSP ¡ £ © ® ½ …) or, for cp1252's five undefined slots via the latin-1
# path, a raw C1 control. Legitimate accented text ("été", "Ø", "привет")
# contains lead-range chars but essentially never lead+continuation
# BIGRAMS, so the prefilter is tight while covering EVERY script's mojibake
# (the r04 review caught the previous hand-picked marker list missing
# Cyrillic/Greek/Polish leads 0xC4-0xD1 — those pages silently skipped
# repair). The STRICT round-trip requirement in _repair_one is what prevents
# false repairs; the regex only bounds how many rows pay for the attempt.
import re as _mk_re


def _continuation_chars() -> str:
    out = []
    for byte in range(0x80, 0xC0):
        try:
            out.append(bytes([byte]).decode("cp1252"))
        except UnicodeDecodeError:  # cp1252 undefined → latin-1 C1 control
            out.append(chr(byte))
    return "".join(_mk_re.escape(c) for c in sorted(set(out)))


_MOJIBAKE_MARKERS = f"[Â-ô][{_continuation_chars()}]"

# "Sloppy cp1252" (the ftfy term): web text misdecoded as latin-1 instead of
# cp1252 carries raw C1 controls (U+0080-U+009F) where cp1252 has € ‚ ƒ … —
# and cp1252's five UNDEFINED slots (0x81 8D 8F 90 9D) only ever appear via
# the latin-1 path. Re-encoding maps C1 codepoints back to their own byte;
# anything else unencodable still fails strict (no false repairs).
import codecs as _codecs


def _c1_passthrough(err: UnicodeError) -> tuple[bytes, int]:
    chunk = err.object[err.start : err.end]  # type: ignore[index]
    if all(0x80 <= ord(c) <= 0x9F for c in chunk):
        return bytes(ord(c) for c in chunk), err.end  # type: ignore[union-attr]
    raise err


_codecs.register_error("wdq_sloppy_c1", _c1_passthrough)


def _repair_one(s: str) -> str:
    # Iterate to a fixed point: doubly-encoded mojibake ("ÃƒÂ©" for "é")
    # needs one pass per encoding layer. The length-strictly-shrinks
    # acceptance bounds the loop at log₂(len) — 4 covers anything real.
    for _ in range(4):
        try:
            b = s.encode("cp1252", errors="wdq_sloppy_c1")
            fixed = b.decode("utf-8", errors="strict")
        except (UnicodeEncodeError, UnicodeDecodeError):
            return s
        # A strict double round-trip on pure-ASCII text is the identity;
        # only accept a repair that changed something AND shrank the text
        # (real mojibake is 2-4 cp1252 chars per original char — growth
        # means we just mangled legitimate cp1252-compatible text).
        if not (0 < len(fixed) < len(s)):
            return s
        s = fixed
    return s


def _repair_series(texts: pd.Series) -> pd.Series:
    mask = texts.notna() & texts.str.contains(_MOJIBAKE_MARKERS, regex=True, na=False)
    if not mask.any():
        return texts
    out = texts.copy()
    out.loc[mask] = out.loc[mask].map(_repair_one)
    return out


# Python re accepts the same \uXXXX escapes as Java — one inventory, three
# engine spellings (Java/RE2/Python).
import re as _re

_CONTROL_RE_PY = _re.compile(_char_class(lambda c: f"\\u{c:04X}"))


def normalize_series(texts: pd.Series) -> pd.Series:
    """Pandas-side twin of `normalize_text` (repair → NFC → strip), for
    fusing into an ALREADY-EXISTING Arrow stage (the pipeline's enrich pass
    normalizes before any stat/hash without paying a second Python
    round-trip of every body). Column-vs-series equality is gated in
    tests/test_normalize.py."""
    out = _repair_series(texts).map(_nfc_or_none)
    return out.str.replace(_CONTROL_RE_PY, "", regex=True)


# isinstance guard, not `is not None`: a float NaN missing-value marker
# (pandas .str ops emit NaN, not None) would crash unicodedata.normalize
# and kill the whole Arrow batch (r04 review).
def _nfc_or_none(s):
    return unicodedata.normalize("NFC", s) if isinstance(s, str) else None


@F.pandas_udf(T.StringType())
def nfc_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    for texts in batches:
        yield texts.map(_nfc_or_none)


@F.pandas_udf(T.StringType())
def repair_nfc_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """Fused repair→NFC in ONE Arrow stage (the arrow_le1 plan-budget shape:
    composing the two single-op UDFs would stack two ArrowEvalPython nodes)."""
    for texts in batches:
        yield _repair_series(texts).map(_nfc_or_none)


def nfc_normalize(text: Column | str) -> Column:
    col = F.col(text) if isinstance(text, str) else text
    return nfc_udf(col)


def nfc_normalize_sql(text_expr: str) -> str:
    """DuckDB twin (utf8proc NFC — byte-identical to unicodedata's, gated)."""
    return f"nfc_normalize({text_expr})"


def normalize_text(text: Column | str) -> Column:
    """repair → NFC (one Arrow stage) → control-strip (codegen). NULL→NULL."""
    col = F.col(text) if isinstance(text, str) else text
    return strip_control_chars(repair_nfc_udf(col))


def with_normalized_text(
    df: DataFrame, text_col: str = "text", out_col: str = "text_norm"
) -> DataFrame:
    return df.withColumn(out_col, normalize_text(text_col))
