"""Unicode normalization gates: NFC cross-engine byte parity (unicodedata vs
DuckDB's utf8proc), control-strip DuckDB-twin parity, mojibake repair
fixtures + idempotence/no-op properties, NULL semantics, and the plan-shape
contracts (codegen-only strip; ONE Arrow stage for the full normalize)."""

from __future__ import annotations

import contextlib
import io
import unicodedata

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from wikidataquality_spark.operators.normalize import (
    _repair_one,
    nfc_normalize,
    nfc_normalize_sql,
    normalize_text,
    strip_control_chars,
    strip_control_chars_sql,
    with_normalized_text,
)

# NFC-interesting: decomposed accents, Hangul jamo, ligature (NFC-invariant),
# combining sequences, already-composed text, CJK, emoji.
NFC_CASES = [
    "café",  # e + combining acute -> é
    "각",  # Hangul jamo -> 각
    "ﬁne print",  # ligature: NFC keeps it
    "à̖b",  # multiple combining marks (canonical ordering)
    "already composed é",
    "中文テキスト",
    "emoji 😀 ok",
    "",
]

MOJIBAKE_CASES = {
    "â€™tis": "’tis",
    "Ã©tait lÃ\xa0": "était là",
    "Â£5 â€“ Â£9": "£5 – £9",
    "ÃƒÂ©": "é",  # doubly-encoded: two repair passes
    "ðŸ˜€": "😀",  # 4-byte emoji lead
}

CLEAN_CASES = ["plain ascii", "déjà vu — naïve", "中文", "😀", "a\tb\nc"]


@pytest.fixture(scope="module")
def con():
    return duckdb.connect()


def _spark_vals(spark, col_fn, rows):
    df = spark.createDataFrame([(s,) for s in rows], "text string")
    return [r["o"] for r in df.select(col_fn("text").alias("o")).collect()]


def test_nfc_matches_duckdb_bytewise(spark, con):
    got = _spark_vals(spark, nfc_normalize, NFC_CASES)
    for s, g in zip(NFC_CASES, got):
        d = con.execute(f"select {nfc_normalize_sql('?')}", [s]).fetchone()[0]
        assert g == d, (repr(s), repr(g), repr(d))
        assert g == unicodedata.normalize("NFC", s)


def test_strip_control_chars_matches_duckdb(spark, con):
    rows = [
        "a\x00b\x1fc\x7fd",
        "zero​width‌‍ joined",
        "bidi ‪embed‬ mark ‏",
        "soft­hyphen bom﻿ wj⁠",
        "keep \t tab \n newline \r cr",
        "",
    ]
    got = _spark_vals(spark, strip_control_chars, rows)
    for s, g in zip(rows, got):
        d = con.execute(f"select {strip_control_chars_sql('?')}", [s]).fetchone()[0]
        assert g == d, (repr(s), repr(g), repr(d))
    assert got[4] == "keep \t tab \n newline \r cr"  # structure survives


def test_mojibake_fixture_bytes_exact():
    for s, want in MOJIBAKE_CASES.items():
        assert _repair_one(s) == want, repr(s)


def test_repair_is_identity_on_clean_text():
    for s in CLEAN_CASES:
        assert _repair_one(s) == s, repr(s)


def test_repair_idempotent_on_fixtures():
    for s in MOJIBAKE_CASES:
        once = _repair_one(s)
        assert _repair_one(once) == once, repr(s)


@settings(max_examples=200, deadline=None)
@given(
    st.text(
        alphabet=st.characters(
            codec="utf-8", exclude_categories=("Cs",), max_codepoint=0x2FFFF
        ),
        max_size=40,
    )
)
def test_repair_total_and_idempotent(s):
    """Repair never raises on ANY unicode input and is a fixed point after
    one application — the property that makes re-running a normalize stage
    on already-normalized shards safe."""
    once = _repair_one(s)
    assert _repair_one(once) == once


def test_normalize_text_end_to_end_and_null(spark):
    # Row 0: latin-1-flavor mojibake -- "\u201ccaf\u00e9\u201d" misdecoded
    # byte-per-byte, carrying a RAW C1 control (\x9d, cp1252's undefined
    # slot) that only the sloppy-cp1252 path can re-encode.
    moji = "\u201ccaf\u00e9\u201d ok".encode("utf-8").decode("latin-1")
    # Row 1: clean text with an NFD accent + zero-width space (these faults
    # never coexist with mojibake in one string -- a ZWSP in the original
    # arrives AS mojibake "\u00e2\u20ac\x8b").
    rows = [(moji,), ("cafe\u0301\u200b ok",), (None,)]
    df = spark.createDataFrame(rows, "text string")
    got = [r["o"] for r in df.select(normalize_text("text").alias("o")).collect()]
    assert got[0] == "\u201ccaf\u00e9\u201d ok"
    assert got[1] == "caf\u00e9 ok"
    assert got[2] is None


def test_series_twin_matches_column(spark):
    """normalize_series (the fused-into-enrich pandas twin) must produce the
    same bytes as the normalize_text Column for every fault class."""
    import pandas as pd

    from wikidataquality_spark.operators.normalize import normalize_series

    rows = (
        NFC_CASES
        + list(MOJIBAKE_CASES)
        + CLEAN_CASES
        + ["a\x00b​c", "“café” ok".encode("utf-8").decode("latin-1"), None]
    )
    df = spark.createDataFrame([(s,) for s in rows], "text string")
    col_out = [r["o"] for r in df.select(normalize_text("text").alias("o")).collect()]
    ser_out = list(normalize_series(pd.Series(rows, dtype=object)))
    for s, c, p in zip(rows, col_out, ser_out):
        p_norm = None if (p is None or (isinstance(p, float) and p != p)) else p
        assert c == p_norm, (repr(s), repr(c), repr(p))


def test_pipeline_normalize_opt_in(spark):
    """Pipeline opt-in: normalize=True repairs a planted-mojibake page
    before stats/fingerprints; the default leaves bytes untouched (golden
    byte-identity contract)."""
    from datetime import datetime

    from wikidataquality_spark.operators.barrier import owned_caches
    from wikidataquality_spark.pipeline import validate

    moji_text = "â€œthe quick brown fox jumps over the lazy dogâ€\x9d " * 3
    html = ("<html><body><main>" + moji_text + "</main></body></html>").encode("utf-8")
    pages = spark.createDataFrame(
        [("https://ex.com/a", datetime(2024, 1, 1), html, None, "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    with owned_caches() as owner:
        off = validate(pages, persist_registry=owner).select("text_extracted").collect()[0][0]
        on = (
            validate(pages, normalize=True, persist_registry=owner)
            .select("text_extracted")
            .collect()[0][0]
        )
    assert "â€œ" in off and "â€" in off
    assert "â€" not in on and "“the quick brown fox" in on
    assert on == _repair_one(off)


def test_strip_plan_is_pure_codegen(spark):
    df = spark.createDataFrame([("x",)], "text string")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.select(strip_control_chars("text")).explain("formatted")
    plan = buf.getvalue()
    for node in ("Exchange", "ArrowEvalPython", "BatchEvalPython", "Join"):
        assert node not in plan, plan


def test_normalize_plan_single_arrow_stage_no_shuffle(spark, sf001_dir):
    docs = spark.read.parquet(f"{sf001_dir}/documents.parquet")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        with_normalized_text(docs.select("doc_id", "text")).explain("formatted")
    plan = buf.getvalue()
    # formatted output prints each node twice (tree + detail); count the
    # detail headers "(n) ArrowEvalPython" for the true node count.
    import re

    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1, plan
    for node in ("Exchange", "BatchEvalPython", "Join"):
        assert node not in plan, plan


def test_marker_prefilter_covers_all_scripts():
    """The prefilter must pass every script's mojibake through to repair —
    the hand-picked marker list missed Cyrillic/Greek/Polish leads
    (r04 review). Uses _repair_series (the prefiltered path), not
    _repair_one directly."""
    import pandas as pd

    from wikidataquality_spark.operators.normalize import _repair_series

    cases = {
        "Ð¿Ñ€Ð¸Ð²ÐµÑ‚ Ð¼Ð¸Ñ€": "привет мир",  # Russian
        "Å‚adny Å›wiat": "ładny świat",  # Polish
        "ÎµÎ»Î»Î·Î½Î¹ÎºÎ¬": "ελληνικά",  # Greek
        "â€™tis Ã©tait": "’tis était",  # the original Western cases
    }
    got = _repair_series(pd.Series(list(cases), dtype=object))
    for (src, want), g in zip(cases.items(), got):
        assert g == want, (repr(src), repr(g))
    # clean accented text must NOT match the prefilter (no repair attempt
    # cost, no change): lead chars appear but never lead+continuation bigrams
    clean = pd.Series(["été déjà naïve Øre straße", None], dtype=object)
    out = _repair_series(clean)
    assert out[0] == clean[0] and out[1] is None


def test_normalize_series_nan_tolerant():
    import numpy as np
    import pandas as pd

    from wikidataquality_spark.operators.normalize import normalize_series

    out = normalize_series(pd.Series(["ok", None, np.nan], dtype=object))
    assert out[0] == "ok"
    assert out[1] is None or out[1] != out[1]
    assert out[2] is None or out[2] != out[2]
