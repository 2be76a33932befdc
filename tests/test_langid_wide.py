"""59-language detector: three-mirror parity + accuracy.

The Spark Column form (language_expr), the DuckDB SQL form
(language_sql) and the pure-Python form (model.detect_language) must
produce the same code for every sample sentence — and that code must be
the sentence's own language (the accuracy bar the langid_wide gate's
engine-vs-engine compare alone can't prove).
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from azure_pdf_parser_spark.functions.text import (
    _ALL_PROFILE_WORDS,
    _LETTER_CLEANER,
    LANG_PROFILES,
    LANGID_WIDE_SENTENCES,
    NON_LATIN_GUARD,
    _script_pattern,
    _sql_array,
    language_expr,
    language_sql,
    with_language,
)
from azure_pdf_parser_spark.model import detect_language
from tests.conftest import SF_DIR
from tests.oracle_utils import compare_query

EDGE_TEXTS = [
    "",
    None,
    "zzz qqq",
    "中",
    "é ß",
    "𝄞 the and of to",
    "the и не в but the and of",  # mixed-script: en stopwords outnumber ru
    "MixedCase The And Of",  # lowercase-only matching
]


def test_every_sentence_detects_as_its_own_language():
    for lang, sent in LANGID_WIDE_SENTENCES.items():
        assert detect_language(sent) == lang, (lang, detect_language(sent))


def test_profiles_cover_59_languages_sorted():
    assert len(LANG_PROFILES) == 59
    assert list(LANG_PROFILES) == sorted(LANG_PROFILES)
    assert list(LANGID_WIDE_SENTENCES) == list(LANG_PROFILES)


def test_three_mirrors_agree(spark):
    texts = list(LANGID_WIDE_SENTENCES.values()) + EDGE_TEXTS
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id int, text string"
    )
    sp = {
        r.id: r.lang
        for r in df.select("id", language_expr("text").alias("lang")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(id INT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(texts)))
    dk = dict(con.execute(f"SELECT id, {language_sql('text')} FROM t").fetchall())
    for i, t in enumerate(texts):
        py = detect_language(t)
        assert sp[i] == dk[i] == py, (repr(t)[:50], sp[i], dk[i], py)


def test_langid_wide_gate_matches_oracle(spark):
    compare_query(spark, SF_DIR, "langid_wide")


def test_golden_fixture_texts_agree_with_reference_langdetect(spark):
    """Agreement with the reference on the texts it ACTUALLY
    language-detects: the reference runs langdetect over the whole
    document string (reference experimental_base.py:135-160,
    ``detect(self.to_string())`` with a pinned seed). On the golden
    fixtures that output is unambiguous: sample-one-page is an English
    SEC 10-Q (100% Latin) → 'en'; sample-sixteen-page is a Saudi
    ministry water-strategy document whose letters are 98.8% Arabic
    script (14,958 Arabic vs 174 Latin) → 'ar' under any
    whole-document single-language model. All three detector mirrors
    must reproduce those codes on each fixture's raw ``content``
    string AND on the reference's own to_string() analog (the
    paragraph contents stripped then space-joined —
    experimental_base.py:131-134 is
    ``" ".join(block.to_string().strip() for ...)``)."""
    import json
    import os

    import pytest

    if not os.path.isdir("/root/reference/tests/data"):
        pytest.skip("reference checkout not present at /root/reference")
    expected = {"sample-one-page": "en", "sample-sixteen-page": "ar"}
    texts: list[tuple[str, str]] = []  # (text, expected_code)
    for name, code in expected.items():
        with open(os.path.join("/root/reference/tests/data", f"{name}.json")) as f:
            for result in json.load(f):
                texts.append((result["content"], code))
                paras = result.get("paragraphs") or []
                joined = " ".join(p["content"].strip() for p in paras)
                if joined:
                    texts.append((joined, code))
    assert len(texts) >= 4 and all(t for t, _ in texts)
    for t, code in texts:
        assert detect_language(t) == code, (t[:60], detect_language(t), code)
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(texts)], "id int, text string"
    )
    sp = {
        r.id: r.lang
        for r in df.select("id", language_expr("text").alias("lang")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE g(id INT, text VARCHAR)")
    con.executemany(
        "INSERT INTO g VALUES (?, ?)", [(i, t) for i, (t, _) in enumerate(texts)]
    )
    dk = dict(
        con.execute(f"SELECT id, {language_sql('text')} FROM g").fetchall()
    )
    for i, (_, code) in enumerate(texts):
        assert sp[i] == dk[i] == code, (i, sp[i], dk[i], code)


def test_langid_agreement_gate_matches_oracle(spark):
    compare_query(spark, SF_DIR, "langid_agreement")


def test_langid_doc_agreement_gate_matches_oracle(spark):
    compare_query(spark, SF_DIR, "langid_doc_agreement")


def test_langid_doc_variants_measure_the_detector(spark):
    """Document-granularity accuracy (r4 verdict ask #4): the gate's
    ground truth is the CONSTRUCTION language of real per-language
    text, so its accuracy rows measure the detector, not the synthetic
    corpus generator. Pins: (a) the Spark gate's per-(lang, variant)
    accuracy equals the pure-Python mirror's document-by-document
    verdicts exactly — three-mirror parity at document granularity;
    (b) full-sentence, repeated-past-256-chars (sample-truncation) and
    English-contaminated code-switched documents all detect 59/59;
    (c) 4-word fragments degrade to exactly the 9 linguistically-close
    confusions (no->da, pt->es, bg/mk->ru, ur->fa, ...) — the honest
    short-doc boundary, asserted so it can't silently widen."""
    from azure_pdf_parser_spark.functions.text import langid_doc_variants
    from azure_pdf_parser_spark.plans.queries import QUERIES

    rows = langid_doc_variants()
    assert len(rows) == 59 * 4
    assert len({(l, v) for l, v, _ in rows}) == 236

    # Python-mirror expectation, document by document.
    exp_correct: dict[tuple[str, str], bool] = {}
    for lang, variant, text in rows:
        exp_correct[(lang, variant)] = detect_language(text) == lang

    got = {
        (r.lang_true, r.variant): r
        for r in QUERIES["langid_doc_agreement"](spark, SF_DIR).collect()
    }
    assert set(got) == set(exp_correct)
    for key, row in got.items():
        want = 1000 if exp_correct[key] else 0
        assert row.accuracy_permille == want, (key, row)
        assert row.n_docs > 0 and row.n_correct in (0, row.n_docs)

    # The per-variant accuracy picture, pinned.
    by_variant: dict[str, int] = {}
    for (lang, variant), ok in exp_correct.items():
        by_variant[variant] = by_variant.get(variant, 0) + ok
    assert by_variant == {
        "sentence": 59, "repeat": 59, "mixed": 59, "head4": 50
    }, by_variant
    head4_misses = {
        (lang, got[(lang, "head4")].top_confusion)
        for lang, v in exp_correct
        if v == "head4" and not exp_correct[(lang, v)]
    }
    assert head4_misses == {
        ("bg", "ru"), ("hu", "ca"), ("mk", "ru"), ("nl", "hu"),
        ("no", "da"), ("pl", "af"), ("pt", "es"), ("sk", "af"),
        ("ur", "fa"),
    }, head4_misses


def test_rendered_sql_literals_select_back_equal(spark):
    """The Spark detector is SQL text: every constant rendered into it
    must select back through F.expr equal to its Python value — the 193
    profile words, the 59 codes, the 24 script/marker patterns, the
    non-Latin guard (its NUL included) and the letter cleaner."""
    scripts = [
        _script_pattern(lang)
        for lang, (kind, _) in LANG_PROFILES.items()
        if kind != "words"
    ]
    assert (len(_ALL_PROFILE_WORDS), len(scripts)) == (193, 24)
    assert "\x00" in NON_LATIN_GUARD and "\\" in _LETTER_CLEANER
    hostile = ["'", "\\", "\\u0041", "a'b\\'c", "\x01\x1f"]
    consts = [
        *_ALL_PROFILE_WORDS, *LANG_PROFILES, *scripts,
        NON_LATIN_GUARD, _LETTER_CLEANER, *hostile,
    ]
    got = spark.range(1).select(F.expr(_sql_array(consts))).first()[0]
    assert got == consts


@pytest.fixture(scope="module")
def script_chars(spark):
    """Every code point of the script blocks and marker sets whose
    letter category the JVM (\\p{L}) and Python (str.isalpha) agree on.
    The runtimes carry different Unicode versions (Java 17: 13, Python
    3.11: 14), so a letter only the newer one knows (U+0C5D, U+0CDD,
    U+9FFD-U+9FFF here) tokenizes differently in the mirrors — a limit
    of the runtimes, left out of the draw so the property pins the
    detector itself."""
    cps = []
    for kind, payload in LANG_PROFILES.values():
        if kind == "script":
            cps += [chr(c) for c in range(ord(payload[0]), ord(payload[1]) + 1)]
        elif kind == "marker_script":
            cps += list(payload)
    df = spark.createDataFrame([(c,) for c in cps], "ch string")
    jvm_letter = dict(
        df.select(
            "ch", F.regexp_replace("ch", _LETTER_CLEANER, "") == F.col("ch")
        ).collect()
    )
    return [c for c in cps if jvm_letter[c] == c.isalpha()]


_SENTENCE_WORDS = sorted(
    {w for s in LANGID_WIDE_SENTENCES.values() for w in s.split(" ")}
)


def _wide_texts(script_chars):
    """Texts that reach every profile: tokens drawn from the 59 sample
    sentences' words, script-block and marker characters (combining
    marks and digits of the blocks included), quote, backslash and NUL,
    joined by zero, one or two spaces; long enough to be cut by the
    256-char sample."""
    token = st.one_of(
        st.sampled_from(_SENTENCE_WORDS),
        st.text(st.sampled_from(script_chars), min_size=1, max_size=4),
        st.sampled_from(["'", "\\", "\x00"]),
    )
    piece = st.tuples(token, st.sampled_from(["", " ", "  "]))
    text = st.lists(piece, max_size=60).map(
        lambda ps: "".join(t + sep for t, sep in ps)
    )
    return st.lists(st.one_of(st.none(), text), min_size=1, max_size=8)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_spark_forms_agree_with_python_on_wide_texts(spark, script_chars, data):
    texts = data.draw(_wide_texts(script_chars))
    df = spark.createDataFrame(list(enumerate(texts)), "id int, text string")
    got = {
        r.id: (r.inline, r.staged)
        for r in with_language(df, "text", "staged")
        .select("id", language_expr("text").alias("inline"), "staged")
        .collect()
    }
    for i, t in enumerate(texts):
        py = detect_language(t)
        assert got[i] == (py, py), (repr(t)[:80], got[i], py)
