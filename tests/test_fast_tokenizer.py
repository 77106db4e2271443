"""Vectorized batch tokenizer ≡ oracle analyze() — the parity contract
for the index-build hot path (functions.fast_tokenizer)."""

from __future__ import annotations

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from lucene_solr_spark.functions.fast_tokenizer import batch_tokenize
from lucene_solr_spark.oracle.tokenizer import ENGLISH_STOP_WORDS, analyze

EDGE_CASES = [
    "def foo_bar(x): return obj.method(x) + 3.14",
    "a..b a.b a.1 1.2 1,000 can't 'quoted' trailing. :colon: a'.b",
    "UTF8 sha256 CamelCase x; y=z+1 (){};=+",
    "",
    "   ",
    "_",
    "a",
    "1",
    ".",
    "a.",
    "x" * 255,
    "y" * 256,
    ("z" * 300) + " ok",
    "emoji \U0001f600 mixed 日本語 text",
    "snow ☃ man",
    "ab☃cd",
    "Der große Bär",
    "İstanbul lower",  # U+0130: lower() is 2 codepoints → slow path
    "café déjà-vu №5 Ωmega",
    "don’t it’s — em-dash",
    "カタカナ run ゠ヿ",
    "한글 hangul ひらがな",
    None,
    "tab\tsep\nnewline end",
    "a'b a''b it's 'a' d.o.t.s 1.2.3 9,9,9 mix3d.c0de",
    "ΑΒΓ αβγ ЖЗИ ½⅓ ² x²y",
    "\U0001fbff\U0001fc00 edge",
    "vs16 a️b",
    # Extend marks inside a word run that joined no token: the mark
    # still lets a ':' join, and a VS16 there is no standalone emoji
    "一\u1cd0:A 1:\u1cd0:A 1,\u1cd0:A",
    "一\ufe0f 2,\ufe0f.",
    # capital sigma lowers per code point: σ, never the final form ς
    "ΟΔΟΣ ΟΔΟΣ. AΣ aΣb",
]


def _expected(texts, lowercase, stopwords):
    exp = {}
    for i, t in enumerate(texts):
        if t is None:
            continue
        toks = analyze(t, lowercase=lowercase, stopwords=stopwords)
        if toks:
            exp[i] = [(tok.term, tok.pos) for tok in toks]
    return exp


def _got(texts, lowercase, stopwords):
    doc, terms, pos = batch_tokenize(
        texts, lowercase=lowercase, stopwords=stopwords
    )
    got: dict[int, list] = {}
    for d, t, p in zip(doc.tolist(), terms.to_pylist(), pos.tolist()):
        got.setdefault(d, []).append((t, p))
    return got


@pytest.mark.parametrize("lowercase", [True, False])
@pytest.mark.parametrize("stop", [frozenset(), ENGLISH_STOP_WORDS])
def test_edge_case_parity(lowercase, stop):
    assert _got(EDGE_CASES, lowercase, stop) == _expected(
        EDGE_CASES, lowercase, stop
    )


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(max_codepoint=0x2FFF),
            max_size=60,
        ),
        max_size=8,
    )
)
# a combining mark with no base before a MidLetter (UAX#29 WB4)
@example(["\u1cd0:A"])
@example(["\u08ca:A"])
@example(["AΣ"])  # word-final capital sigma
def test_property_parity_bmp(texts):
    assert _got(texts, True, frozenset()) == _expected(texts, True, frozenset())


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(),  # full Unicode incl. > FAST_LIMIT
            max_size=40,
        ),
        max_size=6,
    )
)
def test_property_parity_full_unicode(texts):
    assert _got(texts, True, frozenset()) == _expected(texts, True, frozenset())


def test_fold_ascii_parity_and_duckdb_twin():
    """fold_ascii: fast path == oracle analyze == DuckDB strip_accents
    (NFD + combining strip; ligature/ss expansions of the full
    ASCIIFoldingFilter table deliberately not applied)."""
    import duckdb

    from lucene_solr_spark.functions.fast_tokenizer import batch_tokenize
    from lucene_solr_spark.oracle.tokenizer import analyze, fold_accents

    texts = [
        "Naïve café crème señor Ångström über",
        "plain ascii stays put",
        "mixed: naïveté can't obj.method2",
        "",
    ]
    d, terms, p = batch_tokenize(texts, fold_ascii=True)
    got = list(zip(d.tolist(), terms.to_pylist(), p.tolist()))
    expect = [
        (i, t.term, t.pos)
        for i, txt in enumerate(texts)
        for t in analyze(txt, fold_ascii=True)
    ]
    assert got == expect
    assert ("0", "naive", "0") != got[0]  # ints, not strings
    assert got[0][1] == "naive" and "cafe" in [g[1] for g in got]

    con = duckdb.connect()
    for w in ("naïve", "café", "señor", "ångström", "über", "straße", "crème"):
        assert fold_accents(w) == con.execute(
            "SELECT strip_accents(?)", [w]
        ).fetchone()[0]


def test_with_offsets_parity():
    """with_offsets=True spans must equal the oracle offset stream
    (analyze_with_offsets) per doc, on both the LUT fast path and the
    astral-plane slow path, for both analyzer chains."""
    from lucene_solr_spark.functions.highlight import analyze_with_offsets

    for kw in (
        dict(),
        dict(
            stopwords=ENGLISH_STOP_WORDS,
            strip_possessive=True,
            stemmer="porter",
        ),
    ):
        doc, terms, pos, soff, eoff = batch_tokenize(
            EDGE_CASES, with_offsets=True, **kw
        )
        got: dict[int, list] = {}
        for d, t, p, s, e in zip(
            doc.tolist(), terms.to_pylist(), pos.tolist(),
            soff.tolist(), eoff.tolist(),
        ):
            got.setdefault(d, []).append((t, p, s, e))
        exp = {}
        for i, text in enumerate(EDGE_CASES):
            if text is None:
                continue
            toks = analyze_with_offsets(text, **kw)
            if toks:
                exp[i] = toks
        assert got == exp
        # spans slice raw source text back out (pre-normalization)
        for i, toks in got.items():
            for term, _p, s, e in toks:
                raw = EDGE_CASES[i][s:e]
                assert len(raw) > 0
