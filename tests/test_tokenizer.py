"""Tokenizer goldens — UAX#29 cases from StandardTokenizerImpl.jflex:95-112
(classes), :228-230 (numeric rule), :239-265 (word rule); skip semantics
from StandardTokenizer.java:145-168; stop positions from
FilteringTokenFilter.java:49-63."""

import ast
from pathlib import Path

import pytest

import lucene_solr_spark
from lucene_solr_spark.oracle.tokenizer import (
    ENGLISH_STOP_WORDS,
    analyze,
    tokenize,
)


def terms(text, **kw):
    return [t.term for t in analyze(text, **kw)]


GOLDENS = [
    # ExtendNumLet (_) joins
    ("foo_bar", ["foo_bar"]),
    ("snake_case_long", ["snake_case_long"]),
    ("_private x", ["_private", "x"]),
    # MidNumLet (.) joins only letter-letter or digit-digit
    ("obj.method", ["obj.method"]),
    ("obj.method2", ["obj.method2"]),
    ("x.y.z", ["x.y.z"]),
    ("3.14", ["3.14"]),
    ("a.1", ["a", "1"]),
    ("trailing. next", ["trailing", "next"]),
    ("a..b", ["a", "b"]),
    # MidLetter (:) letters only
    ("std::vector", ["std", "vector"]),  # double colon splits (single mid only)
    ("a:b", ["a:b"]),
    ("3:4", ["3", "4"]),  # colon is MidLetter, not MidNum
    # SingleQuote
    ("can't", ["can't"]),
    ("'quoted'", ["quoted"]),
    # MidNum (,;) digits only
    ("1,000", ["1,000"]),
    ("a,b", ["a", "b"]),
    # letter<->digit runs join directly (WB9/WB10)
    ("utf8 sha256 HTTP2 base64", ["utf8", "sha256", "http2", "base64"]),
    # punctuation always splits
    ("x!=y", ["x", "y"]),
    ("f(a, b)", ["f", "a", "b"]),
    ("(){};=+", []),
    # lowercase
    ("CamelCase XML", ["camelcase", "xml"]),
    # non-ASCII letters are ALetter
    ("naïve héllo", ["naïve", "héllo"]),
]


@pytest.mark.parametrize("text,expected", GOLDENS)
def test_goldens(text, expected):
    assert terms(text) == expected


def test_positions_sequential():
    toks = analyze("def foo bar")
    assert [(t.term, t.pos) for t in toks] == [("def", 0), ("foo", 1), ("bar", 2)]


def test_max_token_length_skipped_but_position_consumed():
    long_ident = "y" * 256
    toks = analyze(f"a {long_ident} b")
    assert [(t.term, t.pos) for t in toks] == [("a", 0), ("b", 2)]
    # exactly 255 chars is kept
    ok = "z" * 255
    assert [t.term for t in analyze(ok)] == [ok]


def test_stopword_positions_keep_gaps():
    toks = analyze("the quick and the dead", stopwords=ENGLISH_STOP_WORDS)
    assert [(t.term, t.pos) for t in toks] == [("quick", 1), ("dead", 4)]


def test_standard_analyzer_default_keeps_stopwords():
    assert terms("the quick") == ["the", "quick"]


def test_stopword_set_is_33_words():
    assert len(ENGLISH_STOP_WORDS) == 33


def test_raw_tokenize_not_lowercased():
    assert [t.term for t in tokenize("Foo BAR")] == ["Foo", "BAR"]


def test_ideographs_single_char_tokens():
    assert terms("汉字 abc") == ["汉", "字", "abc"]


def test_emoji_single_token():
    assert terms("snow ☃ man") == ["snow", "☃", "man"]


def test_final_sigma_query_finds_indexed_term():
    """LowerCaseFilter lowers per code point: a word-final ``Σ`` is
    ``σ`` in the index, so query terms must carry ``σ`` too — for the
    analyzed word and for the multi-term normalize path alike."""
    from lucene_solr_spark.functions.fast_tokenizer import batch_tokenize
    from lucene_solr_spark.plans import ir
    from lucene_solr_spark.plans.parser import parse_query

    (indexed,) = batch_tokenize(["ΟΔΟΣ"])[1].to_pylist()
    assert indexed == "οδοσ"
    assert parse_query("ΟΔΟΣ") == ir.TermQuery(indexed)
    assert parse_query("ΟΔΟΣ*") == ir.PrefixQuery(indexed)
    assert terms("AΣ") == ["aσ"]
    assert terms("λόγος") == ["λόγος"]  # a final ς in the text stays ς


PKG = Path(lucene_solr_spark.__file__).parent
TOKENIZER_INTERNALS = {"_TOKEN_RE", "_split_candidate"}


def test_one_candidate_loop():
    """The candidate regex and its split rules are used only inside
    ``oracle/tokenizer.py``, which imports nothing from ``functions/``;
    the highlighter's offsets come from the same chain — a second
    analyzer copy fails here."""
    from lucene_solr_spark.functions import highlight
    from lucene_solr_spark.oracle import tokenizer

    assert highlight.analyze_with_offsets is tokenizer.analyze_with_offsets
    bad = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text())
        if rel == "oracle/tokenizer.py":
            for n in ast.walk(tree):
                if isinstance(n, (ast.Import, ast.ImportFrom)) and "functions" in ast.unparse(n):
                    bad.append(f"{rel}:{n.lineno} {ast.unparse(n)}")
            continue
        for n in ast.walk(tree):
            name = (
                n.id if isinstance(n, ast.Name)
                else n.attr if isinstance(n, ast.Attribute)
                else n.name if isinstance(n, ast.alias)
                else None
            )
            if name in TOKENIZER_INTERNALS:
                bad.append(f"{rel}:{n.lineno} uses {name}")
    assert not bad, bad
