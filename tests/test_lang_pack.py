"""Czech + Bulgarian analyzer chains (oracle.lang_pack).

Evidence model: the reference ships no full-vocabulary files for these
two CLEF stemmers, so the goldens are the reference's OWN unit tests —
every ``assertAnalyzesTo`` pair in TestCzechStemmer (143),
TestBulgarianStemmer (101), and the analyzer-level tests — parsed from
the Java sources at test time, plus alphabet fuzz proving the DuckDB
SQL twins ≡ the Python stemmers on inputs far outside the goldens.
"""

from __future__ import annotations

import random
import re

import pytest

from lucene_solr_spark.oracle.lang_pack import (
    BULGARIAN_SQL,
    BULGARIAN_STOP_WORDS,
    CZECH_SQL,
    CZECH_STOP_WORDS,
    bulgarian_stem,
    czech_stem,
)
from lucene_solr_spark.oracle.light_stemmers import analyzer_config, resolve
from lucene_solr_spark.oracle.tokenizer import analyze
from reference_files import RESOURCES_ROOT, TEST_ROOT, needs_reference

_REF = TEST_ROOT

_ASSERT_RE = re.compile(
    r'assertAnalyzesTo\(\s*\w+\s*,\s*"([^"]+)"\s*,'
    r'\s*new String\[\]\s*\{([^}]*)\}\)',
    re.S,
)


def _analyzer_goldens(rel: str) -> list[tuple[str, list[str]]]:
    txt = open(f"{_REF}/{rel}", encoding="utf-8").read()
    out = []
    for text, terms in _ASSERT_RE.findall(txt):
        out.append((text, re.findall(r'"([^"]*)"', terms)))
    return out


def _chain(name: str):
    cfg = analyzer_config(name)
    stop = cfg["stopwords"]
    stem = resolve(cfg["stemmer"])

    def run(text: str) -> list[str]:
        return [
            t.term
            for t in analyze(text, stopwords=stop, stemmer=cfg["stemmer"])
        ]

    return run, stop, stem


def _sql_twin_bad(exprs, fn, words):
    """``(word, sql, python)`` for every word the layered DuckDB chain
    ``exprs`` maps differently from the Python ``fn``."""
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE w AS SELECT unnest(?) AS term", [words])
    body = "SELECT term FROM w"
    for e in exprs:
        body = f"SELECT {e} AS term FROM ({body})"
    got = [r[0] for r in con.execute(body).fetchall()]
    return [(w, g, fn(w)) for w, g in zip(words, got) if g != fn(w)]


@needs_reference(f"{_REF}/cz/TestCzechStemmer.java")
def test_czech_stemmer_goldens():
    """Every TestCzechStemmer assertAnalyzesTo pair (the analyzer
    lowercases before the stem filter; the stemmer tests use no
    stopwords-filtered inputs)."""
    pairs = _analyzer_goldens("cz/TestCzechStemmer.java")
    assert len(pairs) >= 140
    for word, expected in pairs:
        if len(expected) != 1:
            continue
        got = czech_stem(word.lower())
        assert got == expected[0], (word, got, expected)


@needs_reference(f"{_REF}/bg/TestBulgarianStemmer.java")
def test_bulgarian_stemmer_goldens():
    pairs = _analyzer_goldens("bg/TestBulgarianStemmer.java")
    assert len(pairs) >= 100
    for word, expected in pairs:
        if len(expected) != 1:
            continue
        got = bulgarian_stem(word.lower())
        assert got == expected[0], (word, got, expected)


def test_czech_analyzer_chain():
    """TestCzechAnalyzer.java:39-54 — full chain incl. the cz stop set
    ('Pokud', 'o' are stopwords; positions gap accordingly)."""
    run, _stop, _ = _chain("czech")
    assert run("Pokud mluvime o volnem") == ["mluvim", "voln"]
    assert run("Česká Republika") == ["česk", "republik"]
    # testWithStemExclusionSet (TestCzechAnalyzer.java:50-56): 'hole'
    # marked keyword via SetKeywordMarkerFilter, no stopwords
    toks = analyze("hole desek", stemmer="czech", stem_exclusions=frozenset({"hole"}))
    assert [t.term for t in toks] == ["hole", "desk"]


def test_czech_chain_positions_gap():
    toks = analyze(
        "Pokud mluvime o volnem",
        stopwords=CZECH_STOP_WORDS,
        stemmer="czech",
    )
    assert [(t.term, t.pos) for t in toks] == [("mluvim", 1), ("voln", 3)]


def test_bulgarian_analyzer_chain():
    """TestBulgarianAnalyzer.java:34-68."""
    run, _stop, _ = _chain("bulgarian")
    assert run("Как се казваш?") == ["казваш"]
    assert run("документи") == ["документ"]
    assert run("документ") == ["документ"]
    assert run("енергийни кризи") == ["енергийн", "криз"]
    assert run("Атомната енергия") == ["атомн", "енерг"]
    assert run("компютри") == ["компютр"]
    assert run("компютър") == ["компютр"]
    assert run("градове") == ["град"]
    # testWithStemExclusionSet (TestBulgarianAnalyzer.java:63-69):
    # 'строеве' marked keyword, no stopwords — the articled form still
    # stems (еве→й) while the bare form passes through
    toks = analyze(
        "строевете строеве",
        stemmer="bulgarian",
        stem_exclusions=frozenset({"строеве"}),
    )
    assert [t.term for t in toks] == ["строй", "строеве"]


_CZ_ALPHA = "abcdeěéichíkmnostuůvyáýžčš"
_BG_ALPHA = "абвгдеийконстцъщяover"
_CZ_BG_GOLDENS = ("cz/TestCzechStemmer.java", "bg/TestBulgarianStemmer.java")


@pytest.mark.parametrize(
    "exprs, fn, alpha",
    [
        (CZECH_SQL, czech_stem, _CZ_ALPHA),
        (BULGARIAN_SQL, bulgarian_stem, _BG_ALPHA),
    ],
    ids=["czech", "bulgarian"],
)
def test_sql_twin_parity_fuzz(exprs, fn, alpha):
    """DuckDB SQL twin ≡ Python stemmer over 30k random words drawn
    from the suffix-relevant alphabet (lengths 1-12 hit every length
    guard)."""
    rng = random.Random(42)
    words = [
        "".join(rng.choice(alpha) for _ in range(rng.randrange(1, 13)))
        for _ in range(30_000)
    ]
    bad = _sql_twin_bad(exprs, fn, words)
    assert not bad, bad[:10]


@needs_reference(*(f"{_REF}/{rel}" for rel in _CZ_BG_GOLDENS))
@pytest.mark.parametrize(
    "exprs, fn",
    [(CZECH_SQL, czech_stem), (BULGARIAN_SQL, bulgarian_stem)],
    ids=["czech", "bulgarian"],
)
def test_sql_twin_parity_reference_goldens(exprs, fn):
    """DuckDB SQL twin ≡ Python stemmer over every reference golden
    input of BOTH stemmers."""
    words = []
    for rel in _CZ_BG_GOLDENS:
        words += [w.lower() for w, _e in _analyzer_goldens(rel)]
    bad = _sql_twin_bad(exprs, fn, words)
    assert not bad, bad[:10]


@needs_reference(
    f"{RESOURCES_ROOT}/cz/stopwords.txt", f"{RESOURCES_ROOT}/bg/stopwords.txt"
)
def test_stop_set_counts():
    """cz/stopwords.txt has 171 distinct entries, bg/stopwords.txt 190
    (after '#' comment stripping) — re-derived from the reference files
    so an embedding typo can't silently drop a word."""
    def load(path):
        out = set()
        for line in open(path, encoding="utf-8"):
            line = line.split("#")[0].strip()
            if line:
                out.add(line)
        return out

    assert CZECH_STOP_WORDS == load(f"{RESOURCES_ROOT}/cz/stopwords.txt")
    assert BULGARIAN_STOP_WORDS == load(f"{RESOURCES_ROOT}/bg/stopwords.txt")


def test_batch_kernel_matches_scalar():
    """The vectorized batch tokenizer with stemmer='czech'/'bulgarian'
    ≡ the scalar oracle chain on mixed text."""
    from lucene_solr_spark.functions.fast_tokenizer import batch_tokenize

    texts = [
        "Pokud mluvime o volnem Česká Republika hole desek",
        "Как се казваш документи градове строевете строеве",
        "pánové hradem mužům soudcích kostmi písně",
        "",
    ]
    for name in ("czech", "bulgarian"):
        cfg = analyzer_config(name)
        doc_ids, terms, poss = batch_tokenize(
            texts,
            stopwords=cfg["stopwords"],
            stemmer=cfg["stemmer"],
        )
        scalar = []
        for i, t in enumerate(texts):
            for tok in analyze(
                t, stopwords=cfg["stopwords"], stemmer=cfg["stemmer"]
            ):
                scalar.append((i, tok.term, tok.pos))
        got = list(zip(doc_ids.tolist(), terms.tolist(), poss.tolist()))
        assert got == scalar


# ---------------------------------------------------------- Arabic/Persian

from lucene_solr_spark.oracle.lang_pack import (  # noqa: E402
    ARABIC_NORMALIZE_SQL,
    ARABIC_STEM_SQL,
    ARABIC_STOP_WORDS,
    PERSIAN_STOP_WORDS,
    arabic_fold,
    arabic_normalize,
    arabic_stem,
    decimal_digit_fold,
    persian_fold,
    persian_normalize,
)

_CHECK_RE = re.compile(r'check(?:OneTerm\(\s*\w+\s*)?\(\s*"([^"]*)"\s*,\s*"([^"]*)"\)')


def _check_pairs(rel: str) -> list[tuple[str, str]]:
    txt = open(f"{_REF}/{rel}", encoding="utf-8").read()
    return _CHECK_RE.findall(txt)


@needs_reference(f"{_REF}/ar/TestArabicNormalizationFilter.java")
def test_arabic_normalizer_goldens():
    """Every TestArabicNormalizationFilter check() pair (hamza-seated
    alefs, dotless yeh, teh marbuta, tatweel, all eight harakat)."""
    pairs = _check_pairs("ar/TestArabicNormalizationFilter.java")
    assert len(pairs) >= 13
    for w, e in pairs:
        assert arabic_normalize(w) == e, (w, e)


@needs_reference(f"{_REF}/ar/TestArabicStemFilter.java")
def test_arabic_stemmer_goldens():
    """Every TestArabicStemFilter check() pair (the 7 prefixes, the 10
    suffixes, and the shouldnt-stem length guards)."""
    pairs = _check_pairs("ar/TestArabicStemFilter.java")
    assert len(pairs) >= 20
    for w, e in pairs:
        assert arabic_stem(w) == e, (w, e)


@needs_reference(f"{_REF}/fa/TestPersianNormalizationFilter.java")
def test_persian_normalizer_goldens():
    pairs = _check_pairs("fa/TestPersianNormalizationFilter.java")
    assert len(pairs) >= 6
    for w, e in pairs:
        assert persian_normalize(arabic_normalize(w)) == e, (w, e)


@needs_reference(f"{_REF}/ar/TestArabicAnalyzer.java")
def test_arabic_analyzer_chain():
    """TestArabicAnalyzer default-analyzer rows (testBasicFeatures +
    testEnglishInput) through the named 'arabic' chain (LowerCase+
    DecimalDigit fold → UNnormalized stop → normalize+stem); the
    custom-stopword row is excluded (it builds a non-default analyzer)."""
    skip = ("The quick brown fox.", "كبيرة the quick ساهدهات")
    rows = [
        r
        for r in _analyzer_goldens("ar/TestArabicAnalyzer.java")
        if r[0] not in skip
    ]
    assert len(rows) >= 11
    for text, expected in rows:
        cfg = analyzer_config("arabic")
        got = [t.term for t in analyze(text, **cfg)]
        assert got == expected, (text, got, expected)


def test_arabic_stem_exclusion_chain():
    """TestArabicAnalyzer.testWithStemExclusionSet: EMPTY stop set;
    with the exclusion the normalized form survives unstemmed, without
    it the suffix sweep runs."""
    text = "كبيرة the quick ساهدهات"
    toks = analyze(
        text,
        lowercase="arabic",
        stemmer="arabic",
        stem_exclusions=frozenset({"ساهدهات"}),
    )
    assert [t.term for t in toks] == ["كبير", "the", "quick", "ساهدهات"]
    toks = analyze(text, lowercase="arabic", stemmer="arabic")
    assert [t.term for t in toks] == ["كبير", "the", "quick", "ساهد"]


@needs_reference(f"{_REF}/fa/TestPersianAnalyzer.java")
def test_persian_analyzer_chain():
    """TestPersianAnalyzer default-analyzer rows (verbs/nouns incl. the
    ZWNJ char-filter splits of می‌خورد; the pre-normalized stop set then
    removes می) through the named 'persian' chain; the custom-stopword
    row is excluded."""
    rows = [
        r
        for r in _analyzer_goldens("fa/TestPersianAnalyzer.java")
        if r[0] != "The quick brown fox."
    ]
    assert len(rows) >= 50
    for text, expected in rows:
        cfg = analyzer_config("persian")
        got = [t.term for t in analyze(text, **cfg)]
        assert got == expected, (text, got, expected)


def test_persian_digit_fold_chain():
    """TestPersianAnalyzer.testDigits: ۱۲۳۴ → 1234 through the chain."""
    toks = analyze("۱۲۳۴", **analyzer_config("persian"))
    assert [t.term for t in toks] == ["1234"]


def test_arabic_exclusion_semantics():
    """SetKeywordMarkerFilter sits AFTER normalization in the Arabic
    chain: the exclusion matches the NORMALIZED form and skips only the
    stem (TestArabicStemFilter.testWithKeywordAttribute)."""
    toks = analyze(
        "\u0633\u0627\u0647\u062f\u0647\u0627\u062a",
        lowercase="arabic",
        stemmer="arabic",
        stem_exclusions=frozenset({"\u0633\u0627\u0647\u062f\u0647\u0627\u062a"}),
    )
    assert [t.term for t in toks] == ["\u0633\u0627\u0647\u062f\u0647\u0627\u062a"]


def test_decimal_digit_fold():
    """core/DecimalDigitFilter: Arabic-Indic + extended digits fold to
    0-9; ASCII passes untouched."""
    assert decimal_digit_fold("\u0661\u0662\u0663") == "123"
    assert decimal_digit_fold("\u06f4\u06f5") == "45"
    assert decimal_digit_fold("abc123") == "abc123"


_AR_FUZZ_ALPHA = (
    "\u0627\u0644\u0648\u0628\u0643\u0641\u0646\u0647\u064A\u0629"
    "\u062A\u0645\u0633\u0622\u0623\u0625\u0649\u0640\u064E\u0651"
)


_AR_SQL = (ARABIC_NORMALIZE_SQL,) + ARABIC_STEM_SQL


def _arabic_chain(w):
    return arabic_stem(arabic_normalize(w))


def test_arabic_sql_twin_parity_fuzz():
    """ARABIC_NORMALIZE_SQL + ARABIC_STEM_SQL ≡ the Python chain over
    30k random Arabic-alphabet words."""
    rng = random.Random(7)
    words = [
        "".join(rng.choice(_AR_FUZZ_ALPHA) for _ in range(rng.randrange(1, 11)))
        for _ in range(30_000)
    ]
    bad = _sql_twin_bad(_AR_SQL, _arabic_chain, words)
    assert not bad, bad[:10]


@needs_reference(
    f"{_REF}/ar/TestArabicNormalizationFilter.java",
    f"{_REF}/ar/TestArabicStemFilter.java",
)
def test_arabic_sql_twin_parity_reference_goldens():
    """The same SQL chain ≡ Python over every reference golden input
    of the Arabic normalizer and stemmer tests."""
    words = [w for w, _e in _check_pairs("ar/TestArabicNormalizationFilter.java")]
    words += [w for w, _e in _check_pairs("ar/TestArabicStemFilter.java")]
    bad = _sql_twin_bad(_AR_SQL, _arabic_chain, words)
    assert not bad, bad[:10]


@needs_reference(
    f"{RESOURCES_ROOT}/ar/stopwords.txt", f"{RESOURCES_ROOT}/fa/stopwords.txt"
)
def test_arabic_persian_stop_sets_match_reference():
    def load(path):
        out = set()
        for line in open(path, encoding="utf-8"):
            line = line.split("#")[0].strip()
            if line:
                out.add(line)
        return out

    assert ARABIC_STOP_WORDS == load(f"{RESOURCES_ROOT}/ar/stopwords.txt")
    assert PERSIAN_STOP_WORDS == load(f"{RESOURCES_ROOT}/fa/stopwords.txt")


def test_arabic_batch_kernel_matches_scalar():
    from lucene_solr_spark.functions.fast_tokenizer import batch_tokenize

    rng = random.Random(3)
    texts = [
        " ".join(
            "".join(rng.choice(_AR_FUZZ_ALPHA) for _ in range(rng.randrange(1, 9)))
            for _ in range(rng.randrange(0, 30))
        )
        for _ in range(50)
    ] + ["\u0645\u06cc\u200c\u062e\u0648\u0631\u062f"]
    for name in ("arabic", "persian"):
        cfg = analyzer_config(name)
        doc_ids, terms, poss = batch_tokenize(texts, **cfg)
        scalar = []
        for i, t in enumerate(texts):
            for tok in analyze(t, **cfg):
                scalar.append((i, tok.term, tok.pos))
        got = list(zip(doc_ids.tolist(), terms.tolist(), poss.tolist()))
        assert got == scalar, name


# ------------------------------------------------------ Latvian/Indonesian

from lucene_solr_spark.oracle.lang_pack import (  # noqa: E402
    INDONESIAN_SQL,
    INDONESIAN_STOP_WORDS,
    LATVIAN_SQL,
    LATVIAN_STOP_WORDS,
    indonesian_stem,
    latvian_stem,
)

_ONE_TERM_RE = re.compile(
    r'checkOneTerm\(\s*(\w+)\s*,\s*"([^"]*)"\s*,\s*"([^"]*)"\)'
)


@needs_reference(f"{_REF}/lv/TestLatvianStemmer.java")
def test_latvian_stemmer_goldens():
    """Every TestLatvianStemmer checkOneTerm pair (173 rows covering all
    six declensions, definite adjectives, and the palatalization
    undo rules); the analyzer trims the two rows with a stray trailing
    space in the Java source."""
    txt = open(f"{_REF}/lv/TestLatvianStemmer.java", encoding="utf-8").read()
    pairs = _ONE_TERM_RE.findall(txt)
    assert len(pairs) >= 170
    for _var, w, e in pairs:
        assert latvian_stem(w.strip()) == e, (w, e)


@needs_reference(f"{_REF}/id/TestIndonesianStemmer.java")
def test_indonesian_stemmer_goldens():
    """Every TestIndonesianStemmer checkOneTerm pair — var 'a' is the
    full derivational stemmer, var 'b' inflectional-only
    (stemDerivational=false)."""
    txt = open(f"{_REF}/id/TestIndonesianStemmer.java", encoding="utf-8").read()
    pairs = _ONE_TERM_RE.findall(txt)
    assert len(pairs) >= 60
    assert {v for v, _w, _e in pairs} == {"a", "b"}
    for var, w, e in pairs:
        got = indonesian_stem(w, stem_derivational=var != "b")
        assert got == e, (var, w, e, got)


def test_latvian_sql_twin_parity_fuzz():
    rng = random.Random(11)
    alpha = "aeiouāīēūsšjmkņļčžbptvdzngl"
    words = [
        "".join(rng.choice(alpha) for _ in range(rng.randrange(1, 12)))
        for _ in range(30_000)
    ]
    bad = _sql_twin_bad(LATVIAN_SQL, latvian_stem, words)
    assert not bad, bad[:10]


@needs_reference(f"{_REF}/lv/TestLatvianStemmer.java")
def test_latvian_sql_twin_parity_reference_goldens():
    txt = open(f"{_REF}/lv/TestLatvianStemmer.java", encoding="utf-8").read()
    words = [w.strip() for _v, w, _e in _ONE_TERM_RE.findall(txt)]
    bad = _sql_twin_bad(LATVIAN_SQL, latvian_stem, words)
    assert not bad, bad[:10]


def test_indonesian_sql_twin_parity_fuzz():
    """The state-encoded (syllable count + single live flag riding a
    2-char header) SQL chain ≡ the stateful Python stemmer over 38k
    words incl. systematically composed prefix+root+suffix shapes."""
    rng = random.Random(5)
    alpha = "aeioumnpgkrbdtslyhj"
    words = [
        "".join(rng.choice(alpha) for _ in range(rng.randrange(1, 12)))
        for _ in range(30_000)
    ]
    pre = ["meng", "meny", "men", "mem", "me", "peng", "peny", "pen", "pem",
           "di", "ter", "ke", "ber", "be", "per", "pe", "bel", "pel", ""]
    suf = ["kah", "lah", "pun", "ku", "mu", "nya", "kan", "an", "i", "si", ""]
    mid = ["ajar", "erat", "beri", "turun", "ekonomi", "buku", "lari", "s", "a"]
    for _ in range(8_000):
        words.append(rng.choice(pre) + rng.choice(mid) + rng.choice(suf))
    bad = _sql_twin_bad(INDONESIAN_SQL, indonesian_stem, words)
    assert not bad, bad[:10]


@needs_reference(f"{_REF}/id/TestIndonesianStemmer.java")
def test_indonesian_sql_twin_parity_reference_goldens():
    """The same chain ≡ Python over every derivational-variant
    TestIndonesianStemmer golden input."""
    txt = open(f"{_REF}/id/TestIndonesianStemmer.java", encoding="utf-8").read()
    words = [w for v, w, _e in _ONE_TERM_RE.findall(txt) if v == "a"]
    bad = _sql_twin_bad(INDONESIAN_SQL, indonesian_stem, words)
    assert not bad, bad[:10]


@needs_reference(
    f"{RESOURCES_ROOT}/lv/stopwords.txt", f"{RESOURCES_ROOT}/id/stopwords.txt"
)
def test_lv_id_stop_sets_match_reference():
    def load(path):
        out = set()
        for line in open(path, encoding="utf-8"):
            line = line.split("#")[0].strip()
            if line:
                out.add(line)
        return out

    assert LATVIAN_STOP_WORDS == load(f"{RESOURCES_ROOT}/lv/stopwords.txt")
    assert INDONESIAN_STOP_WORDS == load(f"{RESOURCES_ROOT}/id/stopwords.txt")


def test_lv_id_chain_and_batch_parity():
    from lucene_solr_spark.functions.fast_tokenizer import batch_tokenize

    # TestLatvianStemmer/TestIndonesianAnalyzer-style chain rows
    cfg = analyzer_config("latvian")
    assert [t.term for t in analyze("tirgiem tirgus un kukaiņi", **cfg)] == [
        "tirg", "tirg", "kukain",
    ]
    cfg = analyzer_config("indonesian")
    assert [t.term for t in analyze("peledakan dan bukumu", **cfg)] == [
        "ledak", "buku",
    ]
    texts = [
        "tirgiem tirgus un kukaiņi gribēja",
        "peledakan pembunuhan bukunya dimakan belajar",
        "",
    ]
    for name in ("latvian", "indonesian"):
        cfg = analyzer_config(name)
        doc_ids, terms, poss = batch_tokenize(texts, **cfg)
        scalar = []
        for i, t in enumerate(texts):
            for tok in analyze(t, **cfg):
                scalar.append((i, tok.term, tok.pos))
        assert list(zip(doc_ids.tolist(), terms.tolist(), poss.tolist())) == scalar, name


# ------------------------------------------------------------- Sorani

from lucene_solr_spark.oracle.lang_pack import (  # noqa: E402
    SORANI_FOLD_SQL,
    SORANI_STEM_SQL,
    SORANI_STOP_WORDS,
    sorani_fold,
    sorani_normalize,
    sorani_stem,
)


@needs_reference(f"{_REF}/ckb/TestSoraniNormalizationFilter.java")
def test_sorani_normalizer_goldens():
    """Every TestSoraniNormalizationFilter checkOneTerm pair."""
    txt = open(f"{_REF}/ckb/TestSoraniNormalizationFilter.java", encoding="utf-8").read()
    pairs = re.findall(r'checkOneTerm\(\s*a\s*,\s*"([^"]*)"\s*,\s*"([^"]*)"\)', txt)
    assert len(pairs) >= 20
    for w, e in pairs:
        w = w.encode().decode("unicode_escape") if "\\u" in w else w
        e = e.encode().decode("unicode_escape") if "\\u" in e else e
        assert sorani_normalize(w) == e, (w.encode("unicode_escape"), e)


@needs_reference(f"{_REF}/ckb/TestSoraniStemFilter.java")
def test_sorani_stemmer_goldens():
    """Every TestSoraniStemFilter checkOneTerm pair — the test analyzer
    is the FULL SoraniAnalyzer, so normalize composes before stem."""
    txt = open(f"{_REF}/ckb/TestSoraniStemFilter.java", encoding="utf-8").read()
    pairs = re.findall(r'checkOneTerm\(\s*a\s*,\s*"([^"]*)"\s*,\s*"([^"]*)"\)', txt)
    assert len(pairs) >= 15
    for w, e in pairs:
        got = sorani_stem(sorani_fold(w))
        assert got == e, (w, e, got)


@needs_reference(f"{RESOURCES_ROOT}/ckb/stopwords.txt")
def test_sorani_stop_set_matches_reference():
    res = f"{RESOURCES_ROOT}/ckb/stopwords.txt"
    want = set()
    for line in open(res, encoding="utf-8"):
        line = line.split("#")[0].strip()
        if line:
            want.add(line)
    assert SORANI_STOP_WORDS == want


def test_sorani_sql_twin_parity_fuzz():
    """fold+stem SQL ≡ Python over alphabet-random words drawn from the
    normalizer-active and suffix-forming characters."""
    import duckdb

    rng = random.Random(23)
    alpha = "ابچدةفگھيجكلمنۆپقرستوڤڵخىزەیکێ‌ًَ"
    words = [
        "".join(rng.choice(alpha) for _ in range(rng.randrange(1, 10)))
        for _ in range(40_000)
    ]
    suf = ["دا", "نا", "ەوە", "مان", "یان", "تان", "ێکی", "یەکی", "ێک",
           "ەکە", "کە", "ەکان", "کان", "انی", "ان", "انە", "ایە", "ە", "ی", ""]
    for _ in range(10_000):
        base = "".join(rng.choice("ابجدلمنسته") for _ in range(rng.randrange(2, 8)))
        words.append(base + rng.choice(suf) + rng.choice(suf))
    con = duckdb.connect()
    con.execute("CREATE TABLE w AS SELECT unnest(?) AS term", [words])
    body = f"SELECT {SORANI_FOLD_SQL} AS term FROM w"
    for e in SORANI_STEM_SQL:
        body = f"SELECT {e} AS term FROM ({body})"
    got = [r[0] for r in con.execute(body).fetchall()]
    bad = [
        (w.encode("unicode_escape"), g, sorani_stem(sorani_fold(w)))
        for w, g in zip(words, got)
        if g != sorani_stem(sorani_fold(w))
    ]
    assert not bad, (len(bad), bad[:5])


def test_sorani_chain_and_batch_parity():
    from lucene_solr_spark.functions.fast_tokenizer import batch_tokenize

    cfg = analyzer_config("sorani")
    texts = ["پیاوێک و دەرگایەک", "ھ‌ك ررر کتاویە", ""]
    for t in texts:
        pass
    doc_ids, terms, poss = batch_tokenize(texts, **cfg)
    scalar = []
    for i, t in enumerate(texts):
        for tok in analyze(t, **cfg):
            scalar.append((i, tok.term, tok.pos))
    assert list(zip(doc_ids.tolist(), terms.tolist(), poss.tolist())) == scalar
    assert [t.term for t in analyze("پیاوێک و دەرگایەک", **cfg)] == [
        "پیاو", "دەرگا",
    ]


# ------------------------------------------------------------- Serbian

from lucene_solr_spark.oracle.lang_pack import (  # noqa: E402
    serbian_normalize,
    serbian_normalize_regular,
)


def test_serbian_normalization_goldens():
    # TestSerbianNormalizationFilter.java:53-64
    assert serbian_normalize("абвгдђежзијклљмнњопрстћуфхцчџш") == (
        "abvgddjezzijklljmnnjoprstcufhccdzs"
    )
    assert serbian_normalize("ђура")[:4] == "djur"
    # the regional-Latin diacritics fold too (đ ž č ć š)
    assert serbian_normalize("đinđić") == "djindjic"
    assert serbian_normalize("žižić") == "zizic"
    assert serbian_normalize("čolić šešelj") == "colic seselj"


def test_serbian_regular_goldens():
    # TestSerbianNormalizationRegularFilter.java:53
    assert serbian_normalize_regular("абвгдђежзијклљмнњопрстћуфхцчџш") == (
        "abvgdđežzijklljmnnjoprstćufhcčdžš"
    )


def test_serbian_latin_golden():
    # TestSerbianNormalizationFilter testLatin (:56-59)
    assert serbian_normalize("abcčćddžđefghijklljmnnjoprsštuvzž") == (
        "abcccddzdjefghijklljmnnjoprsstuvzz"
    )
