"""Language analyzer pack parity: UniNE light stemmers + normalizers.

The strongest gate in the repo's arsenal applies here: the reference
ships its own full-vocabulary expectation files (35,033 German, 20,403
French, 28,377 Spanish word→stem pairs, published with the UniNE
algorithms), so each stemmer is diffed against EVERY pair — bit-exact,
no sampling. Chain behavior (elision → lowercase → stop → stem) is
pinned by the reference's own analyzer goldens, and the batch kernel is
checked against the scalar oracle chain on mixed multilingual text.
"""

from __future__ import annotations

import random
import zipfile

import pytest

from lucene_solr_spark.oracle.light_stemmers import (
    FINNISH_LIGHT_SQL,
    FRENCH_ARTICLES,
    FRENCH_STOP_WORDS,
    GERMAN_LIGHT_SQL,
    GERMAN_NORMALIZE_SQL,
    HUNGARIAN_LIGHT_SQL,
    ITALIAN_LIGHT_SQL,
    NORWEGIAN_LIGHT_SQL,
    PORTUGUESE_LIGHT_SQL,
    RUSSIAN_LIGHT_SQL,
    SPANISH_LIGHT_SQL,
    SWEDISH_LIGHT_SQL,
    finnish_light_stem,
    french_elide,
    french_light_stem,
    german_light_stem,
    german_normalize,
    german_normalize_regex,
    hungarian_light_stem,
    italian_light_stem,
    norwegian_light_stem,
    portuguese_light_stem,
    resolve,
    russian_light_stem,
    spanish_light_stem,
    swedish_light_stem,
)
from lucene_solr_spark.oracle.tokenizer import analyze
from reference_files import TEST_ROOT, needs_reference

_REF = TEST_ROOT


def _golden_pairs(rel: str):
    with zipfile.ZipFile(f"{_REF}/{rel}") as z:
        data = z.read(z.namelist()[0]).decode("utf-8")
    out = []
    for line in data.splitlines():
        if line.strip():
            w, s = line.split("\t")
            out.append((w, s))
    return out


def _vocab_params(rows):
    """Each ``(zip_rel, ...)`` row as a parametrization gated on its zip."""
    return [
        pytest.param(*row, marks=needs_reference(f"{_REF}/{row[0]}"))
        for row in rows
    ]


@pytest.mark.parametrize(
    "zip_rel, fn, expected_n",
    _vocab_params([
        ("de/delighttestdata.zip", german_light_stem, 35033),
        ("fr/frlighttestdata.zip", french_light_stem, 20403),
        ("es/eslighttestdata.zip", spanish_light_stem, 28377),
        ("it/itlighttestdata.zip", italian_light_stem, 35494),
        ("pt/ptlighttestdata.zip", portuguese_light_stem, 32016),
        ("sv/svlighttestdata.zip", swedish_light_stem, 30623),
        ("hu/hulighttestdata.zip", hungarian_light_stem, 30000),
        ("ru/rulighttestdata.zip", russian_light_stem, 49673),
        ("fi/filighttestdata.zip", finnish_light_stem, 50000),
    ]),
    ids=[
        "german", "french", "spanish", "italian", "portuguese",
        "swedish", "hungarian", "russian", "finnish",
    ],
)
def test_full_vocabulary_parity(zip_rel, fn, expected_n):
    """Every pair of the reference's own expectation file, bit-exact."""
    pairs = _golden_pairs(zip_rel)
    assert len(pairs) == expected_n
    bad = [(w, fn(w), s) for w, s in pairs if fn(w) != s]
    assert not bad, bad[:10]


def test_german_normalize_goldens():
    # TestGermanNormalizationFilter.java:50-66 checkOneTerm cases
    cases = [
        ("Schaltflächen", "Schaltflachen"),
        ("Schaltflaechen", "Schaltflachen"),
        ("dauer", "dauer"),
        ("weißbier", "weissbier"),
        ("", ""),
        # FSM edge: ue after vowel/q is protected
        ("quelle", "quelle"),
        ("aue", "aue"),
        ("bauern", "bauern"),
        ("müller", "muller"),
    ]
    for inp, want in cases:
        assert german_normalize(inp) == want, inp


def test_german_normalize_regex_twin_fuzz():
    """The DuckDB oracle's regex-chain decomposition ≡ the FSM, fuzzed
    over the full trigger alphabet (vowels, umlauts, ß, q, separators)."""
    rng = random.Random(42)
    alpha = "aeouäöüßqi bxyz"
    for _ in range(100_000):
        s = "".join(rng.choice(alpha) for _ in range(rng.randrange(0, 12)))
        assert german_normalize(s) == german_normalize_regex(s), s


def test_french_elision():
    # util/ElisionFilter.java semantics with FrenchAnalyzer's articles
    assert french_elide("l'avion") == "avion"
    assert french_elide("L'avion".lower()) == "avion"
    assert french_elide("qu’avion") == "avion"  # curly apostrophe
    assert french_elide("jusqu'au") == "au"
    assert french_elide("x'avion") == "x'avion"  # not an article
    assert french_elide("avion") == "avion"  # no apostrophe
    assert french_elide("l'") == ""  # article + nothing
    # only the FIRST apostrophe is considered
    assert french_elide("aujourd'hui") == "aujourd'hui"
    # custom article set path
    assert french_elide("d'art", frozenset(["d"])) == "art"
    assert french_elide("l'art", frozenset(["d"])) == "l'art"


def test_french_analyzer_chain_goldens():
    """TestFrenchAnalyzer.java:30-78 assertAnalyzesTo cases, run through
    the scalar chain (elision → lowercase → stop → french_light)."""

    def fa(text):
        return [
            t.term
            for t in analyze(
                text,
                lowercase=True,
                elide=FRENCH_ARTICLES,
                stopwords=FRENCH_STOP_WORDS,
                stemmer="french_light",
            )
        ]

    assert fa("") == []
    assert fa("chien chat cheval") == ["chien", "chat", "cheval"]
    assert fa("chien CHAT CHEVAL") == ["chien", "chat", "cheval"]
    assert fa("chien++") == ["chien"]
    assert fa('mot "entreguillemet"') == ["mot", "entreguilemet"]
    assert fa("Jean-François") == ["jean", "francoi"]
    assert fa("le la chien les aux chat du des à cheval") == [
        "chien",
        "chat",
        "cheval",
    ]
    assert fa("lances chismes habitable chiste éléments captifs") == [
        "lanc",
        "chism",
        "habitabl",
        "chist",
        "element",
        "captif",
    ]
    assert fa("finissions souffrirent rugissante") == [
        "finision",
        "soufrirent",
        "rugisant",
    ]
    assert fa("C3PO aujourd'hui oeuf ïâöûàä anticonstitutionnellement Java++ ") == [
        "c3po",
        "aujourd'hui",
        "oeuf",
        "ïaöuaä",
        "anticonstitutionel",
        "java",
    ]
    assert fa("33Bis 1940-1945 1940:1945 (---i+++)*") == [
        "33bi",
        "1940",
        "1945",
        "1940",
        "1945",
        "i",
    ]


def test_portuguese_goldens():
    # TestPortugueseLightStemFilter.java:101-118 checkOneTerm cases —
    # every removeSuffix rewrite family
    cases = [
        ("doutores", "doutor"),
        ("doutor", "doutor"),
        ("homens", "homem"),
        ("homem", "homem"),
        ("papéis", "papel"),
        ("papel", "papel"),
        ("normais", "normal"),
        ("normal", "normal"),
        ("lencóis", "lencol"),
    ]
    for w, s in cases:
        assert portuguese_light_stem(w) == s, w


_SQL_TWINS = [
    ("de/delighttestdata.zip", GERMAN_LIGHT_SQL, german_light_stem),
    ("es/eslighttestdata.zip", SPANISH_LIGHT_SQL, spanish_light_stem),
    ("it/itlighttestdata.zip", ITALIAN_LIGHT_SQL, italian_light_stem),
    ("pt/ptlighttestdata.zip", PORTUGUESE_LIGHT_SQL, portuguese_light_stem),
    ("sv/svlighttestdata.zip", SWEDISH_LIGHT_SQL, swedish_light_stem),
    ("hu/hulighttestdata.zip", HUNGARIAN_LIGHT_SQL, hungarian_light_stem),
    ("ru/rulighttestdata.zip", RUSSIAN_LIGHT_SQL, russian_light_stem),
    ("fi/filighttestdata.zip", FINNISH_LIGHT_SQL, finnish_light_stem),
    ("sv/svlighttestdata.zip", NORWEGIAN_LIGHT_SQL, norwegian_light_stem),
]


@pytest.mark.parametrize(
    "zip_rel, exprs, fn",
    _vocab_params(_SQL_TWINS),
    ids=[
        "german", "spanish", "italian", "portuguese", "swedish",
        "hungarian", "russian", "finnish", "norwegian",
    ],
)
def test_sql_twin_parity(zip_rel, exprs, fn):
    """The DuckDB oracle's SQL stemmer ≡ the Python stemmer over the
    reference's full vocabulary + short-accented edge cases (incl. the
    Portuguese chr(1)-sentinel path: len<4 terms stay UNFOLDED while a
    term that SHRINKS below 4 still folds)."""
    import duckdb

    con = duckdb.connect()
    words = [w for w, _s in _golden_pairs(zip_rel)]
    words += ["às", "ão", "ões", "ãos", "cão", "àbc", "xões", "cità"]
    con.execute("CREATE TABLE w AS SELECT unnest(?) AS term", [words])
    body = "SELECT term FROM w"
    for e in exprs:
        body = f"SELECT {e} AS term FROM ({body})"
    got = [r[0] for r in con.execute(body).fetchall()]
    bad = [(w, g, fn(w)) for w, g in zip(words, got) if g != fn(w)]
    assert not bad, bad[:10]


def test_german_normalize_sql_twin():
    import random

    import duckdb

    rng = random.Random(9)
    alpha = "aeouäöüßqixyz"
    words = [
        "".join(rng.choice(alpha) for _ in range(rng.randrange(0, 12)))
        for _ in range(20_000)
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE w AS SELECT unnest(?) AS term", [words])
    body = "SELECT term FROM w"
    for e in GERMAN_NORMALIZE_SQL:
        body = f"SELECT {e} AS term FROM ({body})"
    got = [r[0] for r in con.execute(body).fetchall()]
    bad = [
        (w, g, german_normalize(w))
        for w, g in zip(words, got)
        if g != german_normalize(w)
    ]
    assert not bad, bad[:10]


@needs_reference(f"{_REF}/no/nb_light.txt", f"{_REF}/no/nn_light.txt")
def test_norwegian_goldens():
    """The reference's own hand-crafted expectation files, BOTH flag
    variants (nb_light.txt = BOKMAAL, nn_light.txt = NYNORSK — the
    NorwegianLightStemmer ctor flags)."""
    for fname, kw in [
        ("nb_light.txt", {}),
        ("nn_light.txt", {"bokmaal": False, "nynorsk": True}),
    ]:
        n = 0
        for line in open(f"{_REF}/no/{fname}", encoding="utf-8"):
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            w, s = line.split("\t")
            assert norwegian_light_stem(w, **kw) == s, (fname, w)
            n += 1
        assert n > 90


def test_resolver_contract():
    assert resolve(None) is None
    assert resolve("porter")("running") == "run"
    assert resolve("german_light")("häuser") == "haus"
    assert resolve("german")("bären") == "bar"  # normalize + light stem
    assert resolve("french_light")("lances") == "lanc"
    assert resolve("spanish_light")("torcidos") == "torcid"
    assert resolve("italian_light")("ragazzo") == "ragazz"
    assert resolve("portuguese_light")("doutores") == "doutor"
    with pytest.raises(ValueError):
        resolve("klingon")


def test_stem_exclusions():
    """SetKeywordMarkerFilter semantics: excluded terms skip STEMMING
    but not NORMALIZATION (GermanNormalizationFilter has no keyword
    guard; GermanLightStemFilter.java:45 / PorterStemFilter.java:64 do).
    The SQL wrapper mirrors this with a chr(1) sentinel."""
    import duckdb

    from lucene_solr_spark.functions.fast_tokenizer import batch_tokenize
    from lucene_solr_spark.oracle.light_stemmers import (
        GERMAN_LIGHT_SQL,
        resolve_with_exclusions,
        sql_with_exclusions,
    )

    ex = frozenset({"customers", "häuser"})
    f = resolve_with_exclusions("german_light", ex)
    assert f("customers") == "customers"  # protected
    assert f("filter") == "filt"  # not protected
    g = resolve_with_exclusions("german", ex)
    assert g("häuser") == "hauser"  # normalized but NOT stemmed
    assert g("bären") == "bar"  # full chain
    assert resolve_with_exclusions("porter", frozenset({"running"}))("running") == "running"
    assert resolve_with_exclusions(None, ex) is None

    # batch kernel ≡ scalar chain with exclusions
    td, terms, _ = batch_tokenize(
        ["customers filter Häuser"],
        stemmer="german_light",
        stem_exclusions=ex,
    )
    # 'häuser' is in the exclusion set: with ONLY the light-stem filter
    # in the chain it stays fully untouched (no normalizer present)
    assert terms.to_pylist() == ["customers", "filt", "häuser"]
    want = [
        t.term
        for t in analyze(
            "customers filter Häuser",
            stemmer="german_light",
            stem_exclusions=ex,
        )
    ]
    assert terms.to_pylist() == want

    # SQL wrapper ≡ python over a mixed vocabulary
    con = duckdb.connect()
    words = ["customers", "filter", "häuser", "tables", "x"]
    con.execute("CREATE TABLE w AS SELECT unnest(?) AS term", [words])
    body = "SELECT term FROM w"
    for e in sql_with_exclusions(GERMAN_LIGHT_SQL, ex):
        body = f"SELECT {e} AS term FROM ({body})"
    got = [r[0] for r in con.execute(body).fetchall()]
    assert got == [f(w) for w in words]

    # chains that use the sentinel internally are rejected
    from lucene_solr_spark.oracle.light_stemmers import PORTUGUESE_LIGHT_SQL

    with pytest.raises(ValueError):
        sql_with_exclusions(PORTUGUESE_LIGHT_SQL, ex)


def test_named_analyzer_build(spark):
    """build_index(analyzer="french") ≡ the explicit FrenchAnalyzer
    chain kwargs, and conflicting explicit args are rejected."""
    from lucene_solr_spark.operators.index_build import build_index

    docs = spark.createDataFrame(
        [(0, "l'avion des enfants"), (1, "les avions lancés qu'une fois")],
        "doc_id long, text string",
    )
    named = build_index(docs, text_col="text", doc_id_col="doc_id", analyzer="french")
    explicit = build_index(
        docs,
        text_col="text",
        doc_id_col="doc_id",
        elide=FRENCH_ARTICLES,
        stopwords=FRENCH_STOP_WORDS,
        stemmer="french_light",
    )
    a = sorted(named.postings.select("term", "doc_id", "tf").collect())
    b = sorted(explicit.postings.select("term", "doc_id", "tf").collect())
    assert a == b and a  # same postings, non-empty
    assert not any(r.term.startswith("l'") for r in a)  # elision applied

    with pytest.raises(ValueError, match="sets stemmer"):
        build_index(
            docs,
            text_col="text",
            doc_id_col="doc_id",
            analyzer="french",
            stemmer="porter",
        )
    with pytest.raises(ValueError, match="unknown analyzer"):
        build_index(docs, text_col="text", doc_id_col="doc_id", analyzer="klingon")


def test_batch_kernel_matches_scalar_chain():
    """fast path ≡ scalar oracle on mixed multilingual text, for every
    registered stemmer and the elision filter."""
    from lucene_solr_spark.functions.fast_tokenizer import batch_tokenize

    texts = [
        "L'avion des enfants",
        "qu’une ANNEAU issement aujourd'hui",
        None,
        "Häuser hütte über quelle weißbier aufgabe",
        "lances captifs finissions 1940-1945",
        "torcidos guardianes \U0001F600 astral",  # astral → slow path
    ]
    configs = [
        dict(lowercase=True, elide=FRENCH_ARTICLES, stemmer="french_light"),
        dict(
            lowercase=True,
            elide=FRENCH_ARTICLES,
            stopwords=FRENCH_STOP_WORDS,
            stemmer="french_light",
        ),
        dict(lowercase=True, stemmer="german"),
        dict(lowercase=True, stemmer="german_light"),
        dict(lowercase=True, stemmer="german_normalize"),
        dict(lowercase=True, stemmer="spanish_light"),
    ]
    for cfg in configs:
        td, terms, pos = batch_tokenize(texts, **cfg)
        got = list(zip(td.tolist(), terms.to_pylist(), pos.tolist()))
        want = [
            (i, t.term, t.pos)
            for i, text in enumerate(texts)
            for t in analyze(text or "", **cfg)
        ]
        assert got == want, cfg
