"""Seeded source-code corpus and query generators for the benchmark.

The corpus has the long-tailed vocabulary of real code: identifiers are
drawn Zipf-style from a table of >= 10^5 synthetic snake_case and
camelCase names, mixed with a head of language keywords, comment prose
and tokenizer edge cases. Every identifier, keyword and prose word
analyzes to exactly one term (its lower-cased form), so the generator's
own rank table is the term table the queries draw from; the program
under test receives only the generated documents and query strings.

Everything is vectorized with numpy and depends on the seed alone.
"""

from __future__ import annotations

import bisect
from dataclasses import dataclass

import numpy as np

KEYWORDS = (
    "def class import return self if else elif for while try except "
    "raise with lambda yield pass break continue public private static "
    "void int string final new null true false print len range list dict "
    "set const let var func package struct"
).split()

PROSE = (
    "the a to of and in is it this that for error warning fixme todo "
    "returns computes handles fast slow empty cache thread safe copy deep "
    "value when not be called before after each only we may must should"
).split()

EDGE_CASES = [
    "foo_bar", "obj.method", "3.14", "can't", "x!=y", "a..b", "3:4",
    "1,000", "trailing.", "x.y.z", "naïve", "héllo", "☃", "HTTP2",
    "_private", "dunder__", "x" * 260,  # > maxTokenLength: skipped
]

_PARTS = (
    "get set add remove find load save read write open close parse format "
    "build make create delete update init reset start stop run check is has "
    "to from on handle process compute merge split join sort filter map "
    "reduce flush commit encode decode buffer stream reader writer parser "
    "token node tree query score segment posting field term doc index count "
    "value result data item entry key name path file dir config context env "
    "arg param option flag state cache pool queue stack list array table "
    "row col block page frame slot batch chunk range offset size len width "
    "height pos start end first last next prev min max sum avg total local "
    "global remote client server request response session user group role "
    "auth token hash sig cert lock mutex thread task job worker event signal "
    "timer clock time date log trace debug error warn info level status code "
    "msg text str int float bool byte char bit mask id uid ref ptr handle "
    "impl base core util helper factory builder visitor adapter proxy wrapper"
).split()

# separators that always split tokens (no '.', ':', "'" or ',' joins)
_SEPS = np.array([" ", " ", " ", " ", "\n", "(", ") ", " = ", ", ", "; ", " + "])

N_IDENTIFIERS = 120_000
ZIPF_S = 1.07
MIN_TOKENS, MAX_TOKENS = 10, 5000
CHARS_PER_TOKEN = 12.0  # corpus size target: chars per token, with separator

# token classes: keyword, prose, edge case, identifier
_CLASS_P = np.array([0.18, 0.08, 0.01, 0.73])


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    c = np.cumsum(w)
    return c / c[-1]


def _identifiers(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct identifiers (distinct after lower-casing, and from
    every keyword and prose word), in rank order: rank 0 is the most
    frequent."""
    parts = np.array(_PARTS)
    taken = set(KEYWORDS) | set(PROSE)
    out: dict[str, str] = {}
    while len(out) < n:
        m = 2 * (n - len(out)) + 1000
        k = rng.choice([1, 2, 3, 4], size=m, p=[0.05, 0.45, 0.35, 0.15])
        pick = rng.integers(0, len(parts), size=(m, 4))
        camel = rng.random(m) < 0.5
        for i in range(m):
            ws = parts[pick[i, : k[i]]]
            if camel[i]:
                s = ws[0] + "".join(w.capitalize() for w in ws[1:])
            else:
                s = "_".join(ws)
            if s.lower() not in taken:
                out.setdefault(s.lower(), s)
            if len(out) == n:
                break
    names = np.array(list(out.values()), dtype=object)
    return names[rng.permutation(len(names))]


@dataclass
class Corpus:
    """Generated documents plus the tables the query generator needs.

    ``terms`` is the analyzed form of every generated word, in one id
    space: keywords, then prose, then identifiers in rank order.
    ``tok_ids``/``doc_off`` give each document's token stream (edge cases
    as -1), from which real bigrams are sampled."""

    contents: list[str]
    terms: np.ndarray
    tok_ids: np.ndarray
    doc_off: np.ndarray
    distinct_terms: int
    content_bytes: int

    def keys(self, first: int = 0) -> dict[str, list[str]]:
        """(repo, path, commit) key columns whose sort order is the
        generation order, so document ``i`` gets doc id ``first + i``."""
        n = len(self.contents)
        return {
            "repo": ["bench/repo"] * n,
            "path": [f"src/f{first + i:09d}.py" for i in range(n)],
            "commit": ["0" * 12] * n,
        }


class CorpusGenerator:
    """One seeded vocabulary; ``docs(n, stream)`` draws independent
    document batches from it (``stream`` separates the base corpus from
    later NRT micro-batches)."""

    def __init__(self, seed: int):
        self.seed = seed
        rng = np.random.default_rng([seed, 0])
        idents = _identifiers(rng, N_IDENTIFIERS)
        self.vocab = np.concatenate(
            [np.array(KEYWORDS, object), np.array(PROSE, object), idents]
        )
        self.terms = np.array([w.lower() for w in self.vocab], dtype=object)
        self.n_kw, self.n_prose = len(KEYWORDS), len(PROSE)
        self._cdf_kw = _zipf_cdf(self.n_kw, 1.0)
        self._cdf_prose = _zipf_cdf(self.n_prose, 1.0)
        self._cdf_id = _zipf_cdf(len(idents), ZIPF_S)
        self._edges = np.array(EDGE_CASES, dtype=object)

    def docs(self, n_docs: int, stream: int = 0) -> Corpus:
        rng = np.random.default_rng([self.seed, 1, stream])
        # stratified log-uniform lengths
        u = (rng.permutation(n_docs) + rng.random(n_docs)) / n_docs
        lens = MIN_TOKENS * (MAX_TOKENS / MIN_TOKENS) ** u
        mean = (MAX_TOKENS - MIN_TOKENS) / np.log(MAX_TOKENS / MIN_TOKENS)
        room = int(1.5 * mean * n_docs)  # more tokens than any seed needs
        cls = rng.choice(4, size=room, p=_CLASS_P)
        u = rng.random(room)
        ids = np.empty(room, np.int64)
        kw = cls == 0
        ids[kw] = np.searchsorted(self._cdf_kw, u[kw])
        pr = cls == 1
        ids[pr] = self.n_kw + np.searchsorted(self._cdf_prose, u[pr])
        ed = cls == 2
        ids[ed] = -1
        idm = cls == 3
        ids[idm] = self.n_kw + self.n_prose + np.searchsorted(self._cdf_id, u[idm])
        words = np.empty(room, dtype=object)
        words[~ed] = self.vocab[ids[~ed]]
        words[ed] = self._edges[rng.integers(0, len(self._edges), int(ed.sum()))]
        seps = _SEPS[rng.integers(0, len(_SEPS), room)].astype(object)
        # prose runs read as comments
        seps[pr & (rng.random(room) < 0.3)] = "\n# "
        # every seed yields the same amount of text: take the token prefix
        # that reaches the target size and spread it over the documents
        chars = np.cumsum([len(w) + len(x) for w, x in zip(words, seps)])
        total = int(np.searchsorted(chars, n_docs * mean * CHARS_PER_TOKEN))
        lens = np.maximum(MIN_TOKENS, np.round(lens * total / lens.sum())).astype(np.int64)
        total = int(lens.sum())
        ids, words, seps = ids[:total], words[:total], seps[:total]
        ed = ids < 0
        inter = np.empty(2 * total, dtype=object)
        inter[0::2] = words
        inter[1::2] = seps
        off = np.zeros(n_docs + 1, np.int64)
        np.cumsum(lens, out=off[1:])
        contents = ["".join(inter[2 * a : 2 * b - 1]) for a, b in zip(off[:-1], off[1:])]
        content_bytes = sum(len(c.encode("utf-8")) for c in contents)
        distinct = int(np.unique(ids[~ed]).size) + len(
            np.unique(words[ed].astype(str))
        )
        return Corpus(
            contents, self.terms, ids, off, distinct, content_bytes
        )


# --------------------------------------------------------------- queries


def _decile_terms(corpus: Corpus, rng: np.random.Generator, per_decile: int):
    """Terms spread across the corpus's own term-frequency deciles."""
    ids = corpus.tok_ids[corpus.tok_ids >= 0]
    uniq, cnt = np.unique(ids, return_counts=True)
    order = uniq[np.argsort(-cnt, kind="stable")]
    out = []
    for dec in np.array_split(order, 10):
        if len(dec):
            out.append(rng.choice(dec, size=min(per_decile, len(dec)), replace=False))
    return [corpus.terms[i] for i in np.concatenate(out)]


def _bigrams(corpus: Corpus, rng: np.random.Generator, n: int) -> list[tuple[str, str]]:
    """Adjacent word pairs sampled from the generated token streams."""
    t = corpus.tok_ids
    last = np.zeros(len(t), bool)
    last[corpus.doc_off[1:] - 1] = True
    ok = np.flatnonzero((t[:-1] >= 0) & (t[1:] >= 0) & ~last[:-1])
    pick = rng.choice(ok, size=n, replace=False)
    return [(corpus.terms[t[i]], corpus.terms[t[i + 1]]) for i in pick]


def _narrow_prefix(term: str, table: list[str], cap: int = 32) -> str | None:
    """Shortest prefix (>= 3 chars) of ``term`` that at most ``cap`` of
    the generator's terms share, so the scored expansion stays well
    under the engine's clause limit."""
    for n in range(3, len(term)):
        p = term[:n]
        if bisect.bisect_left(table, p + "\uffff") - bisect.bisect_left(table, p) <= cap:
            return p
    return None


def _shape(rng, terms, bigrams, table, kind: str) -> str:
    a, b = rng.choice(len(terms), size=2, replace=False)
    ta, tb = terms[a], terms[b]
    if kind == "term":
        return ta
    if kind == "and":
        return f"+{ta} +{tb}"
    if kind == "or":
        return f"{ta} {tb}"
    if kind == "phrase":
        x, y = bigrams[rng.integers(len(bigrams))]
        return f'"{x} {y}"'
    if kind == "prefix":
        p = _narrow_prefix(ta, table)
        return f"{p}*" if p else ta
    # fuzzy: terms long enough that an edit still names few neighbours
    long_terms = [t for t in terms if len(t) >= 6] or terms
    t = long_terms[rng.integers(len(long_terms))]
    return f"{t}~{1 + int(rng.integers(2))}"


# the batch mix: every run of ten consecutive queries has these shapes
BATCH_MIX = ("term", "and", "or", "term", "phrase", "and", "prefix", "or", "term", "fuzzy")


def distinct_queries(
    corpus: Corpus, seed: int, n: int, kinds: tuple[str, ...] = BATCH_MIX
) -> list[str]:
    """``n`` distinct classic-syntax queries (no repeats) whose shapes
    cycle through ``kinds``, so that every seed issues the same mix."""
    rng = np.random.default_rng([seed, 2, len(kinds)])
    terms = _decile_terms(corpus, rng, per_decile=max(8, n // 4))
    bigrams = _bigrams(corpus, rng, max(16, n))
    table = sorted(corpus.terms)
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        q = _shape(rng, terms, bigrams, table, kinds[len(out) % len(kinds)])
        if q not in seen:
            seen.add(q)
            out.append(q)
    return out


def zipf_stream(pool: list[str], n: int, s: float = 1.0) -> list[str]:
    """``n`` queries drawn from ``pool`` by Zipf rank: head queries repeat,
    the way interactive traffic does. The rank sequence is the same for
    every seed (the seed picks the queries in ``pool``), so every run has
    the same repeated share."""
    rng = np.random.default_rng(0)
    idx = np.searchsorted(_zipf_cdf(len(pool), s), rng.random(n))
    return [pool[i] for i in idx]


def repeated_share(stream: list[str]) -> float:
    """Share of queries in ``stream`` already issued earlier in it."""
    return 1.0 - len(set(stream)) / len(stream) if stream else 0.0
