"""Auxiliary analyzer pack: Whitespace / Simple(Letter) / Keyword.

Re-expresses the reference's small analyzers
(``analysis/core/WhitespaceTokenizer.java``,
``analysis/core/LetterTokenizer.java`` + ``SimpleAnalyzer``,
``analysis/core/KeywordAnalyzer.java``) as vectorized batch kernels in
the style of ``functions/fast_tokenizer.py``: a whole Arrow batch of
documents is tokenized with numpy boundary masks over one joined UTF-32
buffer — no per-document Python on the hot path. Documents containing
codepoints past the fast LUT range fall back to an identical per-doc
scalar scan (same predicates), so results are independent of batching.

Boundary predicates (both are public-API definitions):

- whitespace: ``java.lang.Character.isWhitespace`` — Unicode space
  separators EXCEPT the non-breaking ones (U+00A0, U+2007, U+202F),
  plus ``\\t \\n \\x0b \\f \\r`` and the file/group/record/unit
  separators U+001C..U+001F.
- letter: ``java.lang.Character.isLetter`` — Unicode general categories
  L* (``str.isalpha`` in Python, same category test).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyspark.sql.types as T

from lucene_solr_spark.functions.fast_tokenizer import FAST_LIMIT
from lucene_solr_spark.oracle.tokenizer import lowercase as _lowercase

GRAMMARS = ("whitespace", "letter", "keyword")

_JAVA_EXTRA_WS = frozenset(
    [0x09, 0x0A, 0x0B, 0x0C, 0x0D, 0x1C, 0x1D, 0x1E, 0x1F]
)
_NON_BREAKING = frozenset([0x00A0, 0x2007, 0x202F])


def _java_is_whitespace(cp: int) -> bool:
    if cp in _JAVA_EXTRA_WS:
        return True
    if cp in _NON_BREAKING:
        return False
    return chr(cp).isspace()


_lut_cache: dict[str, np.ndarray] = {}


def _lut(grammar: str) -> np.ndarray:
    """Boolean token-character LUT over [0, FAST_LIMIT)."""
    got = _lut_cache.get(grammar)
    if got is not None:
        return got
    cps = range(FAST_LIMIT)
    if grammar == "whitespace":
        tok = np.fromiter(
            (not _java_is_whitespace(c) for c in cps), np.bool_, FAST_LIMIT
        )
    elif grammar == "letter":
        tok = np.fromiter((chr(c).isalpha() for c in cps), np.bool_, FAST_LIMIT)
    else:
        raise ValueError(f"unknown grammar {grammar!r}")
    _lut_cache[grammar] = tok
    return tok


def _scalar_tokenize(text: str, grammar: str) -> list[tuple[str, int, int]]:
    """Per-doc reference scan (slow-path + test oracle): (token, start,
    end) spans under the same predicate as the batch kernel."""
    if grammar == "keyword":
        return [(text, 0, len(text))] if text else []
    if grammar == "whitespace":
        pred = lambda ch: not _java_is_whitespace(ord(ch))  # noqa: E731
    else:
        pred = str.isalpha
    out = []
    start = None
    for i, ch in enumerate(text):
        if pred(ch):
            if start is None:
                start = i
        elif start is not None:
            out.append((text[start:i], start, i))
            start = None
    if start is not None:
        out.append((text[start:], start, len(text)))
    return out


def batch_tokenize_grammar(
    texts,
    *,
    grammar: str,
    lowercase: bool = False,
    stopwords: frozenset[str] = frozenset(),
):
    """Tokenize a batch under ``grammar``. Returns ``(doc_idx, terms,
    pos)`` exactly like ``fast_tokenizer.batch_tokenize``: int64 row
    index per token, Arrow string array of terms, int32 positions.

    Defaults mirror the reference analyzers: WhitespaceAnalyzer and
    KeywordAnalyzer do NOT lowercase; SimpleAnalyzer = letter grammar
    with ``lowercase=True`` (``SimpleAnalyzer.java`` wraps
    LetterTokenizer in LowerCaseFilter); StopAnalyzer = letter grammar
    with ``lowercase=True, stopwords=...`` (``StopAnalyzer.java``).
    Stop removal preserves position gaps like Lucene's StopFilter
    (positions are assigned over the raw token stream, then stopped
    tokens drop out).
    """
    if grammar not in GRAMMARS:
        raise ValueError(f"unknown grammar {grammar!r} (one of {GRAMMARS})")
    if stopwords and grammar == "keyword":
        raise ValueError("KeywordAnalyzer takes no stop filter")
    n_docs = len(texts)
    norm_texts = ["" if t is None else t for t in texts]

    if grammar == "keyword":
        toks = [_lowercase(t) if lowercase else t for t in norm_texts]
        keep = np.fromiter((len(t) > 0 for t in toks), np.bool_, n_docs)
        tdoc = np.nonzero(keep)[0].astype(np.int64)
        terms = pa.array([toks[i] for i in tdoc.tolist()], pa.utf8())
        return tdoc, terms, np.zeros(len(tdoc), np.int32)

    joined = "\n".join(norm_texts)
    cp = np.frombuffer(
        joined.encode("utf-32-le", "surrogatepass"), dtype=np.uint32
    )
    lens = np.fromiter((len(t) for t in norm_texts), np.int64, n_docs)
    doc_off = np.zeros(n_docs + 1, np.int64)
    np.cumsum(lens + 1, out=doc_off[1:])

    out_doc: list[np.ndarray] = []
    out_terms: list = []
    out_pos: list[np.ndarray] = []

    if len(cp):
        in_range = cp < FAST_LIMIT
        cpi = np.minimum(cp, FAST_LIMIT - 1)
        # docs carrying astral codepoints reroute through the scalar scan
        # ('\n' separators are whitespace in both grammars, so runs never
        # span documents)
        bad = (~in_range).view(np.uint8)
        seg_starts = doc_off[:-1].clip(max=len(cp) - 1)
        doc_bad = np.maximum.reduceat(bad, seg_starts).astype(bool)
        tok = _lut(grammar)[cpi] & in_range

        d = np.diff(np.r_[np.int8(0), tok.view(np.int8), np.int8(0)])
        starts = np.nonzero(d == 1)[0]
        tlen = np.nonzero(d == -1)[0] - starts
        if starts.size:
            tdoc = np.searchsorted(doc_off, starts, side="right") - 1
            first = np.r_[True, tdoc[1:] != tdoc[:-1]]
            tok_seq = np.arange(starts.size, dtype=np.int32)
            pos = (tok_seq - tok_seq[first][np.cumsum(first) - 1]).astype(
                np.int32
            )
            keep = ~doc_bad[tdoc]
            starts, tlen, tdoc, pos = (
                starts[keep],
                tlen[keep],
                tdoc[keep],
                pos[keep],
            )
            if starts.size:
                total = int(tlen.sum())
                cum = np.zeros(len(tlen), np.int64)
                np.cumsum(tlen[:-1], out=cum[1:])
                gather = (
                    np.arange(total, dtype=np.int64)
                    - np.repeat(cum, tlen)
                    + np.repeat(starts, tlen)
                )
                gtxt = (
                    cp[gather]
                    .astype(np.uint32)
                    .tobytes()
                    .decode("utf-32-le", "surrogatepass")
                )
                offs = np.zeros(len(tlen) + 1, np.int64)
                np.cumsum(tlen, out=offs[1:])
                toks = [gtxt[offs[i] : offs[i + 1]] for i in range(len(tlen))]
                if lowercase:
                    toks = [_lowercase(t) for t in toks]
                out_doc.append(tdoc)
                out_terms.append(pa.array(toks, pa.utf8()))
                out_pos.append(pos)
        slow_docs = np.nonzero(doc_bad)[0]
    else:
        slow_docs = np.empty(0, np.int64)

    for i in slow_docs.tolist():
        spans = _scalar_tokenize(norm_texts[i], grammar)
        if not spans:
            continue
        toks = [t for t, _, _ in spans]
        if lowercase:
            toks = [_lowercase(t) for t in toks]
        out_doc.append(np.full(len(toks), i, np.int64))
        out_terms.append(pa.array(toks, pa.utf8()))
        out_pos.append(np.arange(len(toks), dtype=np.int32))

    if not out_doc:
        return (
            np.empty(0, np.int64),
            pa.array([], pa.utf8()),
            np.empty(0, np.int32),
        )
    tdoc = np.concatenate(out_doc)
    order = np.argsort(tdoc, kind="stable")
    terms = pa.concat_arrays(
        [a.combine_chunks() if isinstance(a, pa.ChunkedArray) else a for a in out_terms]
    ).take(pa.array(order, pa.int64()))
    tdoc, pos = tdoc[order], np.concatenate(out_pos)[order]
    if stopwords:
        import pyarrow.compute as pc

        m = pc.is_in(terms, value_set=pa.array(sorted(stopwords), pa.utf8()))
        keep = np.invert(pc.fill_null(m, False).to_numpy(zero_copy_only=False))
        terms = terms.filter(pa.array(keep))
        tdoc, pos = tdoc[keep], pos[keep]
    return tdoc, terms, pos


def analyze_frame(
    docs,
    *,
    grammar: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = False,
    stopwords: frozenset[str] = frozenset(),
):
    """corpus → flat (doc_id, term, pos) rows under ``grammar`` via ONE
    ``mapInPandas`` pass — the auxiliary-analyzer analog of
    ``analysis.tokens_frame``. Map-only: no shuffle is introduced; the
    output partitioning follows the input scan."""
    import pandas as pd

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("term", T.StringType(), False),
            T.StructField("pos", T.IntegerType(), False),
        ]
    )

    def fn(iterator):
        for pdf in iterator:
            doc_ids = pdf[id_col].to_numpy(np.int64)
            tdoc, terms, pos = batch_tokenize_grammar(
                pdf[text_col].tolist(),
                grammar=grammar,
                lowercase=lowercase,
                stopwords=stopwords,
            )
            yield pd.DataFrame(
                {
                    "doc_id": doc_ids[tdoc],
                    "term": pd.Series(terms, dtype=pd.ArrowDtype(pa.string())),
                    "pos": pos,
                }
            )

    return docs.select(id_col, text_col).mapInPandas(fn, schema=schema)
