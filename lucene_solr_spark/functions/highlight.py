"""Highlighting — the UnifiedHighlighter role.

Re-expresses ``lucene/highlighter/src/java/org/apache/lucene/search/
uhighlight/UnifiedHighlighter.java`` for the Spark engine:

- **Offset source = re-analysis.** Our index stores positions but not
  character offsets (like a Lucene text field indexed without
  ``IndexOptions...AND_OFFSETS``), so offsets come from re-running the
  analyzer over the document text at highlight time — exactly
  UnifiedHighlighter's ``OffsetSource.ANALYSIS`` fallback
  (``UnifiedHighlighter.java:1000-1032``). The spans come from
  ``oracle.tokenizer.analyze_with_offsets``, the chain ``analyze`` runs,
  so a highlighted term is the oracle's term. The index itself is
  built by ``functions.fast_tokenizer``, a separate vectorized kernel
  that the parity tests pin to that chain.
- **Passages.** Lucene breaks at sentence boundaries via
  ``BreakIterator.getSentenceInstance`` (``UnifiedHighlighter.java:72-74,
  117-121``). ``break_mode="sentence"`` mirrors that with a deterministic
  regex subset of the ICU sentence rules (terminator run ``[.!?]+`` ends
  a sentence; trailing whitespace attaches to the finished sentence) —
  enough for prose and still exactly SQL-oracle-able. The default
  ``break_mode="window"`` keeps the ± ``ctx``-token windows (merged when
  overlapping) for corpora without sentence punctuation.
- **Passage scoring.** ``PassageScorer.java:56-96`` ranks passages by
  Σ idf-weighted term hits; we implement the simplified form
  score(passage) = Σ_matches weight(term) (weight defaults to 1, or an
  idf dict computed from term_stats), tie-broken by earlier start —
  rank-equivalent for the single-weight case.
- **Markup.** Every token in an emitted passage whose analyzed term is a
  query term is wrapped in pre/post tags (``DefaultPassageFormatter
  .java:40-60``).

Distribution: highlighting is a MAP-ONLY pandas operation over
(doc_id, text) rows — the caller narrows to the hit set first (top-k is
tiny), so at 100 TB this never touches more than k documents per query.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from lucene_solr_spark.oracle.tokenizer import analyze_with_offsets

__all__ = [
    "Passage",
    "analyze_with_offsets",
    "best_passages",
    "highlight_text",
    "highlight_hits",
    "highlight_hits_from_index",
    "sentence_spans",
]

#: one sentence = a run of non-terminators followed by a terminator run
#: (the regex subset of ICU sentence rules — BreakIterator
#: .getSentenceInstance role, ``UnifiedHighlighter.java:72-74``); the
#: final fragment without a terminator is its own sentence. re2-safe, so
#: the DuckDB oracle segments identically.
_SENT_RE = re.compile(r"[^.!?]+[.!?]*|[.!?]+")


def sentence_spans(text: str) -> list[tuple[int, int]]:
    """Whitespace-trimmed (start, end) char spans of each sentence, in
    order; empty/whitespace-only fragments are dropped."""
    out = []
    for m in _SENT_RE.finditer(text):
        s, e = m.start(), m.end()
        while s < e and text[s].isspace():
            s += 1
        while e > s and text[e - 1].isspace():
            e -= 1
        if e > s:
            out.append((s, e))
    return out


@dataclass(frozen=True)
class Passage:
    """One highlighted passage (Passage.java role)."""

    start: int  # char offset of first token in passage
    end: int  # char offset past last token
    score: float
    n_matches: int
    snippet: str


def best_passages(
    text: str,
    query_terms: dict[str, float] | set[str],
    *,
    ctx: int = 3,
    top_n: int = 1,
    pre_tag: str = "<b>",
    post_tag: str = "</b>",
    join_tokens: bool = False,
    break_mode: str = "window",
    **analyzer_kwargs,
) -> list[Passage]:
    """Top-``top_n`` highlighted passages of one document.

    ``query_terms``: analyzed terms to match — a set (weight 1 each) or a
    {term: weight} dict (PassageScorer idf weights). ``ctx``: tokens of
    context each side of a match; overlapping windows merge into one
    passage. ``join_tokens=True`` rebuilds the snippet by joining token
    texts with single spaces (the exactly-SQL-reproducible form used by
    the correctness gate); default slices the ORIGINAL text, preserving
    inter-token characters. ``break_mode="sentence"`` makes each passage
    one whole sentence containing ≥1 match (the reference's
    BreakIterator behavior); ``"window"`` keeps ±ctx token windows."""
    weights = (
        query_terms
        if isinstance(query_terms, dict)
        else {t: 1.0 for t in query_terms}
    )
    toks = analyze_with_offsets(text, **analyzer_kwargs)
    return _passages_from_stream(
        text, toks, weights, ctx, top_n, pre_tag, post_tag, join_tokens,
        break_mode,
    )


def _passages_from_stream(
    text: str,
    toks: list[tuple[str, int, int, int]],
    weights: dict[str, float],
    ctx: int,
    top_n: int,
    pre_tag: str,
    post_tag: str,
    join_tokens: bool,
    break_mode: str = "window",
) -> list[Passage]:
    """Passage construction over an ordered (term, pos, start, end)
    stream — shared by the re-analysis offset source (best_passages) and
    the stored-offsets source (highlight_hits_from_index), which therefore
    produce IDENTICAL output for the same index chain."""
    if break_mode == "sentence":
        return _sentence_passages(
            text, toks, weights, top_n, pre_tag, post_tag, join_tokens
        )
    if break_mode != "window":
        raise ValueError(f"break_mode must be 'window' or 'sentence', got {break_mode!r}")
    hit_idx = [i for i, (t, _p, _s, _e) in enumerate(toks) if t in weights]
    if not hit_idx:
        return []
    # merge overlapping ±ctx windows (token-index space)
    windows: list[list[int]] = []
    for i in hit_idx:
        lo, hi = max(0, i - ctx), min(len(toks) - 1, i + ctx)
        if windows and lo <= windows[-1][1] + 1:
            windows[-1][1] = hi
        else:
            windows.append([lo, hi])
    passages: list[Passage] = []
    for lo, hi in windows:
        span = toks[lo : hi + 1]
        matches = [(t, s, e) for t, _p, s, e in span if t in weights]
        score = float(sum(weights[t] for t, _s, _e in matches))
        if join_tokens:
            parts = []
            for t, _p, s, e in span:
                w = text[s:e]
                parts.append(f"{pre_tag}{w}{post_tag}" if t in weights else w)
            snippet = " ".join(parts)
        else:
            base = span[0][2]
            buf, cur = [], base
            for t, _p, s, e in span:
                buf.append(text[cur:s])
                w = text[s:e]
                buf.append(f"{pre_tag}{w}{post_tag}" if t in weights else w)
                cur = e
            snippet = "".join(buf)
        passages.append(
            Passage(span[0][2], span[-1][3], score, len(matches), snippet)
        )
    passages.sort(key=lambda p: (-p.score, p.start))
    return passages[:top_n]


def _sentence_passages(
    text: str,
    toks: list[tuple[str, int, int, int]],
    weights: dict[str, float],
    top_n: int,
    pre_tag: str,
    post_tag: str,
    join_tokens: bool,
) -> list[Passage]:
    """Sentence-bounded passages (BreakIterator.getSentenceInstance role,
    ``UnifiedHighlighter.java:72-74,117-121``): each sentence containing
    ≥1 query-term occurrence becomes one candidate passage scored
    Σ weights of its matches (``PassageScorer.java:56-96`` simplified
    form), ranked (score desc, start asc). Snippet = the whole sentence
    with every query-term token wrapped (join_tokens mode joins the
    sentence's analyzed tokens with single spaces — the
    SQL-reproducible form)."""
    spans = sentence_spans(text)
    if not spans or not toks:
        return []
    # assign tokens to sentences with one ordered sweep (both sorted)
    passages: list[Passage] = []
    ti = 0
    n_toks = len(toks)
    for s, e in spans:
        while ti < n_toks and toks[ti][2] < s:
            ti += 1
        lo = ti
        while ti < n_toks and toks[ti][2] < e:
            ti += 1
        span_toks = toks[lo:ti]
        matches = [t for t, _p, _s, _e in span_toks if t in weights]
        if not matches:
            continue
        score = float(sum(weights[t] for t in matches))
        if join_tokens:
            parts = [
                f"{pre_tag}{text[ts:te]}{post_tag}" if t in weights else text[ts:te]
                for t, _p, ts, te in span_toks
            ]
            snippet = " ".join(parts)
        else:
            buf, cur = [], s
            for t, _p, ts, te in span_toks:
                buf.append(text[cur:ts])
                w = text[ts:te]
                buf.append(f"{pre_tag}{w}{post_tag}" if t in weights else w)
                cur = te
            buf.append(text[cur:e])
            snippet = "".join(buf)
        passages.append(Passage(s, e, score, len(matches), snippet))
    passages.sort(key=lambda p: (-p.score, p.start))
    return passages[:top_n]


def highlight_text(
    text: str, query_terms, **kwargs
) -> str | None:
    """Best single snippet (or None when nothing matches)."""
    ps = best_passages(text, query_terms, top_n=1, **kwargs)
    return ps[0].snippet if ps else None


def highlight_hits(
    hits_df,
    docs_df,
    query_terms: dict[str, float] | set[str],
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    ctx: int = 3,
    top_n: int = 1,
    pre_tag: str = "<b>",
    post_tag: str = "</b>",
    join_tokens: bool = False,
    break_mode: str = "window",
    analyzer_kwargs: dict | None = None,
):
    """Distributed highlight: broadcast-join the (small) hit set onto the
    documents table, then a MAP-ONLY Arrow batch pass producing
    (doc_id, snippet, passage_score, n_matches) — one row per emitted
    passage, nothing shuffles. The broadcast is sound because hits are
    top-k/match sets, orders of magnitude smaller than the corpus."""
    import pandas as pd
    from pyspark.sql import functions as F

    akw = dict(analyzer_kwargs or {})
    weights = (
        dict(query_terms)
        if isinstance(query_terms, dict)
        else {t: 1.0 for t in query_terms}
    )

    narrowed = docs_df.join(
        F.broadcast(hits_df.select(id_col).distinct()), id_col
    ).select(id_col, text_col)

    def run(batches):
        for pdf in batches:
            out_id, out_sn, out_sc, out_nm = [], [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                for p in best_passages(
                    text or "",
                    weights,
                    ctx=ctx,
                    top_n=top_n,
                    pre_tag=pre_tag,
                    post_tag=post_tag,
                    join_tokens=join_tokens,
                    break_mode=break_mode,
                    **akw,
                ):
                    out_id.append(did)
                    out_sn.append(p.snippet)
                    out_sc.append(p.score)
                    out_nm.append(p.n_matches)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(out_id, dtype="int64"),
                    "snippet": pd.Series(out_sn, dtype=str),
                    "passage_score": pd.Series(out_sc, dtype="float64"),
                    "n_matches": pd.Series(out_nm, dtype="int64"),
                }
            )

    schema = f"{id_col} long, snippet string, passage_score double, n_matches long"
    return narrowed.mapInPandas(run, schema=schema)


def highlight_hits_from_index(
    index,
    hits_df,
    docs_df,
    query_terms: dict[str, float] | set[str],
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    ctx: int = 3,
    top_n: int = 1,
    pre_tag: str = "<b>",
    post_tag: str = "</b>",
    join_tokens: bool = False,
    break_mode: str = "window",
):
    """Offset-source highlighting: read token spans from the index's
    STORED offsets instead of re-analyzing (UnifiedHighlighter's
    OffsetSource.POSTINGS_WITH_TERM_VECTORS / OFFSETS path,
    ``UnifiedHighlighter.java:1000-1032``) — the index must be built with
    ``index_options="offsets"`` (``index/IndexOptions.java:50``).

    Produces output IDENTICAL to ``highlight_hits`` (same passage rule via
    ``_passages_from_stream``) without running the tokenizer at highlight
    time — at 100× scale that halves per-hit CPU, and the postings read is
    pruned to the hit docs (tiny: top-k per query). The hit docs' FULL
    token streams are read because the passage rule needs every token's
    span for window context; in the doc-range segment layout that read
    prunes to the hit docs' segments.
    """
    import pandas as pd
    from pyspark.sql import functions as F

    for c in ("start_offsets", "end_offsets"):
        if c not in index.postings.columns:
            raise ValueError(
                "index has no stored offsets; build with index_options='offsets'"
            )
    weights = (
        dict(query_terms)
        if isinstance(query_terms, dict)
        else {t: 1.0 for t in query_terms}
    )
    ids = F.broadcast(
        hits_df.select(F.col(id_col).alias("_hit_id")).distinct()
    )

    # hit docs' token streams from the stored posting streams: explode the
    # parallel (positions, start_offsets, end_offsets) arrays, reassemble
    # per doc ordered by position
    tok = (
        index.postings.join(ids, F.col("doc_id") == F.col("_hit_id"))
        .select(
            F.col("doc_id").alias(id_col),
            "term",
            F.explode(
                F.arrays_zip("positions", "start_offsets", "end_offsets")
            ).alias("z"),
        )
        .select(
            id_col,
            "term",
            F.col("z.positions").alias("pos"),
            F.col("z.start_offsets").alias("s"),
            F.col("z.end_offsets").alias("e"),
        )
    )
    stream = tok.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(F.struct("pos", "s", "e", "term"))
        ).alias("toks")
    )
    narrowed = docs_df.join(
        ids, F.col(id_col) == F.col("_hit_id"), "left_semi"
    ).select(id_col, text_col).join(stream, id_col)

    def run(batches):
        for pdf in batches:
            out_id, out_sn, out_sc, out_nm = [], [], [], []
            for did, text, toks in zip(
                pdf[id_col], pdf[text_col], pdf["toks"]
            ):
                stream_toks = [
                    (t["term"], int(t["pos"]), int(t["s"]), int(t["e"]))
                    for t in toks
                ]
                for p in _passages_from_stream(
                    text or "",
                    stream_toks,
                    weights,
                    ctx,
                    top_n,
                    pre_tag,
                    post_tag,
                    join_tokens,
                    break_mode,
                ):
                    out_id.append(did)
                    out_sn.append(p.snippet)
                    out_sc.append(p.score)
                    out_nm.append(p.n_matches)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(out_id, dtype="int64"),
                    "snippet": pd.Series(out_sn, dtype=str),
                    "passage_score": pd.Series(out_sc, dtype="float64"),
                    "n_matches": pd.Series(out_nm, dtype="int64"),
                }
            )

    schema = f"{id_col} long, snippet string, passage_score double, n_matches long"
    return narrowed.mapInPandas(run, schema=schema)
