"""Segment-parallel top-k search kernel.

The Spark re-expression of Lucene's search path (SURVEY.md §3.2): the
compiled query plan + global term stats are broadcast; every segment
(doc-range partition, operators.segments) scores locally with a vectorized
numpy kernel over DECODED POSTING BLOCKS and returns its top-k; the driver
merges with the ``TopDocs.merge`` tie-break (score desc, docID asc —
``search/HitQueue.java:78-84``; docID order subsumes shard order because
segments are docID ranges).

Kernel operators (reference semantics, vectorized):
- term scoring      = BM25 float32 kernel (``BM25Similarity.java:211-258``)
- conjunction       = sorted-array intersection — the vectorized stand-in
  for leapfrog (``search/ConjunctionDISI.java:212-268``)
- disjunction       = concat + unique + segment-sum, the numpy form of the
  windowed BooleanScorer (``search/BooleanScorer.java:112-193``)
- MUST_NOT / FILTER = setdiff / semi-membership (``ReqExclScorer``)
- req+opt           = float32 add (``ReqOptSumScorer.java:260-277``)
- block-max pruning (``prune="block_max"``): per-(term, block) max scores
  derive from the stored impact frontiers (``search/MaxScoreCache.java:
  58-97``); doc-space windows are processed in decreasing upper-bound
  order and skipped once ub < θ (the minCompetitiveScore feedback,
  ``search/WANDScorer.java:273-335``, ``TopScoreDocCollector.java:84-98``)
  — windows with ub == θ are still processed so tie-breaks stay exact.

Two scoring modes (same contract as plans.df_executor):
  "float32" — Lucene-exact float32 arithmetic (rank-identity mode);
  "double"  — pure float64, mirroring the DuckDB ANSI-SQL oracle.
Both accumulate multi-clause sums in float64 and cast once, matching
``ConjunctionScorer.java:59-64`` / ``DisjunctionSumScorer.java:38-44``.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from lucene_solr_spark.codecs.postings_codec import EncodedPostings, decode_blocks
from lucene_solr_spark.operators.segments import SegmentIndex, table_path
from lucene_solr_spark.oracle import bm25
from lucene_solr_spark.plans import ir
from lucene_solr_spark.plans.rewriter import rewrite

__all__ = ["SegmentSearcher"]

_WINDOW = 2048  # BooleanScorer window size (BooleanScorer.java:33-37, 1<<11)


def _row_to_encoded(r) -> EncodedPostings:
    """Arrow/pandas row (itertuples) of SEGMENT_SCHEMA → EncodedPostings."""

    def arr(v, dtype):
        return np.empty(0, dtype) if v is None else np.asarray(v, dtype)

    return EncodedPostings(
        df=int(r.df),
        ttf=int(r.ttf),
        doc_blob=bytes(r.doc_blob) if r.doc_blob is not None else b"",
        tf_blob=bytes(r.tf_blob) if r.tf_blob is not None else b"",
        tail_blob=bytes(r.tail_blob) if r.tail_blob is not None else b"",
        n_full_blocks=int(r.n_full_blocks),
        block_first=arr(r.block_first, np.int64),
        block_last=arr(r.block_last, np.int64),
        imp_freq=arr(r.imp_freq, np.int32),
        imp_norm=arr(r.imp_norm, np.int32),
        imp_off=arr(r.imp_off, np.int32),
        singleton_doc=int(r.singleton_doc),
        singleton_tf=int(r.singleton_tf),
        pos_blob=bytes(r.pos_blob) if getattr(r, "pos_blob", None) is not None else b"",
        pos_off=arr(getattr(r, "pos_off", None), np.int64)
        if getattr(r, "pos_off", None) is not None
        else None,
    )

_RESULT_SCHEMA_F32 = T.StructType(
    [
        T.StructField("query_id", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.FloatType(), False),
    ]
)
_RESULT_SCHEMA_F64 = T.StructType(
    [
        T.StructField("query_id", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


# ------------------------------------------------------------------ compile
_MULTITERM_TYPES = (
    ir.PrefixQuery,
    ir.WildcardQuery,
    ir.RegexpQuery,
    ir.TermRangeQuery,
    ir.FuzzyQuery,
)

_COMPOSITE_SPAN_TYPES = (
    ir.SpanTermQuery,
    ir.SpanOrQuery,
    ir.SpanNotQuery,
    ir.SpanWithinQuery,
    ir.SpanContainingQuery,
    ir.SpanNotContainingQuery,
    ir.SpanNotWithinQuery,
    ir.SpanFirstQuery,
)


def _regex_literal_prefix(rx: str) -> str:
    """Leading literal chars of a regex (empty when it starts with a
    metachar) — used only to bound the dictionary scan, so being
    conservative is always safe."""
    out = []
    specials = set(".^$*+?()[]{}|\\")
    for i, c in enumerate(rx):
        if c in specials:
            # a quantifier on the previous char makes it optional
            if c in "*?{" and out:
                out.pop()
            break
        out.append(c)
    return "".join(out)


def _multiterm_scan_range(q: ir.Query) -> tuple[str | None, str | None]:
    """(lo, hi) SUPERSET bound on matching terms for reader pushdown;
    (None, None) = unbounded (full dictionary scan). Exact matching
    happens per segment in the kernel, so looseness is always safe."""

    def prefix_range(p: str) -> tuple[str | None, str | None]:
        if not p:
            return (None, None)
        return (p, p + "\U0010ffff")

    if isinstance(q, ir.PrefixQuery):
        return prefix_range(q.prefix)
    if isinstance(q, ir.TermRangeQuery):
        return (q.lower, q.upper)
    if isinstance(q, ir.WildcardQuery):
        lit = []
        for c in q.pattern:
            if c in "*?":
                break
            lit.append(c)
        return prefix_range("".join(lit))
    if isinstance(q, ir.RegexpQuery):
        return prefix_range(_regex_literal_prefix(q.regexp))
    if isinstance(q, ir.FuzzyQuery):
        if q.prefix_length:
            return prefix_range(q.term[: q.prefix_length])
        return (None, None)
    raise TypeError(type(q).__name__)


def _collect_ranges(q: ir.Query) -> list[tuple[str | None, str | None]]:
    """Dictionary scan bounds for every multi-term leaf of the tree."""
    if isinstance(q, _MULTITERM_TYPES):
        return [_multiterm_scan_range(q)]
    if isinstance(q, ir.BooleanQuery):
        out: list = []
        for c in q.clauses:
            out += _collect_ranges(c.query)
        return out
    if isinstance(q, (ir.BoostQuery, ir.ConstantScoreQuery)):
        return _collect_ranges(q.query)
    if isinstance(q, ir.DisjunctionMaxQuery):
        out = []
        for sub in q.queries:
            out += _collect_ranges(sub)
        return out
    return []


def _levenshtein_leq(a: str, b: str, k: int) -> bool:
    """Plain Levenshtein distance ≤ k with banded early exit (matches the
    DF executor's F.levenshtein semantics — no transpositions)."""
    if abs(len(a) - len(b)) > k:
        return False
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        row_min = i
        for j, cb in enumerate(b, 1):
            v = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            cur.append(v)
            row_min = min(row_min, v)
        if row_min > k:
            return False
        prev = cur
    return prev[-1] <= k


def _cand_columns(cands):
    """``(col_fn, lens, L)`` for a candidate set given as list[str] OR an
    Arrow string array: ``col_fn(i)`` returns codepoint ``i`` of every
    candidate as one numpy array. The Arrow all-ASCII fast path (the
    overwhelmingly common dictionary case) gathers each column straight
    from the utf8 data buffer — no per-string Python and no (n, L)
    matrix materialization (column i of a candidate shorter than i+1 is
    garbage, which is harmless: that candidate's distance was already
    captured at its own final column). Mixed/non-ASCII inputs pad via
    Python ljust over utf-32."""
    is_arrow = not isinstance(cands, (list, tuple))
    if is_arrow:
        import pyarrow as pa
        import pyarrow.compute as pc

        a = cands.combine_chunks() if isinstance(cands, pa.ChunkedArray) else cands
        if len(a) and pc.all(pc.string_is_ascii(a)).as_py():
            lens = pc.utf8_length(a).to_numpy(zero_copy_only=False).astype(np.int64)
            bufs = a.buffers()
            L = int(lens.max())
            if L == 0 or bufs[2] is None:
                return (lambda i: np.zeros(len(a), np.uint8)), lens, 0
            starts = np.frombuffer(bufs[1], np.int32)[
                a.offset : a.offset + len(a)
            ].astype(np.int64)
            data = np.frombuffer(bufs[2], np.uint8)
            cap = len(data) - 1

            def col_fn(i: int) -> np.ndarray:
                return data[np.minimum(starts + i, cap)]

            return col_fn, lens, L
        cands = a.to_pylist()
    n = len(cands)
    lens = np.fromiter((len(t) for t in cands), np.int64, n)
    L = int(lens.max()) if n else 0
    buf = "".join(t.ljust(L, "\0") for t in cands)
    M = np.frombuffer(buf.encode("utf-32-le"), dtype=np.uint32).reshape(n, L)
    return (lambda i: M[:, i]), lens, L


def _osa_leq_batch(cands, base: str, k: int) -> np.ndarray:
    """Vectorized OSA (restricted-Damerau, transpositions=true — the
    reference FuzzyQuery default, ``search/FuzzyQuery.java:46-48``) ≤ k
    over MANY candidates, exactness-preserving and still dominated by the
    Myers bit-parallel Levenshtein sweep:

    - lev ≤ k  ⇒  OSA ≤ k (a transposition can only REDUCE the distance),
      so Myers-accepted candidates are accepted outright;
    - OSA ≤ k  ⇒  lev ≤ 2k (one transposition is two substitutions), so
      only the borderline band lev ∈ (k, 2k] can be rescued by
      transpositions — those few survivors run the scalar OSA DP.

    On a real dictionary the band is a tiny fraction of the length-band
    survivors, so the cost is the same one bit-parallel sweep as before
    plus a handful of scalar DPs."""
    dist = _levenshtein_dist_batch(cands, base, cap=2 * k)
    keep = dist <= k
    border = np.nonzero((dist > k) & (dist <= 2 * k))[0]
    if border.size:
        from lucene_solr_spark.oracle.editdist import osa_distance

        terms = (
            cands.take(border).to_pylist()
            if hasattr(cands, "take")
            else [cands[i] for i in border]
        )
        keep[border] = [osa_distance(t, base) <= k for t in terms]
    return keep


def _levenshtein_dist_batch(cands, base: str, cap: int) -> np.ndarray:
    """Vectorized plain Levenshtein distance over MANY candidates at once:
    Myers' bit-parallel algorithm (Myers 1999, "A fast bit-vector
    algorithm for approximate string matching") with the pattern = the
    query term held in one uint64 bitvector per candidate, every update
    a handful of numpy bitwise ops across ALL candidates simultaneously —
    ~10·L vector ops total instead of a Python O(m·L) DP per candidate.
    No transpositions (matching F.levenshtein); query terms longer than
    64 codepoints fall back to the scalar DP (never in practice for fuzzy
    queries), where distances past ``cap`` report as cap+1."""
    n = len(cands)
    if n == 0:
        return np.zeros(0, np.int64)
    m = len(base)
    if m == 0 or m > 64:
        from lucene_solr_spark.oracle.editdist import levenshtein_distance

        it = cands.to_pylist() if hasattr(cands, "to_pylist") else cands
        return np.fromiter(
            (
                levenshtein_distance(t, base)
                if _levenshtein_leq(t, base, cap)
                else cap + 1
                for t in it
            ),
            np.int64,
            n,
        )
    col_fn, lens, L = _cand_columns(cands)
    # per-codepoint pattern-match bitmasks for the base term's alphabet
    b_cp = np.frombuffer(base.encode("utf-32-le"), dtype=np.uint32)
    alpha = np.unique(b_cp)
    masks = np.zeros(len(alpha), np.uint64)
    for i, cp in enumerate(b_cp):
        masks[np.searchsorted(alpha, cp)] |= np.uint64(1) << np.uint64(i)
    ones = np.uint64(0xFFFFFFFFFFFFFFFF)
    one = np.uint64(1)
    hibit = np.uint64(1) << np.uint64(m - 1)
    Pv = np.full(n, (one << np.uint64(m)) - one if m < 64 else ones, np.uint64)
    Mv = np.zeros(n, np.uint64)
    score = np.full(n, m, np.int64)
    dist = np.full(n, np.iinfo(np.int64).max, np.int64)
    dist[lens == 0] = m
    # preallocated temporaries: the update is ~12 vector ops per column;
    # fresh 8n-byte allocations per op are the dominant cost on a
    # first-touch-slow host, so every op below writes into a reused buffer
    Eq = np.empty(n, np.uint64)
    Xv = np.empty(n, np.uint64)
    Xh = np.empty(n, np.uint64)
    Ph = np.empty(n, np.uint64)
    Mh = np.empty(n, np.uint64)
    t1 = np.empty(n, np.uint64)
    bsel = np.empty(n, bool)
    with np.errstate(over="ignore"):
        for i in range(L):
            ci = col_fn(i)
            idx = np.searchsorted(alpha, ci)
            idx[idx >= len(alpha)] = 0
            np.take(masks, idx, out=Eq)
            np.not_equal(alpha[idx], ci, out=bsel)
            Eq[bsel] = 0
            np.bitwise_or(Eq, Mv, out=Xv)
            np.bitwise_and(Eq, Pv, out=t1)
            np.add(t1, Pv, out=t1)
            np.bitwise_xor(t1, Pv, out=t1)
            np.bitwise_or(t1, Eq, out=Xh)
            np.bitwise_or(Xh, Pv, out=t1)
            np.invert(t1, out=t1)
            np.bitwise_or(Mv, t1, out=Ph)
            np.bitwise_and(Pv, Xh, out=Mh)
            np.bitwise_and(Ph, hibit, out=t1)
            np.not_equal(t1, 0, out=bsel)
            score += bsel
            np.bitwise_and(Mh, hibit, out=t1)
            np.not_equal(t1, 0, out=bsel)
            score -= bsel
            np.left_shift(Ph, one, out=Ph)
            np.bitwise_or(Ph, one, out=Ph)
            np.left_shift(Mh, one, out=Mh)
            np.bitwise_or(Xv, Ph, out=t1)
            np.invert(t1, out=t1)
            np.bitwise_or(Mh, t1, out=Pv)
            np.bitwise_and(Ph, Xv, out=Mv)
            np.equal(lens, i + 1, out=bsel)
            if bsel.any():
                dist[bsel] = score[bsel]
    return np.minimum(dist, cap + 1)


def _sloppy2_freqs_batch(
    a: tuple, b: tuple, offsets: tuple, slop: int
) -> np.ndarray:
    """Sloppy phrase freq for TWO DISTINCT terms, vectorized in lockstep
    over MANY candidate docs at once — the greedy SloppyPhraseMatcher's
    2-pp nextMatch loop (``search/SloppyPhraseMatcher.java:174-206``)
    reduced to its alternating-successor closed form (the same chain the
    sloppy_phrase_matches SQL oracle replays, fuzz-verified vs the full
    machine): starting from the later of the two heads, each step emits
    matchLength = frontier − predecessor-in-the-opposite-list (emit iff
    ≤ slop) and jumps to the successor in the opposite list. All docs
    advance one chain step per lockstep iteration (pure gathers on
    precomputed successor/predecessor arrays — doc slices separated by a
    per-doc stride so ONE global searchsorted serves every doc); the
    float32 fold runs in iteration order, which IS per-doc match order,
    so scores are bit-identical to the scalar machine.

    ``a``/``b`` are (flat_positions, counts_per_candidate); returns
    float64 freqs per candidate (0.0 = no slop-valid match)."""
    pos_a, cnt_a = a
    pos_b, cnt_b = b
    n = len(cnt_a)
    freqs32 = np.zeros(n, np.float32)
    if n == 0:
        return freqs32.astype(np.float64)
    start_a = np.concatenate(([0], np.cumsum(cnt_a)[:-1]))
    start_b = np.concatenate(([0], np.cumsum(cnt_b)[:-1]))
    end_a = start_a + cnt_a
    end_b = start_b + cnt_b
    ci_a = np.repeat(np.arange(n, dtype=np.int64), cnt_a)
    ci_b = np.repeat(np.arange(n, dtype=np.int64), cnt_b)
    stride = np.int64(1) << np.int64(40)  # positions < 2^32 ≪ stride
    half = np.int64(1) << np.int64(31)  # keep adjusted values positive
    va = ci_a * stride + (pos_a.astype(np.int64) - int(offsets[0])) + half
    vb = ci_b * stride + (pos_b.astype(np.int64) - int(offsets[1])) + half

    # per-element neighbor maps (one global searchsorted each):
    #   succ_x_in_y: first y-element with value > x (chain jump)
    #   pred_x_in_y: last y-element with value ≤ x (matchLength anchor)
    succ_a_in_b = np.searchsorted(vb, va, side="right")
    pred_a_in_b = succ_a_in_b - 1
    succ_b_in_a = np.searchsorted(va, vb, side="right")
    pred_b_in_a = succ_b_in_a - 1
    # validity: the neighbor must live in the SAME candidate's slice
    succ_a_ok = succ_a_in_b < end_b[ci_a]
    pred_a_ok = pred_a_in_b >= start_b[ci_a]
    succ_b_ok = succ_b_in_a < end_a[ci_b]
    pred_b_ok = pred_b_in_a >= start_a[ci_b]

    # heads: v0 = max(minA, minB); lab 'a' iff minA > minB (on ties the
    # machine pops the earlier-offset pp first, leaving the other as the
    # frontier — same as the oracle CTE's lab choice)
    head_a = va[start_a]
    head_b = vb[start_b]
    lab = head_a > head_b  # True = frontier lives in A
    idx = np.where(lab, start_a, start_b)
    active = np.ones(n, bool)
    one = np.float32(1.0)
    big = np.int64(1) << np.int64(50)  # ml sentinel when no predecessor

    while True:
        act = np.nonzero(active)[0]
        if act.size == 0:
            break
        ix = idx[act]
        la = lab[act]
        v = np.where(la, va[np.minimum(ix, len(va) - 1)], vb[np.minimum(ix, len(vb) - 1)])
        # matchLength = v − predecessor in the OPPOSITE list
        pidx = np.where(la, pred_a_in_b[np.minimum(ix, len(va) - 1)],
                        pred_b_in_a[np.minimum(ix, len(vb) - 1)])
        pok = np.where(la, pred_a_ok[np.minimum(ix, len(va) - 1)],
                       pred_b_ok[np.minimum(ix, len(vb) - 1)])
        pval = np.where(la, vb[np.clip(pidx, 0, max(len(vb) - 1, 0))] if len(vb) else 0,
                        va[np.clip(pidx, 0, max(len(va) - 1, 0))] if len(va) else 0)
        ml = np.where(pok, v - pval, big)
        emit = ml <= slop
        if emit.any():
            e = act[emit]
            freqs32[e] = freqs32[e] + one / (one + ml[emit].astype(np.float32))
        # advance: successor in the opposite list; flip lab
        sidx = np.where(la, succ_a_in_b[np.minimum(ix, len(va) - 1)],
                        succ_b_in_a[np.minimum(ix, len(vb) - 1)])
        sok = np.where(la, succ_a_ok[np.minimum(ix, len(va) - 1)],
                       succ_b_ok[np.minimum(ix, len(vb) - 1)])
        done = ~sok
        if done.any():
            active[act[done]] = False
        cont = ~done
        idx[act[cont]] = sidx[cont]
        lab[act[cont]] = ~la[cont]
    return freqs32.astype(np.float64)


def _match_dict_pred(plan: dict, terms) -> list[str]:
    """Per-segment dictionary intersection (the automaton∩terms-dict role,
    ``search/AutomatonQuery.java:45``): the candidate ``terms`` are this
    segment's (range-pruned) dictionary — already task-local.

    Vectorized: one Arrow-compute boolean mask over the whole dictionary
    array per predicate — never a per-term Python loop over the full
    dictionary (and not ``np.char``, whose per-element str-method calls
    are barely faster than the loop). The only remaining Python DP
    (fuzzy's OSA refinement) runs on the Myers-batch borderline band of
    the length-band + shared-prefix SURVIVORS, typically a tiny fraction
    of a 10⁸-term segment
    dictionary; regexes evaluate in Arrow's re2 when the pattern compiles
    there, falling back to Python ``re`` for re2-unsupported constructs
    (backrefs, lookaround)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = terms if isinstance(terms, pa.Array) else pa.array(list(terms), pa.string())
    kind = plan["kind"]
    if kind == "prefix":
        return arr.filter(pc.starts_with(arr, pattern=plan["prefix"])).to_pylist()
    if kind == "range":
        lo, hi = plan["lower"], plan["upper"]
        il, iu = plan["include_lower"], plan["include_upper"]
        mask = None
        if lo is not None:
            mask = pc.greater_equal(arr, lo) if il else pc.greater(arr, lo)
        if hi is not None:
            m2 = pc.less_equal(arr, hi) if iu else pc.less(arr, hi)
            mask = m2 if mask is None else pc.and_(mask, m2)
        return arr.to_pylist() if mask is None else arr.filter(mask).to_pylist()
    if kind == "regex":
        anchored = f"^(?:{plan['regex']})$"
        try:
            mask = pc.match_substring_regex(arr, anchored)
            return arr.filter(mask).to_pylist()
        except Exception:  # re2-unsupported pattern → exact Python re
            import re as _re

            rx = _re.compile(plan["regex"])
            return [t for t in arr.to_pylist() if rx.fullmatch(t)]
    if kind == "fuzzy":
        base = plan["term"]
        pl = plan["prefix_length"]
        k = plan["max_edits"]
        # vectorized exactness-preserving prefilters (FuzzyTermsEnum's
        # automaton-pruning role): length band is a Levenshtein lower
        # bound; the shared prefix is required by prefix_length semantics
        mask = pc.less_equal(
            pc.abs(pc.subtract(pc.utf8_length(arr), len(base))), k
        )
        if pl:
            mask = pc.and_(mask, pc.starts_with(arr, pattern=base[:pl]))
        surv = arr.filter(mask)  # stays Arrow: no materialize-then-DP
        keep = _osa_leq_batch(surv, base, k)
        return surv.filter(pa.array(keep)).to_pylist()
    raise ValueError(kind)


def _collect_terms(q: ir.Query) -> set[str]:
    if isinstance(q, ir.TermQuery):
        return {q.term}
    if isinstance(
        q, (ir.SynonymQuery, ir.TermInSetQuery, ir.PhraseQuery, ir.SpanNearQuery)
    ):
        return set(q.terms)
    if isinstance(q, _COMPOSITE_SPAN_TYPES):
        from lucene_solr_spark.plans.df_executor import span_term_sets

        return set(span_term_sets(q)[0])
    if isinstance(q, ir.MultiPhraseQuery):
        return set(q.all_terms)
    if isinstance(q, ir.BlendedTermQuery):
        return set(q.terms)
    if isinstance(q, ir.BooleanQuery):
        s: set[str] = set()
        for c in q.clauses:
            s |= _collect_terms(c.query)
        return s
    if isinstance(q, (ir.BoostQuery, ir.ConstantScoreQuery)):
        return _collect_terms(q.query)
    if isinstance(q, ir.DisjunctionMaxQuery):
        s = set()
        for sub in q.queries:
            s |= _collect_terms(sub)
        return s
    return set()


@dataclass
class _Compiler:
    """Query IR → serializable kernel plan (plain dicts), with term weights
    resolved driver-side from the global dictionary — the Weight-tree
    construction (``search/IndexSearcher.java:684`` createWeight)."""

    stats: dict[str, tuple[int, int]]
    doc_count: int
    mode: str
    k1: float
    b: float
    sum_ttf: int = 0
    #: non-BM25 pluggable similarity — weight payloads become plain lists
    #: (JSON-safe), scored by _SegmentEval via sim.score; mirrors
    #: DFExecutor._term_weight/_sum_weight exactly
    sim: object | None = None

    def weight(self, boost: float, df: int, ttf: int = 0):
        if self.sim is not None:
            return list(
                self.sim.term_weight(boost, df, ttf, self.doc_count, self.sum_ttf)
            )
        if self.mode == "float32":
            return float(bm25.term_weight(boost, bm25.idf(df, self.doc_count)))
        return boost * math.log(1.0 + (self.doc_count - df + 0.5) / (df + 0.5))

    def sum_weight(self, boost: float, dfs: list[int], ttfs: list[int] | None = None):
        """Multi-term (phrase) weight: per-term idfs summed in double, one
        f32 cast (BM25Similarity.java:191-199) — mirrors DFExecutor._sum_weight."""
        if self.sim is not None:
            stats = list(zip(dfs, ttfs if ttfs is not None else [0] * len(dfs)))
            return list(
                self.sim.sum_weight(boost, stats, self.doc_count, self.sum_ttf)
            )
        if self.mode == "float32":
            return float(bm25.term_weight(boost, bm25.idf_sum(dfs, self.doc_count)))
        n = self.doc_count
        return boost * sum(
            math.log(1.0 + (n - df + 0.5) / (df + 0.5)) for df in dfs
        )

    def compile(self, q: ir.Query, boost: float = 1.0) -> dict:
        if isinstance(q, ir.TermQuery):
            df, ttf = self.stats.get(q.term, (0, 0))
            if df == 0:
                return {"op": "none"}
            return {
                "op": "term",
                "term": q.term,
                "weight": self.weight(boost, df, ttf),
            }
        if isinstance(q, ir.SynonymQuery):
            dfs = [self.stats.get(t, (0, 0))[0] for t in q.terms]
            df_max = max(dfs, default=0)
            if df_max == 0:
                return {"op": "none"}
            ttf_sum = sum(self.stats.get(t, (0, 0))[1] for t in q.terms)
            return {
                "op": "synonym",
                "terms": list(q.terms),
                "weight": self.weight(boost, df_max, ttf_sum),
            }
        if isinstance(q, ir.TermInSetQuery):
            score = float(np.float32(boost)) if self.mode == "float32" else float(boost)
            return {"op": "term_set", "terms": list(q.terms), "score": score}
        if isinstance(q, _MULTITERM_TYPES):
            if isinstance(q, ir.FuzzyQuery) and not q.constant_score:
                raise TypeError(
                    "scored fuzzy leaf reached compile un-expanded; "
                    "SegmentSearcher._expand_scored lowers it to "
                    "BlendedTermQuery pre-compile"
                )
            if getattr(q, "constant_score", True) is False:
                raise TypeError(
                    "scored multi-term leaf reached compile un-expanded; "
                    "SegmentSearcher._expand_scored lowers it pre-compile"
                )
            # constant-score multi-term: no driver-side expansion — each
            # segment intersects the predicate with ITS OWN dictionary
            # (MultiTermQueryConstantScoreWrapper.java:39); the reader
            # prunes by _multiterm_scan_range
            score = float(np.float32(boost)) if self.mode == "float32" else float(boost)
            plan: dict = {"op": "dict_pred", "score": score}
            if isinstance(q, ir.PrefixQuery):
                plan.update(kind="prefix", prefix=q.prefix)
            elif isinstance(q, ir.TermRangeQuery):
                plan.update(
                    kind="range",
                    lower=q.lower,
                    upper=q.upper,
                    include_lower=q.include_lower,
                    include_upper=q.include_upper,
                )
            elif isinstance(q, ir.WildcardQuery):
                from lucene_solr_spark.plans.df_executor import wildcard_to_regex

                plan.update(kind="regex", regex=wildcard_to_regex(q.pattern))
            elif isinstance(q, ir.RegexpQuery):
                plan.update(kind="regex", regex=q.regexp)
            else:  # FuzzyQuery
                plan.update(
                    kind="fuzzy",
                    term=q.term,
                    max_edits=q.max_edits,
                    prefix_length=q.prefix_length,
                )
            return plan
        if isinstance(q, ir.BoostQuery):
            inner = (
                float(np.float32(np.float32(boost) * np.float32(q.boost)))
                if self.mode == "float32"
                else boost * q.boost
            )
            return self.compile(q.query, inner)
        if isinstance(q, ir.ConstantScoreQuery):
            score = float(np.float32(boost)) if self.mode == "float32" else float(boost)
            return {"op": "const", "sub": self.compile(q.query, 1.0), "score": score}
        if isinstance(q, ir.MatchAllDocsQuery):
            score = float(np.float32(boost)) if self.mode == "float32" else float(boost)
            return {"op": "match_all", "score": score}
        if isinstance(q, ir.MatchNoDocsQuery):
            return {"op": "none"}
        if isinstance(q, ir.PhraseQuery):
            dfs = [self.stats.get(t, (0, 0))[0] for t in q.terms]
            if min(dfs, default=0) == 0:
                return {"op": "none"}
            ttfs = [self.stats.get(t, (0, 0))[1] for t in q.terms]
            return {
                "op": "phrase",
                "terms": list(q.terms),
                "offsets": [int(p) for p in q.positions],
                "slop": int(q.slop),
                "weight": self.sum_weight(boost, dfs, ttfs),
            }
        if isinstance(q, ir.SpanNearQuery):
            dfs = [self.stats.get(t, (0, 0))[0] for t in q.terms]
            if min(dfs, default=0) == 0:
                return {"op": "none"}
            ttfs = [self.stats.get(t, (0, 0))[1] for t in q.terms]
            return {
                "op": "span_near",
                "terms": list(q.terms),
                "slop": int(q.slop),
                "in_order": bool(q.in_order),
                "weight": self.sum_weight(boost, dfs, ttfs),
            }
        if isinstance(q, _COMPOSITE_SPAN_TYPES):
            # composite span algebra (or/not/within/containing + term
            # leaves): ship the IR subtree; the segment kernel evaluates
            # it with oracle.spans.eval_spans over batch-decoded
            # positions. Weight/term bookkeeping mirrors
            # plans.df_executor._eval_span exactly.
            from lucene_solr_spark.plans.df_executor import span_term_sets

            all_terms, positive, required = span_term_sets(q)
            if any(self.stats.get(t, (0, 0))[0] == 0 for t in required):
                return {"op": "none"}
            live = [t for t in positive if self.stats.get(t, (0, 0))[0] > 0]
            if not live:
                return {"op": "none"}
            live_dfs = [self.stats.get(t, (0, 0))[0] for t in live]
            live_ttfs = [self.stats.get(t, (0, 0))[1] for t in live]
            return {
                "op": "span",
                "node": ir.span_to_dict(q),
                "all_terms": list(all_terms),
                "positive": list(positive),
                "required": list(required),
                "weight": self.sum_weight(boost, live_dfs, live_ttfs),
            }
        if isinstance(q, ir.MultiPhraseQuery):
            live_mp = [t for t in q.all_terms if self.stats.get(t, (0, 0))[0] > 0]
            dfs = [self.stats.get(t, (0, 0))[0] for t in live_mp]
            ttfs_mp = [self.stats.get(t, (0, 0))[1] for t in live_mp]
            if any(
                all(self.stats.get(t, (0, 0))[0] == 0 for t in g)
                for g in q.term_groups
            ):
                return {"op": "none"}
            return {
                "op": "multi_phrase",
                "groups": [list(g) for g in q.term_groups],
                "offsets": [int(p) for p in q.positions],
                "slop": int(q.slop),
                "weight": self.sum_weight(boost, dfs, ttfs_mp),
            }
        if isinstance(q, ir.BlendedTermQuery):
            # BlendedTermQuery.java:138-149 rewrite: a SHOULD boolean of
            # boosted TermQueries that ALL use the blended (max) df for
            # idf. Weight chain mirrors DFExecutor._eval_scored_fuzzy
            # exactly per mode; clauses are TERM-SORTED by construction
            # (np.add.at clause order == the DF/oracle sorted fold).
            if self.sim is not None:
                raise TypeError(
                    "BlendedTermQuery carries BM25 df-blending; pluggable "
                    "similarities take the DF executor path"
                )
            children = []
            # term-sorted fold regardless of node construction order (the
            # DF executor's _scored_disjunction sorts internally too)
            for t, ed in sorted(zip(q.terms, q.edits)):
                df, _ttf = self.stats.get(t, (0, 0))
                if df == 0:
                    continue  # expansion came from global stats; guard anyway
                if self.mode == "float32":
                    bt = (
                        np.float32(1.0)
                        if ed == 0
                        else np.float32(1.0)
                        - np.float32(ed) / np.float32(min(len(t), q.query_len))
                    )
                    w = float(
                        bm25.term_weight(
                            float(np.float32(np.float32(boost) * bt)),
                            bm25.idf(q.df_blend, self.doc_count),
                        )
                    )
                else:
                    bt_d = (
                        1.0 if ed == 0 else 1.0 - ed / min(len(t), q.query_len)
                    )
                    w = (boost * bt_d) * math.log(
                        1.0
                        + (self.doc_count - q.df_blend + 0.5)
                        / (q.df_blend + 0.5)
                    )
                children.append({"op": "term", "term": t, "weight": w})
            if not children:
                return {"op": "none"}
            return {
                "op": "bool",
                "musts": [],
                "filters": [],
                "shoulds": children,
                "nots": [],
                "msm": 0,
            }
        if isinstance(q, ir.DisjunctionMaxQuery):
            return {
                "op": "dismax",
                "subs": [self.compile(s, boost) for s in q.queries],
                "tie": float(q.tie_breaker),
            }
        if isinstance(q, ir.BooleanQuery):
            return {
                "op": "bool",
                "musts": [self.compile(c, boost) for c in q.by_occur(ir.Occur.MUST)],
                "filters": [self.compile(c, 1.0) for c in q.by_occur(ir.Occur.FILTER)],
                "shoulds": [self.compile(c, boost) for c in q.by_occur(ir.Occur.SHOULD)],
                "nots": [self.compile(c, 1.0) for c in q.by_occur(ir.Occur.MUST_NOT)],
                "msm": q.min_should_match,
            }
        raise TypeError(f"kernel cannot compile {type(q).__name__}")


# ------------------------------------------------------------------- kernel
class _SegmentEval:
    """Evaluates compiled plans over one segment's decoded postings."""

    def __init__(
        self,
        term_enc: dict[str, EncodedPostings],
        seg_docs: np.ndarray,
        seg_norms: np.ndarray,
        mode: str,
        cache_f32: np.ndarray,
        inv_f64: np.ndarray,
        sim: object | None = None,
    ):
        self.term_enc = term_enc
        self.seg_docs = seg_docs  # sorted doc_ids of the segment
        self.seg_norms = seg_norms
        self.mode = mode
        self.cache_f32 = cache_f32
        self.inv_f64 = inv_f64
        self.sim = sim  # pluggable similarity: weight payload = list
        self._decoded: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        self._gmax_cache: dict[str, np.ndarray] = {}
        # per-(term, weight) scored-postings memo: benchmark query sets
        # reuse terms across many queries; scoring each term once per
        # segment amortizes the kernel across the whole batch
        self._term_score_cache: dict[tuple[str, float], tuple[np.ndarray, np.ndarray]] = {}
        self._dict_arr = None  # lazy Arrow term-dictionary array

    def dict_arr(self):
        """This segment's dictionary as ONE Arrow string array (built
        once, shared by every multi-term predicate in the batch) — the
        vectorized _match_dict_pred operand."""
        if self._dict_arr is None:
            import pyarrow as pa

            self._dict_arr = pa.array(list(self.term_enc.keys()), pa.string())
        return self._dict_arr

    # --- postings access ---
    def postings(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        if term not in self._decoded:
            enc = self.term_enc.get(term)
            if enc is None:
                self._decoded[term] = (
                    np.empty(0, np.int64),
                    np.empty(0, np.int64),
                )
            else:
                self._decoded[term] = decode_blocks(enc, None)
        return self._decoded[term]

    def norms_of(self, docs: np.ndarray) -> np.ndarray:
        idx = np.searchsorted(self.seg_docs, docs)
        return self.seg_norms[idx]

    def _enc_with_positions(self, term: str) -> EncodedPostings:
        """Positional access guard — the reference raises
        IllegalStateException("field was indexed without position data")
        (PhraseQuery/ExactPhraseMatcher); mirror that instead of an opaque
        TypeError from decode_positions_batch on pos_off=None."""
        enc = self.term_enc[term]
        if enc.pos_off is None:
            raise ValueError(
                "cannot run a positional (phrase/span) query: the index "
                "was built without positions (index_options="
                "'docs'/'freqs'); rebuild with index_options='positions'"
            )
        return enc

    # --- scoring ---
    def score_tf_norm(self, tfs: np.ndarray, norms: np.ndarray, weight) -> np.ndarray:
        if self.sim is not None:
            return np.asarray(
                self.sim.score(np.asarray(tfs), np.asarray(norms), tuple(weight), self.mode)
            )
        if self.mode == "float32":
            return bm25.score(tfs, norms, weight=np.float32(weight), cache=self.cache_f32)
        w = np.float64(weight)
        return w - w / (1.0 + tfs.astype(np.float64) * self.inv_f64[norms])

    def _out_dtype(self):
        return np.float32 if self.mode == "float32" else np.float64

    # --- evaluation: returns (docs sorted, scores, match_counts|None) ---
    def eval(self, plan: dict) -> tuple[np.ndarray, np.ndarray]:
        op = plan["op"]
        empty = (np.empty(0, np.int64), np.empty(0, self._out_dtype()))
        if op == "none":
            return empty
        if op == "term":
            w = plan["weight"]
            key = (plan["term"], tuple(w) if isinstance(w, list) else w)
            hit = self._term_score_cache.get(key)
            if hit is not None:
                return hit
            docs, tfs = self.postings(plan["term"])
            if not docs.size:
                self._term_score_cache[key] = empty
                return empty
            out = (docs, self.score_tf_norm(tfs, self.norms_of(docs), plan["weight"]))
            self._term_score_cache[key] = out
            return out
        if op == "synonym":
            parts = [self.postings(t) for t in plan["terms"]]
            alldocs = np.concatenate([p[0] for p in parts])
            alltfs = np.concatenate([p[1] for p in parts])
            if not alldocs.size:
                return empty
            docs, inv = np.unique(alldocs, return_inverse=True)
            tfs = np.zeros(len(docs), np.int64)
            np.add.at(tfs, inv, alltfs)
            return docs, self.score_tf_norm(tfs, self.norms_of(docs), plan["weight"])
        if op == "term_set":
            parts = [self.postings(t)[0] for t in plan["terms"]]
            docs = np.unique(np.concatenate(parts)) if parts else np.empty(0, np.int64)
            return docs, np.full(len(docs), plan["score"], self._out_dtype())
        if op == "dict_pred":
            matched = _match_dict_pred(plan, self.dict_arr())
            parts = [self.postings(t)[0] for t in matched]
            docs = (
                np.unique(np.concatenate(parts)) if parts else np.empty(0, np.int64)
            )
            return docs, np.full(len(docs), plan["score"], self._out_dtype())
        if op == "const":
            docs, _ = self.eval(plan["sub"])
            return docs, np.full(len(docs), plan["score"], self._out_dtype())
        if op == "match_all":
            return self.seg_docs, np.full(
                len(self.seg_docs), plan["score"], self._out_dtype()
            )
        if op == "dismax":
            subs = [self.eval(s) for s in plan["subs"]]
            alldocs = np.concatenate([s[0] for s in subs])
            if not alldocs.size:
                return empty
            docs, inv = np.unique(alldocs, return_inverse=True)
            mx = np.full(len(docs), -np.inf)
            sm = np.zeros(len(docs))
            allsc = np.concatenate([s[1] for s in subs]).astype(np.float64)
            np.maximum.at(mx, inv, allsc)
            np.add.at(sm, inv, allsc)
            out = mx + (sm - mx) * plan["tie"]
            return docs, out.astype(self._out_dtype())
        if op == "phrase":
            return self._eval_phrase(plan)
        if op == "span_near":
            return self._eval_span_near(plan)
        if op == "span":
            return self._eval_span(plan)
        if op == "multi_phrase":
            return self._eval_multi_phrase(plan)
        if op == "bool":
            return self._eval_bool(plan)
        raise ValueError(f"unknown op {op}")

    def _eval_phrase(self, plan: dict) -> tuple[np.ndarray, np.ndarray]:
        """Two-phase phrase matching (ExactPhraseMatcher.java:109-155):
        conjunction approximation over doc arrays, then position-verify
        via _phrase_freqs."""
        empty = (np.empty(0, np.int64), np.empty(0, self._out_dtype()))
        terms = plan["terms"]
        doc_arrays = []
        for t in terms:
            d, _tf = self.postings(t)
            if not d.size:
                return empty
            doc_arrays.append(d)
        cand = doc_arrays[0]
        for d in doc_arrays[1:]:
            cand = cand[_in_sorted(cand, d)]
            if not cand.size:
                return empty
        cand, tfs = self._phrase_freqs(
            terms, plan["offsets"], cand, doc_arrays, plan.get("slop", 0)
        )
        if not cand.size:
            return empty
        return cand, self.score_tf_norm(tfs, self.norms_of(cand), plan["weight"])

    def _phrase_freqs(
        self,
        terms: tuple,
        offsets: tuple,
        cand: np.ndarray,
        doc_arrays: list,
        slop: int,
    ) -> tuple[np.ndarray, np.ndarray]:
        """Position verification for conjunction candidates → (docs⊆cand,
        freqs). Exact phrases use the FULLY VECTORIZED composite-key
        intersection ((candidate_index << 32 | adjusted_position) — no
        per-document Python loop); sloppy phrases run the shared
        oracle.sloppy kernel per candidate (SloppyPhraseMatcher role).
        ``doc_arrays`` are the FULL per-term doc arrays (position offsets
        index the full posting list), while ``cand`` may be any subset —
        the window-restricted block-max path reuses this directly."""
        from lucene_solr_spark.codecs.postings_codec import decode_positions_batch

        empty = (np.empty(0, np.int64), np.empty(0, np.int64))
        if slop:
            flat = []
            for ti, t in enumerate(terms):
                enc = self._enc_with_positions(t)
                idxs = np.searchsorted(doc_arrays[ti], cand)
                pos, counts = decode_positions_batch(enc.pos_blob, enc.pos_off, idxs)
                flat.append((pos, counts))
            if len(terms) == 2 and terms[0] != terms[1] and offsets[0] < offsets[1]:
                # the dominant shape (wikimedium SloppyPhrase lines are
                # 2-term bigrams): fully-vectorized lockstep chain across
                # ALL candidate docs at once — no per-doc Python machine
                freqs = _sloppy2_freqs_batch(flat[0], flat[1], offsets, slop)
            else:
                from lucene_solr_spark.oracle.sloppy import sloppy_phrase_freq

                pos_per_term = [
                    np.split(pos, np.cumsum(counts)[:-1]) for pos, counts in flat
                ]
                freqs = np.empty(len(cand), np.float64)
                for ci in range(len(cand)):
                    freqs[ci] = sloppy_phrase_freq(
                        [pos_per_term[ti][ci] for ti in range(len(terms))],
                        offsets,
                        slop,
                        terms=list(terms),
                    )
            keep = freqs > 0
            return cand[keep], freqs[keep]

        base_keys: np.ndarray | None = None
        for ti, t in enumerate(terms):
            enc = self._enc_with_positions(t)
            idxs = np.searchsorted(doc_arrays[ti], cand)
            pos, counts = decode_positions_batch(enc.pos_blob, enc.pos_off, idxs)
            ci = np.repeat(np.arange(len(cand), dtype=np.int64), counts)
            adj = pos - offsets[ti]
            valid = adj >= 0
            keys = (ci[valid] << np.int64(32)) | adj[valid].astype(np.int64)
            if base_keys is None:
                base_keys = keys
            else:
                base_keys = np.intersect1d(base_keys, keys, assume_unique=True)
            if base_keys.size == 0:
                return empty
        tfs = np.bincount(base_keys >> np.int64(32), minlength=len(cand))
        keep = tfs > 0
        return cand[keep], tfs[keep].astype(np.int64)

    def _eval_multi_phrase(self, plan: dict) -> tuple[np.ndarray, np.ndarray]:
        """MultiPhraseQuery: per-slot union of group postings + merged
        position sets (UnionPostingsEnum role), then the shared exact /
        sloppy matching."""
        from lucene_solr_spark.codecs.postings_codec import decode_positions_batch
        from lucene_solr_spark.oracle.sloppy import sloppy_phrase_freq

        empty = (np.empty(0, np.int64), np.empty(0, self._out_dtype()))
        groups = plan["groups"]
        offsets = plan["offsets"]
        # per slot: docs array + per-doc merged position lists
        slot_docs: list[np.ndarray] = []
        slot_pos: list[dict[int, np.ndarray]] = []
        for g in groups:
            merged: dict[int, list] = {}
            for t in g:
                d, _tf = self.postings(t)
                if not d.size:
                    continue
                enc = self._enc_with_positions(t)
                pos, counts = decode_positions_batch(
                    enc.pos_blob, enc.pos_off, np.arange(len(d))
                )
                lists = np.split(pos, np.cumsum(counts)[:-1])
                for di, pl in zip(d.tolist(), lists):
                    merged.setdefault(di, []).append(pl)
            if not merged:
                return empty
            slot_docs.append(np.asarray(sorted(merged), np.int64))
            slot_pos.append(
                {
                    di: np.unique(np.concatenate(pls))
                    for di, pls in merged.items()
                }
            )
        cand = slot_docs[0]
        for d in slot_docs[1:]:
            cand = cand[_in_sorted(cand, d)]
            if not cand.size:
                return empty
        slop = plan.get("slop", 0)
        tfs = np.empty(len(cand), np.float64)
        for ci, di in enumerate(cand.tolist()):
            pos_lists = [sp[di] for sp in slot_pos]
            if slop == 0:
                base = pos_lists[0] - offsets[0]
                for i in range(1, len(offsets)):
                    base = np.intersect1d(
                        base, pos_lists[i] - offsets[i], assume_unique=True
                    )
                    if not base.size:
                        break
                tfs[ci] = base.size
            else:
                tfs[ci] = sloppy_phrase_freq(
                    pos_lists, offsets, slop,
                    terms=[frozenset(g) for g in groups],
                )
        keep = tfs > 0
        cand, tfs = cand[keep], tfs[keep]
        if not cand.size:
            return empty
        if slop == 0:
            tfs = tfs.astype(np.int64)
        return cand, self.score_tf_norm(tfs, self.norms_of(cand), plan["weight"])

    def _eval_span_near(self, plan: dict) -> tuple[np.ndarray, np.ndarray]:
        """SpanNearQuery: conjunction approximation over doc arrays, then
        the shared span kernel (oracle.spans) over batch-decoded positions
        — the two-phase pattern of NearSpansOrdered/Unordered."""
        from lucene_solr_spark.codecs.postings_codec import decode_positions_batch
        from lucene_solr_spark.oracle.spans import span_near_freq

        empty = (np.empty(0, np.int64), np.empty(0, self._out_dtype()))
        terms = plan["terms"]
        doc_arrays = []
        for t in terms:
            d, _tf = self.postings(t)
            if not d.size:
                return empty
            doc_arrays.append(d)
        cand = doc_arrays[0]
        for d in doc_arrays[1:]:
            cand = cand[_in_sorted(cand, d)]
            if not cand.size:
                return empty
        pos_per_term = []
        for ti, t in enumerate(terms):
            enc = self._enc_with_positions(t)
            idxs = np.searchsorted(doc_arrays[ti], cand)
            pos, counts = decode_positions_batch(enc.pos_blob, enc.pos_off, idxs)
            pos_per_term.append(np.split(pos, np.cumsum(counts)[:-1]))
        freqs = np.empty(len(cand), np.float64)
        for ci in range(len(cand)):
            freqs[ci] = span_near_freq(
                [pos_per_term[ti][ci] for ti in range(len(terms))],
                plan["slop"],
                plan["in_order"],
            )
        keep = freqs > 0
        cand, freqs = cand[keep], freqs[keep]
        if not cand.size:
            return empty
        return cand, self.score_tf_norm(freqs, self.norms_of(cand), plan["weight"])

    def _eval_span(self, plan: dict) -> tuple[np.ndarray, np.ndarray]:
        """Composite span algebra: candidates from the required-term
        conjunction (or positive-term union for pure ORs), positions
        batch-decoded per term, tree evaluated by oracle.spans.eval_spans
        — same kernel as DFExecutor's span pandas UDF."""
        from lucene_solr_spark.codecs.postings_codec import decode_positions_batch
        from lucene_solr_spark.oracle.spans import eval_spans, spans_freq

        empty = (np.empty(0, np.int64), np.empty(0, self._out_dtype()))
        terms = plan["all_terms"]
        term_docs = {t: self.postings(t)[0] for t in terms}
        required = plan["required"]
        if required:
            cand = term_docs[required[0]]
            for t in required[1:]:
                cand = cand[_in_sorted(cand, term_docs[t])]
                if not cand.size:
                    return empty
        else:
            parts = [term_docs[t] for t in plan["positive"]]
            cand = (
                np.unique(np.concatenate(parts)) if parts else np.empty(0, np.int64)
            )
        if not cand.size:
            return empty
        no_pos = np.empty(0, np.int64)
        pos_per_term: list[list[np.ndarray]] = []
        for t in terms:
            d = term_docs[t]
            full: list[np.ndarray] = [no_pos] * len(cand)
            if d.size:
                present = _in_sorted(cand, d)
                if present.any():
                    enc = self._enc_with_positions(t)
                    idxs = np.searchsorted(d, cand[present])
                    pos, counts = decode_positions_batch(
                        enc.pos_blob, enc.pos_off, idxs
                    )
                    lists = np.split(pos, np.cumsum(counts)[:-1])
                    for slot, pl in zip(np.nonzero(present)[0].tolist(), lists):
                        full[slot] = pl
            pos_per_term.append(full)
        node = ir.span_from_dict(plan["node"])
        freqs = np.empty(len(cand), np.float64)
        for ci in range(len(cand)):
            tp = {t: pos_per_term[ti][ci] for ti, t in enumerate(terms)}
            freqs[ci] = spans_freq(eval_spans(node, tp))
        keep = freqs > 0
        cand, freqs = cand[keep], freqs[keep]
        if not cand.size:
            return empty
        return cand, self.score_tf_norm(freqs, self.norms_of(cand), plan["weight"])

    def _disjunction(self, subs: list[dict]) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        parts = [self.eval(s) for s in subs]
        alldocs = np.concatenate([p[0] for p in parts])
        if not alldocs.size:
            return (
                np.empty(0, np.int64),
                np.empty(0, self._out_dtype()),
                np.empty(0, np.int64),
            )
        docs, inv = np.unique(alldocs, return_inverse=True)
        sums = np.zeros(len(docs))
        np.add.at(sums, inv, np.concatenate([p[1] for p in parts]).astype(np.float64))
        counts = np.zeros(len(docs), np.int64)
        np.add.at(counts, inv, 1)
        return docs, sums.astype(self._out_dtype()), counts

    def _eval_bool(self, plan: dict) -> tuple[np.ndarray, np.ndarray]:
        dt = self._out_dtype()
        req_docs = req_scores = None
        if plan["musts"]:
            m0 = self.eval(plan["musts"][0])
            req_docs = m0[0]
            acc = m0[1].astype(np.float64)
            for sub in plan["musts"][1:]:
                d, s = self.eval(sub)
                keep_a = _in_sorted(req_docs, d)
                req_docs = req_docs[keep_a]
                acc = acc[keep_a]
                keep_b = _in_sorted(d, req_docs)
                acc = acc + s.astype(np.float64)[keep_b]
            req_scores = acc.astype(dt)
        for f in plan["filters"]:
            fd, _ = self.eval(f)
            if req_docs is None:
                req_docs = fd
                req_scores = np.zeros(len(fd), dt)
            else:
                keep = _in_sorted(req_docs, fd)
                req_docs = req_docs[keep]
                req_scores = req_scores[keep]

        opt = None
        if plan["shoulds"]:
            opt = self._disjunction(plan["shoulds"])
        msm = plan["msm"]

        if req_docs is not None:
            out_docs, out_scores = req_docs, req_scores
            if opt is not None:
                od, osc, ocnt = opt
                if msm > 0:
                    ok = ocnt >= msm
                    od, osc = od[ok], osc[ok]
                    keep = _in_sorted(out_docs, od)
                    out_docs = out_docs[keep]
                    base = out_scores[keep].astype(np.float64)
                    add = osc[_in_sorted(od, out_docs)].astype(np.float64)
                    out_scores = (base + add).astype(dt)
                else:
                    pos = np.searchsorted(od, out_docs)
                    has = (pos < len(od)) & (od[np.clip(pos, 0, max(len(od) - 1, 0))] == out_docs) if len(od) else np.zeros(len(out_docs), bool)
                    out_scores = out_scores.copy()
                    if self.mode == "float32":
                        out_scores[has] = (
                            out_scores[has] + osc[pos[has]]
                        ).astype(np.float32)
                    else:
                        out_scores[has] = out_scores[has] + osc[pos[has]]
        else:
            if opt is None:
                return np.empty(0, np.int64), np.empty(0, dt)
            od, osc, ocnt = opt
            ok = ocnt >= max(msm, 1)
            out_docs, out_scores = od[ok], osc[ok]

        for n in plan["nots"]:
            nd, _ = self.eval(n)
            keep = ~_in_sorted(out_docs, nd)
            out_docs = out_docs[keep]
            out_scores = out_scores[keep]
        return out_docs, out_scores

    # --- block-max pruned top-k (term/phrase components, req+opt bool) ---
    def blockmax_topk(self, plan: dict, k: int) -> tuple[np.ndarray, np.ndarray]:
        """Window-batched block-max pruning (WANDScorer/ImpactsDISI +
        Boolean2ScorerSupplier.java:109-151 decision table). Supported
        shapes (caller guarantees via _blockmax_eligible): a single
        term/phrase, or a flat bool whose musts/shoulds are terms and
        phrases (msm==0 when mixed, msm<=1 when should-only; no
        filters/nots).

        Each component (term or phrase) contributes a per-window score
        upper bound; a phrase is bounded by its conjunction approximation
        — min over its terms of the window's block-max factor — which is
        sound because each phrase/sloppy occurrence consumes one
        occurrence of every term, so phrase freq <= min term freq and the
        BM25 factor is monotone in freq (PhraseQuery.java:71 two-phase
        approximation). Required components additionally gate window
        coverage: a window not covered by ALL musts scores 0."""
        empty = (np.empty(0, np.int64), np.empty(0, self._out_dtype()))
        if plan["op"] in ("term", "phrase"):
            req_plans, opt_plans = [plan], []
        else:
            req_plans = list(plan["musts"])
            opt_plans = list(plan["shoulds"])

        # per component: window bound array + coverage over the global grid
        comps: list[dict] = []
        for cp, required in [(p, True) for p in req_plans] + [
            (p, False) for p in opt_plans
        ]:
            terms = [cp["term"]] if cp["op"] == "term" else list(cp["terms"])
            infos = []
            for t in terms:
                enc = self.term_enc.get(t)
                if enc is None:
                    infos = None
                    break
                infos.append((t,) + self._block_bounds(t, enc))
            if infos is None:
                if required:
                    return empty
                continue  # optional component absent from this segment
            comps.append({"plan": cp, "infos": infos, "required": required})
        if not comps:
            return empty

        lo = int(min(i[1][0] for c in comps for i in c["infos"]))
        hi = int(max(i[2][-1] for c in comps for i in c["infos"]))
        n_win = (hi - lo) // _WINDOW + 1
        ub = np.zeros(n_win)
        req_cover = np.zeros(n_win, np.int64)
        n_req = sum(1 for c in comps if c["required"])
        for c in comps:
            w = c["plan"]["weight"]
            comp_g: np.ndarray | None = None  # min over terms of win gmax
            comp_cov: np.ndarray | None = None  # AND over terms of coverage
            for _t, first, last, gmax in c["infos"]:
                w0 = (first - lo) // _WINDOW
                w1 = (last - lo) // _WINDOW
                per_win_max = np.zeros(n_win + 1)
                # a term's bound per window = max over its blocks there
                for a, b_, m in zip(w0.tolist(), w1.tolist(), gmax.tolist()):
                    seg = per_win_max[a : b_ + 1]
                    np.maximum(seg, m, out=seg)
                cover = np.zeros(n_win + 1, np.int64)
                # np.add.at, NOT fancy-index +=: several blocks of one term
                # can start in the same window and += drops the duplicate
                # increments, leaving cumsum<0 and under-counting coverage
                # (required windows would then be zeroed — dropped hits)
                np.add.at(cover, w0, 1)
                np.add.at(cover, w1 + 1, -1)
                cov = np.cumsum(cover[:-1]) > 0
                g = per_win_max[:n_win]
                comp_g = g if comp_g is None else np.minimum(comp_g, g)
                comp_cov = cov if comp_cov is None else (comp_cov & cov)
            # the 1e-6 inflation keeps the bound sound vs float32 rounding;
            # gmax caches per (term, block) across ALL queries (weight-free)
            comp_ub = w * comp_g * (1.0 + 1e-6)
            comp_ub[~comp_cov] = 0.0
            ub += comp_ub
            if c["required"]:
                req_cover += comp_cov
        if n_req:
            ub[req_cover < n_req] = 0.0

        dt = self._out_dtype()
        order = np.argsort(-ub, kind="stable")
        cand_docs: list[np.ndarray] = []
        cand_scores: list[np.ndarray] = []
        theta = -np.inf
        n_cand = 0
        for wi in order.tolist():
            if ub[wi] < theta or ub[wi] <= 0.0:
                break
            w_lo = lo + wi * _WINDOW
            w_hi = w_lo + _WINDOW - 1
            # required components: window conjunction, float64 sum in
            # clause order (bit-parity with _eval_bool's MUST chain)
            docs: np.ndarray | None = None
            sums: np.ndarray | None = None
            dead = False
            for c in comps:
                if not c["required"]:
                    continue
                d, s = self._eval_comp_window(c["plan"], w_lo, w_hi)
                if not d.size:
                    dead = True
                    break
                if docs is None:
                    docs, sums = d, s.astype(np.float64)
                else:
                    keep = _in_sorted(docs, d)
                    docs, sums = docs[keep], sums[keep]
                    if not docs.size:
                        dead = True
                        break
                    sums = sums + s[
                        _in_sorted(d, docs)
                    ].astype(np.float64)
            if dead:
                continue
            # optional components: window disjunction (_disjunction parity)
            parts_d: list[np.ndarray] = []
            parts_s: list[np.ndarray] = []
            for c in comps:
                if c["required"]:
                    continue
                d, s = self._eval_comp_window(c["plan"], w_lo, w_hi)
                if d.size:
                    parts_d.append(d)
                    parts_s.append(s.astype(np.float64))
            if docs is None:
                if not parts_d:
                    continue
                alld = np.concatenate(parts_d)
                od, inv = np.unique(alld, return_inverse=True)
                osums = np.zeros(len(od))
                np.add.at(osums, inv, np.concatenate(parts_s))
                out_docs, out_scores = od, osums.astype(dt)
            else:
                out_docs = docs
                out_scores = sums.astype(dt)
                if parts_d:
                    alld = np.concatenate(parts_d)
                    od, inv = np.unique(alld, return_inverse=True)
                    osums = np.zeros(len(od))
                    np.add.at(osums, inv, np.concatenate(parts_s))
                    osc = osums.astype(dt)
                    pos = np.searchsorted(od, out_docs)
                    has = (pos < len(od)) & (
                        od[np.clip(pos, 0, max(len(od) - 1, 0))] == out_docs
                    )
                    out_scores = out_scores.copy()
                    if self.mode == "float32":
                        out_scores[has] = (
                            out_scores[has] + osc[pos[has]]
                        ).astype(np.float32)
                    else:
                        out_scores[has] = out_scores[has] + osc[pos[has]]
            if not out_docs.size:
                continue
            cand_docs.append(out_docs)
            cand_scores.append(out_scores)
            n_cand += len(out_docs)
            if n_cand >= k:
                allsc = np.concatenate(cand_scores)
                theta = float(np.partition(allsc, -k)[-k])
        if not cand_docs:
            return empty
        return np.concatenate(cand_docs), np.concatenate(cand_scores)

    def _eval_comp_window(
        self, plan: dict, w_lo: int, w_hi: int
    ) -> tuple[np.ndarray, np.ndarray]:
        """Exact (docs, scores) of one term/phrase component restricted to
        a docID window — the per-window scorer of the generalized
        block-max loop. Docs ascending; scores bit-identical to the
        exhaustive evaluator's for the same docs."""
        if plan["op"] == "term":
            d, tf = self.postings(plan["term"])
            a, b_ = np.searchsorted(d, (w_lo, w_hi + 1))
            d = d[a:b_]
            if not d.size:
                return d, np.empty(0, self._out_dtype())
            return d, self.score_tf_norm(
                tf[a:b_], self.norms_of(d), plan["weight"]
            )
        terms = plan["terms"]
        doc_arrays = []
        cand: np.ndarray | None = None
        for t in terms:
            d, _tf = self.postings(t)
            doc_arrays.append(d)
            a, b_ = np.searchsorted(d, (w_lo, w_hi + 1))
            dw = d[a:b_]
            cand = dw if cand is None else cand[_in_sorted(cand, dw)]
            if not cand.size:
                return np.empty(0, np.int64), np.empty(0, self._out_dtype())
        cand, tfs = self._phrase_freqs(
            terms, plan["offsets"], cand, doc_arrays, plan.get("slop", 0)
        )
        if not cand.size:
            return cand, np.empty(0, self._out_dtype())
        return cand, self.score_tf_norm(tfs, self.norms_of(cand), plan["weight"])

    def _block_bounds(self, term: str, enc: EncodedPostings):
        if enc.singleton_doc >= 0:
            first = np.asarray([enc.singleton_doc], np.int64)
            last = first
        else:
            n_blocks = len(enc.block_last)
            first = np.empty(n_blocks, np.int64)
            first[: enc.n_full_blocks] = enc.block_first
            if n_blocks > enc.n_full_blocks:  # tail block
                first[-1] = (
                    enc.block_last[enc.n_full_blocks - 1] + 1
                    if enc.n_full_blocks
                    else 0
                )
            last = enc.block_last
        # weight-free per-block bound factor from the impact frontier
        # (MaxScoreCache.java role): gmax = max over frontier of
        # 1 - 1/(1 + f*inv[n]) in float64, VECTORIZED over all blocks via
        # np.maximum.reduceat on the flattened frontier arrays
        if term not in self._gmax_cache:
            f = np.asarray(enc.imp_freq, np.float64)
            n = np.asarray(enc.imp_norm, np.int64)
            g = 1.0 - 1.0 / (1.0 + f * self.inv_f64[n])
            off = np.asarray(enc.imp_off[:-1], np.int64)
            gmax = np.maximum.reduceat(g, off) if len(g) else np.empty(0)
            self._gmax_cache[term] = gmax
        return first, last, self._gmax_cache[term]



# ---------------------------------------------------------------- searcher
@dataclass
class SegmentSearcher:
    spark: SparkSession
    index: SegmentIndex
    mode: str = "float32"
    k1: float = bm25.K1_DEFAULT
    b: float = bm25.B_DEFAULT
    prune: str = "exhaustive"  # or "block_max"
    #: pluggable similarity (functions.similarities.Similarity): scoring
    #: runs sim.score in the segment tasks; block-max pruning is
    #: disabled (impact bounds encode the BM25 shape) — evaluation is
    #: exhaustive, exactly like the DF executor path
    similarity: object | None = None
    _stats_cache: dict = field(default_factory=dict)
    #: scored multi-term expansions keyed by the frozen query dataclass
    _expand_cache: dict = field(default_factory=dict)

    # --- global stats ---
    def _expand_scored(self, q: ir.Query) -> ir.Query:
        """Pre-compile rewrite of SCORED Prefix/Wildcard/Regexp leaves
        into a SHOULD BooleanQuery of TermQueries against the GLOBAL
        dictionary (SCORING_BOOLEAN_REWRITE / TOP_TERMS variant,
        ``ScoringRewrite.java:67-74``, ``TopTermsRewrite.java:210-213``)
        — the kernel twin of ``DFExecutor._eval_scored_multiterm``.
        Clauses are TERM-SORTED: the kernel's disjunction accumulates
        with ``np.add.at`` in clause-concatenation order, so the per-doc
        double fold matches the DF executor's sorted fold and the SQL
        oracle bit-for-bit. Round 5: scored FuzzyQuery lowers here too —
        to ``ir.BlendedTermQuery`` (the reference rewrite target), whose
        compile branch re-derives the boosted blended-df weights in the
        executor's exact float chain."""
        import dataclasses

        if isinstance(q, ir.FuzzyQuery) and not q.constant_score:
            cached = self._expand_cache.get(q)
            if cached is not None:
                return cached
            from pyspark.sql import functions as F
            from pyspark.sql import types as T

            qterm, me = q.term, int(q.max_edits)
            cond = F.length("term").between(len(qterm) - me, len(qterm) + me)
            if q.prefix_length:
                cond = F.col("term").startswith(qterm[: q.prefix_length]) & cond

            @F.pandas_udf(T.IntegerType())
            def osa_udf(terms: pd.Series) -> pd.Series:
                from lucene_solr_spark.oracle.editdist import osa_batch

                return pd.Series(
                    osa_batch(terms.tolist(), qterm, me), index=terms.index
                )

            b_col = F.when(F.col("_ed") == 0, F.lit(1.0)).otherwise(
                F.lit(1.0)
                - F.col("_ed").cast("double")
                / F.least(F.length("term"), F.lit(len(qterm))).cast("double")
            )
            # same expansion query as DFExecutor._eval_scored_fuzzy: the
            # length-band/prefix predicates push into the term-sorted
            # dictionary scan; ScoreTerm PQ order (boost desc, term asc)
            top = (
                self.index.term_stats(self.spark)
                .filter(cond)
                .select("term", "df")
                .withColumn("_ed", osa_udf(F.col("term")))
                .filter(F.col("_ed") <= me)
                .withColumn("_boost", b_col)
                .orderBy(F.desc("_boost"), F.asc("term"))
                .limit(int(q.max_expansions))
                .collect()
            )
            if not top:
                expanded: ir.Query = ir.MatchNoDocsQuery()
            else:
                pairs = sorted((r["term"], int(r["_ed"])) for r in top)
                expanded = ir.BlendedTermQuery(
                    terms=tuple(t for t, _ in pairs),
                    edits=tuple(e for _, e in pairs),
                    df_blend=max(int(r["df"]) for r in top),
                    query_len=len(qterm),
                )
            self._expand_cache[q] = expanded
            return expanded
        if (
            isinstance(q, (ir.PrefixQuery, ir.WildcardQuery, ir.RegexpQuery))
            and not q.constant_score
        ):
            from lucene_solr_spark.plans.df_executor import multiterm_cond

            cached = self._expand_cache.get(q)
            if cached is not None:
                return cached
            top_n = q.max_expansions
            # TopTermsRewrite.java:66: maxSize = min(size, maxClauseCount)
            cap = (
                ir.MAX_CLAUSE_COUNT
                if top_n is None
                else min(int(top_n), ir.MAX_CLAUSE_COUNT)
            )
            rows = (
                self.index.term_stats(self.spark)
                .filter(multiterm_cond(q))
                .select("term")
                .orderBy("term")
                .limit(cap + 1)
                .collect()
            )
            if len(rows) > cap:
                if top_n is None:
                    raise ir.TooManyClauses(
                        f"scoring rewrite expanded past {ir.MAX_CLAUSE_COUNT} terms"
                    )
                rows = rows[:cap]
            expanded = (
                ir.MatchNoDocsQuery()
                if not rows
                else ir.BooleanQuery(
                    tuple(
                        ir.BooleanClause(ir.Occur.SHOULD, ir.TermQuery(r["term"]))
                        for r in rows
                    )
                )
            )
            # memoized like _stats_cache: repeated identical queries (the
            # head-repetition batch pattern) must not re-pay the driver-side
            # dictionary scan; the frozen query dataclass is the key
            self._expand_cache[q] = expanded
            return expanded
        if isinstance(q, ir.BooleanQuery):
            return dataclasses.replace(
                q,
                clauses=tuple(
                    dataclasses.replace(c, query=self._expand_scored(c.query))
                    for c in q.clauses
                ),
            )
        if isinstance(q, (ir.BoostQuery, ir.ConstantScoreQuery)):
            return dataclasses.replace(q, query=self._expand_scored(q.query))
        if isinstance(q, ir.DisjunctionMaxQuery):
            return dataclasses.replace(
                q, queries=tuple(self._expand_scored(s) for s in q.queries)
            )
        return q

    def _stats(self, terms: set[str]) -> dict[str, tuple[int, int]]:
        missing = sorted(terms - set(self._stats_cache))
        if missing:
            rows = (
                self.index.term_stats(self.spark)
                .filter(F.col("term").isin(missing))
                .collect()
            )
            found = {r["term"]: (int(r["df"]), int(r["ttf"])) for r in rows}
            for t in missing:
                self._stats_cache[t] = found.get(t, (0, 0))
        return self._stats_cache

    # --- public API ---
    def topk(
        self,
        q: ir.Query,
        k: int = 10,
        after: tuple[float, int] | None = None,
    ) -> DataFrame:
        return (
            self.topk_batch({"q": q}, k=k, after=after)
            .select("doc_id", "score")
        )

    def matches(
        self, q: ir.Query, segment_ids: list[int] | None = None
    ) -> DataFrame:
        return self.topk_batch(
            {"q": q}, k=None, segment_ids=segment_ids
        ).select("doc_id", "score")

    def topk_batch(
        self,
        queries: dict[str, ir.Query],
        k: int | None = 10,
        after: tuple[float, int] | None = None,
        segment_ids: list[int] | None = None,
    ) -> DataFrame:
        """Batched search: ONE Spark job scores every query against every
        segment (broadcast plans), then a driver-side window merge — the
        per-query-job latency answer at benchmark scale (SURVEY.md §7.1.6).

        The job is MAP-ONLY: each task pyarrow-reads its own segments'
        files (term predicate pushed to parquet row groups, which are
        term-sorted) — no JVM shuffle at all; the only exchange is the tiny
        per-task top-k. The segments and the tombstone table are those the
        manifest names when this is called."""
        compiled: dict[str, dict] = {}
        all_terms: set[str] = set()
        all_ranges: list[tuple[str | None, str | None]] = []
        prepared = {}
        for qid, q in queries.items():
            q = self._expand_scored(rewrite(q))
            prepared[qid] = q
            all_terms |= _collect_terms(q)
            all_ranges += _collect_ranges(q)
        stats = self._stats(all_terms)
        comp = _Compiler(
            stats,
            self.index.doc_count,
            self.mode,
            self.k1,
            self.b,
            self.index.sum_ttf,
            self.similarity,
        )
        for qid, q in prepared.items():
            compiled[qid] = comp.compile(q)

        # dedupe identical compiled plans across the batch: head queries
        # repeat heavily in real batches (and wikimedium-style benchmark
        # sets), so each distinct plan is evaluated ONCE per segment and
        # its result fanned out to every query id that asked for it.
        # Plans are plain JSON trees, so the canonical dump is a safe key.
        import json as _json

        _groups: dict[str, tuple[dict, list[str]]] = {}
        for qid, plan in compiled.items():
            pk = _json.dumps(plan, sort_keys=True)
            g = _groups.get(pk)
            if g is None:
                _groups[pk] = (plan, [qid])
            else:
                g[1].append(qid)
        plan_groups = list(_groups.values())

        needed_terms = sorted(all_terms)
        # reader pushdown: exact terms as an IN clause, multi-term leaves
        # as (superset) range conjunctions; an unbounded leaf forces a
        # full dictionary read for its segments
        full_scan = any(r == (None, None) for r in all_ranges)
        term_ranges = sorted(
            {r for r in all_ranges if r != (None, None)},
            key=lambda r: (r[0] or "", r[1] or ""),
        )
        if full_scan:
            pq_filters = None
        else:
            pq_filters = []
            if needed_terms:
                pq_filters.append([("term", "in", needed_terms)])
            for lo, hi in term_ranges:
                conj = []
                if lo is not None:
                    conj.append(("term", ">=", lo))
                if hi is not None:
                    conj.append(("term", "<=", hi))
                pq_filters.append(conj)
            if not pq_filters:
                pq_filters = None
        mode = self.mode
        k1, b_ = self.k1, self.b
        avgdl_f32 = bm25.avg_field_length(self.index.sum_ttf, self.index.doc_count)
        cache_f32 = bm25.norm_inverse_cache(k1, b_, avgdl_f32)
        avgdl_f64 = self.index.sum_ttf / float(self.index.doc_count)
        inv_f64 = 1.0 / (
            k1 * ((1.0 - b_) + b_ * bm25.LENGTH_TABLE_F32.astype(np.float64) / avgdl_f64)
        )
        prune = self.prune
        sim = self.similarity
        kk = k
        # searchAfter cursor (IndexSearcher.searchAfter,
        # search/IndexSearcher.java:470): keep docs strictly past
        # (score desc, doc_id asc) — the collector tie-break makes this a
        # total order, so the resume filter is exact. Applies to every
        # query in the batch (single-query paging is the use case).
        after_s = float(after[0]) if after is not None else None
        after_d = int(after[1]) if after is not None else -1
        schema = _RESULT_SCHEMA_F32 if mode == "float32" else _RESULT_SCHEMA_F64

        def eval_plans(
            post_pdf: pd.DataFrame,
            docs_pdf: pd.DataFrame,
            tombs: np.ndarray | None = None,
        ):
            """Evaluate every distinct plan on one segment → list of
            (qids, docs, scores) — numpy in/out, NO intermediate pandas
            (the per-segment frame + groupby was the dominant non-eval
            cost of the batched query job)."""
            if docs_pdf.empty:
                return []
            term_enc = {r.term: _row_to_encoded(r) for r in post_pdf.itertuples()}
            docs_pdf = docs_pdf.sort_values("doc_id")
            ev = _SegmentEval(
                term_enc,
                docs_pdf["doc_id"].to_numpy(np.int64),
                docs_pdf["norm"].to_numpy(np.int64),
                mode,
                cache_f32,
                inv_f64,
                sim,
            )
            has_live_mask = tombs is not None and tombs.size > 0
            seg_docs_arr = ev.seg_docs
            # a segment whose doc range fits ONE pruning window gains
            # nothing from block-max (the window IS the segment) — the
            # exhaustive evaluator with its cross-query term-score memo
            # is strictly cheaper there
            multi_window = (
                len(seg_docs_arr) > 0
                and (int(seg_docs_arr[-1]) - int(seg_docs_arr[0])) >= _WINDOW
            )
            out = []
            for plan, qids in plan_groups:
                if (
                    kk is not None
                    and prune == "block_max"
                    and multi_window
                    and sim is None
                    and _blockmax_eligible(plan)
                    # a tombstoned segment runs exhaustive: blockmax
                    # returns exactly k candidates, and masking a deleted
                    # doc OUT of those k would under-return live hits
                    # (same reason a searchAfter cursor runs exhaustive)
                    and not has_live_mask
                    and after_s is None
                ):
                    docs, scores = ev.blockmax_topk(plan, kk)
                else:
                    docs, scores = ev.eval(plan)
                if tombs is not None and tombs.size and docs.size:
                    # liveDocs mask (Lucene90LiveDocsFormat role): deleted
                    # docs never surface, BEFORE top-k truncation; stats
                    # stay un-adjusted until a merge purges (Lucene parity)
                    idx = np.searchsorted(tombs, docs)
                    idxc = np.clip(idx, 0, len(tombs) - 1)
                    keep = tombs[idxc] != docs
                    docs, scores = docs[keep], scores[keep]
                if after_s is not None and docs.size:
                    keep = (scores < after_s) | (
                        (scores == after_s) & (docs > after_d)
                    )
                    docs, scores = docs[keep], scores[keep]
                if kk is not None and len(docs) > kk:
                    # per-segment top-k (TopScoreDocCollector heap role)
                    order = np.lexsort((docs, -scores.astype(np.float64)))[:kk]
                    docs, scores = docs[order], scores[order]
                if docs.size:
                    out.append((qids, docs, scores))
            return out

        base = self.index.base
        manifest = self.index.manifest()
        tomb_path = table_path(base, manifest, "tombstones")
        seg_ids = [s["segment_id"] for s in manifest["segments"]]
        if segment_ids is not None:
            # caller-restricted scan (sorted-index early termination
            # reads a doc-order PREFIX of segments)
            allowed = {int(s) for s in segment_ids}
            seg_ids = [s for s in seg_ids if int(s) in allowed]

        def direct_kernel(iterator):
            import pyarrow.parquet as pq

            # evaluate every segment in this task, then merge top-k
            # ACROSS the task's segments per query before emitting —
            # a two-level TopDocs.merge that cuts the final exchange
            # by the segments-per-task factor
            acc_d: dict[str, list[np.ndarray]] = {}
            acc_s: dict[str, list[np.ndarray]] = {}
            for pdf in iterator:
                for sid in pdf["segment_id"].tolist():
                    post_tbl = pq.read_table(
                        f"{base}/segments/segment_id={sid}",
                        filters=pq_filters,
                    )
                    docs_tbl = pq.read_table(
                        f"{base}/seg_docs/segment_id={sid}",
                        columns=["doc_id", "norm"],
                    )
                    tombs = None
                    if tomb_path is not None and docs_tbl.num_rows:
                        # per-segment range read: each task touches
                        # only its own doc-range's tombstone row groups
                        import pyarrow.compute as _pc

                        lo = _pc.min(docs_tbl["doc_id"]).as_py()
                        hi = _pc.max(docs_tbl["doc_id"]).as_py()
                        tombs = np.sort(
                            pq.read_table(
                                tomb_path,
                                columns=["doc_id"],
                                filters=[
                                    ("doc_id", ">=", lo),
                                    ("doc_id", "<=", hi),
                                ],
                            )["doc_id"]
                            .to_numpy(zero_copy_only=False)
                            .astype(np.int64)
                        )
                    for qids, docs, scores in eval_plans(
                        post_tbl.to_pandas(), docs_tbl.to_pandas(), tombs
                    ):
                        for qid in qids:
                            acc_d.setdefault(qid, []).append(docs)
                            acc_s.setdefault(qid, []).append(scores)
            out_q: list[str] = []
            out_d: list[np.ndarray] = []
            out_s: list[np.ndarray] = []
            for qid, dl in acc_d.items():
                docs = np.concatenate(dl)
                scores = np.concatenate(acc_s[qid])
                if kk is not None and len(docs) > kk:
                    order = np.lexsort((docs, -scores.astype(np.float64)))[:kk]
                    docs, scores = docs[order], scores[order]
                out_q.append(qid)
                out_d.append(docs)
                out_s.append(scores)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(out_q, [len(d) for d in out_d])
                    if out_q
                    else [],
                    "doc_id": np.concatenate(out_d) if out_d else [],
                    "score": np.concatenate(out_s) if out_s else [],
                }
            )

        # 2 segments per task: halves per-task fixed cost and the
        # final exchange, independent of cluster size (fair at any
        # parallelism; still >= cores tasks for realistic indexes)
        n_parts = max(1, (len(seg_ids) + 1) // 2)
        ids_df = self.spark.createDataFrame(
            [(int(s),) for s in seg_ids], "segment_id long"
        ).repartition(n_parts, "segment_id")
        res = ids_df.mapInPandas(direct_kernel, schema=schema)
        if k is None:
            return res
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            res.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .drop("_rn")
        )


def _in_sorted(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Membership mask of ``a`` in ``b`` for ASCENDING unique int arrays —
    the np.isin contract the evaluator needs, minus np.isin's re-sort
    (every doc array here is already sorted, so searchsorted is the
    leapfrog-intersection cost model: O(|a| log |b|), no allocation-heavy
    sort). The kernel's hottest small-array primitive."""
    if not len(b) or not len(a):
        return np.zeros(len(a), bool)
    idx = np.searchsorted(b, a)
    np.minimum(idx, len(b) - 1, out=idx)
    return b[idx] == a


def _blockmax_leaf(plan: dict) -> bool:
    """Leaves the pruned kernel can bound: terms, and (sloppy) phrases —
    a phrase occurrence consumes one occurrence of each term so its freq
    is <= min term freq and the term block-max bounds apply. Spans and
    multi-phrases are NOT boundable this way (unordered span freq can
    exceed min term freq; a multi-phrase slot's freq is the SUM over the
    group's terms), so they stay exhaustive."""
    return plan["op"] in ("term", "phrase")


def _blockmax_eligible(plan: dict) -> bool:
    """Boolean2ScorerSupplier.java:109-151 decision table, pruned subset:
    single term/phrase, MUST-only, SHOULD-only (msm<=1), and mixed
    MUST+SHOULD (ReqOptSum, msm==0). Filters/nots/msm>1 stay exhaustive."""
    if _blockmax_leaf(plan):
        return True
    if plan["op"] != "bool":
        return False
    if plan["filters"] or plan["nots"] or plan["msm"] > 1:
        return False
    if not all(_blockmax_leaf(s) for s in plan["musts"] + plan["shoulds"]):
        return False
    if plan["musts"] and plan["shoulds"]:
        return plan["msm"] == 0
    return bool(plan["musts"] or plan["shoulds"])
