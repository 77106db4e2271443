"""Segment layer + kernel searcher tests.

(a) rank identity: SegmentSearcher (float32) vs the single-node oracle —
    exact (doc_id, float32 bits) top-k equality;
(b) block-max window selection ≡ exhaustive evaluation (pruning must
    never change results — the WANDScorer soundness contract): searches
    on an index whose segments span several 2048-doc windows rank exactly
    as the oracle, fresh, after deletes and on a searchAfter page, and
    Spark-free checks pin the selector against ``_SegmentEval.eval``;
(c) segment build determinism / manifest lineage / resume idempotency.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from lucene_solr_spark.codecs.postings_codec import encode_positions, encode_postings
from lucene_solr_spark.operators import topk as topk_mod
from lucene_solr_spark.operators.index_build import build_index
from lucene_solr_spark.operators.segments import SegmentIndex, build_segments
from lucene_solr_spark.operators.topk import SegmentSearcher, _SegmentEval
from lucene_solr_spark.oracle import bm25, smallfloat
from lucene_solr_spark.plans import ir
from lucene_solr_spark.sources.corpus import corpus_to_spark

T = ir.TermQuery
C = ir.BooleanClause
O = ir.Occur


def B(*cs, msm=0):
    return ir.BooleanQuery(tuple(cs), msm)


def bits(x) -> int:
    return struct.unpack("<I", struct.pack("<f", float(x)))[0]


KERNEL_QUERIES = {
    "term_head": T("def"),
    "term_mid": T("error"),
    "term_tail": T("obj.method2"),
    "and2": B(C(O.MUST, T("import")), C(O.MUST, T("return"))),
    "and3": B(C(O.MUST, T("def")), C(O.MUST, T("class")), C(O.MUST, T("data"))),
    "or2": B(C(O.SHOULD, T("error")), C(O.SHOULD, T("warning"))),
    "or3": B(
        C(O.SHOULD, T("merge")), C(O.SHOULD, T("segment")), C(O.SHOULD, T("posting"))
    ),
    "must_not": B(C(O.MUST, T("def")), C(O.MUST_NOT, T("class"))),
    "filter": B(C(O.MUST, T("def")), C(O.FILTER, T("import"))),
    "req_opt": B(C(O.MUST, T("def")), C(O.SHOULD, T("error"))),
    "msm2": B(
        C(O.SHOULD, T("error")),
        C(O.SHOULD, T("warning")),
        C(O.SHOULD, T("fixme")),
        msm=2,
    ),
    "boost": B(
        C(O.SHOULD, ir.BoostQuery(T("error"), 2.0)), C(O.SHOULD, T("warning"))
    ),
    "dismax": ir.DisjunctionMaxQuery((T("error"), T("warning")), tie_breaker=0.3),
    "synonym": ir.SynonymQuery(("error", "warning")),
    "prefix": ir.PrefixQuery("ret"),
    "range": ir.TermRangeQuery("merge", "query"),
    "wildcard": ir.WildcardQuery("s?an*"),
    "regexp": ir.RegexpQuery("s.an.*"),
    "fuzzy": ir.FuzzyQuery("scon", max_edits=1),
    # > 1024 matching terms: the kernel must evaluate this per segment
    # (dict_pred) — there is no driver-side term collection to overflow
    "wide_range": ir.TermRangeQuery("0", "zzzz"),
    "term_in_set": ir.TermInSetQuery(("merge", "segment", "posting")),
    "const_score": ir.ConstantScoreQuery(
        B(C(O.MUST, T("def")), C(O.MUST, T("class")))
    ),
    "match_all": ir.MatchAllDocsQuery(),
    "phrase2": ir.PhraseQuery(("x", "y")),
    "phrase3": ir.PhraseQuery(("def", "foo")),
    "sloppy2": ir.PhraseQuery(("x", "y"), slop=2),
    "phrase_and_term": B(
        C(O.MUST, ir.PhraseQuery(("x", "y"))), C(O.MUST, T("def"))
    ),
    "phrase_or_term": B(
        C(O.SHOULD, ir.PhraseQuery(("table", "scan"))), C(O.SHOULD, T("merge"))
    ),
    "req_opt_phrase": B(
        C(O.MUST, T("def")), C(O.SHOULD, ir.PhraseQuery(("x", "y"), slop=1))
    ),
    "nested": B(
        C(O.MUST, B(C(O.SHOULD, T("error")), C(O.SHOULD, T("warning")))),
        C(O.MUST, T("def")),
    ),
}


@pytest.fixture(scope="module")
def seg_base(spark, tmp_path_factory):
    corpus = corpus_to_spark(spark, 100, seed=42, num_partitions=5)
    ix = build_index(corpus).persist()
    base = str(tmp_path_factory.mktemp("segix"))
    # small segment_size so the tiny corpus spans multiple segments
    build_segments(ix, base, segment_size=16)
    return base


@pytest.fixture(scope="module")
def searcher(spark, seg_base):
    return SegmentSearcher(spark, SegmentIndex.open(seg_base), mode="float32")


@pytest.mark.parametrize("name", sorted(KERNEL_QUERIES))
def test_kernel_rank_identity(name, searcher, tiny_oracle):
    q = KERNEL_QUERIES[name]
    expected = tiny_oracle.search(q, k=10)
    got = [
        (r["doc_id"], r["score"])
        for r in searcher.topk(q, k=10).collect()
    ]
    exp = [(sd.doc_id, bits(sd.score)) for sd in expected]
    assert [(d, bits(s)) for d, s in got] == exp, f"{name}: {got} != {expected}"


#: shapes the window selector bounds (Boolean2ScorerSupplier table):
#: terms and phrases as components, MUST-only, SHOULD-only, req+opt, and
#: FILTER / MUST_NOT / msm=2, which add no score but narrow the matches
BLOCKMAX_SHAPES = [
    "term_head", "term_mid", "and2", "and3", "or2", "or3",
    "phrase2", "phrase3", "sloppy2", "req_opt",
    "phrase_and_term", "phrase_or_term", "req_opt_phrase", "boost",
    "filter", "must_not", "msm2",
]


@pytest.fixture(scope="module")
def mw_searcher(spark, multiwindow_base):
    return SegmentSearcher(spark, SegmentIndex.open(multiwindow_base), mode="float32")


@pytest.mark.parametrize("name", BLOCKMAX_SHAPES)
def test_blockmax_equals_exhaustive(name, mw_searcher, multiwindow_oracle):
    """On segments that span several windows, the pruned search returns
    the oracle's exhaustive top-10: the same ids and float32 bits."""
    q = KERNEL_QUERIES[name]
    got = [(r["doc_id"], bits(r["score"])) for r in mw_searcher.topk(q, k=10).collect()]
    exp = [(sd.doc_id, bits(sd.score)) for sd in multiwindow_oracle.search(q, k=10)]
    assert got == exp
    assert len(got) == 10


@pytest.mark.parametrize(
    "name", ["term_head", "and2", "or3", "req_opt", "sloppy2", "filter", "msm2"]
)
def test_blockmax_search_after_page2(name, mw_searcher, multiwindow_oracle):
    """Page 2 of a searchAfter cursor on a multi-window index: docs at or
    before the cursor never hold a top-k slot, so the page is full and
    equals the oracle's ranks 11-20."""
    q = KERNEL_QUERIES[name]
    exp = [(sd.doc_id, bits(sd.score)) for sd in multiwindow_oracle.search(q, k=20)]
    last = multiwindow_oracle.search(q, k=10)[-1]
    page2 = mw_searcher.topk(q, k=10, after=(float(last.score), last.doc_id))
    got = [(r["doc_id"], bits(r["score"])) for r in page2.collect()]
    assert got == exp[10:20]
    assert len(got) == 10


def test_blockmax_multiwindow_coverage_regression():
    """Regression (ADVICE r1, high): window coverage used ``cover[w0] += 1``,
    which drops duplicate increments when several 128-posting blocks of one
    term start in the same 2048-doc window (any term denser than ~1 posting
    per 16 docs). The cumsum then went negative, ``touched`` under-counted,
    and conjunction mode zeroed windows that every MUST term does cover —
    silently dropping valid hits. This builds exactly that layout (dense
    term: 8 block-starts per window over a 4-window segment) and asserts
    block-max == exhaustive, including hits in the later windows."""
    n_docs = 8192  # 4 windows of 2048
    seg_docs = np.arange(n_docs, dtype=np.int64)
    norm_byte = smallfloat.int_to_byte4(7)
    seg_norms = np.full(n_docs, norm_byte, np.int64)

    # dense term: every 2nd doc -> 4096 postings = 32 full blocks, each
    # spanning 256 docIDs -> 8 blocks START in each 2048-doc window
    a_docs = np.arange(0, n_docs, 2, dtype=np.int64)
    # sparse term with hits in windows 0..3 (all even => all intersect a)
    b_docs = np.asarray([100, 3000, 4098, 7000], np.int64)
    enc = {
        "a": encode_postings(
            a_docs, np.ones(len(a_docs), np.int64), seg_norms[a_docs]
        ),
        "b": encode_postings(
            b_docs, np.ones(len(b_docs), np.int64), seg_norms[b_docs]
        ),
    }
    avgdl = np.float32(7.0)
    cache_f32 = bm25.norm_inverse_cache(1.2, 0.75, avgdl)
    inv_f64 = 1.0 / (
        1.2 * (0.25 + 0.75 * bm25.LENGTH_TABLE_F32.astype(np.float64) / 7.0)
    )
    ev = _SegmentEval(enc, seg_docs, seg_norms, "float32", cache_f32, inv_f64)
    wa = float(bm25.term_weight(1.0, bm25.idf(len(a_docs), n_docs)))
    wb = float(bm25.term_weight(1.0, bm25.idf(len(b_docs), n_docs)))
    sub_a = {"op": "term", "term": "a", "weight": wa}
    sub_b = {"op": "term", "term": "b", "weight": wb}

    def topk(docs, scores, k=10):
        order = np.lexsort((docs, -scores.astype(np.float64)))[:k]
        return [(int(d), bits(s)) for d, s in zip(docs[order], scores[order])]

    for musts, shoulds in [
        ([sub_a, sub_b], []),  # conj: the hit-dropping shape
        ([], [sub_a, sub_b]),  # disjunction: bound under-count shape
    ]:
        plan = {
            "op": "bool",
            "musts": musts,
            "filters": [],
            "shoulds": shoulds,
            "nots": [],
            "msm": 0,
        }
        exhaustive = topk(*ev.eval(plan))
        pruned = topk(*_fresh(ev).top_hits(plan, 10, lambda d, s: (d, s)))
        assert pruned == exhaustive
        assert len(exhaustive) > 0
    # the conjunction has exactly the 4 sparse-term docs as hits
    d, _ = ev.eval(
        {
            "op": "bool",
            "musts": [sub_a, sub_b],
            "filters": [],
            "shoulds": [],
            "nots": [],
            "msm": 0,
        }
    )
    assert d.tolist() == b_docs.tolist()


_AVGDL = 40.0


def _eval_over(seg_docs, seg_norms, postings, mode="float32"):
    """``_SegmentEval`` over synthetic ``{term: (docs, tfs, positions)}``."""
    enc = {}
    for t, (docs, tfs, pos) in postings.items():
        e = encode_postings(docs, tfs, seg_norms[np.searchsorted(seg_docs, docs)])
        e.pos_blob, e.pos_off = encode_positions(pos)
        enc[t] = e
    cache_f32 = bm25.norm_inverse_cache(1.2, 0.75, np.float32(_AVGDL))
    inv_f64 = 1.0 / (
        1.2 * (0.25 + 0.75 * bm25.LENGTH_TABLE_F32.astype(np.float64) / _AVGDL)
    )
    return _SegmentEval(enc, seg_docs, seg_norms, mode, cache_f32, inv_f64)


def _fresh(ev):
    """A new evaluator over ``ev``'s segment with empty memos: the window
    selector runs only on plans whose blocks are not all decoded yet."""
    return _SegmentEval(
        ev.term_enc, ev.seg_docs, ev.seg_norms, ev.mode, ev.cache_f32, ev.inv_f64
    )


def _top(docs, scores, k):
    order = np.lexsort((docs, -scores.astype(np.float64)))[:k]
    return [(int(d), s.tobytes()) for d, s in zip(docs[order], scores[order])]


def _term(ev, t):
    n = len(ev.seg_docs)
    return {
        "op": "term",
        "term": t,
        "weight": float(bm25.term_weight(1.0, bm25.idf(ev.term_enc[t].df, n))),
    }


def _bool(musts=(), shoulds=(), filters=(), nots=(), msm=0):
    return {
        "op": "bool",
        "musts": list(musts),
        "filters": list(filters),
        "shoulds": list(shoulds),
        "nots": list(nots),
        "msm": msm,
    }


def _phrase(ev, a, b, slop=0):
    w = _term(ev, a)["weight"] + _term(ev, b)["weight"]
    return {
        "op": "phrase",
        "terms": [a, b],
        "offsets": [0, 1],
        "slop": slop,
        "weight": w,
    }


def test_tail_block_window_grid_high_base(monkeypatch):
    """A segment whose doc ids start at 64 × 65536 gets a window grid over
    its own 32 windows. A term with no full block (under 128 postings)
    bounds its tail block from the segment's first doc: starting it at
    doc 0 grew the grid with the doc-id base (2080 windows here). The
    selector still returns the exhaustive top-k, and on a term whose
    block maxima differ it evaluates only the windows that can win."""
    base = 64 * 65536
    seg_docs = base + np.arange(0, 32 * 2048, 4, dtype=np.int64)
    seg_norms = np.full(len(seg_docs), smallfloat.int_to_byte4(40), np.int64)
    rng = np.random.default_rng(7)

    def postings(docs, tfs):
        return docs, tfs, [np.arange(tf, dtype=np.int64) for tf in tfs.tolist()]

    h = seg_docs[::2]  # two full blocks per window; tf 8 in windows 3, 17
    h_tf = np.where(np.isin((h - base) // 2048, [3, 17]), 8, 1)
    s = np.sort(rng.choice(seg_docs, 100, replace=False))
    t = np.sort(rng.choice(seg_docs, 60, replace=False))
    ev = _eval_over(
        seg_docs,
        seg_norms,
        {
            "h": postings(h, h_tf),
            "s": postings(s, rng.integers(1, 4, len(s))),
            "t": postings(t, rng.integers(1, 4, len(t))),
        },
    )
    for enc in ev.term_enc.values():
        assert ev._block_range(enc)[0].min() >= base
    assert ev.term_enc["s"].n_full_blocks == 0

    evaluated: list[int] = []

    class RecordingView(topk_mod._WindowView):
        def __init__(self, ev, windows):
            evaluated.extend(np.asarray(windows).tolist())
            super().__init__(ev, windows)

    monkeypatch.setattr(topk_mod, "_WindowView", RecordingView)
    plans = {
        "h": _term(ev, "h"),
        "s": _term(ev, "s"),
        "s_or_t": _bool(shoulds=[_term(ev, "s"), _term(ev, "t")]),
        "h_and_s": _bool(musts=[_term(ev, "h"), _term(ev, "s")]),
    }
    for name, plan in plans.items():
        evaluated.clear()
        assert len(ev.window_ub(plan)) == 32, name
        got = _top(*_fresh(ev).top_hits(plan, 10, lambda d, s: (d, s)), 10)
        assert got == _top(*ev.eval(plan), 10), name
        assert len(got) == 10 and evaluated, name
    evaluated.clear()
    _fresh(ev).top_hits(plans["h"], 10, lambda d, s: (d, s))
    assert sorted(evaluated) == [3, 17]


@st.composite
def _selector_cases(draw):
    """A random multi-window segment with positions, a plan, tombstones,
    a searchAfter cursor, k and a scoring mode."""
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    base = draw(st.sampled_from([0, 3000, 64 * 65536]))
    n_win = draw(st.integers(3, 8))
    seg_docs = base + np.flatnonzero(
        rng.random(n_win * 2048) < draw(st.sampled_from([0.25, 0.5, 1.0]))
    )
    # windows differ in doc lengths and tf caps, so block maxima differ
    # and the selector has windows to skip
    win = (seg_docs - base) // 2048
    seg_norms = rng.choice([10, 40, 70, 110], n_win)[win]
    seg_norms += rng.integers(0, 10, len(win))
    tf_cap = rng.choice([1, 2, 4, 8], n_win)
    postings = {}
    for t in "abcd":
        p = draw(st.sampled_from([0.002, 0.02, 0.1, 0.3, 0.6]))
        sel = rng.random(len(seg_docs)) < p
        if not sel.any():
            sel[0] = True
        docs = seg_docs[sel]
        tfs = rng.integers(0, tf_cap[win[sel]]) + 1
        pos = [np.sort(rng.choice(12, tf, replace=False)) for tf in tfs.tolist()]
        postings[t] = (docs, tfs, pos)
    mode = draw(st.sampled_from(["float32", "double"]))
    ev = _eval_over(seg_docs, seg_norms, postings, mode)
    a, b, c, d = draw(st.permutations("abcd"))
    T = lambda t: _term(ev, t)  # noqa: E731
    shapes = {
        "term": T(a),
        "and": _bool(musts=[T(a), T(b)]),
        "or": _bool(shoulds=[T(a), T(b), T(c)]),
        "req_opt": _bool(musts=[T(a)], shoulds=[T(b)]),
        "phrase": _phrase(ev, a, b),
        "sloppy": _phrase(ev, a, b, slop=2),
        "filter": _bool(musts=[T(a)], filters=[T(b)]),
        "must_not": _bool(musts=[T(a)], nots=[T(b), _phrase(ev, c, d)]),
        "msm2": _bool(shoulds=[T(a), T(b), T(c)], msm=2),
        "nested": _bool(musts=[_bool(shoulds=[T(b), T(c)]), T(a)], shoulds=[T(d)]),
        "phrase_req_opt": _bool(musts=[_phrase(ev, a, b, slop=1)], shoulds=[T(c)]),
        # FILTER / MUST_NOT clauses the selector cannot bound gate
        # nothing, and run as they are on each window view
        "filter_prefix": _bool(
            shoulds=[T(a), T(c)],
            filters=[{"op": "dict_pred", "score": 1.0, "kind": "prefix", "prefix": b}],
        ),
        "filter_spans": _bool(
            musts=[T(a)],
            filters=[
                {
                    "op": "span_near",
                    "terms": [a, b],
                    "slop": 1,
                    "in_order": True,
                    "weight": 1.0,
                }
            ],
            nots=[
                {
                    "op": "multi_phrase",
                    "groups": [[c, d], [a]],
                    "offsets": [0, 1],
                    "slop": 0,
                    "weight": 1.0,
                }
            ],
        ),
        # an unbounded scoring clause: the segment is evaluated whole
        "unbounded": _bool(shoulds=[T(a), {"op": "const", "sub": T(b), "score": 1.0}]),
    }
    plan = shapes[draw(st.sampled_from(sorted(shapes)))]
    n_dead = int(len(seg_docs) * draw(st.sampled_from([0, 0.1, 0.5])))
    tombs = np.sort(rng.choice(seg_docs, n_dead, replace=False))
    # the cursor is a live hit at a drawn rank, when there is one
    docs, scores = ev.eval(plan)
    live = ~np.isin(docs, tombs)
    docs, scores = docs[live], scores[live]
    order = np.lexsort((docs, -scores.astype(np.float64)))
    rank = draw(st.one_of(st.none(), st.integers(0, 40)))
    after = None
    if rank is not None and rank < len(order):
        after = (scores[order[rank]], int(docs[order[rank]]))
    return ev, plan, tombs, after, draw(st.integers(1, 25))


@settings(max_examples=100, deadline=None)
@given(_selector_cases())
def test_window_selector_matches_exhaustive(case):
    """The block-max window selector returns exactly the top-k of
    ``accept(ev.eval(plan))`` — the same ids and score bits — over random
    multi-window segments, plan shapes, tombstone sets and cursors."""
    ev, plan, tombs, after, k = case

    def accept(docs, scores):
        keep = ~np.isin(docs, tombs)
        if after is not None:
            keep &= (scores < after[0]) | ((scores == after[0]) & (docs > after[1]))
        return docs[keep], scores[keep]

    got = _top(*_fresh(ev).top_hits(plan, k, accept), k)
    assert got == _top(*accept(*ev.eval(plan)), k)


def test_selector_shares_decoded_blocks(monkeypatch):
    """Window batches and queries that share a term share its decoded
    blocks: over a batch of plans on one evaluator, no block is decoded
    twice. A plan whose blocks the memo already holds, and a segment of
    two windows, run whole, with no window view."""
    seg_docs = np.arange(0, 12 * 2048, 2, dtype=np.int64)
    seg_norms = np.full(len(seg_docs), smallfloat.int_to_byte4(40), np.int64)
    rng = np.random.default_rng(3)

    def postings(docs, tfs):
        return docs, tfs, [np.arange(tf, dtype=np.int64) for tf in tfs.tolist()]

    h = seg_docs[::3]
    h_tf = np.where(np.isin(h // 2048, [2, 9]), 8, 1)
    s = np.sort(rng.choice(seg_docs, 900, replace=False))
    ev = _eval_over(
        seg_docs,
        seg_norms,
        {"h": postings(h, h_tf), "s": postings(s, rng.integers(1, 4, len(s)))},
    )
    plans = [
        _term(ev, "h"),
        _bool(musts=[_term(ev, "h"), _term(ev, "s")]),
        _bool(shoulds=[_term(ev, "s"), _term(ev, "h")]),
        _phrase(ev, "s", "h", slop=1),
        _term(ev, "s"),
    ]
    want = [_top(*_fresh(ev).eval(plan), 10) for plan in plans]
    decoded: list[tuple[int, int]] = []
    real_decode = topk_mod.decode_blocks

    def recording_decode(enc, block_ids=None):
        ids = range(len(enc.block_last)) if block_ids is None else block_ids
        decoded.extend((id(enc), int(b)) for b in ids)
        return real_decode(enc, block_ids)

    views: list[int] = []

    class RecordingView(topk_mod._WindowView):
        def __init__(self, ev, windows):
            views.append(len(windows))
            super().__init__(ev, windows)

    monkeypatch.setattr(topk_mod, "decode_blocks", recording_decode)
    monkeypatch.setattr(topk_mod, "_WindowView", RecordingView)
    for plan, top in zip(plans, want):
        assert _top(*ev.top_hits(plan, 10, lambda d, s: (d, s)), 10) == top
    assert views, "the selector never ran"
    assert len(decoded) == len(set(decoded)), "a block was decoded twice"

    ev.eval(plans[1])  # the memo now holds every block of h and s
    views.clear()
    for plan, top in zip(plans, want):
        assert _top(*ev.top_hits(plan, 10, lambda d, s: (d, s)), 10) == top
    assert not views

    two = _eval_over(
        seg_docs[seg_docs < 2 * 2048],
        seg_norms[seg_docs < 2 * 2048],
        {"h": postings(h[h < 2 * 2048], h_tf[h < 2 * 2048])},
    )
    assert two.n_win == 2
    got = _top(*two.top_hits(_term(two, "h"), 10, lambda d, s: (d, s)), 10)
    assert got == _top(*_fresh(two).eval(_term(two, "h")), 10)
    assert not views


def test_batched_queries_one_job(searcher, tiny_oracle):
    res = searcher.topk_batch(
        {name: q for name, q in list(KERNEL_QUERIES.items())[:6]}, k=10
    )
    rows = res.collect()
    by_q: dict[str, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], bits(r["score"])))
    for name in list(KERNEL_QUERIES)[:6]:
        expected = [
            (sd.doc_id, bits(sd.score))
            for sd in tiny_oracle.search(KERNEL_QUERIES[name], k=10)
        ]
        assert by_q.get(name, []) == expected, name


def test_manifest_lineage(seg_base):
    six = SegmentIndex.open(seg_base)
    m = six.manifest()
    assert m["doc_count"] == 100
    segs = m["segments"]
    assert len(segs) == 100 // 16 + 1
    assert sum(s["n_docs"] for s in segs) == 100
    for s in segs:
        assert s["min_doc"] >= s["segment_id"] * m["segment_size"]
        assert s["max_doc"] < (s["segment_id"] + 1) * m["segment_size"]
        assert s["n_postings"] > 0 and s["content_crc"] != 0


def test_rebuild_is_deterministic(spark, seg_base, tmp_path_factory):
    """Same input → identical manifest (the idempotency/resume invariant)."""
    corpus = corpus_to_spark(spark, 100, seed=42, num_partitions=3)
    ix = build_index(corpus).persist()
    base2 = str(tmp_path_factory.mktemp("segix2"))
    build_segments(ix, base2, segment_size=16)
    m1 = SegmentIndex.open(seg_base).manifest()
    m2 = SegmentIndex.open(base2).manifest()
    assert m1["manifest_sha256"] == m2["manifest_sha256"]


def test_resume_skips_done_segments(spark, seg_base, tmp_path_factory):
    """resume=True with a complete manifest rewrites nothing and leaves the
    manifest hash unchanged."""
    corpus = corpus_to_spark(spark, 100, seed=42, num_partitions=3)
    ix = build_index(corpus).persist()
    before = SegmentIndex.open(seg_base).manifest()["manifest_sha256"]
    build_segments(ix, seg_base, segment_size=16, resume=True)
    after = SegmentIndex.open(seg_base).manifest()["manifest_sha256"]
    assert before == after
