"""Tombstone deletes — the live-docs role (operators/deletes.py).

Covers the Lucene delete lifecycle re-expressed for doc-range segments:
mask at search time with UNCHANGED stats (liveDocs check,
``codecs/lucene90/Lucene90LiveDocsFormat.java``), purge at merge time
with shrunk stats (DocIDMerger skips deleted docs,
``index/SegmentMerger.java``), and the never-reuse-docIDs watermark for
NRT appends (``index/IndexWriter.deleteDocuments``).
"""

from __future__ import annotations

import os
import shutil
import struct

import pytest

from lucene_solr_spark.operators.deletes import (
    delete_by_ids,
    delete_by_query,
    read_tombstones,
)
from lucene_solr_spark.operators.index_build import build_index
from lucene_solr_spark.operators.merge_policy import merge_segments
from lucene_solr_spark.operators.segments import SegmentIndex, build_segments
from lucene_solr_spark.operators.topk import SegmentSearcher
from lucene_solr_spark.plans import ir
from lucene_solr_spark.sources.corpus import corpus_to_spark, make_corpus_rows

T = ir.TermQuery


def bits(x) -> int:
    return struct.unpack("<I", struct.pack("<f", float(x)))[0]


@pytest.fixture(scope="module")
def pristine_base(spark, tmp_path_factory):
    """100-doc index in 13 small segments; never mutated — tests copy it."""
    corpus = corpus_to_spark(spark, 100, seed=42, num_partitions=4)
    ix = build_index(corpus).persist()
    base = str(tmp_path_factory.mktemp("delix"))
    build_segments(ix, base, segment_size=8)
    return base


@pytest.fixture()
def base(pristine_base, tmp_path):
    """Fresh mutable copy per test (deletes/merges mutate the dir)."""
    dst = str(tmp_path / "ix")
    shutil.copytree(pristine_base, dst)
    return dst


def _ranking(searcher, q, k=100):
    return [
        (r["doc_id"], bits(r["score"]))
        for r in searcher.topk(q, k=k).collect()
    ]


def test_delete_masks_hits_and_preserves_scores(spark, base):
    """Deleted docs vanish; survivors keep bit-identical scores because
    collection stats still count deleted docs until a merge (Lucene)."""
    six = SegmentIndex.open(base)
    s = SegmentSearcher(spark, six, mode="float32")
    before = _ranking(s, T("def"))
    assert len(before) >= 5
    dead = {before[0][0], before[2][0]}  # top-1 and rank-3 docs

    n = delete_by_ids(spark, six, sorted(dead))
    assert n == 2
    m = SegmentIndex.open(base).manifest()
    assert m["doc_count"] == 100  # stats unchanged until purge
    assert m["n_deleted"] == 2

    s2 = SegmentSearcher(spark, SegmentIndex.open(base), mode="float32")
    after = _ranking(s2, T("def"))
    assert after == [h for h in before if h[0] not in dead]


B = ir.BooleanQuery
C = ir.BooleanClause
O = ir.Occur

#: one query per shape the block-max window selector bounds
BLOCKMAX_QUERIES = {
    "term": T("def"),
    "and": B((C(O.MUST, T("import")), C(O.MUST, T("return"))), 0),
    "or": B((C(O.SHOULD, T("merge")), C(O.SHOULD, T("segment"))), 0),
    "req_opt": B((C(O.MUST, T("def")), C(O.SHOULD, T("error"))), 0),
    "phrase": ir.PhraseQuery(("x", "y")),
    "sloppy": ir.PhraseQuery(("def", "foo"), slop=2),
    "filter": B((C(O.MUST, T("error")), C(O.FILTER, T("import"))), 0),
    "must_not": B((C(O.MUST, T("def")), C(O.MUST_NOT, T("class"))), 0),
    "msm2": B(
        tuple(C(O.SHOULD, T(t)) for t in ("error", "warning", "fixme")), 2
    ),
}


def test_delete_blockmax_returns_full_k(
    spark, multiwindow_base, multiwindow_oracle, tmp_path
):
    """Regression: a deleted doc occupying a top-k slot must not make a
    pruned search under-return. On segments that span several block-max
    windows, the liveDocs mask filters each window batch before the
    selector takes its threshold, so every shape still returns a full k,
    ranked exactly as the oracle ranks the live docs."""
    base = str(tmp_path / "ix")
    shutil.copytree(multiwindow_base, base)
    ranked = {
        name: multiwindow_oracle.search(q, k=200)
        for name, q in BLOCKMAX_QUERIES.items()
    }
    dead = {sd.doc_id for hits in ranked.values() for sd in hits[:3]}
    delete_by_ids(spark, SegmentIndex.open(base), sorted(dead))

    s = SegmentSearcher(spark, SegmentIndex.open(base), mode="float32")
    rows = s.topk_batch(BLOCKMAX_QUERIES, k=10).collect()
    got: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (-r["score"], r["doc_id"])):
        got.setdefault(r["query_id"], []).append((r["doc_id"], bits(r["score"])))
    for name, hits in ranked.items():
        live = [(sd.doc_id, bits(sd.score)) for sd in hits if sd.doc_id not in dead]
        assert got[name] == live[:10], name
        assert len(got[name]) == 10, name


def test_delete_by_query_and_compose(spark, base):
    """deleteDocuments(Query) tombstones the match set; repeated and
    overlapping deletes compose (the table is a distinct union)."""
    six = SegmentIndex.open(base)
    s = SegmentSearcher(spark, six, mode="float32")
    match = {r["doc_id"] for r in s.matches(T("error")).collect()}
    assert match

    n = delete_by_query(spark, six, T("error"))
    assert n == len(match)
    assert set(read_tombstones(SegmentIndex.open(base))) == match
    # overlapping second delete: union, not duplication
    extra = (max(match) + 1) % 100
    n2 = delete_by_ids(spark, six, [next(iter(match)), extra])
    assert n2 == len(match | {extra})

    s2 = SegmentSearcher(spark, SegmentIndex.open(base), mode="float32")
    assert s2.matches(T("error")).count() == 0


def test_merge_purges_deleted_docs(spark, base, tiny_corpus_rows):
    """A full merge drops tombstoned docs: doc_count/sum_ttf/df shrink to
    the survivors and ranking equals an oracle over live docs only (same
    original docIDs — never renumbered)."""
    six = SegmentIndex.open(base)
    dead = set(range(3, 100, 7))
    delete_by_ids(spark, six, sorted(dead))

    six = SegmentIndex.open(base)
    merge_segments(
        spark, six, [s_["segment_id"] for s_ in six.manifest()["segments"]]
    )

    m = SegmentIndex.open(base).manifest()
    assert m["doc_count"] == 100 - len(dead)
    assert m["next_doc_id"] == 100  # watermark survives the purge
    assert not os.path.isdir(f"{base}/tombstones")  # fully covered → dropped

    from lucene_solr_spark.oracle.engine import OracleIndex

    oracle = OracleIndex(
        (i, r["content"])
        for i, r in enumerate(tiny_corpus_rows)
        if i not in dead
    )
    searcher = SegmentSearcher(spark, SegmentIndex.open(base), mode="float32")
    for q in (T("def"), T("error"), ir.PhraseQuery(("x", "y"))):
        expected = [(sd.doc_id, bits(sd.score)) for sd in oracle.search(q, k=10)]
        got = [
            (r["doc_id"], bits(r["score"]))
            for r in searcher.topk(q, k=10).collect()
        ]
        assert got == expected


def test_merge_purge_with_fully_dead_segments(spark, base, tiny_corpus_rows):
    """Regression: a term-group record with ZERO surviving postings must
    contribute NO entry to the re-encoded position lists (np.split on
    empty counts yields one spurious empty list, shifting every later
    posting's positions — phrase matches silently vanished). Deleting
    two whole segments (docs 0-15) plus a spread guarantees fully-dead
    records for many terms."""
    six = SegmentIndex.open(base)
    dead = set(range(0, 16)) | set(range(20, 100, 9))
    delete_by_ids(spark, six, sorted(dead))
    six = SegmentIndex.open(base)
    merge_segments(
        spark, six, [s_["segment_id"] for s_ in six.manifest()["segments"]]
    )

    from lucene_solr_spark.oracle.engine import OracleIndex

    oracle = OracleIndex(
        (i, r["content"])
        for i, r in enumerate(tiny_corpus_rows)
        if i not in dead
    )
    searcher = SegmentSearcher(spark, SegmentIndex.open(base), mode="float32")
    for q in (
        ir.PhraseQuery(("x", "y")),
        ir.PhraseQuery(("x", "y"), slop=1),
        ir.PhraseQuery(("table", "scan")),
        T("def"),
    ):
        expected = [(sd.doc_id, bits(sd.score)) for sd in oracle.search(q, k=20)]
        got = [
            (r["doc_id"], bits(r["score"]))
            for r in searcher.topk(q, k=20).collect()
        ]
        assert got == expected, f"{q}"


def test_nrt_append_after_purge_never_reuses_ids(spark, base):
    """Appends after a purging merge allocate docIDs from the next_doc_id
    watermark, not the (shrunk) live count."""
    from lucene_solr_spark.streaming.nrt import append_batch

    six = SegmentIndex.open(base)
    delete_by_ids(spark, six, list(range(50, 100)))
    six = SegmentIndex.open(base)
    merge_segments(
        spark, six, [s_["segment_id"] for s_ in six.manifest()["segments"]]
    )
    m = SegmentIndex.open(base).manifest()
    assert m["doc_count"] == 50 and m["next_doc_id"] == 100

    rows = make_corpus_rows(10, seed=9)
    df = corpus_to_spark(spark, 10, seed=9, num_partitions=1)
    append_batch(spark.createDataFrame(rows, df.schema), base)
    m2 = SegmentIndex.open(base).manifest()
    assert m2["doc_count"] == 60
    assert m2["next_doc_id"] == 110
    new_seg = max(m2["segments"], key=lambda s_: s_["segment_id"])
    assert new_seg["min_doc"] >= 100  # no id reuse with docs 50-99 purged


def test_tombstones_of_an_older_layout_still_mask(spark, base):
    """An index written before the manifest named its tables keeps its
    deletes in a bare ``tombstones/`` dir counted by ``n_deleted``; they
    still mask hits, and the next delete carries them over."""
    import json

    six = SegmentIndex.open(base)
    before = _ranking(SegmentSearcher(spark, six, mode="float32"), T("def"))
    dead = before[0][0]
    spark.createDataFrame([(dead,)], "doc_id long").write.parquet(f"{base}/tombstones")
    m = six.manifest()
    m["n_deleted"] = 1
    with open(f"{base}/manifest.json", "w") as f:
        json.dump(m, f)

    s = SegmentSearcher(spark, SegmentIndex.open(base), mode="float32")
    assert _ranking(s, T("def")) == before[1:]
    assert delete_by_ids(spark, SegmentIndex.open(base), [before[1][0]]) == 2
    assert set(read_tombstones(SegmentIndex.open(base))) == {dead, before[1][0]}
    assert not os.path.isdir(f"{base}/tombstones")  # superseded, then deleted
