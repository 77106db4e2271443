"""Index-time sorting (IndexWriterConfig.setIndexSort role) +
sort-aware early termination over the segment layout."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.operators.index_sort import (
    build_sorted_index,
    early_terminated_topk,
)
from lucene_solr_spark.plans import ir


@pytest.fixture(scope="module")
def sorted_setup(spark, tmp_path_factory):
    # 160 docs, half contain 'target'; weight chosen so sort order is a
    # deterministic shuffle of insertion order
    rows = [
        (i, ((i * 37) % 160), "target common" if i % 2 == 0 else "other common")
        for i in range(160)
    ]
    docs = spark.createDataFrame(rows, "orig_id long, weight long, text string")
    ix = build_sorted_index(
        docs, [("weight", "desc")], text_col="text", tiebreak_col="orig_id"
    )
    from lucene_solr_spark.operators.segments import SegmentIndex, build_segments
    from lucene_solr_spark.operators.topk import SegmentSearcher

    base = str(tmp_path_factory.mktemp("sorted_segs"))
    build_segments(ix, base, segment_size=16)  # 10 segments
    searcher = SegmentSearcher(spark, SegmentIndex.open(base), mode="double")
    return docs, ix, searcher


def test_docids_follow_sort_order(sorted_setup):
    docs, ix, _ = sorted_setup
    got = [
        r["orig_id"]
        for r in ix.docs.orderBy("doc_id").select("orig_id").collect()
    ]
    want = [
        r["orig_id"]
        for r in docs.orderBy(F.desc("weight"), F.asc("orig_id")).collect()
    ]
    assert got == want


def test_early_termination_prefix_only(sorted_setup):
    docs, ix, searcher = sorted_setup
    hits, segs_read = early_terminated_topk(searcher, ir.TermQuery("target"), k=10)
    got = [r["doc_id"] for r in hits.collect()]
    # exact: equals the full-scan sorted top-10
    full = (
        searcher.matches(ir.TermQuery("target"))
        .orderBy(F.asc("doc_id"))
        .limit(10)
    )
    assert got == [r["doc_id"] for r in full.collect()]
    # every other doc matches -> 10 hits live in the first 2 segments of 10
    assert segs_read < 10


def test_early_termination_rare_term_scans_all(sorted_setup):
    docs, ix, searcher = sorted_setup
    hits, segs_read = early_terminated_topk(searcher, ir.TermQuery("zzz"), k=5)
    assert hits.count() == 0 and segs_read == 10


def test_desc_sort_rejects_strings(spark):
    docs = spark.createDataFrame([(0, "a", "x")], "orig_id long, s string, text string")
    with pytest.raises(ValueError):
        build_sorted_index(docs, [("s", "desc")], text_col="text", tiebreak_col="orig_id")


def test_segment_restricted_matches(sorted_setup):
    """segment_ids restriction prunes the scan for ANY query shape —
    including MatchAll (seg_docs must be filtered too)."""
    docs, ix, searcher = sorted_setup
    all_ids = {r["doc_id"] for r in searcher.matches(ir.MatchAllDocsQuery()).collect()}
    assert len(all_ids) == 160
    first = {
        r["doc_id"]
        for r in searcher.matches(
            ir.MatchAllDocsQuery(), segment_ids=[0]
        ).collect()
    }
    assert first == set(range(16))
    # the batch reader honors the restriction as well
    cg = searcher.topk_batch(
        {"q": ir.MatchAllDocsQuery()}, k=None, segment_ids=[0]
    )
    assert {r["doc_id"] for r in cg.collect()} == set(range(16))
