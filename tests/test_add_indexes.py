"""addIndexes (IndexWriter.addIndexes role): grafting one index into
another without re-encoding must leave a CLEAN index whose search
results are rank-identical (float32 bits) to the single-node oracle
built over the combined corpus with the same rebased doc IDs."""

from __future__ import annotations

import struct

import pytest

from lucene_solr_spark.operators.add_indexes import add_indexes
from lucene_solr_spark.operators.check_index import check_index
from lucene_solr_spark.operators.index_build import build_index
from lucene_solr_spark.operators.segments import SegmentIndex, build_segments
from lucene_solr_spark.operators.topk import SegmentSearcher
from lucene_solr_spark.plans import ir
from lucene_solr_spark.sources.corpus import corpus_to_spark, make_corpus_rows

T = ir.TermQuery
C = ir.BooleanClause
O = ir.Occur
SEG = 32
N_A, N_B = 100, 60


def B(*cs, msm=0):
    return ir.BooleanQuery(tuple(cs), msm)


def bits(x) -> int:
    return struct.unpack("<I", struct.pack("<f", float(x)))[0]


@pytest.fixture(scope="module")
def merged(spark, tmp_path_factory):
    base_a = str(tmp_path_factory.mktemp("addix_a"))
    base_b = str(tmp_path_factory.mktemp("addix_b"))
    build_segments(
        build_index(corpus_to_spark(spark, N_A, seed=42, num_partitions=4)),
        base_a,
        segment_size=SEG,
    )
    build_segments(
        build_index(corpus_to_spark(spark, N_B, seed=7, num_partitions=3)),
        base_b,
        segment_size=SEG,
    )
    dst = SegmentIndex.open(base_a)
    n_seg_a = max(s["segment_id"] for s in dst.manifest()["segments"]) + 1
    out = add_indexes(spark, dst, SegmentIndex.open(base_b))
    return out, n_seg_a * SEG


@pytest.fixture(scope="module")
def combined_oracle(merged):
    from lucene_solr_spark.oracle.engine import OracleIndex

    _, offset = merged
    rows_a = make_corpus_rows(N_A, seed=42)
    rows_b = make_corpus_rows(N_B, seed=7)
    pairs = [(i, r["content"]) for i, r in enumerate(rows_a)]
    pairs += [(offset + i, r["content"]) for i, r in enumerate(rows_b)]
    return OracleIndex(pairs)


def test_merged_index_is_clean(spark, merged):
    out, _ = merged
    rep = check_index(spark, out)
    assert rep["clean"], rep["problems"][:5]
    assert rep["doc_count"] == N_A + N_B


QUERIES = [
    T("def"),
    T("error"),
    B(C(O.MUST, T("import")), C(O.MUST, T("return"))),
    B(C(O.SHOULD, T("error")), C(O.SHOULD, T("warning"))),
    B(C(O.MUST, T("def")), C(O.MUST_NOT, T("class"))),
    ir.PhraseQuery(("public", "static")),
    ir.PrefixQuery("ret"),
]


@pytest.mark.parametrize("qi", range(len(QUERIES)))
def test_merged_rank_identity(spark, merged, combined_oracle, qi):
    out, _ = merged
    q = QUERIES[qi]
    searcher = SegmentSearcher(spark, out, mode="float32")
    got = [
        (r["doc_id"], bits(r["score"]))
        for r in searcher.topk(q, k=15).collect()
    ]
    exp = [(sd.doc_id, bits(sd.score)) for sd in combined_oracle.search(q, k=15)]
    assert got == exp


def test_doc_ids_rebased_past_destination(spark, merged):
    out, offset = merged
    docs = out.seg_docs(spark)
    assert docs.filter(f"doc_id >= {offset}").count() == N_B
    # no ID collisions across the graft boundary
    assert docs.select("doc_id").distinct().count() == N_A + N_B


def test_append_after_graft_gets_fresh_doc_ids(spark, merged, tmp_path):
    """The graft moves the doc-id watermark past the grafted docs, so a
    later NRT append never reuses a grafted doc id."""
    import shutil

    from lucene_solr_spark.oracle.engine import OracleIndex
    from lucene_solr_spark.streaming.nrt import append_batch

    out, offset = merged
    base = str(tmp_path / "grafted")
    shutil.copytree(out.base, base)
    new_rows = make_corpus_rows(8, seed=99)
    schema = corpus_to_spark(spark, 1, seed=99).schema
    append_batch(spark.createDataFrame(new_rows, schema), base)

    ix = SegmentIndex.open(base)
    docs = ix.seg_docs(spark)
    assert docs.count() == N_A + N_B + 8
    assert docs.select("doc_id").distinct().count() == N_A + N_B + 8

    first = offset + N_B  # one past the last grafted doc
    pairs = [(i, r["content"]) for i, r in enumerate(make_corpus_rows(N_A, seed=42))]
    pairs += [(offset + i, r["content"]) for i, r in enumerate(make_corpus_rows(N_B, seed=7))]
    pairs += [(first + i, r["content"]) for i, r in enumerate(new_rows)]
    oracle = OracleIndex(pairs)
    searcher = SegmentSearcher(spark, ix, mode="float32")
    for q in QUERIES[:3]:
        got = [(r["doc_id"], bits(r["score"])) for r in searcher.topk(q, k=15).collect()]
        exp = [(sd.doc_id, bits(sd.score)) for sd in oracle.search(q, k=15)]
        assert got == exp
