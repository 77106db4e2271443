from __future__ import annotations

import os

import pytest


@pytest.fixture(scope="session")
def spark():
    from lucene_solr_spark.session import get_spark

    # The session's default heap (48g) lets the one test JVM grow past a
    # small host's memory until the kernel kills it mid-suite; every
    # fixture here is tiny.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_corpus_rows():
    from lucene_solr_spark.sources.corpus import make_corpus_rows

    return make_corpus_rows(100, seed=42)


@pytest.fixture(scope="session")
def tiny_oracle(tiny_corpus_rows):
    """Oracle index over the tiny corpus with engine docID semantics:
    dense rank over (repo, path, commit) — rows are pre-sorted by PK."""
    from lucene_solr_spark.oracle.engine import OracleIndex

    return OracleIndex((i, r["content"]) for i, r in enumerate(tiny_corpus_rows))


#: the multi-window fixture: 600 corpus docs with doc ids 0, 16, 32, ...
#: in two segments of 300 docs, each spanning three 2048-doc windows
MW_DOCS, MW_STRIDE, MW_SEGMENT_SIZE = 600, 16, 4800


@pytest.fixture(scope="session")
def multiwindow_rows():
    from lucene_solr_spark.sources.corpus import make_corpus_rows

    rows = make_corpus_rows(MW_DOCS, seed=42)
    return [(i * MW_STRIDE, r["content"]) for i, r in enumerate(rows)]


@pytest.fixture(scope="session")
def multiwindow_oracle(multiwindow_rows):
    from lucene_solr_spark.oracle.engine import OracleIndex

    return OracleIndex(multiwindow_rows)


@pytest.fixture(scope="session")
def multiwindow_base(spark, multiwindow_rows, tmp_path_factory):
    """Segment index whose segments span several block-max windows, so
    searches on it run the window selector. Never mutated: tests that
    delete copy it first."""
    import pyarrow.parquet as pq

    from lucene_solr_spark.operators.index_build import build_index
    from lucene_solr_spark.operators.segments import SegmentIndex, build_segments
    from lucene_solr_spark.operators.topk import _WINDOW

    corpus = spark.createDataFrame(multiwindow_rows, "doc_id long, content string")
    ix = build_index(corpus, doc_id_col="doc_id").persist()
    base = str(tmp_path_factory.mktemp("multiwindow"))
    build_segments(ix, base, segment_size=MW_SEGMENT_SIZE)
    # the precondition that keeps the tests on this fixture from going
    # vacuous: every segment spans >= 3 windows (the selector evaluates a
    # segment of two windows whole), and head terms have several full
    # 128-posting blocks (block bounds vary inside a term)
    segs = SegmentIndex.open(base).manifest()["segments"]
    assert len(segs) == 2
    assert all(s["max_doc"] - s["min_doc"] >= 2 * _WINDOW for s in segs)
    blocks = pq.read_table(f"{base}/segments", columns=["n_full_blocks"])
    assert max(blocks["n_full_blocks"].to_pylist()) >= 2
    return base
