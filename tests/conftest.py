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
