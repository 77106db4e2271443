"""CheckHits-style randomized equivalence fuzzing (SURVEY §5): seeded
random query trees over the deterministic corpus must score bit-identically
on the single-node oracle, the DataFrame executor, and the segment kernel
(delta-0 standard, CheckHits.java:329)."""

from __future__ import annotations

import random
import struct

import pytest

from lucene_solr_spark.plans import ir

VOCAB = [
    "def", "class", "import", "return", "error", "warning", "merge",
    "segment", "posting", "query", "score", "data", "foo", "bar", "baz",
    "the", "a", "to", "index", "buffer", "fixme", "x", "y", "nonexistent",
]


def bits(x) -> int:
    return struct.unpack("<I", struct.pack("<f", float(x)))[0]


def _rand_leaf(rng: random.Random) -> ir.Query:
    roll = rng.random()
    t = rng.choice(VOCAB)
    if roll < 0.55:
        return ir.TermQuery(t)
    if roll < 0.65:
        return ir.BoostQuery(ir.TermQuery(t), rng.choice([0.5, 2.0, 3.5]))
    if roll < 0.75:
        return ir.SynonymQuery(tuple(sorted({t, rng.choice(VOCAB)})))
    if roll < 0.85:
        return ir.PhraseQuery((t, rng.choice(VOCAB)), slop=rng.choice([0, 0, 1, 2]))
    return ir.TermInSetQuery(tuple(sorted({t, rng.choice(VOCAB), rng.choice(VOCAB)})))


def _rand_query(rng: random.Random, depth: int = 0) -> ir.Query:
    if depth >= 2 or rng.random() < 0.3:
        return _rand_leaf(rng)
    n = rng.randint(2, 4)
    clauses = []
    n_should = 0
    for _ in range(n):
        occ = rng.choices(
            [ir.Occur.SHOULD, ir.Occur.MUST, ir.Occur.MUST_NOT, ir.Occur.FILTER],
            weights=[5, 3, 1, 1],
        )[0]
        if occ == ir.Occur.SHOULD:
            n_should += 1
        clauses.append(ir.BooleanClause(occ, _rand_query(rng, depth + 1)))
    msm = rng.randint(0, max(n_should - 1, 0)) if rng.random() < 0.3 else 0
    return ir.BooleanQuery(tuple(clauses), msm)


@pytest.fixture(scope="module")
def fuzz_setup(spark):
    import tempfile

    from lucene_solr_spark.operators.index_build import build_index
    from lucene_solr_spark.operators.segments import SegmentIndex, build_segments
    from lucene_solr_spark.operators.topk import SegmentSearcher
    from lucene_solr_spark.plans.df_executor import DFExecutor
    from lucene_solr_spark.sources.corpus import corpus_to_spark

    corpus = corpus_to_spark(spark, 120, seed=77, num_partitions=5)
    ix = build_index(corpus).persist()
    base = tempfile.mkdtemp(prefix="fuzzix")
    build_segments(ix, base, segment_size=32)
    return (
        DFExecutor(ix, mode="float32"),
        SegmentSearcher(spark, SegmentIndex.open(base), mode="float32"),
    )


@pytest.fixture(scope="module")
def fuzz_oracle():
    from lucene_solr_spark.oracle.engine import OracleIndex
    from lucene_solr_spark.sources.corpus import make_corpus_rows

    rows = make_corpus_rows(120, seed=77)
    return OracleIndex((i, r["content"]) for i, r in enumerate(rows))


def _queries(seed: int, n: int) -> dict[str, ir.Query]:
    rng = random.Random(seed)
    return {f"fz{i:03d}": _rand_query(rng) for i in range(n)}


def test_fuzz_kernel_batch(fuzz_setup, fuzz_oracle):
    """30 random queries through the kernel in ONE batch vs the oracle."""
    _, searcher = fuzz_setup
    qset = _queries(seed=1234, n=30)
    rows = searcher.topk_batch(qset, k=10).collect()
    got: dict[str, list] = {qid: [] for qid in qset}
    for r in rows:
        got[r["query_id"]].append((r["doc_id"], bits(r["score"])))
    for qid, q in qset.items():
        expected = [(sd.doc_id, bits(sd.score)) for sd in fuzz_oracle.search(q, k=10)]
        assert got[qid] == expected, f"{qid}: {q}"


@pytest.mark.parametrize("seed", [11, 22, 33, 44, 55, 66, 77, 88])
def test_fuzz_df_executor(seed, fuzz_setup, fuzz_oracle):
    dfe, _ = fuzz_setup
    rng = random.Random(seed)
    q = _rand_query(rng)
    expected = [(sd.doc_id, bits(sd.score)) for sd in fuzz_oracle.search(q, k=10)]
    got = [(r["doc_id"], bits(r["score"])) for r in dfe.topk(q, k=10).collect()]
    assert got == expected, f"seed {seed}: {q}"
