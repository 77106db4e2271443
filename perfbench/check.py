"""Correctness checks, run outside the timed window.

Static searches are compared with ``oracle.engine.OracleIndex`` built
from the batch tokenizer's output: top-10 doc ids and float32 score bits
must match. Searches made while documents are appended and deleted are
checked for invariants instead: no deleted doc id is returned, and the
committed doc count equals the docs indexed minus those merges purged.
"""

from __future__ import annotations

import numpy as np


def oracle_index(contents: list[str], first_doc_id: int = 0):
    from lucene_solr_spark.functions.fast_tokenizer import batch_tokenize
    from lucene_solr_spark.oracle.engine import OracleIndex

    tdoc, terms, pos = batch_tokenize(contents)
    ids = np.arange(first_doc_id, first_doc_id + len(contents), dtype=np.int64)
    return OracleIndex.from_flat(ids, tdoc, terms, pos)


def _bits(x: float) -> bytes:
    return np.float32(x).tobytes()


def oracle_mismatch(oracle, query: str, hits: list[tuple[int, float]], k: int = 10) -> str | None:
    """None when ``hits`` equal the oracle's top-k, else a description."""
    from lucene_solr_spark.plans.parser import parse_query

    want = [(d.doc_id, _bits(d.score)) for d in oracle.search(parse_query(query), k=k)]
    got = [(int(d), _bits(s)) for d, s in hits]
    if got == want:
        return None
    return f"{query!r}: engine {got[:3]}... != oracle {want[:3]}..."


def doc_count_mismatch(index, n_indexed: int, n_deleted: int) -> str | None:
    """Committed doc count must be the docs indexed minus the deleted
    docs that merges have purged (tombstones not yet purged still
    count, as in Lucene)."""
    from lucene_solr_spark.operators.deletes import read_tombstones

    live_tombs = len(read_tombstones(index))
    want = n_indexed - (n_deleted - live_tombs)
    got = index.manifest()["doc_count"]
    if got == want:
        return None
    return f"doc_count {got} != indexed {n_indexed} - purged {n_deleted - live_tombs}"
