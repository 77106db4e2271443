"""The one segment writer (``operators.segments.write_segment``).

* Its manifest row equals the figures recomputed from the files it wrote,
  and it leaves a segment dir holding only its own file.
* Segments written by Spark's ``partitionBy`` writer and by
  ``write_segment`` read together through ``SegmentIndex`` and the
  searcher.
* A merge re-encodes with the build's encoder: merging segments with
  positions and a tombstone gives term rows byte-identical to building
  the surviving docs, with the same ids, as one segment.
"""

from __future__ import annotations

import os
import shutil
import struct
import zlib

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from lucene_solr_spark.operators.check_index import check_index
from lucene_solr_spark.operators.deletes import delete_by_ids
from lucene_solr_spark.operators.index_build import build_index
from lucene_solr_spark.operators.merge_policy import merge_segments
from lucene_solr_spark.operators.segments import (
    SegmentIndex,
    build_segments,
    encode_frame,
    encode_segment,
    read_segment,
    segment_path,
    write_segment,
)
from lucene_solr_spark.operators.topk import SegmentSearcher
from lucene_solr_spark.plans import ir
from lucene_solr_spark.sources.corpus import corpus_to_spark, make_corpus_rows

SEG = 8


def bits(x) -> int:
    return struct.unpack("<I", struct.pack("<f", float(x)))[0]


def _segment(n_docs: int = 300, seed: int = 3):
    """A synthetic segment: docs 100.., one term long enough for full
    blocks, a few short ones and a singleton, with positions."""
    rng = np.random.default_rng(seed)
    ids = np.arange(100, 100 + n_docs)
    rows = []
    for term, share in (("head", 1.0), ("mid", 0.3), ("rare", 0.02)):
        for d in ids[rng.random(n_docs) < share]:
            tf = int(rng.integers(1, 4))
            rows.append((term, int(d), tf, np.sort(rng.choice(50, tf, replace=False))))
    rows.append(("only", int(ids[7]), 1, np.asarray([3])))
    postings = pd.DataFrame(rows, columns=["term", "doc_id", "tf", "positions"])
    length = postings.groupby("doc_id")["tf"].sum().reindex(ids, fill_value=0)
    docs = pd.DataFrame(
        {"doc_id": ids, "length": length.to_numpy(), "norm": (length.to_numpy() % 40).astype("int32")}
    )
    return postings, docs


def test_write_segment_row_matches_its_files(tmp_path):
    postings, docs = _segment()
    base = str(tmp_path)
    stale = segment_path(base, "segments", 4)
    os.makedirs(stale)
    with open(f"{stale}/part-00007-stale.parquet", "wb") as f:
        f.write(b"left by a crashed writer")

    row = write_segment(base, 4, encode_segment(postings, docs), docs)

    for table in ("segments", "seg_docs"):
        assert os.listdir(segment_path(base, table, 4)) == ["part-00000.parquet"]
    terms = pq.read_table(segment_path(base, "segments", 4)).to_pylist()
    got_docs = pq.read_table(segment_path(base, "seg_docs", 4))["doc_id"].to_pylist()
    crc = sum(
        zlib.crc32(r["term"].encode("utf-8"))
        + sum(zlib.crc32(r[c] or b"") for c in ("doc_blob", "tf_blob", "tail_blob"))
        + r["df"]
        + r["singleton_doc"]
        for r in terms
    )
    assert row == {
        "segment_id": 4,
        "n_terms": len(terms),
        "n_postings": sum(r["df"] for r in terms),
        "sum_tf": sum(r["ttf"] for r in terms),
        "n_docs": len(got_docs),
        "min_doc": min(got_docs),
        "max_doc": max(got_docs),
        "content_crc": crc,
    }
    assert [r["term"] for r in terms] == sorted({"head", "mid", "rare", "only"})
    assert row["n_postings"] == len(postings) and row["sum_tf"] == postings["tf"].sum()
    assert got_docs == sorted(docs["doc_id"]) and row["n_docs"] == 300


def test_spark_and_pyarrow_written_segments_read_together(spark, tiny_oracle, tmp_path):
    """Segment 0 rewritten the way Spark's ``partitionBy`` writer wrote
    segments before ``write_segment``; the rest as ``write_segment`` writes
    them. One index, one read, one ranking."""
    ix = build_index(corpus_to_spark(spark, 100, seed=42, num_partitions=4)).persist()
    base = str(tmp_path / "ix")
    build_segments(ix, base, segment_size=16)
    spark_dir = str(tmp_path / "spark_written")
    encode_frame(ix, 16).filter("segment_id = 0").write.partitionBy("segment_id").parquet(
        f"{spark_dir}/segments"
    )
    (
        ix.docs.withColumn("segment_id", (F.col("doc_id") / 16).cast("long"))
        .filter("segment_id = 0")
        .select("segment_id", "doc_id", "length", "norm")
        .repartition(F.col("segment_id"))
        .sortWithinPartitions("doc_id")
        .write.partitionBy("segment_id")
        .parquet(f"{spark_dir}/seg_docs")
    )
    for table, key in (("segments", "term"), ("seg_docs", "doc_id")):
        ours = read_segment(base, table, 0)
        shutil.rmtree(segment_path(base, table, 0))
        shutil.move(segment_path(spark_dir, table, 0), segment_path(base, table, 0))
        # the same rows; Spark's writer does not keep them in key order
        assert read_segment(base, table, 0).sort_by(key).equals(ours)
        (name,) = [f for f in os.listdir(segment_path(base, table, 0)) if f.endswith(".parquet")]
        assert b"org.apache.spark.version" in pq.ParquetFile(
            f"{segment_path(base, table, 0)}/{name}"
        ).schema_arrow.metadata
    assert "org.apache.spark.version" not in str(
        pq.ParquetFile(f"{segment_path(base, 'segments', 1)}/part-00000.parquet").metadata.metadata
    )

    six = SegmentIndex.open(base)
    seg_rows = six.segments(spark)
    assert seg_rows.schema["term"].dataType.simpleString() == "string"
    assert seg_rows.count() == sum(s["n_terms"] for s in six.manifest()["segments"])
    assert sorted(r["doc_id"] for r in six.seg_docs(spark).collect()) == list(range(100))
    assert check_index(spark, six)["clean"]
    searcher = SegmentSearcher(spark, six, mode="float32")
    for q in (ir.TermQuery("def"), ir.PhraseQuery(("x", "y"))):
        expected = [(sd.doc_id, bits(sd.score)) for sd in tiny_oracle.search(q, k=10)]
        got = [(r["doc_id"], bits(r["score"])) for r in searcher.topk(q, k=10).collect()]
        assert got == expected


def test_merge_equals_build_of_the_surviving_docs(spark, tmp_path):
    rows = make_corpus_rows(5 * SEG, seed=9)
    schema = corpus_to_spark(spark, 1, seed=9).schema
    base = str(tmp_path / "merged")
    build_segments(
        build_index(spark.createDataFrame(rows, schema)).persist(), base, segment_size=SEG
    )
    children, dead = [1, 2, 3], SEG + 3
    delete_by_ids(spark, SegmentIndex.open(base), [dead])
    new_id = merge_segments(spark, SegmentIndex.open(base), children)

    alone = str(tmp_path / "alone")
    live = [i for i in range(SEG, 4 * SEG) if i != dead]
    survivors = spark.createDataFrame(
        [(i, rows[i]["content"]) for i in live], "doc_id long, content string"
    )
    ix = build_index(survivors, doc_id_col="doc_id").persist()
    build_segments(ix, alone, segment_size=1 << 20)

    merged = read_segment(base, "segments", new_id)
    assert merged["pos_off"].null_count == 0 and merged.num_rows > 100
    assert merged.equals(read_segment(alone, "segments", 0))
    assert read_segment(base, "seg_docs", new_id).equals(read_segment(alone, "seg_docs", 0))
    m = SegmentIndex.open(base).manifest()
    (row,) = [s for s in m["segments"] if s["segment_id"] == new_id]
    (alone_row,) = SegmentIndex.open(alone).manifest()["segments"]
    assert row == {**alone_row, "segment_id": new_id}
    assert "tombstones" not in m and check_index(spark, SegmentIndex.open(base))["clean"]
