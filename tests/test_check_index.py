"""CheckIndex role (index/CheckIndex.java): a healthy index reports
clean; every class of corruption is detected and named."""

from __future__ import annotations

import json
import shutil

import pytest

from lucene_solr_spark.operators.check_index import check_index
from lucene_solr_spark.operators.index_build import build_index
from lucene_solr_spark.operators.segments import SegmentIndex, build_segments
from lucene_solr_spark.sources.corpus import corpus_to_spark


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    corpus = corpus_to_spark(spark, 120, seed=42, num_partitions=4)
    ix = build_index(corpus).persist()
    b = str(tmp_path_factory.mktemp("chk"))
    build_segments(ix, b, segment_size=32)
    return b


def test_clean_index_reports_clean(spark, base):
    rep = check_index(spark, SegmentIndex.open(base))
    assert rep["clean"], rep["problems"][:5]
    assert rep["doc_count"] == 120 and rep["n_segments"] == 4


def _copy(base, tmp_path, name):
    dst = str(tmp_path / name)
    shutil.copytree(base, dst)
    return dst


def test_detects_manifest_tamper(spark, base, tmp_path):
    dst = _copy(base, tmp_path, "tamper_manifest")
    m = json.load(open(f"{dst}/manifest.json"))
    m["doc_count"] += 7
    m["segments"][0]["n_terms"] += 1
    json.dump(m, open(f"{dst}/manifest.json", "w"))
    rep = check_index(spark, SegmentIndex.open(dst))
    assert not rep["clean"]
    msgs = " | ".join(p["problem"] for p in rep["problems"])
    assert "doc_count" in msgs and "lineage mismatch" in msgs


def test_detects_dictionary_mismatch(spark, base, tmp_path):
    dst = _copy(base, tmp_path, "tamper_dict")
    ts = spark.read.parquet(f"{dst}/term_stats")
    from pyspark.sql import functions as F

    broken = ts.withColumn(
        "df",
        F.when(F.col("term") == "merge", F.col("df") + 1).otherwise(F.col("df")),
    )
    broken.write.mode("overwrite").parquet(f"{dst}/term_stats_new")
    shutil.rmtree(f"{dst}/term_stats")
    shutil.move(f"{dst}/term_stats_new", f"{dst}/term_stats")
    rep = check_index(spark, SegmentIndex.open(dst))
    assert not rep["clean"]
    assert any(
        p["term"] == "merge" and "dictionary mismatch" in p["problem"]
        for p in rep["problems"]
    )


def test_detects_corrupt_postings(spark, base, tmp_path):
    dst = _copy(base, tmp_path, "tamper_postings")
    seg = spark.read.parquet(f"{dst}/segments")
    from pyspark.sql import functions as F

    # claim one more posting than the blob encodes for one term
    broken = seg.withColumn(
        "df",
        F.when(F.col("term") == "merge", F.col("df") + 1).otherwise(F.col("df")),
    ).withColumn(
        "ttf",
        F.when(F.col("term") == "scan", F.col("ttf") + 5).otherwise(F.col("ttf")),
    )
    broken.write.mode("overwrite").partitionBy("segment_id").parquet(
        f"{dst}/segments_new"
    )
    shutil.rmtree(f"{dst}/segments")
    shutil.move(f"{dst}/segments_new", f"{dst}/segments")
    rep = check_index(spark, SegmentIndex.open(dst))
    assert not rep["clean"]
    msgs = [p["problem"] for p in rep["problems"]]
    assert any("postings, df=" in m or "decode" in m for m in msgs)
    assert any("ttf" in m for m in msgs)


ROW_FIELDS = ("n_terms", "n_postings", "sum_tf", "content_crc", "n_docs", "min_doc", "max_doc")


@pytest.mark.parametrize("field", ROW_FIELDS)
def test_detects_each_manifest_row_field_tamper(spark, base, tmp_path, field):
    """Every field of a segment's manifest row is recomputed from its
    files: a wrong value in any one of them is reported, by name."""
    dst = _copy(base, tmp_path, f"tamper_{field}")
    m = json.load(open(f"{dst}/manifest.json"))
    seg = m["segments"][1]
    seg[field] += 1
    json.dump(m, open(f"{dst}/manifest.json", "w"))
    rep = check_index(spark, SegmentIndex.open(dst))
    assert not rep["clean"]
    assert any(
        p["segment_id"] == seg["segment_id"] and f"manifest {field} " in p["problem"]
        for p in rep["problems"]
    ), rep["problems"]


def test_every_writer_leaves_a_clean_index(spark, base, tmp_path):
    """Built, appended, merged (purging a tombstone) and grafted segments
    all carry manifest rows that match their files."""
    from lucene_solr_spark.operators.add_indexes import add_indexes
    from lucene_solr_spark.operators.deletes import delete_by_ids
    from lucene_solr_spark.operators.merge_policy import merge_segments
    from lucene_solr_spark.sources.corpus import make_corpus_rows
    from lucene_solr_spark.streaming.nrt import append_batch

    dst = _copy(base, tmp_path, "writers")
    schema = corpus_to_spark(spark, 1, seed=5).schema
    append_batch(spark.createDataFrame(make_corpus_rows(10, seed=5), schema), dst)
    m = SegmentIndex.open(dst).manifest()
    delete_by_ids(spark, SegmentIndex.open(dst), [m["segments"][0]["min_doc"]])
    merge_segments(spark, SegmentIndex.open(dst), [0, 1])
    src = str(tmp_path / "src")
    build_segments(build_index(corpus_to_spark(spark, 40, seed=6)), src, segment_size=32)
    add_indexes(spark, SegmentIndex.open(dst), SegmentIndex.open(src))

    m = SegmentIndex.open(dst).manifest()
    assert [s["segment_id"] for s in m["segments"]] == [2, 3, 4, 5, 6, 7]
    assert all(s["content_crc"] > 0 for s in m["segments"])
    rep = check_index(spark, SegmentIndex.open(dst))
    assert rep["clean"], rep["problems"][:5]
    assert rep["doc_count"] == 120 + 10 - 1 + 40
