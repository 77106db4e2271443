"""Tombstone deletes — the live-docs role.

Re-expresses ``codecs/lucene90/Lucene90LiveDocsFormat.java`` +
``index/IndexWriter.deleteDocuments`` for the doc-range segment layout
(SURVEY.md §1.1 "Live docs" row):

- deletes are a TOMBSTONE TABLE (parquet of doc_id): each delete
  writes the whole new table under a fresh name and commits the
  manifest that names it (``operators.segments.commit``) — the
  bitset-per-segment of the reference becomes one sorted doc_id column
  range-filterable per segment;
- search masks tombstoned docs AFTER scoring candidates (the liveDocs
  check in every Lucene scorer), while COLLECTION STATS STAY UNCHANGED —
  exactly Lucene: docFreq/docCount/sumTotalTermFreq keep counting
  deleted docs until a merge purges them;
- merges drop tombstoned docs from the merged segment (DocIDMerger skips
  deleted docs, ``index/SegmentMerger.java``), after which the global
  stats and dictionary shrink — handled in operators.merge_policy;
- docIDs are NEVER reused: the manifest carries a ``next_doc_id``
  watermark for NRT appends, independent of the live count.

A training-data pipeline deletes in bulk (near-dup removal): both a
driver-side list API and a distributed DataFrame API are provided; the
DataFrame path unions with the existing table in Spark, so a
billion-row delete set never visits the driver.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucene_solr_spark.operators.segments import (
    SegmentIndex,
    commit,
    fresh_name,
    table_path,
)
from lucene_solr_spark.plans import ir

__all__ = [
    "tombstones_path",
    "read_tombstones",
    "delete_by_ids",
    "delete_by_ids_df",
    "delete_by_query",
]


def tombstones_path(index: SegmentIndex) -> str | None:
    """The committed tombstone table, or None when nothing is deleted."""
    return table_path(index.base, index.manifest(), "tombstones")


def read_tombstones(
    index: SegmentIndex,
    lo: int | None = None,
    hi: int | None = None,
) -> np.ndarray:
    """Sorted tombstoned doc_ids, optionally range-filtered (a segment
    task passes its own doc range so it reads only relevant row groups)."""
    path = tombstones_path(index)
    if path is None:
        return np.empty(0, np.int64)
    import pyarrow.parquet as pq

    filters = []
    if lo is not None:
        filters.append(("doc_id", ">=", int(lo)))
    if hi is not None:
        filters.append(("doc_id", "<=", int(hi)))
    tbl = pq.read_table(path, columns=["doc_id"], filters=filters or None)
    return np.sort(tbl["doc_id"].to_numpy(zero_copy_only=False).astype(np.int64))


def _commit_tombstones(index: SegmentIndex, df: DataFrame) -> int:
    """Replace the tombstone table with ``df`` (distinct, sorted doc_ids
    → range-filterable row groups); returns the count. The table goes to
    a fresh name and one ``commit`` publishes it with the count."""
    manifest = index.manifest()
    name = fresh_name(manifest, "tombstones")
    path = f"{index.base}/{name}"
    (
        df.select(F.col("doc_id").cast("long"))
        .distinct()
        .repartitionByRange(max(1, df.sparkSession.sparkContext.defaultParallelism // 8), "doc_id")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .parquet(path)
    )
    n = int(df.sparkSession.read.parquet(path).count())
    manifest["tombstones"] = name
    manifest["n_deleted"] = n
    manifest.setdefault("next_doc_id", manifest["doc_count"])
    commit(index.base, manifest)
    return n


def delete_by_ids_df(index: SegmentIndex, ids: DataFrame) -> int:
    """Distributed delete: union the doc_id DataFrame into the tombstone
    table. Returns the total tombstone count."""
    spark = ids.sparkSession
    new = ids.select(F.col("doc_id").cast("long"))
    path = tombstones_path(index)
    if path is not None:
        new = new.unionByName(spark.read.parquet(path).select("doc_id"))
    return _commit_tombstones(index, new)


def delete_by_ids(spark: SparkSession, index: SegmentIndex, ids) -> int:
    """Driver-list convenience (small/interactive deletes)."""
    df = spark.createDataFrame([(int(i),) for i in ids], "doc_id long")
    return delete_by_ids_df(index, df)


def delete_by_query(
    spark: SparkSession, index: SegmentIndex, q: ir.Query
) -> int:
    """IndexWriter.deleteDocuments(Query): matching docs become
    tombstones. The match runs through the segment searcher (so deletes
    compose with earlier deletes — already-deleted docs simply re-enter
    the set)."""
    from lucene_solr_spark.operators.topk import SegmentSearcher

    searcher = SegmentSearcher(spark, index, mode="double")
    hits = searcher.matches(q).select("doc_id")
    return delete_by_ids_df(index, hits)
