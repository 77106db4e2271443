"""Near-real-time (NRT) indexing over Structured Streaming.

The reference has no stream operators (no watermarks/windows — SURVEY.md
§2.6); its "streaming" is NRT segment visibility: in-RAM segments become
searchable on reader reopen (``index/DirectoryReader.java:72``
``DirectoryReader.open(IndexWriter)``, ``search/SearcherManager.java``).

Spark re-expression: ``readStream → foreachBatch(append_batch)``. Each
micro-batch becomes ONE new immutable segment, encoded and written in one
Spark task by the segment writer every index writer shares
(``operators.segments.write_segment``) and published together with its
merged dictionary by one ``operators.segments.commit`` — exactly a DWPT
flush (``index/DocumentsWriterPerThread.java``) at micro-batch cadence.
"Reopen" = ``SegmentIndex.open(base)`` reading the latest manifest — a
SearcherManager.maybeRefresh. Late data is a non-issue:
docIDs are assigned append-only per batch (batch base = the manifest's
``next_doc_id`` watermark), matching Lucene's arrival-order docIDs for
NRT writers.

After each append the tiered merge policy (operators.merge_policy) can
compact the accumulating small segments — the ConcurrentMergeScheduler
role, driven from the same foreachBatch hook.

Global BM25 stats (doc_count, sum_ttf, df) move with every commit; the
manifest is their single source of truth, so queries over a reopened
index always score with the stats of that snapshot.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lucene_solr_spark.operators.index_build import assign_doc_ids, build_index
from lucene_solr_spark.operators.segments import (
    SegmentIndex,
    commit,
    fresh_name,
    read_manifest,
    table_path,
    write_segments,
)

__all__ = ["append_batch", "index_stream"]


def append_batch(
    batch_df: DataFrame,
    base: str,
    *,
    text_col: str = "content",
    key_cols: tuple[str, ...] = ("repo", "path", "commit"),
    lowercase: bool = True,
    stopwords: frozenset[str] = frozenset(),
    batch_id: int | None = None,
) -> int | None:
    """Index one (micro-)batch as a new segment; returns its id.

    Callable directly on a static DataFrame (unit tests / backfill) or
    from ``foreachBatch``. One Spark task encodes and writes the segment
    and returns its manifest row (``operators.segments.write_segments``);
    the merged dictionary goes to a fresh name; then one ``commit``
    publishes both (a crash before it leaves unreferenced files that no
    reader resolves).

    ``batch_id`` makes the append idempotent per micro-batch: Structured
    Streaming's foreachBatch is at-least-once, so a replayed batch would
    otherwise re-index as a fresh segment with new doc_ids (duplicated
    docs + inflated doc_count/sum_ttf → wrong BM25 stats). The last
    applied id is committed in the manifest and replays are no-ops."""
    if batch_df.isEmpty():
        return None
    spark = batch_df.sparkSession
    manifest = (
        read_manifest(base)
        if os.path.exists(f"{base}/manifest.json")
        # streaming segments are batch-sized, not ranged
        else {"doc_count": 0, "sum_ttf": 0, "segment_size": 0, "segments": []}
    )
    if (
        batch_id is not None
        and manifest.get("last_batch_id") is not None
        and batch_id <= manifest["last_batch_id"]
    ):
        return None  # at-least-once replay of an already-committed batch
    # docID base = the watermark, NOT the live count: deletes + purging
    # merges shrink doc_count, but docIDs are never reused
    base_doc = manifest.get("next_doc_id", manifest["doc_count"])
    seg_id = (
        max((s["segment_id"] for s in manifest["segments"]), default=-1) + 1
    )

    with_ids = assign_doc_ids(batch_df, key_cols).withColumn(
        "doc_id", F.col("doc_id") + F.lit(base_doc)
    )
    ix = build_index(
        with_ids,
        text_col=text_col,
        doc_id_col="doc_id",
        lowercase=lowercase,
        stopwords=stopwords,
    )

    # the whole batch is one segment: one task encodes and writes it
    written = write_segments(ix, base, F.lit(seg_id), 1)

    # dictionary merge: old ∪ the batch's own (term, df, ttf), summed,
    # into a fresh table
    stats = ix.term_stats.select("term", "df", "ttf")
    if manifest["segments"]:
        stats = spark.read.parquet(
            table_path(base, manifest, "term_stats")
        ).unionByName(stats)
    ts_name = fresh_name(manifest, "term_stats")
    stats.groupBy("term").agg(
        F.sum("df").alias("df"), F.sum("ttf").alias("ttf")
    ).repartitionByRange(4, "term").sortWithinPartitions("term").write.mode(
        "overwrite"
    ).parquet(f"{base}/{ts_name}")

    manifest["segments"] += written
    manifest["doc_count"] = manifest["doc_count"] + ix.doc_count
    manifest["next_doc_id"] = base_doc + ix.doc_count
    manifest["sum_ttf"] = manifest["sum_ttf"] + ix.sum_ttf
    manifest["term_stats"] = ts_name
    if batch_id is not None:
        manifest["last_batch_id"] = int(batch_id)
    if not manifest.get("segment_size"):
        manifest["segment_size"] = max(ix.doc_count, 1)
    commit(base, manifest)
    return int(seg_id)


def index_stream(
    stream_df: DataFrame,
    base: str,
    checkpoint: str,
    *,
    text_col: str = "content",
    key_cols: tuple[str, ...] = ("repo", "path", "commit"),
    trigger_once: bool = True,
    merge_after_batch: bool = False,
):
    """Attach the NRT indexer to a streaming DataFrame.

    ``trigger_once=True`` → availableNow (drain-and-stop; the batch-backfill
    mode); otherwise continuous micro-batches. ``merge_after_batch`` runs
    the tiered merge policy after each commit (ConcurrentMergeScheduler)."""

    def on_batch(df: DataFrame, batch_id: int) -> None:
        append_batch(
            df, base, text_col=text_col, key_cols=key_cols, batch_id=batch_id
        )
        if merge_after_batch:
            from lucene_solr_spark.operators.merge_policy import run_merges

            run_merges(df.sparkSession, SegmentIndex.open(base))

    writer = stream_df.writeStream.foreachBatch(on_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
