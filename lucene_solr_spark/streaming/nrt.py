"""Near-real-time (NRT) indexing over Structured Streaming.

The reference has no stream operators (no watermarks/windows — SURVEY.md
§2.6); its "streaming" is NRT segment visibility: in-RAM segments become
searchable on reader reopen (``index/DirectoryReader.java:72``
``DirectoryReader.open(IndexWriter)``, ``search/SearcherManager.java``).

Spark re-expression: ``readStream → foreachBatch(append_batch)``. Each
micro-batch becomes ONE new immutable segment, published together with
its merged dictionary by one ``operators.segments.commit`` — exactly a
DWPT flush (``index/DocumentsWriterPerThread.java``) at micro-batch
cadence. "Reopen" = ``SegmentIndex.open(base)`` reading the latest
manifest — a SearcherManager.maybeRefresh. Late data is a non-issue:
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
    SEGMENT_SCHEMA,
    SegmentIndex,
    _encode_partition,
    commit,
    fresh_name,
    read_manifest,
    table_path,
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
    from ``foreachBatch``. The segment, its seg_docs and the merged
    dictionary are written under fresh names, then one ``commit``
    publishes them (a crash before it leaves unreferenced files that no
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

    pos_cols = ["positions"] if "positions" in ix.postings.columns else []
    enc = (
        ix.postings.join(F.broadcast(ix.norms), "doc_id")
        .withColumn("segment_id", F.lit(seg_id).cast("long"))
        .select("segment_id", "term", "doc_id", "tf", "norm", *pos_cols)
        .groupBy("segment_id")
        .applyInPandas(_encode_partition(0), schema=SEGMENT_SCHEMA)
    )
    seg_path = f"{base}/segments/segment_id={seg_id}"
    enc.drop("segment_id").coalesce(1).sortWithinPartitions("term").write.mode(
        "overwrite"
    ).parquet(seg_path)

    docs_path = f"{base}/seg_docs/segment_id={seg_id}"
    ix.docs.select("doc_id", "length", "norm").coalesce(1).sortWithinPartitions(
        "doc_id"
    ).write.mode("overwrite").parquet(docs_path)

    # dictionary merge: old ∪ new, summed, into a fresh table
    stats = spark.read.parquet(seg_path).select("term", "df", "ttf")
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

    seg_stats = (
        spark.read.parquet(seg_path)
        .agg(F.count("*").alias("nt"), F.sum("df").alias("np"), F.sum("ttf").alias("st"))
        .collect()[0]
    )
    manifest["segments"].append(
        {
            "segment_id": int(seg_id),
            "n_docs": ix.doc_count,
            "min_doc": base_doc,
            "max_doc": base_doc + ix.doc_count - 1,
            "n_terms": int(seg_stats["nt"]),
            "n_postings": int(seg_stats["np"]),
            "sum_tf": int(seg_stats["st"]),
            "content_crc": 0,
        }
    )
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
