"""IndexWriter.addIndexes(Directory...) role (``index/IndexWriter.java:
3120-3180``): graft one on-disk index into another WITHOUT re-encoding.

The reference copies incoming segment files verbatim and rebases their
doc IDs by the destination's maxDoc. The same property holds here by
construction: postings blobs store per-block doc DELTAS, so shifting a
segment to a new doc base only touches the absolute metadata columns —
``block_first`` / ``block_last`` / ``singleton_doc`` (plain column
arithmetic inside whole-stage codegen) — never the packed blocks. The
single exception is the tail VInt stream of postings with NO full
blocks: its first code encodes ``first_doc+1`` absolutely, so exactly
one VInt per such (small, df<128) posting is rewritten in an Arrow
batch pass. tf blobs, positions, and impacts are doc-base-invariant.

Doc IDs are rebased to the next segment boundary (incoming segment k
becomes segment n_dst+k), which may leave an ID gap after the
destination's last partial segment — the reference's addIndexes also
never compacts doc IDs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucene_solr_spark.operators.segments import (
    SegmentIndex,
    clear_orphans,
    commit,
    fresh_name,
)

__all__ = ["add_indexes"]


def _shift_tail_udf(offset: int):
    """Rewrite the first tail VInt for tail-only postings: the stream's
    first code is ((first_doc+1)<<1 | tf==1), every later code is a
    doc delta — so += offset<<1 on code 0 rebases the whole posting."""

    @F.pandas_udf("binary")
    def fix(tail: pd.Series, nfb: pd.Series, single: pd.Series) -> pd.Series:
        import numpy as np

        from lucene_solr_spark.codecs.postings_codec import (
            vint_decode,
            vint_encode,
        )

        out = []
        for blob, n_full, sdoc in zip(tail, nfb, single):
            if blob is None or len(blob) == 0 or int(n_full) > 0 or int(sdoc) >= 0:
                out.append(blob)
                continue
            stream = vint_decode(bytes(blob))
            stream[0] = int(stream[0]) + (offset << 1)
            out.append(vint_encode(np.asarray(stream, dtype=np.int64)))
        return pd.Series(out)

    return fix


def _shift_segments(src_seg: DataFrame, seg_shift: int, offset: int) -> DataFrame:
    fix_tail = _shift_tail_udf(offset)
    shift_arr = lambda c: F.transform(F.col(c), lambda x: x + F.lit(offset))  # noqa: E731
    return (
        src_seg.withColumn("tail_blob", fix_tail("tail_blob", "n_full_blocks", "singleton_doc"))
        .withColumn("segment_id", F.col("segment_id") + F.lit(seg_shift))
        .withColumn("block_first", shift_arr("block_first"))
        .withColumn("block_last", shift_arr("block_last"))
        .withColumn(
            "singleton_doc",
            F.when(F.col("singleton_doc") >= 0, F.col("singleton_doc") + F.lit(offset))
            .otherwise(F.col("singleton_doc")),
        )
    )


def add_indexes(
    spark: SparkSession, dst: SegmentIndex, src: SegmentIndex
) -> SegmentIndex:
    """Append ``src``'s segments to ``dst`` with doc IDs rebased past
    ``dst``'s last segment. Returns the updated handle (``dst.base``)."""
    mdst, msrc = dst.manifest(), src.manifest()
    if dst.segment_size != src.segment_size:
        raise ValueError(
            f"segment_size mismatch: {dst.segment_size} != {src.segment_size}"
        )
    seg_shift = max(s["segment_id"] for s in mdst["segments"]) + 1
    offset = seg_shift * dst.segment_size
    # a crashed graft's leftovers would mix into the partitioned appends
    clear_orphans(dst.base, mdst)

    # segments: shift metadata columns, append (no re-encode)
    _shift_segments(src.segments(spark), seg_shift, offset).write.mode(
        "append"
    ).partitionBy("segment_id").parquet(dst.segments_path)

    # per-doc table: same rebase
    (
        src.seg_docs(spark)
        .withColumn("doc_id", F.col("doc_id") + F.lit(offset))
        .withColumn("segment_id", F.col("segment_id") + F.lit(seg_shift))
        .write.mode("append")
        .partitionBy("segment_id")
        .parquet(dst.seg_docs_path)
    )

    # dictionary: merge into a fresh table
    ts_name = fresh_name(mdst, "term_stats")
    (
        dst.term_stats(spark)
        .unionByName(src.term_stats(spark))
        .groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("ttf").alias("ttf"))
        .repartitionByRange(4, "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(f"{dst.base}/{ts_name}")
    )

    # lineage for the grafted segments: recompute the content CRC from
    # the WRITTEN rows (singleton_doc / tail_blob changed), scanning
    # only the appended partitions
    appended_ids = [int(s["segment_id"]) + seg_shift for s in msrc["segments"]]
    crc_rows = (
        spark.read.option("basePath", dst.segments_path)
        .parquet(*(f"{dst.segments_path}/segment_id={i}" for i in appended_ids))
        .groupBy("segment_id")
        .agg(
            F.sum(
                F.crc32(F.encode(F.col("term"), "utf-8"))
                + F.crc32(F.coalesce(F.col("doc_blob"), F.lit(b"")))
                + F.crc32(F.coalesce(F.col("tf_blob"), F.lit(b"")))
                + F.crc32(F.coalesce(F.col("tail_blob"), F.lit(b"")))
                + F.col("df")
                + F.col("singleton_doc")
            ).alias("content_crc")
        )
        .collect()
    )
    crc = {int(r["segment_id"]): int(r["content_crc"]) for r in crc_rows}
    grafted = [
        {
            **s,
            "segment_id": int(s["segment_id"]) + seg_shift,
            "content_crc": crc[int(s["segment_id"]) + seg_shift],
            "min_doc": int(s["min_doc"]) + offset,
            "max_doc": int(s["max_doc"]) + offset,
        }
        for s in msrc["segments"]
    ]
    manifest = {
        **mdst,
        "doc_count": mdst["doc_count"] + msrc["doc_count"],
        "sum_ttf": mdst["sum_ttf"] + msrc["sum_ttf"],
        # docIDs are never reused: the next append starts past the graft
        "next_doc_id": max(s["max_doc"] for s in grafted) + 1,
        "term_stats": ts_name,
        "segments": sorted(
            mdst["segments"] + grafted, key=lambda s: s["segment_id"]
        ),
    }
    commit(dst.base, manifest)

    return SegmentIndex(
        base=dst.base,
        doc_count=manifest["doc_count"],
        sum_ttf=manifest["sum_ttf"],
        segment_size=dst.segment_size,
    )
