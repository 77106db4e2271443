"""IndexWriter.addIndexes(Directory...) role (``index/IndexWriter.java:
3120-3180``): graft one on-disk index into another WITHOUT re-encoding.

The reference copies incoming segment files verbatim and rebases their
doc IDs by the destination's maxDoc. The same property holds here by
construction: postings blobs store per-block doc DELTAS, so shifting a
segment to a new doc base only touches the absolute metadata columns —
``block_first`` / ``block_last`` / ``singleton_doc`` — never the packed
blocks. The single exception is the tail VInt stream of postings with NO
full blocks: its first code encodes ``first_doc+1`` absolutely, so
exactly one VInt per such (small, df<128) posting is rewritten. tf
blobs, positions, and impacts are doc-base-invariant. One Spark task per
source segment reads its files, shifts them and writes them with the
segment writer every index writer shares
(``operators.segments.write_segment``), which returns the grafted
segment's manifest row; one ``commit`` publishes them all.

Doc IDs are rebased to the next segment boundary (incoming segment k
becomes segment n_dst+k), which may leave an ID gap after the
destination's last partial segment — the reference's addIndexes also
never compacts doc IDs.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from lucene_solr_spark.codecs.postings_codec import vint_decode, vint_encode
from lucene_solr_spark.operators.segments import (
    SegmentIndex,
    clear_orphans,
    commit,
    fresh_name,
    read_segment,
    write_segment,
)

__all__ = ["add_indexes"]


def _graft_task(src: str, dst: str, sid: int, seg_shift: int, offset: int) -> dict:
    """Rebase source segment ``sid`` by ``offset`` docs and write it into
    ``dst`` as segment ``sid + seg_shift``; returns its manifest row.

    Only the absolute doc columns change. The one exception in the blobs
    is the tail VInt stream of a posting with no full blocks: its first
    code is ((first_doc+1)<<1 | tf==1) and every later code a doc delta,
    so += offset<<1 on code 0 rebases the whole posting."""
    rows = read_segment(src, "segments", sid)
    docs = read_segment(src, "seg_docs", sid)

    def shifted(name: str) -> pa.Array:
        return pa.array(
            [None if v is None else [d + offset for d in v] for v in rows[name].to_pylist()],
            rows.schema.field(name).type,
        )

    tails = []
    for blob, n_full, single in zip(
        *(rows[c].to_pylist() for c in ("tail_blob", "n_full_blocks", "singleton_doc"))
    ):
        if blob and n_full == 0 and single < 0:
            stream = vint_decode(blob)
            stream[0] = int(stream[0]) + (offset << 1)
            blob = vint_encode(np.asarray(stream, dtype=np.int64))
        tails.append(blob)
    single = rows["singleton_doc"]
    columns = {
        "tail_blob": pa.array(tails, pa.binary()),
        "block_first": shifted("block_first"),
        "block_last": shifted("block_last"),
        "singleton_doc": pc.if_else(pc.greater_equal(single, 0), pc.add(single, offset), single),
    }
    for name, col in columns.items():
        rows = rows.set_column(rows.schema.get_field_index(name), rows.schema.field(name), col)
    docs = docs.set_column(0, docs.schema.field("doc_id"), pc.add(docs["doc_id"], offset))
    return write_segment(dst, sid + seg_shift, rows, docs)


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
    # drop a crashed writer's leftover segment dirs
    clear_orphans(dst.base, mdst)

    # segments: one task per source segment shifts and writes it
    src_base, dst_base = src.base, dst.base
    src_ids = [int(s["segment_id"]) for s in msrc["segments"]]
    grafted = (
        spark.sparkContext.parallelize(src_ids, len(src_ids))
        .map(lambda sid: _graft_task(src_base, dst_base, sid, seg_shift, offset))
        .collect()
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
