"""Tiered segment merging: policy + merge job.

Mirrors Lucene's ``TieredMergePolicy`` (``index/TieredMergePolicy.java``):
knobs (``:85-92``): segsPerTier=10.0, maxMergeAtOnce=10, maxMergedSegment
=5 GB, floorSegment=2 MB; selection (``findMerges`` ``:321``): sort
segments by size desc, compute the allowed segment budget from the total
index size (tiers of segsPerTier per size level), and while over budget
score candidate merges, picking the LOWEST score:
``score = skew * pow(totalMergeBytes, 0.05)`` where
``skew = floorSize(largest) / totalFloored`` (``:658-703``; the deletes
reclaim factor is 1 here — append-only corpus, SURVEY.md §1.1).

The merge itself is Lucene's ``SegmentMerger`` (``index/SegmentMerger.java:
109-136``) over the doc-range segments of operators.segments, with no
docID remapping needed (docIDs are globally dense already):

1. one Spark task per merge reads the children's files with pyarrow —
   independent merges run as concurrent jobs, one per driver thread;
2. the task decodes each child term row, drops tombstoned docs and their
   positions (DocIDMerger skips deleted docs) and re-encodes the
   survivors term by term with ``operators.segments.encode_segment``, the
   build's encoder, taking norms from the children's seg_docs rows;
3. ``operators.segments.write_segment`` writes the merged segment under
   its new id, which no manifest names yet, and returns its manifest row.
   One ``operators.segments.commit`` publishes it with the shrunk
   dictionary and tombstone table of a purging merge; the commit then
   deletes the children — a crash at any point leaves either the old
   manifest over intact children or the new manifest over the merged
   segment (``index/IndexWriter.java:3367`` prepareCommit).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from lucene_solr_spark.codecs.postings_codec import decode_positions_batch, decode_postings
from lucene_solr_spark.operators.segments import (
    SegmentIndex,
    commit,
    encode_segment,
    fresh_name,
    read_segment,
    segment_path,
    table_path,
    write_segment,
)

__all__ = ["TieredMergePolicy", "find_merges", "merge_segments", "run_merges"]


@dataclass
class TieredMergePolicy:
    segs_per_tier: float = 10.0  # TieredMergePolicy.java:88
    max_merge_at_once: int = 10  # :85
    max_merged_segment_bytes: int = 5 * 1024**3  # :86 (5 GB)
    floor_segment_bytes: int = 2 * 1024**2  # :87 (2 MB)

    def floored(self, size: int) -> int:
        return max(int(size), self.floor_segment_bytes)


def _segment_size_bytes(seg: dict) -> int:
    """Size proxy: encoded posting volume. On disk this is what the merged
    parquet will roughly weigh; the policy only needs relative sizes."""
    return int(seg.get("size_bytes") or seg["n_postings"] * 8)


def find_merges(
    segments: list[dict], policy: TieredMergePolicy = TieredMergePolicy()
) -> list[list[int]]:
    """Segment manifest rows → list of merges (each a list of segment_ids).

    Follows findMerges: compute allowedSegCount from the tier structure,
    then repeatedly pick the lowest-score window of up to maxMergeAtOnce
    consecutive (in size-desc order) segments whose merged size fits."""
    segs = [
        {"id": s["segment_id"], "bytes": _segment_size_bytes(s)} for s in segments
    ]
    segs.sort(key=lambda s: -s["bytes"])
    total = sum(policy.floored(s["bytes"]) for s in segs)

    # allowed count: levels of segsPerTier starting at the smallest
    # (floored) segment size, ×maxMergeAtOnce per level (findMerges :378-401)
    allowed = 0.0
    level = float(
        policy.floored(min((s["bytes"] for s in segs), default=policy.floor_segment_bytes))
    )
    remaining = float(total)
    while True:
        seg_count_level = remaining / level
        if seg_count_level < policy.segs_per_tier:
            allowed += np.ceil(seg_count_level)
            break
        allowed += policy.segs_per_tier
        remaining -= policy.segs_per_tier * level
        level *= policy.max_merge_at_once

    merges: list[list[int]] = []
    eligible = list(segs)
    while len(eligible) > max(allowed, 1):
        best: tuple[float, list[dict]] | None = None
        for i in range(len(eligible)):
            cand: list[dict] = []
            cand_bytes = 0
            for j in range(i, min(i + policy.max_merge_at_once, len(eligible))):
                nxt = cand_bytes + eligible[j]["bytes"]
                if nxt > policy.max_merged_segment_bytes and cand:
                    break
                cand.append(eligible[j])
                cand_bytes = nxt
            if len(cand) < 2:
                continue
            floored = [policy.floored(c["bytes"]) for c in cand]
            skew = max(floored) / sum(floored)  # :678-686
            score = skew * (cand_bytes ** 0.05)  # :699-703
            if best is None or score < best[0]:
                best = (score, cand)
        if best is None:
            break
        chosen = best[1]
        merges.append([c["id"] for c in chosen])
        chosen_ids = {c["id"] for c in chosen}
        eligible = [s for s in eligible if s["id"] not in chosen_ids]
    return merges


def _merge_task(
    base: str, child_ids: list[int], tomb_path: str | None, new_id: int
) -> dict:
    """``SegmentMerger`` in one task: read the children's files, decode
    every term row, drop tombstoned docs with their positions (DocIDMerger
    skips deleted docs), and re-encode the survivors with the build's
    encoder. A merged segment is thus byte-identical to building its live
    docs as one segment. Returns the merged segment's manifest row."""
    from lucene_solr_spark.operators.topk import _row_to_encoded

    rows = pa.concat_tables([read_segment(base, "segments", c) for c in child_ids])
    docs = pa.concat_tables([read_segment(base, "seg_docs", c) for c in child_ids])
    dead = np.empty(0, np.int64)
    if tomb_path is not None and docs.num_rows:
        ids = docs["doc_id"]
        lo, hi = pc.min(ids).as_py(), pc.max(ids).as_py()
        dead = pq.read_table(
            tomb_path, columns=["doc_id"], filters=[("doc_id", ">=", lo), ("doc_id", "<=", hi)]
        )["doc_id"].to_numpy()
        docs = docs.filter(pc.invert(pc.is_in(ids, value_set=pa.array(dead))))
    has_pos = rows["pos_off"].null_count == 0
    terms, doc_parts, tf_parts, positions = [], [], [], []
    for r in rows.to_pandas().itertuples(index=False):
        enc = _row_to_encoded(r)
        d, t = decode_postings(enc)
        keep = np.flatnonzero(~np.isin(d, dead))
        terms.append(np.full(keep.size, r.term, dtype=object))
        doc_parts.append(d[keep])
        tf_parts.append(t[keep])
        if has_pos and keep.size:
            pos, counts = decode_positions_batch(enc.pos_blob, enc.pos_off, keep)
            positions += np.split(pos, np.cumsum(counts)[:-1])
    postings = pd.DataFrame(
        {
            "term": np.concatenate(terms) if terms else np.empty(0, object),
            "doc_id": np.concatenate(doc_parts) if doc_parts else np.empty(0, np.int64),
            "tf": np.concatenate(tf_parts) if tf_parts else np.empty(0, np.int64),
        }
    )
    if has_pos:
        postings["positions"] = positions
    return write_segment(base, new_id, encode_segment(postings, docs.to_pandas()), docs)


def merge_segments(
    spark: SparkSession, index: SegmentIndex, child_ids: list[int]
) -> int:
    """Merge the given segments into one new segment; returns its id.

    One Spark task holds the whole merge, as ``SegmentMerger`` does: its
    peak memory is the decoded postings of the children."""
    manifest = index.manifest()
    # ids are opaque ordinals (doc ranges live in the manifest); max+1 is
    # always collision-free, including with streaming-appended segments
    new_id = max(s["segment_id"] for s in manifest["segments"]) + 1
    build = _build_merged_segment(spark, index, manifest, child_ids, new_id)
    _commit_merged_segment(spark, index, build)
    return int(new_id)


def _build_merged_segment(
    spark: SparkSession,
    index: SegmentIndex,
    manifest: dict,
    child_ids: list[int],
    new_id: int,
) -> dict:
    """Build phase: one Spark task merges the children and writes the
    merged segment under ``new_id`` (``_merge_task``). It writes only the
    (not yet committed) ``new_id`` dirs and reads only this merge's child
    dirs, so independent merges (disjoint child sets) can run this
    concurrently from driver threads."""
    by_id = {s["segment_id"]: s for s in manifest["segments"]}
    children = [by_id[c] for c in child_ids]
    base = index.base
    tomb_path = table_path(base, manifest, "tombstones")
    meta = (
        spark.sparkContext.parallelize([new_id], 1)
        .map(lambda sid: _merge_task(base, child_ids, tomb_path, sid))
        .collect()[0]
    )
    return {"meta": meta, "children": children}


def _commit_merged_segment(
    spark: SparkSession, index: SegmentIndex, build: dict
) -> None:
    """Commit phase: publish one built merge. SINGLE-WRITER — the caller
    serializes commits. A purging merge also rebuilds the dictionary and
    drops the tombstones it purged, under fresh names, in the same
    commit."""
    merged_meta = build["meta"]
    children = build["children"]
    child_ids = {c["segment_id"] for c in children}
    # fresh manifest: earlier commits in the same scheduling round have
    # already removed THEIR children (disjoint from ours by construction)
    manifest = index.manifest()
    n_purged = sum(c["n_docs"] for c in children) - merged_meta["n_docs"]
    manifest["segments"] = sorted(
        [s for s in manifest["segments"] if s["segment_id"] not in child_ids]
        + [merged_meta],
        key=lambda s: s["segment_id"],
    )
    if n_purged > 0:
        # purging merge: collection stats shrink to the live survivors
        # (Lucene: docCount/sumTotalTermFreq re-derive from segment stats
        # once deleted docs are merged away); next_doc_id watermark keeps
        # docIDs from ever being reused by appends
        manifest.setdefault("next_doc_id", manifest["doc_count"])
        manifest["doc_count"] = sum(s["n_docs"] for s in manifest["segments"])
        manifest["sum_ttf"] = sum(s["sum_tf"] for s in manifest["segments"])
        # the global dictionary shrinks too: rebuild it from the segments
        # the new manifest names
        ts_name = fresh_name(manifest, "term_stats")
        (
            spark.read.option("basePath", index.segments_path)
            .parquet(
                *(
                    segment_path(index.base, "segments", s["segment_id"])
                    for s in manifest["segments"]
                )
            )
            .groupBy("term")
            .agg(F.sum("df").alias("df"), F.sum("ttf").alias("ttf"))
            .repartitionByRange(4, "term")
            .sortWithinPartitions("term")
            .write.mode("overwrite")
            .parquet(f"{index.base}/{ts_name}")
        )
        manifest["term_stats"] = ts_name
        # tombstones covered by the merged ranges name docs that no
        # longer exist anywhere: drop them with the purge
        cond = None
        for c in children:
            cc = (F.col("doc_id") >= c["min_doc"]) & (
                F.col("doc_id") <= c["max_doc"]
            )
            cond = cc if cond is None else cond | cc
        remaining = spark.read.parquet(
            table_path(index.base, manifest, "tombstones")
        ).filter(~cond)
        manifest["n_deleted"] = remaining.count()
        if manifest["n_deleted"]:
            manifest["tombstones"] = fresh_name(manifest, "tombstones")
            remaining.sortWithinPartitions("doc_id").write.mode(
                "overwrite"
            ).parquet(f"{index.base}/{manifest['tombstones']}")
        else:
            manifest.pop("tombstones")
    commit(index.base, manifest)


def run_merges(
    spark: SparkSession,
    index: SegmentIndex,
    policy: TieredMergePolicy = TieredMergePolicy(),
    max_concurrency: int = 4,
) -> list[int]:
    """ConcurrentMergeScheduler (``index/ConcurrentMergeScheduler.java``):
    the selected merges have disjoint child sets by construction
    (find_merges removes chosen segments from the eligible pool), so
    their distributed BUILD phases run concurrently — each from its own
    driver thread in its own FAIR scheduler pool, sharing executor slots
    as independent Spark jobs. Manifest COMMITS stay sequential in
    selection order (the manifest is single-writer); commit cost is
    O(metadata), so serializing it costs nothing at scale."""
    manifest = index.manifest()
    merges = find_merges(manifest["segments"], policy)
    if not merges:
        return []
    base_id = max(s["segment_id"] for s in manifest["segments"]) + 1
    sc = spark.sparkContext

    def build(i: int) -> dict:
        # local properties are per-thread in PySpark (pinned-thread mode):
        # each merge's jobs land in their own FAIR pool
        sc.setLocalProperty("spark.scheduler.pool", f"merge_{base_id + i}")
        try:
            return _build_merged_segment(
                spark, index, manifest, merges[i], base_id + i
            )
        finally:
            sc.setLocalProperty("spark.scheduler.pool", None)

    if max_concurrency <= 1 or len(merges) == 1:
        builds = [build(i) for i in range(len(merges))]
    else:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(
            max_workers=min(max_concurrency, len(merges))
        ) as pool:
            builds = list(pool.map(build, range(len(merges))))
    out: list[int] = []
    for b in builds:
        _commit_merged_segment(spark, index, b)
        out.append(int(b["meta"]["segment_id"]))
    return out
