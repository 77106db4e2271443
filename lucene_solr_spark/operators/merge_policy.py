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

The merge itself is a DISTRIBUTED Spark job over the doc-range segments
of operators.segments — the ``SegmentMerger``/``DocIDMerger`` path
(``index/SegmentMerger.java:109-136``) with no docID remapping needed
(docIDs are globally dense already):

1. norms attach per CHILD segment via a cogroup on segment_id (each
   task touches one child's postings + its own seg_docs — nothing is
   collected to the driver, peak memory is one child segment);
2. re-encode runs per TERM over a ``repartitionByRange("term")`` layout
   with a streaming kernel that carries split term groups across Arrow
   batches — many parallel tasks, term-sorted output files (row-group
   stats stay prunable, mirroring Lucene's term-sorted merged segment),
   no single-task ``coalesce(1)`` bottleneck;
3. the merged segment is written under its new id, which no manifest
   names yet, and one ``operators.segments.commit`` publishes it with the
   shrunk dictionary and tombstone table of a purging merge; the commit
   then deletes the children — a crash at any point leaves either the
   old manifest over intact children or the new manifest over the merged
   segment (``index/IndexWriter.java:3367`` prepareCommit).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from lucene_solr_spark.codecs.postings_codec import decode_postings, encode_postings
from lucene_solr_spark.operators.segments import (
    SEGMENT_SCHEMA,
    SegmentIndex,
    commit,
    fresh_name,
    table_path,
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


def _encode_term_group(g: pd.DataFrame) -> dict:
    """Concatenate one term's child rows (disjoint doc ranges, sorted into
    global doc order) and re-encode postings + impacts + positions."""
    from lucene_solr_spark.operators.topk import _row_to_encoded

    recs = list(g.itertuples())

    def first_doc(r):
        if r.singleton_doc >= 0:
            return r.singleton_doc
        bf = r.block_first
        bl = r.block_last
        if bf is not None and len(bf):
            return bf[0]
        return bl[0] if bl is not None and len(bl) else 0

    recs.sort(key=first_doc)
    has_pos = all(getattr(r, "pos_off", None) is not None for r in recs)
    docs_parts, tf_parts, norm_parts = [], [], []
    live_masks = []
    any_deleted = False
    for r in recs:
        enc = _row_to_encoded(r)
        d, t = decode_postings(enc)
        # per-posting norms travel with the merge input so re-encoded
        # impact frontiers are exact (CompetitiveImpactAccumulator over
        # the merged lists); norm == -1 marks a TOMBSTONED doc
        # (DocIDMerger skips deleted docs) — purged here
        nrm = np.asarray(r.norms_concat, np.int64)
        live = nrm >= 0
        if not live.all():
            any_deleted = True
            d, t, nrm = d[live], t[live], nrm[live]
        live_masks.append(live)
        docs_parts.append(d)
        tf_parts.append(t)
        norm_parts.append(nrm)
    docs = np.concatenate(docs_parts)
    if docs.size == 0:
        return None  # every posting of this term was tombstoned
    tfs = np.concatenate(tf_parts)
    norms = np.concatenate(norm_parts)
    enc = encode_postings(docs, tfs, norms)
    pos_blobs = []
    pos_offs = [np.zeros(1, np.int64)]
    if has_pos and not any_deleted:
        # fast path: positions merge = byte-concat of per-posting blobs in
        # doc order (each posting's VInt-delta list is self-contained)
        base_off = 0
        for r in recs:
            blob = bytes(r.pos_blob) if r.pos_blob is not None else b""
            off = np.asarray(r.pos_off, np.int64)
            pos_blobs.append(blob)
            pos_offs.append(off[1:] + base_off)
            base_off += len(blob)
    elif has_pos:
        # purge path: re-slice surviving postings' position lists
        from lucene_solr_spark.codecs.postings_codec import (
            decode_positions_batch,
            encode_positions,
        )

        plists = []
        for r, live in zip(recs, live_masks):
            keep_idx = np.nonzero(live)[0]
            if keep_idx.size == 0:
                # np.split on zero counts would yield ONE spurious empty
                # list, shifting every later posting's positions — skip
                continue
            enc_r = _row_to_encoded(r)
            pos, counts = decode_positions_batch(
                enc_r.pos_blob, enc_r.pos_off, keep_idx
            )
            plists.extend(np.split(pos, np.cumsum(counts)[:-1]))
        blob, offs = encode_positions(plists)
        pos_blobs = [blob]
        pos_offs = [offs]
    return {
        "term": recs[0].term,
        "df": enc.df,
        "ttf": enc.ttf,
        "doc_blob": enc.doc_blob,
        "tf_blob": enc.tf_blob,
        "tail_blob": enc.tail_blob,
        "n_full_blocks": enc.n_full_blocks,
        "block_first": enc.block_first.tolist(),
        "block_last": enc.block_last.tolist(),
        "imp_freq": enc.imp_freq.tolist(),
        "imp_norm": enc.imp_norm.tolist(),
        "imp_off": enc.imp_off.tolist(),
        "singleton_doc": enc.singleton_doc,
        "singleton_tf": enc.singleton_tf,
        "pos_blob": b"".join(pos_blobs) if has_pos else None,
        "pos_off": np.concatenate(pos_offs).tolist() if has_pos else None,
    }


_OUT_COLS = [f.name for f in SEGMENT_SCHEMA.fields if f.name != "segment_id"]


def _reencode_stream(pdf_iter):
    """Streaming per-term re-encode over a term-range partition.

    Rows arrive term-sorted (repartitionByRange + sortWithinPartitions);
    a term split across Arrow batch boundaries is buffered and finished in
    the next batch, so memory is bounded by one batch + one term."""
    buf: pd.DataFrame | None = None
    for pdf in pdf_iter:
        if pdf.empty:
            continue
        if buf is not None:
            pdf = pd.concat([buf, pdf], ignore_index=True)
        last_term = pdf["term"].iloc[-1]
        tail_mask = pdf["term"].to_numpy() == last_term
        complete = pdf[~tail_mask]
        buf = pdf[tail_mask]
        if not complete.empty:
            rows = [
                r
                for _, g in complete.groupby("term", sort=True)
                if (r := _encode_term_group(g)) is not None
            ]
            yield pd.DataFrame(rows, columns=_OUT_COLS)
    if buf is not None and not buf.empty:
        rows = [
            r
            for _, g in buf.groupby("term", sort=True)
            if (r := _encode_term_group(g)) is not None
        ]
        yield pd.DataFrame(rows, columns=_OUT_COLS)


def merge_segments(
    spark: SparkSession, index: SegmentIndex, child_ids: list[int]
) -> int:
    """Merge the given segments into one new segment; returns its id.

    Fully distributed: no stage materializes more than one child segment
    (norm attach) or one term-range partition (re-encode) per task."""
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
    """Build phase: all the distributed work of a merge — decode, purge,
    re-encode, write the merged segment under ``new_id``, compute its
    stats. Writes only the (not yet committed) ``new_id`` dirs and reads
    only this merge's child dirs, so independent merges (disjoint child
    sets) can run this concurrently from driver threads."""
    by_id = {s["segment_id"]: s for s in manifest["segments"]}
    children = [by_id[c] for c in child_ids]

    seg_paths = [f"{index.segments_path}/segment_id={c}" for c in child_ids]
    doc_paths = [f"{index.seg_docs_path}/segment_id={c}" for c in child_ids]
    # basePath keeps the segment_id partition column for the cogroup key
    rows = spark.read.option("basePath", index.segments_path).parquet(*seg_paths)
    seg_docs = spark.read.option("basePath", index.seg_docs_path).parquet(
        *doc_paths
    )
    # merge purges tombstoned docs (DocIDMerger skips deleted): anti-join
    # the live-docs table down BEFORE the norm attach — decoded postings
    # that miss from seg_docs are then recognized as deleted in the kernel
    tomb_path = table_path(index.base, manifest, "tombstones")
    if tomb_path is not None:
        tombs_df = spark.read.parquet(tomb_path).select("doc_id")
        seg_docs = seg_docs.join(tombs_df, "doc_id", "left_anti")

    import pyspark.sql.types as T

    with_norms_schema = T.StructType(
        [f for f in rows.schema.fields if f.name != "segment_id"]
        + [T.StructField("norms_concat", T.ArrayType(T.LongType()), True)]
    )

    def add_norms(key: tuple, rows_pdf: pd.DataFrame, docs_pdf: pd.DataFrame):
        """Attach per-posting norms from THIS child's seg_docs only — a
        child's postings reference only its own doc range, so the cogroup
        is exact and per-task memory is one child segment."""
        from lucene_solr_spark.operators.topk import _row_to_encoded

        if rows_pdf.empty:
            return pd.DataFrame(columns=[f.name for f in with_norms_schema.fields])
        docs_pdf = docs_pdf.sort_values("doc_id")
        sdocs = docs_pdf["doc_id"].to_numpy(np.int64)
        snorms = docs_pdf["norm"].to_numpy(np.int64)
        out = rows_pdf.drop(columns=["segment_id"]).copy()
        norms_col = []
        for r in rows_pdf.itertuples():
            d, _ = decode_postings(_row_to_encoded(r))
            if len(sdocs) == 0:
                norms_col.append([-1] * len(d))
                continue
            idx = np.searchsorted(sdocs, d)
            idxc = np.clip(idx, 0, len(sdocs) - 1)
            # -1 = tombstoned (doc anti-joined out of seg_docs)
            n = np.where(sdocs[idxc] == d, snorms[idxc], -1)
            norms_col.append(n.tolist())
        out["norms_concat"] = norms_col
        return out

    enriched = (
        rows.groupBy("segment_id")
        .cogroup(seg_docs.select("segment_id", "doc_id", "norm").groupBy("segment_id"))
        .applyInPandas(add_norms, schema=with_norms_schema)
    )

    # parallel re-encode: term-range partitions sized to the merge
    # (≈2M postings per task), term-sorted files → row-group stats prune
    total_postings = sum(c["n_postings"] for c in children)
    n_parts = max(1, min(256, total_postings // 2_000_000 + 1))
    out_schema = T.StructType(
        [f for f in SEGMENT_SCHEMA.fields if f.name != "segment_id"]
    )
    merged = (
        enriched.repartitionByRange(n_parts, "term")
        .sortWithinPartitions("term")
        .mapInPandas(_reencode_stream, schema=out_schema)
    )

    seg_path = f"{index.segments_path}/segment_id={new_id}"
    merged.write.mode("overwrite").parquet(seg_path)

    # seg_docs for the merged range = concat of children (already disjoint)
    total_docs = sum(c["n_docs"] for c in children)
    doc_parts = max(1, min(64, total_docs // 4_000_000 + 1))
    docs_path = f"{index.seg_docs_path}/segment_id={new_id}"
    seg_docs.drop("segment_id").repartitionByRange(
        doc_parts, "doc_id"
    ).sortWithinPartitions("doc_id").write.mode("overwrite").parquet(docs_path)

    # merged-segment stats from the WRITTEN data (a purging merge shrinks
    # doc/posting counts — SegmentMerger writes exact per-segment stats)
    stats = (
        spark.read.parquet(seg_path)
        .agg(
            F.count("*").alias("nt"),
            F.sum("df").alias("np"),
            F.sum("ttf").alias("st"),
        )
        .collect()[0]
    )
    dstats = (
        spark.read.parquet(docs_path)
        .agg(
            F.count("*").alias("n"),
            F.min("doc_id").alias("mn"),
            F.max("doc_id").alias("mx"),
        )
        .collect()[0]
    )
    merged_meta = {
        "segment_id": int(new_id),
        "n_docs": int(dstats["n"]),
        "min_doc": int(dstats["mn"]) if dstats["mn"] is not None else -1,
        "max_doc": int(dstats["mx"]) if dstats["mx"] is not None else -1,
        "n_terms": int(stats["nt"] or 0),
        "n_postings": int(stats["np"] or 0),
        "sum_tf": int(stats["st"] or 0),
        "content_crc": 0,
    }
    return {"meta": merged_meta, "children": children}


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
                    f"{index.segments_path}/segment_id={s['segment_id']}"
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
