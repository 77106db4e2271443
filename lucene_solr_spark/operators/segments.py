"""Doc-partitioned encoded segments: the Spark re-expression of Lucene's
segment model (``index/SegmentInfos.java:54-63`` — a commit is a manifest
listing immutable self-contained mini-indexes).

Layout choice (SURVEY.md §3.2): a segment is a RANGE OF docIDs holding the
encoded postings of every term for those docs — exactly Lucene's
leaf/segment shape, and the shape distributed search needs: a query is
broadcast to all segments, each computes a local top-k over its own
postings + norms (no per-query shuffle), the driver merges
(``search/TopDocs.java:71-117``). Term-partitioned layouts would need a
shuffle per query to co-locate a doc's terms.

Scale properties:
- ``segment_id = doc_id // segment_size`` — deterministic, independent of
  cluster size (docIDs are themselves deterministic dense ranks,
  operators.index_build.assign_doc_ids). Zipf head terms never concentrate:
  a term's postings within one segment are bounded by segment_size, so the
  encode of "def"/"the" is spread across every segment instead of one
  reducer (this is the skew answer for the 10^12-file target).
- postings are written sorted by term within each segment file → Parquet
  row-group min/max stats on ``term`` prune query scans (the FST term-index
  role, ``codecs/lucene90/blocktree/...:172-187``).
- per-segment manifest row with lineage (doc range, row counts, content
  sha256 of the encoded blobs) written AFTER segment data — resume =
  anti-join manifest (idempotent: same input partition → byte-identical
  segment, the checkpoint contract of BASELINE.json north_rule).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lucene_solr_spark.codecs.postings_codec import encode_positions, encode_postings
from lucene_solr_spark.operators.index_build import InvertedIndex

__all__ = ["SegmentIndex", "build_segments", "commit", "SEGMENT_SCHEMA"]

SEGMENT_SCHEMA = T.StructType(
    [
        T.StructField("segment_id", T.LongType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("df", T.LongType(), False),
        T.StructField("ttf", T.LongType(), False),
        T.StructField("doc_blob", T.BinaryType(), True),
        T.StructField("tf_blob", T.BinaryType(), True),
        T.StructField("tail_blob", T.BinaryType(), True),
        T.StructField("n_full_blocks", T.IntegerType(), False),
        T.StructField("block_first", T.ArrayType(T.LongType()), True),
        T.StructField("block_last", T.ArrayType(T.LongType()), True),
        T.StructField("imp_freq", T.ArrayType(T.IntegerType()), True),
        T.StructField("imp_norm", T.ArrayType(T.IntegerType()), True),
        T.StructField("imp_off", T.ArrayType(T.IntegerType()), True),
        T.StructField("singleton_doc", T.LongType(), False),
        T.StructField("singleton_tf", T.LongType(), False),
        T.StructField("pos_blob", T.BinaryType(), True),
        T.StructField("pos_off", T.ArrayType(T.LongType()), True),
    ]
)


@dataclass
class SegmentIndex:
    """Handle to an on-disk segmented index.

    base/
      manifest.json                     the commit point: collection stats,
                                        per-segment lineage, table names
      segments/segment_id=N/*.parquet   encoded term rows (term-sorted)
      seg_docs/segment_id=N/*.parquet   (doc_id, length, norm)
      term_stats[_G]/*.parquet          global (term, df, ttf) dictionary
      tombstones_G/*.parquet            deleted doc_ids (operators.deletes)

    Writers put new data under names no committed manifest uses and
    publish it with ``commit``. Readers resolve every file through the
    manifest at call time, never by listing a directory, so a writer's
    uncommitted or orphaned files are never read. The manifest's
    ``term_stats`` key names the live dictionary (absent: the bare
    ``term_stats/`` of a fresh build) and its ``tombstones`` key the
    tombstone table (absent: no deletes).
    """

    base: str
    doc_count: int
    sum_ttf: int
    segment_size: int
    _df_cache: dict = None  # lazy DataFrame handles keyed by resolved
    # paths (read.parquet is a JVM round-trip with file listing — do it
    # once per committed table, not per call)

    @property
    def segments_path(self) -> str:
        return f"{self.base}/segments"

    @property
    def seg_docs_path(self) -> str:
        return f"{self.base}/seg_docs"

    @property
    def term_stats_path(self) -> str:
        return table_path(self.base, self.manifest(), "term_stats")

    def _cached(
        self, spark: SparkSession, root: str, parts: tuple[str, ...] | None = None
    ) -> DataFrame:
        if self._df_cache is None:
            object.__setattr__(self, "_df_cache", {})
        key = (root, parts)
        if key not in self._df_cache:
            self._df_cache[key] = (
                spark.read.option("basePath", root).parquet(*(f"{root}/{p}" for p in parts))
                if parts is not None
                else spark.read.parquet(root)
            )
        return self._df_cache[key]

    def _committed(self, spark: SparkSession, root: str) -> DataFrame:
        """The manifest's segments of one per-segment table."""
        ids = [s["segment_id"] for s in self.manifest()["segments"]]
        return self._cached(spark, root, tuple(f"segment_id={i}" for i in ids))

    def segments(self, spark: SparkSession) -> DataFrame:
        return self._committed(spark, self.segments_path)

    def seg_docs(self, spark: SparkSession) -> DataFrame:
        return self._committed(spark, self.seg_docs_path)

    def term_stats(self, spark: SparkSession) -> DataFrame:
        return self._cached(spark, self.term_stats_path)

    def manifest(self) -> dict:
        return read_manifest(self.base)

    @staticmethod
    def open(base: str) -> "SegmentIndex":
        m = read_manifest(base)
        return SegmentIndex(
            base=base,
            doc_count=m["doc_count"],
            sum_ttf=m["sum_ttf"],
            segment_size=m["segment_size"],
        )


def read_manifest(base: str) -> dict:
    with open(f"{base}/manifest.json") as f:
        m = json.load(f)
    if "tombstones" not in m and m.get("n_deleted") and os.path.isdir(f"{base}/tombstones"):
        m["tombstones"] = "tombstones"  # an index from before tables were named
    return m


def table_path(base: str, manifest: dict, table: str) -> str | None:
    """Resolve ``term_stats`` or ``tombstones`` through ``manifest``."""
    name = manifest.get(table, "term_stats" if table == "term_stats" else None)
    return None if name is None else f"{base}/{name}"


def fresh_name(manifest: dict, table: str) -> str:
    """A name for ``table`` that the commit following ``manifest`` may
    publish: ``commit`` bumps the generation, so no committed manifest of
    this index has used it."""
    return f"{table}_{manifest.get('generation', 0) + 1}"


def _named(base: str, manifest: dict) -> set[str]:
    paths = {table_path(base, manifest, t) for t in ("term_stats", "tombstones")}
    for s in manifest["segments"]:
        paths.add(f"{base}/segments/segment_id={s['segment_id']}")
        paths.add(f"{base}/seg_docs/segment_id={s['segment_id']}")
    return paths - {None}


def commit(base: str, manifest: dict) -> None:
    """The one commit point (``index/SegmentInfos.java`` role): publish
    ``manifest`` atomically, then delete what the previous manifest named
    and this one does not.

    Every writer writes its new data under fresh names first, derives
    ``manifest`` from the previous one, and calls this. The manifest is
    written to a temp file, fsynced and renamed over ``manifest.json``,
    and the directory is fsynced, so a crash leaves either the old
    snapshot or the new one. A crash during the deletions only leaves
    unreferenced files behind."""
    path = f"{base}/manifest.json"
    prev = read_manifest(base) if os.path.exists(path) else None
    manifest["generation"] = (prev or manifest).get("generation", 0) + 1
    manifest["manifest_sha256"] = hashlib.sha256(
        json.dumps(manifest["segments"], sort_keys=True).encode()
    ).hexdigest()
    fd, tmp = tempfile.mkstemp(dir=base, prefix=".manifest.")
    with os.fdopen(fd, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    dir_fd = os.open(base, os.O_RDONLY)
    try:
        os.fsync(dir_fd)
    finally:
        os.close(dir_fd)
    if prev is not None:
        for gone in sorted(_named(base, prev) - _named(base, manifest)):
            shutil.rmtree(gone, ignore_errors=True)


def clear_orphans(base: str, manifest: dict) -> None:
    """Delete segment dirs ``manifest`` does not name (left by a crashed
    writer), so a partitioned append cannot mix them with new files."""
    named = _named(base, manifest)
    for table in ("segments", "seg_docs"):
        root = f"{base}/{table}"
        for d in os.listdir(root) if os.path.isdir(root) else ():
            if d.startswith("segment_id=") and f"{root}/{d}" not in named:
                shutil.rmtree(f"{root}/{d}")


def _encode_partition(segment_size: int):
    """applyInPandas kernel: one call per segment_id group; encodes every
    term's postings (the per-segment flush,
    ``index/IndexingChain.java:229-296`` sort terms → write postings)."""

    def fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        seg_id = int(key[0])
        if "norm" not in pdf.columns:
            # Norm derived IN-GROUP: the segment is a doc range, so every
            # posting row of a doc is in this group and the norm byte is
            # SmallFloat.intToByte4(Σtf) by definition (DOCS-only rows
            # carry tf=1, summing to uniqueTermCount). Guarded by
            # InvertedIndex.norm_from_tf — encode_frame joins the stored
            # norms instead when the equality does not hold (synonyms).
            from lucene_solr_spark.oracle.smallfloat import int_to_byte4_np

            lengths = pdf.groupby("doc_id")["tf"].sum()
            norm_map = pd.Series(
                int_to_byte4_np(lengths.to_numpy()).astype(np.int64),
                index=lengths.index,
            )
            pdf = pdf.assign(norm=pdf["doc_id"].map(norm_map))
        pdf = pdf.sort_values(["term", "doc_id"], kind="mergesort")
        has_pos = "positions" in pdf.columns
        rows = []
        for term, g in pdf.groupby("term", sort=True):
            enc = encode_postings(
                g["doc_id"].to_numpy(np.int64),
                g["tf"].to_numpy(np.int64),
                g["norm"].to_numpy(np.int64),
            )
            if has_pos:
                pos_blob, pos_off = encode_positions(
                    [np.asarray(p, np.int64) for p in g["positions"]]
                )
            else:
                pos_blob, pos_off = None, None
            rows.append(
                {
                    "segment_id": seg_id,
                    "term": term,
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
                    "pos_blob": pos_blob,
                    "pos_off": pos_off.tolist() if pos_off is not None else None,
                }
            )
        return pd.DataFrame(
            rows, columns=[f.name for f in SEGMENT_SCHEMA.fields]
        )

    return fn


def encode_frame(
    ix: InvertedIndex,
    segment_size: int = 1 << 16,
    skip_segment_ids: list[int] | None = None,
):
    """The segment ENCODE pipeline as a DataFrame, unsunk: doc-range
    segment assignment → one groupBy(segment_id) shuffle → the
    applyInPandas block/impact/position encode kernel emitting term-sorted
    SEGMENT_SCHEMA rows. ``build_segments`` writes this frame; the scaling
    harness (tools/scaling_workload.py) drives it into the ``noop`` sink
    to time encode COMPUTE separately from the parquet write — the
    split the round-3 verdict asked for on the encode+write leg."""
    pos_cols = ["positions"] if "positions" in ix.postings.columns else []
    if getattr(ix, "norm_from_tf", False):
        # No norms join at all: the kernel re-derives the norm byte from
        # Σtf inside each doc-range group (see _encode_partition). This
        # removes a per-doc broadcast that is impossible at 10^9-doc
        # scale (the hint forces it past the autoBroadcast threshold),
        # its driver-side collect+serialize (measured as a data-
        # proportional, core-count-independent cost on the encode leg),
        # and the norm column from every shuffled posting row.
        with_seg = ix.postings.withColumn(
            "segment_id", (F.col("doc_id") / segment_size).cast("long")
        ).select("segment_id", "term", "doc_id", "tf", *pos_cols)
    else:
        with_seg = (
            ix.postings.join(F.broadcast(ix.norms), "doc_id")
            .withColumn("segment_id", (F.col("doc_id") / segment_size).cast("long"))
            .select("segment_id", "term", "doc_id", "tf", "norm", *pos_cols)
        )
    if skip_segment_ids:
        with_seg = with_seg.filter(~F.col("segment_id").isin(skip_segment_ids))
    # Bucket-skew guard (measured: the 2x encode-scaling ceiling at N=16
    # was NOT IO — tmpfs shuffle dirs changed nothing — but segment ids
    # HASHING into only spark.sql.shuffle.partitions buckets: 59 segments
    # over 16 buckets puts ~2x the mean into the worst bucket, and the
    # stage runs at the speed of that bucket). Fix: RANGE-partition the
    # encode shuffle on segment_id — contiguous ids per partition,
    # boundaries from the row sampler, so partitions are balanced by ROWS
    # (imbalance ≤ ceil(S/p)/(S/p) instead of the hash-collision tail).
    # Task count is bounded at 4x the cluster parallelism, so tiny-task
    # overhead never dominates small builds and web-scale builds don't
    # schedule one task per 10^6 segments. RangePartitioning(segment_id)
    # satisfies the groupBy's ClusteredDistribution, so Catalyst inserts
    # NO second exchange before applyInPandas.
    spark = ix.postings.sparkSession
    n_segments = max(1, -(-int(ix.doc_count) // segment_size))
    par = max(1, spark.sparkContext.defaultParallelism)
    n_parts = min(n_segments, 4 * par)
    return (
        with_seg.repartitionByRange(n_parts, "segment_id")
        .groupBy("segment_id")
        .applyInPandas(_encode_partition(segment_size), schema=SEGMENT_SCHEMA)
    )


def build_segments(
    ix: InvertedIndex,
    base: str,
    *,
    segment_size: int = 1 << 16,
    resume: bool = False,
) -> SegmentIndex:
    """InvertedIndex (relational postings) → encoded on-disk SegmentIndex.

    ``resume=True`` skips segments already recorded in the manifest (the
    prepareCommit/commit two-phase contract: data files first, manifest
    row only after — ``index/IndexWriter.java:3367``)."""
    spark = ix.postings.sparkSession
    prev: dict = {}
    if resume and os.path.exists(f"{base}/manifest.json"):
        prev = read_manifest(base)
        clear_orphans(base, prev)
    done = [int(s["segment_id"]) for s in prev.get("segments", [])]

    enc = encode_frame(ix, segment_size, skip_segment_ids=done)
    # No repartition before the write: the groupBy already placed each
    # segment wholly inside one task, and _encode_partition emits its rows
    # term-sorted (groupby(sort=True)), so partitionBy still yields one
    # term-sorted file per segment dir. Re-shuffling the encoded blobs a
    # second time doubled the heaviest IO of the whole flush for nothing.
    (
        enc.write.mode("append" if done else "overwrite")
        .partitionBy("segment_id")
        .parquet(f"{base}/segments")
    )

    docs = ix.docs.withColumn(
        "segment_id", (F.col("doc_id") / segment_size).cast("long")
    )
    if done:
        docs = docs.filter(~F.col("segment_id").isin(done))
    (
        docs.select("segment_id", "doc_id", "length", "norm")
        .repartition(F.col("segment_id"))
        .sortWithinPartitions("doc_id")
        .write.mode("append" if done else "overwrite")
        .partitionBy("segment_id")
        .parquet(f"{base}/seg_docs")
    )

    # post-write bookkeeping: three SMALL independent jobs (dictionary
    # write, lineage hash, doc ranges) — run concurrently under the FAIR
    # scheduler; each is metadata-sized, so wall-clock ≈ the slowest one
    def _new(table: str) -> DataFrame:
        df = spark.read.parquet(f"{base}/{table}")
        return df.filter(~F.col("segment_id").isin(done)) if done else df

    # a resumed build must not overwrite the committed dictionary
    ts_name = fresh_name(prev, "term_stats") if prev else "term_stats"

    def _write_term_stats():
        # global dictionary: per-segment dfs/ttfs sum to the collection
        # stats BY CONSTRUCTION (each posting lands in exactly one doc-
        # range segment), so the relational index's term_stats IS the
        # dictionary — reuse it instead of re-aggregating written segments
        (
            ix.term_stats.repartitionByRange(4, "term")
            .sortWithinPartitions("term")
            .write.mode("overwrite")
            .parquet(f"{base}/{ts_name}")
        )

    def _lineage():
        # lineage + content hash per segment from the WRITTEN data
        # (resume/idempotency key)
        return (
            _new("segments")
            .groupBy("segment_id")
            .agg(
                F.count("*").alias("n_terms"),
                F.sum("df").alias("n_postings"),
                F.sum("ttf").alias("sum_tf"),
                F.sum(
                    F.crc32(F.encode(F.col("term"), "utf-8"))
                    + F.crc32(F.coalesce(F.col("doc_blob"), F.lit(b"")))
                    + F.crc32(F.coalesce(F.col("tf_blob"), F.lit(b"")))
                    + F.crc32(F.coalesce(F.col("tail_blob"), F.lit(b"")))
                    + F.col("df")
                    + F.col("singleton_doc")
                ).alias("content_crc"),
            )
            .collect()
        )

    def _doc_counts():
        return {
            int(r["segment_id"]): (int(r["n"]), int(r["mn"]), int(r["mx"]))
            for r in _new("seg_docs")
            .groupBy("segment_id")
            .agg(
                F.count("*").alias("n"),
                F.min("doc_id").alias("mn"),
                F.max("doc_id").alias("mx"),
            )
            .collect()
        }

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        fut_ts = pool.submit(_write_term_stats)
        fut_lin = pool.submit(_lineage)
        fut_dc = pool.submit(_doc_counts)
        fut_ts.result()
        lineage = fut_lin.result()
        doc_counts = fut_dc.result()
    segments_meta = [
        {
            "segment_id": int(r["segment_id"]),
            "n_terms": int(r["n_terms"]),
            "n_postings": int(r["n_postings"]),
            "sum_tf": int(r["sum_tf"]),
            "content_crc": int(r["content_crc"]),
            "n_docs": doc_counts.get(int(r["segment_id"]), (0, -1, -1))[0],
            "min_doc": doc_counts.get(int(r["segment_id"]), (0, -1, -1))[1],
            "max_doc": doc_counts.get(int(r["segment_id"]), (0, -1, -1))[2],
        }
        for r in lineage
    ]
    manifest = {
        **prev,
        "doc_count": ix.doc_count,
        "sum_ttf": ix.sum_ttf,
        "segment_size": segment_size,
        "segments": sorted(
            prev.get("segments", []) + segments_meta,
            key=lambda s: s["segment_id"],
        ),
    }
    if prev:
        manifest["term_stats"] = ts_name
    commit(base, manifest)

    return SegmentIndex(
        base=base,
        doc_count=ix.doc_count,
        sum_ttf=ix.sum_ttf,
        segment_size=segment_size,
    )
