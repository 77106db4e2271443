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

One writer makes every segment (the DWPT flush,
``index/DocumentsWriterPerThread.java``): ``encode_segment`` encodes a
segment's term rows, and ``write_segment`` writes its two files with
pyarrow inside the Spark task that holds the segment and returns the
segment's manifest row — doc range, row counts and ``content_crc``, a sum
of CRC32s over the encoded term rows — computed from what it wrote. Build
and append write their segments in one Spark job, a merge in one task per
merged segment, ``add_indexes`` in one task per grafted segment. The
driver then publishes the returned rows with ``commit``, the one commit
point, so a crashed writer leaves only files that no manifest names.
Resume skips the segments the manifest names (idempotent: same input →
byte-identical segment, the checkpoint contract of BASELINE.json
north_rule).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile
import zlib
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from lucene_solr_spark.codecs.postings_codec import encode_positions, encode_postings
from lucene_solr_spark.operators.index_build import InvertedIndex

__all__ = [
    "SegmentIndex",
    "build_segments",
    "commit",
    "encode_segment",
    "segment_path",
    "write_segment",
    "SEGMENT_SCHEMA",
    "SEG_DOCS_SCHEMA",
]

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
SEG_DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("length", T.LongType(), False),
        T.StructField("norm", T.IntegerType(), True),
    ]
)

# The file schemas: the directory name carries ``segment_id``, so the
# term rows hold the rest of SEGMENT_SCHEMA. Both mirror what Spark
# writes for these types, so one read spans files of either writer.
ROWS_ARROW = to_arrow_schema(T.StructType(SEGMENT_SCHEMA.fields[1:]))
DOCS_ARROW = to_arrow_schema(SEG_DOCS_SCHEMA)


def _leaf(f: pa.Field) -> str:
    return f"{f.name}.list.element" if pa.types.is_list(f.type) else f.name


# pyarrow writer settings: no dictionary for the unique ``term`` column,
# min/max statistics only on the sort key that scans prune by, and no
# Arrow schema footer. Files come out no larger than Spark's.
_WRITE_OPTIONS = {
    "segments": dict(
        use_dictionary=[_leaf(f) for f in ROWS_ARROW if f.name != "term"],
        write_statistics=["term"],
        store_schema=False,
    ),
    "seg_docs": dict(write_statistics=["doc_id"], store_schema=False),
}

_ROW_DDL = (
    "segment_id long, n_terms long, n_postings long, sum_tf long, "
    "n_docs long, min_doc long, max_doc long, content_crc long"
)


@dataclass
class SegmentIndex:
    """Handle to an on-disk segmented index.

    base/
      manifest.json                     the commit point: collection stats,
                                        one row per segment, table names
      segments/segment_id=N/*.parquet   encoded term rows (term-sorted)
      seg_docs/segment_id=N/*.parquet   (doc_id, length, norm)
      term_stats[_G]/*.parquet          global (term, df, ttf) dictionary
      tombstones_G/*.parquet            deleted doc_ids (operators.deletes)

    ``write_segment`` makes every ``segment_id=N`` dir, and
    ``segment_path`` names it. Writers put new data under names no
    committed manifest uses and publish it with ``commit``. Readers
    resolve every file through the manifest at call time, never by
    listing a directory, so a writer's uncommitted or orphaned files are
    never read. The manifest's ``term_stats`` key names the live
    dictionary (absent: the bare ``term_stats/`` of a fresh build) and
    its ``tombstones`` key the tombstone table (absent: no deletes).
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
        self, spark: SparkSession, root: str, paths: tuple[str, ...] | None = None
    ) -> DataFrame:
        if self._df_cache is None:
            object.__setattr__(self, "_df_cache", {})
        key = (root, paths)
        if key not in self._df_cache:
            self._df_cache[key] = (
                spark.read.option("basePath", root).parquet(*paths)
                if paths is not None
                else spark.read.parquet(root)
            )
        return self._df_cache[key]

    def _committed(self, spark: SparkSession, table: str) -> DataFrame:
        """The manifest's segments of one per-segment table."""
        ids = [s["segment_id"] for s in self.manifest()["segments"]]
        paths = tuple(segment_path(self.base, table, i) for i in ids)
        return self._cached(spark, f"{self.base}/{table}", paths)

    def segments(self, spark: SparkSession) -> DataFrame:
        return self._committed(spark, "segments")

    def seg_docs(self, spark: SparkSession) -> DataFrame:
        return self._committed(spark, "seg_docs")

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


def segment_path(base: str, table: str, segment_id: int) -> str:
    """The directory of one segment's files in ``table``: ``segments``
    (encoded term rows) or ``seg_docs`` (docs rows)."""
    return f"{base}/{table}/segment_id={segment_id}"


def fresh_name(manifest: dict, table: str) -> str:
    """A name for ``table`` that the commit following ``manifest`` may
    publish: ``commit`` bumps the generation, so no committed manifest of
    this index has used it."""
    return f"{table}_{manifest.get('generation', 0) + 1}"


def _named(base: str, manifest: dict) -> set[str]:
    paths = {table_path(base, manifest, t) for t in ("term_stats", "tombstones")}
    for s in manifest["segments"]:
        paths.add(segment_path(base, "segments", s["segment_id"]))
        paths.add(segment_path(base, "seg_docs", s["segment_id"]))
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
    """Delete the segment dirs ``manifest`` does not name, which a crashed
    writer left behind. Best effort, like ``commit``'s deletions."""
    named = _named(base, manifest)
    for table in ("segments", "seg_docs"):
        root = f"{base}/{table}"
        for d in os.listdir(root) if os.path.isdir(root) else ():
            if d.startswith("segment_id=") and f"{root}/{d}" not in named:
                shutil.rmtree(f"{root}/{d}", ignore_errors=True)


# ------------------------------------------------------------ the writer


def encode_segment(postings: pd.DataFrame, docs: pd.DataFrame) -> pa.Table:
    """Encode one segment's term rows, term-sorted (the per-segment flush,
    ``index/IndexingChain.java:229-296``: sort terms, write postings).

    ``postings`` has ``term, doc_id, tf`` and, when the index stores
    them, ``positions``. ``docs`` has the segment's ``doc_id, norm`` rows,
    the one source of the norm byte the impacts are computed from."""
    docs = docs.sort_values("doc_id")
    ids = docs["doc_id"].to_numpy(np.int64)
    postings = postings.sort_values(["term", "doc_id"], kind="mergesort")
    terms = postings["term"].to_numpy()
    doc_ids = postings["doc_id"].to_numpy(np.int64)
    tfs = postings["tf"].to_numpy(np.int64)
    at = np.searchsorted(ids, doc_ids)
    found = at < len(ids)
    found[found] = ids[at[found]] == doc_ids[found]
    if not found.all():
        raise ValueError(f"no docs row for doc {doc_ids[~found][0]} of a posting")
    norms = docs["norm"].to_numpy(np.int64)[at]
    positions = postings["positions"].to_numpy() if "positions" in postings else None
    cuts = np.flatnonzero(terms[1:] != terms[:-1]) + 1
    bounds = zip(np.r_[0, cuts], np.r_[cuts, len(terms)]) if len(terms) else ()
    rows = []
    for lo, hi in bounds:
        enc = encode_postings(doc_ids[lo:hi], tfs[lo:hi], norms[lo:hi])
        pos_blob, pos_off = None, None
        if positions is not None:
            pos_blob, pos_off = encode_positions(
                [np.asarray(p, np.int64) for p in positions[lo:hi]]
            )
        rows.append(
            {
                "term": terms[lo],
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
    return pa.Table.from_pylist(rows, schema=ROWS_ARROW)


def content_crc(rows: pa.Table) -> int:
    """The manifest's checksum of a segment's term rows: the sum over rows
    of CRC32(term) + CRC32 of each of doc_blob, tf_blob and tail_blob
    (a missing blob counts as empty) + df + singleton_doc."""
    cols = ("term", "doc_blob", "tf_blob", "tail_blob", "df", "singleton_doc")
    return sum(
        zlib.crc32(term.encode())
        + zlib.crc32(doc or b"")
        + zlib.crc32(tf or b"")
        + zlib.crc32(tail or b"")
        + df
        + single
        for term, doc, tf, tail, df, single in zip(*(rows[c].to_pylist() for c in cols))
    )


def _table(data, schema: pa.Schema) -> pa.Table:
    if isinstance(data, pd.DataFrame):
        return pa.Table.from_pandas(data[schema.names], schema=schema, preserve_index=False)
    return data.select(schema.names).cast(schema)


def write_segment(base: str, segment_id: int, rows, docs) -> dict:
    """Write one segment and return its manifest row.

    ``rows`` are the encoded term rows (``ROWS_ARROW``, term-sorted) and
    ``docs`` the docs rows (``DOCS_ARROW``); either may be a pyarrow
    Table or a pandas DataFrame. Each goes to the only file of a fresh
    ``segment_path`` dir: files an earlier, crashed writer left there
    would otherwise be read beside the new one. The row's counts, doc
    range and ``content_crc`` are computed from the tables written."""
    rows = _table(rows, ROWS_ARROW)
    docs = _table(docs, DOCS_ARROW).sort_by("doc_id")
    for table, data in (("segments", rows), ("seg_docs", docs)):
        path = segment_path(base, table, segment_id)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        pq.write_table(data, f"{path}/part-00000.parquet", **_WRITE_OPTIONS[table])
    ids = docs["doc_id"]
    return {
        "segment_id": int(segment_id),
        "n_terms": rows.num_rows,
        "n_postings": pc.sum(rows["df"]).as_py() or 0,
        "sum_tf": pc.sum(rows["ttf"]).as_py() or 0,
        "n_docs": docs.num_rows,
        "min_doc": pc.min(ids).as_py() if len(ids) else -1,
        "max_doc": pc.max(ids).as_py() if len(ids) else -1,
        "content_crc": content_crc(rows),
    }


def read_segment(base: str, table: str, segment_id: int) -> pa.Table:
    """One segment's files in ``table``, read with pyarrow."""
    schema = ROWS_ARROW if table == "segments" else DOCS_ARROW
    return pq.read_table(segment_path(base, table, segment_id), schema=schema)


# ------------------------------------------------------ the Spark drivers


def _segment_groups(
    ix: InvertedIndex, segment_id: Column, n_parts: int, skip: list[int] | None = None
):
    """``ix``'s posting rows and docs rows in one frame, grouped by the
    ``segment_id`` each doc falls in. The docs rows are unioned in with a
    null ``term``, so every group holds one whole segment, and the frame
    is range-partitioned on ``segment_id`` before the grouping.

    Bucket-skew guard (measured: the 2x encode-scaling ceiling at N=16
    was NOT IO — tmpfs shuffle dirs changed nothing — but segment ids
    HASHING into only spark.sql.shuffle.partitions buckets: 59 segments
    over 16 buckets puts ~2x the mean into the worst bucket, and the
    stage runs at the speed of that bucket). Range partitioning keeps
    contiguous ids per partition with boundaries from the row sampler, so
    tasks are balanced by rows. RangePartitioning(segment_id) satisfies
    the groupBy's ClusteredDistribution, so Catalyst inserts NO second
    exchange before the grouped kernel."""
    pos_cols = ["positions"] if "positions" in ix.postings.columns else []
    rows = (
        ix.postings.select("term", "doc_id", "tf", *pos_cols)
        .unionByName(ix.docs.select("doc_id", "length", "norm"), allowMissingColumns=True)
        .withColumn("segment_id", segment_id.cast("long"))
    )
    if skip:
        rows = rows.filter(~F.col("segment_id").isin(skip))
    return rows.repartitionByRange(n_parts, "segment_id").groupBy("segment_id")


def _split(pdf: pd.DataFrame) -> tuple[pd.DataFrame, pd.DataFrame]:
    """One group of ``_segment_groups`` → (postings, docs)."""
    is_doc = pdf["term"].isna().to_numpy()
    postings = pdf[~is_doc].drop(columns=["segment_id", "length", "norm"])
    docs = pdf.loc[is_doc, ["doc_id", "length", "norm"]]
    return postings.astype({"tf": np.int64}), docs.astype({"length": np.int64, "norm": np.int32})


def _doc_range_parts(ix: InvertedIndex, segment_size: int) -> tuple[Column, int]:
    """Doc-range segment ids, and the task count: one per segment up to 4x
    the cluster parallelism, so tiny tasks never dominate small builds and
    web-scale builds don't schedule one task per 10^6 segments."""
    n_segments = max(1, -(-int(ix.doc_count) // segment_size))
    par = max(1, ix.postings.sparkSession.sparkContext.defaultParallelism)
    return F.col("doc_id") / segment_size, min(n_segments, 4 * par)


def write_segments(
    ix: InvertedIndex,
    base: str,
    segment_id: Column,
    n_parts: int,
    skip: list[int] | None = None,
) -> list[dict]:
    """Encode and write every segment of ``ix`` in one Spark job: each
    task holds whole segments, and for each one calls ``encode_segment``
    and ``write_segment``. Returns the manifest rows, uncommitted."""

    def flush(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        postings, docs = _split(pdf)
        row = write_segment(base, int(key[0]), encode_segment(postings, docs), docs)
        return pd.DataFrame([row])

    groups = _segment_groups(ix, segment_id, n_parts, skip)
    return [r.asDict() for r in groups.applyInPandas(flush, schema=_ROW_DDL).collect()]


def encode_frame(
    ix: InvertedIndex,
    segment_size: int = 1 << 16,
    skip_segment_ids: list[int] | None = None,
):
    """The segment ENCODE pipeline as a DataFrame of SEGMENT_SCHEMA rows,
    unsunk: the build's doc-range grouping and ``encode_segment``, without
    the write. The scaling harness (tools/scaling_workload.py) drives it
    into the ``noop`` sink to time encode COMPUTE apart from the write."""

    def encode(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        rows = encode_segment(*_split(pdf)).to_pandas()
        return rows.assign(segment_id=int(key[0]))[SEGMENT_SCHEMA.fieldNames()]

    segment_id, n_parts = _doc_range_parts(ix, segment_size)
    groups = _segment_groups(ix, segment_id, n_parts, skip_segment_ids)
    return groups.applyInPandas(encode, schema=SEGMENT_SCHEMA)


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
    prev: dict = {}
    if resume and os.path.exists(f"{base}/manifest.json"):
        prev = read_manifest(base)
        clear_orphans(base, prev)
    done = [int(s["segment_id"]) for s in prev.get("segments", [])]

    segment_id, n_parts = _doc_range_parts(ix, segment_size)
    written = write_segments(ix, base, segment_id, n_parts, skip=done)

    # global dictionary: per-segment dfs/ttfs sum to the collection stats
    # BY CONSTRUCTION (each posting lands in exactly one doc-range
    # segment), so the relational index's term_stats IS the dictionary.
    # A resumed build must not overwrite the committed one.
    ts_name = fresh_name(prev, "term_stats") if prev else "term_stats"
    (
        ix.term_stats.repartitionByRange(4, "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(f"{base}/{ts_name}")
    )
    manifest = {
        **prev,
        "doc_count": ix.doc_count,
        "sum_ttf": ix.sum_ttf,
        "segment_size": segment_size,
        "segments": sorted(
            prev.get("segments", []) + written, key=lambda s: s["segment_id"]
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
