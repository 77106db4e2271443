"""CheckIndex role (``index/CheckIndex.java:1``): verify the integrity
of an on-disk SegmentIndex and report per-segment status.

The reference walks every segment single-threaded, re-decoding postings
and cross-checking them against the dictionary and stored stats. Here
the deep per-term decode check is a ``mapInPandas`` pass over the
segments table (each Arrow batch of encoded terms is decoded and
validated inside its executor task — the check scales with the index
like a query does), and the cross-file invariants are relational
anti-joins / aggregates that Catalyst plans like any other query:

per-term (decoded, executor-side):
  * doc_ids strictly increasing; count == df; Σtf == ttf; tf ≥ 1
  * block metadata agrees with the decoded stream (block_first/
    block_last bracket their blocks; every doc within its block bounds)
  * impact frontier covers the block (max decoded tf ≤ max frontier
    freq of that block), imp_off monotone
  * every doc_id belongs to this segment's doc range

cross-file (relational):
  * Σ per-segment (df, ttf) per term == global term_stats dictionary
  * seg_docs doc_ids unique per segment
  * every field of every manifest segment row (n_terms, n_postings,
    sum_tf, content_crc from the term rows; n_docs, min_doc, max_doc from
    seg_docs) and the manifest's doc_count / sum_ttf equal the aggregates
    recomputed from the files
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from lucene_solr_spark.codecs.postings_codec import decode_postings
from lucene_solr_spark.operators.segments import SegmentIndex

__all__ = ["check_index"]

_CHECK_SCHEMA = (
    "segment_id long, term string, problem string"
)


def _check_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from lucene_solr_spark.operators.topk import _row_to_encoded

    for pdf in it:
        bad: list[tuple[int, str, str]] = []
        for r in pdf.itertuples(index=False):
            seg, term = int(r.segment_id), str(r.term)

            def report(msg: str) -> None:
                bad.append((seg, term, msg))

            try:
                enc = _row_to_encoded(r)
                docs, tfs = decode_postings(enc)
            except Exception as e:  # decode crash = corruption
                report(f"decode failed: {e!r}")
                continue
            if len(docs) != enc.df:
                report(f"decoded {len(docs)} postings, df={enc.df}")
                continue
            if len(docs) and not (np.diff(docs) > 0).all():
                report("doc_ids not strictly increasing")
            if (tfs < 1).any():
                report("tf < 1")
            if int(tfs.sum()) != enc.ttf:
                report(f"sum(tf)={int(tfs.sum())} != ttf={enc.ttf}")
            lo, hi = int(r.min_doc), int(r.max_doc)
            if len(docs) and (int(docs[0]) < lo or int(docs[-1]) > hi):
                report(f"doc_id outside segment range [{lo},{hi}]")
            if enc.singleton_doc < 0 and len(enc.block_last):
                nb = len(enc.block_last)
                if len(enc.imp_off) != nb + 1:
                    report("imp_off length != n_blocks+1")
                elif (np.diff(enc.imp_off) <= 0).any():
                    report("imp_off not strictly monotone")
                else:
                    # block bounds + frontier coverage per block
                    starts = [i * 128 for i in range(enc.n_full_blocks)]
                    if enc.tail_blob and nb > enc.n_full_blocks:
                        starts.append(enc.n_full_blocks * 128)
                    for b, s in enumerate(starts):
                        e = min(s + 128, len(docs))
                        if b < len(enc.block_first) and int(docs[s]) != int(
                            enc.block_first[b]
                        ):
                            report(f"block {b} first doc mismatch")
                            break
                        if int(docs[e - 1]) != int(enc.block_last[b]):
                            report(f"block {b} last doc mismatch")
                            break
                        fr = enc.imp_freq[enc.imp_off[b] : enc.imp_off[b + 1]]
                        if len(fr) and int(tfs[s:e].max()) > int(fr.max()):
                            report(f"block {b} tf exceeds impact frontier")
                            break
        yield pd.DataFrame(bad, columns=["segment_id", "term", "problem"])


def check_index(spark: SparkSession, index: SegmentIndex) -> dict:
    """Verify ``index``; returns a CheckIndex.Status-style report:
    ``{"clean": bool, "doc_count": int, "n_segments": int,
    "problems": [{"segment_id", "term", "problem"}, ...]}``.
    Problem rows are capped at 1000 (corruption is usually systemic —
    the cap keeps a broken 10^12-doc index from flooding the driver)."""
    seg = index.segments(spark)
    docs = index.seg_docs(spark)
    manifest = index.manifest()
    # each segment's doc range as the manifest records it
    ranges = F.broadcast(
        spark.createDataFrame(
            [(s["segment_id"], s["min_doc"], s["max_doc"]) for s in manifest["segments"]],
            "segment_id int, min_doc long, max_doc long",
        )
    )
    problems: list[dict] = []

    # ---- deep per-term decode pass (distributed) ----------------------
    decoded_bad = (
        seg.join(ranges, "segment_id")
        .mapInPandas(_check_batch, schema=_CHECK_SCHEMA)
        .limit(1000)
        .collect()
    )
    problems += [r.asDict() for r in decoded_bad]

    # ---- dictionary consistency: Σ segment stats == term_stats --------
    agg = seg.groupBy("term").agg(
        F.sum("df").alias("df_sum"), F.sum("ttf").alias("ttf_sum")
    )
    ts = index.term_stats(spark).select("term", "df", "ttf")
    mism = (
        agg.join(ts, "term", "full")
        .filter(
            F.col("df_sum").isNull()
            | F.col("df").isNull()
            | (F.col("df_sum") != F.col("df"))
            | (F.col("ttf_sum") != F.col("ttf"))
        )
        .limit(100)
        .collect()
    )
    for r in mism:
        problems.append(
            {
                "segment_id": None,
                "term": r["term"],
                "problem": (
                    f"dictionary mismatch: segments df/ttf="
                    f"{r['df_sum']}/{r['ttf_sum']} vs term_stats {r['df']}/{r['ttf']}"
                ),
            }
        )

    # ---- every manifest row field, recomputed from the files ---------
    from_terms = {
        int(r["segment_id"]): r.asDict()
        for r in seg.groupBy("segment_id")
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
    }
    from_docs = {
        int(r["segment_id"]): r.asDict()
        for r in docs.groupBy("segment_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("doc_id").alias("distinct_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .collect()
    }
    for sid, r in sorted(from_docs.items()):
        if r["distinct_docs"] != r["n_docs"]:
            problems.append(
                {
                    "segment_id": sid,
                    "term": None,
                    "problem": f"seg_docs has duplicate doc_ids ({r['n_docs']}-{r['distinct_docs']})",
                }
            )
    doc_count = sum(r["n_docs"] for r in from_docs.values())
    sum_ttf = sum(r["sum_tf"] for r in from_terms.values())
    for field, got in (("doc_count", doc_count), ("sum_ttf", sum_ttf)):
        if manifest[field] != got:
            problems.append(
                {
                    "segment_id": None,
                    "term": None,
                    "problem": f"manifest {field} {manifest[field]} != {got}",
                }
            )
    # a segment without term rows or docs rows recomputes to these
    empty = dict(
        n_terms=0, n_postings=0, sum_tf=0, content_crc=0, n_docs=0, min_doc=-1, max_doc=-1
    )
    for m in manifest["segments"]:
        sid = int(m["segment_id"])
        got = {**empty, **from_terms.get(sid, {}), **from_docs.get(sid, {})}
        for field in empty:
            if m.get(field) != got[field]:
                problems.append(
                    {
                        "segment_id": sid,
                        "term": None,
                        "problem": (
                            f"lineage mismatch: manifest {field} {m.get(field)} "
                            f"!= {got[field]} in the files"
                        ),
                    }
                )

    return {
        "clean": not problems,
        "doc_count": doc_count,
        "n_segments": len(manifest["segments"]),
        "problems": problems,
    }
