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
  * seg_docs doc_ids unique and inside the segment range
  * Σ per-segment (df, ttf) per term == global term_stats dictionary
  * manifest doc_count / sum_ttf / per-segment lineage counts match
    the recomputed aggregates
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

    # ---- seg_docs integrity -------------------------------------------
    orphan = (
        docs.groupBy("segment_id")
        .agg(F.countDistinct("doc_id").alias("n"), F.count("*").alias("rows"))
        .filter(F.col("n") != F.col("rows"))
        .collect()
    )
    for r in orphan:
        problems.append(
            {
                "segment_id": int(r["segment_id"]),
                "term": None,
                "problem": f"seg_docs has duplicate doc_ids ({r['rows']}-{r['n']})",
            }
        )
    bad_range = (
        docs.join(ranges, "segment_id")
        .filter((F.col("doc_id") < F.col("min_doc")) | (F.col("doc_id") > F.col("max_doc")))
        .groupBy("segment_id")
        .count()
        .collect()
    )
    for r in bad_range:
        problems.append(
            {
                "segment_id": int(r["segment_id"]),
                "term": None,
                "problem": f"{r['count']} seg_docs rows outside segment range",
            }
        )

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

    # ---- manifest vs recomputed aggregates ----------------------------
    doc_count = docs.count()
    if doc_count != manifest["doc_count"]:
        problems.append(
            {
                "segment_id": None,
                "term": None,
                "problem": f"manifest doc_count {manifest['doc_count']} != {doc_count}",
            }
        )
    sum_ttf = seg.agg(F.sum("ttf")).collect()[0][0] or 0
    if int(sum_ttf) != manifest["sum_ttf"]:
        problems.append(
            {
                "segment_id": None,
                "term": None,
                "problem": f"manifest sum_ttf {manifest['sum_ttf']} != {int(sum_ttf)}",
            }
        )
    per_seg = {
        int(r["segment_id"]): (int(r["n_terms"]), int(r["n_postings"]))
        for r in seg.groupBy("segment_id")
        .agg(F.count("*").alias("n_terms"), F.sum("df").alias("n_postings"))
        .collect()
    }
    for m in manifest["segments"]:
        sid = int(m["segment_id"])
        got = per_seg.get(sid)
        if got is None:
            problems.append(
                {
                    "segment_id": sid,
                    "term": None,
                    "problem": "manifest segment missing on disk",
                }
            )
        elif (m["n_terms"], m["n_postings"]) != got:
            problems.append(
                {
                    "segment_id": sid,
                    "term": None,
                    "problem": (
                        f"lineage mismatch: manifest terms/postings "
                        f"{m['n_terms']}/{m['n_postings']} vs {got[0]}/{got[1]}"
                    ),
                }
            )

    return {
        "clean": not problems,
        "doc_count": doc_count,
        "n_segments": len(manifest["segments"]),
        "problems": problems,
    }
