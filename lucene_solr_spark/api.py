"""High-level facade: the user-facing surface a reference (Lucene/Solr)
user would switch to.

    from lucene_solr_spark.api import SearchEngine

    eng = SearchEngine.index_corpus(spark, corpus_df, "/data/myindex")
    hits = eng.search('+merge "table scan" window^2', k=10)
    eng.append(more_docs_df)          # NRT-style segment append
    eng.merge()                       # tiered compaction
    eng2 = SearchEngine.open(spark, "/data/myindex")   # reopen anywhere

Query strings use the classic syntax subset (plans.parser); results are
Lucene-parity BM25 float32 rankings from the segment kernel
(operators.topk), which skips the 2048-doc windows of a segment that
block-max bounds show cannot reach the top k.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from lucene_solr_spark.operators.segments import SegmentIndex, build_segments
from lucene_solr_spark.operators.topk import SegmentSearcher
from lucene_solr_spark.plans import ir
from lucene_solr_spark.plans.parser import parse_query

__all__ = ["SearchEngine", "Hit", "TopDocs", "TOTAL_HITS_THRESHOLD"]

#: stop exact counting past this many hits (IndexSearcher.java:97)
TOTAL_HITS_THRESHOLD = 1000


@dataclass(frozen=True)
class Hit:
    doc_id: int
    score: float


@dataclass(frozen=True)
class TopDocs:
    """search results + total-hit accounting (search/TopDocs.java).

    ``relation`` is "eq" when ``total_hits`` is exact, "gte" when counting
    stopped at the threshold and ``total_hits`` is a lower bound
    (TotalHits.Relation, TopScoreDocCollector.java:320)."""

    hits: list[Hit]
    total_hits: int
    relation: str  # "eq" | "gte"


class SearchEngine:
    def __init__(self, spark: SparkSession, index: SegmentIndex):
        self.spark = spark
        self.index = index
        self._searcher = SegmentSearcher(spark, index, mode="float32")

    # ------------------------------------------------------------- build
    @classmethod
    def index_corpus(
        cls,
        spark: SparkSession,
        corpus: DataFrame,
        base: str,
        *,
        text_col: str = "content",
        key_cols: tuple[str, ...] = ("repo", "path", "commit"),
        doc_id_col: str | None = None,
        segment_size: int = 1 << 16,
        resume: bool = False,
    ) -> "SearchEngine":
        from lucene_solr_spark.operators.index_build import build_index

        ix = build_index(
            corpus, text_col=text_col, key_cols=key_cols, doc_id_col=doc_id_col
        )
        six = build_segments(ix, base, segment_size=segment_size, resume=resume)
        return cls(spark, six)

    @classmethod
    def open(cls, spark: SparkSession, base: str) -> "SearchEngine":
        return cls(spark, SegmentIndex.open(base))

    def refresh(self) -> None:
        """Reopen the latest committed snapshot (SearcherManager role)."""
        self.index = SegmentIndex.open(self.index.base)
        self._searcher = SegmentSearcher(self.spark, self.index, mode="float32")

    # ------------------------------------------------------------ search
    def search(
        self,
        query: str | ir.Query,
        k: int = 10,
        after: Hit | tuple[float, int] | None = None,
    ) -> list[Hit]:
        """Top-k hits; ``after`` pages past a previous page's last hit
        (IndexSearcher.searchAfter, search/IndexSearcher.java:470 — the
        (score desc, doc_id asc) tie-break makes the cursor total)."""
        q = parse_query(query) if isinstance(query, str) else query
        cur = None
        if after is not None:
            cur = (
                (after.score, after.doc_id)
                if isinstance(after, Hit)
                else (float(after[0]), int(after[1]))
            )
        rows = self._searcher.topk(q, k=k, after=cur).collect()
        return [Hit(r["doc_id"], r["score"]) for r in rows]

    def search_top(
        self,
        query: str | ir.Query,
        k: int = 10,
        after: Hit | tuple[float, int] | None = None,
        total_hits_threshold: int = TOTAL_HITS_THRESHOLD,
    ) -> TopDocs:
        """search() + total-hit accounting: count exactly up to
        ``total_hits_threshold`` matches, then stop and report a lower
        bound (TopScoreDocCollector's totalHitsThreshold semantics —
        totalHits.relation becomes GREATER_THAN_OR_EQUAL_TO). The bounded
        count runs as a LocalLimit scan, so a match-everything query never
        pays a full count just to render a result page."""
        q = parse_query(query) if isinstance(query, str) else query
        hits = self.search(q, k=k, after=after)
        c = self._searcher.matches(q).limit(total_hits_threshold + 1).count()
        if c > total_hits_threshold:
            return TopDocs(hits, c, "gte")
        return TopDocs(hits, c, "eq")

    def search_batch(
        self, queries: dict[str, str | ir.Query], k: int = 10
    ) -> DataFrame:
        """Whole query set in ONE Spark job → (query_id, doc_id, score)."""
        qs = {
            qid: parse_query(q) if isinstance(q, str) else q
            for qid, q in queries.items()
        }
        return self._searcher.topk_batch(qs, k=k)

    def rescore(
        self,
        hits: list[Hit],
        query: str | ir.Query,
        *,
        weight: float = 1.0,
        k: int = 10,
    ) -> list[Hit]:
        """``QueryRescorer.rescore`` (``search/QueryRescorer.java:50-151``):
        re-rank an existing page of hits by ``first + weight * second``
        where the rescore query matches, first-pass score alone where it
        doesn't. The second pass is one distributed job; the hit page is
        broadcast onto it — per-hit work never touches the driver. The
        combine is the shared ``rescore_combine`` helper (double
        accumulate, ONE final float rounding — the reference static
        helper's semantics, ``QueryRescorer.java:184-188``)."""
        from lucene_solr_spark.plans.df_executor import rescore_combine

        q = parse_query(query) if isinstance(query, str) else query
        first = self.spark.createDataFrame(
            [(int(h.doc_id), float(h.score)) for h in hits],
            "doc_id long, score float",
        )
        second = self._searcher.matches(q).withColumnRenamed("score", "s2")
        rows = rescore_combine(
            first, second, weight=weight, k=k, mode="float32"
        ).collect()
        return [Hit(r["doc_id"], r["score"]) for r in rows]

    def count(self, query: str | ir.Query) -> int:
        q = parse_query(query) if isinstance(query, str) else query
        return self._searcher.matches(q).count()

    def explain(self, query: str | ir.Query, doc_id: int) -> dict:
        """``IndexSearcher.explain`` role (``search/IndexSearcher.java:720``
        → ``Weight.explain``): nested score breakdown for one document.

        Invariant (the reference's CheckHits contract): every node's
        ``value`` is the EXACT engine score of that subtree restricted to
        ``doc_id`` — explain can never drift from search. ONE kernel job
        total: every subtree the rendering needs is collected pre-order
        and scored as one ``topk_batch`` (plans broadcast, map-only), so
        a 10-clause boolean explain no longer runs ~20 jobs."""
        from pyspark.sql import functions as F

        from lucene_solr_spark.plans.rewriter import rewrite as _rw

        q = parse_query(query) if isinstance(query, str) else query
        q = _rw(q)
        doc_id = int(doc_id)

        # pre-order collection mirroring ex()'s value() call order
        nodes: list[tuple[ir.Query, float]] = []

        def collect(qq: ir.Query, boost: float) -> None:
            if isinstance(qq, ir.BoostQuery):
                collect(qq.query, boost * qq.boost)
                return
            if isinstance(qq, ir.BooleanQuery):
                for c in qq.clauses:
                    collect(
                        c.query,
                        1.0
                        if c.occur in (ir.Occur.FILTER, ir.Occur.MUST_NOT)
                        else boost,
                    )
                nodes.append((qq, boost))
                return
            nodes.append((qq, boost))

        collect(q, 1.0)
        batch = {
            str(i): (n if b == 1.0 else ir.BoostQuery(n, b))
            for i, (n, b) in enumerate(nodes)
        }
        rows = (
            self._searcher.topk_batch(batch, k=None)
            .filter(F.col("doc_id") == doc_id)
            .select("query_id", "score")
            .collect()
        )
        vals = {int(r["query_id"]): float(r["score"]) for r in rows}
        cursor = [0]

        def value(qq: ir.Query, boost: float = 1.0):
            i = cursor[0]
            cursor[0] = i + 1
            return vals.get(i)

        def miss(desc: str) -> dict:
            return {
                "match": False,
                "value": 0.0,
                "description": f"no match: {desc}",
            }

        def ex(qq: ir.Query, boost: float) -> dict:
            if isinstance(qq, ir.BoostQuery):
                inner = ex(qq.query, boost * qq.boost)
                return {
                    "match": inner["match"],
                    "value": inner["value"],
                    "description": f"boost({qq.boost}) of:",
                    "details": [inner],
                }
            if isinstance(qq, ir.BooleanQuery):
                details = []
                for c in qq.clauses:
                    sub = ex(
                        c.query,
                        1.0
                        if c.occur in (ir.Occur.FILTER, ir.Occur.MUST_NOT)
                        else boost,
                    )
                    details.append(dict(sub, occur=c.occur.value))
                v = value(qq, boost)
                if v is None:
                    return dict(miss("boolean"), details=details)
                return {
                    "match": True,
                    "value": v,
                    "description": "sum of:",
                    "details": details,
                }
            if isinstance(qq, ir.TermQuery):
                v = value(qq, boost)
                if v is None:
                    return miss(f"term {qq.term!r}")
                df, ttf = self._searcher._stats({qq.term})[qq.term]
                import math

                n = self.index.doc_count
                return {
                    "match": True,
                    "value": v,
                    "description": f"weight({qq.term}), product of:",
                    "details": [
                        {"value": float(boost), "description": "boost"},
                        {
                            "value": math.log(1.0 + (n - df + 0.5) / (df + 0.5)),
                            "description": f"idf, from n={n}, df={df}",
                        },
                        {"value": int(ttf), "description": "collection ttf"},
                    ],
                }
            v = value(qq, boost)
            if v is None:
                return miss(type(qq).__name__)
            return {
                "match": True,
                "value": v,
                "description": type(qq).__name__,
            }

        return ex(q, 1.0)

    # ----------------------------------------------------------- mutate
    def append(self, docs: DataFrame, **kwargs) -> int | None:
        """Index a batch of new documents as one appended segment (NRT)."""
        from lucene_solr_spark.streaming.nrt import append_batch

        sid = append_batch(docs, self.index.base, **kwargs)
        self.refresh()
        return sid

    def delete(self, query: str | ir.Query) -> int:
        """IndexWriter.deleteDocuments(Query): tombstone matching docs.
        Masked from every search immediately; space + stats reclaimed at
        the next merge (Lucene90LiveDocsFormat semantics). Returns the
        total tombstone count."""
        from lucene_solr_spark.operators.deletes import delete_by_query

        q = parse_query(query) if isinstance(query, str) else query
        n = delete_by_query(self.spark, self.index, q)
        self.refresh()
        return n

    def delete_ids(self, ids) -> int:
        """Tombstone explicit doc_ids — a list/iterable, or a DataFrame
        with a doc_id column (the distributed path for bulk dedup
        removal)."""
        from lucene_solr_spark.operators.deletes import (
            delete_by_ids,
            delete_by_ids_df,
        )

        if isinstance(ids, DataFrame):
            n = delete_by_ids_df(self.index, ids)
        else:
            n = delete_by_ids(self.spark, self.index, ids)
        self.refresh()
        return n

    def merge(self, policy=None) -> list[int]:
        """Run tiered merges; returns new segment ids."""
        from lucene_solr_spark.operators.merge_policy import (
            TieredMergePolicy,
            run_merges,
        )

        out = run_merges(
            self.spark, self.index, policy or TieredMergePolicy()
        )
        self.refresh()
        return out

    # ------------------------------------------------------------ stats
    def stats(self) -> dict:
        m = self.index.manifest()
        return {
            "doc_count": m["doc_count"],
            "sum_ttf": m["sum_ttf"],
            "n_segments": len(m["segments"]),
        }
