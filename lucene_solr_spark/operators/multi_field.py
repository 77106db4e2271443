"""Per-field indexing + field-qualified query execution.

The Spark re-expression of Lucene's multi-field document model:

- ``index/FieldInfos.java`` — the per-field registry (each field owns its
  postings, norms, and collection stats);
- ``index/IndexingChain.java:583-641`` processDocument — ONE pass over a
  document inverts every field (here: one ``mapInPandas`` pass over the
  corpus emits all fields' postings — functions.analysis.
  multi_postings_frame — so an N-field schema costs one corpus scan);
- ``index/Term.java:36`` — a term is (field, text); queries address a
  field explicitly or fall back to the default field
  (``queryparser/.../classic/QueryParserBase.java:437`` getFieldQuery);
- per-field CollectionStatistics (``search/CollectionStatistics.java``):
  docCount = docs with at least one token in the field, sumTotalTermFreq
  and avgdl are per-field, so the SAME term text scores differently in
  different fields.

Layout for scale: the one postings frame is written to scratch parquet
``partitionBy("field")`` — a per-field view is a partition-pruned read
(no field ever scans another field's postings), and within a field the
term-filter pushdown story is identical to the single-field index.

Executor: ``MultiFieldExecutor`` extends the relational executor; every
compound operator (boolean joins, dismax, rescore, top-k merge) is
field-agnostic and inherited unchanged — only LEAF evaluation routes to
the leaf's field index. Cross-field booleans therefore combine scores on
``doc_id`` exactly like Lucene's IndexSearcher over one reader.
"""

from __future__ import annotations

import dataclasses
import tempfile
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucene_solr_spark.functions.analysis import multi_postings_frame
from lucene_solr_spark.operators.index_build import (
    InvertedIndex,
    assign_doc_ids,
    norm_udf,
)
from lucene_solr_spark.plans import ir
from lucene_solr_spark.plans.df_executor import DFExecutor

__all__ = [
    "MultiFieldIndex",
    "build_multi_field_index",
    "multi_field_encode_frame",
    "MultiFieldExecutor",
    "collect_terms_by_field",
]


def multi_field_encode_frame(mfx: "MultiFieldIndex", segment_size: int = 1 << 16):
    """Every field's segment-ENCODE pipeline as ONE unioned DataFrame —
    one Spark job when sunk, instead of sequential per-field jobs. Each
    field keeps its own doc-range shuffle + block/impact/position encode
    kernel (``operators.segments.encode_frame``); a ``field`` literal
    tags the rows. At cluster scale the small fields' encode tasks pack
    into the same executor slots the big field leaves idle at stage
    tails, so a 2-field encode costs max(fields), not sum(fields) —
    the per-field layout (``FieldInfos`` role) without per-field jobs."""
    from lucene_solr_spark.operators.segments import encode_frame

    parts = [
        encode_frame(fx, segment_size).withColumn("field", F.lit(fname))
        for fname, fx in mfx.fields.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out

#: leaf query types that carry a ``field`` attribute
_FIELD_LEAVES = (
    ir.TermQuery,
    ir.PhraseQuery,
    ir.MultiPhraseQuery,
    ir.SynonymQuery,
    ir.TermInSetQuery,
    ir.PrefixQuery,
    ir.WildcardQuery,
    ir.RegexpQuery,
    ir.FuzzyQuery,
    ir.TermRangeQuery,
)


@dataclass
class MultiFieldIndex:
    """Per-field inverted indexes sharing ONE doc_id space.

    ``fields[name]`` is a full InvertedIndex whose docs frame holds only
    the documents carrying that field (Lucene: a doc without the field
    has no norm and no postings there; ``doc_count`` is the field's
    getDocCount). ``corpus_doc_count`` is the index-level live-doc count
    (MatchAllDocsQuery universe)."""

    fields: dict[str, InvertedIndex]
    default_field: str
    corpus_doc_count: int

    @property
    def default(self) -> InvertedIndex:
        return self.fields[self.default_field]

    def persist(self) -> "MultiFieldIndex":
        for ix in self.fields.values():
            ix.persist()
        return self


def build_multi_field_index(
    corpus: DataFrame,
    fields: dict[str, dict],
    *,
    default_field: str | None = None,
    doc_id_col: str | None = None,
    key_cols: tuple[str, ...] = ("repo", "path", "commit"),
    with_positions: bool = True,
    scratch: str | None = None,
) -> MultiFieldIndex:
    """Corpus → MultiFieldIndex in ONE tokenize pass over all fields.

    ``fields``: {field_name: {"col": column_or_missing, ...analyzer
    opts...}}; the column may be created by the caller with
    ``withColumn`` first (computed fields). docIDs are assigned ONCE so
    every field shares the doc space (cross-field booleans join on it).
    """
    if not fields:
        raise ValueError("need at least one field")
    if default_field is None:
        default_field = next(iter(fields))
    if default_field not in fields:
        raise ValueError(f"default_field {default_field!r} not in fields")

    if doc_id_col is None:
        docs_src = assign_doc_ids(corpus, key_cols)
    else:
        docs_src = corpus.withColumn("doc_id", F.col(doc_id_col).cast("long"))

    raw = multi_postings_frame(
        docs_src, fields=fields, with_positions=with_positions
    )
    if scratch is None:
        scratch = tempfile.mkdtemp(prefix="lss_mfix_")
    # partitionBy("field"): each field's view below is a partition-pruned
    # read — same rationale as the single-field parquet scratch (the
    # array<int> positions column caches catastrophically; at 100 TB the
    # postings can't be assumed to fit cluster RAM)
    path = f"{scratch}/postings"
    raw.write.mode("overwrite").partitionBy("field").parquet(path)
    spark = corpus.sparkSession
    all_postings = spark.read.parquet(path)

    # per-(field, doc) lengths → per-field norms AND per-field collection
    # stats in one aggregation tree (no per-field jobs over the corpus)
    lens = all_postings.groupBy("field", "doc_id").agg(
        F.sum("tf").alias("length")
    )
    lens.persist()
    gstats = {
        r["field"]: (int(r["n"]), int(r["s"]))
        for r in lens.groupBy("field")
        .agg(F.count("*").alias("n"), F.sum("length").alias("s"))
        .collect()
    }
    corpus_n = docs_src.count()

    out: dict[str, InvertedIndex] = {}
    for fname in fields:
        postings_f = all_postings.filter(F.col("field") == fname).drop("field")
        docs_f = (
            lens.filter(F.col("field") == fname)
            .select("doc_id", "length")
            .withColumn("norm", norm_udf(F.col("length")))
        )
        term_stats_f = postings_f.groupBy("term").agg(
            F.count("*").alias("df"), F.sum("tf").alias("ttf")
        )
        n, s = gstats.get(fname, (0, 0))
        out[fname] = InvertedIndex(
            docs=docs_f,
            postings=postings_f,
            term_stats=term_stats_f,
            doc_count=n,
            sum_ttf=s,
            parquet_backed=True,
        )
    return MultiFieldIndex(
        fields=out, default_field=default_field, corpus_doc_count=int(corpus_n)
    )


def collect_terms_by_field(q: ir.Query) -> dict[str | None, set[str]]:
    """Leaf term texts grouped by target field (None = default field) —
    the multi-field TermStates gathering pass."""
    out: dict[str | None, set[str]] = {}

    def add(fld, terms):
        out.setdefault(fld, set()).update(terms)

    def walk(node: ir.Query) -> None:
        fld = getattr(node, "field", None)
        if isinstance(node, ir.TermQuery):
            add(fld, {node.term})
        elif isinstance(node, (ir.SynonymQuery, ir.TermInSetQuery)):
            add(fld, set(node.terms))
        elif isinstance(node, ir.PhraseQuery):
            add(fld, set(node.terms))
        elif isinstance(node, ir.MultiPhraseQuery):
            add(fld, set(node.all_terms))
        elif isinstance(node, ir.BooleanQuery):
            for c in node.clauses:
                walk(c.query)
        elif isinstance(node, (ir.BoostQuery, ir.ConstantScoreQuery)):
            walk(node.query)
        elif isinstance(node, ir.DisjunctionMaxQuery):
            for s in node.queries:
                walk(s)
        # span trees / multi-term leaves prefetch nothing here (spans are
        # default-field; multi-term dfs come from the dictionary scan)

    walk(q)
    return out


class MultiFieldExecutor(DFExecutor):
    """Relational executor over a MultiFieldIndex.

    Inherits every compound operator from DFExecutor (which evaluates
    recursively through ``self._eval``, so the field dispatch below is
    hit at every leaf); acts as the DEFAULT field's executor itself, and
    delegates field-qualified leaves to per-field child executors that
    share mode / k1 / b / similarity."""

    def __init__(
        self,
        index: MultiFieldIndex,
        *,
        mode: str = "float32",
        k1: float | None = None,
        b: float | None = None,
        similarity: object | None = None,
        query_cache: object | None = None,
    ):
        kw: dict = {"mode": mode, "similarity": similarity}
        if k1 is not None:
            kw["k1"] = k1
        if b is not None:
            kw["b"] = b
        super().__init__(
            index=index.fields[index.default_field],
            query_cache=query_cache,
            **kw,
        )
        self.mf = index
        self._field_execs = {
            f: DFExecutor(index=ix, **kw)
            for f, ix in index.fields.items()
            if f != index.default_field
        }

    def _executor_for(self, fld: str | None) -> DFExecutor:
        if fld is None or fld == self.mf.default_field:
            return self
        try:
            return self._field_execs[fld]
        except KeyError:
            raise KeyError(
                f"unknown field {fld!r}; indexed fields: "
                f"{sorted(self.mf.fields)}"
            ) from None

    def _prefetch_stats(self, q: ir.Query) -> None:
        for fld, terms in collect_terms_by_field(q).items():
            ex = self._executor_for(fld)
            if ex is self:
                self._prefetch_terms(terms)
            else:
                ex._prefetch_terms(terms)

    def _eval(self, q: ir.Query, boost: float) -> DataFrame:
        fld = getattr(q, "field", None)
        if (
            fld is not None
            and fld != self.mf.default_field
            and isinstance(q, _FIELD_LEAVES)
        ):
            ex = self._executor_for(fld)
            return ex._eval(dataclasses.replace(q, field=None), boost)
        return super()._eval(q, boost)
