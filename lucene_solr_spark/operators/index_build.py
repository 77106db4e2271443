"""Index build: corpus DataFrame → inverted-index tables.

The Spark re-expression of Lucene's indexing chain
(``index/IndexingChain.java:583,625,641`` processDocument/invert →
``index/TermsHashPerField.java:132-154`` term hash →
``index/FreqProxTermsWriterPerField.java:113-200`` postings in RAM):

    corpus ──ONE mapInPandas pass──▶ (doc_id, term, tf, positions)
      (tokenize + per-document MAP-SIDE inversion — Lucene's DWPT model;
       functions.analysis.postings_frame. NO token-level shuffle exists.)
    postings ──groupBy(doc_id)──▶ lengths → norms      [small agg]
    postings ──groupBy(term)──▶ (term, df, ttf)        [map-side partial agg]

Design-for-scale notes (10^12 files / 100 TB):
- docID assignment is a deterministic dense rank over the PK
  (repo, path, commit) — NOT arrival order, so results are identical at
  any parallelism (replaces Lucene's per-segment arrival docIDs,
  ``index/LeafReaderContext.java`` docBase). Implemented scalably on the
  key projection with a persisted range shuffle (see assign_doc_ids) —
  no global window / single-partition sort.
- inversion is per-document, so no shuffle ever carries individual token
  rows; the only wide exchanges are LAYOUT shuffles (doc-range
  repartition in operators.segments, term-range in write_parquet — the
  latter with explicit head-term salting for Zipf skew).
- per-doc stats (length → norm byte) derive from postings; norms is
  ~1 row/doc, broadcastable at query time (norm byte =
  SmallFloat.intToByte4(length - numOverlap),
  ``index/IndexingChain.java:1104``, ``BM25Similarity.java:138-148``).
- the corpus is tokenized exactly ONCE: postings is persisted and every
  downstream table derives from it.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lucene_solr_spark.functions.analysis import postings_frame
from lucene_solr_spark.oracle.smallfloat import int_to_byte4_np

__all__ = ["InvertedIndex", "assign_doc_ids", "build_index", "norm_udf"]


@F.pandas_udf(T.IntegerType())
def norm_udf(length: pd.Series) -> pd.Series:
    """SmallFloat.intToByte4 of the field length, vectorized (uint8 0..255)."""
    return pd.Series(
        int_to_byte4_np(length.to_numpy()).astype("int32"), index=length.index
    )


@dataclass
class InvertedIndex:
    """Handles to the index tables (in-memory DataFrames or parquet-backed).

    Tables (Spark equivalents of the Lucene90 segment files — see
    SURVEY.md §1.1):
      docs:       doc_id, repo?, path?, commit?, length, norm (+sha256)
      postings:   term, doc_id, tf, positions (array<int>)   [.doc/.pos]
      term_stats: term, df, ttf                               [.tim dictionary]
      doc_count, sum_ttf: collection stats                    [FieldInfos/segment meta]
    """

    docs: DataFrame
    postings: DataFrame
    term_stats: DataFrame
    doc_count: int
    sum_ttf: int

    #: True when postings are parquet-backed (build_index scratch
    #: materialization) — then persist() must NOT re-cache them: Spark's
    #: columnar cache stores the array<int> positions column
    #: catastrophically (a dictionary groupBy read 20-50s from cache vs
    #: 1s from column-pruned parquet at 8M postings)
    parquet_backed: bool = False

    #: lazily-persisted (term, doc_id, tf) projection — see postings_slim
    _slim: DataFrame | None = None

    @property
    def norms(self) -> DataFrame:
        return self.docs.select("doc_id", "norm")

    @property
    def postings_slim(self) -> DataFrame:
        """Positions-free ``(term, doc_id, tf)`` projection, persisted on
        first access.  Freq-only consumers (doc token counts, dictionary
        stats, tf scoring joins) read this instead of re-scanning the
        postings parquet per query: the columnar cache handles flat long
        columns fine — it is only the ``array<int>`` positions column that
        caches catastrophically — and the slim projection is a small
        fraction of the postings footprint (spills to disk via the default
        MEMORY_AND_DISK level when it doesn't fit)."""
        if self._slim is None:
            cols = ["term", "doc_id", "tf"] if "tf" in self.postings.columns else [
                "term", "doc_id"
            ]
            self._slim = self.postings.select(*cols).persist()
        return self._slim

    def persist(self) -> "InvertedIndex":
        self.docs.persist()
        if not self.parquet_backed:
            self.postings.persist()
        self.term_stats.persist()
        return self

    def write_parquet(
        self,
        base: str,
        num_term_partitions: int = 8,
        salt_head_terms: int = 16,
        salt_factor: int = 8,
    ) -> None:
        """Write the index as term-range-partitioned parquet: the parquet
        min/max column stats on ``term`` play the role of the FST prefix
        index (``codecs/lucene90/blocktree/...:172-187``) — a term-filtered
        query prunes row groups without any custom structure.

        Zipf-skew handling for THIS (term-partitioned) layout: the top
        ``salt_head_terms`` terms by df are split into ``salt_factor``
        deterministic sub-keys (``doc_id % salt_factor``) before the range
        shuffle, so no single reducer owns a head term's whole posting
        list (SURVEY §7.1.4; the doc-range segment layout needs no salting
        because a segment bounds every term's list by its doc range)."""
        self.docs.write.mode("overwrite").parquet(f"{base}/docs")
        head = [
            r["term"]
            for r in self.term_stats.orderBy(F.desc("df"), F.asc("term"))
            .limit(salt_head_terms)
            .collect()
        ]
        salted = self.postings.withColumn(
            "_salt",
            F.when(
                F.col("term").isin(head), F.col("doc_id") % salt_factor
            ).otherwise(F.lit(0)),
        )
        (
            salted.repartitionByRange(num_term_partitions, "term", "_salt")
            .sortWithinPartitions("term", "_salt", "doc_id")
            .drop("_salt")
            .write.mode("overwrite")
            .parquet(f"{base}/postings")
        )
        self.term_stats.repartitionByRange(
            max(1, num_term_partitions // 4), "term"
        ).sortWithinPartitions("term").write.mode("overwrite").parquet(
            f"{base}/term_stats"
        )

    @staticmethod
    def read_parquet(spark: SparkSession, base: str) -> "InvertedIndex":
        docs = spark.read.parquet(f"{base}/docs")
        agg = docs.agg(
            F.count("*").alias("n"), F.sum("length").alias("s")
        ).collect()[0]
        return InvertedIndex(
            docs=docs,
            postings=spark.read.parquet(f"{base}/postings"),
            term_stats=spark.read.parquet(f"{base}/term_stats"),
            doc_count=int(agg["n"]),
            sum_ttf=int(agg["s"]),
        )


def assign_doc_ids(
    corpus: DataFrame,
    key_cols: tuple[str, ...] = ("repo", "path", "commit"),
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic dense doc_id = rank of the row in the total order of
    ``key_cols`` (must be a unique key).

    Scalable pattern (no global window): range-repartition on the key,
    sort within partitions, then doc_id = partition_offset + local rank,
    where offsets come from one collect of per-partition counts (O(num
    partitions) driver data). The result is independent of the range
    boundaries because the key order is total.
    """
    if num_partitions is None:
        num_partitions = max(corpus.rdd.getNumPartitions(), 1)

    # Ids are computed on the slim KEY PROJECTION (content never round-trips
    # through Arrow), then reattached by an equality join — broadcast when
    # the id table is small, shuffle join at 10^12-row scale. The ranged
    # key DF is PERSISTED and materialized by the counting job, and `_pid`
    # travels as a COLUMN of the cached data — so the offset table and the
    # id assignment read the SAME partitioning. (repartitionByRange samples
    # boundaries per execution; two separate jobs over an unpersisted
    # ranged DF may see different partitions, mis-basing every id.)
    keys = corpus.select(*key_cols)
    keyed = (
        keys.repartitionByRange(num_partitions, *key_cols)
        .sortWithinPartitions(*key_cols)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    counts = keyed.groupBy("_pid").count().collect()
    offsets_b: dict[int, int] = {}
    acc = 0
    for row in sorted(counts, key=lambda r: r["_pid"]):
        offsets_b[int(row["_pid"])] = acc
        acc += row["count"]

    id_schema = T.StructType(
        keys.schema.fields + [T.StructField("doc_id", T.LongType(), False)]
    )

    def with_ids(iterator):
        base = None
        seen = 0
        for pdf in iterator:
            if base is None and len(pdf):
                base = offsets_b.get(int(pdf["_pid"].iloc[0]), 0)
            out = pdf.drop(columns=["_pid"])
            out["doc_id"] = range((base or 0) + seen, (base or 0) + seen + len(out))
            seen += len(out)
            yield out

    ids = keyed.mapInPandas(with_ids, schema=id_schema)
    if acc <= 20_000_000:  # ids table is tiny relative to the corpus
        ids = F.broadcast(ids)
    return corpus.join(ids, on=list(key_cols))


def build_index(
    corpus: DataFrame,
    *,
    text_col: str = "content",
    doc_id_col: str | None = None,
    key_cols: tuple[str, ...] = ("repo", "path", "commit"),
    keep_cols: tuple[str, ...] = (),
    analyzer: str | None = None,
    lowercase: bool | str = True,
    stopwords: frozenset[str] = frozenset(),
    max_token_length: int = 255,
    strip_possessive: bool = False,
    fold_ascii: bool = False,
    stemmer: str | None = None,
    elide: frozenset[str] | None = None,
    stem_exclusions: frozenset[str] | None = None,
    pre_stop: frozenset[str] | None = None,
    apostrophe: bool = False,
    cjk_bigrams: bool = False,
    cjk_unigrams: bool = False,
    zwnj_to_space: bool = False,
    with_positions: bool = True,
    index_options: str = "positions",  # "positions" | "freqs" | "docs"
    shingles: tuple[int, int] | None = None,
    synonyms: dict | None = None,
    ngram: tuple[int, int] | None = None,
    edge_ngram: tuple[int, int] | None = None,
    ngram_preserve: bool = False,
    common_grams: frozenset[str] | None = None,
    tokenizer: str = "standard",  # "standard" | "whitespace" | "classic"
    word_delimiter: int | None = None,
    wd_prot_words: frozenset[str] | None = None,
    token_filters: tuple = (),
    scratch: str | None = None,
) -> InvertedIndex:
    """Corpus → InvertedIndex. If ``doc_id_col`` is given it is trusted as a
    unique long id; otherwise docIDs are assigned over ``key_cols``.

    ``index_options`` mirrors Lucene's per-field IndexOptions
    (``index/IndexOptions.java:24-50``): "offsets" stores
    tf+positions+char spans (DOCS_AND_FREQS_AND_POSITIONS_AND_OFFSETS,
    ``IndexOptions.java:50`` — the offset-source highlighter reads them
    instead of re-analyzing), "positions" stores tf+positions,
    "freqs" stores tf only, "docs" stores docIDs only — queries then score
    with freq=1 and the norm derives from uniqueTermCount instead of
    length (``BM25Similarity.java:138-147``)."""
    if index_options not in ("offsets", "positions", "freqs", "docs"):
        raise ValueError(f"bad index_options {index_options!r}")
    if analyzer is not None:
        # named analyzer (the reference's per-language Analyzer classes):
        # expand to chain kwargs; explicit chain kwargs must not conflict
        from lucene_solr_spark.oracle.light_stemmers import analyzer_config

        cfg = analyzer_config(analyzer)
        explicit = dict(
            stopwords=stopwords,
            strip_possessive=strip_possessive,
            stemmer=stemmer,
            elide=elide,
            pre_stop=pre_stop,
            apostrophe=apostrophe,
            cjk_bigrams=cjk_bigrams,
        )
        for k, v in cfg.items():
            if explicit.get(k) not in (None, frozenset(), False):
                raise ValueError(
                    f"analyzer={analyzer!r} sets {k}; drop the explicit arg"
                )
        stopwords = cfg.get("stopwords", stopwords)
        strip_possessive = cfg.get("strip_possessive", strip_possessive)
        stemmer = cfg.get("stemmer", stemmer)
        elide = cfg.get("elide", elide)
        lowercase = cfg.get("lowercase", lowercase)
        pre_stop = cfg.get("pre_stop", pre_stop)
        apostrophe = cfg.get("apostrophe", apostrophe)
        cjk_bigrams = cfg.get("cjk_bigrams", cjk_bigrams)
        cjk_unigrams = cfg.get("cjk_unigrams", cjk_unigrams)
        zwnj_to_space = cfg.get("zwnj_to_space", zwnj_to_space)
    with_offsets = index_options == "offsets"
    if index_options in ("freqs", "docs"):
        with_positions = False
    if doc_id_col is None:
        docs_src = assign_doc_ids(corpus, key_cols)
    else:
        docs_src = corpus.withColumn("doc_id", F.col(doc_id_col).cast("long"))

    # NOTE on tokenize parallelism: the pass runs at the upstream scan's
    # task count, governed for file sources by the session's 32MB split
    # size (see session.py — the fix for a 1.8GB corpus reading as 19
    # tasks and running invert at 23% CPU on 16 cores). An explicit
    # repartition floor was tried here and REVERTED: it fired only on
    # tiny corpora (where the shuffle + small-file fan-out downstream
    # cost more than single-task tokenize, bench +57% on the relational
    # build) and on marginal 2-wave scans (where the shuffle cost more
    # than the wave tail). Scan granularity, not a forced shuffle, is
    # the right knob at every measured scale.

    # Posting rows inverted MAP-SIDE inside the tokenizer pass (Lucene's
    # DWPT model — functions.analysis.postings_frame): no token-level
    # shuffle exists anywhere in the build. MATERIALIZED TO PARQUET (a
    # scratch dir), not the columnar cache: every downstream table (doc
    # lengths, dictionary, global stats) derives from postings, so the
    # corpus is tokenized exactly ONCE either way — but the array<int>
    # positions column makes cached reads 20-50x slower than column-
    # pruned parquet (stats aggregations never touch positions there),
    # and at 100 TB the postings can't be assumed to fit cluster RAM.
    raw_postings = postings_frame(
        docs_src,
        text_col=text_col,
        lowercase=lowercase,
        stopwords=stopwords,
        max_token_length=max_token_length,
        strip_possessive=strip_possessive,
        fold_ascii=fold_ascii,
        stemmer=stemmer,
        elide=elide,
        stem_exclusions=stem_exclusions,
        pre_stop=pre_stop,
        apostrophe=apostrophe,
        cjk_bigrams=cjk_bigrams,
        cjk_unigrams=cjk_unigrams,
        zwnj_to_space=zwnj_to_space,
        with_positions=with_positions,
        with_offsets=with_offsets,
        shingles=shingles,
        synonyms=synonyms,
        ngram=ngram,
        edge_ngram=edge_ngram,
        ngram_preserve=ngram_preserve,
        common_grams=common_grams,
        tokenizer=tokenizer,
        word_delimiter=word_delimiter,
        wd_prot_words=wd_prot_words,
        token_filters=token_filters,
    )
    import tempfile

    if scratch is None:
        scratch = tempfile.mkdtemp(prefix="lss_ix_")
    postings_path = f"{scratch}/postings"
    raw_postings.write.mode("overwrite").parquet(postings_path)
    spark = corpus.sparkSession
    postings = spark.read.parquet(postings_path)

    # FieldInvertState.length per doc = Σtf (stopwords/overlong never reach
    # the inverter, so length = surviving token count; numOverlap = 0).
    # DOCS-only fields norm by uniqueTermCount (BM25Similarity.java:139-141)
    from lucene_solr_spark.functions.token_filters import STACKING_SPECS

    has_otf = (
        synonyms is not None
        or ngram is not None
        or edge_ngram is not None
        or common_grams is not None
        or word_delimiter is not None
        or any(
            s[0] in STACKING_SPECS for s in token_filters
        )
    )
    if index_options == "docs":
        doc_len = postings.groupBy("doc_id").agg(F.count("*").alias("length"))
    elif has_otf:
        # stacked synonym / n-gram tokens are overlaps: discountOverlaps
        # norms by length - numOverlap (BM25Similarity.java:138-148);
        # totalTermFreq / avgdl still count them
        # (BM25Similarity.java:114-117)
        doc_len = postings.groupBy("doc_id").agg(
            (F.sum("tf") - F.sum("otf")).alias("length")
        )
    else:
        doc_len = postings.groupBy("doc_id").agg(F.sum("tf").alias("length"))
    if has_otf:
        postings = postings.drop("otf")  # downstream sees the std schema
    keep = [c for c in keep_cols if c in docs_src.columns]
    docs = (
        docs_src.select("doc_id", *keep)
        .join(doc_len, "doc_id", "left")
        .fillna({"length": 0})
        .withColumn("norm", norm_udf(F.col("length")))
    )

    if index_options == "docs":
        # freq information is NOT stored: tf collapses to 1 (DOCS semantics)
        postings = postings.withColumn("tf", F.lit(1).cast("long"))
    term_stats = postings.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("tf").alias("ttf")
    )

    # collection stats WITHOUT materializing the docs side: doc_count is a
    # parquet metadata count over the corpus, and Σlength ≡ Σtf over the
    # postings (docs with zero surviving tokens contribute 0 to both) — a
    # shuffle-free column scan instead of the doc_len shuffle + join. The
    # docs DataFrame stays lazy until the caller persists/needs it.
    n = docs_src.count()
    s = postings.agg(F.sum("tf").alias("s")).collect()[0]["s"]
    return InvertedIndex(
        docs=docs,
        postings=postings,
        term_stats=term_stats,
        doc_count=int(n),
        sum_ttf=int(s or 0),
        parquet_backed=True,
    )
