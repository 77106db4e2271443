"""Analysis chain as Spark ``mapInPandas`` stages.

The Spark analog of StandardAnalyzer's pipeline
(``analysis/standard/StandardAnalyzer.java:84-96``): each stage hands a
whole Arrow batch to the vectorized ``functions.fast_tokenizer``
kernel, so analysis is one Python call per batch, not one per row. That
kernel is not the oracle's code: ``tests/test_fast_tokenizer.py`` pins
it to ``oracle.tokenizer.analyze`` (goldens in tests/test_tokenizer.py
pin the oracle), and documents it cannot classify take the oracle's
chain itself.

At 100 TB scale this is the map-side-only stage: no shuffle is introduced
here; Catalyst prunes unused columns around it, and the kernel cost is the
corpus-bytes-proportional part of the build.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import types as T

from lucene_solr_spark.oracle.tokenizer import (
    ENGLISH_STOP_WORDS,
    MAX_TOKEN_LENGTH_DEFAULT,
)

__all__ = [
    "tokens_frame",
    "multi_postings_frame",
    "postings_frame",
    "ENGLISH_STOP_WORDS",
]


def tokens_frame(
    docs: "DataFrame",  # noqa: F821
    *,
    text_col: str,
    id_col: str = "doc_id",
    lowercase: bool | str = True,
    stopwords: frozenset[str] = frozenset(),
    max_token_length: int = MAX_TOKEN_LENGTH_DEFAULT,
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
):
    """corpus → flat (doc_id, term, pos) token rows via ONE ``mapInPandas``
    pass over the VECTORIZED batch tokenizer (functions.fast_tokenizer):
    the whole Arrow batch tokenizes as numpy/Arrow array ops — no
    per-document Python in the hot path. ``oracle.tokenizer.analyze`` is
    the per-document API, and the batch kernel is pinned against it."""
    import numpy as np
    import pyarrow as pa

    from lucene_solr_spark.functions.fast_tokenizer import batch_tokenize

    stop = frozenset(stopwords)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("term", T.StringType(), False),
            T.StructField("pos", T.IntegerType(), False),
        ]
    )

    def fn(iterator):
        for pdf in iterator:
            doc_ids = pdf[id_col].to_numpy(np.int64)
            tdoc, terms, pos = batch_tokenize(
                pdf[text_col].tolist(),
                lowercase=lowercase,
                stopwords=stop,
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
            )
            yield pd.DataFrame(
                {
                    "doc_id": doc_ids[tdoc],
                    "term": pd.Series(terms, dtype=pd.ArrowDtype(pa.string())),
                    "pos": pos,
                }
            )

    return docs.select(id_col, text_col).mapInPandas(fn, schema=schema)


def multi_postings_frame(
    docs: "DataFrame",  # noqa: F821
    *,
    fields: dict[str, dict],
    id_col: str = "doc_id",
    with_positions: bool = True,
):
    """corpus → (field, doc_id, term, tf, positions) posting rows for ALL
    fields in ONE ``mapInPandas`` pass — the Spark analog of Lucene's
    per-document multi-field inversion (``index/IndexingChain.java:583-641``
    processDocument iterates the doc's fields inside one DWPT pass;
    per-field configs via ``index/FieldInfos.java``). One corpus scan
    covers every field, so an N-field schema does NOT cost N scans of a
    100 TB table; the per-(field, doc) posting still lives entirely inside
    one document, so no token-level shuffle exists.

    ``fields``: {field_name: {"col": column_name, ...analyzer opts...}}
    where analyzer opts are the tokenizer kwargs (lowercase, stopwords,
    max_token_length, strip_possessive, fold_ascii, stemmer) — the
    PerFieldAnalyzerWrapper role (each field's analyzer binding is
    captured by value in the task closure).
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from lucene_solr_spark.functions.fast_tokenizer import batch_tokenize

    configs = []
    for fname, cfg in fields.items():
        cfg = dict(cfg)
        col = cfg.pop("col", fname)
        cfg.setdefault("lowercase", True)
        cfg["stopwords"] = frozenset(cfg.get("stopwords", ()))
        configs.append((fname, col, cfg))
    in_cols = [id_col] + sorted({c for _, c, _ in configs})

    schema = T.StructType(
        [
            T.StructField("field", T.StringType(), False),
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("term", T.StringType(), False),
            T.StructField("tf", T.LongType(), False),
        ]
        + (
            [T.StructField("positions", T.ArrayType(T.IntegerType()), True)]
            if with_positions
            else []
        )
    )
    cols = [f.name for f in schema.fields]

    def fn(iterator):
        for pdf in iterator:
            doc_ids = pdf[id_col].to_numpy(np.int64)
            for fname, col, cfg in configs:
                tdoc, terms, pos = batch_tokenize(pdf[col].tolist(), **cfg)
                if len(tdoc) == 0:
                    continue
                # same vectorized inversion as postings_frame: dictionary-
                # encode, stable lexsort by (doc, term-code), run-length
                denc = pc.dictionary_encode(terms)
                codes = np.asarray(denc.indices, dtype=np.int64)
                order = np.lexsort((codes, tdoc))
                sd, sc, sp = tdoc[order], codes[order], pos[order]
                newgrp = np.r_[True, (sd[1:] != sd[:-1]) | (sc[1:] != sc[:-1])]
                gstart = np.nonzero(newgrp)[0]
                tf = np.diff(np.r_[gstart, len(sd)])
                data = {
                    "field": fname,
                    "doc_id": doc_ids[sd[gstart]],
                    "term": pd.Series(
                        denc.dictionary.take(pa.array(sc[gstart], pa.int64())),
                        dtype=pd.ArrowDtype(pa.string()),
                    ),
                    "tf": tf,
                }
                if with_positions:
                    offs = np.r_[gstart, len(sd)].astype(np.int32)
                    plists = pa.ListArray.from_arrays(
                        pa.array(offs, pa.int32()), pa.array(sp, pa.int32())
                    )
                    data["positions"] = pd.Series(
                        plists, dtype=pd.ArrowDtype(pa.list_(pa.int32()))
                    )
                yield pd.DataFrame(data, columns=cols)

    return docs.select(*in_cols).mapInPandas(fn, schema=schema)


def postings_frame(
    docs: "DataFrame",  # noqa: F821
    *,
    text_col: str,
    id_col: str = "doc_id",
    lowercase: bool | str = True,
    stopwords: frozenset[str] = frozenset(),
    max_token_length: int = MAX_TOKEN_LENGTH_DEFAULT,
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
    with_offsets: bool = False,
    shingles: tuple[int, int] | None = None,
    synonyms: dict | None = None,
    ngram: tuple[int, int] | None = None,
    edge_ngram: tuple[int, int] | None = None,
    ngram_preserve: bool = False,
    common_grams: frozenset[str] | None = None,
    tokenizer: str = "standard",
    word_delimiter: int | None = None,
    wd_prot_words: frozenset[str] | None = None,
    token_filters: tuple = (),
):
    """corpus → (doc_id, term, tf, positions[, start_offsets,
    end_offsets]) posting rows, inverted
    MAP-SIDE in one ``mapInPandas`` pass — Lucene's DWPT in-memory
    inversion (``index/TermsHashPerField.java:132-154``): a (term, doc)
    posting lives entirely inside one document, so no token-level shuffle
    is ever needed. The only wide shuffles in an index build are the ones
    the LAYOUT needs (doc-range repartition for segments), not the
    inversion itself — at 100 TB that removes the dominant all-to-all
    exchange of individual token rows.

    ``shingles=(min, max)`` appends token n-grams to the stream inside
    the same kernel pass (ShingleFilter role — functions.shingles), so a
    shingled index costs zero extra scans; shingle tokens count toward
    the norm length exactly like the reference's chain (every emitted
    token bumps FieldInvertState.length).

    ``synonyms={src: (alt, ...)}`` stacks synonym tokens at the source
    positions (SynonymGraphFilter role — functions.synonyms); the output
    then carries an ``otf`` column (overlap tf per posting) so norms can
    discount stacked tokens (``BM25Similarity.java:138-148``).

    ``ngram=(min, max)`` / ``edge_ngram=(min, max)`` expand each chain
    token into its character (edge) n-grams inside the same kernel pass
    (NGramTokenFilter / EdgeNGramTokenFilter role — functions.ngram);
    grams of one token stack at its position, so the output carries
    ``otf`` like synonyms (only a token's first gram has posIncr > 0).
    ``ngram_preserve`` = the filters' preserveOriginal flag."""
    import numpy as np

    if with_offsets and (shingles is not None or synonyms is not None):
        raise ValueError("shingles/synonyms + offsets not supported")
    if ngram is not None and edge_ngram is not None:
        raise ValueError("ngram and edge_ngram are exclusive")
    grams = ngram or edge_ngram
    if grams is not None and (
        with_offsets or shingles is not None or synonyms is not None
    ):
        raise ValueError("ngram + offsets/shingles/synonyms not supported")
    if common_grams is not None and (
        with_offsets
        or shingles is not None
        or synonyms is not None
        or grams is not None
    ):
        raise ValueError(
            "common_grams + offsets/shingles/synonyms/ngram not supported"
        )
    if word_delimiter is not None and tokenizer != "whitespace":
        # the graph filter wants delimiters to SURVIVE tokenization
        # (WordDelimiterGraphFilter.java:83-86)
        raise ValueError("word_delimiter requires tokenizer='whitespace'")
    if tokenizer == "whitespace":
        if (
            word_delimiter is None
            or stopwords
            or shingles is not None
            or synonyms is not None
            or grams is not None
            or common_grams is not None
            or with_offsets
            or stemmer is not None
            or elide is not None
            or not isinstance(lowercase, bool)
        ):
            raise ValueError(
                "tokenizer='whitespace' supports only the"
                " word_delimiter + optional-lowercase chain"
            )
    elif tokenizer == "classic":
        # ClassicAnalyzer chain: tokenizer → ClassicFilter → lower →
        # stop; the other chain stages target the standard kernel
        if (
            shingles is not None
            or synonyms is not None
            or grams is not None
            or common_grams is not None
            or with_offsets
            or stemmer is not None
            or elide is not None
            or token_filters
            or not isinstance(lowercase, bool)
        ):
            raise ValueError(
                "tokenizer='classic' supports the"
                " ClassicFilter + lowercase + stop chain only"
            )
    elif tokenizer != "standard":
        raise ValueError(f"unknown tokenizer {tokenizer!r}")
    if token_filters and with_offsets:
        raise ValueError("token_filters + offsets not supported")
    from lucene_solr_spark.functions.token_filters import STACKING_SPECS

    has_otf = (
        synonyms is not None
        or grams is not None
        or common_grams is not None
        or word_delimiter is not None
        or any(s[0] in STACKING_SPECS for s in token_filters)
    )

    stop = frozenset(stopwords)
    fields = [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("tf", T.LongType(), False),
    ]
    if has_otf:
        # overlap tf: how many of this posting's occurrences are stacked
        # (posIncr==0) tokens — norms discount these
        fields.append(T.StructField("otf", T.LongType(), False))
    if with_positions:
        fields.append(T.StructField("positions", T.ArrayType(T.IntegerType()), True))
    if with_offsets:
        # IndexOptions...AND_OFFSETS third posting stream
        # (index/IndexOptions.java:50): char spans parallel to positions
        fields.append(
            T.StructField("start_offsets", T.ArrayType(T.IntegerType()), True)
        )
        fields.append(
            T.StructField("end_offsets", T.ArrayType(T.IntegerType()), True)
        )
    schema = T.StructType(fields)

    import pyarrow as pa
    import pyarrow.compute as pc

    from lucene_solr_spark.functions.fast_tokenizer import batch_tokenize

    def _invert(doc_ids, tdoc, terms, pos, overlap, t_soff, t_eoff, cols):
        # vectorized per-doc inversion: dictionary-encode terms, group
        # rows by (doc, code) with a stable lexsort (keeps positions
        # ascending inside each group), run-length the boundaries
        denc = pc.dictionary_encode(terms)
        codes = np.asarray(denc.indices, dtype=np.int64)
        dictionary = denc.dictionary
        if overlap is not None:
            # stacked tokens share positions with their source — add
            # pos as the minor sort key so group positions ascend
            order = np.lexsort((pos, codes, tdoc))
        else:
            order = np.lexsort((codes, tdoc))
        sd, sc, sp = tdoc[order], codes[order], pos[order]
        newgrp = np.r_[True, (sd[1:] != sd[:-1]) | (sc[1:] != sc[:-1])]
        gstart = np.nonzero(newgrp)[0]
        tf = np.diff(np.r_[gstart, len(sd)])
        data = {
            "doc_id": doc_ids[sd[gstart]],
            "term": pd.Series(
                dictionary.take(pa.array(sc[gstart], pa.int64())),
                dtype=pd.ArrowDtype(pa.string()),
            ),
            "tf": tf,
        }
        if overlap is not None:
            data["otf"] = np.add.reduceat(
                overlap[order].astype(np.int64), gstart
            )
        if with_positions:
            offs = np.r_[gstart, len(sd)].astype(np.int32)
            plists = pa.ListArray.from_arrays(
                pa.array(offs, pa.int32()), pa.array(sp, pa.int32())
            )
            data["positions"] = pd.Series(
                plists, dtype=pd.ArrowDtype(pa.list_(pa.int32()))
            )
        if with_offsets:
            offs = np.r_[gstart, len(sd)].astype(np.int32)
            for name, arr in (
                ("start_offsets", t_soff),
                ("end_offsets", t_eoff),
            ):
                lists = pa.ListArray.from_arrays(
                    pa.array(offs, pa.int32()),
                    pa.array(arr[order], pa.int32()),
                )
                data[name] = pd.Series(
                    lists, dtype=pd.ArrowDtype(pa.list_(pa.int32()))
                )
        yield pd.DataFrame(data, columns=cols)

    def fn(iterator):
        cols = [f.name for f in fields]
        for pdf in iterator:
            doc_ids = pdf[id_col].to_numpy(np.int64)
            if tokenizer == "whitespace":
                # Whitespace → WordDelimiterGraphFilter → [LowerCase]:
                # the classic Solr WDGF chain (the graph filter must see
                # intra-word delimiters the standard tokenizer strips)
                from lucene_solr_spark.functions.word_delimiter import (
                    apply_word_delimiter,
                    batch_whitespace_tokenize,
                )

                tdoc, terms, pos = batch_whitespace_tokenize(
                    pdf[text_col].tolist(), max_token_length
                )
                tdoc, terms, pos, overlap = apply_word_delimiter(
                    tdoc,
                    terms,
                    pos,
                    flags=word_delimiter,
                    prot_words=wd_prot_words,
                )
                if lowercase:
                    terms = pc.utf8_lower(terms)
                pos = pos.astype(np.int32)
                t_soff = t_eoff = None
                if len(tdoc) == 0:
                    yield pd.DataFrame(
                        {
                            "doc_id": np.empty(0, np.int64),
                            "term": pd.Series(
                                [], dtype=pd.ArrowDtype(pa.string())
                            ),
                            "tf": np.empty(0, np.int64),
                            "otf": np.empty(0, np.int64),
                            **(
                                {
                                    "positions": pd.Series(
                                        [],
                                        dtype=pd.ArrowDtype(
                                            pa.list_(pa.int32())
                                        ),
                                    )
                                }
                                if with_positions
                                else {}
                            ),
                        },
                        columns=cols,
                    )
                    continue
                yield from _invert(
                    doc_ids, tdoc, terms, pos, overlap, t_soff, t_eoff, cols
                )
                continue
            if tokenizer == "classic":
                from lucene_solr_spark.functions.classic import (
                    batch_classic_tokenize,
                )

                tdoc, terms, pos = batch_classic_tokenize(
                    pdf[text_col].tolist(),
                    max_token_length=max_token_length,
                    lowercase=bool(lowercase),
                    stopwords=stop,
                )
                pos = pos.astype(np.int32)
                if len(tdoc) == 0:
                    yield pd.DataFrame(
                        {
                            "doc_id": np.empty(0, np.int64),
                            "term": pd.Series(
                                [], dtype=pd.ArrowDtype(pa.string())
                            ),
                            "tf": np.empty(0, np.int64),
                            **(
                                {
                                    "positions": pd.Series(
                                        [],
                                        dtype=pd.ArrowDtype(
                                            pa.list_(pa.int32())
                                        ),
                                    )
                                }
                                if with_positions
                                else {}
                            ),
                        },
                        columns=cols,
                    )
                    continue
                yield from _invert(
                    doc_ids, tdoc, terms, pos, None, None, None, cols
                )
                continue
            tok = batch_tokenize(
                pdf[text_col].tolist(),
                lowercase=lowercase,
                stopwords=stop,
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
                with_offsets=with_offsets,
            )
            if with_offsets:
                tdoc, terms, pos, t_soff, t_eoff = tok
            else:
                tdoc, terms, pos = tok
                t_soff = t_eoff = None
            if shingles is not None and len(tdoc):
                from lucene_solr_spark.functions.shingles import add_shingles

                tdoc, terms, pos = add_shingles(
                    tdoc,
                    terms,
                    pos,
                    n_docs=len(pdf),
                    min_size=shingles[0],
                    max_size=shingles[1],
                )
                pos = pos.astype(np.int32)
            overlap = None
            if synonyms is not None:
                from lucene_solr_spark.functions.synonyms import inject_synonyms

                tdoc, terms, pos, overlap = inject_synonyms(
                    tdoc, terms, pos, synonyms
                )
                pos = pos.astype(np.int32)
            if grams is not None and len(tdoc):
                from lucene_solr_spark.functions.ngram import ngram_expand

                tdoc, terms, pos, overlap = ngram_expand(
                    tdoc,
                    terms,
                    pos,
                    min_gram=grams[0],
                    max_gram=grams[1],
                    edge=edge_ngram is not None,
                    preserve_original=ngram_preserve,
                )
                pos = pos.astype(np.int32)
            if common_grams is not None and len(tdoc):
                from lucene_solr_spark.functions.commongrams import (
                    add_common_grams,
                )

                tdoc, terms, pos, overlap = add_common_grams(
                    tdoc, terms, pos, common_grams
                )
                pos = pos.astype(np.int32)
            if token_filters and len(tdoc):
                from lucene_solr_spark.functions.token_filters import (
                    apply_token_filters,
                )

                tdoc, terms, pos, overlap = apply_token_filters(
                    tdoc, terms, pos, token_filters, overlap
                )
                pos = pos.astype(np.int32)
                if overlap is None and has_otf:
                    overlap = np.zeros(len(tdoc), np.uint8)
            if len(tdoc) == 0:
                yield pd.DataFrame(
                    {
                        "doc_id": np.empty(0, np.int64),
                        "term": pd.Series([], dtype=pd.ArrowDtype(pa.string())),
                        "tf": np.empty(0, np.int64),
                        **(
                            {"otf": np.empty(0, np.int64)}
                            if has_otf
                            else {}
                        ),
                        **(
                            {
                                "positions": pd.Series(
                                    [],
                                    dtype=pd.ArrowDtype(pa.list_(pa.int32())),
                                )
                            }
                            if with_positions
                            else {}
                        ),
                        **(
                            {
                                c: pd.Series(
                                    [], dtype=pd.ArrowDtype(pa.list_(pa.int32()))
                                )
                                for c in ("start_offsets", "end_offsets")
                            }
                            if with_offsets
                            else {}
                        ),
                    },
                    columns=cols,
                )
                continue
            yield from _invert(
                doc_ids, tdoc, terms, pos, overlap, t_soff, t_eoff, cols
            )

    return docs.select(id_col, text_col).mapInPandas(fn, schema=schema)
