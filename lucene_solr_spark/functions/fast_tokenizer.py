"""Vectorized batch tokenizer — the index-build hot path.

Semantics: EXACTLY ``oracle.tokenizer.analyze`` (StandardAnalyzer chain;
``analysis/standard/StandardTokenizerImpl.jflex:95-112,225-265`` rules as
re-expressed there), computed over a WHOLE Arrow batch at once:

- the batch is concatenated and viewed as a uint32 codepoint array;
  character classes come from lookup tables built FROM THE ORACLE'S OWN
  PREDICATES/CLASSES per codepoint (parity by construction) for every
  codepoint below ``FAST_LIMIT`` (0x1FC00 — past the emoji block);
- word runs: a \\w char continues a run; a mid-char (``. : ' ’ , ;``)
  joins iff its neighbors are letters (MidLetter/MidNumLet) or digits
  (MidNum/MidNumLet) — evaluated as shifted boolean masks; CJK
  ideographs and non-word emoji are single-char tokens merged into the
  run stream by start offset; token runs are diff-detected; token text
  is ONE numpy gather + utf-32→utf-8 re-encode into an Arrow
  ``StringArray`` (zero per-token Python objects);
- documents containing a codepoint ≥ FAST_LIMIT or one whose
  ``str.lower()`` is not a single codepoint (e.g. U+0130) take the
  per-document oracle kernel, so the fast path never changes semantics.

For in-range input the run rule is equivalent to the oracle's
regex+split: a mid-char with an invalid neighbor splits the run exactly
where ``_split_candidate`` splits the regex candidate; consecutive
mid-chars never join (the neighbor is then a mid-char — neither letter
nor digit); and ``_split_candidate``'s ideograph explosion is exactly
"ideographs break runs and stand alone".
"""

from __future__ import annotations

import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from lucene_solr_spark.oracle import tokenizer as _otok
from lucene_solr_spark.oracle.tokenizer import (
    MAX_TOKEN_LENGTH_DEFAULT,
    analyze_with_offsets,
)

__all__ = ["batch_tokenize", "FAST_LIMIT"]

FAST_LIMIT = 0x1FC00  # one past the oracle's emoji block (\U0001FBFF)


def _build_luts():
    n = FAST_LIMIT
    all_chars = "".join(map(chr, range(n)))
    word = np.zeros(n, np.bool_)
    for m in re.finditer(r"\w", all_chars, re.UNICODE):
        word[m.start()] = True
    ideo = np.zeros(n, np.bool_)
    for m in re.finditer(rf"[{_otok._IDEO}]", all_chars):
        ideo[m.start()] = True
    emoji = np.zeros(n, np.bool_)
    for m in re.finditer(rf"[{_otok._EMOJI}]", all_chars):
        emoji[m.start()] = True
    digit = np.fromiter(map(str.isdigit, all_chars), np.bool_, n)
    # oracle _is_letter: isalpha ∧ ¬ideo ∧ ∉ mid set
    alpha = np.fromiter(map(str.isalpha, all_chars), np.bool_, n)
    mid_l = np.zeros(n, np.bool_)
    mid_n = np.zeros(n, np.bool_)
    for ch in _otok._MID_LETTER:
        mid_l[ord(ch)] = True
    for ch in _otok._MID_NUM:
        mid_n[ord(ch)] = True
    mid_any = np.zeros(n, np.bool_)
    for ch in _otok._MID_ALL:
        mid_any[ord(ch)] = True
    # UAX#29 Extend subset (the oracle's _EXTEND class): marks continue
    # a token but never start one
    ext = np.zeros(n, np.bool_)
    for m in re.finditer(rf"[{_otok._EXTEND}]", all_chars):
        ext[m.start()] = True
    letter = (alpha | ext) & ~ideo & ~mid_any
    lower = np.arange(n, dtype=np.uint32)
    bad_lower = np.zeros(n, np.bool_)
    lowered = [ch.lower() for ch in all_chars]
    for cp, lo in enumerate(lowered):
        if len(lo) == 1:
            o = ord(lo)
            if o < n:
                lower[cp] = o
            else:
                bad_lower[cp] = True
        else:
            bad_lower[cp] = True
    utf8len = np.ones(n, np.int64)
    utf8len[0x80:] = 2
    utf8len[0x800:] = 3
    utf8len[0x10000:] = 4
    run_char = word & ~ideo
    # ideographs are singles only when they are \w — the oracle's
    # _TOKEN_RE candidates are \w runs, so a non-word _IDEO char (the
    # combining marks U+3099/U+309A) never becomes a token there
    single_char = (ideo & word) | (emoji & ~word)
    return (
        run_char, single_char, letter, digit, mid_l, mid_n, lower,
        bad_lower, utf8len, ext, word,
    )


_LUT_NAMES = (
    "run",
    "single",
    "letter",
    "digit",
    "mid_l",
    "mid_n",
    "lower",
    "bad_lower",
    "utf8len",
    "ext",
    "word",
)


def _load_or_build_luts():
    """Per-machine LUT cache: ~0.45s of unicodedata scans per Python
    worker otherwise — workers are many and short-lived under Spark, so
    the first worker builds, the rest mmap-load in ~5 ms."""
    import os
    import tempfile

    path = os.path.join(
        tempfile.gettempdir(), f"lss_tokenizer_luts_v4_{FAST_LIMIT:x}.npz"
    )
    if os.path.exists(path):
        try:
            z = np.load(path)
            return tuple(z[n] for n in _LUT_NAMES)
        except Exception:  # corrupt/partial: rebuild
            pass
    luts = _build_luts()
    try:
        fd, tmp = tempfile.mkstemp(dir=tempfile.gettempdir(), suffix=".npz")
        with os.fdopen(fd, "wb") as f:
            np.savez(f, **dict(zip(_LUT_NAMES, luts)))
        os.replace(tmp, path)  # atomic: concurrent workers race safely
    except Exception:
        pass
    return luts


(
    _RUN,
    _SINGLE,
    _LETTER,
    _DIGIT,
    _MID_L,
    _MID_N,
    _LOWER,
    _BAD_LOWER,
    _UTF8LEN,
    _EXT,
    _WORD,
) = _load_or_build_luts()


def _shift_prev(a: np.ndarray) -> np.ndarray:
    out = np.empty_like(a)
    out[0] = False
    out[1:] = a[:-1]
    return out


def _shift_next(a: np.ndarray) -> np.ndarray:
    out = np.empty_like(a)
    out[-1] = False
    out[:-1] = a[1:]
    return out


def batch_tokenize(
    texts,
    *,
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
    with_offsets: bool = False,
):
    """Tokenize a batch of documents.

    ``texts``: sequence of str|None (one per document).
    Returns ``(doc_idx, terms, pos)``: int64 row index into ``texts`` per
    token, an Arrow string array of (lowercased, possessive-stripped,
    optionally elided, stop-filtered, optionally stemmed) terms, and
    int32 positions with stop/overlong gaps preserved.

    ``elide``: article set for ElisionFilter (util/ElisionFilter.java —
    drop ``l'``/``qu'``-style prefixes); runs BEFORE the stop filter
    like the FrenchAnalyzer chain, as one vectorized anchored-regex
    replace. ``stemmer``: any ``oracle.light_stemmers.resolve`` name
    ("porter", "german_light", "french_light", …).

    ``with_offsets=True`` returns ``(doc_idx, terms, pos, soff, eoff)``
    with each surviving token's character span in its source document —
    the IndexOptions...AND_OFFSETS posting stream
    (``index/IndexOptions.java:50``). Spans are Unicode-codepoint offsets
    (Python string indexing); Java's UTF-16 units agree on BMP text.
    Filters never shift offsets: a possessive-stripped or stemmed term
    keeps the ORIGINAL token's span, exactly like Lucene's token filters.

    The possessive strip is one vectorized regex replace; stemming runs
    once per DISTINCT term via dictionary-encode (the per-batch
    vocabulary is tiny next to the token stream), so neither filter adds
    per-token Python to the hot path.
    """
    from lucene_solr_spark.oracle.light_stemmers import (
        resolve_with_exclusions as _resolve,
    )

    if cjk_bigrams:
        return _batch_cjk(
            texts,
            lowercase=lowercase,
            stopwords=stopwords,
            max_token_length=max_token_length,
            stemmer=stemmer,
            stem_exclusions=stem_exclusions,
            output_unigrams=cjk_unigrams,
            with_offsets=with_offsets,
        )

    # validate the name before any work; SetKeywordMarkerFilter semantics
    # (stem_exclusions) live inside the resolved callable
    stem_fn = _resolve(stemmer, stem_exclusions)
    n_docs = len(texts)
    norm_texts = ["" if t is None else t for t in texts]
    if zwnj_to_space:
        # PersianCharFilter (fa/PersianCharFilter.java:24-41): ZWNJ →
        # space pre-tokenize; str.replace is a no-op scan for the
        # (overwhelmingly common) ZWNJ-free documents
        norm_texts = [t.replace("‌", " ") for t in norm_texts]

    out_doc: list[np.ndarray] = []
    out_terms: list[pa.Array] = []
    out_pos: list[np.ndarray] = []
    out_soff: list[np.ndarray] = []
    out_eoff: list[np.ndarray] = []

    joined = "\n".join(norm_texts)
    # surrogatepass: Python strings can carry lone surrogates (Arrow
    # strings cannot, but the API accepts any str); they classify as
    # non-word via the LUTs, so they break tokens exactly like the
    # oracle's regex and never appear inside a token's text
    cp = np.frombuffer(
        joined.encode("utf-32-le", "surrogatepass"), dtype=np.uint32
    )
    lens = np.fromiter((len(t) for t in norm_texts), np.int64, n_docs)
    doc_off = np.zeros(n_docs + 1, np.int64)
    np.cumsum(lens + 1, out=doc_off[1:])  # +1 per '\n' separator

    # per-doc fast/slow routing, vectorized
    if len(cp):
        in_range = cp < FAST_LIMIT
        cpi = np.minimum(cp, FAST_LIMIT - 1)
        bad = ~in_range
        if lowercase is True:
            # char-level lowering only; lowercase="irish" lowers per
            # DISTINCT term in Python (always oracle-identical), so it
            # needs no slow-doc routing
            bad = bad | _BAD_LOWER[cpi]
        seg_starts = doc_off[:-1].clip(max=len(cp) - 1)
        doc_bad = np.maximum.reduceat(bad.view(np.uint8), seg_starts).astype(bool)
        slow_docs = np.nonzero(doc_bad)[0]
        slow_set = doc_bad
    else:
        cpi = cp
        slow_docs = np.empty(0, np.int64)
        slow_set = np.zeros(n_docs, bool)

    if len(cp):
        is_run = _RUN[cpi] & in_range
        is_letter = _LETTER[cpi]
        is_digit = _DIGIT[cpi]
        join_l = _MID_L[cpi] & _shift_prev(is_letter) & _shift_next(is_letter)
        join_n = _MID_N[cpi] & _shift_prev(is_digit) & _shift_next(is_digit)
        tok = is_run | join_l | join_n
        not_single = tok
        ext = _EXT[cpi] & in_range
        if ext.any():
            idx = np.arange(len(cp), dtype=np.int64)
            # a mark counts as the letter left of a MidLetter join only
            # inside one of the oracle's regex candidates: marks, and
            # mid-chars followed by a \w char or a mark, continue the
            # candidate of the nearest preceding \w char, so a mark at
            # the start, after a space or after an emoji joins nothing
            word = _WORD[cpi] & in_range
            trans = ext | ((_MID_L[cpi] | _MID_N[cpi]) & _shift_next(word | ext))
            anchor = np.maximum.accumulate(np.where(trans, -1, idx))
            ext_in_run = ext & (anchor >= 0)
            ext_in_run[ext_in_run] = word[anchor[ext_in_run]]
            left = (is_letter & ~ext) | ext_in_run
            join_l = _MID_L[cpi] & _shift_prev(left) & _shift_next(is_letter)
            tok = is_run | join_l | join_n
            # WB4: Extend marks continue the token of the char they
            # follow and never start one — a mark run attaches iff its
            # nearest preceding non-Extend char is a token char
            prev_nonext = np.maximum.accumulate(np.where(~ext, idx, -1))
            join_ext = ext & (prev_nonext >= 0)
            join_ext[join_ext] = tok[prev_nonext[join_ext]]
            tok = tok | join_ext
            not_single = tok | ext_in_run

        d = np.diff(np.r_[np.int8(0), tok.view(np.int8), np.int8(0)])
        starts = np.nonzero(d == 1)[0]
        tlen = np.nonzero(d == -1)[0] - starts
        # an emoji-class char that is ALSO an Extend mark (VS16) is not a
        # standalone single inside a word run, whether it joined a token
        # there or was trimmed off one
        singles = np.nonzero(_SINGLE[cpi] & in_range & ~not_single)[0]
        if singles.size:
            starts = np.concatenate([starts, singles])
            tlen = np.concatenate([tlen, np.ones(singles.size, np.int64)])
            order = np.argsort(starts, kind="stable")
            starts, tlen = starts[order], tlen[order]
    else:
        starts = np.empty(0, np.int64)
        tlen = np.empty(0, np.int64)

    if starts.size:
        # doc of each token; separators are non-word so runs never span docs
        tdoc = np.searchsorted(doc_off, starts, side="right") - 1
        # 0-based position within doc over ALL raw tokens
        first = np.r_[True, tdoc[1:] != tdoc[:-1]]
        tok_seq = np.arange(starts.size, dtype=np.int32)
        pos = (tok_seq - tok_seq[first][np.cumsum(first) - 1]).astype(np.int32)

        keep = (tlen <= max_token_length) & ~slow_set[tdoc]
        starts, tlen, tdoc, pos = starts[keep], tlen[keep], tdoc[keep], pos[keep]
        soff = eoff = None
        if with_offsets:
            # char spans relative to each token's own document
            soff = (starts - doc_off[tdoc]).astype(np.int32)
            eoff = (soff + tlen).astype(np.int32)

        if starts.size:
            data = _LOWER[cpi] if lowercase is True else cp
            total = int(tlen.sum())
            # int32 index space: a batch is < 2^31 chars by construction
            # (Arrow batches), and halving the temp footprint halves the
            # page-fault warmup cost on kernels with slow anon faults
            tlen32 = tlen.astype(np.int32)
            cum = np.zeros(len(tlen), np.int32)
            np.cumsum(tlen32[:-1], out=cum[1:])
            gather = (
                np.arange(total, dtype=np.int32)
                - np.repeat(cum, tlen32)
                + np.repeat(starts.astype(np.int32), tlen32)
            )
            gcp = data[gather]
            # utf-32 → utf-8: one C-level decode/encode for the whole batch
            tbytes = (
                gcp.astype(np.uint32)
                .tobytes()
                .decode("utf-32-le", "surrogatepass")
                .encode("utf-8", "surrogatepass")
            )
            blen = _UTF8LEN[np.minimum(gcp, FAST_LIMIT - 1)]
            tok_blen = np.add.reduceat(blen, cum)
            offs64 = np.zeros(len(tlen) + 1, np.int64)
            np.cumsum(tok_blen, out=offs64[1:])
            offsets = offs64.astype(np.int32)  # Arrow batches are < 2 GiB
            terms = pa.Array.from_buffers(
                pa.utf8(),
                len(tlen),
                [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(tbytes)],
            )
            if pre_stop:
                # IrishAnalyzer's StopFilter(HYPHENATIONS) slot: a
                # case-insensitive stop on RAW tokens BEFORE elision;
                # positions were assigned pre-mask, so gaps survive
                mps = pc.is_in(
                    pc.utf8_lower(terms),
                    value_set=pa.array(sorted(pre_stop), pa.utf8()),
                )
                keepp = np.invert(
                    pc.fill_null(mps, False).to_numpy(zero_copy_only=False)
                )
                terms = terms.filter(pa.array(keepp))
                tdoc = tdoc[keepp]
                pos = pos[keepp]
                if with_offsets:
                    soff = soff[keepp]
                    eoff = eoff[keepp]
            if apostrophe:
                # ApostropheFilter (tr/ApostropheFilter.java): truncate
                # at the first apostrophe; tokens never contain newlines,
                # so '.*' reaches the token end
                terms = pc.replace_substring_regex(
                    terms,
                    pattern="['’].*",
                    replacement="",
                    max_replacements=1,
                )
            if strip_possessive:
                terms = pc.replace_substring_regex(
                    terms, pattern="['’][sS]$", replacement=""
                )
            if elide:
                from lucene_solr_spark.oracle.light_stemmers import (
                    elision_regex,
                )

                terms = pc.replace_substring_regex(
                    terms,
                    pattern=elision_regex(elide),
                    replacement="",
                    max_replacements=1,
                )
            if isinstance(lowercase, str) and len(terms):
                # named fold (FOLDS registry): IrishLowerCaseFilter
                # AFTER elision (the fold reads the original casing) /
                # TurkishLowerCaseFilter after the apostrophe strip /
                # the Arabic/Persian LowerCase+DecimalDigit+norm stacks;
                # per-DISTINCT-term like the stemmers
                from lucene_solr_spark.oracle.light_stemmers import (
                    resolve_fold,
                )

                fold_fn = resolve_fold(lowercase)
                dirr = pc.dictionary_encode(terms)
                folded_ga = pa.array(
                    [fold_fn(t) for t in dirr.dictionary.to_pylist()],
                    pa.utf8(),
                )
                terms = folded_ga.take(dirr.indices)
            if fold_ascii and len(terms):
                # per-DISTINCT-term fold via dictionary encode (the
                # stemmer pattern): the batch vocabulary is tiny next to
                # the token stream, ASCII-pure batches skip entirely
                from lucene_solr_spark.oracle.tokenizer import fold_accents

                denc0 = pc.dictionary_encode(terms)
                dvals = denc0.dictionary.to_pylist()
                if any(not t.isascii() for t in dvals):
                    folded = pa.array(
                        [fold_accents(t) for t in dvals], pa.utf8()
                    )
                    terms = folded.take(denc0.indices)
            if stopwords:
                m = pc.is_in(
                    terms, value_set=pa.array(sorted(stopwords), pa.utf8())
                )
                keep2 = np.invert(
                    pc.fill_null(m, False).to_numpy(zero_copy_only=False)
                )
                terms = terms.filter(pa.array(keep2))
                tdoc = tdoc[keep2]
                pos = pos[keep2]
                if with_offsets:
                    soff = soff[keep2]
                    eoff = eoff[keep2]
            if stem_fn is not None and len(terms):
                denc = pc.dictionary_encode(terms)
                stemmed = pa.array(
                    [stem_fn(t) for t in denc.dictionary.to_pylist()],
                    pa.utf8(),
                )
                terms = stemmed.take(denc.indices)
            out_doc.append(tdoc)
            out_terms.append(terms)
            out_pos.append(pos)
            if with_offsets:
                out_soff.append(soff)
                out_eoff.append(eoff)

    for i in slow_docs.tolist():
        otoks = analyze_with_offsets(
            norm_texts[i],
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
        )
        if not otoks:
            continue
        terms_i, pos_i, soff_i, eoff_i = zip(*otoks)
        out_doc.append(np.full(len(otoks), i, np.int64))
        out_terms.append(pa.array(terms_i, pa.utf8()))
        out_pos.append(np.array(pos_i, np.int32))
        if with_offsets:
            out_soff.append(np.array(soff_i, np.int32))
            out_eoff.append(np.array(eoff_i, np.int32))

    if not out_doc:
        empty = (
            np.empty(0, np.int64),
            pa.array([], pa.utf8()),
            np.empty(0, np.int32),
        )
        return empty + (np.empty(0, np.int32), np.empty(0, np.int32)) if with_offsets else empty
    res = (
        np.concatenate(out_doc),
        pa.concat_arrays(out_terms) if len(out_terms) > 1 else out_terms[0],
        np.concatenate(out_pos),
    )
    if with_offsets:
        return res + (np.concatenate(out_soff), np.concatenate(out_eoff))
    return res


def _batch_cjk(
    texts,
    *,
    lowercase: bool | str = True,
    stopwords: frozenset[str] = frozenset(),
    max_token_length: int = MAX_TOKEN_LENGTH_DEFAULT,
    stemmer: str | None = None,
    stem_exclusions: frozenset[str] | None = None,
    output_unigrams: bool = False,
    with_offsets: bool = False,
):
    """Vectorized CJKAnalyzer chain (``cjk/CJKAnalyzer.java:95-103``):
    width fold → tokenize+lowercase → CJK bigram merge → stop → [stem].

    Batch twin of the scalar chain in ``oracle.tokenizer.analyze`` /
    ``oracle.cjk.cjk_bigram_stream`` (pinned equal by
    ``tests/test_cjk_chain.py``). The bigram stage exploits one
    invariant: buffered tokens are CHARACTER-CONTIGUOUS, so a buffered
    run is exactly a substring of the (folded) document — every bigram
    is a 2-codepoint gather from the document text, no per-token Python:

    - width fold (``cjk/CJKWidthFilter.java``) runs per-doc in Python
      ONLY for docs that contain a fold-range codepoint (vectorized
      detection; CJK corpora are overwhelmingly fold-free);
    - the raw stream comes from the standard fast path with offsets;
    - per-DISTINCT-term script flags (the batch vocabulary is tiny next
      to the token stream) mark eligible tokens; offset-contiguous
      eligible tokens group into runs via boolean shifts + cumsum;
    - each run of L codepoints emits L-1 bigrams (unigram if L == 1;
      with ``output_unigrams`` all L unigrams + L-1 stacked bigrams,
      ``CJKBigramFilter.java:157-170,300``) — texts are ONE numpy
      gather + utf-32→utf-8 re-encode, like the main fast path;
    - positions renumber over the emitted stream (posInc 1 per
      non-stacked token), then StopFilter drops terms keeping gaps.
    """
    from lucene_solr_spark.oracle.cjk import (
        ALL_CJK,
        _token_flag,
        width_fold,
    )
    from lucene_solr_spark.oracle.light_stemmers import (
        resolve_with_exclusions as _resolve,
    )

    stem_fn = _resolve(stemmer, stem_exclusions)
    n_docs = len(texts)
    norm = ["" if t is None else t for t in texts]

    def _empty():
        base = (
            np.empty(0, np.int64),
            pa.array([], pa.utf8()),
            np.empty(0, np.int32),
        )
        if with_offsets:
            return base + (np.empty(0, np.int32), np.empty(0, np.int32))
        return base

    if n_docs == 0:
        return _empty()

    # --- width fold: only docs containing a fold-range codepoint ------
    joined0 = "\n".join(norm)
    cp0 = np.frombuffer(
        joined0.encode("utf-32-le", "surrogatepass"), dtype=np.uint32
    )
    if len(cp0):
        need = ((cp0 >= 0xFF01) & (cp0 <= 0xFF5E)) | (
            (cp0 >= 0xFF65) & (cp0 <= 0xFF9F)
        )
        if need.any():
            lens0 = np.fromiter((len(t) for t in norm), np.int64, n_docs)
            off0 = np.zeros(n_docs + 1, np.int64)
            np.cumsum(lens0 + 1, out=off0[1:])
            seg = off0[:-1].clip(max=len(cp0) - 1)
            doc_need = np.maximum.reduceat(need.view(np.uint8), seg).astype(
                bool
            )
            norm = [
                width_fold(t) if dn else t for t, dn in zip(norm, doc_need)
            ]

    # --- raw stream: standard fast path over the FOLDED text ----------
    tdoc, terms, _rawpos, soff, eoff = batch_tokenize(
        norm,
        lowercase=lowercase,
        max_token_length=max_token_length,
        with_offsets=True,
    )
    n_tok = len(tdoc)
    if n_tok == 0:
        return _empty()
    # slow-path docs append out of stream order; restore (doc, start)
    order = np.lexsort((soff, tdoc))
    tdoc = tdoc[order]
    soff = soff[order]
    eoff = eoff[order]
    terms = terms.take(pa.array(order))

    # --- per-DISTINCT-term script eligibility --------------------------
    denc = pc.dictionary_encode(terms)
    dvals = denc.dictionary.to_pylist()
    dflag = np.fromiter(
        (_token_flag(v, ALL_CJK) for v in dvals), np.int64, len(dvals)
    )
    elig = dflag[denc.indices.to_numpy(zero_copy_only=False)] != 0

    # --- group runs: offset-contiguous eligible tokens -----------------
    cont = np.zeros(n_tok, np.bool_)
    if n_tok > 1:
        cont[1:] = (
            elig[1:]
            & elig[:-1]
            & (tdoc[1:] == tdoc[:-1])
            & (soff[1:] == eoff[:-1])
        )
    gfirst = np.nonzero(~cont)[0]  # first token index of each group
    glast = np.r_[gfirst[1:] - 1, n_tok - 1]
    g_elig = elig[gfirst]
    g_doc = tdoc[gfirst]
    g_s = soff[gfirst].astype(np.int64)
    g_e = eoff[glast].astype(np.int64)
    g_len = g_e - g_s  # codepoints buffered (contiguity invariant)

    # --- emission plan per group ---------------------------------------
    if output_unigrams:
        cjk_cnt = np.where(g_len <= 1, 1, 2 * g_len - 1)
    else:
        cjk_cnt = np.where(g_len <= 1, 1, g_len - 1)
    e_cnt = np.where(g_elig, cjk_cnt, 1)
    total = int(e_cnt.sum())
    e_grp = np.repeat(np.arange(len(gfirst), dtype=np.int64), e_cnt)
    cum = np.zeros(len(e_cnt), np.int64)
    np.cumsum(e_cnt[:-1], out=cum[1:])
    e_k = np.arange(total, dtype=np.int64) - cum[e_grp]
    e_elig = g_elig[e_grp]
    e_doc = g_doc[e_grp]

    if output_unigrams:
        # A (AB) B (BC) C …: even k → unigram at char k//2, odd k →
        # bigram at char (k-1)//2 stacked at the unigram's position
        char_ix = np.where(e_k % 2 == 0, e_k // 2, (e_k - 1) // 2)
        nchars = np.where(
            (g_len[e_grp] >= 2) & (e_k % 2 == 1), np.int64(2), np.int64(1)
        )
        stacked = e_elig & (e_k % 2 == 1)
    else:
        char_ix = e_k
        nchars = np.where(g_len[e_grp] >= 2, np.int64(2), np.int64(1))
        stacked = np.zeros(total, np.bool_)
    e_start = g_s[e_grp] + char_ix  # char span start within the doc

    # --- gather CJK emission texts from the folded documents ----------
    joined = "\n".join(norm)
    cpf = np.frombuffer(
        joined.encode("utf-32-le", "surrogatepass"), dtype=np.uint32
    )
    lens = np.fromiter((len(t) for t in norm), np.int64, n_docs)
    doc_off = np.zeros(n_docs + 1, np.int64)
    np.cumsum(lens + 1, out=doc_off[1:])
    cjk_rows = np.nonzero(e_elig)[0]
    if cjk_rows.size:
        c_start = doc_off[e_doc[cjk_rows]] + e_start[cjk_rows]
        c_len = nchars[cjk_rows]
        ctot = int(c_len.sum())
        ccum = np.zeros(cjk_rows.size, np.int64)
        np.cumsum(c_len[:-1], out=ccum[1:])
        gather = (
            np.arange(ctot, dtype=np.int64)
            - np.repeat(ccum, c_len)
            + np.repeat(c_start, c_len)
        )
        gcp = cpf[gather]  # CJK codepoints are caseless: no lowering
        tbytes = (
            gcp.astype(np.uint32)
            .tobytes()
            .decode("utf-32-le", "surrogatepass")
            .encode("utf-8", "surrogatepass")
        )
        blen = _UTF8LEN[np.minimum(gcp, FAST_LIMIT - 1)]
        tok_blen = np.add.reduceat(blen, ccum)
        offs = np.zeros(cjk_rows.size + 1, np.int64)
        np.cumsum(tok_blen, out=offs[1:])
        cjk_texts = pa.Array.from_buffers(
            pa.utf8(),
            cjk_rows.size,
            [
                None,
                pa.py_buffer(offs.astype(np.int32).tobytes()),
                pa.py_buffer(tbytes),
            ],
        )
    else:
        cjk_texts = pa.array([], pa.utf8())

    # --- interleave pass-through terms with CJK emissions -------------
    perm = np.empty(total, np.int64)
    perm[~e_elig] = gfirst[e_grp[~e_elig]]  # index into `terms`
    perm[cjk_rows] = n_tok + np.arange(cjk_rows.size)
    out_terms = pa.concat_arrays(
        [terms.combine_chunks() if hasattr(terms, "combine_chunks") else terms,
         cjk_texts]
    ).take(pa.array(perm))

    # --- positions: renumber over the emitted stream (gaps come later) -
    inc = (~stacked).astype(np.int64)
    c = np.cumsum(inc) - 1  # 0-based for non-stacked; stacked repeats prev
    first = np.zeros(total, np.bool_)
    first[0] = True
    first[1:] = e_doc[1:] != e_doc[:-1]
    base = c[first]
    pos = (c - base[np.cumsum(first) - 1]).astype(np.int32)

    out_soff = out_eoff = None
    if with_offsets:
        out_soff = np.where(
            e_elig, e_start, soff[np.minimum(perm, n_tok - 1)]
        ).astype(np.int32)
        out_eoff = np.where(
            e_elig,
            e_start + nchars,
            eoff[np.minimum(perm, n_tok - 1)],
        ).astype(np.int32)

    # --- StopFilter (position-preserving) + optional stem --------------
    if stopwords:
        m = pc.is_in(
            out_terms, value_set=pa.array(sorted(stopwords), pa.utf8())
        )
        keep = np.invert(pc.fill_null(m, False).to_numpy(zero_copy_only=False))
        out_terms = out_terms.filter(pa.array(keep))
        e_doc = e_doc[keep]
        pos = pos[keep]
        if with_offsets:
            out_soff = out_soff[keep]
            out_eoff = out_eoff[keep]
    if stem_fn is not None and len(out_terms):
        denc2 = pc.dictionary_encode(out_terms)
        stemmed = pa.array(
            [stem_fn(t) for t in denc2.dictionary.to_pylist()], pa.utf8()
        )
        out_terms = stemmed.take(denc2.indices)

    res = (e_doc, out_terms, pos)
    if with_offsets:
        return res + (out_soff, out_eoff)
    return res
