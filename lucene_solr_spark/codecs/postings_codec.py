"""Blocked posting-list codec: FOR-delta docIDs, PFOR freqs, VInt tail,
singleton pulsing, per-block competitive impacts.

numpy re-expression of the Lucene90 posting format (geometry parity, wire
format ours — SURVEY.md §2.2):

- 128-int blocks (``codecs/lucene90/ForUtil.java:31`` BLOCK_SIZE=128).
- docIDs: per-block delta + fixed-width bit-pack, dense all-1s block → 0
  bytes (``ForDeltaUtil.java:53-79``).
- freqs: patched FOR with ≤3 exceptions stored as (index, full value)
  (``PForUtil.java:43-90``).
- tail < 128 postings: VInt stream with the ``(delta<<1 | freq==1)`` trick
  (``Lucene90PostingsWriter.java:366-395`` finishTerm).
- df==1 → singleton pulsing: doc+tf inlined in the term row, no blocks
  (``Lucene90PostingsWriter.java:377-380``).
- per-block impacts = pareto frontier of (freq, norm) pairs — the set from
  which the block's max possible BM25 score derives
  (``codecs/CompetitiveImpactAccumulator.java:30-117``,
  ``index/Impact.java:20-30``).

Skip lists are NOT reproduced as a file structure: per-block
``(first_doc, last_doc, impacts)`` metadata rows give O(1) block skipping
in a columnar layout (SURVEY.md §2.2 "skip list writer" row); Lucene's
skip interval 128 / multiplier 8 / ≤10 levels collapse into this flat
metadata + Parquet row-group stats.

All encode/decode paths are vectorized numpy; property tests roundtrip
random posting lists (tests/test_postings_codec.py).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

__all__ = [
    "BLOCK_SIZE",
    "EncodedPostings",
    "encode_postings",
    "decode_postings",
    "decode_blocks",
    "block_impacts",
    "pack_bits",
    "unpack_bits",
    "vint_encode",
    "vint_decode",
]

BLOCK_SIZE = 128  # ForUtil.java:31
MAX_PFOR_EXCEPTIONS = 3  # PForUtil.java:43


# ----------------------------------------------------------- bit packing
def pack_bits(vals: np.ndarray, width: int) -> bytes:
    """Fixed-width bit-pack (MSB-first per value), vectorized."""
    if width == 0 or len(vals) == 0:
        return b""
    v = vals.astype(np.uint64)
    shifts = np.arange(width - 1, -1, -1, dtype=np.uint64)
    bits = ((v[:, None] >> shifts) & np.uint64(1)).astype(np.uint8)
    return np.packbits(bits.reshape(-1)).tobytes()


def unpack_bits(data: bytes, n: int, width: int) -> np.ndarray:
    """Inverse of :func:`pack_bits` → uint64 array of length n."""
    if width == 0 or n == 0:
        return np.zeros(n, dtype=np.uint64)
    bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8), count=n * width)
    weights = (np.uint64(1) << np.arange(width - 1, -1, -1, dtype=np.uint64))
    return (bits.reshape(n, width).astype(np.uint64) * weights).sum(
        axis=1, dtype=np.uint64
    )


def _bit_width(max_val: int) -> int:
    return int(max_val).bit_length()


# ----------------------------------------------------------------- VInt
def vint_encode(vals: np.ndarray) -> bytes:
    """Standard 7-bit VInt stream. Vectorized for values < 2^35 (the hot
    path: position/doc deltas); loop fallback for larger."""
    v = np.asarray(vals, dtype=np.uint64)
    if v.size == 0:
        return b""
    if v.size > 8 and int(v.max()) < (1 << 35):
        # bytes needed per value: ceil(bitlength/7), min 1
        bl = np.zeros(len(v), np.int64)
        tmp = v.copy()
        while True:
            nz = tmp > 0
            if not nz.any():
                break
            bl[nz] += 1
            tmp = tmp >> np.uint64(7)
        bl[bl == 0] = 1
        total = int(bl.sum())
        out = np.empty(total, np.uint8)
        ends = np.cumsum(bl)
        starts = ends - bl
        # emit up to 5 byte-slots
        rem = v.copy()
        for slot in range(5):
            active = bl > slot
            if not active.any():
                break
            pos = starts[active] + slot
            is_last = bl[active] == slot + 1
            byte = (rem[active] & np.uint64(0x7F)).astype(np.uint8)
            byte[~is_last] |= 0x80
            out[pos] = byte
            rem[active] = rem[active] >> np.uint64(7)
        return out.tobytes()
    out_b = bytearray()
    for x in v.tolist():
        x = int(x)
        while x >= 0x80:
            out_b.append((x & 0x7F) | 0x80)
            x >>= 7
        out_b.append(x)
    return bytes(out_b)


def vint_decode(data: bytes) -> np.ndarray:
    """Vectorized VInt decode: group bytes by terminator, combine 7-bit
    payloads with per-byte shifts via segmented cumulation."""
    arr = np.frombuffer(data, dtype=np.uint8)
    if arr.size == 0:
        return np.empty(0, np.int64)
    is_last = (arr & 0x80) == 0
    group = np.r_[0, np.cumsum(is_last)[:-1]]  # value index per byte
    n = int(is_last.sum())
    # position of each byte within its group
    group_start = np.r_[0, np.nonzero(is_last)[0][:-1] + 1]
    pos_in_group = np.arange(len(arr)) - group_start[group]
    contrib = (arr & 0x7F).astype(np.uint64) << (7 * pos_in_group).astype(np.uint64)
    out = np.zeros(n, np.uint64)
    np.add.at(out, group, contrib)
    return out.astype(np.int64)


# -------------------------------------------------------------- impacts
def block_impacts(freqs: np.ndarray, norms: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Pareto frontier of (freq, norm): pair A dominates B iff
    freq_A >= freq_B and norm_A <= norm_B (norm byte 0..255 is monotone in
    decoded length, SmallFloat.byte4ToInt). Returns (freqs_asc, norms_asc)
    with strictly increasing freq — the shape Lucene's
    CompetitiveImpactAccumulator produces (max-freq-per-norm sweep,
    ``CompetitiveImpactAccumulator.java:58-117``)."""
    order = np.lexsort((freqs, norms))  # norm asc, freq asc within norm
    f = freqs[order]
    n = norms[order]
    # max freq per norm value: last entry of each norm group
    last = np.r_[n[1:] != n[:-1], True]
    f, n = f[last], n[last]
    # sweep: keep pairs whose freq strictly exceeds the best at smaller norm
    best = np.maximum.accumulate(f)
    keep = np.r_[True, f[1:] > best[:-1]]
    return f[keep].astype(np.int32), n[keep].astype(np.int32)


# ------------------------------------------------------------- encoding
@dataclass
class EncodedPostings:
    """One term's encoded postings + block metadata.

    ``imp_off`` has n_blocks+1 entries (tail counts as a block when
    non-empty); impacts arrays are flattened across blocks."""

    df: int
    ttf: int
    doc_blob: bytes
    tf_blob: bytes
    tail_blob: bytes
    n_full_blocks: int
    block_first: np.ndarray  # int64, per full block
    block_last: np.ndarray  # int64, per block incl tail
    imp_freq: np.ndarray  # int32 flattened
    imp_norm: np.ndarray  # int32 flattened
    imp_off: np.ndarray  # int32, len n_blocks_total + 1
    singleton_doc: int = -1
    singleton_tf: int = 0
    # optional .pos-file analog: per-posting VInt-delta position lists
    pos_blob: bytes = b""
    pos_off: np.ndarray | None = None  # int64, len df + 1


def encode_postings(
    doc_ids: np.ndarray, tfs: np.ndarray, norms: np.ndarray
) -> EncodedPostings:
    """Encode one term's (sorted docID, tf) postings; ``norms`` are the
    per-posting norm bytes (for impact frontiers)."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    norms = np.asarray(norms, dtype=np.int64)
    df = len(doc_ids)
    ttf = int(tfs.sum())

    if df == 1:  # singleton pulsing
        return EncodedPostings(
            df=1,
            ttf=ttf,
            doc_blob=b"",
            tf_blob=b"",
            tail_blob=b"",
            n_full_blocks=0,
            block_first=np.empty(0, np.int64),
            block_last=np.asarray([doc_ids[0]], np.int64),
            imp_freq=np.asarray([tfs[0]], np.int32),
            imp_norm=np.asarray([norms[0]], np.int32),
            imp_off=np.asarray([0, 1], np.int32),
            singleton_doc=int(doc_ids[0]),
            singleton_tf=int(tfs[0]),
        )

    n_full = df // BLOCK_SIZE
    doc_parts: list[bytes] = []
    tf_parts: list[bytes] = []
    block_first = np.empty(n_full, np.int64)
    block_last_all: list[int] = []
    imp_f: list[np.ndarray] = []
    imp_n: list[np.ndarray] = []
    imp_off = [0]

    for i in range(n_full):
        sl = slice(i * BLOCK_SIZE, (i + 1) * BLOCK_SIZE)
        d = doc_ids[sl]
        t = tfs[sl]
        block_first[i] = d[0]
        block_last_all.append(int(d[-1]))
        # docs: 127 deltas from previous doc within block
        deltas = np.diff(d)
        if deltas.size and (deltas == 1).all():
            doc_parts.append(b"\x00")  # dense block (ForDeltaUtil.java:71-79)
        else:
            w = _bit_width(int(deltas.max()))
            doc_parts.append(bytes([w]) + pack_bits(deltas, w))
        # tfs: PFOR over (tf - 1)
        tf_parts.append(_pfor_encode(t - 1))
        bf, bn = block_impacts(t, norms[sl])
        imp_f.append(bf)
        imp_n.append(bn)
        imp_off.append(imp_off[-1] + len(bf))

    # tail: VInt with (delta<<1 | tf==1) trick
    tail = doc_ids[n_full * BLOCK_SIZE :]
    tail_tf = tfs[n_full * BLOCK_SIZE :]
    tail_blob = b""
    if tail.size:
        prev = doc_ids[n_full * BLOCK_SIZE - 1] if n_full else -1
        deltas = np.diff(np.r_[prev, tail])
        stream: list[int] = []
        for dd, tt in zip(deltas.tolist(), tail_tf.tolist()):
            if tt == 1:
                stream.append((dd << 1) | 1)
            else:
                stream.append(dd << 1)
                stream.append(tt)
        tail_blob = vint_encode(np.asarray(stream, dtype=np.int64))
        block_last_all.append(int(tail[-1]))
        bf, bn = block_impacts(tail_tf, norms[n_full * BLOCK_SIZE :])
        imp_f.append(bf)
        imp_n.append(bn)
        imp_off.append(imp_off[-1] + len(bf))

    return EncodedPostings(
        df=df,
        ttf=ttf,
        doc_blob=b"".join(doc_parts),
        tf_blob=b"".join(tf_parts),
        tail_blob=tail_blob,
        n_full_blocks=n_full,
        block_first=block_first,
        block_last=np.asarray(block_last_all, np.int64),
        imp_freq=np.concatenate(imp_f).astype(np.int32) if imp_f else np.empty(0, np.int32),
        imp_norm=np.concatenate(imp_n).astype(np.int32) if imp_n else np.empty(0, np.int32),
        imp_off=np.asarray(imp_off, np.int32),
    )


def _pfor_encode(vals: np.ndarray) -> bytes:
    """PFOR: base-width pack with ≤3 exceptions (index byte + uint32 value).
    Layout: [base_width u8][n_exc u8][packed vals][exc: (idx u8, val u32le)*]."""
    v = np.asarray(vals, dtype=np.int64)
    if (v == 0).all():
        return bytes([0, 0])
    sorted_v = np.sort(v)
    base_max = int(sorted_v[-(MAX_PFOR_EXCEPTIONS + 1)]) if len(v) > MAX_PFOR_EXCEPTIONS else 0
    base_w = _bit_width(base_max)
    exc_idx = np.nonzero(v > ((1 << base_w) - 1) if base_w else v > 0)[0]
    if len(exc_idx) > MAX_PFOR_EXCEPTIONS:  # ties at the cutoff — widen
        base_w = _bit_width(int(sorted_v[-1]))
        exc_idx = np.empty(0, np.int64)
    packed = v.copy()
    packed[exc_idx] = 0
    out = bytearray([base_w, len(exc_idx)])
    out += pack_bits(packed, base_w)
    for i in exc_idx.tolist():
        out.append(i)
        out += int(v[i]).to_bytes(4, "little")
    return bytes(out)


def _pfor_decode(buf: memoryview, n: int) -> np.ndarray:
    base_w, n_exc = buf[0], buf[1]
    nbytes = (n * base_w + 7) // 8
    vals = unpack_bits(bytes(buf[2 : 2 + nbytes]), n, base_w).astype(np.int64)
    pos = 2 + nbytes
    for _ in range(n_exc):
        idx = buf[pos]
        vals[idx] = int.from_bytes(bytes(buf[pos + 1 : pos + 5]), "little")
        pos += 5
    return vals


# ------------------------------------------------------------- decoding
def decode_blocks(
    enc: EncodedPostings, block_ids: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """Decode selected blocks (or all) → (doc_ids, tfs), in block order.
    Random block access is the codec's skip-list replacement: a skipped
    block costs only the walk past its header bytes, so the block-max
    window selector (operators.topk) decodes just the blocks that overlap
    the windows it evaluates."""
    if enc.singleton_doc >= 0:
        return (
            np.asarray([enc.singleton_doc], np.int64),
            np.asarray([enc.singleton_tf], np.int64),
        )
    n_blocks_total = len(enc.block_last)
    if block_ids is None:
        block_ids = np.arange(n_blocks_total)
    else:
        block_ids = np.asarray(sorted(set(int(b) for b in block_ids)))

    # walk blobs once, decoding only requested blocks (blobs are
    # variable-width so offsets accumulate; blocks are small and few)
    doc_buf = memoryview(enc.doc_blob)
    tf_buf = memoryview(enc.tf_blob)
    want = set(block_ids.tolist())
    docs_out: list[np.ndarray] = []
    tfs_out: list[np.ndarray] = []
    dpos = 0
    tpos = 0
    for i in range(enc.n_full_blocks):
        w = doc_buf[dpos]
        dlen = 0 if w == 0 else (127 * w + 7) // 8
        if i in want:
            if w == 0:
                d = enc.block_first[i] + np.arange(BLOCK_SIZE, dtype=np.int64)
            else:
                deltas = unpack_bits(
                    bytes(doc_buf[dpos + 1 : dpos + 1 + dlen]), 127, w
                ).astype(np.int64)
                d = enc.block_first[i] + np.r_[0, np.cumsum(deltas)]
            docs_out.append(d)
            tfs_out.append(_pfor_decode(tf_buf[tpos:], BLOCK_SIZE) + 1)
        dpos += 1 + dlen
        # PFOR block length from its header: [width][n_exc][packed][exc*5]
        tpos += 2 + (BLOCK_SIZE * tf_buf[tpos] + 7) // 8 + 5 * tf_buf[tpos + 1]
    # tail block
    tail_id = enc.n_full_blocks
    if enc.tail_blob and tail_id < n_blocks_total and tail_id in want:
        stream = vint_decode(enc.tail_blob)
        docs: list[int] = []
        tfs: list[int] = []
        prev = (
            int(enc.block_last[enc.n_full_blocks - 1]) if enc.n_full_blocks else -1
        )
        j = 0
        while j < len(stream):
            code = int(stream[j])
            j += 1
            prev += code >> 1
            docs.append(prev)
            if code & 1:
                tfs.append(1)
            else:
                tfs.append(int(stream[j]))
                j += 1
        docs_out.append(np.asarray(docs, np.int64))
        tfs_out.append(np.asarray(tfs, np.int64))
    if not docs_out:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    return np.concatenate(docs_out), np.concatenate(tfs_out)


def decode_postings(enc: EncodedPostings) -> tuple[np.ndarray, np.ndarray]:
    """Full decode → (doc_ids, tfs)."""
    return decode_blocks(enc, None)


# ------------------------------------------------------------- positions
def _vint_lengths(vals: np.ndarray) -> np.ndarray:
    """Bytes each value needs in the VInt stream (ceil(bitlen/7), min 1)."""
    bl = np.zeros(len(vals), np.int64)
    tmp = np.asarray(vals, np.uint64).copy()
    while True:
        nz = tmp > 0
        if not nz.any():
            break
        bl[nz] += 1
        tmp = tmp >> np.uint64(7)
    bl[bl == 0] = 1
    return bl


def encode_positions(pos_lists: list[np.ndarray]) -> tuple[bytes, np.ndarray]:
    """Per-posting position lists → (VInt-delta blob, byte offsets).

    The .pos-file role (``Lucene90PostingsWriter.addPosition`` ``:288``):
    positions are per-doc delta-encoded VInts; ``offsets[i]:offsets[i+1]``
    is posting i's byte range, so phrase verification decodes ONLY the
    candidate docs that survive the conjunction approximation
    (``search/ExactPhraseMatcher.java:39`` two-phase contract).

    Fully vectorized across the term's postings: one concatenated delta
    array → one VInt emission; per-posting byte offsets derive from the
    vectorized per-value byte lengths."""
    counts = np.fromiter((len(p) for p in pos_lists), np.int64, len(pos_lists))
    n = int(counts.sum())
    if n == 0:
        return b"", np.zeros(len(pos_lists) + 1, np.int64)
    allpos = np.concatenate([np.asarray(p, np.int64) for p in pos_lists])
    starts = np.r_[0, np.cumsum(counts)[:-1]]
    deltas = allpos.copy()
    deltas[1:] -= allpos[:-1]
    nz = counts > 0
    deltas[starts[nz]] = allpos[starts[nz]]  # first position absolute
    blob = vint_encode(deltas)
    byte_cum = np.r_[0, np.cumsum(_vint_lengths(deltas))]
    offsets = np.r_[byte_cum[starts], byte_cum[-1]]
    return blob, offsets


def decode_positions(blob: bytes, offsets: np.ndarray, idx: int) -> np.ndarray:
    """Decode posting ``idx``'s position list."""
    lo, hi = int(offsets[idx]), int(offsets[idx + 1])
    return np.cumsum(vint_decode(blob[lo:hi]))


def decode_positions_batch(
    blob: bytes, offsets: np.ndarray, idxs: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Decode MANY postings' position lists in one vectorized pass →
    (positions concatenated, counts per posting). The phrase hot path:
    selected byte ranges are gathered, VInt-decoded together, and the
    per-posting cumsum is restored by segmented adjustment."""
    idxs = np.asarray(idxs, np.int64)
    if idxs.size == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    arr = np.frombuffer(blob, dtype=np.uint8)
    starts = offsets[idxs]
    ends = offsets[idxs + 1]
    lens = ends - starts
    # gather selected byte ranges
    take = np.concatenate(
        [np.arange(s, e) for s, e in zip(starts.tolist(), ends.tolist())]
    )
    sel = arr[take]
    deltas = vint_decode(sel.tobytes())
    # values per posting = number of terminator bytes in each range
    is_last_cum = np.r_[0, np.cumsum((arr & 0x80) == 0)]
    counts = is_last_cum[ends] - is_last_cum[starts]
    # segmented cumsum
    csum = np.cumsum(deltas)
    seg_starts = np.r_[0, np.cumsum(counts)[:-1]].astype(np.int64)
    nonzero = counts > 0
    adjust = np.zeros(len(counts), np.int64)
    adjust[nonzero] = csum[seg_starts[nonzero]] - deltas[seg_starts[nonzero]]
    positions = csum - np.repeat(adjust, counts)
    return positions, counts
