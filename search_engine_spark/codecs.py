"""Posting-list compression codecs (pure Python/numpy, no Spark).

Byte-layout-compatible re-implementations of the reference engine's codecs
(semantics derived from /root/reference/component/utils/encoding.h:48-162,
encoding.cpp:11-128 and BitStream.cpp — studied, not copied):

* ``var_byte_encode`` — 7-bit groups little-endian; the HIGH BIT SET marks
  the LAST byte (inverted vs classic VByte continuation).
* ``bit_packing`` — header ``[u8 width][u64 length]`` then values stored
  byte-ALIGNED at 8/16/32/64-bit granularity chosen by max bit width.
  Empty input encodes as a single ``0x00`` byte.
* ``simple9`` — length prefix (varbyte), then 32-bit words: 4-bit selector
  in the LOW bits, payload values packed low-to-high above it. 9 selector
  classes (28x1 ... 1x28).
* ``delta_encode`` (v1) — varbyte base + bit-packed gaps.
* ``delta_encode_v2`` — varbyte base + Simple9 gaps (final-index docIDs).
* ``encode_chunk`` / ``decode_chunk`` — one <=128-posting chunk:
  delta_v2(doc_ids) + bit_packing(tfs). Identical layout to the reference's
  ``BlockBinaryEncoder::encode_chunk`` (BlockEncoder.cpp:112-122).

All integers little-endian. Values passed to Simple9 must fit in 28 bits;
``encode_chunk`` transparently falls back to a varbyte-gap codec (codec id
``CODEC_VB_FALLBACK``) when a doc-id gap exceeds 2^28-1 (possible at
10^12-doc scale with sparse terms) — the codec id is stored out-of-band in
the chunk table, so the common-case payload stays reference-identical.

* ``encode_chunk_batch`` / ``decode_chunk_batch`` — many chunks at once,
  vectorized across chunks (the build's encode; the driver's pinned files
  and the Spark decode UDF, one call per file or record batch).

These run inside Arrow-batched UDFs and on the driver; numpy keeps the
work vectorized per chunk, or across chunks for the batch codecs.
"""

from __future__ import annotations

import numpy as np

CHUNK_LENGTH = 128  # postings per compressed chunk (reference default)

SIMPLE9_MAX = (1 << 28) - 1

# (nitems, nbits) per selector, classic Simple9 table.
_SELECTORS = (
    (28, 1),
    (14, 2),
    (9, 3),
    (7, 4),
    (5, 5),
    (4, 7),
    (3, 9),
    (2, 14),
    (1, 28),
)

CODEC_SIMPLE9 = 0  # reference-identical: delta base + simple9 gaps
CODEC_VB_FALLBACK = 1  # delta base + varbyte gaps (gaps > 2^28-1)


# ---------------------------------------------------------------- varbyte

def var_byte_encode(num: int, out: bytearray) -> None:
    """Append varbyte encoding of ``num`` (high bit set on last byte)."""
    if num < 0:
        raise ValueError("varbyte requires non-negative integers")
    while num > 0x7F:
        out.append(num & 0x7F)
        num >>= 7
    out.append(num | 0x80)


def var_byte_decode(buf: bytes | memoryview, pos: int) -> tuple[int, int]:
    """Decode one varbyte int starting at ``pos``; return (value, new_pos)."""
    out = 0
    shift = 0
    while True:
        byte = buf[pos]
        pos += 1
        out |= (byte & 0x7F) << shift
        shift += 7
        if byte & 0x80:
            return out, pos


def var_byte_encode_array(nums: np.ndarray, out: bytearray) -> None:
    for n in nums.tolist():
        var_byte_encode(int(n), out)


def var_byte_decode_array(
    buf: bytes | memoryview, pos: int, count: int
) -> tuple[np.ndarray, int]:
    vals = np.empty(count, dtype=np.uint64)
    for i in range(count):
        v, pos = var_byte_decode(buf, pos)
        vals[i] = v
    return vals, pos


# ------------------------------------------------------------ bit packing

def _width(num: int) -> int:
    return int(num).bit_length()


def bit_packing(nums: np.ndarray, out: bytearray) -> None:
    """Byte-aligned 'bit packing': u8 width, u64 count, fixed-width values."""
    n = len(nums)
    if n == 0:
        out.append(0)
        return
    arr = np.asarray(nums, dtype=np.uint64)
    width = max(1, _width(int(arr.max())))
    out.append(width)
    out += int(n).to_bytes(8, "little")
    if width <= 8:
        out += arr.astype("<u1").tobytes()
    elif width <= 16:
        out += arr.astype("<u2").tobytes()
    elif width <= 32:
        out += arr.astype("<u4").tobytes()
    else:
        out += arr.astype("<u8").tobytes()


def bit_packing_decode(
    buf: bytes | memoryview, pos: int
) -> tuple[np.ndarray, int]:
    width = buf[pos]
    pos += 1
    if width == 0:
        return np.empty(0, dtype=np.uint64), pos
    n = int.from_bytes(bytes(buf[pos : pos + 8]), "little")
    pos += 8
    if width <= 8:
        nbytes, dt = n, "<u1"
    elif width <= 16:
        nbytes, dt = 2 * n, "<u2"
    elif width <= 32:
        nbytes, dt = 4 * n, "<u4"
    else:
        nbytes, dt = 8 * n, "<u8"
    raw = bytes(buf[pos : pos + nbytes])
    if len(raw) != nbytes:
        # a truncated payload must fail HERE, not surface later as
        # tfs/dls arrays silently shorter than the doc-id array
        raise ValueError(
            f"bit-packed section truncated: need {nbytes} bytes, "
            f"have {len(raw)}"
        )
    vals = np.frombuffer(raw, dtype=dt).astype(np.uint64)
    return vals, pos + nbytes


# ---------------------------------------------------------------- simple9

_SEL_NITEMS = np.array([s[0] for s in _SELECTORS], dtype=np.int64)
_SEL_NBITS = np.array([s[1] for s in _SELECTORS], dtype=np.int64)
_MAX_NITEMS = int(_SEL_NITEMS.max())  # 28


_POW2 = (np.uint64(1) << np.arange(64, dtype=np.uint64)).astype(np.uint64)


def _bit_widths(arr: np.ndarray) -> np.ndarray:
    """bit_length of each value (0 for 0), pure integer domain
    (searchsorted against the power-of-two table; no float casts)."""
    return np.searchsorted(_POW2, arr, side="right").astype(np.int64)


def _chosen_selectors(w: np.ndarray) -> np.ndarray:
    """Greedy Simple9 selector choice as an array.

    ``chosen[i]`` = the selector the reference greedy loop picks when a
    word starts at ``i``: the first (largest-nitems) selector s such
    that every value in ``w[i : i+nitems_s]`` (truncated at the end)
    fits in nbits_s bits. Vectorized via power-of-two sliding-window
    maxima (out-of-range treated as width 0, which never blocks).
    """
    n = len(w)
    pows = {1: w}
    for p in (2, 4, 8, 16):
        h = p // 2
        prev = pows[h]
        shifted = np.zeros(n, dtype=np.int64)
        if h < n:
            shifted[: n - h] = prev[h:]
        pows[p] = np.maximum(prev, shifted)
    fits = np.empty((len(_SELECTORS), n), dtype=bool)
    for s, (k, b) in enumerate(_SELECTORS):
        p = 1 << (k.bit_length() - 1)  # largest power of two <= k
        a = pows[p]
        off = k - p
        if off == 0:
            wm = a
        else:
            tail = np.zeros(n, dtype=np.int64)
            if off < n:
                tail[: n - off] = a[off:]
            wm = np.maximum(a, tail)
        fits[s] = wm <= b
    # selector 8 (1x28) always fits values <= 28 bits -> argmax defined
    return np.argmax(fits, axis=0)


def _word_starts(chosen: np.ndarray, n: int) -> np.ndarray:
    """Walk the greedy word boundaries (one cheap Python step per WORD)."""
    step = _SEL_NITEMS[chosen].tolist()
    starts = []
    i = 0
    while i < n:
        starts.append(i)
        i += step[i]
    return np.asarray(starts, dtype=np.int64)


def _pack_words(
    arr: np.ndarray, starts: np.ndarray, sels: np.ndarray, n: int
) -> np.ndarray:
    """OR values into 32-bit words (selector low 4 bits), fully vectorized."""
    counts = np.minimum(_SEL_NITEMS[sels], n - starts)
    nbits = _SEL_NBITS[sels]
    slot = np.arange(n, dtype=np.int64) - np.repeat(starts, counts)
    shifts = (4 + slot * np.repeat(nbits, counts)).astype(np.uint64)
    shifted = arr << shifts
    words = np.bitwise_or.reduceat(shifted, starts)
    return words | sels.astype(np.uint64)


def simple9_encode(nums: np.ndarray, out: bytearray) -> None:
    """Varbyte length prefix + 32-bit packed words (selector in low 4 bits).

    Byte-identical to the reference greedy encoder; vectorized (numpy
    window maxima + reduceat packing — no per-value Python loop)."""
    arr = np.ascontiguousarray(nums, dtype=np.uint64)
    n = len(arr)
    var_byte_encode(n, out)
    if n == 0:
        return
    if int(arr.max()) > SIMPLE9_MAX:
        raise OverflowError("simple9 value exceeds 28 bits")
    chosen = _chosen_selectors(_bit_widths(arr))
    starts = _word_starts(chosen, n)
    words = _pack_words(arr, starts, chosen[starts], n)
    out += words.astype("<u4").tobytes()


def simple9_decode(
    buf: bytes | memoryview, pos: int
) -> tuple[np.ndarray, int]:
    """Vectorized inverse of :func:`simple9_encode`."""
    n, pos = var_byte_decode(buf, pos)
    if n == 0:
        return np.empty(0, dtype=np.uint64), pos
    mv = memoryview(buf)
    # each word holds >= 1 value, so at most n words belong to us
    nmax = min(n, (len(mv) - pos) // 4)
    words = np.frombuffer(mv[pos : pos + 4 * nmax], dtype="<u4").astype(
        np.uint64
    )
    sels = (words & np.uint64(0xF)).astype(np.int64)
    # the slice may include trailing NON-simple9 bytes (e.g. the tf
    # section of a chunk payload): their fake selectors are clipped so
    # the capacity cumsum is safe — real words always reach n first
    cap = _SEL_NITEMS[np.minimum(sels, len(_SELECTORS) - 1)]
    cum = np.cumsum(cap)
    nwords = int(np.searchsorted(cum, n, side="left")) + 1
    words = words[:nwords]
    counts = cap[:nwords].copy()
    counts[-1] = n - (int(cum[nwords - 2]) if nwords > 1 else 0)
    real_sels = sels[:nwords]
    if (real_sels >= len(_SELECTORS)).any():
        # selectors 9-15 can only come from corruption; the trailing-
        # bytes clip above applies to words PAST the real region only
        raise ValueError("corrupt Simple9 payload: invalid selector")
    nbits = _SEL_NBITS[real_sels]
    starts = np.zeros(nwords, dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    slot = (np.arange(n, dtype=np.int64) - np.repeat(starts, counts)).astype(
        np.uint64
    )
    b = np.repeat(nbits, counts).astype(np.uint64)
    wv = np.repeat(words >> np.uint64(4), counts)
    vals = (wv >> (slot * b)) & ((np.uint64(1) << b) - np.uint64(1))
    return vals, pos + 4 * nwords


# ------------------------------------------------------------ delta codecs

def delta_encode(nums: np.ndarray, out: bytearray) -> None:
    """v1: varbyte base + bit-packed gaps (intermediate-run layout)."""
    arr = np.asarray(nums, dtype=np.uint64)
    if len(arr) == 0:
        raise ValueError("delta_encode requires non-empty input")
    var_byte_encode(int(arr[0]), out)
    bit_packing(np.diff(arr), out)


def delta_decode(buf: bytes | memoryview, pos: int) -> tuple[np.ndarray, int]:
    base, pos = var_byte_decode(buf, pos)
    gaps, pos = bit_packing_decode(buf, pos)
    vals = np.empty(len(gaps) + 1, dtype=np.uint64)
    vals[0] = base
    if len(gaps):
        vals[1:] = gaps
        np.cumsum(vals, out=vals)
    return vals, pos


def delta_encode_v2(nums: np.ndarray, out: bytearray) -> None:
    """v2: varbyte base + Simple9 gaps (final-index docID layout)."""
    arr = np.asarray(nums, dtype=np.uint64)
    if len(arr) == 0:
        raise ValueError("delta_encode_v2 requires non-empty input")
    var_byte_encode(int(arr[0]), out)
    simple9_encode(np.diff(arr), out)


def delta_decode_v2(
    buf: bytes | memoryview, pos: int
) -> tuple[np.ndarray, int]:
    base, pos = var_byte_decode(buf, pos)
    gaps, pos = simple9_decode(buf, pos)
    vals = np.empty(len(gaps) + 1, dtype=np.uint64)
    vals[0] = base
    if len(gaps):
        vals[1:] = gaps
        np.cumsum(vals, out=vals)
    return vals, pos


# ------------------------------------------------------------ chunk codec

def encode_chunk(doc_ids: np.ndarray, tfs: np.ndarray) -> tuple[int, bytes]:
    """Encode one chunk of <=CHUNK_LENGTH postings.

    Returns (codec_id, payload). codec_id CODEC_SIMPLE9 payloads are
    byte-identical to the reference ``encode_chunk`` layout; the varbyte
    fallback handles >28-bit doc-id gaps at extreme scale.
    """
    ids = np.asarray(doc_ids, dtype=np.uint64)
    out = bytearray()
    if len(ids) > 1 and int(np.diff(ids).max()) > SIMPLE9_MAX:
        var_byte_encode(int(ids[0]), out)
        var_byte_encode(len(ids) - 1, out)
        var_byte_encode_array(np.diff(ids), out)
        bit_packing(np.asarray(tfs, dtype=np.uint64), out)
        return CODEC_VB_FALLBACK, bytes(out)
    delta_encode_v2(ids, out)
    bit_packing(np.asarray(tfs, dtype=np.uint64), out)
    return CODEC_SIMPLE9, bytes(out)


def decode_chunk(
    payload: bytes | memoryview, codec: int = CODEC_SIMPLE9
) -> tuple[np.ndarray, np.ndarray]:
    """Decode one chunk -> (doc_ids, tfs), inverse of ``encode_chunk``."""
    if codec == CODEC_SIMPLE9:
        ids, pos = delta_decode_v2(payload, 0)
    elif codec == CODEC_VB_FALLBACK:
        base, pos = var_byte_decode(payload, 0)
        ngaps, pos = var_byte_decode(payload, pos)
        gaps, pos = var_byte_decode_array(payload, pos, ngaps)
        ids = np.empty(ngaps + 1, dtype=np.uint64)
        ids[0] = base
        if ngaps:
            ids[1:] = gaps
            np.cumsum(ids, out=ids)
    else:
        raise ValueError(f"unknown codec id {codec}")
    tfs, pos = bit_packing_decode(payload, pos)
    return ids, tfs


# ------------------------------------------------- batched chunk codec

def bitpack_batch(
    vals: np.ndarray, starts: np.ndarray, ends: np.ndarray
) -> list[bytes]:
    """Per-segment :func:`bit_packing` payloads, vectorized across
    segments (segments must be contiguous: ``ends[c] == starts[c+1]``).

    The width classes (8/16/32/64-bit) are computed with one reduceat;
    the value bytes come from whole-array casts sliced per segment, so
    the per-segment Python work is string slicing only.
    """
    vals = np.ascontiguousarray(vals, dtype=np.uint64)
    n_seg = len(starts)
    if n_seg == 0:
        return []
    maxv = np.maximum.reduceat(vals, starts)
    widths = np.maximum(_bit_widths(maxv), 1)
    nbytes = np.select(
        [widths <= 8, widths <= 16, widths <= 32], [1, 2, 4], 8
    )
    blobs = {}
    for nb, dt in ((1, "<u1"), (2, "<u2"), (4, "<u4"), (8, "<u8")):
        if (nbytes == nb).any():
            blobs[nb] = vals.astype(dt).tobytes()
    headers = [
        bytes([w]) + int(e - s).to_bytes(8, "little")
        for w, s, e in zip(widths.tolist(), starts.tolist(), ends.tolist())
    ]
    sl = starts.tolist()
    el = ends.tolist()
    nbl = nbytes.tolist()
    return [
        headers[c] + blobs[nbl[c]][sl[c] * nbl[c] : el[c] * nbl[c]]
        for c in range(n_seg)
    ]


def encode_chunk_batch(
    ids: np.ndarray, tfs: np.ndarray, chunk_starts: np.ndarray
) -> tuple[np.ndarray, list[bytes]]:
    """Encode MANY chunks at once — byte-identical per chunk to
    :func:`encode_chunk`, vectorized across chunks.

    ``ids``/``tfs`` hold the concatenated postings of all chunks (each
    chunk's doc ids ascending); chunk ``c`` spans
    ``[chunk_starts[c], chunk_starts[c+1])`` (last chunk to the end).
    Returns (codec_ids, payloads). The Simple9 word stream for every
    chunk is packed in one pass (padded layout + per-word frontier walk:
    the only Python-level loop advances ALL chunks one word per
    iteration); per-chunk work is header varbytes + byte slicing.
    """
    ids = np.ascontiguousarray(ids, dtype=np.uint64)
    tfs = np.ascontiguousarray(tfs, dtype=np.uint64)
    n_total = len(ids)
    starts = np.asarray(chunk_starts, dtype=np.int64)
    nchunks = len(starts)
    if nchunks == 0:
        return np.empty(0, dtype=np.int64), []
    ends = np.append(starts[1:], n_total)
    lens = ends - starts

    d = np.zeros(n_total, dtype=np.uint64)
    d[1:] = ids[1:] - ids[:-1]
    d[starts] = 0
    fallback = np.maximum.reduceat(d, starts) > SIMPLE9_MAX

    pad = _MAX_NITEMS - 1
    g = np.where(fallback, 0, lens - 1)  # simple9 gap counts per chunk
    off = np.zeros(nchunks, dtype=np.int64)
    np.cumsum(g[:-1] + pad, out=off[1:])
    m = int(off[-1] + g[-1]) + pad
    gaps = np.zeros(m, dtype=np.uint64)
    src_mask = np.ones(n_total, dtype=bool)
    src_mask[starts] = False
    if fallback.any():
        src_mask &= ~np.repeat(fallback, lens)
    total_g = int(g.sum())
    goff = np.zeros(nchunks, dtype=np.int64)
    np.cumsum(g[:-1], out=goff[1:])
    intra = np.arange(total_g, dtype=np.int64) - np.repeat(goff, g)
    gaps[np.repeat(off, g) + intra] = d[src_mask]

    # greedy selector walk: all chunks advance one word per iteration
    chosen = _chosen_selectors(_bit_widths(gaps))
    cend = off + g
    frontier = off.copy()
    active = np.flatnonzero(g > 0)
    wchunk_l, wstart_l, wsel_l = [], [], []
    while len(active):
        f = frontier[active]
        s = chosen[f]
        wchunk_l.append(active)
        wstart_l.append(f)
        wsel_l.append(s)
        f2 = f + _SEL_NITEMS[s]
        frontier[active] = f2
        active = active[f2 < cend[active]]

    if wchunk_l:
        wchunk = np.concatenate(wchunk_l)
        wstart = np.concatenate(wstart_l)
        wsel = np.concatenate(wsel_l)
        order = np.argsort(wchunk, kind="stable")  # per-chunk word order
        wchunk, wstart, wsel = wchunk[order], wstart[order], wsel[order]
        counts = np.minimum(_SEL_NITEMS[wsel], cend[wchunk] - wstart)
        nv = int(counts.sum())
        nbits = _SEL_NBITS[wsel]
        woff = np.zeros(len(counts), dtype=np.int64)
        np.cumsum(counts[:-1], out=woff[1:])
        slot = np.arange(nv, dtype=np.int64) - np.repeat(woff, counts)
        vidx = np.repeat(wstart, counts) + slot
        shifts = (4 + slot * np.repeat(nbits, counts)).astype(np.uint64)
        words = np.bitwise_or.reduceat(
            gaps[vidx] << shifts, woff
        ) | wsel.astype(np.uint64)
        wbytes = words.astype("<u4").tobytes()
        wc = np.bincount(wchunk, minlength=nchunks)
    else:
        wbytes = b""
        wc = np.zeros(nchunks, dtype=np.int64)
    wboff = np.zeros(nchunks + 1, dtype=np.int64)
    np.cumsum(wc * 4, out=wboff[1:])

    tf_payloads = bitpack_batch(tfs, starts, ends)
    bases = ids[starts].tolist()
    payloads: list[bytes] = []
    sl, el, gl = starts.tolist(), ends.tolist(), g.tolist()
    wb = wboff.tolist()
    fb = fallback.tolist()
    for c in range(nchunks):
        if fb[c]:
            # same bytes as encode_chunk's varbyte fallback, but the
            # tf section reuses the batch bitpack already computed for
            # this chunk and the gaps reuse the batch-wide diff `d`
            # (the old encode_chunk call re-ran both)
            head = bytearray()
            var_byte_encode(bases[c], head)
            var_byte_encode(el[c] - sl[c] - 1, head)
            var_byte_encode_array(d[sl[c] + 1 : el[c]], head)
            payloads.append(bytes(head) + tf_payloads[c])
            continue
        head = bytearray()
        var_byte_encode(bases[c], head)
        var_byte_encode(gl[c], head)
        payloads.append(bytes(head) + wbytes[wb[c] : wb[c + 1]] + tf_payloads[c])
    codec_ids = np.where(fallback, CODEC_VB_FALLBACK, CODEC_SIMPLE9)
    return codec_ids, payloads


def _binary_rows(col) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(bytes zero-padded by 16, row starts, row ends) of an Arrow
    binary column, read from its buffers (any array offset)."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.chunk(0) if col.num_chunks == 1 else col.combine_chunks()
    elif not isinstance(col, pa.Array):
        col = pa.array(col, pa.binary())
    n = len(col)
    odt = np.int64 if pa.types.is_large_binary(col.type) else np.int32
    offs = np.frombuffer(col.buffers()[1], odt)[col.offset:col.offset + n + 1]
    lo = int(offs[0]) if n else 0
    offs = offs.astype(np.int64) - lo  # a slice's bytes only
    size = int(offs[-1]) if n else 0
    buf = np.zeros(size + 16, dtype=np.uint8)
    if size:
        buf[:size] = np.frombuffer(col.buffers()[2], np.uint8)[lo:lo + size]
    return buf, offs[:-1], offs[1:]


def _unaligned(buf: np.ndarray, nbytes: int) -> np.ndarray:
    """``buf`` read as a little-endian unsigned int of ``nbytes`` bytes
    at every byte offset: a view, so a gather of ``m`` such ints reads
    ``m`` items, not ``m * nbytes`` bytes (``buf`` ends in padding)."""
    if nbytes == 1:
        return buf
    return np.ndarray(
        (len(buf) - nbytes + 1,), f"<u{nbytes}", buf, strides=(1,)
    )


def _strided(view: np.ndarray, lo: np.ndarray, count: np.ndarray,
             step: int) -> np.ndarray:
    """``view[lo[r] + step * j]`` for ``j < count[r]``, row after row."""
    head = np.cumsum(count) - count
    return view[
        np.repeat(lo - step * head, count)
        + step * np.arange(int(count.sum()), dtype=np.int64)
    ]


def _var_bytes_at(
    buf: np.ndarray, pos: np.ndarray, end: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """One varbyte int at each of ``pos`` (rows ending at ``end``):
    (values, positions after them), one step per byte of the longest,
    each over the rows still unfinished."""
    vals = np.zeros(len(pos), dtype=np.uint64)
    after = pos.copy()
    live = np.arange(len(pos))
    for i in range(10):  # a 64-bit value takes at most 10 bytes
        b = buf[np.minimum(pos[live] + i, len(buf) - 1)]
        vals[live] |= (b & 0x7F).astype(np.uint64) << np.uint64(7 * i)
        stop = b >= 0x80
        after[live[stop]] += i + 1
        live = live[~stop]
        if not len(live):
            break
    if len(live) or (after > end).any():
        raise ValueError("corrupt chunk payload: varbyte past its row")
    return vals, after


# bytes per value of a bit_packing section, by its width byte, and the
# mask that keeps that many low bytes of a little-endian uint64
_WIDTH_BYTES = np.select(
    [np.arange(256) <= 8, np.arange(256) <= 16, np.arange(256) <= 32],
    [1, 2, 4], 8,
)
_BYTES_MASK = np.array(
    [0, 0xFF, 0xFFFF, 0, 0xFFFFFFFF, 0, 0, 0, 2**64 - 1], dtype=np.uint64
)


def _bitpack_at(
    buf: np.ndarray, pos: np.ndarray, end: np.ndarray, counts: np.ndarray
) -> np.ndarray:
    """The :func:`bit_packing` sections at ``pos`` (rows ending at
    ``end``), each holding ``counts`` values, concatenated as uint64:
    every value read as the uint64 at its address, masked to its row's
    byte width."""
    width = buf[pos]
    n = np.where(width > 0, _unaligned(buf, 8)[pos + 1], 0).astype(np.int64)
    if (n != counts).any():
        raise ValueError("corrupt chunk payload: bit-packed count mismatch")
    nb = _WIDTH_BYTES[width]
    lo = pos + 9
    if (lo + n * nb > end).any():
        raise ValueError("bit-packed section truncated")
    head = np.cumsum(n) - n
    step = np.repeat(nb, n)
    at = np.repeat(lo - nb * head, n) + step * np.arange(len(step))
    return _unaligned(buf, 8)[at] & _BYTES_MASK[step]


def decode_chunk_batch(
    payload, codec, dls
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Decode MANY chunks at once — the vectorized inverse of
    :func:`encode_chunk_batch` plus :func:`encode_lengths`.

    ``payload`` and ``dls`` are Arrow binary columns (any offset) of the
    same rows, ``codec`` their codec ids. Returns (doc_ids, tfs,
    doc_lengths, offsets): every row's postings concatenated in row
    order, as uint64, row ``r`` spanning ``[offsets[r], offsets[r+1])``
    — per row equal to :func:`decode_chunk` and :func:`decode_lengths`.

    The varbyte headers are read for every row at once. The Simple9
    words are read as one flat candidate array: a chunk of ``g`` gaps
    spans at most ``g`` words, so its first ``g`` words (cut at its
    row's end) are read and a per-chunk running sum of their capacities
    says which are its own — a word whose selector is not a Simple9
    class raises ValueError, as does a row too short for its postings.
    The tf and doc-length sections are gathered by byte width. Rows of
    the varbyte fallback codec go through :func:`decode_chunk`."""
    buf, start, end = _binary_rows(payload)
    codec = np.asarray(
        codec.to_numpy(zero_copy_only=False)
        if hasattr(codec, "to_numpy") else codec,
        dtype=np.int64,
    )
    rows = len(start)
    bad = (codec != CODEC_SIMPLE9) & (codec != CODEC_VB_FALLBACK)
    if bad.any():
        raise ValueError(f"unknown codec id {int(codec[bad][0])}")
    base, pos = _var_bytes_at(buf, start, end)
    ngaps, pos = _var_bytes_at(buf, pos, end)
    if (ngaps >= (end - start).astype(np.uint64)).any():
        # every posting takes at least one byte of the tf section
        raise ValueError("corrupt chunk payload: posting count past its row")
    ngaps = ngaps.astype(np.int64)
    counts = ngaps + 1
    offsets = np.zeros(rows + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])
    total = int(offsets[-1])

    # Simple9 words: each row's first min(g, bytes left // 4) words
    s9 = codec == CODEC_SIMPLE9
    g = np.where(s9, ngaps, 0)
    cand = np.minimum(g, np.maximum(end - pos, 0) // 4)
    wfirst = np.zeros(rows + 1, dtype=np.int64)
    np.cumsum(cand, out=wfirst[1:])
    wrow = np.repeat(np.arange(rows), cand)
    words = _strided(_unaligned(buf, 4), pos, cand, 4).astype(np.uint64)
    sel = (words & np.uint64(0xF)).astype(np.int64)
    cap = _SEL_NITEMS[np.minimum(sel, len(_SELECTORS) - 1)]
    cum = np.cumsum(cap)
    before = cum - cap - np.append(0, cum)[wfirst[:-1]][wrow]
    own = before < g[wrow]
    per_row = np.bincount(wrow[own], weights=cap[own], minlength=rows)
    if (per_row < g).any():
        raise ValueError("corrupt Simple9 payload: truncated")
    if (sel[own] >= len(_SELECTORS)).any():
        raise ValueError("corrupt Simple9 payload: invalid selector")
    words, sel, before, wrow = words[own], sel[own], before[own], wrow[own]
    take = np.minimum(_SEL_NITEMS[sel], g[wrow] - before)
    vfirst = np.zeros(len(take) + 1, dtype=np.int64)
    np.cumsum(take, out=vfirst[1:])
    slot = np.arange(int(vfirst[-1]), dtype=np.int64) - np.repeat(
        vfirst[:-1], take
    )
    nbits = np.repeat(_SEL_NBITS[sel], take).astype(np.uint64)
    gaps = (
        np.repeat(words >> np.uint64(4), take) >> (slot.astype(np.uint64) * nbits)
    ) & ((np.uint64(1) << nbits) - np.uint64(1))

    # doc ids: base, then gaps, summed per row (uint64 sums wrap, so the
    # difference of two running sums is exact)
    ids = np.zeros(total, dtype=np.uint64)
    ids[offsets[:-1]] = base
    ids[np.repeat(offsets[:-1][wrow] + 1 + before, take) + slot] = gaps
    run = np.cumsum(ids)
    head = offsets[:-1]
    ids = run - np.repeat(run[head] - ids[head], counts)
    pos = pos + 4 * np.bincount(wrow, minlength=rows)

    tfs = np.empty(total, dtype=np.uint64)
    tfs[np.repeat(s9, counts)] = _bitpack_at(
        buf, pos[s9], end[s9], counts[s9]
    )
    for r in np.flatnonzero(~s9).tolist():
        got, tf = decode_chunk(buf[start[r]:end[r]].tobytes(), int(codec[r]))
        if not len(got) == len(tf) == counts[r]:
            raise ValueError("corrupt chunk payload: posting count mismatch")
        ids[offsets[r]:offsets[r + 1]] = got
        tfs[offsets[r]:offsets[r + 1]] = tf
    dbuf, dstart, dend = _binary_rows(dls)
    lengths = _bitpack_at(dbuf, dstart, dend, counts)
    return ids, tfs, lengths, offsets


def encode_lengths(doc_lengths: np.ndarray) -> bytes:
    """Bit-pack the per-posting doc_length column stored alongside a chunk.

    Denormalizing doc_length into the posting chunk removes the query-time
    join against the (huge) doc table — the key deviation from the
    reference's MongoDB doc-table lookup, chosen for cluster-scale BM25.
    """
    out = bytearray()
    bit_packing(np.asarray(doc_lengths, dtype=np.uint64), out)
    return bytes(out)


def decode_lengths(payload: bytes | memoryview) -> np.ndarray:
    vals, _ = bit_packing_decode(payload, 0)
    return vals


# --------------------------------------------------- block headers (C7)
# Reference-identical BINARY header layouts (BlockEncoder.cpp:22-122,
# studied not copied — compositions of the C1-C5 primitives above).
# Spark-side persistence keeps chunk metadata as parquet COLUMNS (the
# documented deviation: Catalyst prunes on them); these twins exist so
# an index can be exported to / imported from the reference's on-disk
# block format, and so the byte-layout contract stays test-covered.
# The reference's BlockPlainEncoder debug twin is intentionally absent:
# parquet is already human-inspectable.


def _put_string(s: str, out: bytearray) -> None:
    """BitStream::put_string (BitStream.cpp:38-44): u32 LE length +
    raw bytes."""
    b = s.encode("utf-8")
    out += len(b).to_bytes(4, "little")
    out += b


def _get_string(buf: bytes | memoryview, pos: int) -> tuple[str, int]:
    n = int.from_bytes(bytes(buf[pos : pos + 4]), "little")
    pos += 4
    return bytes(buf[pos : pos + n]).decode("utf-8"), pos + n


def encode_block_header(
    block_size: int,
    last_chunk_length: int,
    chunk_offsets: np.ndarray,
    last_doc_ids: np.ndarray,
    out: bytearray,
) -> None:
    """Final-index block header (BlockEncoder.cpp:46-56):
    varbyte(block_size, chunk_count, last_chunk_length) +
    delta_v2(chunk_offsets) + varbyte(last_doc_id) per chunk — the
    ``last_doc_ids`` skip table is the reference's nextGEQ substrate."""
    offsets = np.asarray(chunk_offsets, dtype=np.uint64)
    lasts = np.asarray(last_doc_ids, dtype=np.uint64)
    if len(offsets) != len(lasts):
        raise ValueError("chunk_offsets and last_doc_ids must align")
    var_byte_encode(int(block_size), out)
    var_byte_encode(len(offsets), out)
    var_byte_encode(int(last_chunk_length), out)
    # zero chunks: the count above already says so; the delta section
    # (whose codec requires a non-empty base) is simply absent — the
    # reference never writes empty blocks, so this extension is ours
    if len(offsets):
        delta_encode_v2(offsets, out)
        var_byte_encode_array(lasts, out)


def decode_block_header(
    buf: bytes | memoryview, pos: int = 0
) -> tuple[dict, int]:
    block_size, pos = var_byte_decode(buf, pos)
    chunk_count, pos = var_byte_decode(buf, pos)
    last_chunk_length, pos = var_byte_decode(buf, pos)
    if chunk_count == 0:
        offsets = np.empty(0, dtype=np.uint64)
        lasts = np.empty(0, dtype=np.uint64)
    else:
        offsets, pos = delta_decode_v2(buf, pos)
        lasts, pos = var_byte_decode_array(buf, pos, chunk_count)
    return {
        "block_size": block_size,
        "chunk_count": chunk_count,
        "last_chunk_length": last_chunk_length,
        "chunk_offsets": offsets,
        "last_doc_ids": lasts,
    }, pos


def encode_inter_header(
    block_size: int, chunk_offsets: np.ndarray, out: bytearray
) -> None:
    """Intermediate-run block header (BlockEncoder.cpp:58-63):
    varbyte(block_size, chunk_count) + delta_v1(chunk_offsets)."""
    offsets = np.asarray(chunk_offsets, dtype=np.uint64)
    var_byte_encode(int(block_size), out)
    var_byte_encode(len(offsets), out)
    if len(offsets):  # empty block: count 0, no delta section
        delta_encode(offsets, out)


def decode_inter_header(
    buf: bytes | memoryview, pos: int = 0
) -> tuple[dict, int]:
    block_size, pos = var_byte_decode(buf, pos)
    chunk_count, pos = var_byte_decode(buf, pos)
    if chunk_count == 0:
        offsets = np.empty(0, dtype=np.uint64)
    else:
        offsets, pos = delta_decode(buf, pos)
    return {
        "block_size": block_size,
        "chunk_count": chunk_count,
        "chunk_offsets": offsets,
    }, pos


def encode_inter_posting(
    term: str, doc_ids: np.ndarray, freqs: np.ndarray, out: bytearray
) -> None:
    """Intermediate-run posting list (BlockEncoder.cpp:72-79):
    length-prefixed term + delta_v1(doc_ids) + bit_packing(freqs)."""
    _put_string(term, out)
    delta_encode(np.asarray(doc_ids, dtype=np.uint64), out)
    bit_packing(np.asarray(freqs, dtype=np.uint64), out)


def decode_inter_posting(
    buf: bytes | memoryview, pos: int = 0
) -> tuple[str, np.ndarray, np.ndarray, int]:
    term, pos = _get_string(buf, pos)
    doc_ids, pos = delta_decode(buf, pos)
    freqs, pos = bit_packing_decode(buf, pos)
    return term, doc_ids, freqs, pos


def encode_inter_block(
    postings: list[tuple[str, np.ndarray, np.ndarray]],
) -> tuple[bytes, bytes]:
    """One intermediate-run block (BlockEncoder.cpp:22-44): returns
    (header_bytes, body_bytes). Empty posting lists are skipped, and
    chunk_offsets record the CUMULATIVE body length after each list,
    exactly like the reference's running ``body_s.get_length()``."""
    body = bytearray()
    offsets: list[int] = []
    for term, doc_ids, freqs in postings:
        if len(doc_ids) == 0:
            continue
        encode_inter_posting(term, doc_ids, freqs, body)
        offsets.append(len(body))
    header = bytearray()
    encode_inter_header(len(body), np.asarray(offsets, dtype=np.uint64), header)
    return bytes(header), bytes(body)


def decode_inter_block(
    header: bytes | memoryview, body: bytes | memoryview
) -> list[tuple[str, np.ndarray, np.ndarray]]:
    meta, _ = decode_inter_header(header, 0)
    out = []
    pos = 0
    for _ in range(int(meta["chunk_count"])):
        term, doc_ids, freqs, pos = decode_inter_posting(body, pos)
        out.append((term, doc_ids, freqs))
    return out


# ---------------------------------------------------------------------------
# Term Bloom filter sidecar (LSM segment pruning)
# ---------------------------------------------------------------------------
# A per-segment Bloom filter over LEXICON TERMS, the RocksDB/Lucene
# trick that makes many-segment LSM serving cheap: before paying a
# Spark job on a segment, the driver asks the segment's bloom whether
# any query term can possibly exist there. False positives cost one
# wasted (correct) job; false negatives are impossible by
# construction, so pruning never changes results.
#
# Layout: little-endian uint64 word array, bit ``p`` of the filter is
# bit ``p & 63`` of word ``p >> 6``. Hash family is double hashing
# (Kirsch-Mitzenmacher) over the md5 hex digest — the SAME split the
# rest of the engine uses for md5-derived integers, so the build-side
# Spark SQL expressions and this driver-side probe agree bit-for-bit
# and a DuckDB oracle can recount the set-bit population:
#
#     h1 = int(md5(term)[0:15], 16) % m
#     h2 = (int(md5(term)[15:30], 16) % m) | 1      (odd => full cycle
#                                                    when m is 2^j)
#     pos_i = (h1 + i*h2) % m       for i in 0..k-1
#
# All intermediates stay below 2^60, so the identical arithmetic runs
# as BIGINT in Spark SQL and DuckDB without overflow.

BLOOM_DIR = "term_bloom"


def bloom_positions(term: str, m: int, k: int) -> list[int]:
    """The k bit positions of ``term`` in an m-bit filter (driver-side
    twin of the build's Spark expressions; see layout note above)."""
    import hashlib

    hexd = hashlib.md5(term.encode("utf-8")).hexdigest()
    h1 = int(hexd[0:15], 16) % m
    h2 = (int(hexd[15:30], 16) % m) | 1
    return [(h1 + i * h2) % m for i in range(k)]


def bloom_save(path_dir: str, words: np.ndarray, m: int, k: int,
               n_terms: int) -> None:
    import json
    import os

    os.makedirs(path_dir, exist_ok=True)
    np.savez_compressed(
        os.path.join(path_dir, "bloom.npz"),
        words=words.astype(np.uint64, copy=False),
    )
    with open(os.path.join(path_dir, "meta.json"), "w") as f:
        json.dump(
            {"m": int(m), "k": int(k), "n_terms": int(n_terms),
             "version": 1},
            f,
        )


def bloom_load(path_dir: str):
    """Load a bloom sidecar; returns (words, m, k, n_terms) or None
    if absent or unreadable (a corrupt/missing bloom degrades to 'no
    pruning', never to wrong answers). ``n_terms`` is the lexicon
    cardinality the filter was built from — loaders validate it
    against the served index's lexicon to reject a STALE sidecar
    (the one way a bloom could produce false negatives)."""
    import json
    import os

    npz = os.path.join(path_dir, "bloom.npz")
    meta_p = os.path.join(path_dir, "meta.json")
    if not (os.path.exists(npz) and os.path.exists(meta_p)):
        return None
    try:
        with open(meta_p) as f:
            meta = json.load(f)
        with np.load(npz) as z:
            words = z["words"]
        if words.shape[0] * 64 != int(meta["m"]):
            return None
        return words, int(meta["m"]), int(meta["k"]), int(meta["n_terms"])
    except Exception:
        return None


def bloom_popcount(words: np.ndarray) -> int:
    """Set-bit count without materializing an 8x unpacked temporary
    (the 2^30-bit cap filter is 128 MB; a single np.unpackbits over it
    would allocate 1 GB on the driver). Chunked unpack, 1 MB at a
    time."""
    u8 = words.view(np.uint8)
    step = 1 << 20
    return int(
        sum(
            int(np.unpackbits(u8[i:i + step]).sum())
            for i in range(0, u8.shape[0], step)
        )
    )


def bloom_may_contain(words: np.ndarray, m: int, k: int,
                      term: str) -> bool:
    for p in bloom_positions(term, m, k):
        if not (int(words[p >> 6]) >> (p & 63)) & 1:
            return False
    return True
