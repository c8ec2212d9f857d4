"""Codec unit tests: roundtrip properties + golden byte vectors.

Goldens hand-derived from the reference algorithms
(/root/reference/component/utils/encoding.h:48-106, encoding.cpp:34-128):
varbyte sets the HIGH bit on the LAST byte; bitpack header is
[u8 width][u64 length]; simple9 packs a 4-bit selector in the LOW bits of
each 32-bit little-endian word.
"""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from search_engine_spark import codecs as C


def rt_varbyte(n):
    buf = bytearray()
    C.var_byte_encode(n, buf)
    out, pos = C.var_byte_decode(bytes(buf), 0)
    assert pos == len(buf)
    return out


def test_varbyte_goldens():
    buf = bytearray()
    C.var_byte_encode(0, buf)
    assert bytes(buf) == b"\x80"  # 0 -> single byte with end flag
    buf = bytearray()
    C.var_byte_encode(0x7F, buf)
    assert bytes(buf) == b"\xff"  # 127 fits one byte: 0x7f | 0x80
    buf = bytearray()
    C.var_byte_encode(128, buf)
    # 128: low 7 bits = 0 (no flag), then 1 | 0x80
    assert bytes(buf) == b"\x00\x81"
    buf = bytearray()
    C.var_byte_encode(300, buf)
    # 300 = 0b100101100 -> [0x2c, 0x02|0x80]
    assert bytes(buf) == b"\x2c\x82"


@given(st.integers(min_value=0, max_value=2**63 - 1))
def test_varbyte_roundtrip(n):
    assert rt_varbyte(n) == n


def test_bitpack_goldens():
    buf = bytearray()
    C.bit_packing(np.array([], dtype=np.uint64), buf)
    assert bytes(buf) == b"\x00"  # empty -> single zero width byte
    buf = bytearray()
    C.bit_packing(np.array([1, 2, 3], dtype=np.uint64), buf)
    # width=2, length=3 (u64 LE), then 3 bytes
    assert bytes(buf) == b"\x02" + (3).to_bytes(8, "little") + b"\x01\x02\x03"
    buf = bytearray()
    C.bit_packing(np.array([256], dtype=np.uint64), buf)
    # width=9 -> 16-bit granularity
    assert bytes(buf) == b"\x09" + (1).to_bytes(8, "little") + b"\x00\x01"


@given(
    st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300)
)
@settings(max_examples=200)
def test_bitpack_roundtrip(vals):
    buf = bytearray()
    C.bit_packing(np.array(vals, dtype=np.uint64), buf)
    out, pos = C.bit_packing_decode(bytes(buf), 0)
    assert pos == len(buf)
    assert out.tolist() == vals


def test_simple9_golden_small():
    # [3, 5]: n=2 varbyte, one word: selector for 2 items needs
    # max(width(3),width(5))=3 bits -> first selector with nbits>=3 that can
    # take both greedily: 28x1 fails at v=3; 14x2 fails; 9x3 takes both but
    # nitems(2) != 9 and index+nitems==n -> emitted with selector 2.
    buf = bytearray()
    C.simple9_encode(np.array([3, 5], dtype=np.uint64), buf)
    word = 2 | (3 << 4) | (5 << 7)
    assert bytes(buf) == b"\x82" + word.to_bytes(4, "little")
    out, pos = C.simple9_decode(bytes(buf), 0)
    assert out.tolist() == [3, 5]
    assert pos == len(buf)


def test_simple9_28_ones_single_word():
    vals = [1] * 28
    buf = bytearray()
    C.simple9_encode(np.array(vals, dtype=np.uint64), buf)
    # n=28 varbyte (1 byte: 28|0x80) + one 32-bit word
    assert len(buf) == 1 + 4
    out, _ = C.simple9_decode(bytes(buf), 0)
    assert out.tolist() == vals


@given(
    st.lists(st.integers(min_value=0, max_value=C.SIMPLE9_MAX), max_size=400)
)
@settings(max_examples=200)
def test_simple9_roundtrip(vals):
    buf = bytearray()
    C.simple9_encode(np.array(vals, dtype=np.uint64), buf)
    out, pos = C.simple9_decode(bytes(buf), 0)
    assert pos == len(buf)
    assert out.tolist() == vals


def test_simple9_overflow_raises():
    with pytest.raises(OverflowError):
        C.simple9_encode(np.array([C.SIMPLE9_MAX + 1], dtype=np.uint64), bytearray())


@given(
    st.lists(
        st.integers(min_value=0, max_value=2**31 - 1),
        min_size=1,
        max_size=300,
        unique=True,
    )
)
@settings(max_examples=100)
def test_delta_roundtrips(vals):
    vals = sorted(vals)
    arr = np.array(vals, dtype=np.uint64)
    for enc, dec in [
        (C.delta_encode, C.delta_decode),
        (C.delta_encode_v2, C.delta_decode_v2),
    ]:
        if enc is C.delta_encode_v2 and len(vals) > 1:
            if int(np.diff(arr).max()) > C.SIMPLE9_MAX:
                continue
        buf = bytearray()
        enc(arr, buf)
        out, pos = dec(bytes(buf), 0)
        assert pos == len(buf)
        assert out.tolist() == vals


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**40),
            st.integers(min_value=1, max_value=100000),
        ),
        min_size=1,
        max_size=C.CHUNK_LENGTH,
    )
)
@settings(max_examples=150)
def test_chunk_roundtrip(postings):
    ids = sorted({d for d, _ in postings})
    tfs = [t for _, t in postings][: len(ids)]
    ids_a = np.array(ids, dtype=np.uint64)
    tfs_a = np.array(tfs, dtype=np.uint64)
    codec, payload = C.encode_chunk(ids_a, tfs_a)
    out_ids, out_tfs = C.decode_chunk(payload, codec)
    assert out_ids.tolist() == ids
    assert out_tfs.tolist() == tfs


def test_chunk_fallback_large_gap():
    ids = np.array([0, C.SIMPLE9_MAX + 10], dtype=np.uint64)
    tfs = np.array([1, 2], dtype=np.uint64)
    codec, payload = C.encode_chunk(ids, tfs)
    assert codec == C.CODEC_VB_FALLBACK
    out_ids, out_tfs = C.decode_chunk(payload, codec)
    assert out_ids.tolist() == ids.tolist()
    assert out_tfs.tolist() == tfs.tolist()


def test_chunk_reference_layout():
    """Simple9 chunk payload == delta_v2(docids) || bitpack(tfs) exactly."""
    ids = np.array([10, 12, 15], dtype=np.uint64)
    tfs = np.array([1, 3, 2], dtype=np.uint64)
    codec, payload = C.encode_chunk(ids, tfs)
    assert codec == C.CODEC_SIMPLE9
    ref = bytearray()
    C.delta_encode_v2(ids, ref)
    C.bit_packing(tfs, ref)
    assert payload == bytes(ref)


def test_lengths_roundtrip():
    dls = np.array([5, 1000, 7, 42], dtype=np.uint64)
    assert C.decode_lengths(C.encode_lengths(dls)).tolist() == dls.tolist()


# --------------------------------------------------- block headers (C7)


def test_block_header_roundtrip_and_layout():
    """Final-index header == varbyte(bs) varbyte(cc) varbyte(lcl) ||
    delta_v2(offsets) || varbyte(last_doc_id)* (BlockEncoder.cpp:46-56)."""
    offsets = np.array([120, 250, 400], dtype=np.uint64)
    lasts = np.array([999, 2047, 5000], dtype=np.uint64)
    buf = bytearray()
    C.encode_block_header(4096, 77, offsets, lasts, buf)
    # layout: concatenation of the primitives, nothing else
    ref = bytearray()
    C.var_byte_encode(4096, ref)
    C.var_byte_encode(3, ref)
    C.var_byte_encode(77, ref)
    C.delta_encode_v2(offsets, ref)
    C.var_byte_encode_array(lasts, ref)
    assert bytes(buf) == bytes(ref)
    hdr, pos = C.decode_block_header(bytes(buf))
    assert pos == len(buf)
    assert hdr["block_size"] == 4096
    assert hdr["chunk_count"] == 3
    assert hdr["last_chunk_length"] == 77
    assert hdr["chunk_offsets"].tolist() == offsets.tolist()
    assert hdr["last_doc_ids"].tolist() == lasts.tolist()


def test_block_header_alignment_check():
    with pytest.raises(ValueError, match="align"):
        C.encode_block_header(
            1,
            1,
            np.array([1], dtype=np.uint64),
            np.array([1, 2], dtype=np.uint64),
            bytearray(),
        )


def test_inter_header_roundtrip():
    offsets = np.array([64, 128, 300], dtype=np.uint64)
    buf = bytearray()
    C.encode_inter_header(300, offsets, buf)
    hdr, pos = C.decode_inter_header(bytes(buf))
    assert pos == len(buf)
    assert hdr["block_size"] == 300
    assert hdr["chunk_count"] == 3
    assert hdr["chunk_offsets"].tolist() == offsets.tolist()


def test_inter_posting_string_layout():
    """Term prefix is BitStream::put_string: u32 LE length + raw bytes."""
    buf = bytearray()
    C.encode_inter_posting(
        "spark",
        np.array([3, 9], dtype=np.uint64),
        np.array([1, 2], dtype=np.uint64),
        buf,
    )
    assert bytes(buf[:4]) == (5).to_bytes(4, "little")
    assert bytes(buf[4:9]) == b"spark"
    term, ids, tfs, pos = C.decode_inter_posting(bytes(buf))
    assert (term, ids.tolist(), tfs.tolist()) == ("spark", [3, 9], [1, 2])
    assert pos == len(buf)


@given(
    st.lists(
        st.tuples(
            st.text(
                alphabet=st.characters(min_codepoint=97, max_codepoint=122),
                min_size=1,
                max_size=12,
            ),
            st.lists(
                st.integers(min_value=0, max_value=2**28 - 1),
                min_size=1,
                max_size=40,
                unique=True,
            ),
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(deadline=None, max_examples=50)
def test_inter_block_roundtrip(lists):
    postings = []
    for term, ids in lists:
        ids = np.sort(np.array(ids, dtype=np.uint64))
        tfs = (ids % 7 + 1).astype(np.uint64)
        postings.append((term, ids, tfs))
    header, body = C.encode_inter_block(postings)
    meta, _ = C.decode_inter_header(header)
    assert meta["block_size"] == len(body)
    assert meta["chunk_count"] == len(postings)
    out = C.decode_inter_block(header, body)
    for (t0, i0, f0), (t1, i1, f1) in zip(postings, out):
        assert t0 == t1
        assert i0.tolist() == i1.tolist()
        assert f0.tolist() == f1.tolist()


def test_inter_block_skips_empty_lists():
    postings = [
        ("a", np.array([1, 2], dtype=np.uint64), np.array([1, 1], dtype=np.uint64)),
        ("b", np.array([], dtype=np.uint64), np.array([], dtype=np.uint64)),
        ("c", np.array([5], dtype=np.uint64), np.array([2], dtype=np.uint64)),
    ]
    header, body = C.encode_inter_block(postings)
    out = C.decode_inter_block(header, body)
    assert [t for t, _i, _f in out] == ["a", "c"]


def test_batch_fallback_byte_identity_mixed():
    """Batch encoding with a MIX of fallback (>28-bit gap) and simple9
    chunks stays byte-identical per chunk to encode_chunk — the batch
    fallback path reuses the batch bitpack/diff instead of re-encoding."""
    rng = np.random.RandomState(7)
    ids_l, tfs_l, starts, pos = [], [], [], 0
    for c in range(40):
        n = rng.randint(1, 129)
        base = rng.randint(0, 1 << 40)
        hi = (1 << 30) if (c % 5 == 0 and n > 1) else (1 << 20)
        gaps = rng.randint(1, hi, size=n - 1)
        cid = np.cumsum(np.concatenate([[base], gaps])).astype(np.uint64)
        ids_l.append(cid)
        tfs_l.append(rng.randint(1, 1000, size=n).astype(np.uint64))
        starts.append(pos)
        pos += n
    ids = np.concatenate(ids_l)
    tfs = np.concatenate(tfs_l)
    st = np.array(starts)
    codec_b, pay_b = C.encode_chunk_batch(ids, tfs, st)
    ends = np.append(st[1:], len(ids))
    n_fb = 0
    for c in range(len(st)):
        cc, pp = C.encode_chunk(ids[st[c]:ends[c]], tfs[st[c]:ends[c]])
        n_fb += cc == C.CODEC_VB_FALLBACK
        assert cc == codec_b[c] and pp == pay_b[c], c
    assert n_fb >= 5  # the mix actually exercised the fallback path


def test_zero_chunk_headers_roundtrip():
    """Empty blocks encode/decode cleanly (count 0, no delta section)
    instead of crashing on the non-empty-delta precondition."""
    out = bytearray()
    C.encode_block_header(0, 0, np.array([]), np.array([]), out)
    h, _ = C.decode_block_header(bytes(out))
    assert h["chunk_count"] == 0
    assert len(h["chunk_offsets"]) == 0 and len(h["last_doc_ids"]) == 0
    hdr, body = C.encode_inter_block([])
    assert body == b""
    assert C.decode_inter_header(hdr)[0]["chunk_count"] == 0
    hdr2, _ = C.encode_inter_block(
        [("t", np.array([], dtype=np.uint64), np.array([], dtype=np.uint64))]
    )
    assert C.decode_inter_header(hdr2)[0]["chunk_count"] == 0


def test_corrupt_payloads_fail_fast():
    """A truncated tf section and an invalid Simple9 selector both
    raise ValueError at decode time — never a short array or a numpy
    IndexError (the fsck payload check depends on this)."""
    cid = np.arange(100, dtype=np.uint64) * 7 + 3
    ct = np.ones(100, dtype=np.uint64)
    codec, payload = C.encode_chunk(cid, ct)
    with pytest.raises(ValueError, match="truncated"):
        C.decode_chunk(payload[:-3], codec)
    out = bytearray()
    C.simple9_encode(np.array([1, 2, 3], dtype=np.uint64), out)
    bad = bytearray(out)
    bad[1] = (bad[1] & 0xF0) | 0x0F  # selector nibble 15 in a real word
    with pytest.raises(ValueError, match="selector"):
        C.simple9_decode(bytes(bad), 0)


def decode_each(payloads, codec, dls):
    """Per-chunk decode_chunk/decode_lengths output, concatenated."""
    ids, tfs, lengths, counts = [], [], [], []
    for p, c, d in zip(payloads, codec, dls):
        i, t = C.decode_chunk(p, int(c))
        ids.append(i)
        tfs.append(t)
        lengths.append(C.decode_lengths(d))
        counts.append(len(i))
    cat = (lambda a: np.concatenate(a) if a else np.empty(0, np.uint64))
    return cat(ids), cat(tfs), cat(lengths), counts


# one chunk: (first doc id, gaps, tfs, doc lengths); the gap range
# reaches past 2^28, so some chunks take the varbyte fallback
chunk = st.integers(min_value=1, max_value=C.CHUNK_LENGTH).flatmap(
    lambda n: st.tuples(
        st.integers(min_value=0, max_value=2**40),
        st.lists(
            st.one_of(
                st.integers(min_value=1, max_value=8),
                st.integers(min_value=1, max_value=2**20),
                st.integers(min_value=C.SIMPLE9_MAX + 1, max_value=2**30),
            ),
            min_size=n - 1, max_size=n - 1,
        ),
        st.lists(st.integers(min_value=1, max_value=70000),
                 min_size=n, max_size=n),
        st.lists(st.integers(min_value=1, max_value=2**33),
                 min_size=n, max_size=n),
    )
)


@given(st.lists(chunk, max_size=12), st.integers(min_value=0, max_value=3))
@settings(max_examples=120, deadline=None)
def test_decode_chunk_batch_matches_per_chunk(chunks, cut):
    """decode_chunk_batch of encode_chunk_batch output equals the
    per-chunk decoders, on 1-posting chunks, fallback chunks mixed in,
    empty input and an Arrow slice with a non-zero offset."""
    import pyarrow as pa

    ids = [
        np.cumsum([base] + gaps).astype(np.uint64)
        for base, gaps, _t, _d in chunks
    ]
    tfs = [np.array(t, np.uint64) for _b, _g, t, _d in chunks]
    starts = np.cumsum([0] + [len(i) for i in ids])[:-1]
    codec, payloads = C.encode_chunk_batch(
        np.concatenate(ids) if ids else np.empty(0, np.uint64),
        np.concatenate(tfs) if tfs else np.empty(0, np.uint64),
        starts,
    )
    dls = [C.encode_lengths(d) for _b, _g, _t, d in chunks]
    pad = [b"junk"] * cut  # rows the slice below skips
    pay_a = pa.array(pad + payloads, pa.binary()).slice(cut)
    dls_a = pa.array(pad + dls, pa.binary()).slice(cut)
    got_ids, got_tfs, got_dls, offsets = C.decode_chunk_batch(
        pay_a, codec, dls_a
    )
    want_ids, want_tfs, want_dls, counts = decode_each(payloads, codec, dls)
    assert offsets.tolist() == np.cumsum([0] + counts).tolist()
    assert got_ids.tolist() == want_ids.tolist()
    assert got_tfs.tolist() == want_tfs.tolist()
    assert got_dls.tolist() == want_dls.tolist()


def test_decode_chunk_batch_refuses_corrupt_rows():
    """A Simple9 word with a selector outside the 9 classes, a row cut
    short and an unknown codec id raise ValueError, as decode_chunk
    does."""
    import pyarrow as pa

    ids = np.arange(100, dtype=np.uint64) * 7 + 3
    codec, payload = C.encode_chunk(ids, np.ones(100, np.uint64))
    dls = C.encode_lengths(np.full(100, 9))
    good = (
        pa.array([payload, payload], pa.binary()),
        np.array([codec, codec]),
        pa.array([dls, dls], pa.binary()),
    )
    assert len(C.decode_chunk_batch(*good)[0]) == 200
    bad = bytearray(payload)
    # the first Simple9 word follows the base and the gap count (one
    # varbyte each): its low nibble is the selector
    bad[2] = (bad[2] & 0xF0) | 0x0F
    with pytest.raises(ValueError, match="selector"):
        C.decode_chunk(bytes(bad), codec)
    with pytest.raises(ValueError, match="selector"):
        C.decode_chunk_batch(
            pa.array([payload, bytes(bad)], pa.binary()), *good[1:]
        )
    with pytest.raises(ValueError, match="truncated"):
        C.decode_chunk_batch(
            pa.array([payload, payload[:-3]], pa.binary()), *good[1:]
        )
    with pytest.raises(ValueError, match="codec"):
        C.decode_chunk_batch(good[0], np.array([codec, 7]), good[2])
