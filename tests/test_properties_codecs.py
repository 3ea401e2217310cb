"""Hypothesis round-trip properties for the round-9 hand-written codecs.

The deterministic batteries pin known vectors and corruption behavior;
these properties attack the same grammars with arbitrary inputs — run
lengths straddling every cap, pathological repetition, empty and
single-byte payloads, dimensions at the format edges — where off-by-one
bit/byte bugs actually live.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from oe_batch_processing_spark.functions.bitio import (
    LsbReader,
    LsbWriter,
    MsbReader,
    MsbWriter,
)
from oe_batch_processing_spark.operators.multimodal_h264 import (
    add_emulation,
    decode_h264_ipcm,
    mux_annexb,
    strip_emulation,
)
from oe_batch_processing_spark.operators.multimodal_tiff import (
    COMP_NONE,
    COMP_PACKBITS,
    encode_tiff,
    packbits_decode,
    packbits_encode_row,
    parse_tiff,
)
from oe_batch_processing_spark.operators.multimodal_jpeg import (
    _read_interval,
    _stop_offset,
    _stuffed_interval,
    encode_jpeg,
    parse_jpeg,
)
from oe_batch_processing_spark.operators.multimodal_webp import (
    encode_webp_vp8l,
    lz77_parse,
    parse_webp_vp8l,
    prefix_decode_value,
    prefix_encode_value,
)
from oe_batch_processing_spark.streaming import pbshim

# byte streams biased toward runs (RLE/LZ77's interesting regime) as well
# as uniform noise
_runs = st.lists(
    st.tuples(st.integers(0, 255), st.integers(1, 40)), min_size=0, max_size=20
).map(lambda ps: b"".join(bytes([v]) * n for v, n in ps))
_noise = st.binary(max_size=300)
_bytestream = st.one_of(_runs, _noise)

# (value, width) fields for the shared bit I/O; width 0 is a legal no-op
_fields = st.lists(
    st.integers(0, 32).flatmap(
        lambda w: st.tuples(st.integers(0, (1 << w) - 1), st.just(w))
    ),
    max_size=60,
)


@given(_fields)
@settings(max_examples=200, deadline=None)
def test_lsb_bitio_roundtrips_any_fields(fields):
    w = LsbWriter()
    for v, n in fields:
        w.put(v, n)
        w.put_code(v, n)
    r = LsbReader(w.flush())
    for v, n in fields:
        assert r.peek_lsb(n) == r.get(n) == v
        code = 0
        for _ in range(n):  # put_code: MSB-first in stream order
            code = (code << 1) | r.get(1)
        assert code == v
    assert r.pos == 2 * sum(n for _, n in fields)


@given(_fields, st.booleans())
@settings(max_examples=200, deadline=None)
def test_msb_bitio_roundtrips_any_fields(fields, fill_bit):
    w = MsbWriter()
    for v, n in fields:
        w.write(v, n)
    nbits = sum(n for _, n in fields)
    assert w.bits_written() == nbits
    w.align(fill_bit)
    w.write(0xA5C3, 16)
    data = w.finish()
    assert len(data) == (nbits + 7) // 8 + 2
    r = MsbReader(data)
    for i, (v, n) in enumerate(fields):
        if i % 2:
            assert r.read(n) == v
        else:
            got = 0
            for _ in range(n):
                got = (got << 1) | r.read_bit()
            assert got == v
    assert r.pos == nbits
    pad = -nbits % 8
    assert r.read(pad) == ((1 << pad) - 1 if fill_bit else 0)
    assert r.read_bytes(2) == b"\xa5\xc3"


def test_bitio_readers_raise_past_the_data():
    def exhausted(fn, *args):
        with pytest.raises(ValueError, match="bitstream exhausted"):
            fn(*args)

    for data in (b"", b"\x5a", b"\x5a\xff"):
        n = 8 * len(data)
        r = LsbReader(data)
        exhausted(r.get, n + 1)
        exhausted(r.advance, n + 1)
        r.get(n)
        exhausted(r.get, 1)
        exhausted(r.advance, 1)
        r = MsbReader(data)
        exhausted(r.read, n + 1)
        exhausted(r.read_bytes, len(data) + 1)
        r.read(n)
        exhausted(r.read, 1)
        exhausted(r.read_bit)
        exhausted(r.read_bytes, 1)


@given(st.lists(_fields, min_size=1, max_size=6))
@settings(max_examples=150, deadline=None)
def test_jpeg_entropy_intervals_roundtrip(intervals):
    """Restart intervals stuffed on write, split at the next marker and
    un-stuffed on read: every field comes back and every RSTn is found
    where the interval's last byte ends. Each interval carries an 0xFFFF
    field, so stuffing is exercised on every example."""
    seg = bytearray()
    for k, fields in enumerate(intervals):
        w = MsbWriter()
        for v, n in fields + [(0xFFFF, 16)]:
            w.write(v, n)
        seg += _stuffed_interval(w)
        seg += bytes([0xFF, 0xD0 + k % 8]) if k + 1 < len(intervals) else b"\xff\xd9"
    assert b"\xff\x00" in seg
    start = 0
    for k, fields in enumerate(intervals):
        r = _read_interval(bytes(seg), start)
        assert [r.read(n) for _, n in fields + [(0, 16)]] == [
            v for v, _ in fields + [(0xFFFF, 16)]
        ]
        j = _stop_offset(r, start)
        marker = 0xD0 + k % 8 if k + 1 < len(intervals) else 0xD9
        assert seg[j:j + 2] == bytes([0xFF, marker])
        start = j + 2
    assert start == len(seg)


_RST_JPEG = encode_jpeg(bytes(range(256)) * 12, 48, 64, 1, restart_interval=2)


@given(st.data())
@settings(max_examples=60, deadline=None)
def test_jpeg_marker_inside_an_interval_raises(data):
    """Any marker spliced strictly inside a restart interval cuts it short:
    the decode runs out of bits or misses the expected RSTn."""
    sos = _RST_JPEG.index(b"\xff\xda")
    start = sos + 2 + int.from_bytes(_RST_JPEG[sos + 2:sos + 4], "big")
    rsts = [
        i for i in range(start, len(_RST_JPEG) - 1)
        if _RST_JPEG[i] == 0xFF and 0xD0 <= _RST_JPEG[i + 1] <= 0xD7
    ]
    assert rsts
    bounds = list(zip([start] + [i + 2 for i in rsts], rsts))
    lo, hi = data.draw(st.sampled_from(bounds))
    at = data.draw(st.integers(lo, hi - 1))
    marker = data.draw(st.sampled_from([0xD0, 0xD7, 0xC4, 0xD9, 0xFE]))
    bad = _RST_JPEG[:at] + bytes([0xFF, marker]) + _RST_JPEG[at:]
    with pytest.raises(ValueError):
        parse_jpeg(bad)


@given(_bytestream)
@settings(max_examples=200, deadline=None)
def test_packbits_roundtrips_any_row(row):
    assert packbits_decode(packbits_encode_row(row), len(row)) == row


@given(_bytestream)
@settings(max_examples=200, deadline=None)
def test_h264_emulation_roundtrips_any_rbsp(rbsp):
    ebsp = add_emulation(rbsp)
    assert strip_emulation(ebsp) == rbsp
    # EBSP grammar invariant: a 00 00 pair is never followed by 0x00..0x02
    # (only the 0x03 escape or a byte >= 4 may appear)
    for i in range(len(ebsp) - 2):
        if ebsp[i] == 0 and ebsp[i + 1] == 0:
            assert ebsp[i + 2] >= 3


@given(
    st.integers(1, 3),
    st.integers(1, 4),
    st.data(),
)
@settings(max_examples=40, deadline=None)
def test_h264_ipcm_roundtrips_any_samples(mb_w, n_frames, data):
    frames = [
        [
            bytes(
                data.draw(st.lists(st.integers(0, 255), min_size=384, max_size=384))
            )
            for _ in range(mb_w)
        ]
        for _ in range(n_frames)
    ]
    stream = mux_annexb(mb_w, 1, frames)
    w, h, n_nals, dec = decode_h264_ipcm(stream)
    assert (w, h, n_nals) == (16 * mb_w, 16, n_frames + 2)
    assert dec == frames


@given(st.integers(1, 24), st.integers(1, 13), st.booleans(), _bytestream)
@settings(max_examples=100, deadline=None)
def test_tiff_roundtrips_any_raster(w, h, packbits, pad):
    raster = (pad * ((w * h) // max(len(pad), 1) + 1))[: w * h] if pad else bytes(w * h)
    comp = COMP_PACKBITS if packbits else COMP_NONE
    t = encode_tiff(raster, w, h, comp)
    dw, dh, dc, strips = parse_tiff(t)
    assert (dw, dh, dc) == (w, h, comp)
    assert b"".join(strips) == raster


@given(st.integers(1, 1_000_000))
@settings(max_examples=300, deadline=None)
def test_vp8l_prefix_scheme_total_bijection(v):
    code, extra, ebits = prefix_encode_value(v)
    assert 0 <= extra < (1 << ebits) if ebits else extra == 0
    w = LsbWriter()
    w.put(extra, ebits)
    w.put(0, 8)
    assert prefix_decode_value(code, LsbReader(w.flush())) == v


@given(st.integers(1, 30), st.integers(1, 10), _bytestream)
@settings(max_examples=60, deadline=None)
def test_vp8l_roundtrips_any_raster(w, h, pad):
    raster = (pad * ((w * h) // max(len(pad), 1) + 1))[: w * h] if pad else bytes(w * h)
    blob = encode_webp_vp8l(raster, w, h)
    dw, dh, dec = parse_webp_vp8l(blob)
    assert (dw, dh) == (w, h) and dec == raster
    # determinism: the re-encode roundtrip the operator asserts
    assert encode_webp_vp8l(dec, dw, dh) == blob


@given(_bytestream)
@settings(max_examples=100, deadline=None)
def test_lz77_parse_reconstructs(data):
    """The greedy parse is a lossless factorization: replaying its ops
    must rebuild the input, and every backref must be in-bounds."""
    out = bytearray()
    for kind, a, b in lz77_parse(data):
        if kind == 0:
            out.append(a)
        else:
            assert b >= 1 and b <= len(out) and a >= 3
            start = len(out) - b
            for k in range(a):
                out.append(out[start + k])
    assert bytes(out) == data


@given(st.lists(st.tuples(st.integers(0, 2**63 - 1)), max_size=8))
@settings(max_examples=100, deadline=None)
def test_pbshim_varint_roundtrips(values):
    buf = b"".join(pbshim.write_varint(v[0]) for v in values)
    pos = 0
    for (v,) in values:
        got, pos = pbshim.read_varint(buf, pos)
        assert got == v
    assert pos == len(buf)


@given(st.integers(-(2**63), 2**63 - 1), st.integers(0, 2**63 - 1), st.binary(max_size=40))
@settings(max_examples=100, deadline=None)
def test_pbshim_message_scalar_roundtrip(i64, u64, blob):
    mod = _pb()
    m = mod.StateResponseWithLongTypeVal(statusCode=int(i64 % 2**31 - 2**30), value=i64)
    back = mod.StateResponseWithLongTypeVal()
    back.ParseFromString(m.SerializeToString())
    assert back.value == i64
    m2 = mod.StateResponse(statusCode=7, errorMessage="e", value=blob)
    back2 = mod.StateResponse()
    back2.ParseFromString(m2.SerializeToString())
    assert bytes(back2.value) == blob


_PB_MOD = None


def _pb():
    global _PB_MOD
    if _PB_MOD is None:
        _PB_MOD = pbshim.build_module()
    return _PB_MOD


@given(st.integers(1, 22), st.integers(1, 9), _bytestream)
@settings(max_examples=40, deadline=None)
def test_vp8l_rgb_color_transform_roundtrips_any_raster(w, h, pad):
    """Round 11: the RGB color-transform path must roundtrip ANY raster —
    arbitrary (uncorrelated) channels force worst-case residual histograms
    through the per-block delta selection, the nonzero red/blue prefix
    codes, and the §4.3 inverse, including 1-pixel and partial-edge-block
    geometries."""
    from oe_batch_processing_spark.operators.multimodal_webp import (
        encode_webp_vp8l_rgb,
        parse_webp_vp8l_rgb,
    )

    n = 3 * w * h
    rgb = (pad * (n // max(len(pad), 1) + 1))[:n] if pad else bytes(n)
    blob = encode_webp_vp8l_rgb(rgb, w, h)
    assert parse_webp_vp8l_rgb(blob) == (w, h, rgb)
    # determinism: the re-encode roundtrip the operator asserts
    assert encode_webp_vp8l_rgb(rgb, w, h) == blob
