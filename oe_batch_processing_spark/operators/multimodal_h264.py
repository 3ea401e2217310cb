"""H.264/AVC Annex-B elementary streams, I-PCM baseline — the last codec
stub retired.

Everything here is hand-written from the public ITU-T H.264 spec (no codec
libraries in-container): an encoder emitting a REAL Annex-B byte stream —
start codes, NAL headers, an Exp-Golomb-coded Baseline SPS and PPS, IDR
slice headers, and I_PCM macroblocks (mb_type 25: raw 8-bit samples,
byte-aligned, 256 luma + 64 Cb + 64 Cr per MB in 4:2:0) with
emulation-prevention-byte insertion — and a decoder that walks the start
codes, validates every NAL header bit, parses SPS/PPS/slice headers field
by field (ue(v)/se(v) Exp-Golomb, fixed-width frame_num), strips and
validates emulation prevention, enforces the pcm alignment zero bits and
rbsp_trailing_bits, and reconstructs the exact samples. Bits go through
the MSB-first pair of ``functions/bitio.py``.

Why I-PCM makes the full hash oracle possible: PCM macroblocks carry the
samples verbatim (spec clause 8.3.5: no prediction, no transform, no
quantization), so encode→Annex-B→decode is the identity on sample values
BY CONSTRUCTION — the same provable-bit-exactness trick the flat-block
JPEG corpus used, but with arbitrary byte content. The corpus deliberately
zeroes the first 8 luma bytes of each stream's first macroblock so the PCM
payload contains a 0x00-run: emulation prevention MUST fire (0x000000 →
0x000003 00), so the escape/unescape path is exercised on every stream and
a broken EPB walk breaks the hash.

Oracle strategy: samples are md5-keyed pseudo-bytes (md5("{doc_id}:{mb}:{k}")
per 16-byte block — both engines compute identical digests over identical
strings), so the DuckDB oracle recomputes every emitted integer statistic
from the generation rule while the Spark side derives them from the DECODED
stream. ``order_checksum`` weights each frame's mean luma by its 1-based
position and ``mb_checksum`` weights each macroblock's first luma byte by
(frame, mb) position, so dropped/reordered frames or macroblocks break the
hash even when totals survive; w/h come from the parsed SPS, n_nals from
the start-code walk (must equal n_frames + SPS + PPS).

Reference scope: the reference engine (SURVEY.md §2.1) has no media path;
this completes the §2.2 multimodal family (PNG, BMP, JPEG, JPEG-4:2:0,
GIF, netpbm, WAV, AIFF, FLAC-lite, μ-law, ADPCM, MJPEG/AVI — and now
H.264 I-PCM — and, later the same round, TIFF (multimodal_tiff.py),
exact box resize (multimodal.resize_box) and literal-only-VP8L WebP
(multimodal_webp.py): no capability stubs remain).

Scale: identical shape to the MJPEG/AVI pipeline — one groupBy shuffle on
the stream id (the natural unit a video training corpus shards by), a
bounded round-robin fan-out so the tiny test parquet's single scan split
doesn't pin the Python codec stage to one core, then embarrassingly
parallel O(bytes)-per-stream work in one mapInPandas. On a real corpus the
encode half disappears: binaryFile scan of .h264/.264 blobs, demux+decode
only.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oe_batch_processing_spark.functions.bitio import MsbReader, MsbWriter
from oe_batch_processing_spark.registry import query
from oe_batch_processing_spark.tables import load_table

FRAMES_PER_STREAM = 8   # grouping rule for the oracled corpus
MB_BYTES = 384          # 256 luma + 64 Cb + 64 Cr (4:2:0, 8-bit)
ZERO_RUN = 8            # leading luma zeros in each stream's first MB


# --- Exp-Golomb and RBSP syntax over the shared MSB-first bit I/O -------------


def write_ue(w: MsbWriter, value: int) -> None:
    """Unsigned Exp-Golomb: value+1 in 2*bitlen(value+1)-1 bits."""
    v = value + 1
    w.write(v, 2 * v.bit_length() - 1)


def write_se(w: MsbWriter, value: int) -> None:
    """Signed Exp-Golomb: k = 2v-1 for v>0, -2v for v<=0."""
    write_ue(w, 2 * value - 1 if value > 0 else -2 * value)


def write_trailing(w: MsbWriter) -> bytes:
    """rbsp_trailing_bits: stop bit then zero-pad; returns the RBSP."""
    w.write(1, 1)
    return w.finish()


def read_ue(r: MsbReader) -> int:
    zeros = 0
    while not r.read_bit():
        zeros += 1
        if zeros > 31:
            raise ValueError("Exp-Golomb prefix too long")
    return (1 << zeros) - 1 + r.read(zeros)


def read_se(r: MsbReader) -> int:
    k = read_ue(r)
    return (k + 1) // 2 if k % 2 else -(k // 2)


def check_trailing(r: MsbReader) -> None:
    """rbsp_trailing_bits: stop bit, zero pad, then nothing."""
    if r.read(1) != 1:
        raise ValueError("missing rbsp stop bit")
    if r.read(-r.pos % 8):
        raise ValueError("nonzero rbsp trailing bit")
    if r.pos != 8 * len(r.data):
        raise ValueError("trailing bytes after rbsp_trailing_bits")


# --- emulation prevention (RBSP <-> EBSP) -------------------------------------


def add_emulation(rbsp: bytes) -> bytes:
    """Insert emulation_prevention_three_byte: after two zero bytes, a byte
    <= 0x03 must be escaped with 0x03 (spec 7.4.1.1)."""
    out = bytearray()
    zeros = 0
    for b in rbsp:
        if zeros == 2 and b <= 3:
            out.append(3)
            zeros = 0
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return bytes(out)


def strip_emulation(ebsp: bytes) -> bytes:
    """Remove emulation_prevention_three_byte, validating the EBSP grammar:
    inside a NAL, 0x00 0x00 may only be followed by 0x03 (the escape), and
    the escape must precede 0x00..0x03."""
    out = bytearray()
    zeros = 0
    i = 0
    n = len(ebsp)
    while i < n:
        b = ebsp[i]
        if zeros == 2:
            if b <= 2:
                raise ValueError("illegal 0x0000 run inside NAL payload")
            if b == 3:
                if i + 1 >= n or ebsp[i + 1] > 3:
                    raise ValueError("emulation escape not followed by 0x00..0x03")
                zeros = 0
                i += 1
                continue
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
        i += 1
    return bytes(out)


# --- NAL encoders -------------------------------------------------------------

NAL_SPS, NAL_PPS, NAL_IDR = 7, 8, 5


def _nal(nal_type: int, rbsp: bytes, long_start: bool) -> bytes:
    header = bytes([(3 << 5) | nal_type])  # forbidden=0, nal_ref_idc=3
    start = b"\x00\x00\x00\x01" if long_start else b"\x00\x00\x01"
    return start + header + add_emulation(rbsp)


def encode_sps(mb_w: int, mb_h: int) -> bytes:
    """Baseline SPS (profile_idc 66, level 1.0, pic_order_cnt_type 2,
    frame_mbs_only)."""
    w = MsbWriter()
    w.write(66, 8)         # profile_idc: Baseline
    w.write(0, 8)          # constraint flags + reserved_zero_2bits
    w.write(10, 8)         # level_idc 1.0
    write_ue(w, 0)         # seq_parameter_set_id
    write_ue(w, 0)         # log2_max_frame_num_minus4 -> frame_num is u(4)
    write_ue(w, 2)         # pic_order_cnt_type 2 (no further POC fields)
    write_ue(w, 0)         # max_num_ref_frames
    w.write(0, 1)          # gaps_in_frame_num_value_allowed_flag
    write_ue(w, mb_w - 1)  # pic_width_in_mbs_minus1
    write_ue(w, mb_h - 1)  # pic_height_in_map_units_minus1
    w.write(1, 1)          # frame_mbs_only_flag
    w.write(1, 1)          # direct_8x8_inference_flag
    w.write(0, 1)          # frame_cropping_flag
    w.write(0, 1)          # vui_parameters_present_flag
    return write_trailing(w)


def encode_pps() -> bytes:
    w = MsbWriter()
    write_ue(w, 0)         # pic_parameter_set_id
    write_ue(w, 0)         # seq_parameter_set_id
    w.write(0, 1)          # entropy_coding_mode_flag (CAVLC)
    w.write(0, 1)          # bottom_field_pic_order_in_frame_present_flag
    write_ue(w, 0)         # num_slice_groups_minus1
    write_ue(w, 0)         # num_ref_idx_l0_default_active_minus1
    write_ue(w, 0)         # num_ref_idx_l1_default_active_minus1
    w.write(0, 1)          # weighted_pred_flag
    w.write(0, 2)          # weighted_bipred_idc
    write_se(w, 0)         # pic_init_qp_minus26
    write_se(w, 0)         # pic_init_qs_minus26
    write_se(w, 0)         # chroma_qp_index_offset
    w.write(0, 1)          # deblocking_filter_control_present_flag
    w.write(0, 1)          # constrained_intra_pred_flag
    w.write(0, 1)          # redundant_pic_cnt_present_flag
    return write_trailing(w)


def encode_idr_ipcm(mbs: list[bytes]) -> bytes:
    """One IDR slice covering the whole picture, every macroblock I_PCM
    (mb_type 25): slice header, then per MB the mb_type, the alignment
    zero bits, and the raw 384 sample bytes."""
    w = MsbWriter()
    write_ue(w, 0)         # first_mb_in_slice
    write_ue(w, 7)         # slice_type 7: I (all slices in picture are I)
    write_ue(w, 0)         # pic_parameter_set_id
    w.write(0, 4)          # frame_num, u(log2_max_frame_num)=u(4)
    write_ue(w, 0)         # idr_pic_id
    w.write(0, 1)          # no_output_of_prior_pics_flag   (dec_ref_pic_marking,
    w.write(0, 1)          # long_term_reference_flag        IDR variant)
    write_se(w, 0)         # slice_qp_delta
    for mb in mbs:
        if len(mb) != MB_BYTES:
            raise ValueError(f"I_PCM macroblock must be {MB_BYTES} bytes")
        write_ue(w, 25)   # mb_type: I_PCM
        w.align(0)        # pcm_alignment_zero_bit
        w.write(int.from_bytes(mb, "big"), 8 * MB_BYTES)  # 8-bit samples
    return write_trailing(w)


def mux_annexb(mb_w: int, mb_h: int, frames: list[list[bytes]]) -> bytes:
    """SPS + PPS (4-byte start codes) then one IDR NAL per frame (3-byte
    start codes — both forms exercised on every stream)."""
    out = bytearray()
    out += _nal(NAL_SPS, encode_sps(mb_w, mb_h), long_start=True)
    out += _nal(NAL_PPS, encode_pps(), long_start=True)
    for mbs in frames:
        out += _nal(NAL_IDR, encode_idr_ipcm(mbs), long_start=False)
    return bytes(out)


# --- decoder ------------------------------------------------------------------


def split_annexb(b: bytes) -> list[bytes]:
    """Start-code walk: split on 0x000001 (with optional extra leading
    zero), validating nothing precedes the first start code."""
    starts = []
    i = 0
    n = len(b)
    while i + 2 < n:
        if b[i] == 0 and b[i + 1] == 0 and b[i + 2] == 1:
            starts.append(i)
            i += 3
        else:
            i += 1
    if not starts:
        raise ValueError("no start codes in Annex-B stream")
    lead = b[:starts[0]]
    if lead not in (b"", b"\x00"):
        raise ValueError("garbage before first start code")
    nals = []
    for k, s in enumerate(starts):
        end = starts[k + 1] if k + 1 < len(starts) else n
        payload = b[s + 3:end]
        # a following 4-byte start code owns its extra zero
        if k + 1 < len(starts) and payload[-1:] == b"\x00":
            payload = payload[:-1]
        if not payload:
            raise ValueError("empty NAL unit")
        nals.append(payload)
    return nals


def parse_sps(rbsp: bytes) -> tuple[int, int]:
    r = MsbReader(rbsp)
    profile = r.read(8)
    if profile != 66:
        raise ValueError(f"expected Baseline profile 66, got {profile}")
    r.read(8)  # constraint flags
    r.read(8)  # level_idc
    if read_ue(r) != 0:
        raise ValueError("unexpected seq_parameter_set_id")
    if read_ue(r) != 0:
        raise ValueError("unsupported log2_max_frame_num_minus4")
    if read_ue(r) != 2:
        raise ValueError("unsupported pic_order_cnt_type")
    read_ue(r)  # max_num_ref_frames
    r.read(1)  # gaps_in_frame_num_value_allowed_flag
    mb_w = read_ue(r) + 1
    mb_h = read_ue(r) + 1
    if r.read(1) != 1:
        raise ValueError("frame_mbs_only_flag must be 1")
    r.read(1)  # direct_8x8_inference_flag
    if r.read(1) != 0:
        raise ValueError("frame cropping unsupported")
    if r.read(1) != 0:
        raise ValueError("VUI unsupported")
    check_trailing(r)
    return mb_w, mb_h


def parse_pps(rbsp: bytes) -> None:
    r = MsbReader(rbsp)
    if read_ue(r) != 0 or read_ue(r) != 0:
        raise ValueError("unexpected PPS/SPS id")
    if r.read(1) != 0:
        raise ValueError("CABAC unsupported (entropy_coding_mode_flag)")
    r.read(1)
    if read_ue(r) != 0:
        raise ValueError("slice groups unsupported")
    read_ue(r), read_ue(r)
    r.read(1), r.read(2)
    read_se(r), read_se(r), read_se(r)
    r.read(1), r.read(1), r.read(1)
    check_trailing(r)


def parse_idr_ipcm(rbsp: bytes, n_mbs: int) -> list[bytes]:
    r = MsbReader(rbsp)
    if read_ue(r) != 0:
        raise ValueError("first_mb_in_slice != 0")
    st = read_ue(r)
    if st not in (2, 7):
        raise ValueError(f"not an I slice (slice_type {st})")
    if read_ue(r) != 0:
        raise ValueError("unexpected pic_parameter_set_id")
    if r.read(4) != 0:
        raise ValueError("nonzero frame_num in IDR")
    read_ue(r)       # idr_pic_id
    r.read(1), r.read(1)  # dec_ref_pic_marking (IDR)
    read_se(r)       # slice_qp_delta
    mbs = []
    for _ in range(n_mbs):
        mb_type = read_ue(r)
        if mb_type != 25:
            raise ValueError(f"expected I_PCM mb_type 25, got {mb_type}")
        if r.read(-r.pos % 8):  # pcm_alignment_zero_bit run
            raise ValueError("nonzero pcm_alignment_zero_bit")
        mbs.append(r.read_bytes(MB_BYTES))
    check_trailing(r)
    return mbs


def decode_h264_ipcm(stream: bytes) -> tuple[int, int, int, list[list[bytes]]]:
    """Full decode: (width_px, height_px, n_nals, frames), where each frame
    is its list of raster-order 384-byte macroblocks."""
    nals = split_annexb(stream)
    mb_w = mb_h = 0
    saw_sps = saw_pps = False
    frames: list[list[bytes]] = []
    for nal in nals:
        header = nal[0]
        if header & 0x80:
            raise ValueError("forbidden_zero_bit set")
        nal_type = header & 0x1F
        ref_idc = (header >> 5) & 3
        rbsp = strip_emulation(nal[1:])
        if nal_type == NAL_SPS:
            mb_w, mb_h = parse_sps(rbsp)
            saw_sps = True
        elif nal_type == NAL_PPS:
            parse_pps(rbsp)
            saw_pps = True
        elif nal_type == NAL_IDR:
            if not (saw_sps and saw_pps):
                raise ValueError("IDR before SPS/PPS")
            if ref_idc == 0:
                raise ValueError("IDR with nal_ref_idc 0")
            frames.append(parse_idr_ipcm(rbsp, mb_w * mb_h))
        else:
            raise ValueError(f"unexpected nal_unit_type {nal_type}")
    if not frames:
        raise ValueError("no coded pictures")
    return 16 * mb_w, 16 * mb_h, len(nals), frames


# --- the oracled corpus query --------------------------------------------------

_H264_ORACLE = """
    WITH f AS (
      SELECT doc_id // 8 AS stream_id, doc_id,
             1 + (doc_id // 8) % 2 AS nmb,
             ROW_NUMBER() OVER (PARTITION BY doc_id // 8 ORDER BY doc_id) - 1
               AS fno
      FROM documents
    ),
    mbx AS (
      SELECT stream_id, nmb, fno, v.m,
             FLATTEN([
               [ (instr('0123456789abcdef',
                        md5(CAST(doc_id AS VARCHAR) || ':' || v.m || ':' || k)
                        [2*j+1]) - 1) * 16
               + (instr('0123456789abcdef',
                        md5(CAST(doc_id AS VARCHAR) || ':' || v.m || ':' || k)
                        [2*j+2]) - 1)
               FOR j IN range(16)]
             FOR k IN range(24)]) AS bv
      FROM f JOIN (VALUES (0), (1)) v(m) ON v.m < f.nmb
    ),
    mbz AS (
      SELECT stream_id, nmb, fno, m,
             [CASE WHEN fno = 0 AND m = 0 AND i < 8 THEN 0 ELSE bv[i+1] END
              FOR i IN range(384)] AS bv
      FROM mbx
    ),
    per_mb AS (
      SELECT stream_id, nmb, fno, m,
             LIST_SUM(bv[1:256]) AS sl,
             LIST_SUM(bv[257:320]) AS scb,
             LIST_SUM(bv[321:384]) AS scr,
             bv[1] AS luma0
      FROM mbz
    ),
    per_frame AS (
      SELECT stream_id, nmb, fno,
             SUM(sl) AS sl, SUM(scb) AS scb, SUM(scr) AS scr,
             SUM(sl) // (256 * nmb) AS mean_luma,
             SUM((m + 1) * luma0) AS mbck
      FROM per_mb GROUP BY stream_id, nmb, fno
    )
    SELECT stream_id,
           CAST(COUNT(*) AS INTEGER) AS n_frames,
           CAST(COUNT(*) + 2 AS INTEGER) AS n_nals,
           CAST(16 * ANY_VALUE(nmb) AS INTEGER) AS w,
           CAST(16 AS INTEGER) AS h,
           CAST(SUM(sl) AS BIGINT) AS sum_luma,
           CAST(SUM(scb) AS BIGINT) AS sum_cb,
           CAST(SUM(scr) AS BIGINT) AS sum_cr,
           CAST(SUM((fno + 1) * mean_luma) AS BIGINT) AS order_checksum,
           CAST(SUM((fno + 1) * mbck) AS BIGINT) AS mb_checksum
    FROM per_frame
    GROUP BY stream_id
"""


def _mb_samples(doc_id: int, m: int, zero_head: bool) -> bytes:
    """The generation rule the oracle mirrors: 24 md5 blocks keyed by
    (doc_id, mb, block); the stream's first MB gets ZERO_RUN leading luma
    zeros so emulation prevention provably fires."""
    import hashlib

    raw = b"".join(
        hashlib.md5(f"{doc_id}:{m}:{k}".encode()).digest() for k in range(24)
    )
    if zero_head:
        raw = bytes(ZERO_RUN) + raw[ZERO_RUN:]
    return raw


@query("multimodal_h264_ipcm_decode", oracle=_H264_ORACLE)
def multimodal_h264_ipcm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL H.264 pipeline with a full hash oracle: documents group 8 per
    stream (one shuffle on the stream id), each frame is 1-2 I_PCM
    macroblocks of md5-keyed samples, the frames are muxed into a genuine
    Annex-B byte stream (:func:`mux_annexb` — start codes, NAL headers,
    Exp-Golomb SPS/PPS, slice headers, emulation prevention), and the
    decode side re-walks it all (:func:`decode_h264_ipcm`), emitting
    per-stream integer statistics over the DECODED samples. The zeroed
    luma head of each stream's first MB forces the 0x000003 escape on
    every stream; an in-operator assertion additionally re-escapes each
    parsed RBSP and demands the exact original EBSP bytes back.

    Scale: groupBy stream (the corpus sharding unit) -> bounded
    round-robin fan-out -> one mapInPandas of O(bytes) codec work per
    stream; on a real corpus the mux half is replaced by a binaryFile
    scan of raw .264 blobs.
    """
    docs = load_table(spark, sf_dir, "documents")
    sid = F.expr("doc_id div 8")
    streams = (
        docs.select(
            sid.alias("stream_id"),
            "doc_id",
            (F.lit(1) + sid % 2).cast("int").alias("nmb"),
        )
        .groupBy("stream_id", "nmb")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("doc_ids"))
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for stream_id, nmb, doc_ids in zip(
                pdf["stream_id"], pdf["nmb"], pdf["doc_ids"]
            ):
                nmb = int(nmb)
                frames = [
                    [
                        _mb_samples(int(d), m, zero_head=(fno == 0 and m == 0))
                        for m in range(nmb)
                    ]
                    for fno, d in enumerate(doc_ids)
                ]
                stream = mux_annexb(nmb, 1, frames)  # the real Annex-B bytes

                # escape-path cross-check: every NAL's parsed RBSP must
                # re-escape to the exact EBSP bytes we found on the wire
                for nal in split_annexb(stream):
                    if add_emulation(strip_emulation(nal[1:])) != nal[1:]:
                        raise ValueError("emulation roundtrip mismatch")

                w_px, h_px, n_nals, dec = decode_h264_ipcm(stream)
                sum_l = sum_cb = sum_cr = order_ck = mb_ck = 0
                for fno, mbs in enumerate(dec):
                    fl = 0
                    for m, mb in enumerate(mbs):
                        fl += sum(mb[:256])
                        sum_cb += sum(mb[256:320])
                        sum_cr += sum(mb[320:384])
                        mb_ck += (fno + 1) * (m + 1) * mb[0]
                    sum_l += fl
                    order_ck += (fno + 1) * (fl // (256 * len(mbs)))
                rows.append({
                    "stream_id": int(stream_id),
                    "n_frames": len(dec),
                    "n_nals": n_nals,
                    "w": w_px,
                    "h": h_px,
                    "sum_luma": sum_l,
                    "sum_cb": sum_cb,
                    "sum_cr": sum_cr,
                    "order_checksum": order_ck,
                    "mb_checksum": mb_ck,
                })
            yield pd.DataFrame(
                rows,
                columns=["stream_id", "n_frames", "n_nals", "w", "h",
                         "sum_luma", "sum_cb", "sum_cr", "order_checksum",
                         "mb_checksum"],
            )

    return streams.mapInPandas(
        run,
        schema="stream_id long, n_frames int, n_nals int, w int, h int, "
               "sum_luma long, sum_cb long, sum_cr long, "
               "order_checksum long, mb_checksum long",
    )
