"""Multimodal column plumbing (SURVEY §2.12 LLM-pipeline extensions).

Images / audio / video travel as opaque ``binary`` payload columns with a
typed metadata struct; decode / feature-extract / frame-sample run as
Arrow-batched pandas functions over ``mapInPandas`` so each task processes
whole record batches without JVM<->Python per-row overhead.

The decode boundary is REAL for four formats with stdlib(+numpy)-only
codecs, each implemented from its public file-format spec:

- ``image/png`` — chunk parse + zlib inflate + scanline unfilter
  (filters 0-4 incl. Paeth), 8-bit gray/RGB/graya/RGBA, both interlace
  methods (none + Adam7 pass scatter);
  returns the raw pixel bytes (PNG spec, RFC 2083).
- ``image/jpeg`` — baseline sequential DCT (ITU T.81 + JFIF): marker
  walk, canonical Huffman entropy decode with byte unstuffing and
  restart markers, dequantize, IDCT, chroma upsampling, YCbCr->RGB;
  grayscale or YCbCr, any 1-2 sampling factors (4:4:4/4:2:2/4:2:0);
  progressive/arithmetic/12-bit raise.
- ``audio/wav`` / ``audio/x-wav`` — RIFF parse via the stdlib ``wave``
  module; returns the raw PCM sample bytes.
- ``video/x-msvideo`` / ``video/avi`` — RIFF AVI container walk
  (``movi`` ``00dc`` chunks) with each MJPEG frame decoded through the
  from-spec JPEG path; ``avi_frame_sample_fused`` decodes only every n-th
  frame (the sampling contract that bounds codec cost on real video).
- ``video/mp4`` — the CONTAINER layer only: ``parse_mp4_meta`` walks
  ISO-BMFF boxes (ISO 14496-12) for dimensions / sample count /
  duration / codec without touching media data (the probe-first triage
  shape); H.264/HEVC frame decode stays behind the stub boundary.
- ``audio/mpeg`` — the HEADER layer only: ``parse_mp3_meta`` skips an
  ID3v2 tag and walks MPEG-1 Layer III frame headers (ISO 11172-3) for
  bitrate / sample rate / channels / frame count; the hybrid-filterbank
  sample decode stays behind the stub boundary.

Every other mime still hits the documented stub: ``decode_payload``
raises ``NotImplementedError`` unless ``fake=True``, in which case a
deterministic byte-level identity "decode" runs instead — the Spark-side
contract (schema, partitioning, UDF signature, batch shape) is real and
tested for all mimes; only the exotic-codec call is fake.

Scale note — Arrow batch sizing: every operator here is mapInPandas, so
one Arrow batch (``spark.sql.execution.arrow.maxRecordsPerBatch``,
default 10,000 rows) is materialized per call.  The synthetic corpora
carry ~KB payloads, but at production sizes (multi-MB images/clips) the
peak per-task memory is ``batch_rows x payload_bytes`` — size the conf
so that product fits executor memory (e.g. 256 rows for ~10 MB
payloads), or pre-split oversized payloads upstream.  This is the one
knob the family needs turned at 100 TB; everything else (no shuffle,
inherited partitioning, declared fan-out) holds as-is.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import lru_cache as _lru_cache

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("mime", StringType()),
        StructField("n_bytes", LongType()),
        StructField("first_byte", LongType()),
        StructField("head_sum", LongType()),
    ]
)

def attach_binary(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    mime: str = "text/plain",
) -> DataFrame:
    """Wrap a source column as an opaque payload + metadata struct —
    the canonical multimodal row shape: (id, mime, payload, meta)."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col),
        F.lit(mime).alias("mime"),
        payload.alias("payload"),
        F.struct(
            F.octet_length(payload).cast("long").alias("n_bytes"),
            F.md5(payload).alias("checksum"),
        ).alias("meta"),
    )


def _paeth(a: int, b: int, c: int) -> int:
    # PNG spec 6.6: predictor closest to p = a + b - c, ties left/up/upleft
    pp = a + b - c
    pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


# Adam7 pass grid: (x0, y0, dx, dy) per pass, PNG spec 8.2
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _png_unfilter(raw: bytes, off: int, pw: int, ph: int, channels: int) -> bytearray:
    """Unfilter one (sub-)image of ``ph`` scanlines x ``pw`` pixels
    starting at ``off`` in the inflated stream; each scanline = 1 filter
    byte + pw*channels data bytes."""
    stride = pw * channels
    out = bytearray(stride * ph)
    prev_start = -1
    for row in range(ph):
        fpos = off + row * (stride + 1)
        ftype = raw[fpos]
        line = bytearray(raw[fpos + 1 : fpos + 1 + stride])
        start = row * stride
        if ftype == 1:  # Sub
            for i in range(channels, stride):
                line[i] = (line[i] + line[i - channels]) & 0xFF
        elif ftype == 2:  # Up
            if prev_start >= 0:
                for i in range(stride):
                    line[i] = (line[i] + out[prev_start + i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = line[i - channels] if i >= channels else 0
                up = out[prev_start + i] if prev_start >= 0 else 0
                line[i] = (line[i] + (left + up) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = line[i - channels] if i >= channels else 0
                up = out[prev_start + i] if prev_start >= 0 else 0
                upleft = (
                    out[prev_start + i - channels]
                    if prev_start >= 0 and i >= channels
                    else 0
                )
                line[i] = (line[i] + _paeth(left, up, upleft)) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[start : start + stride] = line
        prev_start = start
    return out


def decode_png(data: bytes) -> bytes:
    """Pure-stdlib PNG decode (public spec, RFC 2083): chunk walk, zlib
    inflate, per-scanline unfilter (types 0-4), both interlace methods
    (none + Adam7 — each of the 7 passes is an independently filtered
    sub-image whose pixels scatter into the final raster on the pass
    grid).  Supports the 8-bit color types (gray / RGB / gray+alpha /
    RGBA); palette and sub-byte depths raise — this is a
    training-pipeline feature extractor, not a general image library.
    Returns raw pixel bytes, row-major, ``w*h*channels`` long."""
    import struct
    import zlib

    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG: bad signature")
    pos, idat = 8, bytearray()
    w = h = depth = color = interlace = None
    while pos + 8 <= len(data):
        ln = int.from_bytes(data[pos : pos + 4], "big")
        typ = data[pos + 4 : pos + 8]
        chunk = data[pos + 8 : pos + 8 + ln]
        if len(chunk) != ln:
            raise ValueError("truncated PNG chunk")
        pos += 12 + ln  # 4 len + 4 type + data + 4 crc
        if typ == b"IHDR":
            w, h, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", chunk
            )
        elif typ == b"IDAT":
            idat += chunk
        elif typ == b"IEND":
            break
    if w is None:
        raise ValueError("PNG missing IHDR")
    if depth != 8:
        raise NotImplementedError("only 8-bit PNG supported")
    if interlace not in (0, 1):
        raise ValueError(f"unknown PNG interlace method {interlace}")
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color)
    if channels is None:
        raise NotImplementedError(f"PNG color type {color} not supported")
    raw = zlib.decompress(bytes(idat))
    stride = w * channels
    if interlace == 0:
        if len(raw) != (stride + 1) * h:
            raise ValueError("PNG pixel data length mismatch")
        return bytes(_png_unfilter(raw, 0, w, h, channels))
    out = bytearray(stride * h)
    off = 0
    for x0, y0, dx, dy in _ADAM7:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue  # pass empty at this image size (spec 8.2)
        need = (pw * channels + 1) * ph
        if off + need > len(raw):
            raise ValueError("PNG pixel data length mismatch")
        sub = _png_unfilter(raw, off, pw, ph, channels)
        off += need
        for r in range(ph):
            src = r * pw * channels
            drow = (y0 + r * dy) * stride
            for c in range(pw):
                di = drow + (x0 + c * dx) * channels
                si = src + c * channels
                out[di : di + channels] = sub[si : si + channels]
    if off != len(raw):
        raise ValueError("PNG pixel data length mismatch")
    return bytes(out)


def encode_png(raw: bytes, w: int, h: int, channels: int = 1) -> bytes:
    """Pure-stdlib PNG encode (filter 0, non-interlaced, 8-bit): the
    write half of ``decode_png``, enough to round-trip raw pixel bytes
    losslessly through the real codec path (used by the
    multimodal_png_roundtrip registry query to hash-oracle the REAL
    decode, not the fake identity)."""
    import struct
    import zlib

    if len(raw) != w * h * channels:
        raise ValueError("encode_png: raw length != w*h*channels")
    if w <= 0 or h <= 0:
        raise ValueError("encode_png: empty image")
    color = {1: 0, 2: 4, 3: 2, 4: 6}[channels]

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    stride = w * channels
    body = b"".join(
        b"\x00" + raw[y * stride : (y + 1) * stride] for y in range(h)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(body))
        + chunk(b"IEND", b"")
    )


class _JpegBitReader:
    """MSB-first bit reader over JPEG entropy-coded data: 0xFF00 byte
    stuffing is unstuffed, RSTn markers are surfaced to the caller (they
    reset DC prediction and byte-align the stream), any other marker
    ends the scan."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.bits = 0
        self.nbits = 0
        self.marker: int | None = None

    def _fill(self) -> None:
        while self.nbits <= 24:
            if self.marker is not None or self.pos >= len(self.data):
                # past the scan: feed zeros (spec: a truncated final
                # byte pads with 1s, but any read past EOB is an error
                # we surface as a coefficient overrun below)
                self.bits = (self.bits << 8) & 0xFFFFFFFF
                self.nbits += 8
                continue
            b = self.data[self.pos]
            if b == 0xFF:
                nxt = (
                    self.data[self.pos + 1]
                    if self.pos + 1 < len(self.data)
                    else 0xD9
                )
                if nxt == 0x00:
                    self.pos += 2
                elif 0xD0 <= nxt <= 0xD7:
                    # restart marker: caller consumes via expect_rst()
                    self.marker = nxt
                    continue
                else:
                    self.marker = nxt
                    continue
            else:
                self.pos += 1
            self.bits = ((self.bits << 8) | b) & 0xFFFFFFFF
            self.nbits += 8

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        self._fill()
        v = (self.bits >> (self.nbits - n)) & ((1 << n) - 1)
        self.nbits -= n
        return v

    def expect_rst(self) -> None:
        """Consume the pending RSTn and realign to the byte boundary."""
        self.bits = 0
        self.nbits = 0
        if self.marker is None or not (0xD0 <= self.marker <= 0xD7):
            raise ValueError("JPEG: expected restart marker")
        self.pos += 2
        self.marker = None


def _jpeg_huff_table(counts: list[int], values: bytes) -> dict:
    """Canonical Huffman table (ITU T.81 Annex C): {(length, code): value}.

    Construction is memoized on the raw (counts, values) definition —
    tiny-image workloads (the 8x8 MJPEG frames) decode hundreds of
    thousands of frames that share a handful of table definitions, and
    rebuilding the dict per frame was ~10% of the per-frame decode
    (r13 profile).  The cached dict is shared read-only."""
    return _jpeg_huff_table_cached(bytes(counts), bytes(values))


@_lru_cache(maxsize=64)
def _jpeg_huff_table_cached(counts: bytes, values: bytes) -> dict:
    table = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(counts[ln - 1]):
            table[(ln, code)] = values[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _jpeg_decode_huff(br: _JpegBitReader, table: dict) -> int:
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | br.read(1)
        v = table.get((ln, code))
        if v is not None:
            return v
    raise ValueError("JPEG: invalid Huffman code")


def _jpeg_extend(v: int, s: int) -> int:
    # T.81 F.2.2.1 EXTEND: low-magnitude codes are negative
    if s == 0:
        return 0
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


@_lru_cache(maxsize=1)
def _jpeg_idct_basis():
    """Orthonormal 8x8 DCT-III basis for the IDCT (T.81 A.3.3), built
    once per process — rebuilding the cos grid per decode_jpeg call was
    pure fixed overhead on tiny (one-block) images."""
    import numpy as np

    k = np.arange(8)
    basis = np.cos((2 * k[:, None] + 1) * k[None, :] * np.pi / 16)
    basis[:, 0] *= 1 / np.sqrt(2)
    basis *= 0.5
    basis.setflags(write=False)
    return basis


_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def decode_jpeg(data: bytes) -> bytes:
    """Pure stdlib+numpy baseline JPEG decode (public spec, ITU T.81 +
    JFIF): marker walk, canonical Huffman entropy decode with byte
    unstuffing and restart markers, dequantize, de-zigzag, float IDCT,
    chroma upsampling by replication, JFIF YCbCr->RGB.  Supports
    baseline sequential DCT (SOF0), 8-bit, 1 component (grayscale) or 3
    components (YCbCr, any H/V sampling factors 1-2 incl. 4:2:0/4:2:2),
    single interleaved scan.  Progressive (SOF2), arithmetic coding,
    12-bit and hierarchical modes raise — this is a training-pipeline
    feature extractor, not a general codec.  Returns raw pixel bytes,
    row-major, ``w*h*channels`` long (channels = 1 or 3)."""
    import struct

    import numpy as np

    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: bad SOI")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    restart_interval = 0
    frame = None
    scan = None
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("JPEG: expected marker")
        m = data[pos + 1]
        if m == 0xD9:  # EOI
            break
        seg_len = int.from_bytes(data[pos + 2 : pos + 4], "big")
        seg = data[pos + 4 : pos + 2 + seg_len]
        if len(seg) != seg_len - 2:
            raise ValueError("JPEG: truncated segment")
        if m == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 15
                p += 1
                if pq:
                    vals = struct.unpack(f">{64}H", seg[p : p + 128])
                    p += 128
                else:
                    vals = seg[p : p + 64]
                    p += 64
                qt[tq] = np.array(list(vals), dtype=np.int32)
        elif m == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 15
                counts = list(seg[p + 1 : p + 17])
                n = sum(counts)
                table = _jpeg_huff_table(counts, seg[p + 17 : p + 17 + n])
                (huff_dc if tc == 0 else huff_ac)[th] = table
                p += 17 + n
        elif m == 0xC0:  # SOF0 baseline
            prec, h, w, nf = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
            if prec != 8:
                raise NotImplementedError("only 8-bit JPEG supported")
            if nf not in (1, 3):
                raise NotImplementedError("only 1/3-component JPEG")
            comps = []
            for i in range(nf):
                cid, hv, tq = seg[6 + 3 * i : 9 + 3 * i]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq}
                )
            frame = {"w": w, "h": h, "comps": comps}
        elif m in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                   0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG SOF{m - 0xC0}: only baseline sequential (SOF0)"
            )
        elif m == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif m == 0xDA:  # SOS
            ns = seg[0]
            scan = []
            for j in range(ns):
                cs, tdta = seg[1 + 2 * j], seg[2 + 2 * j]
                scan.append({"cs": cs, "td": tdta >> 4, "ta": tdta & 15})
            pos = pos + 2 + seg_len
            break
        # APPn / COM / everything else: skip
        pos = pos + 2 + seg_len
    if frame is None or scan is None:
        raise ValueError("JPEG missing SOF0/SOS")
    comps = frame["comps"]
    if len(scan) != len(comps):
        raise NotImplementedError("JPEG: single interleaved scan only")
    by_id = {c["id"]: c for c in comps}
    for s in scan:
        if s["cs"] not in by_id:
            raise ValueError("JPEG: scan references unknown component")
        by_id[s["cs"]]["td"] = s["td"]
        by_id[s["cs"]]["ta"] = s["ta"]

    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    w, h = frame["w"], frame["h"]
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    for c in comps:
        c["bw"] = mcus_x * c["h"]  # blocks across, MCU-padded
        c["bh"] = mcus_y * c["v"]
        c["plane"] = np.zeros((c["bh"] * 8, c["bw"] * 8), dtype=np.float64)
        c["pred"] = 0

    basis = _jpeg_idct_basis()

    br = _JpegBitReader(data, pos)
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and (
                mcu_count % restart_interval == 0
            ):
                br.expect_rst()
                for c in comps:
                    c["pred"] = 0
            mcu_count += 1
            for c in comps:
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        zz = np.zeros(64, dtype=np.int32)
                        t = _jpeg_decode_huff(br, huff_dc[c["td"]])
                        diff = _jpeg_extend(br.read(t), t)
                        c["pred"] += diff
                        zz[0] = c["pred"]
                        ki = 1
                        while ki < 64:
                            rs = _jpeg_decode_huff(br, huff_ac[c["ta"]])
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:
                                    ki += 16
                                    continue
                                break  # EOB
                            ki += r
                            if ki > 63:
                                raise ValueError("JPEG: AC index overrun")
                            zz[ki] = _jpeg_extend(br.read(s), s)
                            ki += 1
                        blk = np.zeros(64, dtype=np.float64)
                        blk[_JPEG_ZIGZAG] = zz * qt[c["tq"]]
                        px = basis @ blk.reshape(8, 8) @ basis.T
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        c["plane"][y0 : y0 + 8, x0 : x0 + 8] = px + 128.0

    planes = []
    for c in comps:
        p = c["plane"]
        if c["h"] != hmax or c["v"] != vmax:
            p = np.repeat(
                np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1
            )
        planes.append(p[:h, :w])
    if len(planes) == 1:
        out = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return out.tobytes()
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8).tobytes()


def decode_wav(data: bytes) -> bytes:
    """RIFF/WAVE decode via the stdlib ``wave`` module: raw PCM sample
    bytes (frames x channels x sampwidth)."""
    import io
    import wave

    with wave.open(io.BytesIO(data)) as wf:
        return wf.readframes(wf.getnframes())


@_lru_cache(maxsize=256)
def encode_const_jpeg(value: int) -> bytes:
    """Minimal valid baseline JPEG: one 8x8 grayscale block, every pixel
    ``value`` — built by direct integer construction (no float DCT).
    Memoized over its whole 256-value domain (pure int -> immutable
    bytes): the AVI attach stage calls it once per text byte, so each
    task pays each distinct byte's construction once.  A
    constant block's DCT is a single DC coefficient ``8*(value-128)``
    (exactly integral) with all AC exactly zero, so with an all-ones
    quantization table the encode/decode pair is LOSSLESS — the property
    the AVI frame-sample oracle states in SQL.  Tables: DQT all ones;
    one DC Huffman table of twelve 5-bit codes for categories 0-11
    (|8*(v-128)| <= 1024 -> category <= 11; canonical codes 0..11 never
    hit the all-ones pattern T.81 reserves); one AC table holding only
    EOB at a single bit."""
    import struct

    if not 0 <= value <= 255:
        raise ValueError("pixel value must be a byte")

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xDB, bytes([0x00]) + bytes([1] * 64))  # DQT id 0, all ones
    out += seg(0xC0, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
    dc_counts = [0] * 16
    dc_counts[4] = 12  # twelve length-5 codes: symbols 0..11 = codes 0..11
    out += seg(0xC4, bytes([0x00]) + bytes(dc_counts) + bytes(range(12)))
    ac_counts = [0] * 16
    ac_counts[0] = 1  # one length-1 code: EOB = '0'
    out += seg(0xC4, bytes([0x10]) + bytes(ac_counts) + bytes([0x00]))
    out += seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))  # SOS: comp 1, td/ta 0

    dc = 8 * (value - 128)
    s = abs(dc).bit_length()
    bits: list[tuple[int, int]] = [(s, 5)]  # DC category, 5-bit code == symbol
    if s:
        bits.append((dc if dc >= 0 else dc + (1 << s) - 1, s))
    bits.append((0, 1))  # AC EOB
    acc = n = 0
    entropy = bytearray()
    for v, ln in bits:
        acc = (acc << ln) | (v & ((1 << ln) - 1))
        n += ln
        while n >= 8:
            n -= 8
            b = (acc >> n) & 0xFF
            entropy.append(b)
            if b == 0xFF:
                entropy.append(0x00)  # byte stuffing
    if n:
        b = ((acc << (8 - n)) | ((1 << (8 - n)) - 1)) & 0xFF  # pad with 1s
        entropy.append(b)
        if b == 0xFF:
            entropy.append(0x00)
    out += entropy
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _riff_chunk(fourcc: bytes, payload: bytes) -> bytes:
    pad = b"\x00" if len(payload) & 1 else b""  # RIFF pads chunks to even
    return fourcc + len(payload).to_bytes(4, "little") + payload + pad


def encode_avi_mjpeg(
    frames: list[bytes], w: int, h: int, fps: int = 10
) -> bytes:
    """Wrap JPEG frame payloads in a minimal-but-spec-complete RIFF AVI
    (Microsoft AVI RIFF form, public spec): LIST hdrl (avih + LIST strl
    (strh 'vids'/'MJPG' + strf BITMAPINFOHEADER)) then LIST movi with one
    ``00dc`` chunk per frame."""
    import struct

    avih = struct.pack(
        "<14I", 1_000_000 // fps, 0, 0, 0, len(frames), 0, 1, 0, w, h, 0, 0, 0, 0
    )
    strh = b"vids" + b"MJPG" + struct.pack(
        "<IHHIIIIIIII4H", 0, 0, 0, 0, 1, fps, 0, len(frames),
        max((len(f) for f in frames), default=0), 0, 0, 0, 0, w, h,
    )
    strf = struct.pack("<Iii2H4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0)
    hdrl = _riff_chunk(
        b"LIST",
        b"hdrl"
        + _riff_chunk(b"avih", avih)
        + _riff_chunk(
            b"LIST", b"strl" + _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf)
        ),
    )
    movi = _riff_chunk(
        b"LIST", b"movi" + b"".join(_riff_chunk(b"00dc", f) for f in frames)
    )
    return _riff_chunk(b"RIFF", b"AVI " + hdrl + movi)


def decode_avi_mjpeg(data: bytes) -> tuple[int, int, list[bytes]]:
    """RIFF AVI container walk (public AVI RIFF spec): validate the
    ``RIFF``/``AVI `` form, pull width/height from ``avih`` (payload
    offsets 32/36), and collect the compressed-video frame payloads —
    chunks whose fourcc ends ``dc``/``db`` inside the ``movi`` LIST.
    Returns ``(width, height, [jpeg_bytes, ...])``; malformed input
    (bad magic, truncated chunk, missing avih) raises ValueError."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI: bad RIFF/AVI magic")
    end = 8 + int.from_bytes(data[4:8], "little")
    if end > len(data):
        raise ValueError("AVI: RIFF size exceeds payload")
    dims: list[int] = []
    frames: list[bytes] = []

    def walk(pos: int, stop: int, in_hdrl: bool, in_movi: bool) -> None:
        while pos + 8 <= stop:
            fourcc = data[pos : pos + 4]
            size = int.from_bytes(data[pos + 4 : pos + 8], "little")
            body, body_end = pos + 8, pos + 8 + size
            if body_end > stop:
                raise ValueError("AVI: truncated chunk")
            if fourcc == b"LIST":
                sub = data[body : body + 4]
                walk(
                    body + 4,
                    body_end,
                    in_hdrl or sub == b"hdrl",
                    in_movi or sub == b"movi",
                )
            elif in_hdrl and fourcc == b"avih":
                if size < 40:
                    raise ValueError("AVI: short avih header")
                dims[:] = [
                    int.from_bytes(data[body + 32 : body + 36], "little"),
                    int.from_bytes(data[body + 36 : body + 40], "little"),
                ]
            elif in_movi and fourcc[2:4] in (b"dc", b"db"):
                frames.append(bytes(data[body:body_end]))
            pos = body_end + (size & 1)

    walk(12, end, False, False)
    if not dims:
        raise ValueError("AVI: missing avih header")
    return dims[0], dims[1], frames


def decode_avi(data: bytes) -> bytes:
    """Full-video decode: every MJPEG frame through ``decode_jpeg``,
    pixel bytes concatenated in frame order."""
    _, _, frames = decode_avi_mjpeg(data)
    return b"".join(decode_jpeg(f) for f in frames)


_REAL_DECODERS = {
    "image/png": decode_png,
    "image/jpeg": decode_jpeg,
    "audio/wav": decode_wav,
    "audio/x-wav": decode_wav,
    "video/x-msvideo": decode_avi,
    "video/avi": decode_avi,
}


def decode_payload(payload: bytes, mime: str, fake: bool = False) -> bytes:
    """Codec boundary.  PNG and WAV decode for real (stdlib-only, from the
    public specs); other mimes need a codec this container lacks (PIL /
    soundfile / av) — callers opt into the deterministic fake for
    plumbing tests of those."""
    real = _REAL_DECODERS.get(mime)
    if real is not None:
        return real(payload)
    if not fake:
        raise NotImplementedError(
            f"no codec available for {mime}; install a decoder or pass fake=True"
        )
    return payload  # identity "decode": bytes in, bytes out


def extract_features(df: DataFrame, fake: bool = True) -> DataFrame:
    """Per-payload feature extraction via ``mapInPandas``.

    Batch shape: one pandas DataFrame per Arrow batch; output is a plain
    numeric feature row per payload (no binary back-transfer).  Partitioning
    is inherited — no shuffle.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            decoded = [
                decode_payload(bytes(p), m, fake=fake)
                for p, m in zip(pdf["payload"], pdf["mime"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "mime": pdf["mime"],
                    "n_bytes": [len(b) for b in decoded],
                    "first_byte": [b[0] if b else -1 for b in decoded],
                    "head_sum": [sum(b[:16]) for b in decoded],
                }
            )

    return df.mapInPandas(batches, FEATURE_SCHEMA)


VIDEO_FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("n_pix", LongType()),
        StructField("pix_first", LongType()),
        StructField("pix_sum", LongType()),
    ]
)


def _mp4_box(typ: bytes, payload: bytes) -> bytes:
    import struct

    return struct.pack(">I", len(payload) + 8) + typ + payload


def encode_mp4_stub(
    w: int,
    h: int,
    n_samples: int,
    duration_ms: int,
    codec: bytes = b"avc1",
    timescale: int = 1000,
) -> bytes:
    """Minimal valid ISO-BMFF (MP4) metadata skeleton (ISO 14496-12,
    public spec): ftyp + moov(mvhd + trak(tkhd + mdia(mdhd + stbl(stsd +
    stts + stsz)))).  Carries everything a metadata probe reads —
    dimensions, sample count, duration, codec fourcc — with no media
    data (mdat omitted; this is the moov-only shape probe tests need)."""
    import struct

    duration = duration_ms * timescale // 1000
    if duration > 0xFFFFFFFF:
        # version-0 boxes carry 32-bit durations; longer clips need the
        # version-1 (64-bit) forms this minimal writer doesn't emit
        raise ValueError("MP4 stub: duration overflows the version-0 u32 field")
    unity = struct.pack(
        ">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000
    )
    mvhd = (
        bytes(4)
        + struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">IHH", 0x00010000, 0x0100, 0)
        + bytes(8)
        + unity
        + bytes(24)
        + struct.pack(">I", 2)
    )
    tkhd = (
        struct.pack(">BBH", 0, 0, 7)  # version 0, flags: enabled|in-movie
        + struct.pack(">IIIII", 0, 0, 1, 0, duration)
        + bytes(8)
        + struct.pack(">HHHH", 0, 0, 0, 0)
        + unity
        + struct.pack(">II", w << 16, h << 16)  # 16.16 fixed
    )
    mdhd = bytes(4) + struct.pack(">IIIIHH", 0, 0, timescale, duration, 0x55C4, 0)
    entry = codec + bytes(6) + struct.pack(">H", 1) + bytes(16) + struct.pack(
        ">HH", w, h
    ) + struct.pack(">IIIH", 0x00480000, 0x00480000, 0, 1) + bytes(32) + struct.pack(
        ">Hh", 24, -1
    )
    stsd = bytes(4) + struct.pack(">I", 1) + struct.pack(">I", len(entry) + 8) + entry
    stts = bytes(4) + struct.pack(">III", 1, n_samples, 40)
    stsz = bytes(4) + struct.pack(">II", 0, n_samples)
    stbl = (
        _mp4_box(b"stsd", stsd) + _mp4_box(b"stts", stts) + _mp4_box(b"stsz", stsz)
    )
    mdia = _mp4_box(b"mdhd", mdhd) + _mp4_box(b"minf", _mp4_box(b"stbl", stbl))
    moov = _mp4_box(b"mvhd", mvhd) + _mp4_box(
        b"trak", _mp4_box(b"tkhd", tkhd) + _mp4_box(b"mdia", mdia)
    )
    ftyp = b"isom" + struct.pack(">I", 0x200) + b"isomiso2mp41"
    return _mp4_box(b"ftyp", ftyp) + _mp4_box(b"moov", moov)


_MP4_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}


def parse_mp4_meta(data: bytes) -> dict:
    """ISO-BMFF box walk (ISO 14496-12): read the metadata a triage
    pipeline needs WITHOUT touching media data — ``mvhd``
    timescale/duration, ``tkhd`` track dimensions (16.16 fixed),
    ``stsd`` codec fourcc, ``stsz`` sample count.  This moov-only probe
    is the correct 100 TB video operation: at petabyte scale you filter
    on container metadata first and decode only survivors.  Malformed
    input (short box, size overrun, missing moov/mvhd) raises
    ValueError."""
    import struct

    meta: dict = {}

    def walk(pos: int, stop: int) -> None:
        while pos < stop:
            if pos + 8 > stop:
                raise ValueError("MP4: truncated box header")
            size = struct.unpack(">I", data[pos : pos + 4])[0]
            typ = data[pos + 4 : pos + 8]
            body = pos + 8
            if size == 0:
                size = stop - pos  # box extends to end of enclosing scope
            elif size == 1:
                if pos + 16 > stop:
                    raise ValueError("MP4: truncated largesize")
                size = struct.unpack(">Q", data[pos + 8 : pos + 16])[0]
                body = pos + 16
            if size < 8 or pos + size > stop:
                raise ValueError("MP4: box size overruns enclosing scope")
            end = pos + size
            if typ in _MP4_CONTAINERS:
                if typ == b"moov":
                    meta["has_moov"] = True
                walk(body, end)
            elif typ == b"mvhd" and end - body >= 20:
                meta["timescale"] = struct.unpack(">I", data[body + 12 : body + 16])[0]
                meta["duration"] = struct.unpack(">I", data[body + 16 : body + 20])[0]
            elif typ == b"tkhd" and end - body >= 84:
                meta["width"] = struct.unpack(">I", data[end - 8 : end - 4])[0] >> 16
                meta["height"] = struct.unpack(">I", data[end - 4 : end])[0] >> 16
            elif typ == b"stsd" and end - body >= 16:
                meta["codec"] = data[body + 12 : body + 16].decode("latin-1")
            elif typ == b"stsz" and end - body >= 12:
                meta["n_samples"] = struct.unpack(">I", data[body + 8 : body + 12])[0]
            pos = end

    walk(0, len(data))
    if not meta.get("has_moov") or "timescale" not in meta:
        raise ValueError("MP4: missing moov/mvhd metadata")
    meta["duration_ms"] = meta["duration"] * 1000 // max(meta["timescale"], 1)
    return meta


_MP3_BITRATES = [
    0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320,
]  # MPEG-1 Layer III, kbps (ISO 11172-3 table); index 0/15 invalid
_MP3_SAMPLERATES = [44100, 48000, 32000]  # MPEG-1; index 3 reserved


def encode_mp3_stub(
    n_frames: int, bitrate_idx: int, mono: bool, tag: bytes = b""
) -> bytes:
    """Synthetic MPEG-1 Layer III stream (public ISO 11172-3 frame
    header layout): optional ID3v2.3 tag (syncsafe size), then
    ``n_frames`` frames at 48 kHz — chosen because the Layer III frame
    size 144*bitrate/samplerate is exactly ``3*bitrate_kbps`` there, so
    the walk is integer-exact.  Frame payloads are zeros (a header
    probe never reads them)."""
    import struct

    if not 1 <= bitrate_idx <= 14:
        raise ValueError("bitrate index must be 1..14")
    out = bytearray()
    if tag:
        ss = len(tag)
        syncsafe = bytes(
            [(ss >> 21) & 0x7F, (ss >> 14) & 0x7F, (ss >> 7) & 0x7F, ss & 0x7F]
        )
        out += b"ID3" + bytes([3, 0, 0]) + syncsafe + tag
    frame_len = 3 * _MP3_BITRATES[bitrate_idx]
    hdr = bytes(
        [
            0xFF,
            0xFB,  # sync + MPEG-1 + Layer III + no CRC
            (bitrate_idx << 4) | (1 << 2),  # bitrate idx, samplerate idx 1
            (0b11 if mono else 0b01) << 6,  # mono / joint stereo
        ]
    )
    # frames are identical (header + zero payload): one C-level bytes
    # repeat instead of n_frames bytearray appends
    out += (hdr + bytes(frame_len - 4)) * n_frames
    return bytes(out)


def parse_mp3_meta(data: bytes) -> dict:
    """MP3 header probe (ISO 11172-3): skip an ID3v2 tag if present
    (syncsafe size), read bitrate / sample rate / channel mode from the
    first frame header, then COUNT frames by walking the computed frame
    lengths — media payloads are never read, the metadata-triage shape.
    Only MPEG-1 Layer III is in scope; malformed sync, reserved
    bitrate/samplerate indices, or a walk that lands mid-stream raise
    ValueError."""
    pos = 0
    if data[:3] == b"ID3":
        if len(data) < 10:
            raise ValueError("MP3: truncated ID3v2 header")
        ss = data[6:10]
        if any(b & 0x80 for b in ss):
            raise ValueError("MP3: ID3v2 size is not syncsafe")
        pos = 10 + ((ss[0] << 21) | (ss[1] << 14) | (ss[2] << 7) | ss[3])
    meta: dict = {}
    n = 0
    while pos < len(data):
        if pos + 4 > len(data):
            raise ValueError("MP3: truncated frame header")
        b0, b1, b2, b3 = data[pos : pos + 4]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            raise ValueError("MP3: lost frame sync")
        if (b1 & 0x18) != 0x18 or (b1 & 0x06) != 0x02:
            raise NotImplementedError("MP3: only MPEG-1 Layer III")
        br_idx, sr_idx, pad = b2 >> 4, (b2 >> 2) & 3, (b2 >> 1) & 1
        if br_idx in (0, 15) or sr_idx == 3:
            raise ValueError("MP3: reserved bitrate/samplerate index")
        bitrate = _MP3_BITRATES[br_idx]
        samplerate = _MP3_SAMPLERATES[sr_idx]
        if not meta:
            meta = {
                "bitrate_kbps": bitrate,
                "sample_rate": samplerate,
                "channels": 1 if (b3 >> 6) == 0b11 else 2,
            }
        frame_len = 144_000 * bitrate // samplerate + pad
        if pos + frame_len > len(data):
            raise ValueError("MP3: frame overruns payload")
        pos += frame_len
        n += 1
    if not meta:
        raise ValueError("MP3: no frames")
    meta["n_frames"] = n
    return meta


PROBE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_samples", LongType()),
        StructField("duration_ms", LongType()),
        StructField("codec", StringType()),
    ]
)


MP3_PROBE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("bitrate_kbps", LongType()),
        StructField("sample_rate", LongType()),
        StructField("channels", LongType()),
        StructField("n_frames", LongType()),
    ]
)


# ---------------------------------------------------------------------------
# Fused encode -> probe pipelines (r13, guide §8 / §4.2)
#
# Run as two Python stages (a writer emitting payloads, then a reader over
# them), every payload byte would cross JVM<->Python twice just to produce
# a few numeric columns — at sf1 the mp3 pair moved ~850 MB of synthetic
# stream bytes through pandas object columns to emit 5 longs per row.  Each
# operator below runs the writer and the independent reader back to back
# inside one mapInArrow stage: both codec halves still execute per row (the
# writer/walker cross-check the oracle relies on is intact), but the
# payload never leaves the Python worker.  The DuckDB oracles of the
# multimodal_* registry queries are the reference for these rows
# (tests/test_oracle_parity.py).
# ---------------------------------------------------------------------------


def _fused_src(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Shared prologue of every fused pipeline: pruned 2-column scan,
    empty-text drop, and a size-gated fan-out.  The per-row codec work
    (the per-frame JPEG encode+decode above all) is the costliest compute
    in the multimodal family, and a small-SF documents.parquet is 1-2 row
    groups, so without the fan-out the whole codec wall runs on 2 cores
    (r12; the same narrow-scan mechanism as the PQ fits and the text
    scrub).  The gate never fires at production scan widths, and row
    placement is results-invariant: every output is a per-doc function of
    (doc_id, text)."""
    from .ann import fan_out_narrow

    src = df.select(id_col, text_col).where(F.length(F.col(text_col)) > 0)
    return fan_out_narrow(src, min_bytes=2_000_000)


def mp3_probe_fused(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_frames: int = 32,
) -> DataFrame:
    """MP3 header probe in one Arrow stage: encode a real MPEG-1 Layer
    III stream per row (bitrate index keyed on the first text byte, mono
    when it is odd, one frame per text byte capped at ``max_frames``,
    the text itself as the ID3v2 tag), then walk its frame headers with
    the independent parser.  Empty-text rows are dropped."""

    def stage(batches):
        import pyarrow as pa

        for batch in batches:
            if not batch.num_rows:
                continue
            ids = batch.column(0)
            brs, srs, chs, nfs = [], [], [], []
            for t in batch.column(1).to_pylist():
                raw = t.encode("utf-8")
                mp3 = encode_mp3_stub(
                    n_frames=min(len(raw), max_frames),
                    bitrate_idx=(raw[0] % 14) + 1,
                    mono=bool(raw[0] % 2),
                    tag=raw,
                )
                m = parse_mp3_meta(mp3)
                brs.append(m["bitrate_kbps"])
                srs.append(m["sample_rate"])
                chs.append(m["channels"])
                nfs.append(m["n_frames"])
            yield pa.record_batch(
                [
                    ids.cast(pa.int64()),
                    pa.array(brs, pa.int64()),
                    pa.array(srs, pa.int64()),
                    pa.array(chs, pa.int64()),
                    pa.array(nfs, pa.int64()),
                ],
                names=[
                    "doc_id", "bitrate_kbps", "sample_rate", "channels",
                    "n_frames",
                ],
            )

    return _fused_src(df, id_col, text_col).mapInArrow(
        stage, MP3_PROBE_SCHEMA
    )


def mp4_probe_fused(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """MP4 container probe in one Arrow stage: write a real ISO-BMFF
    skeleton per row (n_samples = text byte count, 40 ms per sample,
    width keyed on the first byte, height 144, codec ``avc1``), then
    box-walk it with the independent parser.  Empty-text rows are
    dropped."""

    def stage(batches):
        import pyarrow as pa

        for batch in batches:
            if not batch.num_rows:
                continue
            ids = batch.column(0)
            ws, hs, ns, durs, codecs = [], [], [], [], []
            for t in batch.column(1).to_pylist():
                raw = t.encode("utf-8")
                mp4 = encode_mp4_stub(
                    w=16 * ((raw[0] % 16) + 1),
                    h=144,
                    n_samples=len(raw),
                    duration_ms=40 * len(raw),
                )
                m = parse_mp4_meta(mp4)
                ws.append(m["width"])
                hs.append(m["height"])
                ns.append(m["n_samples"])
                durs.append(m["duration_ms"])
                codecs.append(m["codec"])
            yield pa.record_batch(
                [
                    ids.cast(pa.int64()),
                    pa.array(ws, pa.int64()),
                    pa.array(hs, pa.int64()),
                    pa.array(ns, pa.int64()),
                    pa.array(durs, pa.int64()),
                    pa.array(codecs, pa.string()),
                ],
                names=[
                    "doc_id", "width", "height", "n_samples", "duration_ms",
                    "codec",
                ],
            )

    return _fused_src(df, id_col, text_col).mapInArrow(stage, PROBE_SCHEMA)


def png_features_fused(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """PNG round trip in one Arrow stage: encode each row's UTF-8 text
    bytes as a real 1-row grayscale PNG, decode it back through the
    from-spec reader, emit the ``extract_features`` byte features.
    Empty-text rows are dropped (a 0-wide PNG is invalid by spec)."""

    def stage(batches):
        import pyarrow as pa

        for batch in batches:
            if not batch.num_rows:
                continue
            ids = batch.column(0)
            nbs, firsts, heads = [], [], []
            for t in batch.column(1).to_pylist():
                raw = t.encode("utf-8")
                dec = decode_png(encode_png(raw, len(raw), 1, 1))
                nbs.append(len(dec))
                firsts.append(dec[0] if dec else -1)
                heads.append(sum(dec[:16]))
            yield pa.record_batch(
                [
                    ids.cast(pa.int64()),
                    pa.array(["image/png"] * len(nbs), pa.string()),
                    pa.array(nbs, pa.int64()),
                    pa.array(firsts, pa.int64()),
                    pa.array(heads, pa.int64()),
                ],
                names=["doc_id", "mime", "n_bytes", "first_byte", "head_sum"],
            )

    return _fused_src(df, id_col, text_col).mapInArrow(stage, FEATURE_SCHEMA)


def avi_frame_sample_fused(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_frames: int = 24,
    every_n: int = 3,
) -> DataFrame:
    """Video frame sampling in one Arrow stage: write a real MJPEG AVI
    per row (frame *i* is an 8x8 constant-gray JPEG whose value is text
    byte *i*, first ``max_frames`` bytes), walk the RIFF container with
    the independent reader, and decode every ``every_n``-th frame through
    the from-spec JPEG path — decoding only the kept frames is what
    makes sampling pay.  Emits one (frame_idx, n_pix, pix_first,
    pix_sum) row per kept frame (1->N fan-out); empty-text rows are
    dropped."""
    if every_n <= 0:
        raise ValueError("every_n must be positive")

    def stage(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            if not batch.num_rows:
                continue
            doc_ids = batch.column(0).to_pylist()
            ids, idxs, npix, first, sums = [], [], [], [], []
            for doc_id, t in zip(doc_ids, batch.column(1).to_pylist()):
                raw = t.encode("utf-8")[:max_frames]
                avi = encode_avi_mjpeg(
                    [encode_const_jpeg(b) for b in raw], 8, 8
                )
                _, _, frames = decode_avi_mjpeg(avi)
                for i in range(0, len(frames), every_n):
                    px = decode_jpeg(frames[i])
                    ids.append(doc_id)
                    idxs.append(i)
                    npix.append(len(px))
                    first.append(px[0] if px else -1)
                    sums.append(
                        int(np.frombuffer(px, dtype=np.uint8).sum())
                        if px
                        else 0
                    )
            yield pa.record_batch(
                [
                    pa.array(ids, pa.int64()),
                    pa.array(idxs, pa.int64()),
                    pa.array(npix, pa.int64()),
                    pa.array(first, pa.int64()),
                    pa.array(sums, pa.int64()),
                ],
                names=["doc_id", "frame_idx", "n_pix", "pix_first", "pix_sum"],
            )

    return _fused_src(df, id_col, text_col).mapInArrow(
        stage, VIDEO_FRAME_SCHEMA
    )


def wav_windows_fused(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_bytes: int = 16,
    hop_bytes: int = 8,
) -> DataFrame:
    """Audio windows in one Arrow stage: write a real 8-bit mono PCM WAV
    per row (unsigned 8-bit samples ARE the text bytes, so the round
    trip is lossless), decode it back through the stdlib RIFF reader,
    and emit overlapping windows (the STFT-frame shape: window w, hop h
    -> windows overlap by w-h) with an integer energy (sum of byte
    values).  A payload of n bytes emits ceil(max(n - w, 0)/h) + 1
    windows: the trailing partial window is kept, as torchaudio/librosa
    do with their padding modes.  The window's BYTES never cross (only
    win_idx / win_bytes / energy); empty-text rows are dropped."""
    if hop_bytes <= 0 or window_bytes <= 0:
        raise ValueError("window_bytes and hop_bytes must be positive")

    def stage(batches):
        import io
        import wave

        import pyarrow as pa

        for batch in batches:
            if not batch.num_rows:
                continue
            doc_ids = batch.column(0).to_pylist()
            ids, idxs, nbs, energies = [], [], [], []
            for doc_id, t in zip(doc_ids, batch.column(1).to_pylist()):
                raw_in = t.encode("utf-8")
                buf = io.BytesIO()
                with wave.open(buf, "wb") as wf:
                    wf.setnchannels(1)
                    wf.setsampwidth(1)
                    wf.setframerate(16000)
                    wf.writeframes(raw_in)
                raw = decode_wav(buf.getvalue())
                starts = list(
                    range(0, max(len(raw) - window_bytes, 0) + 1, hop_bytes)
                ) or [0]
                if starts[-1] + window_bytes < len(raw):
                    starts.append(starts[-1] + hop_bytes)
                for wi, start in enumerate(starts):
                    chunk = raw[start : start + window_bytes]
                    ids.append(doc_id)
                    idxs.append(wi)
                    nbs.append(len(chunk))
                    energies.append(int(sum(chunk)))
            yield pa.record_batch(
                [
                    pa.array(ids, pa.int64()),
                    pa.array(idxs, pa.int64()),
                    pa.array(nbs, pa.int64()),
                    pa.array(energies, pa.int64()),
                ],
                names=["doc_id", "win_idx", "win_bytes", "energy"],
            )

    return _fused_src(df, id_col, text_col).mapInArrow(
        stage,
        "doc_id long, win_idx long, win_bytes long, energy long",
    )
