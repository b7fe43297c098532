"""Multimodal column plumbing: binary payloads, mapInPandas batch contract,
the from-spec codecs (PNG, JPEG, WAV, AVI, MP4/MP3 probes) and the stub
boundary for other mimes."""

from __future__ import annotations

import io
import struct
import wave
import zlib

import pytest

from substreams_sink_graph_load_spark.operators.multimodal import (
    attach_binary,
    decode_payload,
    decode_png,
    decode_wav,
    extract_features,
)


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def _paeth(a, b, c):
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    return a if pa <= pb and pa <= pc else (b if pb <= pc else c)


def make_png(w: int, h: int, channels: int, filters: list[int]) -> tuple[bytes, bytes]:
    """Forward-filter deterministic pixels with the given per-row filter
    types and wrap as a real PNG; returns (png_bytes, raw_pixel_bytes)."""
    color = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    stride = w * channels
    pixels = [
        bytes(((x * 37 + y * 11 + c * 7) % 256) for x in range(w) for c in range(channels))
        for y in range(h)
    ]
    rows = []
    for y in range(h):
        f = filters[y % len(filters)]
        cur, prev = pixels[y], (pixels[y - 1] if y > 0 else bytes(stride))
        out = bytearray([f])
        for i in range(stride):
            left = cur[i - channels] if i >= channels else 0
            up = prev[i]
            ul = prev[i - channels] if i >= channels else 0
            raw = cur[i]
            if f == 0:
                out.append(raw)
            elif f == 1:
                out.append((raw - left) & 0xFF)
            elif f == 2:
                out.append((raw - up) & 0xFF)
            elif f == 3:
                out.append((raw - (left + up) // 2) & 0xFF)
            else:
                out.append((raw - _paeth(left, up, ul)) & 0xFF)
        rows.append(bytes(out))
    png = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(b"".join(rows)))
        + _png_chunk(b"IEND", b"")
    )
    return png, b"".join(pixels)


def make_wav(n: int = 64, channels: int = 1, sampwidth: int = 2) -> tuple[bytes, bytes]:
    pcm = struct.pack(f"<{n * channels}h", *((i * 257 - 1000) % 32768 - 16384 for i in range(n * channels)))
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(channels)
        wf.setsampwidth(sampwidth)
        wf.setframerate(16000)
        wf.writeframes(pcm)
    return buf.getvalue(), pcm


@pytest.fixture(scope="module")
def payloads(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "x" * 300), (3, "")],
        "doc_id long, text string",
    )
    return attach_binary(df, "doc_id", "text")


def test_attach_binary_shape(payloads):
    rows = {r["doc_id"]: r for r in payloads.collect()}
    assert bytes(rows[1]["payload"]) == b"hello world"
    assert rows[1]["mime"] == "text/plain"
    assert rows[1]["meta"]["n_bytes"] == 11
    assert rows[2]["meta"]["n_bytes"] == 300
    assert len(rows[1]["meta"]["checksum"]) == 32  # md5 hex


def test_decode_stub_boundary():
    # mimes without a stdlib codec keep the documented stub contract
    with pytest.raises(NotImplementedError):
        decode_payload(b"\x00\x00\x00\x18ftyp", "video/mp4")
    assert decode_payload(b"abc", "text/plain", fake=True) == b"abc"


def test_decode_png_all_filters_all_colortypes():
    # every scanline filter type (0-4) and every supported channel count
    for channels in (1, 2, 3, 4):
        png, raw = make_png(7, 5, channels, filters=[0, 1, 2, 3, 4])
        assert decode_png(png) == raw
    # decode_payload dispatches by mime — no fake flag needed
    png, raw = make_png(3, 3, 3, filters=[4])
    assert decode_payload(png, "image/png") == raw


def test_decode_png_rejects_malformed():
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"\x89PNG")
    png, _ = make_png(3, 3, 3, filters=[0])
    # cut past IEND (12 bytes) into the IDAT body so the declared chunk
    # length overruns the buffer
    with pytest.raises(ValueError, match="truncated"):
        decode_png(png[:-18])
    # palette color type (3) is out of scope, loudly
    pal = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 6))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError, match="color type"):
        decode_png(pal)


def test_decode_wav_roundtrip():
    for channels, width in ((1, 2), (2, 2)):
        wav, pcm = make_wav(48, channels, width)
        assert decode_wav(wav) == pcm
        assert decode_payload(wav, "audio/wav") == pcm
        assert decode_payload(wav, "audio/x-wav") == pcm


def test_extract_features_real_codecs(spark):
    """End-to-end: real PNG + WAV payloads through the Spark mapInPandas
    path with fake=False — features computed on the DECODED bytes."""
    png, praw = make_png(8, 4, 3, filters=[0, 1, 2, 3])
    wav, pcm = make_wav(32)
    df = spark.createDataFrame(
        [
            (1, "image/png", bytearray(png), (len(png), "x")),
            (2, "audio/wav", bytearray(wav), (len(wav), "y")),
        ],
        "doc_id long, mime string, payload binary, meta struct<n_bytes:long,checksum:string>",
    )
    rows = {r["doc_id"]: r for r in extract_features(df, fake=False).collect()}
    assert rows[1]["n_bytes"] == len(praw) == 8 * 4 * 3
    assert rows[1]["first_byte"] == praw[0]
    assert rows[1]["head_sum"] == sum(praw[:16])
    assert rows[2]["n_bytes"] == len(pcm)
    assert rows[2]["head_sum"] == sum(pcm[:16])


def test_extract_features(payloads):
    rows = {r["doc_id"]: r for r in extract_features(payloads).collect()}
    assert rows[1]["n_bytes"] == 11
    assert rows[1]["first_byte"] == ord("h")
    assert rows[1]["head_sum"] == sum(b"hello world"[:16])
    assert rows[3]["first_byte"] == -1  # empty payload sentinel


# ---------------------------------------------------------------------------
# JPEG: an independent test-side baseline encoder (FDCT + fixed-length
# canonical Huffman + byte stuffing + optional restart markers), so the
# decoder is exercised by a second from-spec implementation, the PNG
# pattern.  Quant tables are all-ones: a flat block then round-trips
# EXACTLY (DC = 8*(v-128), no AC), smooth images to within IDCT rounding.
# ---------------------------------------------------------------------------

_ZZ = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc, self.n = 0, 0

    def flush(self) -> None:
        while self.n:
            self.write(1, 1)  # pad with 1s per spec


def _cat(v: int) -> int:
    a, s = abs(v), 0
    while a:
        a >>= 1
        s += 1
    return s


def _fixed(symbols: list[int]):
    import math

    symbols = sorted(set(symbols))
    ln = max(1, math.ceil(math.log2(len(symbols) + 1)))
    counts = [0] * 16
    counts[ln - 1] = len(symbols)
    enc = {s: (i, ln) for i, s in enumerate(symbols)}
    return enc, counts, bytes(symbols)


def _blocks_of(plane, bh, bw):
    import numpy as np

    padded = np.full((bh * 8, bw * 8), 0.0)
    padded[: plane.shape[0], : plane.shape[1]] = plane
    # edge-extend padding (what real encoders do) keeps gradients smooth
    if plane.shape[0] < bh * 8:
        padded[plane.shape[0]:, : plane.shape[1]] = plane[-1:, :]
    if plane.shape[1] < bw * 8:
        padded[:, plane.shape[1]:] = padded[:, plane.shape[1] - 1 : plane.shape[1]]
    return padded


def make_jpeg(
    planes, w: int, h: int, sampling=None, restart: int = 0
) -> bytes:
    """Encode 1 (grayscale) or 3 (YCbCr) planes, baseline sequential.
    ``sampling``: list of (h, v) per component (default all (1,1));
    chroma planes must already be subsampled to their plane size."""
    import numpy as np

    nf = len(planes)
    sampling = sampling or [(1, 1)] * nf
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))

    k = np.arange(8)
    basis = np.cos((2 * k[:, None] + 1) * k[None, :] * np.pi / 16)
    basis[:, 0] *= 1 / np.sqrt(2)
    basis *= 0.5

    # pass 1: FDCT all blocks in MCU-interleaved order, collect symbols
    per_comp_blocks = []
    for ci, (plane, (sh, sv)) in enumerate(zip(planes, sampling)):
        bw, bh = mcux * sh, mcuy * sv
        padded = _blocks_of(np.asarray(plane, dtype=np.float64), bh, bw)
        blocks = {}
        for by in range(bh):
            for bx in range(bw):
                f = padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
                F = basis.T @ f @ basis
                blocks[(by, bx)] = np.round(F).astype(int).reshape(64)
        per_comp_blocks.append(blocks)

    def mcu_iter():
        for my in range(mcuy):
            for mx in range(mcux):
                yield my, mx

    dc_syms, ac_syms = {0}, {0x00}
    for pass_no in (1, 2):
        if pass_no == 2:
            dc_enc, dc_counts, dc_vals = _fixed(sorted(dc_syms))
            ac_enc, ac_counts, ac_vals = _fixed(sorted(ac_syms))
            bwr = _BitWriter()
        preds = [0] * nf
        mcu_no = 0
        for my, mx in mcu_iter():
            if restart and mcu_no and mcu_no % restart == 0:
                if pass_no == 2:
                    bwr.flush()
                    bwr.out += bytes([0xFF, 0xD0 + ((mcu_no // restart - 1) % 8)])
                preds = [0] * nf
            mcu_no += 1
            for ci in range(nf):
                sh, sv = sampling[ci]
                for by in range(sv):
                    for bx in range(sh):
                        blk = per_comp_blocks[ci][(my * sv + by, mx * sh + bx)]
                        zz = blk[_ZZ]
                        diff = int(zz[0]) - preds[ci]
                        preds[ci] = int(zz[0])
                        s = _cat(diff)
                        if pass_no == 1:
                            dc_syms.add(s)
                        else:
                            code, ln = dc_enc[s]
                            bwr.write(code, ln)
                            if s:
                                v = diff if diff >= 0 else diff + (1 << s) - 1
                                bwr.write(v, s)
                        run = 0
                        last = max((i for i in range(1, 64) if zz[i]), default=0)
                        for i in range(1, last + 1):
                            v = int(zz[i])
                            if v == 0:
                                run += 1
                                continue
                            while run > 15:
                                if pass_no == 1:
                                    ac_syms.add(0xF0)
                                else:
                                    code, ln = ac_enc[0xF0]
                                    bwr.write(code, ln)
                                run -= 16
                            s = _cat(v)
                            rs = (run << 4) | s
                            if pass_no == 1:
                                ac_syms.add(rs)
                            else:
                                code, ln = ac_enc[rs]
                                bwr.write(code, ln)
                                ev = v if v >= 0 else v + (1 << s) - 1
                                bwr.write(ev, s)
                            run = 0
                        if last < 63:
                            if pass_no == 1:
                                ac_syms.add(0x00)
                            else:
                                code, ln = ac_enc[0x00]
                                bwr.write(code, ln)
    bwr.flush()

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0x00]) + bytes([1] * 64))  # DQT id0, all ones
    sof = bytearray([8]) + struct.pack(">HH", h, w) + bytes([nf])
    for ci, (sh, sv) in enumerate(sampling):
        sof += bytes([ci + 1, (sh << 4) | sv, 0])
    out += seg(0xC0, bytes(sof))
    out += seg(0xC4, bytes([0x00]) + bytes(dc_counts) + dc_vals)
    out += seg(0xC4, bytes([0x10]) + bytes(ac_counts) + ac_vals)
    if restart:
        out += seg(0xDD, struct.pack(">H", restart))
    sos = bytearray([nf])
    for ci in range(nf):
        sos += bytes([ci + 1, 0x00])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, bytes(sos))
    out += bwr.out
    out += b"\xff\xd9"
    return bytes(out)


def test_decode_jpeg_flat_gray_exact():
    import numpy as np

    from substreams_sink_graph_load_spark.operators.multimodal import (
        decode_jpeg,
    )

    for v in (0, 73, 128, 200, 255):
        jpg = make_jpeg([np.full((8, 8), float(v))], 8, 8)
        out = decode_jpeg(jpg)
        assert out == bytes([v] * 64), f"flat {v}"


def test_decode_jpeg_gray_gradient_roundtrip():
    import numpy as np

    from substreams_sink_graph_load_spark.operators.multimodal import (
        decode_jpeg,
    )

    h, w = 24, 16  # non-square, multiple blocks, exercises DC prediction
    img = (np.add.outer(np.arange(h) * 5, np.arange(w) * 3) % 256).astype(float)
    out = np.frombuffer(decode_jpeg(make_jpeg([img], w, h)), dtype=np.uint8)
    err = np.abs(out.reshape(h, w).astype(int) - img.astype(int)).max()
    assert err <= 2, err


def test_decode_jpeg_color_444_and_420():
    import numpy as np

    from substreams_sink_graph_load_spark.operators.multimodal import (
        decode_jpeg,
    )

    # flat YCbCr -> known flat RGB (JFIF matrix), both samplings
    y, cb, cr = 120.0, 90.0, 160.0
    exp_r = round(y + 1.402 * (cr - 128))
    exp_g = round(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128))
    exp_b = round(y + 1.772 * (cb - 128))
    for sampling, planes in (
        ([(1, 1)] * 3, [np.full((16, 16), y), np.full((16, 16), cb), np.full((16, 16), cr)]),
        ([(2, 2), (1, 1), (1, 1)], [np.full((16, 16), y), np.full((8, 8), cb), np.full((8, 8), cr)]),
    ):
        out = np.frombuffer(
            decode_jpeg(make_jpeg(planes, 16, 16, sampling=sampling)),
            dtype=np.uint8,
        ).reshape(16, 16, 3)
        for ch, exp in enumerate((exp_r, exp_g, exp_b)):
            assert abs(int(out[..., ch].mean().round()) - exp) <= 1
            assert out[..., ch].std() == 0


def test_decode_jpeg_restart_markers():
    import numpy as np

    from substreams_sink_graph_load_spark.operators.multimodal import (
        decode_jpeg,
    )

    h, w = 8, 48  # 6 MCUs; restart every 2 -> RST0, RST1
    img = (np.add.outer(np.arange(h) * 7, np.arange(w) * 2) % 256).astype(float)
    plain = decode_jpeg(make_jpeg([img], w, h))
    rst = decode_jpeg(make_jpeg([img], w, h, restart=2))
    assert plain == rst


def test_decode_jpeg_rejects_malformed():
    import numpy as np

    from substreams_sink_graph_load_spark.operators.multimodal import (
        decode_jpeg,
    )

    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x89PNG")
    jpg = make_jpeg([np.full((8, 8), 99.0)], 8, 8)
    # flip SOF0 -> SOF2 (progressive): loud NotImplementedError
    prog = jpg.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(NotImplementedError, match="SOF2"):
        decode_jpeg(prog)
    with pytest.raises(ValueError, match="truncated|missing"):
        decode_jpeg(jpg[:20])


def test_extract_features_real_jpeg(spark):
    import numpy as np

    from substreams_sink_graph_load_spark.operators.multimodal import (
        decode_jpeg,
    )

    img = (np.add.outer(np.arange(16) * 3, np.arange(16) * 5) % 256).astype(float)
    jpg = make_jpeg([img], 16, 16)
    raw = decode_jpeg(jpg)
    df = spark.createDataFrame(
        [(7, "image/jpeg", bytearray(jpg), (len(jpg), "z"))],
        "doc_id long, mime string, payload binary, meta struct<n_bytes:long,checksum:string>",
    )
    row = extract_features(df, fake=False).collect()[0]
    assert row["n_bytes"] == len(raw) == 16 * 16
    assert row["first_byte"] == raw[0]
    assert row["head_sum"] == sum(raw[:16])


def test_encode_png_roundtrip():
    from substreams_sink_graph_load_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    raw = bytes(range(256)) * 3
    assert decode_png(encode_png(raw, 256, 3, 1)) == raw
    assert decode_png(encode_png(raw, 16, 16, 3)) == raw
    with pytest.raises(ValueError, match="length"):
        encode_png(b"abc", 2, 1, 1)
    with pytest.raises(ValueError, match="empty"):
        encode_png(b"", 0, 1, 1)


def test_encode_const_jpeg_lossless_all_values():
    from substreams_sink_graph_load_spark.operators.multimodal import (
        decode_jpeg,
        encode_const_jpeg,
    )

    # the lossless-roundtrip theorem the AVI oracle relies on, exhaustively
    for v in range(256):
        assert decode_jpeg(encode_const_jpeg(v)) == bytes([v] * 64), v
    with pytest.raises(ValueError, match="byte"):
        encode_const_jpeg(256)


def test_avi_container_roundtrip_general_frames():
    import numpy as np

    from substreams_sink_graph_load_spark.operators.multimodal import (
        decode_avi,
        decode_avi_mjpeg,
        decode_jpeg,
        encode_avi_mjpeg,
    )

    # non-trivial frames through the general encoder: container walk must
    # hand back the exact JPEG payloads (incl. odd lengths -> RIFF padding)
    h, w = 16, 24
    frames = [
        make_jpeg(
            [(np.add.outer(np.arange(h) * k, np.arange(w)) % 256).astype(float)],
            w,
            h,
        )
        for k in (1, 3, 7)
    ]
    avi = encode_avi_mjpeg(frames, w, h, fps=25)
    gw, gh, back = decode_avi_mjpeg(avi)
    assert (gw, gh) == (w, h)
    assert back == frames
    assert decode_avi(avi) == b"".join(decode_jpeg(f) for f in frames)


def test_decode_avi_rejects_malformed():
    from substreams_sink_graph_load_spark.operators.multimodal import (
        _riff_chunk,
        decode_avi_mjpeg,
        encode_avi_mjpeg,
        encode_const_jpeg,
    )

    avi = encode_avi_mjpeg([encode_const_jpeg(7)], 8, 8)
    with pytest.raises(ValueError, match="magic"):
        decode_avi_mjpeg(b"RIFX" + avi[4:])
    with pytest.raises(ValueError, match="exceeds"):
        decode_avi_mjpeg(avi[:30])
    with pytest.raises(ValueError, match="exceeds"):
        decode_avi_mjpeg(b"RIFF" + (10**6).to_bytes(4, "little") + b"AVI ")
    with pytest.raises(ValueError, match="truncated"):
        # inner chunk declares more bytes than its enclosing form holds
        decode_avi_mjpeg(
            b"RIFF" + (16).to_bytes(4, "little") + b"AVI "
            + b"avih" + (100).to_bytes(4, "little") + b"\x00" * 4
        )
    with pytest.raises(ValueError, match="avih"):
        decode_avi_mjpeg(
            _riff_chunk(
                b"RIFF",
                b"AVI "
                + _riff_chunk(
                    b"LIST", b"movi" + _riff_chunk(b"00dc", encode_const_jpeg(7))
                ),
            )
        )


def test_extract_features_real_avi(spark):
    from substreams_sink_graph_load_spark.operators.multimodal import (
        encode_avi_mjpeg,
        encode_const_jpeg,
    )

    avi = encode_avi_mjpeg([encode_const_jpeg(b) for b in b"hi"], 8, 8)
    df = spark.createDataFrame(
        [(9, "video/x-msvideo", bytearray(avi), (len(avi), "z"))],
        "doc_id long, mime string, payload binary, meta struct<n_bytes:long,checksum:string>",
    )
    row = extract_features(df, fake=False).collect()[0]
    # full decode: 2 frames x 64 px; first byte 'h'; head = 16 x 'h'
    assert row["mime"] == "video/x-msvideo"
    assert row["n_bytes"] == 128
    assert row["first_byte"] == ord("h")
    assert row["head_sum"] == 16 * ord("h")


def test_avi_container_property_roundtrip():
    """Random frame payloads (any bytes, odd and even lengths — RIFF's
    even-padding path) survive the container roundtrip bit-exactly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from substreams_sink_graph_load_spark.operators.multimodal import (
        decode_avi_mjpeg,
        encode_avi_mjpeg,
    )

    @settings(max_examples=200, deadline=None)
    @given(
        frames=st.lists(st.binary(min_size=0, max_size=200), max_size=12),
        w=st.integers(1, 4096),
        h=st.integers(1, 4096),
    )
    def prop(frames, w, h):
        gw, gh, back = decode_avi_mjpeg(encode_avi_mjpeg(frames, w, h))
        assert (gw, gh) == (w, h)
        assert back == frames

    prop()


def test_mp4_probe_roundtrip_and_malformed():
    from substreams_sink_graph_load_spark.operators.multimodal import (
        encode_mp4_stub,
        parse_mp4_meta,
    )

    mp4 = encode_mp4_stub(1920, 1080, 300, 12_000, b"hvc1", timescale=90_000)
    m = parse_mp4_meta(mp4)
    assert (m["width"], m["height"]) == (1920, 1080)
    assert m["n_samples"] == 300
    assert m["duration_ms"] == 12_000
    assert m["codec"] == "hvc1"
    with pytest.raises(ValueError, match="truncated"):
        parse_mp4_meta(mp4[:6])
    with pytest.raises(ValueError, match="overruns"):
        parse_mp4_meta(b"\xff\xff\xff\xff" + mp4[4:])
    with pytest.raises(ValueError, match="moov"):
        parse_mp4_meta(mp4[: mp4.index(b"moov") - 4])


def test_mp3_probe_roundtrip_and_malformed():
    from substreams_sink_graph_load_spark.operators.multimodal import (
        encode_mp3_stub,
        parse_mp3_meta,
    )

    m = parse_mp3_meta(encode_mp3_stub(7, 9, False, tag=b"title: test"))
    assert m == {
        "bitrate_kbps": 128,
        "sample_rate": 48000,
        "channels": 2,
        "n_frames": 7,
    }
    # no tag, mono, every valid bitrate index
    for idx in range(1, 15):
        m = parse_mp3_meta(encode_mp3_stub(2, idx, True))
        assert m["n_frames"] == 2 and m["channels"] == 1
    with pytest.raises(ValueError, match="sync"):
        parse_mp3_meta(b"\x00\x01\x02\x03")
    with pytest.raises(ValueError, match="overruns"):
        parse_mp3_meta(encode_mp3_stub(2, 5, True)[:-10])
    with pytest.raises(ValueError, match="no frames"):
        parse_mp3_meta(encode_mp3_stub(0, 5, True, tag=b"x"))
    with pytest.raises(ValueError, match="reserved"):
        parse_mp3_meta(bytes([0xFF, 0xFB, 0xF4, 0x40]))  # bitrate idx 15


def test_mp4_mp3_probe_property_roundtrip():
    """Random parameters survive writer->walker bit-exactly for both
    metadata probes."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from substreams_sink_graph_load_spark.operators.multimodal import (
        encode_mp3_stub,
        encode_mp4_stub,
        parse_mp3_meta,
        parse_mp4_meta,
    )

    @settings(max_examples=150, deadline=None)
    @given(
        w=st.integers(1, 8192),
        h=st.integers(1, 8192),
        n=st.integers(0, 100_000),
        dur=st.integers(0, 10**7),
        codec=st.sampled_from([b"avc1", b"hvc1", b"mp4v", b"av01"]),
        ts=st.integers(1, 1_000_000),
    )
    def mp4_prop(w, h, n, dur, codec, ts):
        from hypothesis import assume

        assume(dur * ts // 1000 <= 0xFFFFFFFF)  # version-0 u32 duration
        m = parse_mp4_meta(encode_mp4_stub(w, h, n, dur, codec, timescale=ts))
        assert (m["width"], m["height"], m["n_samples"]) == (w, h, n)
        assert m["codec"] == codec.decode()
        # writer quantizes duration to the timescale; walker recovers the
        # quantized value exactly
        assert m["duration_ms"] == (dur * ts // 1000) * 1000 // ts

    @settings(max_examples=150, deadline=None)
    @given(
        nf=st.integers(1, 64),
        idx=st.integers(1, 14),
        mono=st.booleans(),
        tag=st.binary(max_size=300),
    )
    def mp3_prop(nf, idx, mono, tag):
        m = parse_mp3_meta(encode_mp3_stub(nf, idx, mono, tag=tag))
        assert m["n_frames"] == nf
        assert m["channels"] == (1 if mono else 2)

    mp4_prop()
    mp3_prop()


def make_png_adam7(w: int, h: int, channels: int, filters: list[int]) -> tuple[bytes, bytes]:
    """Interlaced twin of make_png: the same deterministic pixels split
    into the 7 Adam7 passes, each forward-filtered independently."""
    color = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    pix = [
        [
            bytes(((x * 37 + y * 11 + c * 7) % 256) for c in range(channels))
            for x in range(w)
        ]
        for y in range(h)
    ]
    raw = b"".join(b"".join(row) for row in pix)

    def filt_rows(rows: list[bytes], stride: int) -> bytes:
        out = bytearray()
        for y, cur in enumerate(rows):
            f = filters[y % len(filters)]
            prev = rows[y - 1] if y > 0 else bytes(stride)
            line = bytearray([f])
            for i in range(stride):
                left = cur[i - channels] if i >= channels else 0
                up = prev[i]
                ul = prev[i - channels] if i >= channels else 0
                v = cur[i]
                if f == 0:
                    line.append(v)
                elif f == 1:
                    line.append((v - left) & 0xFF)
                elif f == 2:
                    line.append((v - up) & 0xFF)
                elif f == 3:
                    line.append((v - (left + up) // 2) & 0xFF)
                else:
                    line.append((v - _paeth(left, up, ul)) & 0xFF)
            out += line
        return bytes(out)

    stream = bytearray()
    for x0, y0, dx, dy in [
        (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
    ]:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        rows = [
            b"".join(pix[y0 + r * dy][x0 + c * dx] for c in range(pw))
            for r in range(ph)
        ]
        stream += filt_rows(rows, pw * channels)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 1))
        + _png_chunk(b"IDAT", zlib.compress(bytes(stream)))
        + _png_chunk(b"IEND", b"")
    )
    return png, raw


def test_decode_png_adam7_interlaced():
    # sizes chosen to hit empty passes (1x1..3x3), ragged pass widths,
    # and full 8x8 tiles; all filter types cycle inside each pass
    for w, h in [(1, 1), (2, 2), (3, 3), (7, 5), (8, 8), (16, 9), (13, 21)]:
        for channels in (1, 3, 4):
            png, raw = make_png_adam7(w, h, channels, filters=[0, 1, 2, 3, 4])
            assert decode_png(png) == raw, (w, h, channels)
    # interlaced output must equal the non-interlaced decode of the
    # same pixels (the scatter is a pure permutation)
    png_i, raw_i = make_png_adam7(12, 10, 3, filters=[4])
    png_n, raw_n = make_png(12, 10, 3, filters=[4])
    assert raw_i == raw_n
    assert decode_png(png_i) == decode_png(png_n)


def test_corpus_is_ascii_for_byte_oracles():
    """The multimodal family's DuckDB oracles index text by CODE POINT
    (ascii(substr(...))/strlen) while the Spark fixtures index the UTF-8
    BYTES — equal only on a pure-ASCII corpus.  Enforce the assumption
    on every shipped driver SF so a corpus change breaks loudly here,
    not as a silent oracle desync (r8 advice item)."""
    import duckdb

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        (n_bad,) = duckdb.sql(
            "SELECT count(*) FROM "
            f"read_parquet('/root/testdata/{sf}/documents.parquet') "
            "WHERE strlen(text) != octet_length(encode(text))"
        ).fetchone()
        assert n_bad == 0, f"{sf}: {n_bad} non-ASCII documents.text rows"
