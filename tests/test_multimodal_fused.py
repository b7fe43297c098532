"""The fused encode->probe pipelines behind the multimodal_* registry
queries: each runs a real codec writer and an independent reader inside
ONE Python stage.  Their rows are checked against the DuckDB oracles in
tests/test_oracle_parity.py; the tests here pin the per-operator rules
(window count and overlap, frame fan-out, probe fields, parameter
validation) on small hand-made inputs."""

import pytest

from substreams_sink_graph_load_spark.operators.multimodal import (
    avi_frame_sample_fused,
    mp3_probe_fused,
    mp4_probe_fused,
    png_features_fused,
    wav_windows_fused,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _texts(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_wav_windows_fused_overlap_and_energy(spark):
    """Window w, hop h over n bytes: ceil(max(n - w, 0)/h) + 1 windows,
    consecutive windows overlapping by w - h, the trailing partial
    window kept; empty texts emit nothing."""
    texts = {1: "hello world", 2: "x" * 300}
    df = _texts(spark, list(texts.items()) + [(3, "")])

    def windows(w, h):
        got = {}
        for r in wav_windows_fused(
            df, window_bytes=w, hop_bytes=h
        ).collect():
            got.setdefault(r["doc_id"], {})[r["win_idx"]] = (
                r["win_bytes"],
                r["energy"],
            )
        return got

    got = windows(8, 4)
    raw = texts[1].encode()
    # 11 bytes, w=8 h=4: starts 0 and 4, the second a 7-byte partial
    assert got[1] == {
        0: (8, sum(raw[0:8])),
        1: (7, sum(raw[4:11])),
    }
    # 300 bytes -> (300 - 8) // 4 + 1 = 74 full windows, no partial
    assert sorted(got[2]) == list(range(74))
    assert set(got[2].values()) == {(8, 8 * ord("x"))}
    assert 3 not in got


def test_wav_windows_fused_real_wav_through_spark(spark):
    """The WAV the stage encodes and decodes carries the text bytes
    unchanged: a 21-byte text at w=16, h=8 gives a full window and a
    13-byte trailing partial; an empty text gives no rows."""
    raw = b"abcdefghijklmnopqrstu"
    df = _texts(spark, [(1, raw.decode()), (2, "")])
    got = {
        (r["doc_id"], r["win_idx"]): (r["win_bytes"], r["energy"])
        for r in wav_windows_fused(
            df, window_bytes=16, hop_bytes=8
        ).collect()
    }
    assert got == {
        (1, 0): (16, sum(raw[0:16])),
        (1, 1): (13, sum(raw[8:21])),
    }


def test_wav_windows_fused_validates_params(spark):
    df = _texts(spark, [(1, "abc")])
    for w, h in ((8, 0), (0, 4), (8, -1)):
        with pytest.raises(ValueError, match="positive"):
            wav_windows_fused(df, window_bytes=w, hop_bytes=h)


def test_avi_frame_sample_fused_fanout(spark):
    """One row per kept frame (every 3rd of the first max_frames text
    bytes), each an exactly-decoded 8x8 constant frame; empty texts
    emit nothing."""
    df = _texts(spark, [(1, "abcdefg"), (2, "Z"), (3, "")])
    rows = avi_frame_sample_fused(df, max_frames=24, every_n=3).collect()
    got = {
        (r["doc_id"], r["frame_idx"]): (r["n_pix"], r["pix_first"], r["pix_sum"])
        for r in rows
    }
    assert got == {
        (1, 0): (64, ord("a"), 64 * ord("a")),
        (1, 3): (64, ord("d"), 64 * ord("d")),
        (1, 6): (64, ord("g"), 64 * ord("g")),
        (2, 0): (64, ord("Z"), 64 * ord("Z")),
    }
    with pytest.raises(ValueError, match="positive"):
        avi_frame_sample_fused(df, every_n=0)


def test_mp4_probe_fused_fields(spark):
    df = _texts(spark, [(1, "abc"), (2, "")])
    got = [tuple(r) for r in mp4_probe_fused(df).collect()]
    assert got == [(1, 16 * ((ord("a") % 16) + 1), 144, 3, 120, "avc1")]


def test_mp3_probe_fused_fields(spark):
    df = _texts(spark, [(1, "a" * 50), (2, "B"), (3, "")])
    got = {
        r["doc_id"]: (
            r["bitrate_kbps"], r["sample_rate"], r["channels"], r["n_frames"]
        )
        for r in mp3_probe_fused(df).collect()
    }
    bitrates = [32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320]
    assert got == {
        # 'a' is odd -> mono; 50 bytes capped at 32 frames
        1: (bitrates[ord("a") % 14], 48000, 1, 32),
        # 'B' is even -> stereo; one byte -> one frame
        2: (bitrates[ord("B") % 14], 48000, 2, 1),
    }


def test_fused_plans_have_single_python_stage(docs):
    """The point of fusion: ONE Python evaluation node, no binary
    payload column between two of them."""
    for df in (
        mp3_probe_fused(docs),
        mp4_probe_fused(docs),
        png_features_fused(docs),
        avi_frame_sample_fused(docs),
        wav_windows_fused(docs),
    ):
        plan = df._jdf.queryExecution().explainString(
            df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
        n_py = (
            plan.count("MapInArrow")
            + plan.count("MapInPandas")
            + plan.count("ArrowEvalPython")
            + plan.count("BatchEvalPython")
        )
        assert n_py == 1, plan
