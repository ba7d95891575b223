"""Decode-level multimodal tests: the PCM Arrow scale-twin equality
(wav_sample_stats_pandas vs the gated explode twin — same pairing as
payload_byte_profile), the JPEG bounded SOF marker walk, and the
audio-QA flag logic on handcrafted payloads."""

from __future__ import annotations

import pytest

from fastetl_spark.io.readers import read_table


def _wav(ch: int, sr: int, bits: int, data: bytes) -> bytes:
    """Canonical 44-byte PCM WAV header around ``data`` (RIFF spec)."""
    block = ch * (bits // 8)
    h = b"RIFF"
    h += (36 + len(data)).to_bytes(4, "little")
    h += b"WAVEfmt "
    h += (16).to_bytes(4, "little")
    h += (1).to_bytes(2, "little")  # PCM
    h += ch.to_bytes(2, "little")
    h += sr.to_bytes(4, "little")
    h += (sr * block).to_bytes(4, "little")
    h += block.to_bytes(2, "little")
    h += bits.to_bytes(2, "little")
    h += b"data" + len(data).to_bytes(4, "little")
    return h + data


def test_wav_sample_stats_jvm_equals_pandas_on_fixture(spark, sf_dir):
    """The gated explode twin and the Arrow/numpy scale twin decode the
    full WAV fixture (8/16-bit, 1/2 channels, headerless docs) to
    bit-identical per-channel statistics — the equality that licenses
    using wav_sample_stats_pandas, the Arrow path, at 100 TB."""
    from fastetl_spark.operators.multimodal import (
        wav_fixture_media,
        wav_sample_stats,
        wav_sample_stats_pandas,
    )

    d = read_table(spark, sf_dir, "documents").limit(80)
    media = wav_fixture_media(d)
    jvm = sorted(map(tuple, wav_sample_stats(media).collect()))
    arrow = sorted(map(tuple, wav_sample_stats_pandas(media).collect()))
    assert jvm == arrow
    assert len(jvm) > 0


def test_wav_sample_stats_edge_payloads_both_twins(spark):
    """Headerless, non-PCM, empty-data and odd-trailing-byte payloads:
    both twins drop invalid docs and never fabricate a sample from a
    trailing odd byte of a 16-bit stream."""
    from fastetl_spark.operators.multimodal import (
        wav_sample_stats,
        wav_sample_stats_pandas,
    )

    nonpcm = bytearray(_wav(1, 8000, 16, b"\x01\x02"))
    nonpcm[20] = 2  # audio format != 1 (PCM) -> invalid
    # truncated upload: header claims 1000 data bytes, only 4 arrived —
    # both twins must clamp to the REAL buffer (2 complete 16-bit
    # samples), never fabricate phantom samples from the declared size
    truncated = bytearray(_wav(1, 8000, 16, bytes([1, 0, 2, 0])))
    truncated[40:44] = (1000).to_bytes(4, "little")
    zero_ch = bytearray(_wav(1, 8000, 8, b"\x40\x40"))
    zero_ch[22:24] = (0).to_bytes(2, "little")  # 0 channels -> no rows
    rows = [
        (1, _wav(2, 8000, 16, bytes([0, 1, 0, 2, 0, 3, 9]))),  # odd tail
        (2, _wav(1, 8000, 8, b"")),  # valid header, zero samples
        (3, b"not a wav at all"),
        (4, bytes(nonpcm)),
        (5, None),
        (6, _wav(1, 16000, 8, bytes([0, 255, 128]))),  # full 8-bit range
        (7, bytes(truncated)),
        (8, _wav(1, 8000, 24, bytes(range(12)))),  # 24-bit: unsupported
        (9, bytes(zero_ch)),
    ]
    media = spark.createDataFrame(rows, "doc_id long, payload binary")
    jvm = sorted(map(tuple, wav_sample_stats(media).collect()))
    arrow = sorted(map(tuple, wav_sample_stats_pandas(media).collect()))
    assert jvm == arrow
    got = {(r[0], r[1]): r for r in jvm}
    # doc 1: 3 16-bit samples (odd byte dropped), deinterleaved 2ch
    assert got[(1, 0)][2] == 2 and got[(1, 1)][2] == 1
    assert got[(1, 0)][3:5] == (256, 768)  # samples 256, 768 (LE hi=1,3)
    # doc 6: 8-bit unsigned-128 decode spans the full range
    assert got[(6, 0)][3:5] == (-128, 127)
    # doc 7: clamped to the 2 real samples, not the declared 500
    assert got[(7, 0)][2] == 2 and got[(7, 0)][3:5] == (1, 2)
    # 2/3/4/5 invalid; 8 unsupported depth; 9 zero channels
    assert {k[0] for k in got} == {1, 6, 7}


def test_image_dims_walk_handcrafted_jpegs(spark):
    """The bounded SOF marker walk on hand-built JPEGs: SOF0 directly
    after APP0, behind COM segments, SOF2 (progressive), buried past
    the hop bound (honest NULL), truncated mid-walk, and GIF87a."""
    from fastetl_spark.operators.multimodal import (
        _JPEG_HOPS,
        image_dims_info,
    )

    app0 = bytes.fromhex("FFE000104A46494600010100000100010000")

    def com(n: int) -> bytes:
        return b"\xff\xfe" + (2 + n).to_bytes(2, "big") + b"A" * n

    def sof(h: int, w: int, marker: int = 0xC0) -> bytes:
        return (
            bytes([0xFF, marker, 0, 17, 8])
            + h.to_bytes(2, "big")
            + w.to_bytes(2, "big")
            + bytes.fromhex("03011100021101031101")
        )

    deep = b"\xff\xd8" + app0 + com(5) * (_JPEG_HOPS) + sof(9, 9)
    rows = [
        (1, b"\xff\xd8" + app0 + sof(480, 640) + b"body"),
        (2, b"\xff\xd8" + app0 + com(3) + com(200) + sof(720, 1280)),
        (3, b"\xff\xd8" + app0 + sof(100, 200, 0xC2)),  # progressive
        (4, deep),  # SOF past the hop bound -> NULL dims
        (5, b"\xff\xd8" + app0[:6]),  # truncated mid-walk
        (6, b"GIF87a" + (12).to_bytes(2, "little")
            + (34).to_bytes(2, "little") + b"\x00"),
        (7, b"GIF89a" + (56).to_bytes(2, "little")
            + (78).to_bytes(2, "little") + b"\x00"),
    ]
    media = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in image_dims_info(media).collect()}
    assert (got[1]["width"], got[1]["height"]) == (640, 480)
    assert (got[2]["width"], got[2]["height"]) == (1280, 720)
    assert (got[3]["width"], got[3]["height"]) == (200, 100)
    assert got[4]["format"] == "image/jpeg"
    assert got[4]["width"] is None and got[4]["height"] is None
    assert got[5]["format"] == "image/jpeg" and got[5]["width"] is None
    assert got[6]["format"] == "image/gif"
    assert (got[6]["width"], got[6]["height"]) == (12, 34)
    assert (got[7]["width"], got[7]["height"]) == (56, 78)


def test_audio_qa_flags_handcrafted(spark):
    """Flag logic on payloads with KNOWN defects, via both stats
    twins: a clipped 16-bit doc, a dead constant channel, a DC-biased
    channel, and a clean centered one."""
    from fastetl_spark.operators.multimodal import audio_qa_report

    clipped = _wav(1, 8000, 16, (32767).to_bytes(2, "little", signed=True)
                   + (-5).to_bytes(2, "little", signed=True) * 3)
    # 2ch interleaved: ch0 constant 3000 (dead + DC: 3000 > 32767/20),
    # ch1 alternating +/-2000 (centered, moving, in-range)
    import struct

    inter = b"".join(
        struct.pack("<hh", 3000, 2000 if i % 2 == 0 else -2000)
        for i in range(8)
    )
    two_ch = _wav(2, 8000, 16, inter)
    biased = _wav(1, 8000, 8, bytes([200] * 10))  # mean +72 of 127
    clean = _wav(1, 8000, 8, bytes([120, 136] * 10))  # mean 0
    media = spark.createDataFrame(
        [(1, clipped), (2, two_ch), (3, biased), (4, clean)],
        "doc_id long, payload binary",
    )
    for arrow in (False, True):
        got = {
            (r["doc_id"], r["channel"]): r
            for r in audio_qa_report(media, arrow=arrow).collect()
        }
        assert got[(1, 0)]["clip"] and not got[(1, 0)]["dead"]
        assert got[(2, 0)]["dead"] and got[(2, 0)]["dc_offset"]
        assert not got[(2, 1)]["dead"] and not got[(2, 1)]["dc_offset"]
        assert not got[(2, 1)]["clip"]
        assert got[(3, 0)]["dc_offset"] and not got[(3, 0)]["clip"]
        assert not got[(4, 0)]["dc_offset"] and not got[(4, 0)]["dead"]


def test_engine_audio_facades_route_arrow(spark, sf_dir):
    """The Arrow twins of the audio stats and the audio QA report
    agree with the gated plans on the fixture."""
    from fastetl_spark.operators.multimodal import (
        audio_qa_report,
        wav_fixture_media,
        wav_sample_stats,
        wav_sample_stats_pandas,
    )

    media = wav_fixture_media(
        read_table(spark, sf_dir, "documents").limit(40)
    )
    a = sorted(map(tuple, wav_sample_stats_pandas(media).collect()))
    j = sorted(map(tuple, wav_sample_stats(media).collect()))
    assert a == j and len(a) > 0
    qa = audio_qa_report(media, arrow=True)
    assert set(qa.columns) == {
        "doc_id", "channel", "n_samples", "clip", "dc_offset", "dead"
    }
    plan = qa._jdf.queryExecution().executedPlan().toString()
    # Arrow default: the stats side runs mapInPandas, and no
    # per-sample explode appears anywhere in the plan
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan
    assert "Generate" not in plan


def test_audio_qa_one_pass_twin_equals_jvm(spark, sf_dir):
    """wav_audio_qa_pandas (header+decode+flags in ONE mapInPandas
    pass — the 100 TB and streaming shape) is row-identical to the
    gateable JVM stats+join form on the full QA fixture, including
    planted clip markers, constant blocks and headerless docs."""
    from pyspark.sql import functions as F

    from fastetl_spark.operators.multimodal import (
        _wav_header_hex,
        _wav_qa_data_hx,
        _wav_qa_ds,
        audio_qa_report,
    )

    d = read_table(spark, sf_dir, "documents").limit(120)
    enc = "encode(text, 'UTF-8')"
    media = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 17 == 0, F.encode("text", "UTF-8")
        ).otherwise(
            F.unhex(F.expr(
                f"concat({_wav_header_hex(_wav_qa_ds(enc))}, "
                f"{_wav_qa_data_hx(enc)})"
            ))
        ).alias("payload"),
    )
    jvm = sorted(map(tuple,
                     audio_qa_report(media, arrow=False, dc_den=2).collect()))
    one_pass = sorted(map(tuple,
                          audio_qa_report(media, arrow=True,
                                          dc_den=2).collect()))
    assert jvm == one_pass and len(jvm) > 0


def test_image_dims_pandas_equals_jvm_twin_on_fixture(spark, sf_dir):
    """Deep-header Arrow twin vs the gated bounded JVM walk on the
    fixture: identical wherever the bounded walk resolves, and the
    deep walk RECOVERS the buried-SOF arm (doc_id % 31 JPEGs, where
    the JVM twin reports honest NULLs) with the fixture-stamped dims."""
    from fastetl_spark.io.readers import read_table
    from fastetl_spark.operators.multimodal import (
        image_dims_info,
        image_dims_pandas,
        image_fixture_media,
    )

    d = read_table(spark, sf_dir, "documents")
    media = image_fixture_media(d)
    jvm = {r["doc_id"]: r for r in image_dims_info(media).collect()}
    deep = {r["doc_id"]: r for r in image_dims_pandas(media).collect()}
    assert set(jvm) == set(deep)
    buried = 0
    for did, j in jvm.items():
        p = deep[did]
        assert p["format"] == j["format"], did
        if j["width"] is not None:
            assert (p["width"], p["height"]) == (j["width"], j["height"]), did
        elif j["format"] == "image/jpeg" and did % 31 == 0:
            buried += 1  # the deep walk must FIND the stamped dims
            assert p["width"] == 16 + (did % 1280)
            assert p["height"] == 16 + ((did * 7) % 720)
    assert buried > 0  # the fixture plants this arm — prove it fired


def test_image_dims_pandas_unbounded_walk_and_edges(spark):
    from fastetl_spark.operators.multimodal import (
        _JPEG_HOPS,
        image_dims_pandas,
    )

    app0 = bytes.fromhex("FFE000104A46494600010100000100010000")

    def com(n: int) -> bytes:
        return b"\xff\xfe" + (2 + n).to_bytes(2, "big") + b"A" * n

    def sof(h: int, w: int) -> bytes:
        return (
            bytes([0xFF, 0xC0, 0, 17, 8])
            + h.to_bytes(2, "big")
            + w.to_bytes(2, "big")
            + bytes.fromhex("03011100021101031101")
        )

    rows = [
        # SOF buried past the JVM hop bound AND past 512 bytes: the
        # deep walk still finds it
        (1, b"\xff\xd8" + app0 + com(200) * (2 * _JPEG_HOPS) + sof(9, 11)),
        (2, b"\xff\xd8" + app0[:6]),          # truncated: NULL dims
        (3, None),                             # NULL payload
        (4, b"\x00junk"),                      # headerless
    ]
    media = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in image_dims_pandas(media).collect()}
    assert (got[1]["width"], got[1]["height"]) == (11, 9)
    assert got[2]["format"] == "image/jpeg" and got[2]["width"] is None
    assert got[3]["format"] == "unknown" and got[3]["width"] is None
    assert got[4]["format"] == "unknown"


def test_engine_image_dims_deep_routes_arrow_twin(spark, sf_dir):
    """The deep-header Arrow twin (r11 VERDICT ask #4) runs
    MapInPandas, and the bounded walk stays on the JVM."""
    from fastetl_spark.io.readers import read_table
    from fastetl_spark.operators.multimodal import (
        image_dims_info,
        image_dims_pandas,
        image_fixture_media,
    )

    media = image_fixture_media(
        read_table(spark, sf_dir, "documents").limit(64)
    )
    deep = image_dims_pandas(media)
    plan = deep._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    shallow = image_dims_info(media)
    assert "MapInPandas" not in (
        shallow._jdf.queryExecution().executedPlan().toString()
    )
