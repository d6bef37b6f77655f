"""Real image codecs (PNG/BMP) + the fused ImageDecodeRule.

The image column's decode path is REAL (stdlib zlib + numpy — no codec
library): these tests pin the codec contract (round-trip exactness over
every PNG filter type and color depth, BMP row padding, the stable
decode-error taxonomy) and the engine integration (one zero-copy
mapInArrow pass, payload column dropped, prescribed fixture violations
flagged exactly).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from use_case_real_time_anomaly_detection_spark.functions.multimodal import (
    _PNG_SIG,
    _png_chunk,
    bmp_decode,
    bmp_encode,
    check_image,
    image_features,
    png_decode,
    png_encode,
)
from use_case_real_time_anomaly_detection_spark.operators.compiler import compile_rules
from use_case_real_time_anomaly_detection_spark.operators.rules import ImageDecodeRule
from use_case_real_time_anomaly_detection_spark.sources.synth import (
    SynthSpec,
    image_violations_pandas,
    images_pandas,
)


def test_png_roundtrip_all_filters_and_depths():
    rng = np.random.default_rng(0)
    for c in (1, 2, 3, 4):  # gray / gray+alpha / RGB / RGBA
        img = rng.integers(0, 256, size=(12, 16, c), dtype=np.uint8)
        for ft in range(5):  # None / Sub / Up / Average / Paeth
            out = png_decode(png_encode(img, filter_type=ft))
            assert out.shape == img.shape
            assert (out == img).all(), (c, ft)


def test_png_palette_decode():
    rng = np.random.default_rng(1)
    pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, size=(5, 7), dtype=np.uint8)
    ihdr = struct.pack(">IIBBBBB", 7, 5, 8, 3, 0, 0, 0)
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(5))
    p = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", pal.tobytes())
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    assert (png_decode(p) == pal[idx]).all()


def test_bmp_roundtrip_row_padding():
    rng = np.random.default_rng(2)
    for w in (5, 6, 7, 8):  # every 4-byte-padding residue
        img = rng.integers(0, 256, size=(9, w, 3), dtype=np.uint8)
        assert (bmp_decode(bmp_encode(img)) == img).all(), w


def test_decode_error_taxonomy_is_stable():
    rng = np.random.default_rng(3)
    b = png_encode(rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8))
    assert check_image(b[: int(len(b) * 0.6)], "png")[1] == "truncated chunk"
    assert check_image(b"nope", "png")[1] == "bad png signature"
    corrupted = bytearray(b)
    corrupted[60] ^= 0xFF  # inside IDAT data -> CRC breaks
    assert check_image(bytes(corrupted), "png")[1].startswith("bad crc")
    assert check_image(b"nope", "bmp")[1] == "bad bmp signature"
    assert check_image(b, "jpeg")[1].startswith("jpeg decoding requires")
    assert check_image(b, "tiff")[1] == "no decoder for 'tiff'"
    assert check_image(None, "png")[1] == "null payload"


def test_mean_luma_is_bit_exact_roundtrip():
    # lossless codecs: decoded mean MUST equal the pre-encode mean
    # bit-for-bit (the oracle twin depends on this)
    rng = np.random.default_rng(4)
    img = rng.integers(0, 256, size=(12, 16, 3), dtype=np.uint8)
    assert float(png_decode(png_encode(img)).mean()) == float(img.mean())
    assert float(bmp_decode(bmp_encode(img)).mean()) == float(img.mean())


@pytest.fixture(scope="module")
def image_df(spark):
    spec = SynthSpec(partitions=2, clips_per_partition=60)
    pdf = images_pandas(spec)
    return spec, spark.createDataFrame(pdf)


def test_image_features_real_codecs(spark, image_df):
    spec, df = image_df
    got = {
        r.item_id: r
        for r in image_features(
            df, id_col="item_id", bytes_col="payload", codec_col="codec"
        ).collect()
    }
    from use_case_real_time_anomaly_detection_spark.sources.synth import (
        image_features_expected_pandas,
    )

    want = image_features_expected_pandas(spec)
    assert len(got) == len(want)
    for row in want.itertuples(index=False):
        g = got[row.item_id]
        if row.decode_error is None or row.decode_error is pd_na(row.decode_error):
            assert g.decode_error is None
            assert (g.width, g.height, g.channels) == (
                int(row.width), int(row.height), int(row.channels)
            )
            assert g.mean_luma == float(row.mean_luma)
        else:
            assert g.decode_error == row.decode_error


def pd_na(x):
    import pandas as pd

    return x is pd.NA or (isinstance(x, float) and np.isnan(x))


def test_image_decode_rule_fused_flags_prescribed_defects(spark, image_df):
    spec, df = image_df
    plan = compile_rules(
        df,
        [ImageDecodeRule(bytes_column="payload", width_column="width",
                         height_column="height")],
        key_col="item_id",
    )
    got = sorted(
        (r.partition_key, r.clip_id, r.detector, r.observed, r.note)
        for r in plan.violations.collect()
    )
    want = sorted(map(tuple, image_violations_pandas(spec).itertuples(index=False)))
    assert got == want
    assert len(got) > 0  # the fixture plants defects
    # the payload column is dropped by the fused pass: no pixel bytes
    # flow past the Arrow stage (narrow-rows contract, like audio)
    plan_str = plan.violations._jdf.queryExecution().executedPlan().toString()
    assert plan_str.count("MapInArrow") == 1


# ---------------------------------------------------------------- video/AVI


def test_avi_roundtrip_rgb_gray_and_padding():
    from use_case_real_time_anomaly_detection_spark.functions.multimodal import (
        avi_demux,
        avi_encode,
    )

    # odd width (17) exercises 4-byte DIB row padding
    frames = [
        ((np.arange(12 * 17 * 3).reshape(12, 17, 3) * (i + 3)) % 256).astype(
            np.uint8
        )
        for i in range(5)
    ]
    w, h, out = avi_demux(avi_encode(frames, fps=5))
    assert (w, h, len(out)) == (17, 12, 5)
    for a, b in zip(frames, out):
        assert np.array_equal(a, b)
    # gray broadcasts to 3 channels (bmp_encode's policy)
    g = [np.full((8, 8), 40 * i, np.uint8) for i in range(3)]
    _, _, out = avi_demux(avi_encode(g))
    assert np.array_equal(out[2], np.repeat(g[2][:, :, None], 3, axis=2))


def test_avi_error_taxonomy_is_stable():
    from use_case_real_time_anomaly_detection_spark.functions.multimodal import (
        avi_demux,
        avi_encode,
    )

    good = avi_encode([np.zeros((4, 4, 3), np.uint8)])
    with pytest.raises(ValueError, match="bad riff signature"):
        avi_demux(b"nope")
    with pytest.raises(ValueError, match="truncated avi chunk"):
        avi_demux(good[:40])
    with pytest.raises(ValueError, match="avi frame size mismatch"):
        # corrupt the '00db' chunk length: claim fewer payload bytes
        idx = good.index(b"00db")
        bad = bytearray(good)
        bad[idx + 4 : idx + 8] = (10).to_bytes(4, "little")
        avi_demux(bytes(bad))
    with pytest.raises(ValueError):
        avi_encode([])  # no frames
    with pytest.raises(ValueError):
        avi_encode([np.zeros((4, 4, 3), np.uint8),
                    np.zeros((5, 4, 3), np.uint8)])  # mixed shapes


def test_video_frames_operator_matches_python_twin(spark):
    from use_case_real_time_anomaly_detection_spark.functions.multimodal import (
        video_frames,
    )
    from use_case_real_time_anomaly_detection_spark.sources.synth import (
        SynthSpec,
        video_frames_expected_pandas,
        videos_pandas,
    )
    import hashlib

    spec = SynthSpec(partitions=2, clips_per_partition=60)
    vids = videos_pandas(spec)
    df = spark.createDataFrame(vids)
    out = video_frames(df, every_n=2).toPandas()
    exp = video_frames_expected_pandas(spec, every_n=2)
    # the fixture plants both defect kinds
    errs = set(exp["demux_error"].dropna())
    assert any("truncated" in e for e in errs)
    assert any("mp4" in e for e in errs)
    key = lambda d: d.sort_values(["item_id", "frame_idx"]).reset_index(drop=True)
    got, want = key(out), key(exp)
    assert len(got) == len(want) > 0
    for g, w in zip(got.itertuples(index=False), want.itertuples(index=False)):
        assert g.item_id == w.item_id and pd_eq(g.frame_idx, w.frame_idx)
        assert pd_eq(g.width, w.width) and pd_eq(g.height, w.height)
        assert pd_eq(g.mean_luma, w.mean_luma)
        got_md5 = None if g.frame is None else hashlib.md5(bytes(g.frame)).hexdigest()
        assert pd_eq(got_md5, w.frame_md5)
        assert pd_eq(g.demux_error, w.demux_error)


def pd_eq(a, b):
    def norm(x):
        import pandas as pd

        if x is None or x is pd.NA:
            return None
        if isinstance(x, float) and np.isnan(x):
            return None
        return x

    return norm(a) == norm(b)


def test_video_frames_compose_with_image_decoder(spark):
    """The sampled frame column IS an image column: bmp_decode reads it.
    A NULL payload yields one demux_error row, not a crashed job."""
    from pyspark.sql import functions as F

    from use_case_real_time_anomaly_detection_spark.functions.multimodal import (
        bmp_decode,
        video_frames,
    )
    from use_case_real_time_anomaly_detection_spark.sources.synth import (
        SynthSpec,
        video_pixels,
        videos_pandas,
    )

    spec = SynthSpec(partitions=1, clips_per_partition=9)
    df = spark.createDataFrame(videos_pandas(spec))
    null_row = df.limit(1).withColumns(
        {"item_id": F.lit("null-payload"), "payload": F.lit(None).cast("binary")}
    )
    out = video_frames(df.unionByName(null_row), every_n=3)
    nulls = out.filter("item_id = 'null-payload'").collect()
    assert [(r.frame_idx, r.frame, r.demux_error) for r in nulls] == [
        (None, None, "null payload")
    ]
    rows = out.filter("demux_error IS NULL").collect()
    assert rows
    for r in rows:
        img = bmp_decode(bytes(r.frame))
        seq = int(r.item_id.split("-")[1])
        assert np.array_equal(img, video_pixels(0, seq, r.frame_idx))


def test_video_decode_rule_fused_flags_prescribed_defects(spark):
    from use_case_real_time_anomaly_detection_spark.operators.config import (
        rules_from_config,
        rules_to_config,
    )
    from use_case_real_time_anomaly_detection_spark.operators.rules import (
        VideoDecodeRule,
    )
    from use_case_real_time_anomaly_detection_spark.sources.synth import (
        SynthSpec,
        video_violations_pandas,
        videos_pandas,
    )

    spec = SynthSpec(partitions=2, clips_per_partition=150)
    df = spark.createDataFrame(videos_pandas(spec))
    rule = VideoDecodeRule(bytes_column="payload")
    assert rules_from_config(rules_to_config([rule])) == [rule]
    plan = compile_rules(df, [rule], key_col="item_id")
    got = sorted(
        (r.partition_key, r.clip_id, r.detector, r.observed, r.note)
        for r in plan.violations.collect()
    )
    want = sorted(map(tuple, video_violations_pandas(spec).itertuples(index=False)))
    assert got == want
    assert len(got) > 0
    # every planted defect kind appears: demux failure (truncated),
    # unsupported codec (mp4), dims mismatch, frame-count mismatch
    notes = "\n".join(n for *_x, n in got)
    assert "truncated avi chunk" in notes
    assert "mp4 demuxing requires" in notes
    assert "decoded:16x12@6| declared:18x14@6" in notes
    assert "decoded:16x12@6| declared:16x12@7" in notes
    # ONE zero-copy Arrow pass; payload never flows past it
    plan_str = plan.violations._jdf.queryExecution().executedPlan().toString()
    assert plan_str.count("MapInArrow") == 1


# --------------------------------------------------------------- image dup


def test_image_dhash_and_banded_pairs(spark):
    from use_case_real_time_anomaly_detection_spark.functions.multimodal import (
        image_dhash,
        image_dhash_value,
        image_dup_pairs,
        IMAGE_DECODERS,
    )
    from use_case_real_time_anomaly_detection_spark.sources.synth import (
        SynthSpec,
        image_dup_corpus_pandas,
    )

    spec = SynthSpec(partitions=2, clips_per_partition=60)
    corpus = image_dup_corpus_pandas(spec)
    df = spark.createDataFrame(corpus)
    fps = image_dhash(df)
    got = {r["item_id"]: r["dhash"] for r in fps.collect()}
    # operator == kernel, per item
    for row in corpus.itertuples(index=False):
        img = IMAGE_DECODERS[row.codec](bytes(row.payload))
        assert got[row.item_id] == image_dhash_value(img)
    pairs = image_dup_pairs(fps, max_hamming=6).collect()
    by_pair = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    # every planted cross-codec re-encode pairs with its base at hamming 0
    re_ids = [i for i in got if i.endswith("~re")]
    assert re_ids
    for rid in re_ids:
        base = rid[: -len("~re")]
        assert by_pair[tuple(sorted((base, rid)))] == 0
    # every perturbed variant pairs with its base at small hamming
    v_ids = [i for i in got if i.endswith("~v")]
    assert v_ids
    for vid in v_ids:
        base = vid[: -len("~v")]
        assert by_pair[tuple(sorted((base, vid)))] <= 3
    # blocking is selective: pair count ~ planted count, not quadratic
    assert len(pairs) < len(got) * 2


def test_image_dup_pairs_recall_guarantee_and_validation(spark):
    """Pigeonhole: with 9 bands, any pair at hamming <= 8 MUST share a
    band — brute-force compare against the banded result."""
    import itertools

    from use_case_real_time_anomaly_detection_spark.functions.multimodal import (
        image_dup_pairs,
    )

    vals = [
        ("a", 0b101010),
        ("b", 0b101011),          # hamming 1 vs a
        ("c", 0b101010 ^ (0b1111111 << 14)),  # hamming 7 vs a
        ("d", (1 << 62) - 1),
    ]
    fps = spark.createDataFrame(vals, "item_id string, dhash long")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in image_dup_pairs(fps, max_hamming=8).collect()
    }
    want = {}
    for (ia, ha), (ib, hb) in itertools.combinations(vals, 2):
        hm = bin(ha ^ hb).count("1")
        if hm <= 8:
            want[tuple(sorted((ia, ib)))] = hm
    assert got == want
    with pytest.raises(ValueError, match="max_hamming"):
        image_dup_pairs(fps, max_hamming=9)  # beyond the recall guarantee


def test_image_dhash_decode_failure_degrades(spark):
    from use_case_real_time_anomaly_detection_spark.functions.multimodal import (
        image_dhash,
    )

    df = spark.createDataFrame(
        [("bad", b"not an image", "png"), ("unk", b"x", "tiff")],
        "item_id string, payload binary, codec string",
    )
    rows = {r["item_id"]: r for r in image_dhash(df).collect()}
    assert rows["bad"]["dhash"] is None and "png" in rows["bad"]["decode_error"]
    assert rows["unk"]["dhash"] is None and "tiff" in rows["unk"]["decode_error"]
