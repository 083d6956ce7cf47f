"""Multimodal column plumbing tests (decode kernel stubbed — the Spark-side
schema/batching/partitioning is what's under test)."""

import pytest
from pyspark.sql import Row

from glamr_omics_pipelines_spark.operators import multimodal


def _media(spark):
    rows = [
        Row(media_id=1, media_type="image", content=bytes([1, 2, 3, 4]),
            meta=Row(width=2, height=2, duration_ms=None, codec="png")),
        Row(media_id=2, media_type="image", content=bytes([9, 9, 9, 9]),
            meta=Row(width=2, height=2, duration_ms=None, codec="png")),
        Row(media_id=3, media_type="video", content=b"\x00",
            meta=Row(width=64, height=64, duration_ms=3500, codec="h264")),
    ]
    return spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)


def test_extract_image_features_stub(spark):
    df = _media(spark)
    out = multimodal.extract_image_features(df, feature_dim=4).collect()
    by_id = {r["media_id"]: r for r in out}
    assert len(by_id[1]["feature"]) == 4
    assert by_id[1]["decode_ok"] == "ok"
    # deterministic in content
    assert abs(sum(by_id[1]["feature"]) - 1.0) < 1e-6


def _pil_available() -> bool:
    try:
        import PIL  # noqa: F401
        return True
    except ImportError:
        return False


@pytest.mark.skipif(_pil_available(), reason="with PIL installed the real "
                    "path decodes instead of raising")
def test_extract_image_features_real_decode_raises(spark):
    df = _media(spark)
    with pytest.raises(Exception):
        multimodal.extract_image_features(df, stub=False).collect()


def test_sample_video_frames(spark):
    df = _media(spark)
    out = multimodal.sample_video_frames(df, every_ms=1000).collect()
    got = sorted(r["frame_ts_ms"] for r in out)
    assert got == [0, 1000, 2000, 3000]


def test_resize_images_stub_batch_shape(spark):
    from glamr_omics_pipelines_spark.operators import multimodal as M
    rows = [(1, bytearray(b"abcdef")), (2, None), (3, bytearray(b"x"))]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    out = {r.media_id: r for r in M.resize_images(df, 4, 2).collect()}
    assert len(out[1].content) == 8 and out[1].resize_ok == "ok"
    assert out[1].width == 4 and out[1].height == 2
    assert out[2].content is None and out[2].resize_ok == "null_content"
    assert out[3].content == b"x" * 8      # short blob cycled to target size


def test_extract_audio_windows_explodes_and_computes_rms(spark):
    rows = [
        Row(media_id=10, media_type="audio", content=bytes([3] * 5),
            meta=Row(width=None, height=None, duration_ms=5000, codec="wav")),
        Row(media_id=11, media_type="audio", content=None,
            meta=Row(width=None, height=None, duration_ms=0, codec="wav")),
        Row(media_id=12, media_type="image", content=bytes([1]),
            meta=Row(width=1, height=1, duration_ms=None, codec="png")),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = multimodal.extract_audio_windows(df, window_bytes=2).collect()
    by = {}
    for r in out:
        by.setdefault(r.media_id, []).append(r)
    # 5 bytes / window 2 -> windows 0,1,2 (sizes 2,2,1); constant byte 3 -> rms 3
    w10 = sorted(by[10], key=lambda r: r.window_idx)
    assert [r.window_idx for r in w10] == [0, 1, 2]
    assert all(abs(r.rms - 3.0) < 1e-12 for r in w10)
    assert by[11][0].decode_ok == "null_content" and by[11][0].rms is None
    assert 12 not in by  # non-audio rows filtered out


# ---------------------------------------------------------------------------
# Real-codec path (optional PIL): kernel-level tests with and without PIL.
# PIL is absent in this container, so the "with PIL" path is exercised by
# injecting a minimal fake module — it drives the exact code the real
# library would (convert/histogram/resize/tobytes), while the Spark-side
# plumbing is identical to the stub path already covered above.
# ---------------------------------------------------------------------------

import sys
import types

import numpy as np
import pandas as pd

from glamr_omics_pipelines_spark.operators.multimodal import (
    _fold_histogram, _import_pil_image)


class _KernelOf:
    """Stands in for a DataFrame: an operator called on it returns the
    (kernel, schema) pair it hands to ``mapInPandas``."""

    def filter(self, *_):
        return self

    select = filter

    def mapInPandas(self, fn, schema):
        return fn, schema


def _run_kernel(op, kwargs, contents):
    """Run operator ``op``'s kernel on one batch of blobs (media_id 1..n);
    returns (output frame, output schema)."""
    fn, schema = getattr(multimodal, op)(_KernelOf(), **kwargs)
    pdf = pd.DataFrame({"media_id": list(range(1, len(contents) + 1)),
                        "content": contents})
    (out,) = list(fn(iter([pdf])))
    return out, schema


@pytest.mark.skipif(_pil_available(), reason="absence test is meaningful "
                    "only when PIL is not installed")
def test_import_pil_raises_not_implemented_without_pil():
    assert "PIL" not in sys.modules
    with pytest.raises(NotImplementedError, match="PIL"):
        _import_pil_image()


class _FakeImg:
    def convert(self, mode):
        assert mode == "L"
        return self

    def __array__(self, dtype=None, copy=None):
        # 4x4 gray pixels: 12 black, 4 white
        return np.array([0] * 12 + [255] * 4, dtype=dtype).reshape(4, 4)


class _FakeImageMod:
    BILINEAR = 2  # PIL.Image.BILINEAR resampling constant

    @staticmethod
    def open(bio):
        if bio.read(4) != b"IMG!":
            raise ValueError("cannot identify image file")
        return _FakeImg()


def _with_fake_pil(fn):
    pil = types.ModuleType("PIL")
    pil.Image = _FakeImageMod
    sys.modules["PIL"] = pil
    sys.modules["PIL.Image"] = _FakeImageMod
    try:
        return fn()
    finally:
        sys.modules.pop("PIL", None)
        sys.modules.pop("PIL.Image", None)


def test_real_decode_kernel_with_pil_histogram_features():
    out, _ = _with_fake_pil(lambda: _run_kernel(
        "extract_image_features", {"feature_dim": 4, "stub": False},
        [b"IMG!....", b"garbage", None]))
    by_id = dict(zip(out["media_id"], zip(out["feature"], out["decode_ok"])))
    feat, ok = by_id[1]
    assert ok == "ok"
    # histogram 12@bin0 + 4@bin255 folded to dim 4: bin0->slot0, bin255->slot3
    assert feat == [12 / 16, 0.0, 0.0, 4 / 16]
    assert by_id[2] == (None, "decode_error")   # bad blob flags, no task death
    assert by_id[3] == (None, "null_content")


def test_fold_histogram_normalizes():
    assert _fold_histogram([1, 1, 1, 1, 4], 2) == [6 / 8, 2 / 8]


def test_stub_kernel_unchanged_by_real_path():
    # the oracle hashes the stub path — it must stay bit-identical
    out, _ = _run_kernel("extract_image_features", {"feature_dim": 4},
                         [bytes([1, 2, 3, 4])])
    assert out["feature"][0] == [0.1, 0.2, 0.3, 0.4]


# ---------------------------------------------------------------------------
# Real audio codec path: the stdlib wave module is always available, so
# unlike the image path this one runs the REAL decode end-to-end through
# Spark — WAV bytes in, per-window RMS of the actual PCM waveform out.
# ---------------------------------------------------------------------------

import io
import struct
import wave

from glamr_omics_pipelines_spark.operators.multimodal import _decode_wav_samples


def _wav_bytes(samples, sampwidth=2, nchannels=1, framerate=8000):
    """Build a RIFF/WAV blob from int samples via the same stdlib writer a
    producer would use. ``samples`` is flat frame-major for multi-channel."""
    bio = io.BytesIO()
    with wave.open(bio, "wb") as wf:
        wf.setnchannels(nchannels)
        wf.setsampwidth(sampwidth)
        wf.setframerate(framerate)
        if sampwidth == 1:
            payload = bytes(samples)
        elif sampwidth == 2:
            payload = struct.pack(f"<{len(samples)}h", *samples)
        elif sampwidth == 3:
            payload = b"".join(
                s.to_bytes(3, "little", signed=True) for s in samples)
        else:
            payload = struct.pack(f"<{len(samples)}i", *samples)
        wf.writeframes(payload)
    return bio.getvalue()


def test_decode_wav_samples_16bit_and_8bit_and_24bit():
    assert list(_decode_wav_samples(_wav_bytes([100, -200, 300]))) == [
        100.0, -200.0, 300.0]
    # 8-bit WAV is unsigned, centered at 128
    assert list(_decode_wav_samples(_wav_bytes([128, 0, 255], sampwidth=1))
                ) == [0.0, -128.0, 127.0]
    # 24-bit needs manual sign extension
    assert list(_decode_wav_samples(
        _wav_bytes([-70000, 70000], sampwidth=3))) == [-70000.0, 70000.0]


def test_decode_wav_samples_stereo_channel_average():
    # frame-major L,R pairs -> per-frame mean
    got = _decode_wav_samples(_wav_bytes([100, 300, -50, 50], nchannels=2))
    assert list(got) == [200.0, 0.0]


def test_extract_audio_windows_real_wav_end_to_end(spark):
    sine = [int(10000 * np.sin(2 * np.pi * i / 16)) for i in range(64)]
    rows = [
        Row(media_id=20, media_type="audio", content=_wav_bytes(sine),
            meta=Row(width=None, height=None, duration_ms=8, codec="wav")),
        Row(media_id=21, media_type="audio", content=b"not a wav file",
            meta=Row(width=None, height=None, duration_ms=0, codec="wav")),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = multimodal.extract_audio_windows(
        df, stub=False, window_samples=16).collect()
    by = {}
    for r in out:
        by.setdefault(r.media_id, []).append(r)
    w20 = sorted(by[20], key=lambda r: r.window_idx)
    assert [r.window_idx for r in w20] == [0, 1, 2, 3]
    arr = np.array(sine, dtype="f8")
    for r in w20:
        win = arr[r.window_idx * 16:(r.window_idx + 1) * 16]
        assert abs(r.rms - float((win * win).mean() ** 0.5)) < 1e-9
        assert r.decode_ok == "ok"
    # undecodable blob flags per-row, does not kill the task
    assert by[21][0].decode_ok == "decode_error" and by[21][0].rms is None


def test_audio_degenerate_rows_identical_on_both_paths(spark):
    # empty (non-null) content must yield one empty_content row on BOTH
    # paths — no silent row loss on stub, no decode_error mislabel on real
    empty_wav = _wav_bytes([])
    rows = [
        Row(media_id=30, media_type="audio", content=b"",
            meta=Row(width=None, height=None, duration_ms=0, codec="wav")),
        Row(media_id=31, media_type="audio", content=empty_wav,
            meta=Row(width=None, height=None, duration_ms=0, codec="wav")),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    stub_out = {r.media_id: r for r in
                multimodal.extract_audio_windows(df).collect()}
    real_out = {r.media_id: r for r in
                multimodal.extract_audio_windows(df, stub=False).collect()}
    assert stub_out[30].decode_ok == "empty_content"
    assert real_out[31].decode_ok == "empty_content"  # valid WAV, 0 frames
    # empty bytes are not a WAV container -> decode_error on the real path
    assert real_out[30].decode_ok == "decode_error"
    # a 0-frame WAV's raw container bytes ARE non-empty content to the stub
    assert stub_out[31].decode_ok == "ok"


def test_audio_window_param_mismatch_raises(spark):
    df = spark.createDataFrame([], multimodal.MEDIA_SCHEMA)
    with pytest.raises(ValueError, match="window_samples"):
        multimodal.extract_audio_windows(df, window_samples=8, stub=True)
    with pytest.raises(ValueError, match="window_bytes"):
        multimodal.extract_audio_windows(df, window_bytes=8, stub=False)


# ---------------------------------------------------------------------------
# Dependency-free image decode (netpbm / BMP): the image twin of the WAV
# path — the real (stub=False) pipeline is fully functional in a container
# with no PIL, end-to-end through Spark.

def _pgm(w, h, pixels, comment=False):
    """Binary P5 PGM from a row-major list of ints."""
    head = b"P5\n" + (b"# a comment\n" if comment else b"") + \
        f"{w} {h}\n255\n".encode()
    return head + bytes(pixels)


def _ppm(w, h, rgb_triples):
    head = f"P6 {w} {h} 255\n".encode()
    return head + bytes(v for t in rgb_triples for v in t)


def _bmp24(w, h, rows_top_down, top_down=False):
    """24-bit BI_RGB BMP from rows of (r, g, b) tuples given top-down."""
    stride = ((3 * w + 3) // 4) * 4
    raster = b""
    ordered = rows_top_down if top_down else rows_top_down[::-1]
    for row in ordered:
        line = bytes(v for (r, g, b) in row for v in (b, g, r))
        raster += line + b"\x00" * (stride - len(line))
    h_field = -h if top_down else h
    header = (b"BM" + (54 + len(raster)).to_bytes(4, "little") + b"\x00" * 4
              + (54).to_bytes(4, "little")
              + (40).to_bytes(4, "little")
              + w.to_bytes(4, "little", signed=True)
              + h_field.to_bytes(4, "little", signed=True)
              + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
              + (0).to_bytes(4, "little") + len(raster).to_bytes(4, "little")
              + b"\x00" * 16)
    return header + raster


def test_parse_netpbm_gray_and_rgb_and_comments():
    from glamr_omics_pipelines_spark.operators.multimodal import _parse_netpbm
    arr = _parse_netpbm(_pgm(3, 2, [0, 10, 20, 30, 40, 50], comment=True))
    assert arr.shape == (2, 3) and arr.tolist() == [[0, 10, 20], [30, 40, 50]]
    # pure red/green/blue through the 601-2 fixed-point luma (PIL's exact values)
    arr = _parse_netpbm(_ppm(3, 1, [(255, 0, 0), (0, 255, 0), (0, 0, 255)]))
    assert arr.tolist() == [[76, 150, 29]]
    assert _parse_netpbm(b"NOTP") is None
    with pytest.raises(ValueError):
        _parse_netpbm(_pgm(3, 2, [0, 10, 20]))   # truncated raster


def test_parse_bmp_bottom_up_equals_top_down():
    from glamr_omics_pipelines_spark.operators.multimodal import _parse_bmp
    rows = [[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (10, 10, 10)]]
    up = _parse_bmp(_bmp24(2, 2, rows, top_down=False))
    down = _parse_bmp(_bmp24(2, 2, rows, top_down=True))
    assert up.tolist() == down.tolist() == [[76, 150], [29, 10]]
    assert _parse_bmp(b"XXnot a bmp") is None
    with pytest.raises(ValueError):
        _parse_bmp(_bmp24(2, 2, rows)[:-3])      # truncated raster


def test_image_features_real_path_no_pil_end_to_end(spark):
    """stub=False image features through Spark with NO PIL: a PGM whose
    pixels are all 0 or 255 lands in histogram bins 0 and 255 exactly."""
    pgm = _pgm(4, 2, [0, 0, 0, 255, 255, 0, 0, 0])
    bad = _pgm(4, 2, [0, 0, 0])                  # truncated: decode_error row
    rows = [Row(media_id=1, media_type="image", content=pgm,
                meta=Row(width=4, height=2, duration_ms=None, codec="pgm")),
            Row(media_id=2, media_type="image", content=bad,
                meta=Row(width=4, height=2, duration_ms=None, codec="pgm"))]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = {r.media_id: r for r in
           multimodal.extract_image_features(df, feature_dim=4,
                                             stub=False).collect()}
    assert out[1].decode_ok == "ok"
    # 6 black pixels -> bin 0 -> slot 0; 2 white -> bin 255 -> 255 % 4 = slot 3
    assert out[1].feature == [6 / 8, 0.0, 0.0, 2 / 8]
    assert out[2].decode_ok == "decode_error" and out[2].feature is None


def test_resize_images_real_path_no_pil(spark):
    """stub=False resize through Spark with NO PIL: constant image stays
    constant at the target geometry; 2x upscale of a ramp stays bounded."""
    const = _pgm(4, 4, [40] * 16)
    ramp = _pgm(2, 1, [0, 100])
    rows = [(1, bytearray(const)), (2, bytearray(ramp))]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    out = {r.media_id: r for r in
           multimodal.resize_images(df, 2, 2, stub=False).collect()}
    assert out[1].resize_ok == "ok" and out[1].content == bytes([40] * 4)
    # pixel-center bilinear of [0, 100] at width 4: 0, 25, 75, 100
    out4 = {r.media_id: r for r in
            multimodal.resize_images(df, 4, 1, stub=False).collect()}
    assert list(out4[2].content) == [0, 25, 75, 100]


def test_bilinear_resize_identity():
    import numpy as np
    from glamr_omics_pipelines_spark.operators.multimodal import _bilinear_resize
    arr = np.arange(12, dtype="u1").reshape(3, 4)
    assert _bilinear_resize(arr, 4, 3).tolist() == arr.tolist()


# ---------------------------------------------------------------------------
# Dependency-free video decode (YUV4MPEG2): the video twin of netpbm/WAV —
# the real (stub=False) frame-sampling pipeline runs end-to-end with no codec.

def _y4m(w, h, frames, chroma=None):
    """Y4M stream from a list of per-frame luma byte lists; chroma planes
    (if the mode needs them) are zero-filled."""
    head = f"YUV4MPEG2 W{w} H{h} F25:1"
    factor = {None: 1.5, "420jpeg": 1.5, "422": 2.0, "444": 3.0,
              "mono": 1.0}[chroma]
    if chroma:
        head += f" C{chroma}"
    out = head.encode() + b"\n"
    for luma in frames:
        assert len(luma) == w * h
        pad = int(w * h * factor) - w * h
        out += b"FRAME\n" + bytes(luma) + b"\x00" * pad
    return out


def _video_df(spark, blobs):
    rows = [Row(media_id=i, media_type="video", content=b,
                meta=Row(width=None, height=None, duration_ms=None,
                         codec="y4m"))
            for i, b in enumerate(blobs)]
    return spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)


def test_parse_y4m_luma_frames_modes_and_errors():
    from glamr_omics_pipelines_spark.operators.multimodal import (
        _parse_y4m_luma_frames)
    two = _y4m(2, 2, [[0, 0, 255, 255], [7, 7, 7, 7]])
    frames = _parse_y4m_luma_frames(two)
    assert [i for i, _ in frames] == [0, 1]
    assert frames[0][1].tolist() == [[0, 0], [255, 255]]
    assert frames[1][1].tolist() == [[7, 7], [7, 7]]
    # 422/mono chroma modes parse; luma values identical
    for mode in ("422", "444", "mono"):
        fr = _parse_y4m_luma_frames(_y4m(2, 1, [[9, 10]], chroma=mode))
        assert fr[0][1].tolist() == [[9, 10]]
    assert _parse_y4m_luma_frames(b"not a y4m") is None
    with pytest.raises(ValueError):
        _parse_y4m_luma_frames(two[:-3])           # truncated last frame
    with pytest.raises(ValueError):
        _parse_y4m_luma_frames(
            _y4m(2, 1, [[1, 2]], chroma="422").replace(b"C422", b"Cxyz"))


def test_video_frame_features_real_path_no_codec(spark):
    """stub=False video features through Spark: black/white 2x2 frames land
    in histogram bins 0 and 255; every_n skips odd frames; a garbage blob
    flags decode_error."""
    good = _y4m(2, 2, [[0, 0, 255, 255], [7] * 4, [0] * 4])
    df = _video_df(spark, [good, b"garbage"])
    out = multimodal.extract_video_frame_features(
        df, every_n=2, feature_dim=4, stub=False).collect()
    by_key = {(r.media_id, r.frame_idx): r for r in out}
    assert set(by_key) == {(0, 0), (0, 2), (1, 0)}
    # frame 0: 2 px at bin 0 (slot 0), 2 px at bin 255 (255 % 4 = slot 3)
    assert by_key[(0, 0)].feature == [0.5, 0.0, 0.0, 0.5]
    # frame 2: all 4 px at bin 0
    assert by_key[(0, 2)].feature == [1.0, 0.0, 0.0, 0.0]
    assert by_key[(1, 0)].decode_ok == "decode_error"


def test_video_frame_features_stub_batch_shape(spark):
    df = _video_df(spark, [bytes([1] * 2048), None, b""])
    out = multimodal.extract_video_frame_features(df, feature_dim=4).collect()
    by_key = {(r.media_id, r.frame_idx): r for r in out}
    assert set(by_key) == {(0, 0), (0, 1), (1, 0), (2, 0)}
    assert by_key[(0, 0)].decode_ok == "ok"
    assert by_key[(1, 0)].decode_ok == "null_content"
    assert by_key[(2, 0)].decode_ok == "empty_content"
    with pytest.raises(ValueError):
        multimodal.extract_video_frame_features(df, every_n=0)


def test_parse_netpbm_crlf_header_rejected():
    """ADVICE r6: a CRLF-terminated header ('255\\r\\n' + raster) used to
    shift the raster one byte and return silently-corrupt pixels; now the
    separator is validated and the leftover byte fails the exact-size
    check."""
    from glamr_omics_pipelines_spark.operators.multimodal import _parse_netpbm
    crlf = b"P5\n2 2\n255\r\n" + bytes([10, 20, 30, 40])
    with pytest.raises(ValueError):
        _parse_netpbm(crlf)
    # non-whitespace separator also rejected
    with pytest.raises(ValueError):
        _parse_netpbm(b"P5\n2 2\n255X" + bytes([10, 20, 30, 40]))
    # benign trailing bytes after a COMPLETE raster stay accepted (some
    # writers append a final newline) — only the CRLF shift is an error
    arr = _parse_netpbm(b"P5\n2 2\n255\n" + bytes([10, 20, 30, 40]) + b"\n")
    assert arr.tolist() == [[10, 20], [30, 40]]
    # ADVICE r7: a spec-valid LONE-'\r' separator whose first raster byte
    # happens to be 0x0A is only rejected when the raster would fit flush
    # after skipping both bytes (the real-CRLF-writer signature); here the
    # raster fits flush after skipping ONE byte, so it decodes.
    lone_cr = b"P5\n2 2\n255\r" + bytes([10, 20, 30, 40])
    assert _parse_netpbm(lone_cr).tolist() == [[10, 20], [30, 40]]


# ---------------------------------------------------------------------------
# Dependency-free PNG decode (stdlib zlib + numpy): closes the dominant
# compressed-image gap — PIL is now needed only for jpeg.

def _png(w, h, pixels, color_type=0, filters=None, palette=None):
    """Minimal PNG encoder for tests: 8-bit, non-interlaced, one IDAT.
    `pixels` is a flat list (row-major, channels interleaved; palette
    indices for color_type 3); `filters` picks the filter TYPE byte per
    scanline (default all 0) and applies the matching forward filter so
    the decoder must invert it; `palette` is the list of (r, g, b)
    triples emitted as PLTE for color_type 3."""
    import struct
    import zlib
    ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    stride = w * ch
    filters = filters or [0] * h
    raw = bytearray()
    prev = [0] * stride
    for y in range(h):
        row = pixels[y * stride:(y + 1) * stride]
        ft = filters[y]
        raw.append(ft)
        filtered = []
        for x in range(stride):
            a = row[x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if x >= ch else 0
            if ft == 0:
                v = row[x]
            elif ft == 1:
                v = row[x] - a
            elif ft == 2:
                v = row[x] - b
            elif ft == 3:
                v = row[x] - ((a + b) >> 1)
            else:
                pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                pred = a if (pa <= pb and pa <= pc) else \
                    (b if pb <= pc else c)
                v = row[x] - pred
            filtered.append(v & 0xFF)
        raw.extend(filtered)
        prev = row

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    plte = (chunk(b"PLTE", bytes(v for t in palette for v in t))
            if palette is not None else b"")
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + plte
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))


def test_parse_png_gray_all_filter_types():
    from glamr_omics_pipelines_spark.operators.multimodal import _parse_png
    import random
    rng = random.Random(3)
    w, h = 7, 5
    pix = [rng.randrange(256) for _ in range(w * h)]
    for filters in ([0] * h, [1] * h, [2] * h, [3] * h, [4] * h,
                    [0, 1, 2, 3, 4]):
        arr = _parse_png(_png(w, h, pix, filters=filters))
        assert arr.reshape(-1).tolist() == pix, filters


def test_parse_png_rgb_rgba_gray_alpha_match_luma():
    from glamr_omics_pipelines_spark.operators.multimodal import (
        _parse_netpbm, _parse_png)
    # RGB png == the same pixels through the P6 luma path
    rgb = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (10, 20, 30)]
    flat = [v for t in rgb for v in t]
    png_arr = _parse_png(_png(4, 1, flat, color_type=2, filters=[4]))
    ppm_arr = _parse_netpbm(_ppm(4, 1, rgb))
    assert png_arr.tolist() == ppm_arr.tolist()
    # RGBA: alpha ignored
    flat_a = [v for t in rgb for v in (*t, 128)]
    assert _parse_png(_png(4, 1, flat_a, color_type=6,
                           filters=[1])).tolist() == ppm_arr.tolist()
    # gray+alpha: luma channel only
    ga = [50, 0, 60, 255, 70, 10]
    assert _parse_png(_png(3, 1, ga, color_type=4)).tolist() == [[50, 60, 70]]


def test_parse_png_rejects_unsupported_and_truncated():
    from glamr_omics_pipelines_spark.operators.multimodal import _parse_png
    import pytest as _pytest
    ok = _png(2, 2, [1, 2, 3, 4])
    assert _parse_png(b"notapng") is None
    with _pytest.raises(ValueError):
        _parse_png(ok[:30])                 # truncated chunk
    import struct, zlib
    # r8: every valid PNG variant now decodes; a 16-bit header with a
    # TRUNCATED zlib stream is CORRUPT -> raises (inflate failure)
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
    deep = (b"\x89PNG\r\n\x1a\n"
            + struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr + b"\0\0\0\0"
            + struct.pack(">I", 1) + b"IDAT" + zlib.compress(b"x")[:1]
            + b"\0\0\0\0")
    with _pytest.raises(ValueError):
        _parse_png(deep)
    # invalid color/depth combination (RGB at depth 4) is CORRUPT
    ihdr_bad = struct.pack(">IIBBBBB", 2, 2, 4, 2, 0, 0, 0)
    bad = (b"\x89PNG\r\n\x1a\n"
           + struct.pack(">I", len(ihdr_bad)) + b"IHDR" + ihdr_bad
           + b"\0\0\0\0"
           + struct.pack(">I", 1) + b"IDAT" + zlib.compress(b"x")[:1]
           + b"\0\0\0\0")
    with _pytest.raises(ValueError):
        _parse_png(bad)
    # 8-bit palette WITHOUT a PLTE chunk is CORRUPT per RFC 2083 -> raises
    ihdr_p8 = struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0)
    raw = zlib.compress(bytes([0, 0]))  # filter byte + one index
    nop = (b"\x89PNG\r\n\x1a\n"
           + struct.pack(">I", len(ihdr_p8)) + b"IHDR" + ihdr_p8
           + b"\0\0\0\0"
           + struct.pack(">I", len(raw)) + b"IDAT" + raw + b"\0\0\0\0")
    with _pytest.raises(ValueError):
        _parse_png(nop)


def test_parse_png_palette_decodes_via_plte_lookup():
    """VERDICT r7 #3: 8-bit palette PNG decodes natively — index → PLTE
    RGB → the same 601-2 luma as every other decoder — under every
    filter type; an out-of-range index is CORRUPT and raises."""
    from glamr_omics_pipelines_spark.operators.multimodal import (
        _parse_netpbm, _parse_png)
    import pytest as _pytest
    palette = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (10, 20, 30)]
    idx = [0, 1, 2, 3, 3, 2, 1, 0]
    for ft in (0, 1, 2, 3, 4):
        got = _parse_png(_png(4, 2, idx, color_type=3, filters=[ft] * 2,
                              palette=palette))
        # identical RGB content through the netpbm luma path
        rgb = [palette[i] for i in idx]
        want = _parse_netpbm(f"P6 4 2 255\n".encode()
                             + bytes(v for t in rgb for v in t))
        assert got.tolist() == want.tolist(), ft
    # index 7 with a 4-entry palette: corrupt
    with _pytest.raises(ValueError):
        _parse_png(_png(1, 1, [7], color_type=3, palette=palette))


def test_image_features_real_path_png_end_to_end(spark):
    """stub=False image features on PNG blobs with NO PIL in the
    container (VERDICT r6 #5 done-criterion)."""
    png = _png(4, 2, [0, 0, 0, 255, 255, 0, 0, 0], filters=[4, 2])
    rows = [Row(media_id=1, media_type="image", content=png,
                meta=Row(width=4, height=2, duration_ms=None, codec="png"))]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = multimodal.extract_image_features(df, feature_dim=4,
                                            stub=False).collect()[0]
    assert out.decode_ok == "ok"
    assert out.feature == [6 / 8, 0.0, 0.0, 2 / 8]


def _g711_wav(payload: bytes, fmt: int, nch: int = 1) -> bytes:
    """Minimal RIFF/WAVE wrapper for a G.711 payload (fmt 6=A-law, 7=ulaw)."""
    import struct
    fmt_body = struct.pack("<HHIIHH", fmt, nch, 8000, 8000 * nch, nch, 8)
    chunks = (b"fmt " + struct.pack("<I", len(fmt_body)) + fmt_body
              + b"data" + struct.pack("<I", len(payload)) + payload)
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_g711_luts_reference_values():
    from glamr_omics_pipelines_spark.operators.multimodal import _g711_luts
    ulaw, alaw = _g711_luts()
    # CCITT reference points: mu-law 0xFF is digital zero, 0x00 is the
    # negative peak -32124, 0x80 the positive peak +32124
    assert ulaw[0xFF] == 0 and ulaw[0x00] == -32124 and ulaw[0x80] == 32124
    # A-law (after the 0x55 toggle, sign bit SET means positive): 0x55
    # decodes to -8, 0xD5 to +8 (no true zero), 0xFF to +848, peaks
    # +-32256 at bytes 0xAA/0x2A
    assert alaw[0x55] == -8 and alaw[0xD5] == 8 and alaw[0xFF] == 848
    assert alaw[0xAA] == 32256 and alaw[0x2A] == -32256
    # mirror symmetry of both tables
    assert all(ulaw[i] == -ulaw[i ^ 0x80] for i in range(256))
    assert all(alaw[i] == -alaw[i ^ 0x80] for i in range(256))


def test_decode_wav_samples_g711_mono_and_stereo():
    from glamr_omics_pipelines_spark.operators.multimodal import (
        _decode_wav_samples)
    # mu-law: constant digital-zero payload decodes to silence
    out = _decode_wav_samples(_g711_wav(bytes([0xFF] * 16), fmt=7))
    assert out.tolist() == [0.0] * 16
    # A-law stereo: channels (+8, -8) average to 0
    out = _decode_wav_samples(_g711_wav(bytes([0x55, 0xD5] * 8), fmt=6,
                                        nch=2))
    assert out.tolist() == [0.0] * 8
    # mu-law peak alternation: |sample| == 32124
    out = _decode_wav_samples(_g711_wav(bytes([0x00, 0x80] * 4), fmt=7))
    assert [abs(v) for v in out.tolist()] == [32124.0] * 8


def test_extract_audio_windows_g711_end_to_end(spark):
    """stub=False audio windows on a mu-law WAV: constant-amplitude
    payload gives a constant RMS window."""
    blob = _g711_wav(bytes([0x80] * 2048), fmt=7)   # +32124 constant
    rows = [Row(media_id=1, media_type="audio", content=blob,
                meta=Row(width=None, height=None, duration_ms=256,
                         codec="ulaw"))]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = multimodal.extract_audio_windows(df, stub=False,
                                           window_samples=1024).collect()
    assert len(out) == 2
    assert all(r.decode_ok == "ok" for r in out)
    assert all(abs(r.rms - 32124.0) < 1e-6 for r in out)


def _png_ex(w, h, samples, color_type=0, bit_depth=8, interlace=0,
            palette=None, filters=None):
    """General PNG encoder for tests: any valid depth (1/2/4/8/16),
    palette, Adam7 interlace. `samples` is a flat row-major list of
    sample values (channels interleaved; palette indices for color 3).
    Filtering happens in the BYTE domain with the spec's bpp, matching
    the decoder's inverse; `filters` picks the type per scanline
    (cycled across all passes, default all 0)."""
    import struct
    import zlib
    ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    grid = [[samples[(y * w + x) * ch:(y * w + x) * ch + ch]
             for x in range(w)] for y in range(h)]
    passes = ([(0, 0, 1, 1)] if interlace == 0 else
              [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
               (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)])
    filters = filters or [0]
    raw = bytearray()
    row_no = 0
    for x0, y0, xs, ys in passes:
        pw = (w - x0 + xs - 1) // xs
        ph = (h - y0 + ys - 1) // ys
        if pw == 0 or ph == 0:
            continue
        bpp = max(1, (bit_depth * ch + 7) // 8)
        stride = (pw * ch * bit_depth + 7) // 8
        prev = [0] * stride
        for py in range(ph):
            pix = [grid[y0 + py * ys][x0 + px * xs] for px in range(pw)]
            flat = [v for p in pix for v in p]
            if bit_depth == 16:
                rb = b"".join(struct.pack(">H", v) for v in flat)
            elif bit_depth == 8:
                rb = bytes(flat)
            else:
                bits = "".join(format(v, f"0{bit_depth}b") for v in flat)
                bits += "0" * (-len(bits) % 8)
                rb = bytes(int(bits[i:i + 8], 2)
                           for i in range(0, len(bits), 8))
            ft = filters[row_no % len(filters)]
            row_no += 1
            raw.append(ft)
            out_row = []
            for x in range(stride):
                a = rb[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                if ft == 0:
                    v = rb[x]
                elif ft == 1:
                    v = rb[x] - a
                elif ft == 2:
                    v = rb[x] - b
                elif ft == 3:
                    v = rb[x] - ((a + b) >> 1)
                else:
                    pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                    pred = a if (pa <= pb and pa <= pc) else \
                        (b if pb <= pc else c)
                    v = rb[x] - pred
                out_row.append(v & 0xFF)
            raw.extend(out_row)
            prev = list(rb)

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))

    ihdr = struct.pack(">IIBBBBB", w, h, bit_depth, color_type, 0, 0,
                       interlace)
    plte = (chunk(b"PLTE", bytes(v for t in palette for v in t))
            if palette is not None else b"")
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + plte
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))


def test_parse_png_16bit_high_byte():
    """16-bit gray and RGB reduce to the high byte per channel (PIL's
    I;16→L convention), under every filter type (byte-domain bpp)."""
    from glamr_omics_pipelines_spark.operators.multimodal import (
        _parse_netpbm, _parse_png)
    vals16 = [0x1234, 0xFF00, 0x00FF, 0x8080, 0xABCD, 0x0000]
    for ft in (0, 1, 2, 3, 4):
        arr = _parse_png(_png_ex(3, 2, vals16, bit_depth=16,
                                 filters=[ft]))
        assert arr.reshape(-1).tolist() == [v >> 8 for v in vals16], ft
    # RGB 16-bit == 8-bit high bytes through the netpbm luma path
    rgb16 = [0xFF00, 0x0100, 0x00FF, 0x1234, 0xABCD, 0x8001]
    arr = _parse_png(_png_ex(2, 1, rgb16, color_type=2, bit_depth=16,
                             filters=[4]))
    want = _parse_netpbm(b"P6 2 1 255\n" + bytes(v >> 8 for v in rgb16))
    assert arr.tolist() == want.tolist()


def test_parse_png_sub8bit_gray_and_palette():
    from glamr_omics_pipelines_spark.operators.multimodal import (
        _parse_netpbm, _parse_png)
    # 1-bit gray: 0 -> 0, 1 -> 255 (spec display scaling); width 10 pads
    bits = [0, 1, 1, 0, 1, 0, 0, 1, 1, 1]
    arr = _parse_png(_png_ex(10, 1, bits, bit_depth=1))
    assert arr.reshape(-1).tolist() == [v * 255 for v in bits]
    # 2-bit gray: x * 85
    vals = [0, 1, 2, 3, 3, 0]
    arr = _parse_png(_png_ex(3, 2, vals, bit_depth=2))
    assert arr.reshape(-1).tolist() == [v * 85 for v in vals]
    # 4-bit palette == expanded-RGB luma
    palette = [(i * 16, 255 - i * 16, i * 8) for i in range(16)]
    idx = [0, 15, 7, 3, 12, 1, 9, 14, 2]
    arr = _parse_png(_png_ex(3, 3, idx, color_type=3, bit_depth=4,
                             palette=palette))
    rgb = [palette[i] for i in idx]
    want = _parse_netpbm(b"P6 3 3 255\n" + bytes(v for t in rgb for v in t))
    assert arr.tolist() == want.tolist()


def test_parse_png_adam7_interlaced():
    """Adam7 decode == non-interlaced decode of the same pixels, across
    depths/color types and geometries that exercise empty passes."""
    from glamr_omics_pipelines_spark.operators.multimodal import _parse_png
    import random
    rng = random.Random(9)
    for w, h, ct, depth in [(11, 7, 0, 8), (8, 8, 2, 8), (3, 2, 0, 8),
                            (1, 1, 0, 8), (5, 9, 6, 8), (11, 7, 0, 16),
                            (9, 5, 3, 8), (10, 3, 0, 1)]:
        ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ct]
        hi = (1 << depth) - 1 if ct != 3 else 15
        pal = ([(rng.randrange(256), rng.randrange(256), rng.randrange(256))
                for _ in range(16)] if ct == 3 else None)
        samples = [rng.randint(0, hi) for _ in range(w * h * ch)]
        plain = _parse_png(_png_ex(w, h, samples, color_type=ct,
                                   bit_depth=depth, palette=pal,
                                   filters=[0, 1, 2, 3, 4]))
        inter = _parse_png(_png_ex(w, h, samples, color_type=ct,
                                   bit_depth=depth, interlace=1,
                                   palette=pal, filters=[0, 1, 2, 3, 4]))
        assert inter.tolist() == plain.tolist(), (w, h, ct, depth)


def _gif(w, h, indices, palette, min_code_size=None, interlace=False,
         left=0, top=0, screen=None, bg=0, extension=True):
    """Minimal GIF89a encoder for tests: real variable-width LZW
    (giflib-aligned width-bump timing: the check uses the next assignable
    code BEFORE the insert), optional interlacing, frame offsets and a
    global color table. `indices` is row-major for the frame."""
    import struct
    sw, sh = screen or (w, h)
    ncol = max(2, len(palette))
    bits = max(1, (ncol - 1).bit_length())
    ncol = 1 << bits
    mcs = min_code_size if min_code_size is not None else max(2, bits)
    clear, end = 1 << mcs, (1 << mcs) + 1

    out_bytes = bytearray()
    acc = [0, 0]                      # accumulator, nbits

    def put(code, width):
        acc[0] |= code << acc[1]
        acc[1] += width
        while acc[1] >= 8:
            out_bytes.append(acc[0] & 0xFF)
            acc[0] >>= 8
            acc[1] -= 8

    width = mcs + 1
    next_code = end + 1
    table = {bytes([i]): i for i in range(1 << mcs)}

    def emit(code):
        nonlocal width
        put(code, width)
        if next_code >= (1 << width) and width < 12:
            width += 1

    rows = [indices[y * w:(y + 1) * w] for y in range(h)]
    if interlace:
        order = ([y for y in range(0, h, 8)] + [y for y in range(4, h, 8)]
                 + [y for y in range(2, h, 4)] + [y for y in range(1, h, 2)])
        rows = [rows[y] for y in order]
    stream = [px for row in rows for px in row]

    emit(clear)
    cur = b""
    for px in stream:
        nxt = cur + bytes([px])
        if nxt in table:
            cur = nxt
            continue
        emit(table[cur])
        if next_code < 4096:
            table[nxt] = next_code
            next_code += 1
        else:                         # dictionary full: hard clear
            emit(clear)
            width = mcs + 1
            next_code = end + 1
            table = {bytes([i]): i for i in range(1 << mcs)}
        cur = bytes([px])
    if cur:
        emit(table[cur])
    emit(end)
    if acc[1]:
        out_bytes.append(acc[0] & 0xFF)

    gct = b"".join(bytes(c) for c in palette)
    gct += b"\x00" * (3 * ncol - len(gct))
    hdr = (b"GIF89a" + struct.pack("<HHBBB", sw, sh,
                                   0x80 | (bits - 1), bg, 0) + gct)
    ext = b"\x21\xf9\x04\x00\x00\x00\x00\x00" if extension else b""
    desc = b"\x2c" + struct.pack("<HHHHB", left, top, w, h,
                                 0x40 if interlace else 0)
    data = bytes([mcs])
    for i in range(0, len(out_bytes), 255):
        chunk = bytes(out_bytes[i:i + 255])
        data += bytes([len(chunk)]) + chunk
    data += b"\x00"
    return hdr + ext + desc + data + b"\x3b"


def test_parse_gif_canonical_1x1():
    """The classic 1x1 transparent-pixel GIF (a well-known external byte
    string, NOT produced by our encoder) must decode — cross-validates
    the LZW reader against a real-world writer."""
    from glamr_omics_pipelines_spark.operators.multimodal import _parse_gif
    blob = (b"GIF89a\x01\x00\x01\x00\x80\x00\x00\x00\x00\x00\xff\xff\xff"
            b"!\xf9\x04\x01\x00\x00\x00\x00"
            b",\x00\x00\x00\x00\x01\x00\x01\x00\x00\x02\x02D\x01\x00;")
    arr = _parse_gif(blob)
    assert arr.shape == (1, 1) and arr[0, 0] == 0   # palette[0] = black


def test_parse_gif_roundtrip_palette_luma():
    from glamr_omics_pipelines_spark.operators.multimodal import (
        _parse_gif, _parse_netpbm)
    import random
    rng = random.Random(11)
    palette = [(rng.randrange(256), rng.randrange(256), rng.randrange(256))
               for _ in range(256)]
    w, h = 37, 23
    idx = [rng.randrange(256) for _ in range(w * h)]  # forces width growth
    arr = _parse_gif(_gif(w, h, idx, palette))
    rgb = [palette[i] for i in idx]
    want = _parse_netpbm(f"P6 {w} {h} 255\n".encode()
                         + bytes(v for t in rgb for v in t))
    assert arr.tolist() == want.tolist()
    # interlaced form decodes to the same pixels
    inter = _parse_gif(_gif(w, h, idx, palette, interlace=True))
    assert inter.tolist() == want.tolist()


def test_parse_gif_frame_offset_and_background():
    from glamr_omics_pipelines_spark.operators.multimodal import _parse_gif
    palette = [(0, 0, 0), (255, 255, 255), (255, 0, 0), (0, 255, 0)]
    blob = _gif(2, 1, [1, 1], palette, screen=(4, 3), left=1, top=1, bg=0)
    arr = _parse_gif(blob)
    assert arr.shape == (3, 4)
    assert arr[1, 1] == 255 and arr[1, 2] == 255     # the frame
    assert arr[0, 0] == 0 and arr[2, 3] == 0         # background color 0


def test_parse_gif_corrupt_and_non_gif():
    from glamr_omics_pipelines_spark.operators.multimodal import _parse_gif
    import pytest as _pytest
    assert _parse_gif(b"notagif") is None
    palette = [(0, 0, 0), (255, 255, 255)]
    good = _gif(3, 2, [0, 1, 0, 1, 0, 1], palette)
    with _pytest.raises(ValueError):
        _parse_gif(good[:20])                        # truncated
    with _pytest.raises(ValueError):
        _parse_gif(good[:-10] + b"\x3b")             # mangled stream
    # frame escaping the logical screen is corrupt
    with _pytest.raises(ValueError):
        _parse_gif(_gif(3, 2, [0, 1, 0, 1, 0, 1], palette,
                        screen=(2, 2)))


def _ima_encode(samples, nch=1, spb=8):
    """In-test IMA ADPCM encoder (independent direction of the decoder's
    tables): per block per channel, header = first sample + running step
    index, then nibbles chosen by the standard quantizer. `spb` = data
    samples per block AFTER the header sample (multiple of 8)."""
    import struct
    from glamr_omics_pipelines_spark.operators.multimodal import (
        _IMA_INDEX, _IMA_STEPS)
    chans = [samples[c::nch] for c in range(nch)]
    n = min(len(c) for c in chans)
    idxs = [0] * nch
    out = bytearray()
    pos = 0
    while pos < n:
        payload = [bytearray() for _ in range(nch)]
        preds = []
        for c in range(nch):
            preds.append(chans[c][pos])
            out += struct.pack("<hBB", chans[c][pos], idxs[c], 0)
        for s in range(1, spb + 1):
            for c in range(nch):
                want = chans[c][pos + s] if pos + s < n else preds[c]
                step = _IMA_STEPS[idxs[c]]
                delta = want - preds[c]
                nib = 8 if delta < 0 else 0
                delta = abs(delta)
                if delta >= step:
                    nib |= 4
                    delta -= step
                if delta >= step >> 1:
                    nib |= 2
                    delta -= step >> 1
                if delta >= step >> 2:
                    nib |= 1
                # run the DECODER update so encoder state tracks exactly
                from glamr_omics_pipelines_spark.operators.multimodal \
                    import _ima_step
                preds[c], idxs[c] = _ima_step(nib, preds[c], idxs[c])
                payload[c].append(nib)
        for c in range(nch):            # pack nibbles into 4-byte groups
            pb = bytearray()
            for i in range(0, len(payload[c]), 2):
                pb.append(payload[c][i] | (payload[c][i + 1] << 4))
            payload[c] = pb
        for g in range(0, spb // 2, 4):
            for c in range(nch):
                out += bytes(payload[c][g:g + 4])
        pos += spb + 1
    block_align = 4 * nch + (spb // 2) * nch
    return bytes(out), block_align


def _ima_wav(samples, nch=1, spb=8):
    import struct
    data, block_align = _ima_encode(samples, nch=nch, spb=spb)
    fmt_body = struct.pack("<HHIIHHH", 0x11, nch, 8000,
                           8000 * block_align // (spb + 1), block_align,
                           4, spb + 1)
    chunks = (b"fmt " + struct.pack("<I", len(fmt_body)) + fmt_body
              + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_ima_adpcm_decodes_and_tracks_waveform():
    from glamr_omics_pipelines_spark.operators.multimodal import (
        _decode_wav_samples)
    import math
    # a cosine starts at zero slope, so the adaptive quantizer ramps with
    # the signal instead of chasing a max-slope start (ADPCM's startup
    # transient from step index 0 is real, not a decoder bug)
    wave_s = [int(8000 * math.cos(2 * math.pi * i / 64)) for i in range(129)]
    out = _decode_wav_samples(_ima_wav(wave_s, spb=16))
    n = min(len(out), len(wave_s))
    err = max(abs(float(out[i]) - wave_s[i]) for i in range(n))
    assert err < 2000, err                 # tracks within quantizer bound
    # first sample of each block is the header predictor, bit-exact
    assert out[0] == wave_s[0]


def test_ima_adpcm_stereo_interleave_and_errors():
    from glamr_omics_pipelines_spark.operators.multimodal import (
        _decode_wav_samples)
    import pytest as _pytest
    # constant channels: L=1000, R=-2000 -> mean stays (1000-2000)/2
    inter = [1000, -2000] * 40
    out = _decode_wav_samples(_ima_wav(inter, nch=2, spb=8))
    assert abs(float(out[0]) - (-500.0)) < 1.0
    assert max(abs(float(v) + 500.0) for v in out) < 60.0
    # corrupt: step index > 88 raises
    blob = bytearray(_ima_wav([0] * 17, spb=16))
    hdr_off = blob.find(b"data") + 8
    blob[hdr_off + 2] = 99
    with _pytest.raises(ValueError):
        _decode_wav_samples(bytes(blob))


def test_r8_review_regressions():
    """Code-review findings, pinned: (1) CRLF header + trailing bytes
    must be rejected, not decoded shifted; (2) interlaced zero-dimension
    and giant-IHDR PNGs raise ValueError (never MemoryError / empty-'ok'
    arrays); (3) 4-component (CMYK) JPEG frames fall through to PIL
    rather than returning Cyan as luma."""
    import struct
    import zlib
    import pytest as _pytest
    from glamr_omics_pipelines_spark.operators._jpeg import decode_jpeg_luma
    from glamr_omics_pipelines_spark.operators.multimodal import (
        _parse_netpbm, _parse_png)
    # (1) CRLF writer that appends a final newline: both bytes CRLF'd
    crlf_trailing = b"P5\n2 2\n255\r\n" + bytes([10, 20, 30, 40]) + b"\r\n"
    with _pytest.raises(ValueError):
        _parse_netpbm(crlf_trailing)
    # lone-'\r' with the raster fitting ONLY under the one-byte skip
    # stays accepted (the ADVICE r7 case)
    lone = _parse_netpbm(b"P5\n2 2\n255\r" + bytes([10, 20, 30, 40]))
    assert lone.tolist() == [[10, 20], [30, 40]]

    def png_hdr(w, h, interlace):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, interlace)
        raw = zlib.compress(b"\x00" * 5)

        def chunk(ctype, data):
            return (struct.pack(">I", len(data)) + ctype + data
                    + struct.pack(">I", zlib.crc32(ctype + data)))
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", raw) + chunk(b"IEND", b""))
    # (2) zero-height interlaced == zero-height plain: both raise
    for interlace in (0, 1):
        with _pytest.raises(ValueError):
            _parse_png(png_hdr(4, 0, interlace))
    # giant interlaced dimensions: ValueError BEFORE any allocation
    with _pytest.raises(ValueError):
        _parse_png(png_hdr(2 ** 31, 2 ** 31, 1))
    # (3) 4-component CMYK frames: baseline and progressive -> None
    for sof_marker in (0xC0, 0xC2):
        comps = b"".join(bytes([cid, 0x11, 0]) for cid in (1, 2, 3, 4))
        sof_body = bytes([8]) + struct.pack(">HH", 8, 8) + bytes([4]) + comps
        blob = (b"\xff\xd8"
                + bytes([0xFF, sof_marker])
                + struct.pack(">H", 2 + len(sof_body)) + sof_body
                + b"\xff\xd9")
        assert decode_jpeg_luma(blob) is None, hex(sof_marker)


def _avi_mjpeg(jpeg_frames, junk_stream=False):
    """Minimal MJPEG AVI for tests: RIFF/AVI with a LIST movi of 00dc
    chunks (plus optional 01dc chunks from a second stream that the
    decoder must ignore)."""
    import struct

    def chunk(cid, body):
        pad = b"\x00" if len(body) % 2 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    movi_body = b"movi"
    for i, f in enumerate(jpeg_frames):
        movi_body += chunk(b"00dc", f)
        if junk_stream:
            movi_body += chunk(b"01dc", b"\xff\xd8junk-not-decoded")
    movi = chunk(b"LIST", movi_body)
    hdrl = chunk(b"LIST", b"hdrl" + chunk(b"avih", b"\x00" * 56))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_avi_mjpeg_frames_decode_through_jpeg_path(spark):
    """Compressed video, real path: MJPEG AVI frames decode through the
    shared JPEG luma decoder; per-frame features equal the image path's
    features on the same JPEG blobs; every_n sampling holds."""
    from tests.test_jpeg import _encode_jpeg
    from glamr_omics_pipelines_spark.operators.multimodal import (
        _parse_avi_mjpeg_frames)
    imgs = []
    for fill in (0, 128, 255):
        img = np.full((8, 8), fill, dtype=np.uint8)
        imgs.append(_encode_jpeg(img))
    avi = _avi_mjpeg(imgs, junk_stream=True)
    frames = _parse_avi_mjpeg_frames(avi)
    assert [i for i, _ in frames] == [0, 1, 2]   # second stream ignored
    from glamr_omics_pipelines_spark.operators._jpeg import decode_jpeg_luma
    for (idx, luma), blob in zip(frames, imgs):
        assert luma.tolist() == decode_jpeg_luma(blob).tolist()
    rows = [Row(media_id=7, media_type="video", content=avi,
                meta=Row(width=8, height=8, duration_ms=300, codec="mjpeg"))]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = multimodal.extract_video_frame_features(
        df, every_n=2, feature_dim=4, stub=False).collect()
    got = {r.frame_idx: r for r in out}
    assert sorted(got) == [0, 2] and all(r.decode_ok == "ok"
                                         for r in got.values())
    # frame 0 is all-black (DCT-exact for a constant plane): bin 0 only
    assert got[0].feature[0] == pytest.approx(1.0)


def test_avi_mjpeg_corrupt_and_foreign():
    from glamr_omics_pipelines_spark.operators.multimodal import (
        _parse_avi_mjpeg_frames)
    assert _parse_avi_mjpeg_frames(b"notanavi") is None
    from tests.test_jpeg import _encode_jpeg
    img = _encode_jpeg(np.zeros((8, 8), dtype=np.uint8))
    good = _avi_mjpeg([img])
    with pytest.raises(ValueError):
        _parse_avi_mjpeg_frames(good[:30])           # truncated chunk
    with pytest.raises(ValueError):                  # non-JPEG payload
        _parse_avi_mjpeg_frames(_avi_mjpeg([b"h264-nal-units"]))
    with pytest.raises(ValueError):                  # no frames at all
        _parse_avi_mjpeg_frames(_avi_mjpeg([]))


def test_avi_deep_list_nesting_no_recursion_error():
    """ADVICE r8: a hostile AVI of minimal nested LISTs (depth ~ len/12)
    must not escape the ValueError-only corrupt-bytes contract with a
    RecursionError — the chunk walk is an explicit stack. Frames inside
    and after deep nesting still come out in container byte order."""
    import struct
    import sys
    from tests.test_jpeg import _encode_jpeg
    from glamr_omics_pipelines_spark.operators.multimodal import (
        _parse_avi_mjpeg_frames)

    def chunk(cid, body):
        pad = b"\x00" if len(body) % 2 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    depth = sys.getrecursionlimit() * 3
    img0 = _encode_jpeg(np.full((8, 8), 10, dtype=np.uint8))
    img1 = _encode_jpeg(np.full((8, 8), 200, dtype=np.uint8))
    # innermost LIST carries frame 0; frame 1 sits AFTER the nest at top
    # level — order must be (0, 1) regardless of nesting
    nested = chunk(b"LIST", b"movi" + chunk(b"00dc", img0))
    for _ in range(depth):
        nested = chunk(b"LIST", b"wrap" + nested)
    body = b"AVI " + nested + chunk(b"00dc", img1)
    avi = b"RIFF" + struct.pack("<I", len(body)) + body
    frames = _parse_avi_mjpeg_frames(avi)
    assert [i for i, _ in frames] == [0, 1]
    from glamr_omics_pipelines_spark.operators._jpeg import decode_jpeg_luma
    assert frames[0][1].tolist() == decode_jpeg_luma(img0).tolist()
    assert frames[1][1].tolist() == decode_jpeg_luma(img1).tolist()


# ---------------------------------------------------------------------------
# pHash image near-dup (X173)
# ---------------------------------------------------------------------------

def _p5(w, h, pix):
    return b"P5\n%d %d\n255\n" % (w, h) + bytes(pix)


def _gradient(w, h):
    # smooth NON-separable scene sampled on pixel centers: a plain linear
    # ramp has DCT coefficients tied EXACTLY at the median (ulp noise then
    # flips sign bits), and values stay <= 230 so the +10 brightness case
    # never clips (clipping would make the shift non-uniform)
    import math
    out = []
    for y in range(h):
        for x in range(w):
            u, v = x / (w - 1), y / (h - 1)
            out.append(int(120 + 50 * math.sin(3 * u + 1)
                           + 35 * math.cos(2 * v + 0.5)
                           + 25 * math.sin(2 * u + 3 * v)))
    return out


def test_phash_identical_and_invariances(spark):
    """Identical images → identical hash; brightness shift (DC-only) →
    IDENTICAL hash; same scene at 2× resolution → small Hamming distance;
    a different image → far."""
    from glamr_omics_pipelines_spark.operators import multimodal as M
    g32 = _gradient(32, 32)
    rows = [
        (1, _p5(32, 32, g32)),
        (2, _p5(32, 32, g32)),                                  # exact copy
        (3, _p5(32, 32, [min(255, p + 10) for p in g32])),      # brightness
        (4, _p5(64, 64, _gradient(64, 64))),                    # 2x scale
        (5, _p5(32, 32, [(7 * i * i) % 256 for i in range(1024)])),  # other
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {r["media_id"]: r["phash"]
           for r in M.phash_images(df, stub=False).collect()}

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert got[1] == got[2]
    assert got[1] == got[3]           # DC shift cannot flip any bit
    # resize-normalized: measured 10/64 (uint8 quantization differs at the
    # two resolutions) — well inside a near-dup ball, far from unrelated
    assert ham(got[1], got[4]) <= 12
    assert ham(got[1], got[5]) > 16


def test_phash_decode_error_and_null(spark):
    from glamr_omics_pipelines_spark.operators import multimodal as M
    df = spark.createDataFrame(
        [(1, b"P5\n9 9\n255\nshort"), (2, None), (3, b"")],
        "media_id long, content binary")
    got = {r["media_id"]: (r["phash"], r["decode_ok"])
           for r in M.phash_images(df, stub=True).collect()}
    assert got[2] == (None, "null_content")
    assert got[3] == (None, "decode_error")  # empty stub content
    # stub mode never decodes: row 1 hashes the raw bytes fine
    assert got[1][1] == "ok"


def test_hamming_candidates_pigeonhole_and_verify(spark):
    """Pairs within bands−1 are ALWAYS candidates; max_hamming filters;
    min-dedup collapses multi-band hits."""
    from glamr_omics_pipelines_spark.operators import dedup as D
    rows = [(1, 0), (2, 1), (3, 0b111), (4, -1)]
    df = spark.createDataFrame(rows, "media_id long, phash long")
    out = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in D.hamming_candidates(df, "media_id", "phash",
                                         bands=4).collect()}
    assert out[(1, 2)] == 1 and out[(1, 3)] == 3 and out[(2, 3)] == 2
    assert (1, 4) not in out  # hamming 64: no shared band
    filt = {(r["id_a"], r["id_b"]): r["hamming"]
            for r in D.hamming_candidates(df, "media_id", "phash", bands=4,
                                          max_hamming=1).collect()}
    assert filt == {(1, 2): 1}
    with __import__("pytest").raises(ValueError):
        D.hamming_candidates(df, "media_id", "phash", bands=5)
    # bands=1 (width 64): the full hash is the bucket — no mask literal,
    # which would overflow signed long. Only exact-equal hashes pair.
    rows1 = [(1, 0), (2, 1), (5, -1), (6, -1)]
    df1 = spark.createDataFrame(rows1, "media_id long, phash long")
    one = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in D.hamming_candidates(df1, "media_id", "phash",
                                         bands=1).collect()}
    assert one == {(5, 6): 0}


def test_afp_gain_invariance_and_discrimination(spark):
    """Identical clips → identical fingerprint; a 2× gain → IDENTICAL
    (log-affine removed exactly); a different waveform → far; a clip
    shorter than one frame → decode_error."""
    import math
    from glamr_omics_pipelines_spark.operators import multimodal as M
    n = 4096
    tone = [int(8000 * math.sin(2 * math.pi * 440 * i / 8000))
            + int(3000 * math.sin(2 * math.pi * 97 * i / 8000))
            for i in range(n)]
    other = [int(9000 * math.sin(2 * math.pi * 1313 * i / 8000)
                 * (1 + 0.5 * math.sin(2 * math.pi * 3 * i / 8000)))
             for i in range(n)]
    quiet = [int(20 * math.sin(2 * math.pi * 440 * i / 8000))
             + int(7 * math.sin(2 * math.pi * 97 * i / 8000))
             for i in range(n)]
    rows = [(1, _wav_bytes(tone)),
            (2, _wav_bytes(tone)),
            (3, _wav_bytes([max(-32768, min(32767, 2 * s)) for s in tone])),
            (4, _wav_bytes(other)),
            (5, _wav_bytes(tone[:512])),
            (6, _wav_bytes(quiet)),
            (7, _wav_bytes([10 * s for s in quiet]))]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {r["media_id"]: (r["afp"], r["decode_ok"])
           for r in M.afp_signatures(df, stub=False).collect()}

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert got[1] == got[2]
    assert got[1][0] == got[3][0]     # exact gain invariance
    assert ham(got[1][0], got[4][0]) > 12
    assert got[5] == (None, "decode_error")
    # quiet clip (band energies nowhere near >>1): 10x gain must STILL be
    # exact — this is what the gain-relative log floor buys over log1p
    assert got[6][0] == got[7][0]


def test_afp_stub_path_and_hamming_composition(spark):
    """Stub path hashes raw bytes (no decode); composed with
    hamming_candidates the planted copy pairs at distance 0."""
    from glamr_omics_pipelines_spark.operators import dedup as D
    from glamr_omics_pipelines_spark.operators import multimodal as M
    blob_a = bytes([(i * 37) % 256 for i in range(2048)])
    blob_b = bytes([(i * 11 + 5) % 256 for i in range(2048)])
    df = spark.createDataFrame(
        [(1, blob_a), (2, blob_a), (3, blob_b)],
        "media_id long, content binary")
    sig = M.afp_signatures(df, stub=True)
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in D.hamming_candidates(sig, "media_id", "afp", bands=4,
                                           max_hamming=0).collect()}
    assert pairs == {(1, 2): 0}


def _y4m_mono(frames, w=16, h=16):
    """Mono-chroma Y4M: header + FRAME blocks of raw w*h luma."""
    head = b"YUV4MPEG2 W%d H%d F25:1 Cmono\n" % (w, h)
    return head + b"".join(b"FRAME\n" + bytes(f) for f in frames)


def test_vhash_frames_real_y4m_and_recut_pairs(spark):
    """Real Y4M decode: identical clips share every frame hash; a re-cut
    sharing 3 of 4 source frames pairs at containment 0.75+; an unrelated
    clip does not pair at min_shared=2."""
    from glamr_omics_pipelines_spark.operators import multimodal as M
    f = [[(i * 7 + k * 13) % 251 for i in range(256)] for k in range(5)]
    rows = [(1, _y4m_mono(f[0:4])), (2, _y4m_mono(f[0:4])),  # exact copy
            (3, _y4m_mono(f[1:5])),                     # re-cut: shares 3
            (4, _y4m_mono([[(i * 31) % 241 for i in range(256)]] * 4))]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    fr = M.vhash_frames(df, stub=False)
    got = fr.collect()
    assert all(r["decode_ok"] == "ok" for r in got)
    assert sum(1 for r in got if r["media_id"] == 1) == 4
    pairs = {(r["id_a"], r["id_b"]): (r["n_shared"], r["containment"])
             for r in M.video_dup_pairs(fr, min_shared=2).collect()}
    assert pairs[(1, 2)][0] == 4 and pairs[(1, 2)][1] == 1.0
    assert pairs[(1, 3)][0] == 3 and pairs[(2, 3)][0] == 3
    assert not any(4 in p for p in pairs)
    # clip 4 repeats ONE frame 4x: distinct-hash grain, so no self-inflation


def test_vhash_stub_and_degenerate_rows(spark):
    from glamr_omics_pipelines_spark.operators import multimodal as M
    df = spark.createDataFrame(
        [(1, bytes(range(256)) * 8), (2, None), (3, b"xx"),
         (4, b"YUV4MPEG2 W16 H16\nFRAME\nshort")],
        "media_id long, content binary")
    got = {}
    for r in M.vhash_frames(df, stub=True).collect():
        got.setdefault(r["media_id"], []).append(r)
    assert len(got[1]) == 2 and all(r["decode_ok"] == "ok" for r in got[1])
    assert got[2][0]["decode_ok"] == "null_content"
    assert got[3][0]["decode_ok"] == "empty_content"  # < 1 stub window
    real = {r["media_id"]: r["decode_ok"]
            for r in M.vhash_frames(df.filter("media_id = 4"),
                                    stub=False).collect()}
    assert real[4] == "decode_error"
    import pytest as _pytest
    with _pytest.raises(ValueError):
        M.vhash_frames(df, every_n=0)
    with _pytest.raises(ValueError):
        M.video_dup_pairs(M.vhash_frames(df), min_shared=0)


def test_phash_batched_kernel_bit_identical():
    """_phash_of_gray_many must return EXACTLY the per-frame kernel's
    hashes (the r12 batching is an amortization, not an approximation):
    mixed shapes, degenerate constant frames (median ties), and gradient
    frames all pinned."""
    import numpy as np
    from glamr_omics_pipelines_spark.operators import multimodal as M
    rng = np.random.default_rng(42)
    arrs = ([rng.integers(0, 256, (16, 16), dtype=np.uint8) for _ in range(7)]
            + [rng.integers(0, 256, (33, 17), dtype=np.uint8) for _ in range(3)]
            + [np.zeros((16, 16), dtype=np.uint8),          # constant: all
               np.full((16, 16), 255, dtype=np.uint8),      # DCT ties at 0
               np.arange(256, dtype=np.uint8).reshape(16, 16),
               np.tile(np.arange(16, dtype=np.uint8) * 16, (16, 1))])
    ref = [M._phash_of_gray(a) for a in arrs]
    got_map = M._phash_scatter(list(enumerate(arrs)))
    got = [got_map[i] for i in range(len(arrs))]
    assert got == ref
    # a frame's hash must not depend on its batch neighbours: alone, in
    # its same-shape batch and in the mixed batch all agree (the constant
    # 255 frame once hashed differently beside the zero frame)
    for i, a in enumerate(arrs):
        peers = [k for k, b in enumerate(arrs) if b.shape == a.shape]
        batch = M._phash_of_gray_many([arrs[k] for k in peers])
        assert M._phash_of_gray_many([a]) == [ref[i]], i
        assert batch[peers.index(i)] == ref[i], i
    # and the audio matrix path composes identically
    samples = rng.normal(0, 1000, 4096)
    assert M._afp_of_samples(samples) == M._phash_of_gray(
        M._afp_matrix(samples))


# ---------------------------------------------------------------------------
# The blob-kernel contract, pinned per kernel and path: a batch of
# [null, empty, foreign/corrupt, valid] blobs maps to per-row statuses and
# placeholder rows without failing the task. The edge cases differ per
# kernel on purpose (empty bytes: phash-stub decode_error, image-features
# stub ok, audio/video empty_content) and must stay that way.
# ---------------------------------------------------------------------------

_RAW = bytes(range(256)) * 8                 # 2 stub windows of 1024 bytes
_IMG = _pgm(2, 2, [0, 64, 128, 255])
_IMG_BAD = b"P5\n2 2\n255\n\x00"              # netpbm magic, truncated raster
_VID = _y4m(32, 32, [list(range(32)) * 32, [200] * 1024])
_VID_BAD = b"YUV4MPEG2 W16 H16\nFRAME\nshort"
_WAV = _wav_bytes([int(1000 * np.sin(i / 5)) for i in range(2048)])
_FOREIGN = b"not a media blob"

_NULL, _EMPTY, _ERR = "null_content", "empty_content", "decode_error"
_FEATS = {"media_id": "int64", "feature": "object", "decode_ok": "object"}
_PHASH = {"media_id": "int64", "phash": "Int64", "decode_ok": "object"}
_AFP = {"media_id": "int64", "afp": "Int64", "decode_ok": "object"}
_RESIZED = {"media_id": "int64", "content": "object", "width": "int64",
            "height": "int64", "resize_ok": "object"}
_VHASH = {"media_id": "int64", "frame_idx": "Int64", "vhash": "Int64",
          "decode_ok": "object"}
_FRAMES = {"media_id": "int64", "frame_idx": "int64", "feature": "object",
           "decode_ok": "object"}
_WINDOWS = {"media_id": "int64", "window_idx": "int64", "rms": "float64",
            "decode_ok": "object"}
_STUB_IN = [None, b"", _FOREIGN, _RAW]

# (operator, kwargs, contents, statuses per blob, placeholder row of a
#  non-ok blob (columns between media_id and the status), dtypes)
_CONTRACT = {
    "image_features_stub": (
        "extract_image_features", {}, _STUB_IN,
        [[_NULL], ["ok"], ["ok"], ["ok"]], (None,), _FEATS),
    "image_features_real": (
        "extract_image_features", {"stub": False},
        [None, b"", _IMG_BAD, _IMG],
        [[_NULL], [_ERR], [_ERR], ["ok"]], (None,), _FEATS),
    "phash_stub": (
        "phash_images", {}, _STUB_IN,
        [[_NULL], [_ERR], ["ok"], ["ok"]], (None,), _PHASH),
    "phash_real": (
        "phash_images", {"stub": False}, [None, b"", _IMG_BAD, _IMG],
        [[_NULL], [_ERR], [_ERR], ["ok"]], (None,), _PHASH),
    "afp_stub": (
        "afp_signatures", {}, _STUB_IN,
        [[_NULL], [_ERR], [_ERR], ["ok"]], (None,), _AFP),
    "afp_real": (
        "afp_signatures", {"stub": False}, [None, b"", _WAV[:30], _WAV],
        [[_NULL], [_ERR], [_ERR], ["ok"]], (None,), _AFP),
    "resize_stub": (
        "resize_images", {"width": 3, "height": 2}, _STUB_IN,
        [[_NULL], ["ok"], ["ok"], ["ok"]], (None, 3, 2), _RESIZED),
    "resize_real": (
        "resize_images", {"width": 3, "height": 2, "stub": False},
        [None, b"", _IMG_BAD, _IMG],
        [[_NULL], [_ERR], [_ERR], ["ok"]], (None, 3, 2), _RESIZED),
    "vhash_stub": (
        "vhash_frames", {}, _STUB_IN,
        [[_NULL], [_EMPTY], [_EMPTY], ["ok", "ok"]], (None, None), _VHASH),
    "vhash_real": (
        "vhash_frames", {"stub": False}, [None, b"", _VID_BAD, _VID],
        [[_NULL], [_ERR], [_ERR], ["ok", "ok"]], (None, None), _VHASH),
    "video_features_stub": (
        "extract_video_frame_features", {}, _STUB_IN,
        [[_NULL], [_EMPTY], ["ok"], ["ok", "ok"]], (0, None), _FRAMES),
    "video_features_real": (
        "extract_video_frame_features", {"stub": False},
        [None, b"", _VID_BAD, _VID],
        [[_NULL], [_ERR], [_ERR], ["ok", "ok"]], (0, None), _FRAMES),
    "audio_windows_stub": (
        "extract_audio_windows", {}, _STUB_IN,
        [[_NULL], [_EMPTY], ["ok"], ["ok", "ok"]], (0, None), _WINDOWS),
    "audio_windows_real": (
        "extract_audio_windows", {"stub": False},
        [None, b"", _WAV[:30], _WAV],
        [[_NULL], [_ERR], [_ERR], ["ok", "ok"]], (0, None), _WINDOWS),
}


def _cell(v):
    return v if isinstance(v, list) or not pd.isna(v) else None


@pytest.mark.parametrize("case", sorted(_CONTRACT))
def test_blob_kernel_contract(spark, case):
    op, kwargs, contents, statuses, placeholder, dtypes = _CONTRACT[case]
    out, schema = _run_kernel(op, kwargs, contents)
    assert list(out.columns) == schema.names
    assert {c: str(t) for c, t in out.dtypes.items()} == dtypes
    status = schema.names[-1]
    for mid, want in enumerate(statuses, start=1):
        rows = out[out["media_id"] == mid]
        assert list(rows[status]) == want, (mid, list(rows[status]))
        if want != ["ok"] * len(want):
            (row,) = rows[schema.names[1:-1]].itertuples(index=False)
            assert tuple(_cell(v) for v in row) == placeholder, (mid, row)


@pytest.mark.skipif(_pil_available(), reason="with PIL installed these "
                    "blobs decode (or flag decode_error) instead of raising")
@pytest.mark.parametrize("op", ["extract_image_features", "phash_images",
                                "resize_images"])
@pytest.mark.parametrize("blob", [_FOREIGN], ids=["foreign"])
def test_blob_needing_pil_raises_without_pil(spark, op, blob):
    kwargs = {"stub": False}
    if op == "resize_images":
        kwargs.update(width=2, height=2)
    with pytest.raises(NotImplementedError, match="PIL"):
        _run_kernel(op, kwargs, [_IMG, blob])


@pytest.mark.parametrize("op, kwargs", [
    ("extract_image_features", {"feature_dim": 0}),
    ("extract_video_frame_features", {"feature_dim": 0}),
    ("resize_images", {"width": 0, "height": 2}),
    ("extract_audio_windows", {"window_bytes": 0}),
    ("extract_audio_windows", {"stub": False, "window_samples": 0}),
])
def test_out_of_range_size_raises_before_any_decode(spark, op, kwargs):
    # a bad size must fail the call, not flag every blob decode_error
    with pytest.raises(ValueError, match=">= 1"):
        getattr(multimodal, op)(_KernelOf(), **kwargs)
