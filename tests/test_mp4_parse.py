"""ISO BMFF tx3g timed-text extraction."""
import struct

import pytest

from docling_graph_spark.kernels.mp4_parse import (
    make_mp4_tx3g, mp4_subtitle_text)


def test_cues_roundtrip_cue_per_paragraph():
    m = make_mp4_tx3g(["first cue", "second cue here", "", "third"])
    assert mp4_subtitle_text(m) == "first cue\n\nsecond cue here\n\nthird"


def test_stsc_multi_sample_chunks_resolve():
    cues = [f"cue {i}" for i in range(7)]
    m = make_mp4_tx3g(cues, per_chunk=3)
    assert mp4_subtitle_text(m) == "\n\n".join(cues)


def test_utf16_bom_sample_decodes():
    m = make_mp4_tx3g(["placeholder"])
    raw = "héllo".encode("utf-16")          # BOM-led UTF-16
    sample = struct.pack(">H", len(raw)) + raw
    old = struct.pack(">H", len("placeholder".encode())) \
        + "placeholder".encode()
    assert old in m
    # same length? pad/truncate not needed if equal; rebuild instead
    m2 = make_mp4_tx3g(["x" * (len(raw))])
    m2 = m2.replace(struct.pack(">H", len(raw)) + b"x" * len(raw),
                    sample)
    assert mp4_subtitle_text(m2) == "héllo"


def test_video_trak_present_and_geometry_probe_intact():
    from docling_graph_spark.kernels.media_probe import probe_dimensions

    m = make_mp4_tx3g(["captioned"], video=(64, 48))
    assert mp4_subtitle_text(m) == "captioned"
    hdr = probe_dimensions(m)
    assert hdr is not None and (hdr.width, hdr.height) == (64, 48)


def test_malformed_never_raises():
    assert mp4_subtitle_text(b"") == ""
    assert mp4_subtitle_text(b"\x00\x00\x00\x08ftypisom") == ""
    assert mp4_subtitle_text(b"\x00" * 64) == ""
    # hostile stsz count is capped, offsets beyond the file skipped
    m = bytearray(make_mp4_tx3g(["ok"]))
    i = m.find(b"stco")
    struct.pack_into(">I", m, i + 12, 1 << 30)   # offset past EOF
    assert mp4_subtitle_text(bytes(m)) == ""


def test_extraction_routes_mp4_captions():
    from docling_graph_spark.operators.extract import _route_payload

    m = make_mp4_tx3g(["spoken words", "more words"], video=(32, 32))
    text, _spans, _n, kind, err = _route_payload(m, None)
    assert kind == "subtitle" and err is None
    assert text == "spoken words\n\nmore words"


def test_stpp_ttml_samples_strip_markup():
    m = make_mp4_tx3g(["spoken ttml line", "second one"],
                      fmt=b"stpp")
    assert mp4_subtitle_text(m) == "spoken ttml line\n\nsecond one"


def _jpg(w, h, s):
    from docling_graph_spark.kernels.jpeg_codec import encode_jpeg_gray

    return encode_jpeg_gray(w, h, bytes((i * s * 7 + 3) % 256
                                        for i in range(w * h)))


def test_mjpeg_frames_decode_and_select():
    from docling_graph_spark.kernels.jpeg_codec import decode_jpeg
    from docling_graph_spark.kernels.mp4_parse import (
        decode_mp4, make_mp4_mjpeg)

    frames = [_jpg(24, 16, s) for s in (1, 2, 3)]
    m = make_mp4_mjpeg(24, 16, frames, per_chunk=2)
    d = decode_mp4(m)
    assert (d.width, d.height, d.channels, d.n_frames, d.codec) == \
        (24, 16, 1, 3, "jpeg")
    assert d.pixels == decode_jpeg(frames[0]).pixels
    assert decode_mp4(m, frame=-1).pixels == \
        decode_jpeg(frames[2]).pixels
    import pytest

    with pytest.raises(ValueError, match="out of range"):
        decode_mp4(m, frame=3)


def test_mjpeg_codec_routes_and_bomb_guard():
    import struct

    import pytest

    from docling_graph_spark.kernels.mp4_parse import (
        decode_mp4, make_mp4_mjpeg)

    m = make_mp4_mjpeg(16, 16, [_jpg(16, 16, 1)])
    with pytest.raises(NotImplementedError, match="avc1"):
        decode_mp4(m.replace(b"jpeg", b"avc1", 1))
    big = bytearray(m)
    at = big.find(b"jpeg", big.find(b"stsd")) + 4 + 6 + 2 + 16
    struct.pack_into(">HH", big, at, 16384, 16384)
    with pytest.raises(ValueError, match="decode guard"):
        decode_mp4(bytes(big))


def test_mjpeg_through_operators(spark):
    from docling_graph_spark.kernels.jpeg_codec import decode_jpeg
    from docling_graph_spark.kernels.mp4_parse import make_mp4_mjpeg
    from docling_graph_spark.operators import multimodal as mm

    frames = [_jpg(20, 12, 5)]
    m = make_mp4_mjpeg(20, 12, frames)
    df = spark.createDataFrame([("clip.mp4", m)],
                               "url string, html binary")
    r = mm.media_decode_stats(df).collect()[0]
    want = decode_jpeg(frames[0])
    assert r.decoded and r.media_type == "video/mp4"
    assert (r.width, r.height) == (20, 12)
    assert r.pixel_sum == sum(want.pixels)
    h = mm.image_hashes(df).collect()[0]
    assert h.decoded and h.phash is not None


def _box(cc: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + cc + body


def _stbl(sizes, fixed, chunk_offsets, stsc):
    vf = b"\x00\x00\x00\x00"
    stsz = vf + struct.pack(">II", fixed, len(sizes)) + (
        b"" if fixed else struct.pack(f">{len(sizes)}I", *sizes))
    stco = vf + struct.pack(f">I{len(chunk_offsets)}I", len(chunk_offsets),
                            *chunk_offsets)
    stsc_body = vf + struct.pack(">I", len(stsc)) + b"".join(
        struct.pack(">III", first, per, 1) for first, per in stsc)
    return _box(b"stsz", stsz) + _box(b"stco", stco) \
        + _box(b"stsc", stsc_body)


def _offsets_by_rescan(sizes, chunk_offsets, stsc):
    """The sample→chunk resolution as a per-chunk rescan of the stsc
    table: the quadratic form the single forward pass must reproduce."""
    stsc = stsc or [(1, 1)]
    out, si = [], 0
    for ci, coff in enumerate(chunk_offsets, start=1):
        per = 1
        for first, p in stsc:
            if first <= ci:
                per = p
            else:
                break
        off = coff
        for _ in range(per):
            if si >= len(sizes):
                return out
            out.append((off, sizes[si]))
            off += sizes[si]
            si += 1
    return out


def test_sample_offsets_forward_pass_matches_rescan():
    """Random small tables — unsorted and duplicate first_chunk entries,
    zero-sample runs, too few or too many samples — resolve exactly as
    the per-chunk rescan does, and a 20,000-chunk x 20,000-entry table
    resolves in linear time."""
    import random
    import time

    from docling_graph_spark.kernels.mp4_parse import _sample_offsets

    rng = random.Random(7)
    for _ in range(500):
        n_chunks = rng.randint(1, 12)
        stsc = [(rng.randint(0, n_chunks + 2), rng.randint(0, 4))
                for _ in range(rng.randint(0, 6))]
        if rng.random() < 0.5:
            stsc.sort()
        sizes = [rng.randint(1, 50) for _ in range(rng.randint(1, 30))]
        offsets = [rng.randint(0, 1000) for _ in range(n_chunks)]
        b = _stbl(sizes, 0, offsets, stsc)
        assert _sample_offsets(b, 0, len(b)) == \
            _offsets_by_rescan(sizes, offsets, stsc)

    n = 20_000
    b = _stbl([4] * n, 4, [8 * i for i in range(n)],
              [(i, 1) for i in range(1, n + 1)])
    t0 = time.perf_counter()
    got = _sample_offsets(b, 0, len(b))
    assert time.perf_counter() - t0 < 2.0
    assert got == [(8 * i, 4) for i in range(n)]
