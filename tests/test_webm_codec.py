"""WebM (Matroska/EBML) container walk + VP8 key-frame decode."""
import pytest

from docling_graph_spark.kernels.vp8_codec import (
    decode_vp8, encode_vp8, rgb_to_yuv420, vp8_frame_to_rgb)
from docling_graph_spark.kernels.webm_codec import (
    decode_webm, encode_webm_vp8, parse_webm)


def _vp8_frame(w, h, seed=3, mode="dc"):
    v, rgb = seed, []
    for i in range(w * h * 3):
        v = (v * 73 + 41) % 256
        rgb.append(v)
    y, u, vv = rgb_to_yuv420(w, h, bytes(rgb))
    return encode_vp8(w, h, y, u, vv, qi=10, mode=mode)


def test_first_frame_matches_direct_vp8_decode():
    w, h = 24, 16
    frames = [_vp8_frame(w, h, s) for s in (1, 2, 3)]
    webm = encode_webm_vp8(w, h, frames)
    dec = decode_webm(webm)
    want = vp8_frame_to_rgb(decode_vp8(frames[0]))
    assert (dec.width, dec.height, dec.channels) == (w, h, 3)
    assert dec.n_frames == 3 and dec.codec == "V_VP8"
    assert dec.pixels == want


def test_frame_selection_and_negative_index():
    w = h = 16
    frames = [_vp8_frame(w, h, s, mode=m)
              for s, m in ((1, "dc"), (2, "tm"), (3, "v"))]
    webm = encode_webm_vp8(w, h, frames)
    for k in range(3):
        assert decode_webm(webm, frame=k).pixels == vp8_frame_to_rgb(
            decode_vp8(frames[k]))
    assert decode_webm(webm, frame=-1).pixels == vp8_frame_to_rgb(
        decode_vp8(frames[-1]))
    with pytest.raises(ValueError, match="out of range"):
        decode_webm(webm, frame=3)


def test_xiph_laced_block_enumerates_and_decodes():
    w = h = 16
    frames = [_vp8_frame(w, h, s) for s in (4, 5, 6, 7)]
    webm = encode_webm_vp8(w, h, frames, lacing="xiph")
    dec = decode_webm(webm, frame=2)
    assert dec.n_frames == 4
    assert dec.pixels == vp8_frame_to_rgb(decode_vp8(frames[2]))


def test_title_and_tags_surface():
    webm = encode_webm_vp8(16, 16, [_vp8_frame(16, 16)],
                           title="title 7",
                           tags={"ARTIST": "artist 7"})
    parsed = parse_webm(webm)
    assert parsed.title == "title 7"
    assert parsed.tags == {"ARTIST": "artist 7"}
    assert parsed.tracks[0].codec == "V_VP8" \
        and parsed.tracks[0].ttype == 1


def test_non_vp8_codec_routes_with_name():
    webm = encode_webm_vp8(16, 16, [_vp8_frame(16, 16)])
    webm = webm.replace(b"V_VP8", b"V_VP9")
    with pytest.raises(NotImplementedError, match="V_VP9"):
        decode_webm(webm)


def test_bomb_guard_rejects_declared_geometry():
    webm = encode_webm_vp8(16, 16, [_vp8_frame(16, 16)])
    with pytest.raises(ValueError, match="decode guard"):
        decode_webm(webm, max_pixels=16 * 16 - 1)


def test_truncated_and_garbage_route_as_errors():
    webm = encode_webm_vp8(16, 16, [_vp8_frame(16, 16)])
    with pytest.raises(ValueError):
        decode_webm(webm[:40])
    with pytest.raises(ValueError):
        decode_webm(b"\x00" * 64)
    with pytest.raises(ValueError):
        decode_webm(b"")


def test_decode_media_routes_webm():
    from docling_graph_spark.kernels.media_stub import (
        decode_media, sniff_media_type)

    frame = _vp8_frame(16, 16, 9)
    webm = encode_webm_vp8(16, 16, [frame])
    assert sniff_media_type(webm) == "video/webm"
    dec = decode_media(webm, "video/webm")
    assert dec.pixels == vp8_frame_to_rgb(decode_vp8(frame))


def test_geometry_probe_still_reads_fixture():
    from docling_graph_spark.kernels.media_probe import probe_dimensions

    webm = encode_webm_vp8(20, 12, [_vp8_frame(20, 12)])
    hdr = probe_dimensions(webm)
    assert hdr is not None and (hdr.width, hdr.height) == (20, 12)


def _tone_ogg(rate=8000, T=1000, ch=1):
    import math

    from docling_graph_spark.kernels.vorbis_codec import encode_vorbis

    pcm = [[int(12000 * math.sin(2 * math.pi * (440 + 110 * c)
                                 * t / rate))
            for t in range(T)] for c in range(ch)]
    return encode_vorbis(pcm, rate, blocksize=256)


def test_vorbis_audio_track_matches_ogg_decode():
    from docling_graph_spark.kernels.vorbis_codec import decode_vorbis
    from docling_graph_spark.kernels.webm_codec import (
        decode_webm_audio, decode_webm_media, encode_webm_vorbis)

    ogg = _tone_ogg(ch=2)
    want = decode_vorbis(ogg)
    webm = encode_webm_vorbis(ogg)
    got = decode_webm_audio(webm)
    assert got == want          # sample-exact, duration-trimmed
    assert decode_webm_media(webm) == want


def test_audio_only_webm_through_audio_stage(spark):
    from docling_graph_spark.kernels.vorbis_codec import decode_vorbis
    from docling_graph_spark.kernels.webm_codec import (
        encode_webm_vorbis)
    from docling_graph_spark.operators import multimodal as mm

    ogg = _tone_ogg()
    want = decode_vorbis(ogg)
    webm = encode_webm_vorbis(ogg)
    video = encode_webm_vp8(16, 16, [_vp8_frame(16, 16)])
    df = spark.createDataFrame(
        [("webm:a", webm), ("webm:v", video)],
        "url string, html binary")
    rows = {r.url: r for r in mm.audio_decode_stats(df).collect()}
    a = rows["webm:a"]
    assert a.decoded and a.media_type == "video/webm"
    assert a.sample_rate == want.sample_rate
    assert a.n_frames == want.n_frames
    assert a.abs_sum == sum(abs(s) for s in want.samples)
    # a video-track WebM is routed, not misread as audio
    assert not rows["webm:v"].decoded
    assert rows["webm:v"].decode_error == "not audio"


def test_non_vorbis_audio_codec_routes_with_name():
    from docling_graph_spark.kernels.webm_codec import (
        decode_webm_audio, encode_webm_vorbis)

    webm = encode_webm_vorbis(_tone_ogg()).replace(
        b"A_VORBIS", b"A_OPUS\x00\x00")
    with pytest.raises(NotImplementedError, match="A_OPUS"):
        decode_webm_audio(webm)


def test_webm_audio_bomb_guard_on_packet_count():
    from docling_graph_spark.kernels.webm_codec import (
        decode_webm_audio, encode_webm_vorbis)

    webm = encode_webm_vorbis(_tone_ogg())
    with pytest.raises(ValueError, match="decode guard"):
        decode_webm_audio(webm, max_samples=100)


def test_subtitle_track_text_extraction():
    from docling_graph_spark.kernels.webm_codec import (
        encode_webm_subtitles, webm_subtitle_text)

    w = encode_webm_subtitles(["hello world", "second cue\nwrapped"])
    assert webm_subtitle_text(w) == "hello world\n\nsecond cue\nwrapped"
    # WEBVTT codec: inline cue tags stripped
    w2 = encode_webm_subtitles(["styled cue"], codec="S_TEXT/WEBVTT")
    assert webm_subtitle_text(w2) == "styled cue"
    # muxed under a real VP8 video track: text AND frame both reachable
    frame = _vp8_frame(16, 16, 8)
    w3 = encode_webm_subtitles(["muxed cue"],
                               video=(16, 16, [frame]))
    assert webm_subtitle_text(w3) == "muxed cue"
    assert decode_webm(w3).pixels == vp8_frame_to_rgb(
        decode_vp8(frame))
    # no subtitle track -> empty, never an exception
    assert webm_subtitle_text(
        encode_webm_vp8(16, 16, [frame])) == ""


def _reframe_unknown_size(w: bytes, elem_id: bytes, width: int) -> bytes:
    """Rewrite the data size of the first ``elem_id`` element as the
    reserved unknown size at ``width`` bytes (all value bits set), the
    way a live remuxer frames a Segment or Cluster."""
    from docling_graph_spark.kernels.webm_codec import _vint

    i = w.index(elem_id) + len(elem_id)
    _, body = _vint(w, i, False)
    unknown = bytes([0xFF >> (width - 1)]) + b"\xff" * (width - 1)
    return w[:i] + unknown + w[body:]


@pytest.mark.parametrize("width", [1, 2, 4, 8])
def test_unknown_size_segment_of_any_width_keeps_subtitles(width):
    """The unknown size is "all value bits set" at every vint width; a
    1-byte one (0xFF) read as a literal 127 truncates the Segment and
    its Cluster, and the cues behind byte 127 are lost."""
    from docling_graph_spark.kernels.webm_codec import (
        encode_webm_subtitles, webm_subtitle_text)

    cues = [f"cue number {k} spoken on a live stream" for k in range(8)]
    w = encode_webm_subtitles(cues)
    w = _reframe_unknown_size(w, b"\x1f\x43\xb6\x75", width)  # Cluster
    w = _reframe_unknown_size(w, b"\x18\x53\x80\x67", width)  # Segment
    assert len(w) > 127 + 64
    assert webm_subtitle_text(w) == "\n\n".join(cues)


def test_deeply_nested_tags_raise_value_error():
    """A crafted Tags tree nested far past any real file routes as a
    ValueError (an error row), never a RecursionError."""
    from docling_graph_spark.kernels.webm_codec import (
        _SEGMENT, _TAGS, _elem, encode_webm_subtitles)

    w = encode_webm_subtitles(["cue"])
    header = w[:w.index(b"\x18\x53\x80\x67")]
    inner = _elem(0x45A3, b"name") + _elem(0x4487, b"value")
    for _ in range(5000):
        inner = _elem(0x67C8, inner)               # SimpleTag
    crafted = header + _elem(_SEGMENT, _elem(_TAGS, _elem(0x7373, inner)))
    with pytest.raises(ValueError, match="nesting"):
        parse_webm(crafted)


def test_video_rows_route_through_extraction(spark):
    from docling_graph_spark.kernels.media_probe import make_mp4_header
    from docling_graph_spark.kernels.webm_codec import (
        encode_webm_subtitles)
    from docling_graph_spark.operators.extract import _route_payload

    subbed = encode_webm_subtitles(["a spoken line", "another line"])
    text, _spans, _n, kind, err = _route_payload(subbed, None)
    assert kind == "subtitle" and err is None
    assert text == "a spoken line\n\nanother line"

    bare = encode_webm_vp8(16, 16, [_vp8_frame(16, 16)])
    text, _spans, _n, kind, err = _route_payload(bare, None)
    assert kind == "video" and text == "" and "subtitle" in err

    mp4 = make_mp4_header(64, 48)
    text, _spans, _n, kind, err = _route_payload(mp4, None)
    assert kind == "video" and text == "" and "subtitle" in err


def test_webm_keyframe_phash_pairs_with_webp_still(spark):
    """The video-thumbnail dedup case: a WebM keyframe and the WebP
    still transcoded from the same pixels decode to identical RGB, so
    their perceptual hashes are identical and image_near_dup pairs
    them at Hamming 0."""
    from docling_graph_spark.kernels.vp8_codec import (
        encode_webp_lossy)
    from docling_graph_spark.operators import multimodal as mm

    w = h = 32
    rgb = bytes((37 * x + 11 * y) % 256
                for y in range(h) for x in range(w) for _ in range(3))
    y_, u_, v_ = rgb_to_yuv420(w, h, rgb)
    frame = encode_vp8(w, h, y_, u_, v_, qi=12, mode="tm")
    webm = encode_webm_vp8(w, h, [frame])
    webp = encode_webp_lossy(w, h, rgb, qi=12, mode="tm")
    df = spark.createDataFrame(
        [("vid.webm", webm), ("still.webp", webp)],
        "url string, html binary")
    hashes = {r.url: r for r in mm.image_hashes(df).collect()}
    assert hashes["vid.webm"].decoded and hashes["still.webp"].decoded
    assert hashes["vid.webm"].phash == hashes["still.webp"].phash
    pairs = mm.image_near_dup(df, max_hamming=8).collect()
    assert [(p.url_a, p.url_b, p.hamming) for p in pairs] == [
        ("still.webp", "vid.webm", 0)]


def test_mjpeg_matroska_track_decodes():
    from docling_graph_spark.kernels.jpeg_codec import (
        decode_jpeg, encode_jpeg_gray)

    jpgs = [encode_jpeg_gray(20, 12, bytes((i * s) % 256
                                           for i in range(240)))
            for s in (3, 5)]
    webm = encode_webm_vp8(20, 12, jpgs, codec=b"V_MJPEG")
    dec = decode_webm(webm, frame=1)
    assert dec.codec == "V_MJPEG" and dec.n_frames == 2
    assert dec.pixels == decode_jpeg(jpgs[1]).pixels
