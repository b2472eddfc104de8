"""Image header probing: real dimensions/channels from container metadata,
no full decode.

At crawl scale the common image question is not "give me pixels" but "how
big is it / what shape is it" — filtering thumbnails, tracker pixels and
banner junk before anything expensive runs.  Every mainstream container
answers that from its first few hundred bytes, with no codec library:

* PNG   — IHDR is the first chunk: width/height u32be at offset 16,
          bit depth + color type right after (RFC 2083 §4.1.1);
* JPEG  — walk the marker segments to the first SOF frame header
          (FFC0-FFCF minus C4/C8/CC), which carries height/width u16be
          and the component count (ITU T.81 §B.2.2);
* GIF   — logical screen descriptor: width/height u16le at offset 6
          (GIF89a spec §18);
* BMP   — BITMAPINFOHEADER: width/height i32le at offset 18/22
          (height may be negative = top-down);
* WEBP  — RIFF container, three frame flavors: VP8X (canvas u24le
          minus-one), lossless VP8L (14-bit packed minus-one), lossy VP8
          key frame (u16le & 0x3fff).

This complements `png_codec.py` (full decode, pixels) — the probe is the
cheap path a metadata/filter stage runs on EVERY image row; full decode
runs on the few rows that survive.  The reference has no binary-media
path (its VLM backend hands images to a model server, `vlm_backend.py`);
the probe is the deterministic, scale-shaped analogue.
"""

from __future__ import annotations

import struct
from typing import NamedTuple, Optional


class ImageHeader(NamedTuple):
    media_type: str
    width: int
    height: int
    channels: Optional[int]   # None when the container doesn't say


# JPEG start-of-frame markers: C0-CF except C4 (DHT), C8 (JPG ext), CC (DAC)
_JPEG_SOF = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
             0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}


def _probe_jpeg(b: bytes) -> Optional[ImageHeader]:
    i, n = 2, len(b)
    while i + 4 <= n:
        if b[i] != 0xFF:          # desynced (corrupt stream): give up
            return None
        marker = b[i + 1]
        if marker == 0xFF:        # fill byte
            i += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2                # standalone marker, no length field
            continue
        if i + 4 > n:
            return None
        seg_len = struct.unpack_from(">H", b, i + 2)[0]
        if seg_len < 2:
            return None
        if marker in _JPEG_SOF:
            # SOF payload: precision u8, height u16, width u16, ncomp u8
            if i + 9 > n:
                return None
            h, w = struct.unpack_from(">HH", b, i + 5)
            ncomp = b[i + 9] if i + 9 < n else None
            if w == 0 or h == 0:
                return None
            return ImageHeader("image/jpeg", w, h, ncomp)
        if marker == 0xDA:        # start of scan: SOF must precede it
            return None
        i += 2 + seg_len
    return None


def _probe_png(b: bytes) -> Optional[ImageHeader]:
    if len(b) < 26 or b[12:16] != b"IHDR":
        return None
    w, h = struct.unpack_from(">II", b, 16)
    color_type = b[25]
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
    if w == 0 or h == 0:
        return None
    return ImageHeader("image/png", w, h, channels)


def _probe_gif(b: bytes) -> Optional[ImageHeader]:
    if len(b) < 10:
        return None
    w, h = struct.unpack_from("<HH", b, 6)
    if w == 0 or h == 0:
        return None
    return ImageHeader("image/gif", w, h, None)


def _probe_bmp(b: bytes) -> Optional[ImageHeader]:
    if len(b) < 30:
        return None
    hdr_size = struct.unpack_from("<I", b, 14)[0]
    # 'BM' is only 2 bytes of magic, so validate the DIB header shape:
    # known header size, planes == 1, a real bits-per-pixel value
    if hdr_size in (40, 52, 56, 64, 108, 124):
        w, h = struct.unpack_from("<ii", b, 18)
        h = abs(h)                # negative = top-down row order
        planes, bpp = struct.unpack_from("<HH", b, 26)
    elif hdr_size == 12:          # ancient BITMAPCOREHEADER
        w, h = struct.unpack_from("<HH", b, 18)
        planes, bpp = struct.unpack_from("<HH", b, 22)
    else:
        return None
    if planes != 1 or bpp not in (1, 4, 8, 16, 24, 32):
        return None
    if not (0 < w <= 1 << 20 and 0 < h <= 1 << 20):
        return None
    return ImageHeader("image/bmp", w, h, None)


def _probe_webp(b: bytes) -> Optional[ImageHeader]:
    if len(b) < 30 or b[8:12] != b"WEBP":
        return None
    fourcc = b[12:16]
    if fourcc == b"VP8X":         # extended: canvas size u24le minus-one
        w = int.from_bytes(b[24:27], "little") + 1
        h = int.from_bytes(b[27:30], "little") + 1
        return ImageHeader("image/webp", w, h, None)
    if fourcc == b"VP8L":         # lossless: 14+14 bits packed minus-one
        if b[20] != 0x2F:
            return None
        bits = int.from_bytes(b[21:25], "little")
        w = (bits & 0x3FFF) + 1
        h = ((bits >> 14) & 0x3FFF) + 1
        return ImageHeader("image/webp", w, h, None)
    if fourcc == b"VP8 ":         # lossy: key-frame dims at +26
        w = struct.unpack_from("<H", b, 26)[0] & 0x3FFF
        h = struct.unpack_from("<H", b, 28)[0] & 0x3FFF
        if w == 0 or h == 0:
            return None
        return ImageHeader("image/webp", w, h, 3)
    return None


def probe_dimensions(payload: Optional[bytes]) -> Optional[ImageHeader]:
    """Container-header image dimensions, or None when the payload isn't a
    recognized image (or is too truncated to carry its own header)."""
    if not payload or len(payload) < 10:
        return None
    b = payload
    if b[:3] == b"\xff\xd8\xff":
        return _probe_jpeg(b)
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        return _probe_png(b)
    if b[:6] in (b"GIF87a", b"GIF89a"):
        return _probe_gif(b)
    if b[:2] == b"BM":
        return _probe_bmp(b)
    if b[:4] == b"RIFF":
        if b[8:12] == b"AVI ":
            return _probe_avi(b)
        return _probe_webp(b)
    if b[4:8] == b"ftyp":
        if b[8:12] in (b"heic", b"heix", b"hevc", b"hevx", b"mif1",
                       b"msf1", b"avif", b"avis"):
            return _probe_heif(b)
        return _probe_mp4(b)
    if b[:4] == b"\x1a\x45\xdf\xa3":
        return _probe_webm(b)
    head = b[:16].lstrip()
    if head[:4].lower() == b"<svg" or head[:5].lower() == b"<?xml":
        return _probe_svg(b)
    return None


def _probe_svg(b: bytes) -> Optional[ImageHeader]:
    """SVG geometry from the root element: width/height attributes
    (px or unitless; other units are rejected — resolving em/%/mm
    needs a layout context), falling back to the viewBox extent.
    Vector formats have no pixel decode, so this IS the whole
    header-only story for them."""
    import re

    m = re.search(br"<svg\b[^>]*>", b[:4096], re.IGNORECASE | re.DOTALL)
    if m is None:
        return None
    tag = m.group(0)

    def attr(name):
        am = re.search(br'\b' + name + br'\s*=\s*["\']([^"\']+)["\']',
                       tag, re.IGNORECASE)
        return am.group(1).strip() if am else None

    def as_px(v):
        if v is None:
            return None
        vm = re.fullmatch(br"([0-9]+(?:\.[0-9]+)?)(px)?", v)
        return int(float(vm.group(1))) if vm else None

    w, h = as_px(attr(b"width")), as_px(attr(b"height"))
    if not (w and h):
        vb = attr(b"viewBox")
        if vb:
            parts = re.split(br"[\s,]+", vb)
            if len(parts) == 4:
                try:
                    w = w or int(float(parts[2]))
                    h = h or int(float(parts[3]))
                except ValueError:
                    pass
    if w and h:
        return ImageHeader("image/svg+xml", w, h, None)
    return None


def make_svg_header(width: int, height: int,
                    viewbox_only: bool = False) -> bytes:
    """Minimal well-formed SVG document fixture."""
    if viewbox_only:
        dims = f'viewBox="0 0 {width} {height}"'
    else:
        dims = f'width="{width}" height="{height}"'
    return (f'<?xml version="1.0"?>\n<svg xmlns="http://www.w3.org/'
            f'2000/svg" {dims}><rect/></svg>').encode("ascii")


# ------------------------------------------------- test-fixture encoders
# Minimal valid headers for each container, used by unit tests and the
# catalog query's synthetic corpus (deterministic: same args, same bytes).

def make_jpeg_header(width: int, height: int, channels: int = 3) -> bytes:
    """SOI + JFIF APP0 + SOF0 + EOI — a structurally-valid JPEG prefix
    (no entropy data; the probe never reads past SOF)."""
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01" + \
        b"\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00"
    comps = b"".join(
        bytes([cid + 1, 0x11, 0]) for cid in range(channels)
    )
    sof_len = 8 + 3 * channels
    sof = b"\xff\xc0" + struct.pack(">HBHHB", sof_len, 8, height, width,
                                    channels) + comps
    return b"\xff\xd8" + app0 + sof + b"\xff\xd9"


def make_gif_header(width: int, height: int) -> bytes:
    return (b"GIF89a" + struct.pack("<HH", width, height)
            + b"\x00\x00\x00" + b"\x3b")


def make_bmp_header(width: int, height: int) -> bytes:
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                       0, 2835, 2835, 0, 0)
    file_hdr = b"BM" + struct.pack("<IHHI", 14 + 40, 0, 0, 14 + 40)
    return file_hdr + info


def make_webp_vp8x_header(width: int, height: int) -> bytes:
    payload = (b"\x00\x00\x00\x00"
               + (width - 1).to_bytes(3, "little")
               + (height - 1).to_bytes(3, "little"))
    chunk = b"VP8X" + struct.pack("<I", len(payload)) + payload
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


# ------------------------------------------------- video containers
# Round 5: video stays pixel-stubbed (no codec decode), but the two
# dominant web containers carry their geometry in plain metadata the
# probe can walk — the thumbnail/aspect filter question answered for
# video rows at the same cost as for images.


def _probe_mp4(b: bytes) -> Optional[ImageHeader]:
    """ISO BMFF box walk: moov -> trak -> tkhd carries the track's
    presentation width/height as 16.16 fixed point; the first track
    with nonzero geometry is the video track."""
    def boxes(buf, pos, end):
        while pos + 8 <= end:
            size = struct.unpack_from(">I", buf, pos)[0]
            fourcc = buf[pos + 4:pos + 8]
            head = 8
            if size == 1:
                if pos + 16 > end:
                    return
                size = struct.unpack_from(">Q", buf, pos + 8)[0]
                head = 16
            elif size == 0:            # box extends to end of file
                size = end - pos
            if size < head or pos + size > end:
                return
            yield fourcc, pos + head, pos + size
            pos += size

    for cc, s, e in boxes(b, 0, len(b)):
        if cc != b"moov":
            continue
        for cc2, s2, e2 in boxes(b, s, e):
            if cc2 != b"trak":
                continue
            for cc3, s3, e3 in boxes(b, s2, e2):
                if cc3 != b"tkhd" or e3 - s3 < 84:
                    continue
                ver = b[s3]
                off = s3 + (88 if ver == 1 else 76)
                if off + 8 > e3:
                    continue
                w = struct.unpack_from(">I", b, off)[0] >> 16
                h = struct.unpack_from(">I", b, off + 4)[0] >> 16
                if w and h:
                    return ImageHeader("video/mp4", w, h, None)
    return None


def _probe_heif(b: bytes) -> Optional[ImageHeader]:
    """HEIF/AVIF still geometry: meta → iprp → ipco → ispe carries the
    image spatial extents.  ``meta`` is a FullBox (4 version/flags
    bytes before its children); the property containers are plain
    boxes.  HEVC/AV1 pixel decode needs codec libraries, so this
    header path is the whole story for these brands."""
    mtype = ("image/avif" if b[8:12] in (b"avif", b"avis")
             else "image/heic")

    def boxes(pos, end, fullbox=False):
        if fullbox:
            pos += 4
        while pos + 8 <= end:
            size = struct.unpack_from(">I", b, pos)[0]
            cc = b[pos + 4:pos + 8]
            head = 8
            if size == 1:
                if pos + 16 > end:
                    return
                size = struct.unpack_from(">Q", b, pos + 8)[0]
                head = 16
            elif size == 0:
                size = end - pos
            if size < head or pos + size > end:
                return
            yield cc, pos + head, pos + size
            pos += size

    for cc, s, e in boxes(0, len(b)):
        if cc != b"meta":
            continue
        for cc2, s2, e2 in boxes(s, e, fullbox=True):
            if cc2 != b"iprp":
                continue
            for cc3, s3, e3 in boxes(s2, e2):
                if cc3 != b"ipco":
                    continue
                for cc4, s4, e4 in boxes(s3, e3):
                    if cc4 == b"ispe" and e4 - s4 >= 12:
                        w, h = struct.unpack_from(">II", b, s4 + 4)
                        if w and h:
                            return ImageHeader(mtype, w, h, None)
    return None


def make_heif_header(width: int, height: int,
                     brand: bytes = b"heic") -> bytes:
    """Minimal HEIF/AVIF prefix: ftyp + meta/iprp/ipco/ispe."""
    ispe = struct.pack(">I4sIII", 20, b"ispe", 0, width, height)
    ipco = struct.pack(">I4s", 8 + len(ispe), b"ipco") + ispe
    iprp = struct.pack(">I4s", 8 + len(ipco), b"iprp") + ipco
    meta = struct.pack(">I4sI", 12 + len(iprp), b"meta", 0) + iprp
    ftyp = struct.pack(">I4s", 16, b"ftyp") + brand + b"\x00\x00\x00\x00"
    return ftyp + meta


def _probe_avi(b: bytes) -> Optional[ImageHeader]:
    """RIFF AVI geometry: the avih main header (inside the hdrl LIST)
    carries dwWidth/dwHeight at offsets 32/36 — the header-only
    fallback for AVIs whose codec has no decoder here."""
    from .avi_codec import _chunks

    end = min(len(b), 8 + struct.unpack_from("<I", b, 4)[0])
    for cid, s, e in _chunks(b, 12, end):
        if cid == b"LIST" and b[s:s + 4] == b"hdrl":
            for cid2, s2, e2 in _chunks(b, s + 4, e):
                if cid2 == b"avih" and e2 - s2 >= 40:
                    w, h = struct.unpack_from("<II", b, s2 + 32)
                    if w and h:
                        return ImageHeader("video/avi", w, h, None)
    return None


def _probe_webm(b: bytes) -> Optional[ImageHeader]:
    """EBML walk: Segment -> Tracks -> TrackEntry -> Video carries
    PixelWidth (0xB0) / PixelHeight (0xBA).  Unknown-size elements
    (all-ones size, standard for live Segments) extend to the end."""
    from .webm_codec import _data_size, _vint

    DESCEND = {0x18538067, 0x1654AE6B, 0xAE, 0xE0}  # Segment/Tracks/
    #                                                 TrackEntry/Video
    w = h = 0

    def walk(pos, end, depth):
        nonlocal w, h
        while pos < end and depth < 8:
            got = _vint(b, pos, True)
            if got is None:
                return
            eid, pos = got
            got = _data_size(b, pos)
            if got is None:
                return
            size, pos = got
            # unknown size (any width) or overrun: extend to end of scope
            if size is None or pos + size > end:
                size = end - pos
            if eid in DESCEND:
                walk(pos, pos + size, depth + 1)
            elif eid == 0xB0:
                w = int.from_bytes(b[pos:pos + size], "big")
            elif eid == 0xBA:
                h = int.from_bytes(b[pos:pos + size], "big")
            if w and h:
                return
            pos += size

    # skip the EBML header element, then walk from the Segment
    got = _vint(b, 0, True)
    if got is None or got[0] != 0x1A45DFA3:
        return None
    got2 = _vint(b, got[1], False)
    if got2 is None:
        return None
    walk(got2[0] + got2[1], len(b), 0)
    if w and h:
        return ImageHeader("video/webm", w, h, None)
    return None


def make_mp4_header(width: int, height: int) -> bytes:
    """Minimal valid ISO BMFF prefix: ftyp + moov/trak/tkhd (v0) with
    the 16.16 fixed-point presentation size."""
    tkhd_payload = bytes(4) + bytes(4 * 5) + bytes(8) + bytes(2 * 4) \
        + bytes(36) + struct.pack(">II", width << 16, height << 16)
    tkhd = struct.pack(">I", 8 + len(tkhd_payload)) + b"tkhd" \
        + tkhd_payload
    trak = struct.pack(">I", 8 + len(tkhd)) + b"trak" + tkhd
    moov = struct.pack(">I", 8 + len(trak)) + b"moov" + trak
    ftyp = struct.pack(">I", 16) + b"ftyp" + b"isom" + b"\x00\x00\x02\x00"
    return ftyp + moov


def _ebml_elem(eid: int, payload: bytes) -> bytes:
    idb = eid.to_bytes((eid.bit_length() + 7) // 8, "big")
    n = len(payload)
    # one-byte size when it fits, else 8-byte form
    if n < 127:
        sz = bytes([0x80 | n])
    else:
        sz = bytes([0x01]) + n.to_bytes(7, "big")
    return idb + sz + payload


def make_webm_header(width: int, height: int) -> bytes:
    """Minimal valid EBML/WebM prefix: EBML header + Segment(Tracks(
    TrackEntry(Video(PixelWidth, PixelHeight))))."""
    video = _ebml_elem(0xE0, _ebml_elem(
        0xB0, width.to_bytes(2, "big"))
        + _ebml_elem(0xBA, height.to_bytes(2, "big")))
    entry = _ebml_elem(0xAE, video)
    tracks = _ebml_elem(0x1654AE6B, entry)
    ebml_hdr = _ebml_elem(0x1A45DFA3, _ebml_elem(0x4282, b"webm"))
    segment = _ebml_elem(0x18538067, tracks)
    return ebml_hdr + segment


# ------------------------------------------------- audio containers
# Round 5: MP3 decode needs untranscribable Huffman/synthesis tables
# (see kernels/vorbis_codec.py's docstring for why Vorbis is the lossy
# format implemented in full), but the MPEG audio FRAME HEADER is four
# bytes of public fixed tables — sample rate, channel mode and bitrate
# answer the crawl-metadata question with no decoder at all.


class AudioHeader(NamedTuple):
    media_type: str
    n_channels: int
    sample_rate: int
    bitrate_kbps: int


_MP3_BITRATE = {
    # (version_group, layer): kbps by bitrate index 1..14
    (1, 1): [32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384,
             416, 448],
    (1, 2): [32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256,
             320, 384],
    (1, 3): [32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
             256, 320],
    (2, 1): [32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192,
             224, 256],
    (2, 2): [8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144,
             160],
    (2, 3): [8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144,
             160],
}
_MP3_RATES = {3: [44100, 48000, 32000],      # MPEG1
              2: [22050, 24000, 16000],      # MPEG2
              0: [11025, 12000, 8000]}       # MPEG2.5


def _parse_mp3_frame(b: bytes, i: int) -> Optional[AudioHeader]:
    if i + 4 > len(b) or b[i] != 0xFF or (b[i + 1] & 0xE0) != 0xE0:
        return None
    ver = (b[i + 1] >> 3) & 3            # 0=2.5, 2=MPEG2, 3=MPEG1
    layer = (b[i + 1] >> 1) & 3          # 1=III, 2=II, 3=I
    if ver == 1 or layer == 0:
        return None                      # reserved
    br_idx = (b[i + 2] >> 4) & 0xF
    sr_idx = (b[i + 2] >> 2) & 3
    if br_idx in (0, 15) or sr_idx == 3:
        return None                      # free-format / reserved
    vgroup = 1 if ver == 3 else 2
    lnum = 4 - layer                     # layer bits -> I/II/III number
    kbps = _MP3_BITRATE[(vgroup, lnum)][br_idx - 1]
    rate = _MP3_RATES[ver][sr_idx]
    mode = (b[i + 3] >> 6) & 3
    return AudioHeader("audio/mpeg", 1 if mode == 3 else 2, rate, kbps)


def probe_audio(payload: Optional[bytes]) -> Optional[AudioHeader]:
    """MPEG audio (MP3) header probe: skips an ID3v2 tag (synchsafe
    size), finds the first frame sync, and reads rate/channels/bitrate
    from the fixed header tables.  None for anything else."""
    if not payload or len(payload) < 4:
        return None
    b = payload
    if b[:4] == b"OggS" and len(b) >= 28:
        # first packet of the first page: Ogg Opus carries channels +
        # original input rate in OpusHead — the header-only metadata
        # path for the codec the Vorbis decoder routes by name
        nsegs = b[26]
        p = 27 + nsegs
        if b[p:p + 8] == b"OpusHead" and len(b) >= p + 17:
            ch = b[p + 9]
            (rate,) = struct.unpack_from("<I", b, p + 12)
            return AudioHeader("audio/opus", ch, rate, 0)
        return None
    i = 0
    if b[:3] == b"ID3" and len(b) >= 10:
        size = ((b[6] & 0x7F) << 21) | ((b[7] & 0x7F) << 14) \
            | ((b[8] & 0x7F) << 7) | (b[9] & 0x7F)
        i = 10 + size
    # scan a bounded window for the sync (junk before first frame is
    # common in the wild)
    for j in range(i, min(i + 4096, len(b) - 3)):
        hdr = _parse_mp3_frame(b, j)
        if hdr is not None:
            return hdr
    return None


def make_mp3_header(sample_rate: int = 44100, channels: int = 2,
                    kbps: int = 128, id3: bool = True) -> bytes:
    """Minimal MP3 prefix: optional empty ID3v2 tag + one MPEG1
    Layer III frame header (no audio payload — the probe never reads
    past the 4-byte header)."""
    sr_idx = _MP3_RATES[3].index(sample_rate)
    br_idx = _MP3_BITRATE[(1, 3)].index(kbps) + 1
    b1 = 0xE0 | (3 << 3) | (1 << 1) | 1  # MPEG1, Layer III, no CRC
    b2 = (br_idx << 4) | (sr_idx << 2)
    b3 = (3 if channels == 1 else 0) << 6
    frame = bytes((0xFF, b1, b2, b3))
    if id3:
        return b"ID3\x04\x00\x00\x00\x00\x00\x00" + frame
    return frame
