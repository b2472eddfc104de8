"""HEIC / AVIF decode through the system libheif, dlopen-gated.

HEIF-family stills (HEVC-coded ``heic`` and AV1-coded ``avif``) are
the one web image family whose entropy coding is genuinely out of
reach for a pure-Python clean-room build (CABAC / multi-symbol range
coding over large adaptive contexts).  Production image pipelines
link the native codecs instead — and this container ships them:
libheif 1.15 with libde265 (HEVC) and libaom/libdav1d (AV1) backends.
This module binds the small public C API via ctypes behind the same
seam every other decoder uses:

* `heif_available()` — True when the shared library loads;
* `decode_heif(payload)` — primary image to interleaved RGB(A) with
  the shared decompression-bomb gate, releasing every native object
  (mapInPandas workers are long-lived);
* `encode_heif(...)` — fixture encoder (HEVC or AV1, optional
  lossless) so tests can roundtrip without external payloads.

When the library is absent, `decode_media` keeps the routed
NotImplementedError exactly as before — the pure-Python geometry
probe (`media_probe`, ispe box) still supplies header-only metadata.
The reference treats these inputs as out-of-scope binaries
(`core/input/types.py:39-105`).
"""

from __future__ import annotations

import ctypes
import os
import tempfile
from typing import List, NamedTuple, Optional

MAX_PIXELS = 1 << 26     # shared decode guard with the other codecs

# public enum values from libheif's heif.h (stable ABI)
_COL_RGB = 1
_CHROMA_RGB = 10         # interleaved RGB
_CHROMA_RGBA = 11        # interleaved RGBA
_CH_INTERLEAVED = 10
_COMP_HEVC = 1
_COMP_AV1 = 4


class _HeifError(ctypes.Structure):
    _fields_ = [("code", ctypes.c_int), ("subcode", ctypes.c_int),
                ("message", ctypes.c_char_p)]


class DecodedHeif(NamedTuple):
    width: int
    height: int
    channels: int
    pixels: bytes        # interleaved RGB or RGBA, row-major


_LIB = None
_TRIED = False


def _load():
    global _LIB, _TRIED
    if _TRIED:
        return _LIB
    _TRIED = True
    try:
        lh = ctypes.CDLL("libheif.so.1")
    except OSError:
        return None
    P = ctypes.c_void_p

    def fn(name, restype, argtypes):
        f = getattr(lh, name)
        f.restype = restype
        f.argtypes = argtypes
        return f

    lh._ctx_alloc = fn("heif_context_alloc", P, [])
    lh._ctx_free = fn("heif_context_free", None, [P])
    lh._read = fn("heif_context_read_from_memory_without_copy",
                  _HeifError, [P, ctypes.c_char_p, ctypes.c_size_t, P])
    lh._primary = fn("heif_context_get_primary_image_handle",
                     _HeifError, [P, ctypes.POINTER(P)])
    lh._hw = fn("heif_image_handle_get_width", ctypes.c_int, [P])
    lh._hh = fn("heif_image_handle_get_height", ctypes.c_int, [P])
    lh._halpha = fn("heif_image_handle_has_alpha_channel",
                    ctypes.c_int, [P])
    lh._hrel = fn("heif_image_handle_release", None, [P])
    lh._decode = fn("heif_decode_image", _HeifError,
                    [P, ctypes.POINTER(P), ctypes.c_int, ctypes.c_int,
                     P])
    lh._plane_ro = fn("heif_image_get_plane_readonly",
                      ctypes.POINTER(ctypes.c_uint8),
                      [P, ctypes.c_int, ctypes.POINTER(ctypes.c_int)])
    lh._img_rel = fn("heif_image_release", None, [P])
    lh._get_enc = fn("heif_context_get_encoder_for_format",
                     _HeifError, [P, ctypes.c_int, ctypes.POINTER(P)])
    lh._enc_rel = fn("heif_encoder_release", None, [P])
    lh._enc_lossless = fn("heif_encoder_set_lossless", _HeifError,
                          [P, ctypes.c_int])
    lh._enc_quality = fn("heif_encoder_set_lossy_quality", _HeifError,
                         [P, ctypes.c_int])
    lh._img_create = fn("heif_image_create", _HeifError,
                        [ctypes.c_int, ctypes.c_int, ctypes.c_int,
                         ctypes.c_int, ctypes.POINTER(P)])
    lh._add_plane = fn("heif_image_add_plane", _HeifError,
                       [P, ctypes.c_int, ctypes.c_int, ctypes.c_int,
                        ctypes.c_int])
    lh._plane = fn("heif_image_get_plane",
                   ctypes.POINTER(ctypes.c_uint8),
                   [P, ctypes.c_int, ctypes.POINTER(ctypes.c_int)])
    lh._enc_img = fn("heif_context_encode_image", _HeifError,
                     [P, P, P, P, P])
    lh._write = fn("heif_context_write_to_file", _HeifError,
                   [P, ctypes.c_char_p])
    _LIB = lh
    return lh


def heif_available() -> bool:
    return _load() is not None


def _check(e: _HeifError, what: str) -> None:
    if e.code:
        msg = (e.message or b"").decode("utf-8", "replace")
        raise ValueError(f"libheif {what} failed: {msg} ({e.code})")


def decode_heif(payload: bytes,
                max_pixels: int = MAX_PIXELS) -> DecodedHeif:
    """Decode the primary image of a HEIC/AVIF payload to interleaved
    RGB (or RGBA when the handle carries alpha) via libheif; raises
    NotImplementedError when the library is absent so the operator
    routes exactly as before."""
    lh = _load()
    if lh is None:
        raise NotImplementedError(
            "HEIC/AVIF decode requires libheif, which is not "
            "loadable in this environment; the geometry probe still "
            "supplies header metadata")
    ctx = lh._ctx_alloc()
    handle = ctypes.c_void_p()
    img = ctypes.c_void_p()
    try:
        _check(lh._read(ctx, payload, len(payload), None), "read")
        _check(lh._primary(ctx, ctypes.byref(handle)), "primary")
        w, h = lh._hw(handle), lh._hh(handle)
        if w <= 0 or h <= 0:
            raise ValueError("HEIF handle reports empty geometry")
        if w * h > max_pixels:
            raise ValueError(
                f"HEIF dimensions {w}x{h} exceed the {max_pixels}"
                "-pixel decode guard (decompression-bomb protection)")
        alpha = bool(lh._halpha(handle))
        chroma = _CHROMA_RGBA if alpha else _CHROMA_RGB
        nch = 4 if alpha else 3
        _check(lh._decode(handle, ctypes.byref(img), _COL_RGB,
                          chroma, None), "decode")
        stride = ctypes.c_int()
        p = lh._plane_ro(img, _CH_INTERLEAVED, ctypes.byref(stride))
        if not p:
            raise ValueError("libheif returned no interleaved plane")
        row = w * nch
        base = ctypes.addressof(p.contents)
        pixels = b"".join(
            bytes((ctypes.c_uint8 * row).from_address(
                base + y * stride.value)) for y in range(h))
        return DecodedHeif(w, h, nch, pixels)
    finally:
        if img:
            lh._img_rel(img)
        if handle:
            lh._hrel(handle)
        lh._ctx_free(ctx)


def encode_heif(width: int, height: int, rgb: bytes,
                fmt: str = "heic", quality: int = 75,
                lossless: bool = False,
                alpha: bool = False) -> bytes:
    """Fixture encoder: RGB (or RGBA with ``alpha=True``) through
    libheif's HEVC (``heic``) or AV1 (``avif``) encoder.  Raises
    NotImplementedError without the library (tests gate on
    `heif_available`)."""
    lh = _load()
    if lh is None:
        raise NotImplementedError("libheif not loadable")
    assert fmt in ("heic", "avif")
    nch = 4 if alpha else 3
    assert len(rgb) == width * height * nch
    comp = _COMP_HEVC if fmt == "heic" else _COMP_AV1
    ctx = lh._ctx_alloc()
    enc = ctypes.c_void_p()
    img = ctypes.c_void_p()
    try:
        _check(lh._get_enc(ctx, comp, ctypes.byref(enc)), "encoder")
        if lossless:
            lh._enc_lossless(enc, 1)
        else:
            lh._enc_quality(enc, quality)
        _check(lh._img_create(width, height, _COL_RGB,
                              _CHROMA_RGBA if alpha else _CHROMA_RGB,
                              ctypes.byref(img)), "image_create")
        _check(lh._add_plane(img, _CH_INTERLEAVED, width, height, 8),
               "add_plane")
        stride = ctypes.c_int()
        p = lh._plane(img, _CH_INTERLEAVED, ctypes.byref(stride))
        base = ctypes.addressof(p.contents)
        row = width * nch
        for y in range(height):
            ctypes.memmove(base + y * stride.value,
                           rgb[y * row:(y + 1) * row], row)
        _check(lh._enc_img(ctx, img, enc, None, None), "encode")
        fd, path = tempfile.mkstemp(suffix=f".{fmt}")
        os.close(fd)
        try:
            _check(lh._write(ctx, path.encode()), "write")
            with open(path, "rb") as fh:
                return fh.read()
        finally:
            os.unlink(path)
    finally:
        if img:
            lh._img_rel(img)
        if enc:
            lh._enc_rel(enc)
        lh._ctx_free(ctx)


# ---------------------------------------------------------- AV1 bridge

def _box(cc: bytes, body: bytes) -> bytes:
    import struct

    return struct.pack(">I", 8 + len(body)) + cc + body


def _wrap_item_as_heif(brand: bytes, item_type: bytes,
                       cfg_fourcc: bytes, cfg: bytes, data: bytes,
                       width: int, height: int) -> bytes:
    """Wrap one coded still item (AV1 temporal unit or HEVC
    length-prefixed NALs) in a minimal valid HEIF container so the
    gated libheif path can decode it: ftyp +
    meta(hdlr/pitm/iloc/iinf/iprp[ipco(cfg,ispe)+ipma]) + mdat."""
    import struct

    ftyp = _box(b"ftyp", brand + bytes(4) + brand + b"mif1")
    hdlr = _box(b"hdlr", bytes(4) + bytes(4) + b"pict" + bytes(12))
    pitm = _box(b"pitm", bytes(4) + struct.pack(">H", 1))
    iinf = _box(b"iinf", bytes(4) + struct.pack(">H", 1)
                + _box(b"infe", b"\x02" + bytes(3)
                       + struct.pack(">HH", 1, 0) + item_type
                       + b"Image\x00"))
    cfg_box = _box(cfg_fourcc, cfg)
    ispe = _box(b"ispe", bytes(4)
                + struct.pack(">II", width, height))
    ipco = _box(b"ipco", cfg_box + ispe)
    # ipma: item 1 -> property 1 (av1C, essential) + property 2 (ispe)
    ipma = _box(b"ipma", bytes(4) + struct.pack(">I", 1)
                + struct.pack(">H", 1) + b"\x02"
                + bytes([0x80 | 1, 2]))
    iprp = _box(b"iprp", ipco + ipma)
    # iloc with a 4-byte absolute extent offset, patched after layout
    iloc = _box(b"iloc", bytes(4) + b"\x44\x00"
                + struct.pack(">H", 1)
                + struct.pack(">HHH", 1, 0, 1)
                + struct.pack(">II", 0, len(data)))
    meta_body = bytes(4) + hdlr + pitm + iloc + iinf + iprp
    meta = _box(b"meta", meta_body)
    mdat_off = len(ftyp) + len(meta) + 8
    out = bytearray(ftyp + meta + _box(b"mdat", data))
    # patch the extent_offset (last 8 bytes of iloc body are
    # offset+length); locate iloc inside the assembled buffer
    at = bytes(out).find(b"iloc")
    iloc_end = at + 4 + len(iloc) - 8
    struct.pack_into(">I", out, iloc_end - 8, mdat_off)
    return bytes(out)


def wrap_av1_obus_as_avif(obus: bytes, width: int, height: int,
                          av1c: bytes) -> bytes:
    """Minimal AVIF around a raw AV1 temporal unit; ``av1c`` is the
    AV1CodecConfigurationBox content (= Matroska V_AV1
    CodecPrivate / the MP4 av01 sample entry's av1C box body)."""
    return _wrap_item_as_heif(b"avif", b"av01", b"av1C", av1c, obus,
                              width, height)


def decode_av1_obus(obus: bytes, width: int, height: int,
                    av1c: bytes,
                    max_pixels: int = MAX_PIXELS) -> DecodedHeif:
    """Decode a raw AV1 key-frame temporal unit via the AVIF wrapper
    (Matroska V_AV1 / MP4 av01 path); same gating and guards as
    decode_heif."""
    if width * height > max_pixels:
        raise ValueError(
            f"AV1 dimensions {width}x{height} exceed the {max_pixels}"
            "-pixel decode guard (decompression-bomb protection)")
    return decode_heif(wrap_av1_obus_as_avif(obus, width, height,
                                             av1c),
                       max_pixels=max_pixels)


def decode_hevc_sample(nals: bytes, width: int, height: int,
                       hvcc: bytes,
                       max_pixels: int = MAX_PIXELS) -> DecodedHeif:
    """Decode one HEVC IDR sample (length-prefixed NAL units, exactly
    the MP4/HEIC item format) via a minimal HEIC wrapper; ``hvcc`` is
    the HEVCDecoderConfigurationRecord (the hvcC box body from the
    MP4 hvc1/hev1 sample entry)."""
    if width * height > max_pixels:
        raise ValueError(
            f"HEVC dimensions {width}x{height} exceed the "
            f"{max_pixels}-pixel decode guard (decompression-bomb "
            "protection)")
    return decode_heif(_wrap_item_as_heif(b"heic", b"hvc1", b"hvcC",
                                          hvcc, nals, width, height),
                       max_pixels=max_pixels)
