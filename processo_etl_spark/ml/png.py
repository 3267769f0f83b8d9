"""Minimal pure-stdlib PNG codec (8-bit grayscale) — the engine's one
image decoder, so "multimodal columns" decodes real
pixels with no imaging library installed.

Scope is deliberately tiny and fully standard (PNG spec / RFC 2083,
public knowledge): color type 0 (grayscale), bit depth 8, no interlace.
That is exactly what the engine's synthetic fixtures emit and enough to
prove the decode path end-to-end: signature → chunk walk (CRC-verified)
→ zlib inflate → per-row unfilter (all five standard filter types,
including Paeth).  Anything outside that scope raises ``ValueError`` so
callers fall back explicitly, never silently.

Only stdlib imports (zlib, struct) — safe on any executor.
"""

from __future__ import annotations

import struct
import zlib

SIGNATURE = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def _text_chunk(key: str, value: str) -> bytes:
    """One spec-valid ``tEXt`` chunk (PNG spec §11.3.4): keyword is
    1–79 latin-1 bytes with no NUL (the NUL is the separator — a NUL
    in the keyword would silently shift the split on read)."""
    kb = key.encode("latin-1")
    if not 1 <= len(kb) <= 79 or b"\x00" in kb:
        raise ValueError(f"invalid tEXt keyword {key!r}")
    return _chunk(b"tEXt", kb + b"\x00" + value.encode("latin-1"))


def encode_gray(
    pixels: bytes,
    width: int,
    height: int,
    text: dict[str, str] | None = None,
) -> bytes:
    """Encode ``width*height`` grayscale bytes (row-major) as a PNG.

    Filter type 0 (None) per scanline — the simplest valid stream; any
    spec-conforming decoder (including :func:`decode_gray`) reads it.
    ``text`` adds standard ``tEXt`` metadata chunks (PNG spec §11.3.4:
    latin-1 ``keyword\\0value``; keywords validated) between IHDR and
    IDAT, emitted in sorted-key order so the byte stream is
    deterministic.
    """
    if len(pixels) != width * height:
        raise ValueError(
            f"need {width * height} pixel bytes, got {len(pixels)}"
        )
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(
        b"\x00" + pixels[r * width : (r + 1) * width] for r in range(height)
    )
    texts = b"".join(
        _text_chunk(k, v) for k, v in sorted((text or {}).items())
    )
    return (
        SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + texts
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def iter_chunks(payload: bytes):
    """CRC-verified chunk walk — THE single framing implementation
    (``decode_gray``, ``text_chunks`` and ``ihdr_dims`` all consume
    it, so validation behavior cannot fork).  Yields ``(tag, body)``
    up to and including IEND.  Raises ``ValueError`` on a bad
    signature, a CRC mismatch, or ANY truncation — inside a chunk
    header, a body, or the CRC trailer — so a cut stream never
    half-parses."""
    if not payload.startswith(SIGNATURE):
        raise ValueError("not a PNG (bad signature)")
    pos = len(SIGNATURE)
    while pos < len(payload):
        if pos + 8 > len(payload):
            raise ValueError("truncated chunk header")
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        if pos + 12 + length > len(payload):
            raise ValueError("truncated chunk")
        body = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {tag!r}")
        yield tag, body
        if tag == b"IEND":
            return
        pos += 12 + length
    # A stream cut at an EXACT chunk boundary before IEND would
    # otherwise end the walk silently, reporting partial metadata as
    # complete — every full walk must end at IEND.
    raise ValueError("truncated PNG (missing IEND)")


def ihdr_dims(payload: bytes) -> tuple[int, int]:
    """(width, height) from the IHDR chunk, which the spec requires to
    be FIRST — a signature-valid stream whose first chunk is anything
    else raises instead of mis-reading metadata bytes as dimensions."""
    for tag, body in iter_chunks(payload):
        if tag != b"IHDR" or len(body) != 13:
            raise ValueError("first chunk is not a valid IHDR")
        w, h = struct.unpack_from(">II", body, 0)
        return w, h
    raise ValueError("empty chunk stream")


def text_chunks(payload: bytes) -> list[tuple[str, str]]:
    """Extract ``tEXt`` metadata (keyword, value) pairs, in stream
    order, CRC-verified — the metadata sidecar every image pipeline
    carries (EXIF's role, in PNG's native chunk form).  Raises
    ``ValueError`` on a non-PNG signature, any truncation, or a CRC
    mismatch; a PNG without tEXt chunks returns ``[]``."""
    out: list[tuple[str, str]] = []
    for tag, body in iter_chunks(payload):
        if tag == b"tEXt":
            key, _, val = body.partition(b"\x00")
            out.append((key.decode("latin-1"), val.decode("latin-1")))
    return out


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_gray(payload: bytes) -> tuple[int, int, bytes]:
    """Decode an 8-bit grayscale PNG → (width, height, row-major pixels).

    Full standard unfilter (None/Sub/Up/Average/Paeth); chunk CRCs are
    verified.  Raises ``ValueError`` on any unsupported shape (color,
    16-bit, interlaced, truncated) — callers choose the fallback.
    """
    width = height = -1
    idat = bytearray()
    for tag, body in iter_chunks(payload):
        if tag == b"IHDR":
            if len(body) != 13:
                raise ValueError("bad IHDR length")
            width, height, depth, color, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", body)
            )
            if (depth, color, comp, filt, interlace) != (8, 0, 0, 0, 0):
                raise ValueError(
                    "only 8-bit grayscale non-interlaced PNG supported "
                    f"(got depth={depth} color={color} interlace={interlace})"
                )
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    if width < 0:
        raise ValueError("missing IHDR")
    stride = width + 1
    # Inflate at most one byte past the IHDR size: a few KiB of crafted
    # DEFLATE can expand to hundreds of MiB, and the overflow byte alone
    # proves the mismatch.
    inflater = zlib.decompressobj()
    try:
        raw = inflater.decompress(bytes(idat), stride * height + 1)
    except zlib.error as e:  # a CRC-valid chunk can still carry bad DEFLATE
        raise ValueError(f"corrupt IDAT stream: {e}") from None
    if len(raw) != stride * height:
        raise ValueError("decompressed size mismatch")
    if not inflater.eof:
        raise ValueError("truncated IDAT stream")
    out = bytearray(width * height)
    prev = bytes(width)
    for r in range(height):
        ftype = raw[r * stride]
        line = bytearray(raw[r * stride + 1 : (r + 1) * stride])
        if ftype == 1:  # Sub
            for i in range(1, width):
                line[i] = (line[i] + line[i - 1]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(width):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(width):
                left = line[i - 1] if i else 0
                line[i] = (line[i] + (left + prev[i]) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(width):
                left = line[i - 1] if i else 0
                ul = prev[i - 1] if i else 0
                line[i] = (line[i] + _paeth(left, prev[i], ul)) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown filter type {ftype}")
        out[r * width : (r + 1) * width] = line
        prev = line
    return width, height, bytes(out)


def try_decode_gray(payload: bytes | None) -> tuple[int, int, bytes] | None:
    """:func:`decode_gray`, or ``None`` for a NULL payload and for any
    payload it rejects (non-PNG, truncated, corrupt, unsupported shape)
    — the one decode-or-fallback gate of the media operators; each
    caller picks its own fallback."""
    if payload is None:
        return None
    try:
        return decode_gray(bytes(payload))
    except ValueError:
        return None
