"""Media codecs (SURVEY.md §2.11): stdlib-only kernels that turn image
and audio bytes into typed metadata, pixels and samples. q201 runs them
inside an Arrow-batched applyInPandas group — byte-level media decoding
has no Catalyst expression, so this is where the engine leaves the JVM.

Decode kernels are REAL for every format the Python stdlib can handle:

  WAV   — full decode (header + PCM samples) via `wave` + numpy
  BMP   — full decode (24-bit uncompressed BI_RGB) via `struct` + numpy
  PPM   — full decode (binary P6) by hand
  PNG   — full decode (8-bit RGB/RGBA, all five scanline unfilters) via
          stdlib `zlib`; palette/interlace/16-bit variants raise
  GIF   — header decode (logical screen descriptor)
  JPEG  — header decode (SOF0/1/2 frame dimensions by marker scan)

Only genuinely absent codecs (JPEG entropy decode, MP4/MKV/WebM video,
MP3/FLAC audio) and exotic PNG variants raise NotImplementedError.
Encoders (`encode_wav`, `encode_bmp`, `encode_ppm`, `encode_png`) exist so tests and
the registry query can round-trip real bytes through the real kernels.
"""

from __future__ import annotations

import io
import struct
import wave


# --- encoders (fixture + round-trip side) ------------------------------------


def encode_wav(samples, sample_rate: int = 8000) -> bytes:
    """16-bit signed mono PCM WAV from an int sequence (values in int16 range).
    Exact round trip: decode(encode(s)) == s."""
    import numpy as np

    arr = np.asarray(samples, dtype=np.int16)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(arr.tobytes())
    return buf.getvalue()


def encode_bmp(pixels) -> bytes:
    """24-bit uncompressed BI_RGB BMP from an HxWx3 uint8 RGB array
    (bottom-up rows, BGR byte order, 4-byte row padding — the classic
    Windows 3.x BITMAPINFOHEADER layout)."""
    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = px.shape
    row_bytes = w * 3
    pad = (4 - row_bytes % 4) % 4
    body = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        body += px[y, :, ::-1].tobytes()  # RGB -> BGR
        body += b"\x00" * pad
    pixel_offset = 14 + 40
    size = pixel_offset + len(body)
    header = struct.pack("<2sIHHI", b"BM", size, 0, 0, pixel_offset)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return header + info + bytes(body)


def encode_ppm(pixels) -> bytes:
    """Binary P6 PPM from an HxWx3 uint8 RGB array."""
    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = px.shape
    return f"P6\n{w} {h}\n255\n".encode() + px.tobytes()


# --- decoders (real, stdlib-only) ---------------------------------------------


def decode_wav_samples(content: bytes):
    """Full WAV decode: (meta dict, int16 numpy samples, interleaved)."""
    import numpy as np

    with wave.open(io.BytesIO(content), "rb") as w:
        meta = {
            "n_channels": w.getnchannels(),
            "sample_width": w.getsampwidth(),
            "sample_rate": w.getframerate(),
            "n_frames": w.getnframes(),
        }
        raw = w.readframes(w.getnframes())
    if meta["sample_width"] == 2:
        samples = np.frombuffer(raw, dtype="<i2")
    elif meta["sample_width"] == 1:
        samples = np.frombuffer(raw, dtype=np.uint8).astype(np.int16) - 128
    else:
        raise NotImplementedError(f"WAV sample width {meta['sample_width']}")
    return meta, samples


def decode_bmp_pixels(content: bytes):
    """Full 24-bit BI_RGB BMP decode -> HxWx3 uint8 RGB array."""
    import numpy as np

    if content[:2] != b"BM":
        raise NotImplementedError("not a BMP")
    pixel_offset = struct.unpack_from("<I", content, 10)[0]
    header_size = struct.unpack_from("<I", content, 14)[0]
    if header_size < 40:
        raise NotImplementedError("BMP core-header variant")
    w, h = struct.unpack_from("<ii", content, 18)
    planes, bpp = struct.unpack_from("<HH", content, 26)
    compression = struct.unpack_from("<I", content, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError(f"BMP bpp={bpp} compression={compression}")
    top_down = h < 0
    h = abs(h)
    row_bytes = w * 3
    stride = row_bytes + (4 - row_bytes % 4) % 4
    out = np.empty((h, w, 3), dtype=np.uint8)
    for i in range(h):
        y = i if top_down else h - 1 - i
        off = pixel_offset + i * stride
        row = np.frombuffer(content, dtype=np.uint8, count=row_bytes, offset=off)
        out[y] = row.reshape(w, 3)[:, ::-1]  # BGR -> RGB
    return out


def decode_ppm_pixels(content: bytes):
    """Binary P6 PPM decode -> HxWx3 uint8 RGB array."""
    import numpy as np

    if content[:2] != b"P6":
        raise NotImplementedError("only binary P6 PPM supported")
    # header: P6, whitespace/comment-separated width height maxval, 1 ws byte
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(content) and content[pos : pos + 1].isspace():
            pos += 1
        if content[pos : pos + 1] == b"#":
            while pos < len(content) and content[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(content) and not content[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(content[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise NotImplementedError("PPM maxval != 255")
    px = np.frombuffer(content, dtype=np.uint8, count=w * h * 3, offset=pos)
    return px.reshape(h, w, 3).copy()


def _png_dims(content: bytes) -> tuple[int, int]:
    if content[:8] != b"\x89PNG\r\n\x1a\n" or content[12:16] != b"IHDR":
        raise NotImplementedError("not a PNG (or missing IHDR)")
    w, h = struct.unpack_from(">II", content, 16)
    return w, h


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(pixels) -> bytes:
    """8-bit RGB PNG encoder (color type 2, no interlace). Each scanline
    uses filter y % 5, cycling through None/Sub/Up/Average/Paeth — a valid
    PNG any reader accepts, chosen so round-trip tests exercise EVERY
    unfilter path in decode_png_pixels, not just filter 0."""
    import zlib

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    h, w, c = px.shape
    assert c == 3, "encode_png writes RGB"
    raw = px.astype(np.int16)
    lines = []
    prev = np.zeros((w, 3), dtype=np.int16)
    for y in range(h):
        cur = raw[y]
        f = y % 5
        left = np.vstack([np.zeros((1, 3), np.int16), cur[:-1]])
        ul = np.vstack([np.zeros((1, 3), np.int16), prev[:-1]])
        if f == 0:
            enc = cur
        elif f == 1:
            enc = cur - left
        elif f == 2:
            enc = cur - prev
        elif f == 3:
            enc = cur - (left + prev) // 2
        else:  # Paeth
            p = left + prev - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
            pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul))
            enc = cur - pred
        lines.append(bytes([f]) + (enc % 256).astype(np.uint8).tobytes())
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png_pixels(content: bytes):
    """Full PNG decode for 8-bit truecolor (color type 2) and truecolor+
    alpha (6, alpha dropped) -> HxWx3 uint8 RGB. Pure stdlib: zlib
    inflate + the five scanline unfilters (None/Sub/Up/Average/Paeth).
    Palette, interlace, and 16-bit stay NotImplementedError — those are
    format VARIANTS, not absent codecs, and the error says which."""
    import zlib

    import numpy as np

    if content[:8] != b"\x89PNG\r\n\x1a\n":
        raise NotImplementedError("not a PNG")
    pos, idat, meta = 8, [], None
    while pos + 8 <= len(content):
        (ln,) = struct.unpack_from(">I", content, pos)
        tag = content[pos + 4 : pos + 8]
        payload = content[pos + 8 : pos + 8 + ln]
        if tag == b"IHDR":
            w, h, depth, ctype, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            meta = (w, h, depth, ctype, comp, filt, interlace)
        elif tag == b"IDAT":
            idat.append(payload)
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if meta is None or not idat:
        raise NotImplementedError("PNG without IHDR/IDAT")
    w, h, depth, ctype, comp, filt, interlace = meta
    if depth != 8 or ctype not in (2, 6) or comp or filt or interlace:
        raise NotImplementedError(
            f"PNG variant bit_depth={depth} color_type={ctype} "
            f"interlace={interlace} (only 8-bit RGB/RGBA, non-interlaced)"
        )
    nch = 3 if ctype == 2 else 4
    data = zlib.decompress(b"".join(idat))
    stride = w * nch
    if len(data) != h * (1 + stride):
        raise NotImplementedError("PNG IDAT size mismatch (corrupt)")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        f = data[y * (1 + stride)]
        line = np.frombuffer(
            data, dtype=np.uint8, count=stride, offset=y * (1 + stride) + 1
        ).copy()
        if f == 0:
            cur = line
        elif f == 2:  # Up — vectorizable
            cur = line + prev
        elif f in (1, 3, 4):  # Sub/Average/Paeth carry left-to-right state
            cur = line
            for x in range(stride):
                a = int(cur[x - nch]) if x >= nch else 0
                b = int(prev[x])
                if f == 1:
                    cur[x] = (cur[x] + a) & 0xFF
                elif f == 3:
                    cur[x] = (cur[x] + (a + b) // 2) & 0xFF
                else:
                    c = int(prev[x - nch]) if x >= nch else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    cur[x] = (cur[x] + pred) & 0xFF
        else:
            raise NotImplementedError(f"PNG filter {f}")
        out[y] = cur
        prev = cur
    px = out.reshape(h, w, nch)
    return px[:, :, :3].copy() if nch == 4 else px


def _gif_dims(content: bytes) -> tuple[int, int]:
    if content[:6] not in (b"GIF87a", b"GIF89a"):
        raise NotImplementedError("not a GIF")
    w, h = struct.unpack_from("<HH", content, 6)
    return w, h


def _jpeg_dims(content: bytes) -> tuple[int, int]:
    """Scan JPEG markers for the SOF0/1/2 frame header (dimensions only —
    entropy decode is a genuinely absent codec here)."""
    if content[:2] != b"\xff\xd8":
        raise NotImplementedError("not a JPEG")
    pos = 2
    while pos + 4 <= len(content):
        if content[pos] != 0xFF:
            pos += 1
            continue
        marker = content[pos + 1]
        if marker in (0xC0, 0xC1, 0xC2):  # SOF0/1/2
            h, w = struct.unpack_from(">HH", content, pos + 5)
            return w, h
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        seglen = struct.unpack_from(">H", content, pos + 2)[0]
        pos += 2 + seglen
    raise NotImplementedError("JPEG without SOF marker (truncated/corrupt)")


def decode_bytes(content: bytes) -> dict:
    """Magic-byte-dispatched metadata decode. Raises NotImplementedError
    for formats whose codec is genuinely absent (MP4/MKV/WebM, MP3, FLAC)
    or unrecognized bytes."""
    base = {
        "format": None, "width": None, "height": None, "n_frames": None,
        "sample_rate": None, "n_channels": None, "sample_width": None,
    }
    if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        meta, _ = decode_wav_samples(content)
        return {**base, "format": "wav", "n_frames": meta["n_frames"],
                "sample_rate": meta["sample_rate"],
                "n_channels": meta["n_channels"],
                "sample_width": meta["sample_width"]}
    if content[:2] == b"BM":
        px = decode_bmp_pixels(content)
        return {**base, "format": "bmp", "width": px.shape[1],
                "height": px.shape[0], "n_frames": 1}
    if content[:2] == b"P6":
        px = decode_ppm_pixels(content)
        return {**base, "format": "ppm", "width": px.shape[1],
                "height": px.shape[0], "n_frames": 1}
    if content[:8] == b"\x89PNG\r\n\x1a\n":
        # metadata pass: full-decode when the variant is supported (also
        # validates the stream), else degrade to header dims — the same
        # header-only treatment GIF/JPEG get here. decode_png_pixels is
        # where an undecodable PNG must raise.
        try:
            px = decode_png_pixels(content)
            return {**base, "format": "png", "width": int(px.shape[1]),
                    "height": int(px.shape[0]), "n_frames": 1}
        except NotImplementedError:
            w, h = _png_dims(content)
            return {**base, "format": "png", "width": w, "height": h,
                    "n_frames": 1}
    if content[:6] in (b"GIF87a", b"GIF89a"):
        w, h = _gif_dims(content)
        return {**base, "format": "gif", "width": w, "height": h, "n_frames": 1}
    if content[:2] == b"\xff\xd8":
        w, h = _jpeg_dims(content)
        return {**base, "format": "jpeg", "width": w, "height": h, "n_frames": 1}
    raise NotImplementedError(
        f"no stdlib codec for content starting {content[:8]!r} "
        "(MP4/MKV/WebM/MP3/FLAC decode requires ffmpeg-class libraries)"
    )
