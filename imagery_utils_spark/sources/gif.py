"""GIF87a codec — from the CompuServe GIF87a spec, including a
from-scratch GIF-variant LZW coder (no external imaging/compression
library; the stdlib has no GIF LZW).

Web-payload rationale: GIF is one of the legacy web image formats
riding in Common-Crawl WARC payloads, next to PNG (sources/png.py).

Implemented profile:
* header + logical screen descriptor + global color table;
* one image descriptor (non-interlaced), indexed 8-bit pixels;
* GIF-LZW: variable code width starting at ``min_code_size + 1``,
  LSB-first bit packing, CLEAR (= 2^mcs) and EOI (= CLEAR+1) codes,
  dictionary growth to the 12-bit ceiling with an explicit CLEAR and
  restart when full (the spec's deferred-clear is honored on decode:
  a full dictionary simply stops growing until a CLEAR arrives);
* 255-byte data sub-block framing, zero-length terminator, trailer.

Encode and decode are independent spec walks (the repo's codec
discipline): the decoder handles the classic KwKwK case (a code one
past the current dictionary end) per the spec's "first char of prior
string" rule, which an encoder-coupled implementation would never
exercise explicitly.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = ["encode_gif", "decode_gif"]

_MAGIC = b"GIF87a"
_MAX_CODE = 1 << 12


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, width: int) -> None:
        self.acc |= code << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.buf.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def done(self) -> bytes:
        if self.nbits:
            self.buf.append(self.acc & 0xFF)
        return bytes(self.buf)


def _lzw_encode(data: bytes, mcs: int) -> bytes:
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    table = {bytes([i]): i for i in range(1 << mcs)}
    next_code = eoi + 1
    width = mcs + 1
    w = _BitWriter()
    w.write(clear, width)
    # Width bookkeeping MIRRORS the decoder exactly: the decoder grows
    # its table by one entry per received data code except the first
    # after a clear, and widens when that count reaches 2^width. The
    # encoder's own dictionary is one add AHEAD mid-stream and skips
    # the add after its final code, so driving the width from
    # next_code desyncs the tail (the decoder widens before EOI, the
    # encoder doesn't — found by hypothesis at |table| == 2^width).
    wcount = eoi + 1
    first = True

    def emit(code: int) -> None:
        nonlocal wcount, width, first
        w.write(code, width)
        if first:
            first = False
        else:
            wcount += 1
            if wcount >= (1 << width) and width < 12:
                width += 1

    cur = b""
    for byte in data:
        nxt = cur + bytes([byte])
        if nxt in table:
            cur = nxt
            continue
        emit(table[cur])
        table[nxt] = next_code
        next_code += 1
        if next_code >= _MAX_CODE:
            w.write(clear, width)
            table = {bytes([i]): i for i in range(1 << mcs)}
            next_code = eoi + 1
            width = mcs + 1
            wcount = eoi + 1
            first = True
        cur = bytes([byte])
    if cur:
        emit(table[cur])
    w.write(eoi, width)
    return w.done()


def _lzw_decode(data: bytes, mcs: int, expect: int) -> bytes:
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    table: list[bytes] = []

    def reset():
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(1 << mcs)] + [b"", b""]
        width = mcs + 1
        prev = None

    width, prev = mcs + 1, None
    reset()
    acc = nbits = 0
    pos = 0
    while True:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("LZW stream truncated (no EOI)")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            reset()
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("first code not in table")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):           # KwKwK
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("LZW code out of range")
        out.extend(entry)
        prev = entry
        if len(table) >= (1 << width) and width < 12:
            width += 1
        if len(out) > expect:
            raise ValueError("LZW output exceeds declared size")
    if len(out) != expect:
        raise ValueError("LZW output size mismatch")
    return bytes(out)


def encode_gif(indices: np.ndarray, palette: np.ndarray) -> bytes:
    """indices: (h, w) uint8 into palette (n<=256, 3) uint8."""
    if indices.dtype != np.uint8 or indices.ndim != 2:
        raise ValueError("indices must be (h, w) uint8")
    if palette.ndim != 2 or palette.shape[1] != 3 or \
            palette.shape[0] > 256:
        raise ValueError("palette must be (n<=256, 3)")
    h, w = indices.shape
    # color-table size: smallest power of two >= palette entries (min 2)
    bits = 1
    while (1 << bits) < palette.shape[0]:
        bits += 1
    n_table = 1 << bits
    if int(indices.max(initial=0)) >= palette.shape[0]:
        raise ValueError("index out of palette range")
    pal = np.zeros((n_table, 3), dtype=np.uint8)
    pal[:palette.shape[0]] = palette
    mcs = max(2, bits)
    out = bytearray(_MAGIC)
    # logical screen descriptor: global table flag, color res, size
    out += struct.pack("<HHBBB", w, h,
                       0x80 | ((bits - 1) & 0x07) << 4 | (bits - 1),
                       0, 0)
    out += pal.tobytes()
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)
    out.append(mcs)
    lzw = _lzw_encode(indices.tobytes(), mcs)
    for i in range(0, len(lzw), 255):
        block = lzw[i:i + 255]
        out.append(len(block))
        out += block
    out.append(0)       # block terminator
    out.append(0x3B)    # trailer
    return bytes(out)


def decode_gif(data: bytes) -> tuple[np.ndarray, np.ndarray]:
    """-> (indices (h, w) uint8, palette (n, 3) uint8)."""
    if data[:6] != _MAGIC:
        raise ValueError("not GIF87a")
    w, h, flags, _bg, _ar = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    if not flags & 0x80:
        raise NotImplementedError("global color table required")
    n_table = 2 << (flags & 0x07)
    pal = np.frombuffer(
        data[pos:pos + 3 * n_table], dtype=np.uint8).reshape(-1, 3)
    pos += 3 * n_table
    if data[pos] != 0x2C:
        raise NotImplementedError("extensions not supported (GIF87a)")
    _l, _t, iw, ih, iflags = struct.unpack("<HHHHB", data[pos + 1:pos + 10])
    pos += 10
    if iflags & 0xC0:
        raise NotImplementedError("local table / interlace unsupported")
    mcs = data[pos]
    pos += 1
    lzw = bytearray()
    while True:
        n = data[pos]
        pos += 1
        if n == 0:
            break
        lzw += data[pos:pos + n]
        pos += n
    if pos >= len(data) or data[pos] != 0x3B:
        raise ValueError("missing trailer")
    raw = _lzw_decode(bytes(lzw), mcs, iw * ih)
    return (np.frombuffer(raw, dtype=np.uint8).reshape(ih, iw).copy(),
            pal.copy())


# --------------------------------------------------------------- GIF89a
# Animation per the CompuServe GIF89a spec: Graphic Control Extensions
# (delay, transparency, disposal), a NETSCAPE2.0 looping application
# extension, and one image descriptor + LZW stream per frame.
# Partial-canvas frames (left/top/iw/ih sub-rectangles) decode with
# their placement recorded, and compose_gif() runs the player's
# composition pass per the spec's disposal methods: 0/1 = leave in
# place, 2 = restore rectangle to background, 3 = restore to previous
# canvas; transparent pixels never overwrite. Interlaced frames and
# local color tables remain rejected, not guessed.

def encode_gif89a(frames: list[np.ndarray], palette: np.ndarray,
                  delay_cs: int = 10, loop: int = 0,
                  transparent: int | None = None) -> bytes:
    """Animated GIF89a: each frame (h, w) uint8 into the shared global
    palette; ``delay_cs`` in 1/100 s; ``loop`` 0 = forever."""
    if not frames:
        raise ValueError("need at least one frame")
    h, w = frames[0].shape
    for f in frames:
        if f.dtype != np.uint8 or f.shape != (h, w):
            raise ValueError("all frames must be (h, w) uint8")
    bits = 1
    while (1 << bits) < palette.shape[0]:
        bits += 1
    n_table = 1 << bits
    pal = np.zeros((n_table, 3), dtype=np.uint8)
    pal[:palette.shape[0]] = palette
    mcs = max(2, bits)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h,
                       0x80 | ((bits - 1) & 0x07) << 4 | (bits - 1),
                       0, 0)
    out += pal.tobytes()
    # NETSCAPE2.0 looping extension
    out += bytes([0x21, 0xFF, 11]) + b"NETSCAPE2.0"
    out += bytes([3, 1]) + struct.pack("<H", loop) + bytes([0])
    for f in frames:
        gce_flags = 0x04 | (0x01 if transparent is not None else 0)
        out += bytes([0x21, 0xF9, 4, gce_flags])
        out += struct.pack("<H", delay_cs)
        out += bytes([transparent or 0, 0])
        out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)
        out.append(mcs)
        lzw = _lzw_encode(f.tobytes(), mcs)
        for i in range(0, len(lzw), 255):
            block = lzw[i:i + 255]
            out.append(len(block))
            out += block
        out.append(0)
    out.append(0x3B)
    return bytes(out)


def decode_gif_frames(data: bytes) -> tuple[np.ndarray, list[dict]]:
    """GIF87a or GIF89a -> (palette, frames). Each frame dict:
    indices/(h,w), delay_cs, transparent (index or None). Extensions
    (GCE, comment, app, plain-text) are parsed or skipped by the
    sub-block grammar; full-canvas frames only (composition of partial
    frames is out of scope — rejected explicitly)."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    w, h, flags, _bg, _ar = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    if not flags & 0x80:
        raise NotImplementedError("global color table required")
    n_table = 2 << (flags & 0x07)
    pal = np.frombuffer(
        data[pos:pos + 3 * n_table], dtype=np.uint8).reshape(-1, 3)
    pos += 3 * n_table
    frames: list[dict] = []
    delay, transparent, disposal = 0, None, 0
    while pos < len(data):
        b = data[pos]
        if b == 0x3B:                      # trailer
            return pal.copy(), frames
        if b == 0x21:                      # extension
            label = data[pos + 1]
            pos += 2
            if label == 0xF9:              # GCE
                sz = data[pos]
                gflags = data[pos + 1]
                delay = struct.unpack("<H", data[pos + 2:pos + 4])[0]
                transparent = data[pos + 4] if gflags & 1 else None
                disposal = (gflags >> 2) & 0x07
                pos += sz + 1
            # skip remaining sub-blocks (and whole non-GCE extensions)
            while data[pos] != 0:
                pos += data[pos] + 1
            pos += 1
            continue
        if b != 0x2C:
            raise ValueError(f"unexpected block 0x{b:02x}")
        left, top, iw, ih, iflags = struct.unpack(
            "<HHHHB", data[pos + 1:pos + 10])
        pos += 10
        if iflags & 0xC0:
            raise NotImplementedError("local table / interlace")
        if left + iw > w or top + ih > h:
            raise ValueError("frame rectangle outside logical screen")
        mcs = data[pos]
        pos += 1
        lzw = bytearray()
        while data[pos] != 0:
            n = data[pos]
            lzw += data[pos + 1:pos + 1 + n]
            pos += n + 1
        pos += 1
        raw = _lzw_decode(bytes(lzw), mcs, iw * ih)
        frames.append({
            "indices": np.frombuffer(raw, dtype=np.uint8)
            .reshape(ih, iw).copy(),
            "left": left, "top": top,
            "delay_cs": delay, "transparent": transparent,
            "disposal": disposal})
        delay, transparent, disposal = 0, None, 0
    raise ValueError("missing trailer")


def gif_screen(data: bytes) -> tuple[int, int, int]:
    """(width, height, background index) from the logical screen
    descriptor."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    w, h, _flags, bg, _ar = struct.unpack("<HHBBB", data[6:13])
    return w, h, bg


def compose_gif(data: bytes) -> tuple[np.ndarray, list[np.ndarray]]:
    """The player's composition pass (GIF89a spec §23 disposal
    semantics): returns (palette, full-canvas frames as displayed).
    Canvas starts at the background index; each frame's non-transparent
    pixels paint its rectangle; afterwards disposal 2 restores the
    rectangle to background, 3 restores the pre-frame canvas, 0/1
    leave the canvas as painted."""
    pal, frames = decode_gif_frames(data)
    w, h, bg = gif_screen(data)
    canvas = np.full((h, w), bg, dtype=np.uint8)
    out: list[np.ndarray] = []
    for f in frames:
        left, top = f["left"], f["top"]
        ih, iw = f["indices"].shape
        before = canvas.copy()
        region = canvas[top:top + ih, left:left + iw]
        if f["transparent"] is None:
            region[:] = f["indices"]
        else:
            mask = f["indices"] != f["transparent"]
            region[mask] = f["indices"][mask]
        out.append(canvas.copy())
        if f["disposal"] == 2:
            canvas[top:top + ih, left:left + iw] = bg
        elif f["disposal"] == 3:
            canvas = before
    return pal.copy(), out


def encode_gif89a_anim(frame_specs: list[dict], palette: np.ndarray,
                       loop: int = 0, background: int = 0) -> bytes:
    """Animated GIF89a with per-frame placement + disposal: each spec =
    {indices (ih, iw) uint8, left, top, delay_cs, transparent
    (index|None), disposal (0..3)}. The logical screen is the bounding
    canvas passed implicitly via spec 0 (which must cover (0,0,w,h))."""
    if not frame_specs:
        raise ValueError("need at least one frame")
    h, w = frame_specs[0]["indices"].shape
    if frame_specs[0].get("left", 0) or frame_specs[0].get("top", 0):
        raise ValueError("first frame must cover the canvas at (0,0)")
    bits = 1
    while (1 << bits) < palette.shape[0]:
        bits += 1
    n_table = 1 << bits
    pal = np.zeros((n_table, 3), dtype=np.uint8)
    pal[:palette.shape[0]] = palette
    mcs = max(2, bits)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h,
                       0x80 | ((bits - 1) & 0x07) << 4 | (bits - 1),
                       background, 0)
    out += pal.tobytes()
    out += bytes([0x21, 0xFF, 11]) + b"NETSCAPE2.0"
    out += bytes([3, 1]) + struct.pack("<H", loop) + bytes([0])
    for f in frame_specs:
        ind = f["indices"]
        if ind.dtype != np.uint8:
            raise ValueError("indices must be uint8")
        ih, iw = ind.shape
        left, top = f.get("left", 0), f.get("top", 0)
        if left + iw > w or top + ih > h:
            raise ValueError("frame rectangle outside logical screen")
        transparent = f.get("transparent")
        disposal = f.get("disposal", 0)
        gce_flags = ((disposal & 0x07) << 2) | (
            0x01 if transparent is not None else 0)
        out += bytes([0x21, 0xF9, 4, gce_flags])
        out += struct.pack("<H", f.get("delay_cs", 10))
        out += bytes([transparent or 0, 0])
        out += struct.pack("<BHHHHB", 0x2C, left, top, iw, ih, 0)
        out.append(mcs)
        lzw = _lzw_encode(ind.tobytes(), mcs)
        for i in range(0, len(lzw), 255):
            block = lzw[i:i + 255]
            out.append(len(block))
            out += block
        out.append(0)
    out.append(0x3B)
    return bytes(out)
