"""TIFF-variant LZW (TIFF 6.0 spec, section 13) — the compression GDAL
writes by default for imagery products (`-co COMPRESS=LZW`), and a
declared gap of sources/geotiff.py until now.

Same dictionary machine as GIF-LZW but with the two
famous differences that make the formats mutually unreadable:

* **MSB-first bit packing** (GIF is LSB-first);
* **early change**: the code width bumps when NextCode reaches
  ``2^width - 1`` — one code *earlier* than the dictionary actually
  overflows (GIF bumps at ``2^width``). This off-by-one is mandated by
  the TIFF spec's reference implementation and every reader expects it.

Fixed 8-bit alphabet: Clear = 256, EOI = 257, first dynamic code 258,
12-bit ceiling with Clear-and-restart at 4094 (the spec's early reset,
again one early). Streams begin with Clear and end with EOI. The
decoder handles the KwKwK case per the spec's "StringFromCode(OldCode)
+ FirstChar(StringFromCode(OldCode))" rule.
"""

from __future__ import annotations

__all__ = ["tiff_lzw_encode", "tiff_lzw_decode"]

_CLEAR, _EOI, _FIRST = 256, 257, 258
_RESET_AT = 4094


class _MSBWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, width: int) -> None:
        self.acc = (self.acc << width) | code
        self.nbits += width
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def done(self) -> bytes:
        if self.nbits:
            self.buf.append((self.acc << (8 - self.nbits)) & 0xFF)
        return bytes(self.buf)


def tiff_lzw_encode(data: bytes) -> bytes:
    w = _MSBWriter()
    table = {bytes([i]): i for i in range(256)}
    next_code, width = _FIRST, 9
    w.write(_CLEAR, width)
    # Width bookkeeping mirrors the decoder EXACTLY (found by fuzz at
    # the stream tail): the decoder
    # grows by one entry per data code except the first after a Clear
    # and early-changes at len == 2^width - 2; driving the encoder's
    # width from next_code desyncs EOI when the final entry lands on
    # the threshold (the encoder never adds after its last code).
    wcount = _FIRST
    first = True

    def emit(code: int) -> None:
        nonlocal wcount, width, first
        w.write(code, width)
        if first:
            first = False
        else:
            wcount += 1
            if wcount == (1 << width) - 2 and width < 12:
                width += 1              # early change, mirrored
    omega = b""
    for byte in data:
        cand = omega + bytes([byte])
        if cand in table:
            omega = cand
            continue
        emit(table[omega])
        table[cand] = next_code
        next_code += 1
        if next_code >= _RESET_AT:
            w.write(_CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            next_code, width = _FIRST, 9
            wcount, first = _FIRST, True
        omega = bytes([byte])
    if omega:
        emit(table[omega])
    w.write(_EOI, width)
    return w.done()


def tiff_lzw_decode(data: bytes, expect: int | None = None) -> bytes:
    out = bytearray()
    table: list[bytes] = []
    width = 9
    prev: bytes | None = None

    def reset():
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9
        prev = None

    reset()
    acc = nbits = pos = 0
    while True:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("TIFF LZW truncated (no EOI)")
            acc = (acc << 8) | data[pos]
            nbits += 8
            pos += 1
        code = (acc >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        acc &= (1 << nbits) - 1
        if code == _CLEAR:
            reset()
            continue
        if code == _EOI:
            break
        if prev is None:
            if code >= len(table) or code in (_CLEAR, _EOI):
                raise ValueError("first code not literal")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):              # KwKwK
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("LZW code out of range")
        out.extend(entry)
        prev = entry
        # early change, decoder side: the decoder's table is ONE entry
        # behind the encoder's (the first code after a Clear adds
        # nothing), so it must widen one entry earlier still
        if len(table) == (1 << width) - 2 and width < 12:
            width += 1
        if expect is not None and len(out) > expect:
            raise ValueError("LZW output exceeds declared size")
    if expect is not None and len(out) != expect:
        raise ValueError("LZW output size mismatch")
    return bytes(out)
