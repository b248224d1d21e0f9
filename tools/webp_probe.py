"""Minimal VP8L *encoder* for probing the official libwebp decoder.

Emits well-formed lossless WebP bitstreams with exactly-controlled
structure (identity literal codes, chosen LZ77 distance codes, a
single-block predictor or color transform) so that decoding them with
the system `libwebp.so.7` reveals semantics that are easy to
mis-transcribe from the spec:

* the 120-entry 2D distance map (`probe_dist_map`),
* predictor-mode arithmetic incl. Select tie-breaks, the
  ClampAddSubtractHalf rounding, and the top-right pixel at the last
  column (used by tests/test_webpcodec.py with random residuals),
* the color-transform multiplier channel layout.

This is the same methodology as the PG-snowball probes: when a
published table/algorithm has transcription hazards, extract ground
truth from the official implementation and pin it in tests.  Only used by tools/tests — never at decode time.
"""

from __future__ import annotations

import struct

_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)


class BitWriter:
    def __init__(self):
        self.bits: list[int] = []

    def write(self, v: int, n: int) -> None:
        for i in range(n):                      # LSB-first stream values
            self.bits.append((v >> i) & 1)

    def write_code(self, code: int, n: int) -> None:
        for i in reversed(range(n)):            # prefix code words MSB-first
            self.bits.append((code >> i) & 1)

    def payload(self) -> bytes:
        out = bytearray()
        acc = 0
        for i, b in enumerate(self.bits):
            acc |= b << (i & 7)
            if (i & 7) == 7:
                out.append(acc)
                acc = 0
        if len(self.bits) & 7:
            out.append(acc)
        return bytes(out)


def canonical_codes(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, len), canonical DEFLATE assignment."""
    maxlen = max(lengths.values())
    counts = [0] * (maxlen + 1)
    for L in lengths.values():
        counts[L] += 1
    code = 0
    first = [0] * (maxlen + 1)
    for L in range(1, maxlen + 1):
        code = (code + counts[L - 1]) << 1 if L > 1 else 0
        first[L] = code
    nxt = list(first)
    out = {}
    for sym in sorted(lengths):
        L = lengths[sym]
        out[sym] = (nxt[L], L)
        nxt[L] += 1
    return out


def riff_wrap(vp8l_payload: bytes) -> bytes:
    chunk = b"VP8L" + struct.pack("<I", len(vp8l_payload)) + vp8l_payload
    if len(vp8l_payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def write_simple1(bw: BitWriter, sym: int) -> None:
    """Simple prefix code, one symbol (decodes with zero bits)."""
    bw.write(1, 1)          # simple
    bw.write(0, 1)          # num_symbols - 1 = 0
    bw.write(1, 1)          # first symbol in 8 bits
    bw.write(sym, 8)


def write_identity8(bw: BitWriter) -> None:
    """Normal code: all 256 symbols at length 8 -> code(v) == v."""
    bw.write(0, 1)                      # not simple
    bw.write(12 - 4, 4)                 # num_code_lengths = 12
    for i in range(12):                 # CLC lengths: symbols {0, 8} -> 1
        bw.write(1 if _ORDER[i] in (0, 8) else 0, 3)
    bw.write(0, 1)                      # no explicit max_symbol
    for _ in range(256):                # 256 x CLC symbol 8 (code 1)
        bw.write_code(1, 1)


def write_green280(bw: BitWriter) -> dict[int, tuple[int, int]]:
    """Green code over the 280-symbol no-cache alphabet: literals
    0..255 at length 9, length-prefix symbols 256/257 at length 2."""
    bw.write(0, 1)                      # not simple
    bw.write(14 - 4, 4)                 # num_code_lengths = 14 (covers 2 & 9)
    for i in range(14):                 # CLC lengths: symbols {2, 9} -> 1
        bw.write(1 if _ORDER[i] in (2, 9) else 0, 3)
    bw.write(1, 1)                      # explicit max_symbol
    bw.write(4, 3)                      # length_nbits = 2 + 2*4 = 10
    bw.write(256, 10)                   # max_symbol = 2 + 256 = 258
    clc = canonical_codes({2: 1, 9: 1})
    for _ in range(256):
        bw.write_code(*clc[9])          # lengths for symbols 0..255
    bw.write_code(*clc[2])              # symbol 256
    bw.write_code(*clc[2])              # symbol 257
    return canonical_codes({**{s: 9 for s in range(256)}, 256: 2, 257: 2})


def header(bw: BitWriter, w: int, h: int) -> None:
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)                      # alpha hint
    bw.write(0, 3)                      # version


def write_subimage_1px(bw: BitWriter, green: int, red: int, blue: int,
                       alpha: int) -> None:
    """An entropy-coded 1x1 sub-image (transform data): single-symbol
    codes everywhere -> the one pixel costs zero data bits."""
    bw.write(0, 1)                      # no color cache
    write_simple1(bw, green)
    write_simple1(bw, red)
    write_simple1(bw, blue)
    write_simple1(bw, alpha)
    write_simple1(bw, 0)                # distance


def dist_symbol_for(code: int) -> tuple[int, int, int]:
    """dist_code (1..) -> (symbol, extra_bits_value, extra_bits_count)."""
    if code <= 4:
        return code - 1, 0, 0
    for sym in range(4, 40):
        extra = (sym - 2) >> 1
        offset = (2 + (sym & 1)) << extra
        if offset + 1 <= code <= offset + (1 << extra):
            return sym, code - 1 - offset, extra
    raise ValueError(code)


def literal_px(pos: int) -> tuple[int, int, int, int]:
    """Deterministic UNIQUE pixel per position (g, r, b, a): the high
    position byte rides in alpha so values never repeat within 32k."""
    return (pos & 0xFF, (pos * 3 + 1) & 0xFF, (pos * 7 + 2) & 0xFF,
            128 + (pos >> 8))


def stream_one_copy(width: int, height: int, dist_code: int) -> bytes:
    """npix-1 distinct literals, then ONE copy of length 1 whose
    distance code is `dist_code` — the copied last pixel reveals the
    true 2D offset."""
    bw = BitWriter()
    header(bw, width, height)
    bw.write(0, 1)                      # no transforms
    bw.write(0, 1)                      # no color cache
    bw.write(0, 1)                      # no meta prefix image
    green = write_green280(bw)
    write_identity8(bw)                 # red
    write_identity8(bw)                 # blue
    write_identity8(bw)                 # alpha
    dsym, ebv, ebc = dist_symbol_for(dist_code)
    write_simple1(bw, dsym)             # distance: fixed symbol
    npix = width * height
    for pos in range(npix - 1):
        g, r, b, a = literal_px(pos)
        bw.write_code(*green[g])
        bw.write_code(r, 8)
        bw.write_code(b, 8)
        bw.write_code(a, 8)
    bw.write_code(*green[256])          # length prefix code 0 -> length 1
    if ebc:
        bw.write(ebv, ebc)              # distance extra bits
    return riff_wrap(b"\x2f" + bw.payload())


def stream_predictor(width: int, height: int, mode: int,
                     residuals) -> bytes:
    """Predictor transform, one block covering the image (size_bits=9),
    fixed mode, explicit per-pixel residual (g, r, b, a) tuples."""
    assert width <= 512 and height <= 512
    bw = BitWriter()
    header(bw, width, height)
    bw.write(1, 1)                      # a transform follows
    bw.write(0, 2)                      # PREDICTOR_TRANSFORM
    bw.write(7, 3)                      # size_bits = 7 + 2 = 9 (block 512)
    write_subimage_1px(bw, mode, 0, 0, 0)
    bw.write(0, 1)                      # no more transforms
    bw.write(0, 1)                      # no color cache
    bw.write(0, 1)                      # no meta
    green = write_green280(bw)
    write_identity8(bw)
    write_identity8(bw)
    write_identity8(bw)
    write_simple1(bw, 0)
    for g, r, b, a in residuals:
        bw.write_code(*green[g])
        bw.write_code(r, 8)
        bw.write_code(b, 8)
        bw.write_code(a, 8)
    return riff_wrap(b"\x2f" + bw.payload())


def stream_color_transform(width: int, height: int, g2r: int, g2b: int,
                           r2b: int, pixels) -> bytes:
    """Color transform, one block, chosen multipliers (as unsigned
    bytes), explicit (g, r, b, a) transformed pixels."""
    assert width <= 512 and height <= 512
    bw = BitWriter()
    header(bw, width, height)
    bw.write(1, 1)
    bw.write(1, 2)                      # COLOR_TRANSFORM
    bw.write(7, 3)                      # block 512
    # cte channel layout under probe: green=g2b, red=r2b, blue=g2r
    write_subimage_1px(bw, g2b, r2b, g2r, 0)
    bw.write(0, 1)
    bw.write(0, 1)
    bw.write(0, 1)
    green = write_green280(bw)
    write_identity8(bw)
    write_identity8(bw)
    write_identity8(bw)
    write_simple1(bw, 0)
    for g, r, b, a in pixels:
        bw.write_code(*green[g])
        bw.write_code(r, 8)
        bw.write_code(b, 8)
        bw.write_code(a, 8)
    return riff_wrap(b"\x2f" + bw.payload())


def probe_dist_map(lib) -> list[tuple[int, int]]:
    """Extract the 120-entry distance map by decoding one-copy streams
    at two widths (64 and 37) and solving dist = dy*width + dx."""
    import sys
    sys.path.insert(0, __file__.rsplit("/", 2)[0] + "/tests")
    import webp_oracle as W

    def measured_dist(width: int, code: int) -> int:
        height = 12 if width == 64 else 16   # window > max 2D distance
        blob = stream_one_copy(width, height, code)
        img = W.decode_rgba(lib, blob).reshape(-1, 4)
        last = tuple(img[-1])
        npos = width * height - 1
        # find which earlier position the last pixel equals
        for pos in range(npos):
            g, r, b, a = literal_px(pos)
            if (r, g, b, a) == last:
                return npos - pos
        raise AssertionError(f"copy source not found (code {code})")

    table = []
    for code in range(1, 121):
        d64 = measured_dist(64, code)
        d37 = measured_dist(37, code)
        if d64 == d37 == 1:
            table.append((1, 0))        # clamped or literal (1, 0)
            continue
        dy = round((d64 - d37) / 27)
        dx = d64 - dy * 64
        assert dx + dy * 37 == d37, (code, d64, d37)
        table.append((dx, dy))
    return table


if __name__ == "__main__":
    import sys
    sys.path.insert(0, __file__.rsplit("/", 2)[0] + "/tests")
    import webp_oracle as W
    lib = W.load()
    if lib is None:
        sys.exit("libwebp.so.7 not available")
    table = probe_dist_map(lib)
    print("_DIST_MAP = [")
    for i in range(0, 120, 6):
        row = ", ".join(f"({dx}, {dy})" for dx, dy in table[i: i + 6])
        print(f"    {row},")
    print("]")
