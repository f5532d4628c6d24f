"""From-scratch WebP-lossless (VP8L) codec — numpy + stdlib only.

Decoder implements the complete VP8L bitstream (the public WebP lossless
specification): LSB-first bit reading, simple and code-length-coded
canonical prefix codes (incl. 16/17/18 repeat symbols), meta-prefix
(entropy-image) code groups, LZ77 backward references with the 2D
distance neighborhood, the color cache, and all four inverse transforms
— PREDICTOR (14 modes), COLOR, SUBTRACT_GREEN, COLOR_INDEXING (incl.
sub-byte pixel packing for small palettes).

Encoder emits a valid literal-only stream (no transforms, no LZ77):
per-channel canonical Huffman codes built from actual frequencies
(depth-limited), transmitted through the code-length code.  That is a
spec-compliant subset every WebP reader accepts; it exists so tests and
oracles have deterministic fixtures — the DECODER is the deliverable.

Lossy VP8 (the other WebP payload) genuinely needs a video-codec-class
implementation and stays honestly gated in multimodal.py.

Malformed streams raise positioned ``ValueError`` (shared codec-layer
contract).
"""

from __future__ import annotations

import heapq
import struct

import numpy as np

__all__ = ["decode_vp8l", "encode_vp8l", "decode_webp"]


# -- bit I/O (VP8L is LSB-first, unlike JPEG/FLAC) ----------------------------


class _BitReader:
    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos  # bit position
        self.nbits = 8 * len(data)

    def read(self, n: int) -> int:
        # byte-chunk extraction (one int.from_bytes + shift), not per-bit
        p = self.pos
        if p + n > self.nbits:
            raise ValueError(f"truncated VP8L bitstream at bit {p}")
        lo = p >> 3
        hi = (p + n + 7) >> 3
        v = (int.from_bytes(self.data[lo:hi], "little") >> (p & 7)) & ((1 << n) - 1)
        self.pos = p + n
        return v

    def peek(self, n: int) -> int:
        """Next n bits without consuming; short reads near EOF zero-pad."""
        p = self.pos
        lo = p >> 3
        hi = (p + n + 7) >> 3
        return (int.from_bytes(self.data[lo:hi], "little") >> (p & 7)) & ((1 << n) - 1)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, v: int, n: int) -> None:
        self.acc |= (v & ((1 << n) - 1)) << self.n
        self.n += n
        while self.n >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def flush(self) -> bytes:
        if self.n:
            self.out.append(self.acc & 0xFF)
            self.acc, self.n = 0, 0
        return bytes(self.out)


# -- canonical prefix codes ----------------------------------------------------

#: transmission order of code-length-code lengths (VP8L spec)
_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)


#: root-table width for the fast prefix decode (codes ≤ _ROOT_BITS resolve
#: in one peek+index; longer ones fall back to the canonical walk)
_ROOT_BITS = 9


def _build_fast_table(table: dict) -> list:
    """DEFLATE-style one-peek lookup: index = next _ROOT_BITS stream bits
    (LSB-first, so a code's bits land reversed in the low positions);
    entry = (symbol, length) or None for codes longer than the root."""
    fast: list = [None] * (1 << _ROOT_BITS)
    for (l, code), sym in table.items():
        if l > _ROOT_BITS:
            continue
        rev = 0
        c = code
        for _ in range(l):
            rev = (rev << 1) | (c & 1)
            c >>= 1
        for idx in range(rev, 1 << _ROOT_BITS, 1 << l):
            fast[idx] = (sym, l)
    return fast


class _PrefixCode:
    """Canonical prefix decoder built from code lengths (JPEG/DEFLATE-style
    canonical assignment, reversed-bit lookup because VP8L is LSB-first)."""

    __slots__ = ("table", "single", "fast")

    def __init__(self, lengths):
        self.single = None
        self.fast = None
        used = [(l, s) for s, l in enumerate(lengths) if l > 0]
        if not used:
            raise ValueError("prefix code with no symbols")
        if len(used) == 1:
            self.single = used[0][1]
            self.table = {}
            return
        kraft = sum(1 / (1 << l) for l, _ in used)
        if abs(kraft - 1.0) > 1e-9:
            raise ValueError("incomplete or over-subscribed prefix code")
        used.sort()
        self.table = {}
        code = 0
        prev_len = used[0][0]
        for l, sym in used:
            code <<= l - prev_len
            prev_len = l
            self.table[(l, code)] = sym
            code += 1
        self.fast = _build_fast_table(self.table)

    def read(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        if self.fast is not None and br.nbits - br.pos >= _ROOT_BITS:
            entry = self.fast[br.peek(_ROOT_BITS)]
            if entry is not None:
                br.pos += entry[1]
                return entry[0]
        # slow path: near EOF or code longer than the root table
        code = 0
        for l in range(1, 16):
            code = (code << 1) | br.read(1)
            sym = self.table.get((l, code))
            if sym is not None:
                return sym
        raise ValueError(f"invalid prefix code near bit {br.pos}")


def _read_code_lengths(br: _BitReader, num_symbols: int) -> list[int]:
    """Read a code-length-coded prefix code (spec 'normal code length code')."""
    num_codes = br.read(4) + 4
    clc_lengths = [0] * 19
    for i in range(num_codes):
        clc_lengths[_CLC_ORDER[i]] = br.read(3)
    clc = _PrefixCode(clc_lengths)
    if br.read(1):  # use length / max_symbol
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = num_symbols
    lengths = [0] * num_symbols
    prev = 8
    i = 0
    while i < num_symbols:
        if max_symbol == 0:
            break
        max_symbol -= 1
        s = clc.read(br)
        if s < 16:
            lengths[i] = s
            i += 1
            if s:
                prev = s
        elif s == 16:
            rep = 3 + br.read(2)
            lengths[i : i + rep] = [prev] * rep
            i += rep
        elif s == 17:
            i += 3 + br.read(3)
        else:  # 18
            i += 11 + br.read(7)
    if i > num_symbols:
        raise ValueError("code-length repeats overflow the alphabet")
    return lengths


def _read_prefix_code(br: _BitReader, num_symbols: int) -> _PrefixCode:
    if br.read(1):  # simple code: 1 or 2 symbols
        n = br.read(1) + 1
        first_8 = br.read(1)
        syms = [br.read(8 if first_8 else 1)]
        if n == 2:
            syms.append(br.read(8))
        for s in syms:
            if s >= num_symbols:
                raise ValueError("simple-code symbol out of range")
        pc = _PrefixCode.__new__(_PrefixCode)
        if n == 1:
            pc.single = syms[0]
            pc.table = {}
            pc.fast = None
        else:
            # spec: bit 0 -> first TRANSMITTED symbol (not canonical order)
            pc.single = None
            pc.table = {(1, 0): syms[0], (1, 1): syms[1]}
            pc.fast = _build_fast_table(pc.table)
        return pc
    return _PrefixCode(_read_code_lengths(br, num_symbols))


# -- LZ77 helpers --------------------------------------------------------------


def _lz77_value(br: _BitReader, prefix_sym: int) -> int:
    """Decode an LZ77 length/distance prefix symbol to its value."""
    if prefix_sym < 4:
        return prefix_sym + 1
    extra = (prefix_sym - 2) >> 1
    offset = (2 + (prefix_sym & 1)) << extra
    return offset + br.read(extra) + 1


# the fixed 120-entry (dx, dy) distance neighborhood from the VP8L spec
_DIST_CODES = [
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
]


def _plane_distance(dist_code: int, xsize: int) -> int:
    if dist_code > 120:
        return dist_code - 120
    dx, dy = _DIST_CODES[dist_code - 1]
    d = dy * xsize + dx
    return max(d, 1)


# -- entropy-coded ARGB image --------------------------------------------------


def _decode_image(br: _BitReader, xsize: int, ysize: int, is_level0: bool):
    """Decode one spatially-coded image (the main image or an entropy/
    transform sub-image).  Returns an (ysize, xsize, 4) uint8 ARGB array."""
    cache_bits = 0
    if br.read(1):  # color cache present
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError(f"invalid color-cache size {cache_bits}")
    cache = [0] * (1 << cache_bits) if cache_bits else None

    meta_codes = None
    meta_xs = 0
    huff_bits = 0
    n_groups = 1
    if is_level0 and br.read(1):  # meta prefix codes (entropy image)
        huff_bits = br.read(3) + 2
        mxs = _subsample_size(xsize, huff_bits)
        mys = _subsample_size(ysize, huff_bits)
        entropy = _decode_image(br, mxs, mys, False)
        # meta code index = (red << 8) | green
        meta_codes = (
            entropy[:, :, 1].astype(np.int32) << 8
        ) | entropy[:, :, 2].astype(np.int32)
        meta_xs = mxs
        n_groups = int(meta_codes.max()) + 1

    green_syms = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    groups = []
    for _ in range(n_groups):
        groups.append(
            (
                _read_prefix_code(br, green_syms),
                _read_prefix_code(br, 256),  # red
                _read_prefix_code(br, 256),  # blue
                _read_prefix_code(br, 256),  # alpha
                _read_prefix_code(br, 40),  # distance
            )
        )

    n = xsize * ysize
    out = np.zeros((n, 4), dtype=np.uint8)  # A, R, G, B
    pos = 0
    while pos < n:
        x, y = pos % xsize, pos // xsize
        if meta_codes is not None:
            g = groups[int(meta_codes[y >> huff_bits, x >> huff_bits])]
        else:
            g = groups[0]
        sym = g[0].read(br)
        if sym < 256:  # literal: green, then red, blue, alpha
            green = sym
            red = g[1].read(br)
            blue = g[2].read(br)
            alpha = g[3].read(br)
            out[pos] = (alpha, red, green, blue)
            if cache is not None:
                cache[_cache_key(alpha, red, green, blue, cache_bits)] = (
                    (alpha << 24) | (red << 16) | (green << 8) | blue
                )
            pos += 1
        elif sym < 256 + 24:  # LZ77 backward reference
            length = _lz77_value(br, sym - 256)
            dist_code = _lz77_value(br, g[4].read(br))
            dist = _plane_distance(dist_code, xsize)
            if dist > pos or pos + length > n:
                raise ValueError(f"LZ77 reference out of range at pixel {pos}")
            for k in range(length):
                out[pos + k] = out[pos + k - dist]
                if cache is not None:
                    a, r, gg, b = out[pos + k]
                    cache[_cache_key(a, r, gg, b, cache_bits)] = (
                        (int(a) << 24) | (int(r) << 16) | (int(gg) << 8) | int(b)
                    )
            pos += length
        else:  # color-cache hit
            if cache is None:
                raise ValueError("color-cache symbol without a cache")
            v = cache[sym - 256 - 24]
            out[pos] = ((v >> 24) & 0xFF, (v >> 16) & 0xFF, (v >> 8) & 0xFF, v & 0xFF)
            pos += 1
    return out.reshape(ysize, xsize, 4)


def _cache_key(a: int, r: int, g: int, b: int, bits: int) -> int:
    argb = (int(a) << 24) | (int(r) << 16) | (int(g) << 8) | int(b)
    return ((argb * 0x1E35A7BD) & 0xFFFFFFFF) >> (32 - bits)


def _subsample_size(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


# -- inverse transforms --------------------------------------------------------


def _avg2(a, b):
    return (a.astype(np.uint16) + b.astype(np.uint16)) >> 1


def _predict(mode: int, argb: np.ndarray, x: int, y: int) -> np.ndarray:
    """Spec predictor modes 0..13 over the ARGB channel vector (4,).
    Callers guarantee x>0 for L-using modes on row 0 etc. via the border
    rules in _inv_predictor; TR for the last column is the leftmost pixel
    of the SAME row (the spec's contiguous-memory quirk, RFC 9649 §4.1)."""
    black = np.array([255, 0, 0, 0], dtype=np.uint8)
    if mode == 0:
        return black
    w = argb.shape[1]
    L = argb[y, x - 1]
    if mode == 1:
        return L
    T = argb[y - 1, x]
    if mode == 2:
        return T
    TL = argb[y - 1, x - 1] if x > 0 else argb[y - 1, x]
    TR = argb[y - 1, x + 1] if x + 1 < w else argb[y, 0]
    if mode == 3:
        return TR
    if mode == 4:
        return TL
    if mode == 5:
        return _avg2(_avg2(L, TR).astype(np.uint8), T).astype(np.uint8)
    if mode == 6:
        return _avg2(L, TL).astype(np.uint8)
    if mode == 7:
        return _avg2(L, T).astype(np.uint8)
    if mode == 8:
        return _avg2(TL, T).astype(np.uint8)
    if mode == 9:
        return _avg2(T, TR).astype(np.uint8)
    if mode == 10:
        return _avg2(_avg2(L, TL).astype(np.uint8), _avg2(T, TR).astype(np.uint8)).astype(np.uint8)
    if mode == 11:  # Select
        li, ti, tli = L.astype(np.int32), T.astype(np.int32), TL.astype(np.int32)
        p = li + ti - tli
        perr = int(np.abs(p - li).sum())
        lerr = int(np.abs(p - ti).sum())
        return L if perr < lerr else T
    if mode == 12:  # ClampAddSubtractFull
        s = L.astype(np.int32) + T.astype(np.int32) - TL.astype(np.int32)
        return np.clip(s, 0, 255).astype(np.uint8)
    if mode == 13:  # ClampAddSubtractHalf: clamp(ave + (ave-TL)/2), /2 trunc
        ave = _avg2(L, T).astype(np.int32)
        s = ave + np.trunc((ave - TL.astype(np.int32)) / 2).astype(np.int32)
        return np.clip(s, 0, 255).astype(np.uint8)
    raise ValueError(f"invalid predictor mode {mode}")


def _cumsum_row(out: np.ndarray, res: np.ndarray, y: int, x0: int, x1: int) -> None:
    """Mode 1 (L) over a contiguous run: prefix sum mod 256 seeded by the
    already-final pixel at (y, x0-1)."""
    seed = out[y, x0 - 1].astype(np.int64) if x0 > 0 else np.array([255, 0, 0, 0], np.int64)
    cs = seed + np.cumsum(res[y, x0:x1].astype(np.int64), axis=0)
    out[y, x0:x1] = cs & 0xFF


def _inv_predictor(argb: np.ndarray, tile_modes: np.ndarray, bits: int) -> np.ndarray:
    h, w = argb.shape[:2]
    # Single uint8 working array updated in place; `res` aliases the input
    # residuals (never written before their own pixel is finalized).
    out = argb.astype(np.uint8, copy=True)
    res = argb
    for y in range(h):
        if y == 0:
            # origin: black prediction (A=255); rest of row 0: forced mode 1
            out[0, 0] = (res[0, 0].astype(np.int32) + np.array([255, 0, 0, 0])) & 0xFF
            if w > 1:
                _cumsum_row(out, res, 0, 1, w)
            continue
        prev = out[y - 1].astype(np.int32)  # finalized row above
        out[y, 0] = (res[y, 0].astype(np.int32) + prev[0]) & 0xFF  # forced mode 2
        x = 1
        while x < w:
            tx = x >> bits
            mode = int(tile_modes[y >> bits, tx])
            x_end = min(w, (tx + 1) << bits)
            seg = slice(x, x_end)
            r = res[y, seg].astype(np.int32)
            if mode == 0:
                out[y, seg] = (r + np.array([255, 0, 0, 0])) & 0xFF
            elif mode == 1:
                _cumsum_row(out, res, y, x, x_end)
            elif mode in (2, 3, 4, 8, 9):
                # previous-row-only modes: fully elementwise over the segment
                T = prev[seg]
                if mode == 2:
                    pred = T
                elif mode == 4:
                    pred = prev[x - 1 : x_end - 1]
                else:
                    TR = prev[x + 1 : x_end + 1]
                    if x_end == w:  # spec quirk: TR of the last column is
                        TR = np.vstack([TR, out[y, 0].astype(np.int32)])  # (y, 0)
                    if mode == 3:
                        pred = TR
                    elif mode == 8:
                        pred = (prev[x - 1 : x_end - 1] + T) >> 1
                    else:  # 9
                        pred = (T + TR) >> 1
                out[y, seg] = (r + pred) & 0xFF
            else:
                # L-dependent modes (5, 6, 7, 10, 11, 12, 13): sequential
                for xx in range(x, x_end):
                    pred = _predict(mode, out, xx, y)
                    out[y, xx] = (out[y, xx].astype(np.int32) + pred.astype(np.int32)) & 0xFF
            x = x_end
    return out


def _inv_color_transform(argb: np.ndarray, tiles: np.ndarray, bits: int) -> np.ndarray:
    # tile ARGB packing (spec): red ch = red_to_blue, green ch =
    # green_to_blue, blue ch = green_to_red.  Fully elementwise (the only
    # intra-pixel dependency is blue-on-updated-red), so one vectorized pass.
    h, w = argb.shape[:2]

    def s8(x: np.ndarray) -> np.ndarray:  # reinterpret 0..255 as signed int8
        x = x.astype(np.int32)
        return np.where(x >= 128, x - 256, x)

    t = tiles[np.arange(h) >> bits][:, np.arange(w) >> bits]  # (h, w, 4)
    g2r, g2b, r2b = s8(t[:, :, 3]), s8(t[:, :, 2]), s8(t[:, :, 1])
    g = s8(argb[:, :, 2])
    out = argb.copy()
    r_new = (argb[:, :, 1].astype(np.int32) + ((g2r * g) >> 5)) & 0xFF
    b_new = (
        argb[:, :, 3].astype(np.int32) + ((g2b * g) >> 5) + ((r2b * s8(r_new)) >> 5)
    ) & 0xFF
    out[:, :, 1] = r_new
    out[:, :, 3] = b_new
    return out


def _inv_subtract_green(argb: np.ndarray) -> np.ndarray:
    out = argb.astype(np.uint16)
    g = out[:, :, 2]
    out[:, :, 1] = (out[:, :, 1] + g) & 0xFF
    out[:, :, 3] = (out[:, :, 3] + g) & 0xFF
    return out.astype(np.uint8)


def _inv_color_indexing(argb: np.ndarray, palette: np.ndarray, orig_w: int) -> np.ndarray:
    n_colors = palette.shape[0]
    if n_colors > 16:
        width_bits = 0
    elif n_colors > 4:
        width_bits = 1
    elif n_colors > 2:
        width_bits = 2
    else:
        width_bits = 3
    h = argb.shape[0]
    if width_bits == 0:
        idx = argb[:, :, 2].astype(np.int32)
    else:
        pp = 1 << width_bits  # pixels packed per green byte
        bits = 8 >> width_bits
        packed = argb[:, :, 2].astype(np.int32)
        cols = []
        for k in range(pp):
            cols.append((packed >> (k * bits)) & ((1 << bits) - 1))
        idx = np.stack(cols, axis=2).reshape(h, -1)[:, :orig_w]
    if (idx >= n_colors).any():
        # spec: out-of-range palette index behaves as transparent black
        safe = np.where(idx < n_colors, idx, 0)
        out = palette[safe]
        out[idx >= n_colors] = 0
        return out
    return palette[idx]


# -- top-level decode ----------------------------------------------------------


def decode_vp8l(data: bytes):
    """Decode a raw VP8L chunk payload.  Returns (height, width, rgba
    uint8 (h, w, 4))."""
    if not data or data[0] != 0x2F:
        raise ValueError("not a VP8L payload (missing 0x2f signature)")
    br = _BitReader(data, 8)
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)  # alpha-used hint
    if br.read(3) != 0:
        raise ValueError("unsupported VP8L version")

    transforms = []
    xsize = w
    seen = set()
    while br.read(1):
        ttype = br.read(2)
        if ttype in seen:
            raise ValueError(f"transform {ttype} repeated")
        seen.add(ttype)
        if ttype == 3:  # COLOR_INDEXING
            n_colors = br.read(8) + 1
            pal_img = _decode_image(br, n_colors, 1, False)
            palette = pal_img[0].astype(np.uint16)
            palette = np.cumsum(palette, axis=0, dtype=np.uint16) & 0xFF  # delta-coded
            palette = palette.astype(np.uint8)
            transforms.append(("palette", palette, xsize))
            if n_colors > 16:
                pass
            elif n_colors > 4:
                xsize = _subsample_size(xsize, 1)
            elif n_colors > 2:
                xsize = _subsample_size(xsize, 2)
            else:
                xsize = _subsample_size(xsize, 3)
        elif ttype == 2:  # SUBTRACT_GREEN
            transforms.append(("subtract_green",))
        elif ttype in (0, 1):  # PREDICTOR / COLOR
            bits = br.read(3) + 2
            txs = _subsample_size(xsize, bits)
            tys = _subsample_size(h, bits)
            timg = _decode_image(br, txs, tys, False)
            if ttype == 0:
                transforms.append(("predictor", timg[:, :, 2].copy(), bits))
            else:
                transforms.append(("color", timg, bits))
        else:
            raise ValueError(f"invalid transform type {ttype}")

    argb = _decode_image(br, xsize, h, True)

    for t in reversed(transforms):
        if t[0] == "predictor":
            argb = _inv_predictor(argb, t[1], t[2])
        elif t[0] == "color":
            argb = _inv_color_transform(argb, t[1], t[2])
        elif t[0] == "subtract_green":
            argb = _inv_subtract_green(argb)
        else:  # palette
            argb = _inv_color_indexing(argb, t[1], t[2])

    if argb.shape[1] != w or argb.shape[0] != h:
        raise ValueError("decoded size mismatch after transforms")
    rgba = argb[:, :, [1, 2, 3, 0]]  # ARGB -> RGBA
    return h, w, rgba


def decode_webp(buf: bytes):
    """Decode a WebP container holding a VP8L (lossless) payload.  Lossy
    VP8/VP8X-wrapped streams raise NotImplementedError (honest gate)."""
    if buf[:4] != b"RIFF" or buf[8:12] != b"WEBP":
        raise ValueError("not a WebP payload (missing RIFF/WEBP header)")
    pos = 12
    while pos + 8 <= len(buf):
        fourcc = buf[pos : pos + 4]
        (size,) = struct.unpack_from("<I", buf, pos + 4)
        body = buf[pos + 8 : pos + 8 + size]
        if fourcc == b"VP8L":
            return decode_vp8l(body)
        if fourcc in (b"VP8 ", b"VP8X"):
            raise NotImplementedError(
                "lossy/extended WebP (VP8/VP8X) needs a video-codec-class "
                "decoder; only lossless VP8L is implemented"
            )
        pos += 8 + size + (size & 1)
    raise ValueError("WebP container has no VP8L chunk")


# -- encoder (literal-only spec subset, test/oracle fixture) -------------------


def _huffman_lengths(freqs: dict[int, int], max_len: int = 15) -> dict[int, int]:
    """Huffman code lengths from frequencies (depth-limited by rebuild with
    flattened frequencies when exceeded — fine at fixture sizes)."""
    if not freqs:
        raise ValueError("empty alphabet")
    if len(freqs) == 1:
        return {next(iter(freqs)): 1}
    while True:
        heap = [(f, i, (s,)) for i, (s, f) in enumerate(sorted(freqs.items()))]
        heapq.heapify(heap)
        depths = {s: 0 for s in freqs}
        nxt = len(heap)
        while len(heap) > 1:
            f1, _, s1 = heapq.heappop(heap)
            f2, _, s2 = heapq.heappop(heap)
            for s in s1 + s2:
                depths[s] += 1
            heapq.heappush(heap, (f1 + f2, nxt, s1 + s2))
            nxt += 1
        if max(depths.values()) <= max_len:
            return depths
        freqs = {s: (f + 1) // 2 for s, f in freqs.items()}  # flatten


def _write_code_lengths(bw: _BitWriter, lengths: list[int]) -> None:
    """Transmit code lengths via the code-length code, no repeat symbols
    (plain, valid, suboptimal — fixture-grade)."""
    clc_freq = {}
    for l in lengths:
        clc_freq[l] = clc_freq.get(l, 0) + 1
    clc_len = _huffman_lengths(clc_freq, 7)
    # order array: emit 3-bit lengths for all 19 positions (num_codes = 19)
    bw.write(19 - 4, 4)
    full = [clc_len.get(s, 0) for s in range(19)]
    for sym in _CLC_ORDER:
        bw.write(full[sym], 3)
    if len(clc_len) == 1:  # single-symbol code-length code: zero bits/entry
        codes = {next(iter(clc_len)): (0, 0)}
    else:
        codes = _canonical_codes(clc_len)
    bw.write(0, 1)  # no max_symbol shortcut
    for l in lengths:
        c, n = codes[l]
        if n:
            bw.write(c, n)


def _canonical_codes(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    """Symbol -> (LSB-first code bits, length) canonical assignment."""
    items = sorted((l, s) for s, l in lengths.items() if l)
    out = {}
    code = 0
    prev = items[0][0]
    for l, s in items:
        code <<= l - prev
        prev = l
        # reverse bits for LSB-first writing
        rev = int(f"{code:0{l}b}"[::-1], 2)
        out[s] = (rev, l)
        code += 1
    return out


def encode_vp8l(rgba: np.ndarray) -> bytes:
    """Encode an (h, w, 3|4) uint8 image as a literal-only VP8L stream in
    a WebP container."""
    rgba = np.asarray(rgba, dtype=np.uint8)
    if rgba.ndim == 2:
        rgba = np.stack([rgba] * 3, axis=2)
    if rgba.shape[2] == 3:
        rgba = np.concatenate([rgba, np.full(rgba.shape[:2] + (1,), 255, np.uint8)], axis=2)
    h, w = rgba.shape[:2]
    if not (1 <= w <= 16384 and 1 <= h <= 16384):
        raise ValueError("dimensions out of VP8L range")
    bw = _BitWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(1, 1)  # alpha hint
    bw.write(0, 3)  # version
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no color cache
    bw.write(0, 1)  # no meta prefix codes

    flat = rgba.reshape(-1, 4)
    chans = {
        "green": flat[:, 1],
        "red": flat[:, 0],
        "blue": flat[:, 2],
        "alpha": flat[:, 3],
    }
    codes = {}
    for name, arr in chans.items():
        vals, counts = np.unique(arr, return_counts=True)
        freqs = {int(v): int(c) for v, c in zip(vals, counts)}
        lens = _huffman_lengths(freqs)
        n_sym = 256 + 24 if name == "green" else 256
        full = [0] * n_sym
        for s, l in lens.items():
            full[s] = l
        if len(lens) == 1:
            # simple code, single symbol
            sym = next(iter(lens))
            bw.write(1, 1)  # simple
            bw.write(0, 1)  # one symbol
            bw.write(1, 1)  # 8-bit symbol
            bw.write(sym, 8)
            codes[name] = {sym: (0, 0)}
        else:
            bw.write(0, 1)  # normal code
            _write_code_lengths(bw, full)
            codes[name] = _canonical_codes(lens)
    # distance code: never used; emit a single-symbol simple code
    bw.write(1, 1)
    bw.write(0, 1)
    bw.write(1, 1)
    bw.write(0, 8)

    g, r, b, a = codes["green"], codes["red"], codes["blue"], codes["alpha"]
    for px in flat:
        for ch, table in ((int(px[1]), g), (int(px[0]), r), (int(px[2]), b), (int(px[3]), a)):
            c, n = table[ch]
            if n:
                bw.write(c, n)
    payload = bw.flush()
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    body = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(body)) + body
