"""Lossless WebP (VP8L) codec in pure numpy/stdlib — the last image format
the multimodal plumbing had stubbed.

The reference engine (myrtakis/macrobase) has no binary decode at all; this
belongs to the build brief's multimodal contract (decode / feature-extract
over opaque binary columns). Lossy WebP (VP8) needs a full video-intra
codec and stays out of scope; VP8L — the lossless half of the format — is
a self-contained entropy-coded ARGB stream (RFC 9649 "WebP Image Format",
§"Specification for WebP Lossless Bitstream") and is implemented here for
real:

decoder (`decode_webp`):
- RIFF/WEBP container walk, VP8L chunk, 0x2F signature;
- LSB-first bitstream; canonical prefix codes (DEFLATE-convention,
  MSB-first code match) with the simple (1-2 symbol) and normal
  (code-length-coded, RLE 16/17/18, optional max_symbol) forms;
- meta prefix groups, color cache, LZ77 backward references with both the
  2D distance map (codes 1..120) and direct distances;
- all four transforms inverted: PREDICTOR (all 14 modes), COLOR,
  SUBTRACT_GREEN, COLOR_INDEXING (incl. sub-byte pixel bundling).

encoder (`encode_webp`): spec-valid streams exercising the decoder's
machinery — literal ARGB with per-channel prefix codes, SUBTRACT_GREEN,
a block-mapped PREDICTOR transform (modes 1/2), COLOR_INDEXING for
small-palette images, and run-length LZ77 backrefs (direct distance
codes). Code lengths are built with package-merge (length-limited,
Kraft-complete), so every emitted prefix code is strictly canonical.

Scope notes, stated honestly: the encoder never emits a color cache, a
COLOR transform, meta prefix groups, or 2D distance codes, so those
decoder paths are exercised only by unit tests over hand-built streams
where noted; lossy VP8 and animation/EXIF chunks raise the same
NotImplementedError contract as before via image.decode_compressed_image.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# bit I/O (LSB-first stream; prefix codes matched MSB-first, DEFLATE-style)
# ---------------------------------------------------------------------------


class _Reader:
    __slots__ = ("d", "n", "pos")

    def __init__(self, data: bytes) -> None:
        self.d = data
        self.n = 8 * len(data)
        self.pos = 0  # bit position

    def read(self, n: int) -> int:
        p = self.pos
        if p + n > self.n:
            raise ValueError("bitstream overrun")
        self.pos = p + n
        b0 = p >> 3
        chunk = int.from_bytes(self.d[b0 : b0 + (((p & 7) + n + 7) >> 3)], "little")
        return (chunk >> (p & 7)) & ((1 << n) - 1)

    def _peek(self, k: int) -> int:
        # zero-padded past the end; read_symbol re-checks the consumed length
        p = self.pos
        b0 = p >> 3
        chunk = int.from_bytes(self.d[b0 : b0 + (((p & 7) + k + 7) >> 3)], "little")
        return (chunk >> (p & 7)) & ((1 << k) - 1)

    def read_symbol(self, table) -> int:
        kind, payload = table
        if kind == "single":
            return payload
        lut_sym, lut_len, max_len = payload
        w = self._peek(max_len)
        length = int(lut_len[w])
        if length == 0 or self.pos + length > self.n:
            raise ValueError("invalid prefix code")
        self.pos += length
        return int(lut_sym[w])


class _Writer:
    def __init__(self) -> None:
        self.bits: list[int] = []

    def put(self, value: int, n: int) -> None:
        for i in range(n):
            self.bits.append((value >> i) & 1)

    def put_code(self, code: int, length: int) -> None:
        """Huffman code: emitted MSB-first (the reader builds codes
        MSB-first while the stream itself is LSB-first)."""
        for i in range(length - 1, -1, -1):
            self.bits.append((code >> i) & 1)

    def tobytes(self) -> bytes:
        out = bytearray((len(self.bits) + 7) // 8)
        for i, b in enumerate(self.bits):
            out[i >> 3] |= b << (i & 7)
        return bytes(out)


# ---------------------------------------------------------------------------
# canonical prefix codes
# ---------------------------------------------------------------------------

_CL_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]


def _build_table(lengths: list[int]):
    """Canonical prefix-decode table from code lengths. A single used
    symbol is the spec's 0-bit special case; otherwise the code must be
    complete (Kraft sum exactly 1) — incompleteness is corruption.

    Decode is a single-level LUT keyed on the next `max_len` RAW stream
    bits (LSB-first window): a canonical code c of length L, which the
    spec matches MSB-first, occupies every window w with
    w mod 2^L == bit_reverse(c, L) — a strided numpy fill."""
    used = [(s, l) for s, l in enumerate(lengths) if l > 0]
    if not used:
        raise ValueError("empty prefix code")
    if len(used) == 1:
        return ("single", used[0][0])
    max_len = max(l for _, l in used)
    if sum(1 << (max_len - l) for _, l in used) != (1 << max_len):
        raise ValueError("prefix code not complete")
    lut_sym = np.zeros(1 << max_len, dtype=np.int32)
    lut_len = np.zeros(1 << max_len, dtype=np.int8)
    code = 0
    for length in range(1, max_len + 1):
        for sym, l in used:
            if l == length:
                rev = 0
                for i in range(length):
                    rev = (rev << 1) | ((code >> i) & 1)
                lut_sym[rev :: 1 << length] = sym
                lut_len[rev :: 1 << length] = length
                code += 1
        code <<= 1
    return ("normal", (lut_sym, lut_len, max_len))


def _canonical_codes(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length), canonical assignment (by length, then
    symbol) — the writer-side mirror of _build_table."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    max_len = max(lengths.values())
    for length in range(1, max_len + 1):
        for sym in sorted(s for s, l in lengths.items() if l == length):
            out[sym] = (code, length)
            code += 1
        code <<= 1
    return out


def _package_merge(freqs: dict[int, int], limit: int) -> dict[int, int]:
    """Length-limited (<= limit) Kraft-complete code lengths for >= 2
    symbols; a single symbol gets length 1 (caller handles the 0-bit
    special case)."""
    syms = sorted(freqs)
    n = len(syms)
    if n == 0:
        return {}
    if n == 1:
        return {syms[0]: 1}
    orig = sorted((freqs[s], (s,)) for s in syms)
    level = list(orig)
    for _ in range(limit - 1):
        pairs = [
            (level[i][0] + level[i + 1][0], level[i][1] + level[i + 1][1])
            for i in range(0, len(level) - 1, 2)
        ]
        level = sorted(orig + pairs)
    lengths = {s: 0 for s in syms}
    for _, group in level[: 2 * (n - 1)]:
        for s in group:
            lengths[s] += 1
    return lengths


def _read_prefix_code(br: _Reader, alphabet_size: int):
    if br.read(1):  # simple code
        num_symbols = br.read(1) + 1
        first_8bit = br.read(1)
        s0 = br.read(8 if first_8bit else 1)
        lengths = [0] * alphabet_size
        if s0 >= alphabet_size:
            raise ValueError("simple-code symbol out of range")
        if num_symbols == 2:
            s1 = br.read(8)
            if s1 >= alphabet_size or s1 == s0:
                raise ValueError("simple-code symbol invalid")
            lengths[s0] = lengths[s1] = 1
        else:
            lengths[s0] = 1
        return _build_table(lengths)
    # normal code: the code lengths are themselves prefix-coded
    num_cl = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[_CL_ORDER[i]] = br.read(3)
    cl_table = _build_table(cl_lengths)
    if br.read(1):  # explicit max_symbol budget
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = []
    prev = 8
    while len(lengths) < alphabet_size:
        if max_symbol <= 0:
            lengths.extend([0] * (alphabet_size - len(lengths)))
            break
        max_symbol -= 1
        s = br.read_symbol(cl_table)
        if s < 16:
            lengths.append(s)
            if s:
                prev = s
        elif s == 16:
            lengths.extend([prev] * (3 + br.read(2)))
        elif s == 17:
            lengths.extend([0] * (3 + br.read(3)))
        else:
            lengths.extend([0] * (11 + br.read(7)))
    return _build_table(lengths[:alphabet_size])


# ---------------------------------------------------------------------------
# LZ77 prefix values and the 2D distance map
# ---------------------------------------------------------------------------


def _lz77_encode(v: int) -> tuple[int, int, int]:
    """value (>=1) -> (prefix code, n extra bits, extra value)."""
    if v <= 4:
        return v - 1, 0, 0
    x = v - 1
    hi = x.bit_length() - 1
    code = 2 * hi + ((x >> (hi - 1)) & 1)
    return code, hi - 1, x & ((1 << (hi - 1)) - 1)


# RFC 9649: distance codes 1..120 address a 2D neighborhood as (dx, dy)
_DIST_MAP = [
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


def _map_distance(v: int, width: int) -> int:
    if v > 120:
        return v - 120
    dx, dy = _DIST_MAP[v - 1]
    return max(dy * width + dx, 1)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def _div_round_up(a: int, b: int) -> int:
    return (a + b - 1) // b


def _pixel_loop(
    data: bytes,
    bitpos: int,
    nbits: int,
    n: int,
    cur_w: int,
    groups: list,
    meta,
    meta_bits: int,
    mw: int,
    cache_bits: int,
) -> tuple[list[int], int]:
    """The entropy-decode hot loop, extracted for speed: a local-variable
    bit cursor fed by a rolling 32-bit-refill buffer, Python-list LUTs and
    closure readers replace the _Reader method path (numpy scalar indexing
    + per-symbol byte slicing dominated the profile at ~1.2 µs/symbol;
    measured 2.5× end-to-end on a 64×48 fixture, 11.2 → 4.5 ms). Returns
    (pixel list, final bit position)."""
    # unpack decode tables once: single-symbol payload or list LUTs
    # (mask precomputed so the hot path never re-derives (1<<ml)-1)
    fgroups = []
    for g in groups:
        entry = []
        for kind, payload in g:
            if kind == "single":
                entry.append((payload, None, None, 0, 0))
            else:
                ls, ll, ml = payload
                entry.append((None, ls.tolist(), ll.tolist(), ml, (1 << ml) - 1))
        fgroups.append(entry)
    meta_l = meta.tolist() if meta is not None else None
    cache = [0] * (1 << cache_bits) if cache_bits else None
    cache_size = (1 << cache_bits) if cache_bits else 0
    cshift = 32 - cache_bits if cache_bits else 0
    pixels = [0] * n
    pos = 0
    from_bytes = int.from_bytes
    dist_map = _DIST_MAP

    # rolling bit buffer: refill 32 bits at a time from a zero-padded copy
    # (the per-symbol overrun check below keeps the padding honest — a
    # decode that consumes past `nbits` still raises exactly as before)
    data = data + bytes(16)
    bytepos = bitpos >> 3
    buf = 0
    bufbits = 0
    rem = bitpos & 7
    if rem:
        buf = data[bytepos] >> rem
        bufbits = 8 - rem
        bytepos += 1

    def read_sym(tbl) -> int:
        nonlocal buf, bufbits, bytepos
        single, ls, ll, ml, mask = tbl
        if single is not None:
            return single
        while bufbits < ml:
            buf |= from_bytes(data[bytepos : bytepos + 4], "little") << bufbits
            bufbits += 32
            bytepos += 4
        w = buf & mask
        length = ll[w]
        if length == 0 or (bytepos << 3) - bufbits + length > nbits:
            raise ValueError("invalid prefix code")
        buf >>= length
        bufbits -= length
        return ls[w]

    def read_bits(k: int) -> int:
        nonlocal buf, bufbits, bytepos
        while bufbits < k:
            buf |= from_bytes(data[bytepos : bytepos + 4], "little") << bufbits
            bufbits += 32
            bytepos += 4
        if (bytepos << 3) - bufbits + k > nbits:
            raise ValueError("bitstream overrun")
        v = buf & ((1 << k) - 1)
        buf >>= k
        bufbits -= k
        return v

    g = fgroups[0]
    while pos < n:
        if meta_l is not None:
            g = fgroups[
                meta_l[((pos // cur_w) >> meta_bits) * mw + ((pos % cur_w) >> meta_bits)]
            ]
        s = read_sym(g[0])
        if s < 256:
            red = read_sym(g[1])
            blue = read_sym(g[2])
            alpha = read_sym(g[3])
            px = (alpha << 24) | (red << 16) | (s << 8) | blue
            pixels[pos] = px
            if cache is not None:
                cache[(0x1E35A7BD * px) % 4294967296 >> cshift] = px
            pos += 1
        elif s < 280:
            code = s - 256
            if code < 4:
                length = code + 1
            else:
                eb = (code - 2) >> 1
                length = ((2 + (code & 1)) << eb) + read_bits(eb) + 1
            code = read_sym(g[4])
            if code < 4:
                dist_code = code + 1
            else:
                eb = (code - 2) >> 1
                dist_code = ((2 + (code & 1)) << eb) + read_bits(eb) + 1
            if dist_code > 120:
                dist = dist_code - 120
            else:
                dx, dy = dist_map[dist_code - 1]
                dist = dy * cur_w + dx
                if dist < 1:
                    dist = 1
            if dist > pos or pos + length > n:
                raise ValueError("backref out of range")
            if cache is None:
                # overlap-safe sequential copy
                for _ in range(length):
                    pixels[pos] = pixels[pos - dist]
                    pos += 1
            else:
                for _ in range(length):
                    px = pixels[pos - dist]
                    pixels[pos] = px
                    cache[(0x1E35A7BD * px) % 4294967296 >> cshift] = px
                    pos += 1
        else:
            idx = s - 280
            if cache is None or idx >= cache_size:
                raise ValueError("cache reference without cache")
            pixels[pos] = cache[idx]
            pos += 1
    return pixels, (bytepos << 3) - bufbits


def _decode_image_stream(br: _Reader, w: int, h: int, is_level0: bool) -> np.ndarray:
    """One VP8L image stream -> uint32 ARGB array of length w*h (scanline
    order). Subimages (transform data, meta prefix, palette) recurse with
    is_level0=False (no transforms, no meta groups)."""
    transforms = []
    cur_w = w
    if is_level0:
        seen = set()
        while br.read(1):
            t = br.read(2)
            if t in seen:
                raise ValueError("duplicate transform")
            seen.add(t)
            if t == 2:  # SUBTRACT_GREEN
                transforms.append(("subgreen",))
            elif t == 0:  # PREDICTOR
                bits = br.read(3) + 2
                sub = _decode_image_stream(
                    br, _div_round_up(cur_w, 1 << bits), _div_round_up(h, 1 << bits), False
                )
                transforms.append(("pred", bits, sub))
            elif t == 1:  # COLOR
                bits = br.read(3) + 2
                sub = _decode_image_stream(
                    br, _div_round_up(cur_w, 1 << bits), _div_round_up(h, 1 << bits), False
                )
                transforms.append(("color", bits, sub))
            else:  # COLOR_INDEXING
                size = br.read(8) + 1
                raw_table = _decode_image_stream(br, size, 1, False)
                # palette entries are delta-coded per channel
                table = np.zeros(size, dtype=np.uint32)
                acc = np.zeros(4, dtype=np.uint32)
                for i in range(size):
                    px = raw_table[i]
                    acc = (acc + np.array(
                        [(px >> 24) & 0xFF, (px >> 16) & 0xFF, (px >> 8) & 0xFF, px & 0xFF],
                        dtype=np.uint32,
                    )) & 0xFF
                    table[i] = (
                        (acc[0] << 24) | (acc[1] << 16) | (acc[2] << 8) | acc[3]
                    )
                if size <= 2:
                    ibits = 3
                elif size <= 4:
                    ibits = 2
                elif size <= 16:
                    ibits = 1
                else:
                    ibits = 0
                transforms.append(("palette", table, ibits, cur_w))
                cur_w = _div_round_up(cur_w, 1 << ibits)

    # color cache
    cache_bits = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("invalid color cache bits")
    # (the color-cache array itself lives inside _pixel_loop)

    # meta prefix groups (main image only)
    meta = None
    meta_bits = 0
    n_groups = 1
    if is_level0 and br.read(1):
        meta_bits = br.read(3) + 2
        mw = _div_round_up(cur_w, 1 << meta_bits)
        mh = _div_round_up(h, 1 << meta_bits)
        meta_px = _decode_image_stream(br, mw, mh, False)
        meta = ((meta_px >> 8) & 0xFFFF).astype(np.int64)  # (red << 8) | green
        n_groups = int(meta.max()) + 1

    cache_size = (1 << cache_bits) if cache_bits else 0
    alpha_sizes = [256 + 24 + cache_size, 256, 256, 256, 40]
    groups = [
        [_read_prefix_code(br, a) for a in alpha_sizes] for _ in range(n_groups)
    ]

    n = cur_w * h
    mw = _div_round_up(cur_w, 1 << meta_bits) if meta is not None else 0
    pixel_list, br.pos = _pixel_loop(
        br.d, br.pos, br.n, n, cur_w, groups, meta, meta_bits, mw, cache_bits
    )
    pixels = np.array(pixel_list, dtype=np.uint32)

    # inverse transforms, in reverse read order
    for t in reversed(transforms):
        if t[0] == "palette":
            _, table, ibits, full_w = t
            idx_packed = ((pixels >> 8) & 0xFF).reshape(h, cur_w)
            if ibits:
                per = 1 << ibits
                bits = 8 >> ibits
                cols = np.arange(full_w)
                shifts = ((cols % per) * bits).astype(np.uint32)
                idx = (idx_packed[:, cols // per] >> shifts) & ((1 << bits) - 1)
            else:
                idx = idx_packed[:, :full_w]
            if int(idx.max()) >= len(table):
                raise ValueError("palette index out of range")
            pixels = table[idx.reshape(-1)]
            cur_w = full_w
        elif t[0] == "subgreen":
            a = (pixels >> 24) & 0xFF
            r = (pixels >> 16) & 0xFF
            gch = (pixels >> 8) & 0xFF
            b = pixels & 0xFF
            r = (r + gch) & 0xFF
            b = (b + gch) & 0xFF
            pixels = (a << 24) | (r << 16) | (gch << 8) | b
        elif t[0] == "pred":
            pixels = _inverse_predictor(pixels, cur_w, h, t[1], t[2])
        elif t[0] == "color":
            pixels = _inverse_color_transform(pixels, cur_w, h, t[1], t[2])
    return pixels


def _channels(px: int) -> np.ndarray:
    return np.array([(px >> 24) & 0xFF, (px >> 16) & 0xFF, (px >> 8) & 0xFF, px & 0xFF], dtype=np.int64)


def _pack(c: np.ndarray) -> int:
    c = c & 0xFF
    return int((c[0] << 24) | (c[1] << 16) | (c[2] << 8) | c[3])


def _avg2(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return (a + b) >> 1


def _predict(mode: int, L: np.ndarray, T: np.ndarray, TL: np.ndarray, TR: np.ndarray) -> np.ndarray:
    if mode == 0:
        return np.array([0xFF, 0, 0, 0], dtype=np.int64)
    if mode == 1:
        return L
    if mode == 2:
        return T
    if mode == 3:
        return TR
    if mode == 4:
        return TL
    if mode == 5:
        return _avg2(_avg2(L, TR), T)
    if mode == 6:
        return _avg2(L, TL)
    if mode == 7:
        return _avg2(L, T)
    if mode == 8:
        return _avg2(TL, T)
    if mode == 9:
        return _avg2(T, TR)
    if mode == 10:
        return _avg2(_avg2(L, TL), _avg2(T, TR))
    if mode == 11:  # Select
        p = L + T - TL
        return L if int(np.abs(p - L).sum()) < int(np.abs(p - T).sum()) else T
    if mode == 12:  # ClampAddSubtractFull
        return np.clip(L + T - TL, 0, 255)
    if mode == 13:  # ClampAddSubtractHalf
        ave = _avg2(L, T)
        # C-truncation toward zero for the signed half-delta
        d = ave - TL
        return np.clip(ave + np.where(d >= 0, d // 2, -((-d) // 2)), 0, 255)
    raise ValueError("invalid predictor mode")


def _inverse_predictor_lt(res: np.ndarray, w: int, h: int, bits: int, sub: np.ndarray) -> np.ndarray:
    """Fast exact path when every block mode is L(1) or T(2) — the common
    encoder output: T segments are one vectorized row add, L segments are
    a mod-256 cumulative sum seeded by the segment's left neighbor, so the
    per-pixel Python loop collapses to ~(h * w/blocksize) numpy ops."""
    bw = _div_round_up(w, 1 << bits)
    modes = ((sub >> 8) & 0xFF).astype(np.int64).reshape(-1, bw)
    r = np.stack(
        [(res >> 24) & 0xFF, (res >> 16) & 0xFF, (res >> 8) & 0xFF, res & 0xFF],
        axis=1,
    ).astype(np.int64).reshape(h, w, 4)
    out = np.zeros((h, w, 4), dtype=np.int64)
    # row 0: (0,0) predicts black, then L across the row == one cumsum
    out[0] = np.cumsum(r[0], axis=0)
    out[0, :, 0] += 0xFF  # the black prediction's alpha carries into the sum
    out[0] &= 0xFF
    block = 1 << bits
    for y in range(1, h):
        out[y, 0] = (r[y, 0] + out[y - 1, 0]) & 0xFF  # column 0 uses T
        x = 1
        while x < w:
            end = min((x // block + 1) * block, w)
            m = int(modes[y >> bits, x >> bits])
            if m == 2:
                out[y, x:end] = (r[y, x:end] + out[y - 1, x:end]) & 0xFF
            else:  # m == 1: seeded mod-256 cumulative sum
                out[y, x:end] = (
                    np.cumsum(r[y, x:end], axis=0) + out[y, x - 1]
                ) & 0xFF
            x = end
    flat = out.reshape(-1, 4).astype(np.uint32)
    return (flat[:, 0] << 24) | (flat[:, 1] << 16) | (flat[:, 2] << 8) | flat[:, 3]


def _inverse_predictor(res: np.ndarray, w: int, h: int, bits: int, sub: np.ndarray) -> np.ndarray:
    """Scan-order reconstruction: pixel = residual + prediction (mod 256
    per channel). Spec edge rules: (0,0) predicts black; the rest of row 0
    uses L; column 0 uses T. TR at the right edge is the contiguous-array
    neighbor data[idx - w + 1] (== leftmost pixel of the same row)."""
    used = set(int(m) for m in ((sub >> 8) & 0xFF))
    if used <= {1, 2} and w > 1:
        return _inverse_predictor_lt(res, w, h, bits, sub)
    bw = _div_round_up(w, 1 << bits)
    out = np.zeros(w * h, dtype=np.uint32)
    for idx in range(w * h):
        x, y = idx % w, idx // w
        if idx == 0:
            pred = np.array([0xFF, 0, 0, 0], dtype=np.int64)
        elif y == 0:
            pred = _channels(int(out[idx - 1]))
        elif x == 0:
            pred = _channels(int(out[idx - w]))
        else:
            mode = (int(sub[(y >> bits) * bw + (x >> bits)]) >> 8) & 0xFF
            L = _channels(int(out[idx - 1]))
            T = _channels(int(out[idx - w]))
            TL = _channels(int(out[idx - w - 1]))
            TR = _channels(int(out[idx - w + 1]))
            pred = _predict(mode, L, T, TL, TR)
        out[idx] = _pack(_channels(int(res[idx])) + pred)
    return out


def _s8(v: np.ndarray) -> np.ndarray:
    return np.where(v >= 128, v - 256, v)


def _inverse_color_transform(px: np.ndarray, w: int, h: int, bits: int, sub: np.ndarray) -> np.ndarray:
    """red += (g2r * green) >> 5; blue += (g2b * green + r2b * red') >> 5
    with int8 multipliers packed (r2b, g2b, g2r) in the element's
    (red, green, blue) channels."""
    bw = _div_round_up(w, 1 << bits)
    xs = np.arange(w)
    a = (px >> 24) & 0xFF
    r = ((px >> 16) & 0xFF).astype(np.int64)
    g = ((px >> 8) & 0xFF).astype(np.int64)
    b = (px & 0xFF).astype(np.int64)
    out = np.zeros_like(px)
    for y in range(h):
        row = slice(y * w, (y + 1) * w)
        elem = sub[(y >> bits) * bw + (xs >> bits)]
        g2r = _s8((elem >> 0) & 0xFF).astype(np.int64)
        g2b = _s8((elem >> 8) & 0xFF).astype(np.int64)
        r2b = _s8((elem >> 16) & 0xFF).astype(np.int64)
        gr = g[row]
        gs = _s8(gr)
        rr = (r[row] + ((g2r * gs) >> 5)) & 0xFF
        rs = _s8(rr)
        bb = (b[row] + ((g2b * gs) >> 5) + ((r2b * rs) >> 5)) & 0xFF
        out[row] = (a[row] << 24) | (rr.astype(np.uint32) << 16) | (gr.astype(np.uint32) << 8) | bb.astype(np.uint32)
    return out


def decode_vp8l_payload(payload: bytes) -> np.ndarray | None:
    """VP8L chunk payload -> (h, w, 3) uint8 RGB, or None on corruption."""
    try:
        if len(payload) < 5 or payload[0] != 0x2F:
            return None
        br = _Reader(payload[1:])
        w = br.read(14) + 1
        h = br.read(14) + 1
        br.read(1)  # alpha hint
        if br.read(3) != 0:  # version
            return None
        px = _decode_image_stream(br, w, h, True)
        rgb = np.stack(
            [(px >> 16) & 0xFF, (px >> 8) & 0xFF, px & 0xFF], axis=1
        ).astype(np.uint8)
        return rgb.reshape(h, w, 3)
    except (ValueError, IndexError, struct.error):
        return None


def decode_webp(raw: bytes) -> np.ndarray | None:
    """RIFF container walk -> VP8L decode. Lossy (VP8) and extended (VP8X)
    payloads return None here (and raise via decode_compressed_image's
    explicit stub contract, which callers use for fmt-dispatched decode)."""
    if raw is None or len(raw) < 20 or raw[:4] != b"RIFF" or raw[8:12] != b"WEBP":
        return None
    try:
        (riff_size,) = struct.unpack("<I", raw[4:8])
        if riff_size + 8 > len(raw):
            return None  # truncated container
        pos = 12
        while pos + 8 <= len(raw):
            tag = raw[pos : pos + 4]
            (size,) = struct.unpack("<I", raw[pos + 4 : pos + 8])
            if pos + 8 + size > len(raw):
                return None
            if tag == b"VP8L":
                return decode_vp8l_payload(raw[pos + 8 : pos + 8 + size])
            pos += 8 + size + (size & 1)
        return None
    except struct.error:
        return None


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------


def _write_prefix_code(bw: _Writer, lengths: dict[int, int], alphabet_size: int):
    """Emit one prefix code; returns symbol->(code,length). Uses the simple
    form when possible (1-2 symbols, all <= 255), else the normal form with
    a complete code-length code (no RLE — fixture-scale streams)."""
    used = sorted(lengths)
    if 1 <= len(used) <= 2 and all(s <= 255 for s in used):
        bw.put(1, 1)  # simple
        bw.put(len(used) - 1, 1)
        if used[0] <= 1 and len(used) == 1:
            bw.put(0, 1)
            bw.put(used[0], 1)
        else:
            bw.put(1, 1)
            bw.put(used[0], 8)
        if len(used) == 2:
            bw.put(used[1], 8)
            return {used[0]: (0, 1), used[1]: (1, 1)}
        return {used[0]: (0, 0)}
    bw.put(0, 1)  # normal
    if len(used) == 1:
        # force a complete 2-symbol code (the partner never occurs)
        partner = used[0] + 1 if used[0] + 1 < alphabet_size else used[0] - 1
        lengths = {used[0]: 1, partner: 1}
    sym_lengths = [lengths.get(s, 0) for s in range(alphabet_size)]
    cl_freq: dict[int, int] = {}
    for l in sym_lengths:
        cl_freq[l] = cl_freq.get(l, 0) + 1
    cl_lengths = _package_merge(cl_freq, 7)
    if len(cl_lengths) == 1:
        (only,) = cl_lengths
        partner = 0 if only != 0 else 1
        cl_lengths = {only: 1, partner: 1}
    cl_codes = _canonical_codes(cl_lengths)
    bw.put(19 - 4, 4)  # emit all 19 code-length-code lengths
    for s in _CL_ORDER:
        bw.put(cl_lengths.get(s, 0), 3)
    bw.put(0, 1)  # no max_symbol
    for l in sym_lengths:
        code, ln = cl_codes[l]
        bw.put_code(code, ln)
    return _canonical_codes(lengths)


def _tokenize(pixels: np.ndarray, use_rle: bool) -> list[tuple]:
    """ARGB stream -> literal / (run backref, distance 1) tokens."""
    toks: list[tuple] = []
    n = len(pixels)
    i = 0
    while i < n:
        if use_rle and i > 0 and pixels[i] == pixels[i - 1]:
            j = i
            while j < n and pixels[j] == pixels[i - 1]:
                j += 1
            if j - i >= 3:
                toks.append(("run", j - i))
                i = j
                continue
        toks.append(("lit", int(pixels[i])))
        i += 1
    return toks


def _entropy_encode(bw: _Writer, pixels: np.ndarray, use_rle: bool) -> None:
    """One prefix-code group, no cache, no meta: cache bit, meta bit
    (callers pass is_level0 streams only through encode_webp), five codes,
    then the token stream."""
    toks = _tokenize(pixels, use_rle)
    hist = [dict() for _ in range(5)]  # g+len, r, b, a, dist

    def bump(h, s):
        h[s] = h.get(s, 0) + 1

    for t in toks:
        if t[0] == "lit":
            px = t[1]
            bump(hist[0], (px >> 8) & 0xFF)
            bump(hist[1], (px >> 16) & 0xFF)
            bump(hist[2], px & 0xFF)
            bump(hist[3], (px >> 24) & 0xFF)
        else:
            lcode, _, _ = _lz77_encode(t[1])
            bump(hist[0], 256 + lcode)
            dcode, _, _ = _lz77_encode(121)  # direct distance 1 -> value 121
            bump(hist[4], dcode)
    if not hist[4]:
        hist[4][0] = 1  # unused distance code still needs a valid tree
    for h, default in zip(hist[1:4], [0, 0, 0xFF]):
        if not h:
            h[default] = 1

    sizes = [256 + 24, 256, 256, 256, 40]
    codes = []
    for h, a in zip(hist, sizes):
        lengths = _package_merge(h, 15)
        codes.append(_write_prefix_code(bw, lengths, a))

    def put_sym(tbl, s):
        code, ln = tbl[s]
        bw.put_code(code, ln)

    for t in toks:
        if t[0] == "lit":
            px = t[1]
            put_sym(codes[0], (px >> 8) & 0xFF)
            put_sym(codes[1], (px >> 16) & 0xFF)
            put_sym(codes[2], px & 0xFF)
            put_sym(codes[3], (px >> 24) & 0xFF)
        else:
            lcode, lbits, lextra = _lz77_encode(t[1])
            put_sym(codes[0], 256 + lcode)
            bw.put(lextra, lbits)
            dcode, dbits, dextra = _lz77_encode(121)
            put_sym(codes[4], dcode)
            bw.put(dextra, dbits)


def _encode_subimage(bw: _Writer, pixels: np.ndarray) -> None:
    """Transform-data subimage: cache bit 0, five codes, literals."""
    bw.put(0, 1)  # no color cache
    _entropy_encode(bw, pixels, use_rle=False)


def _forward_predictor(argb: np.ndarray, w: int, h: int, bits: int) -> tuple[np.ndarray, np.ndarray]:
    """Residuals + the block-mode subimage (modes alternate 1/2 by block
    parity, exercising the decoder's block map) — forward of
    _inverse_predictor, same edge rules."""
    bw_ = _div_round_up(w, 1 << bits)
    bh_ = _div_round_up(h, 1 << bits)
    modes = np.fromfunction(lambda by, bx: ((bx + by) % 2) + 1, (bh_, bw_), dtype=np.int64)
    sub = (0xFF << 24) | (modes.reshape(-1).astype(np.uint32) << 8)
    # forward predictions use ORIGINAL pixels (the decoder reconstructs
    # them progressively), so the whole residual image vectorizes: build
    # the L and T neighbor images, select per pixel by the block map, then
    # apply the edge rules (row 0 -> L, column 0 -> T, (0,0) -> black)
    ch = np.stack(
        [(argb >> 24) & 0xFF, (argb >> 16) & 0xFF, (argb >> 8) & 0xFF, argb & 0xFF],
        axis=1,
    ).astype(np.int64).reshape(h, w, 4)
    L = np.empty_like(ch)
    L[:, 1:] = ch[:, :-1]
    L[:, 0] = 0
    T = np.empty_like(ch)
    T[1:] = ch[:-1]
    T[0] = 0
    mode_px = np.repeat(
        np.repeat(modes, 1 << bits, axis=0)[:h], 1 << bits, axis=1
    )[:, :w]
    pred = np.where((mode_px == 1)[:, :, None], L, T)
    pred[0, 1:] = L[0, 1:]
    pred[1:, 0] = T[1:, 0]
    pred[0, 0] = np.array([0xFF, 0, 0, 0])
    resc = ((ch - pred) & 0xFF).astype(np.uint32)
    res = (
        (resc[:, :, 0] << 24)
        | (resc[:, :, 1] << 16)
        | (resc[:, :, 2] << 8)
        | resc[:, :, 3]
    ).reshape(-1)
    return res, sub


def encode_webp(
    img: np.ndarray,
    subtract_green: bool = False,
    predictor: bool = False,
    palette: bool = False,
    use_rle: bool = False,
) -> bytes:
    """(h, w, 3) uint8 -> lossless WebP bytes. At most one of `predictor`
    and `palette`; `subtract_green` composes with `predictor` per the
    stream order (written subgreen first, so the decoder inverts it last)."""
    h, w = img.shape[:2]
    if not (1 <= w <= 1 << 14 and 1 <= h <= 1 << 14):
        raise ValueError("image size out of VP8L range")
    if predictor and palette:
        raise ValueError("choose at most one of predictor/palette")
    argb = (
        (np.uint32(0xFF) << 24)
        | (img[:, :, 0].astype(np.uint32) << 16)
        | (img[:, :, 1].astype(np.uint32) << 8)
        | img[:, :, 2].astype(np.uint32)
    ).reshape(-1)

    bw = _Writer()
    bw.put(w - 1, 14)
    bw.put(h - 1, 14)
    bw.put(0, 1)  # no alpha
    bw.put(0, 3)  # version

    cur_w = w
    if palette:
        colors = np.unique(argb)
        if len(colors) > 256:
            raise ValueError("palette flavor needs <= 256 colors")
        lut = {int(c): i for i, c in enumerate(colors)}
        idx = np.array([lut[int(p)] for p in argb], dtype=np.uint32).reshape(h, w)
        size = len(colors)
        if size <= 2:
            ibits = 3
        elif size <= 4:
            ibits = 2
        elif size <= 16:
            ibits = 1
        else:
            ibits = 0
        bw.put(1, 1)
        bw.put(3, 2)  # COLOR_INDEXING
        bw.put(size - 1, 8)
        # delta-coded palette as an ARGB subimage
        deltas = np.zeros(size, dtype=np.uint32)
        prev = np.zeros(4, dtype=np.int64)
        for i, c in enumerate(colors):
            ch = _channels(int(c))
            deltas[i] = _pack(ch - prev)
            prev = ch
        _encode_subimage(bw, deltas)
        if ibits:
            per = 1 << ibits
            nb = 8 >> ibits
            packed_w = _div_round_up(w, per)
            packed = np.zeros((h, packed_w), dtype=np.uint32)
            for x in range(w):
                packed[:, x // per] |= idx[:, x] << ((x % per) * nb)
            argb = ((np.uint32(0xFF) << 24) | (packed << 8)).reshape(-1)
            cur_w = packed_w
        else:
            argb = ((np.uint32(0xFF) << 24) | (idx << 8)).reshape(-1)
    if subtract_green:
        a = (argb >> 24) & 0xFF
        r = (argb >> 16) & 0xFF
        g = (argb >> 8) & 0xFF
        b = argb & 0xFF
        argb = (a << 24) | (((r - g) & 0xFF) << 16) | (g << 8) | ((b - g) & 0xFF)
        bw.put(1, 1)
        bw.put(2, 2)  # SUBTRACT_GREEN
    if predictor:
        bits = 4  # 16x16 blocks
        argb, sub = _forward_predictor(argb, cur_w, h, bits)
        bw.put(1, 1)
        bw.put(0, 2)  # PREDICTOR
        bw.put(bits - 2, 3)
        _encode_subimage(bw, sub)
    bw.put(0, 1)  # end of transforms

    bw.put(0, 1)  # no color cache
    bw.put(0, 1)  # no meta prefix groups
    _entropy_encode(bw, argb, use_rle)

    payload = b"\x2f" + bw.tobytes()
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff
