"""WebP lossless (VP8L) codec — numpy + stdlib only.

Like the JPEG/GIF codecs in this package this is a REAL bitstream
implementation of the published format (RFC 9649 / the WebP lossless
bitstream specification), not a stand-in: the writer emits RIFF/WEBP
containers any WebP reader opens, and the reader decodes the full VP8L
feature set —

* canonical prefix (Huffman) codes, both the "simple" and the
  code-length-coded forms (incl. RLE codes 16/17/18 and the
  max_symbol early-out),
* LZ77 backward references with the prefix-coded length/distance
  scheme, both linear distances and the 120-entry short-distance
  neighbor map (table transcribed from the spec),
* color cache (the 0x1e35a7bd multiplicative hash),
* meta prefix codes (entropy image selecting per-block code groups),
* all four transforms: PREDICTOR (14 modes), COLOR (signed 3.5
  fixed-point cross-channel deltas), SUBTRACT_GREEN, and
  COLOR_INDEXING incl. sub-byte pixel packing for palettes <= 16.

The encoder emits a configurable feature subset (subtract-green,
palette with packing, uniform or per-block predictors, color cache,
distance-1 run LZ77 with linear or short-code distances, optional
two-group meta prefix) so every decoder path is exercised end-to-end
by round-trip tests.

ANIMATED WebP is real too (encode_webp_anim / decode_webp_frames):
VP8X + ANIM + ANMF chunks per RFC 9649 with lossless VP8L frame
payloads, dirty-rect delta frames (even-aligned sub-canvas ANMF
rectangles), non-premultiplied alpha blending, and dispose-to-
background compositing. Only lossy VP8 frame data raises
NotImplementedError (that needs libwebp/libvpx — the RFC 6386
probability tables cannot be reproduced here).

Pixels are (h, w, 3) uint8 RGB at the API boundary ((h, w, 4) RGBA
accepted by the encoder for blended animation frames); the internal
plane is ARGB as the format defines.
"""

from __future__ import annotations

import struct

import numpy as np

# code-length-code transmission order (spec section on prefix codes)
_CLC_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]

# short-distance neighbor map: the spec's 120 (dx, dy) pairs
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
    (2, 7), (-2, 7), (7, 2), (-7, 2), (4, 6), (-4, 6), (6, 4), (-6, 4),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (2, 8), (-2, 8), (7, 5), (-7, 5), (5, 7), (-5, 7), (8, 3),
    (-8, 3), (3, 8), (-3, 8), (6, 7), (-6, 7), (7, 6), (-7, 6), (8, 4),
]


# --------------------------------------------------------------------------
# Bit I/O (LSB-first per byte; prefix codes packed MSB-of-code first,
# the DEFLATE convention VP8L follows)


def _bitrev_arr(c: np.ndarray, n: int) -> np.ndarray:
    """Vectorized :func:`_bitrev` over an int64 array (fixed width n)."""
    r = np.zeros_like(c)
    for _ in range(n):
        r = (r << 1) | (c & 1)
        c = c >> 1
    return r


def _bitrev(c: int, n: int) -> int:
    """Reverse the low n bits of c. An MSB-first prefix code written
    into the LSB-first stream equals its bit-reversal written as one
    LSB-first chunk — the trick that lets both the writer and the LUT
    decoder treat codes as plain fixed chunks."""
    r = 0
    for _ in range(n):
        r = (r << 1) | (c & 1)
        c >>= 1
    return r


class _BitReader:
    """LSB-first reader over a precomputed 32-bit little-endian window
    per byte offset: any ≤24-bit field (VP8L's max is 15-bit prefix
    codes / 14-bit dims) is two shifts and a mask instead of a per-bit
    loop — the decode hot path found when the image-mixed frontier
    loop regressed (see BENCH/BASELINE.md round-4 session-6)."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0  # bit position
        pad = np.frombuffer(data + b"\x00\x00\x00\x00", np.uint8).astype(np.uint32)
        win = pad[:-3].copy()
        win |= pad[1:-2] << np.uint32(8)
        win |= pad[2:-1] << np.uint32(16)
        win |= pad[3:] << np.uint32(24)
        # 16 zero-window pad entries: the token scan defers truncation
        # checks to op boundaries (one check per literal/backref instead
        # of per code read), so a malformed stream may peek up to ~90
        # bits past the end before the check fires — those reads land in
        # the pad and decode deterministic garbage that the op-boundary
        # check then rejects.
        self.win = win.tolist() + [0] * 16  # list indexing beats numpy scalars
        self.nbytes = len(data)

    def bit(self) -> int:
        p = self.pos
        if p >> 3 >= self.nbytes:
            raise ValueError("VP8L: bitstream truncated")
        self.pos = p + 1
        return (self.win[p >> 3] >> (p & 7)) & 1

    def bits(self, n: int) -> int:
        if n == 0:
            return 0
        p = self.pos
        if (p + n - 1) >> 3 >= self.nbytes:
            raise ValueError("VP8L: bitstream truncated")
        self.pos = p + n
        return (self.win[p >> 3] >> (p & 7)) & ((1 << n) - 1)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def bits(self, v: int, n: int) -> None:
        self.acc |= (v & ((1 << n) - 1)) << self.n
        self.n += n
        while self.n >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def code(self, c: int, n: int) -> None:
        """Prefix-code bits go MSB-first = bit-reversed LSB chunk."""
        self.bits(_bitrev(c, n), n)

    def bits_many(self, vals: list[int], lens: list[int]) -> None:
        """Vectorized LSB-first packing of many (value, nbits) chunks
        (values must already be bit-reversed where they encode
        MSB-first prefix codes). The disjoint-OR scatter is the same
        shape as the JPEG encoder's packer: chunk start offsets by
        cumsum, each chunk ORed into up to 5 bytes with the unbuffered
        ``np.bitwise_or.at`` (adjacent chunks share bytes)."""
        if len(vals) == 0:
            return
        v = np.asarray(vals, np.uint64)
        ln = np.asarray(lens, np.int64)
        off = np.zeros(len(ln), np.int64)
        np.cumsum(ln[:-1], out=off[1:])
        off += self.n
        total = self.n + int(ln.sum())
        buf = np.zeros((total >> 3) + 9, np.uint8)
        buf[0] = self.acc & 0xFF  # merge the current partial byte
        sv = v << (off & 7).astype(np.uint64)
        bpos = off >> 3
        for j in range(5):  # ≤ (15|18 ebits) + 7 shift bits → ≤ 5 bytes
            np.bitwise_or.at(
                buf, bpos + j, ((sv >> np.uint64(8 * j)) & np.uint64(0xFF)).astype(np.uint8)
            )
        nfull = total >> 3
        self.out.extend(buf[:nfull].tobytes())
        self.acc = int(buf[nfull]) if total & 7 else 0
        self.n = total & 7

    def bytes(self) -> bytes:
        out = bytes(self.out) + (bytes([self.acc & 0xFF]) if self.n else b"")
        return out


# --------------------------------------------------------------------------
# Canonical prefix codes


def _canonical(lengths: list[int]) -> dict:
    """lengths[sym] → {sym: (code, len)}, canonical DEFLATE assignment
    (sorted by (length, symbol))."""
    max_len = max(lengths) if lengths else 0
    bl_count = [0] * (max_len + 1)
    for ln in lengths:
        if ln:
            bl_count[ln] += 1
    next_code = [0] * (max_len + 2)
    code = 0
    for b in range(1, max_len + 1):
        code = (code + bl_count[b - 1]) << 1
        next_code[b] = code
    out = {}
    for sym, ln in enumerate(lengths):
        if ln:
            out[sym] = (next_code[ln], ln)
            next_code[ln] += 1
    return out


class _Decoder:
    """Prefix-LUT canonical-code reader sized to the code's max length
    (≤15 per spec): one window peek + one PACKED table lookup per
    symbol ((sym << 5) | len, 0 = invalid window), instead of a
    per-bit walk. A single-symbol code reads zero bits, as the spec
    requires. Table rows for each symbol are its bit-reversed code
    plus every higher-bit completion (stride 2^len), so the LSB-first
    stream window indexes directly. ``pk_np`` (the numpy twin) feeds
    the vectorized combined-literal LUT cascade; ``pairs`` (the live
    (sym, len) set) feeds its Kraft coverage estimate."""

    def __init__(self, lengths: list[int]) -> None:
        live = [s for s, ln in enumerate(lengths) if ln]
        if not live:
            raise ValueError("VP8L: empty prefix code")
        self.single = live[0] if len(live) == 1 else None
        self.pairs = [(s, lengths[s]) for s in live]
        if self.single is not None:
            return
        maxlen = max(ln for ln in lengths)
        self.mask = (1 << maxlen) - 1
        sym_a = np.zeros(1 << maxlen, np.int32)
        ln_a = np.zeros(1 << maxlen, np.int32)
        # grouped by code length: one broadcasted scatter per distinct
        # length (per-symbol np.arange here was the decode hot spot)
        by_len: dict[int, tuple[list[int], list[int]]] = {}
        for s, (c, ln) in _canonical(lengths).items():
            g = by_len.setdefault(ln, ([], []))
            g[0].append(s)
            g[1].append(c)
        for ln, (syms, cods) in by_len.items():
            revs = _bitrev_arr(np.asarray(cods, np.int64), ln)
            idx = revs[:, None] + (
                np.arange(1 << (maxlen - ln), dtype=np.int64)[None, :] << ln
            )
            sym_a[idx.ravel()] = np.repeat(
                np.asarray(syms, np.int32), 1 << (maxlen - ln)
            )
            ln_a[idx.ravel()] = ln
        self.pk_np = (sym_a.astype(np.int64) << 5) | ln_a
        self.pk = self.pk_np.tolist()

    def read(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        p = br.pos
        e = self.pk[(br.win[p >> 3] >> (p & 7)) & self.mask]
        ln = e & 31
        if ln == 0:
            raise ValueError("VP8L: invalid prefix code in stream")
        p += ln
        if (p - 1) >> 3 >= br.nbytes:
            raise ValueError("VP8L: bitstream truncated")
        br.pos = p
        return e >> 5


def _limited_lengths(freq: dict[int, int], alphabet: int, cap: int = 15) -> list[int]:
    """Optimal Huffman lengths from frequencies, length-limited to
    ``cap`` by the standard overfull-redistribution pass."""
    live = [(f, s) for s, f in freq.items() if f]
    lengths = [0] * alphabet
    if not live:
        return lengths
    if len(live) == 1:
        lengths[live[0][1]] = 1
        return lengths
    # two-queue Huffman (leaves pre-sorted; merged nodes are produced
    # in nondecreasing frequency order, so two pointers replace a
    # heap) with parent-pointer depth propagation — the heapq variant
    # carried each node's full symbol list through every merge, O(n²)
    # on the ~270-live-symbol tables noise pixels produce
    live.sort()
    n_live = len(live)
    freqs = [f for f, _ in live]
    node_f: list[int] = []
    child: list[tuple[int, int]] = []  # internal k ← ids (leaf<n, else n+idx)
    i = j = 0
    for k in range(n_live - 1):
        ids = []
        for _ in range(2):
            if j < len(child) and (i >= n_live or node_f[j] <= freqs[i]):
                ids.append(n_live + j)
                j += 1
            else:
                ids.append(i)
                i += 1
        a, b = ids
        fa = freqs[a] if a < n_live else node_f[a - n_live]
        fb = freqs[b] if b < n_live else node_f[b - n_live]
        node_f.append(fa + fb)
        child.append((a, b))
    depth_arr = [0] * (2 * n_live - 1)
    for k in range(n_live - 2, -1, -1):
        a, b = child[k]
        d = depth_arr[n_live + k] + 1
        depth_arr[a] = d
        depth_arr[b] = d
    depth = {live[t][1]: depth_arr[t] for t in range(n_live)}
    bl_count = [0] * (max(depth.values()) + 1)
    for s, d in depth.items():
        bl_count[d] += 1
    # clamp to cap (DEFLATE-style: move pairs down, donors up)
    for ln in range(len(bl_count) - 1, cap, -1):
        while bl_count[ln] > 0:
            j = ln - 2
            while bl_count[j] == 0:
                j -= 1
            bl_count[ln] -= 2
            bl_count[ln - 1] += 1
            bl_count[j + 1] += 2
            bl_count[j] -= 1
    # canonical reassignment over symbols sorted by (orig depth, symbol)
    order = sorted(depth, key=lambda s: (depth[s], s))
    i = 0
    for ln in range(1, cap + 1):
        if ln < len(bl_count):
            for _ in range(bl_count[ln]):
                lengths[order[i]] = ln
                i += 1
    return lengths


# --------------------------------------------------------------------------
# Prefix-coded lengths / distances


def _prefix_encode(v: int) -> tuple[int, int, int]:
    """value → (symbol, extra_bits_value, extra_bits_count)."""
    if v <= 4:
        return v - 1, 0, 0
    x = v - 1
    hi = x.bit_length() - 1
    extra = hi - 1
    sym = 2 * hi + ((x >> extra) & 1)
    return sym, x & ((1 << extra) - 1), extra


_SHORT_CODE = {}
for _i, (_dx, _dy) in enumerate(_DIST_MAP):
    _SHORT_CODE.setdefault((_dx, _dy), _i + 1)


# --------------------------------------------------------------------------
# Prefix-code group reading/writing


def _read_code_lengths(br: _BitReader, alphabet: int) -> list[int]:
    if br.bit():  # simple code
        num = br.bit() + 1
        if br.bit():  # first symbol in 8 bits
            s0 = br.bits(8)
        else:
            s0 = br.bits(1)
        lengths = [0] * alphabet
        if num == 1:
            lengths[s0] = 1  # single symbol: zero-bit code in practice
        else:
            s1 = br.bits(8)
            lengths[s0] = 1
            lengths[s1] = 1
        return lengths
    n_codes = 4 + br.bits(4)
    clc = [0] * 19
    for i in range(n_codes):
        clc[_CLC_ORDER[i]] = br.bits(3)
    dec = _Decoder(clc)
    if br.bit():  # limited symbol count
        nbits = 2 + 2 * br.bits(3)
        max_symbol = 2 + br.bits(nbits)
    else:
        max_symbol = alphabet
    lengths = [0] * alphabet
    prev = 8
    sym = 0
    while sym < alphabet:
        if max_symbol == 0:
            break
        max_symbol -= 1
        cl = dec.read(br)
        if cl < 16:
            lengths[sym] = cl
            sym += 1
            if cl:
                prev = cl
        elif cl == 16:
            for _ in range(3 + br.bits(2)):
                if sym < alphabet:
                    lengths[sym] = prev
                    sym += 1
        elif cl == 17:
            sym += 3 + br.bits(3)
        else:
            sym += 11 + br.bits(7)
    return lengths


def _write_code_lengths(bw: _BitWriter, lengths: list[int]) -> None:
    live = [s for s, ln in enumerate(lengths) if ln]
    if 1 <= len(live) <= 2 and all(s < 256 for s in live):
        bw.bits(1, 1)  # simple
        bw.bits(len(live) - 1, 1)
        s0 = live[0]
        if s0 <= 1:
            bw.bits(0, 1)
            bw.bits(s0, 1)
        else:
            bw.bits(1, 1)
            bw.bits(s0, 8)
        if len(live) == 2:
            bw.bits(live[1], 8)
        return
    bw.bits(0, 1)
    # token stream: literals + zero-runs via 17/18 (no 16-repeats — the
    # writer favors simplicity; decoders accept any valid token mix)
    tokens: list[tuple[int, int, int]] = []  # (symbol, extra, extra_bits)
    i = 0
    n = len(lengths)
    while i < n:
        if lengths[i] == 0:
            run = 1
            while i + run < n and lengths[i + run] == 0:
                run += 1
            left = run
            while left >= 11:
                chunk = min(left, 11 + 127)
                tokens.append((18, chunk - 11, 7))
                left -= chunk
            while left >= 3:
                chunk = min(left, 3 + 7)
                tokens.append((17, chunk - 3, 3))
                left -= chunk
            for _ in range(left):
                tokens.append((0, 0, 0))
            i += run
        else:
            tokens.append((lengths[i], 0, 0))
            i += 1
    freq: dict[int, int] = {}
    for t, _, _ in tokens:
        freq[t] = freq.get(t, 0) + 1
    clc = _limited_lengths(freq, 19, cap=7)
    order_pos = {c: i for i, c in enumerate(_CLC_ORDER)}
    n_codes = max(4, 1 + max(order_pos[c] for c in range(19) if clc[c]))
    bw.bits(n_codes - 4, 4)
    for i in range(n_codes):
        bw.bits(clc[_CLC_ORDER[i]], 3)
    bw.bits(0, 1)  # no max_symbol early-out
    codes = _canonical(clc)
    single = sum(1 for ln in clc if ln) == 1
    rcodes = {t: (_bitrev(c, ln), ln) for t, (c, ln) in codes.items()}
    vals: list[int] = []
    lens_: list[int] = []
    for t, extra, ebits in tokens:
        if not single:
            r, ln = rcodes[t]
            vals.append(r)
            lens_.append(ln)
        if ebits:
            vals.append(extra)
            lens_.append(ebits)
    bw.bits_many(vals, lens_)


# --------------------------------------------------------------------------
# Decoder


def _green_alphabet(cache_bits: int) -> int:
    return 256 + 24 + ((1 << cache_bits) if cache_bits else 0)


def _read_groups(br: _BitReader, cache_bits: int, n_groups: int) -> list:
    groups = []
    for _ in range(n_groups):
        g = _Decoder(_read_code_lengths(br, _green_alphabet(cache_bits)))
        r = _Decoder(_read_code_lengths(br, 256))
        b = _Decoder(_read_code_lengths(br, 256))
        a = _Decoder(_read_code_lengths(br, 256))
        d = _Decoder(_read_code_lengths(br, 40))
        groups.append((g, r, b, a, d))
    return groups


def _len_hist(pairs, lit_only: bool = False) -> dict:
    """{code length: Kraft mass} from a decoder's live (sym, len)
    pairs. A canonical code's implied symbol probability is 2^-len, so
    these histograms estimate hit rates without seeing any pixels."""
    h: dict[int, float] = {}
    for s, ln in pairs:
        if lit_only and s >= 256:
            continue
        h[ln] = h.get(ln, 0.0) + 2.0 ** -ln
    return h


def _kraft_mass(tree_hists, kcap: int) -> float:
    """Probability (under the codes' implied distributions) that the
    total code length across the given trees fits in ``kcap`` bits —
    the expected combined-LUT hit rate."""
    dist = {0: 1.0}
    for hist in tree_hists:
        new: dict[int, float] = {}
        for tot, pm in dist.items():
            for ln, wmass in hist.items():
                nt = tot + ln
                if nt <= kcap:
                    new[nt] = new.get(nt, 0.0) + pm * wmass
        dist = new
        if not dist:
            return 0.0
    return sum(dist.values())


def _chan_step(dec, cur, k: int):
    """One channel tree in the vectorized LUT-composition cascade:
    decode the symbol at every one of the 2^k windows at once."""
    if dec.single is not None:
        z = np.zeros(1 << k, np.int64)
        return z + dec.single, z, np.ones(1 << k, bool), cur
    e = dec.pk_np[cur & dec.mask]
    ln = e & 31
    return e >> 5, ln, ln > 0, cur >> ln


def _lut_rba(rd, bd, ad, k: int) -> list[int]:
    """Combined R,B,A literal LUT over 2^k windows: entry =
    ((a<<24 | r<<16 | b) << 5) | total_len, 0 = miss (some code
    invalid or the triple doesn't fit in k bits)."""
    w = np.arange(1 << k, dtype=np.int64)
    r, lr, okr, w = _chan_step(rd, w, k)
    b, lb, okb, w = _chan_step(bd, w, k)
    a, la, oka, w = _chan_step(ad, w, k)
    total = lr + lb + la
    ok = okr & okb & oka & (total <= k)
    return np.where(ok, (((a << 24) | (r << 16) | b) << 5) | total, 0).tolist()


def _lut_grba(gd, rd, bd, ad, k: int) -> list[int]:
    """Whole-literal LUT (green + 3 channels in ONE lookup) over 2^k
    windows: entry = (packed ARGB << 5) | total_len, 0 = miss (not a
    literal, some code invalid, or doesn't fit)."""
    w = np.arange(1 << k, dtype=np.int64)
    if gd.single is not None:
        gs = np.zeros(1 << k, np.int64) + gd.single
        lg = np.zeros(1 << k, np.int64)
        okg = np.full(1 << k, gd.single < 256)
    else:
        e = gd.pk_np[w & gd.mask]
        lg = e & 31
        gs = e >> 5
        okg = (lg > 0) & (gs < 256)
        w = w >> lg
    r, lr, okr, w = _chan_step(rd, w, k)
    b, lb, okb, w = _chan_step(bd, w, k)
    a, la, oka, w = _chan_step(ad, w, k)
    total = lg + lr + lb + la
    ok = okg & okr & okb & oka & (total <= k)
    return np.where(
        ok, (((a << 24) | (r << 16) | (gs << 8) | b) << 5) | total, 0
    ).tolist()


def _pk_or_single(dec):
    """(packed_table, mask, single) scan tuple for one tree."""
    if dec.single is not None:
        return None, 0, dec.single
    return dec.pk, dec.mask, None


def _prep_group(g5, n: int):
    """Per-group scan tables: packed per-tree tables plus the best
    combined literal LUT the Kraft coverage estimate justifies. k is
    chosen by a benefit model — expected hit mass × pixels × per-hit
    saving vs the 2^k cascade/tolist build cost — so tiny images and
    deep (photographic-entropy) trees skip the build and graphics /
    palette-class content (the dominant real lossless-WebP corpus)
    collapses each literal to one or two lookups."""
    gd, rd, bd, ad, dd = g5
    fast = None
    fkind = 0
    fk = 15
    if n >= 2048:
        g_hist = _len_hist(gd.pairs, lit_only=True)
        r_hist = _len_hist(rd.pairs) if rd.single is None else {0: 1.0}
        b_hist = _len_hist(bd.pairs) if bd.single is None else {0: 1.0}
        a_hist = _len_hist(ad.pairs) if ad.single is None else {0: 1.0}
        if gd.single is not None:
            g_hist = {0: 1.0} if gd.single < 256 else {}
        best = 0.0
        for k in (15, 16, 17):
            build_us = (1 << k) * 0.06  # cascade + tolist, measured
            for kind, hists, save_us in (
                (1, [g_hist, r_hist, b_hist, a_hist], 1.1),
                (2, [r_hist, b_hist, a_hist], 0.8),
            ):
                ben = _kraft_mass(hists, k) * n * save_us - build_us
                if ben > best:
                    best = ben
                    fkind = kind
                    fk = k
        if fkind == 1:
            fast = _lut_grba(gd, rd, bd, ad, fk)
        elif fkind == 2:
            fast = _lut_rba(rd, bd, ad, fk)
    return (
        fast,
        (1 << fk) - 1,
        fkind if fast is not None else 0,
        *_pk_or_single(gd),
        *_pk_or_single(rd),
        *_pk_or_single(bd),
        *_pk_or_single(ad),
        *_pk_or_single(dd),
    )


def _scan_tokens(br: _BitReader, w: int, n: int, groups, gid, cache_bits: int):
    """Phase 1 of the two-phase pixel decode: walk the entropy stream
    ONCE, recording backref/cache ops and packed literal values — no
    per-pixel numpy writes, no cache hashing. The bitstream walk
    depends only on symbol structure (never on decoded pixel VALUES),
    so reconstruction vectorizes in phase 2 (:func:`_apply_tokens`).
    Literal runs carry no per-pixel bookkeeping: they are the gaps
    between recorded ops. Truncation checks are deferred to op
    boundaries (the reader's zero pad absorbs the bounded overshoot)."""
    win = br.win
    limit = 8 * br.nbytes
    p = br.pos
    ops: list[tuple[int, int, int, int]] = []
    lit: list[int] = []
    app_op = ops.append
    app_lit = lit.append
    per_group_n = n if len(groups) == 1 else max(n // len(groups), 512)
    tabs = [_prep_group(g5, per_group_n) for g5 in groups]
    (
        fast, fmask, fkind,
        gpk, gmask, gsingle,
        rpk, rmask, rsingle,
        bpk, bmask, bsingle,
        apk, amask, asingle,
        dpk, dmask, dsingle,
    ) = tabs[0]
    cur_g = 0
    pos = 0
    while pos < n:
        if gid is not None:
            t = gid[pos]
            if t != cur_g:
                cur_g = t
                (
                    fast, fmask, fkind,
                    gpk, gmask, gsingle,
                    rpk, rmask, rsingle,
                    bpk, bmask, bsingle,
                    apk, amask, asingle,
                    dpk, dmask, dsingle,
                ) = tabs[t]
        if fkind == 1:
            e = fast[(win[p >> 3] >> (p & 7)) & fmask]
            if e:
                p += e & 31
                if p > limit:
                    raise ValueError("VP8L: bitstream truncated")
                app_lit(e >> 5)
                pos += 1
                continue
        if gsingle is None:
            e = gpk[(win[p >> 3] >> (p & 7)) & gmask]
            ln_ = e & 31
            if not ln_:
                raise ValueError("VP8L: invalid prefix code in stream")
            p += ln_
            s = e >> 5
        else:
            s = gsingle
        if s < 256:
            if fkind == 2:
                e = fast[(win[p >> 3] >> (p & 7)) & fmask]
                if e:
                    p += e & 31
                    if p > limit:
                        raise ValueError("VP8L: bitstream truncated")
                    app_lit((e >> 5) | (s << 8))
                    pos += 1
                    continue
            if rsingle is None:
                e = rpk[(win[p >> 3] >> (p & 7)) & rmask]
                ln_ = e & 31
                if not ln_:
                    raise ValueError("VP8L: invalid prefix code in stream")
                p += ln_
                r = e >> 5
            else:
                r = rsingle
            if bsingle is None:
                e = bpk[(win[p >> 3] >> (p & 7)) & bmask]
                ln_ = e & 31
                if not ln_:
                    raise ValueError("VP8L: invalid prefix code in stream")
                p += ln_
                b2 = e >> 5
            else:
                b2 = bsingle
            if asingle is None:
                e = apk[(win[p >> 3] >> (p & 7)) & amask]
                ln_ = e & 31
                if not ln_:
                    raise ValueError("VP8L: invalid prefix code in stream")
                p += ln_
                a = e >> 5
            else:
                a = asingle
            if p > limit:
                raise ValueError("VP8L: bitstream truncated")
            app_lit((a << 24) | (r << 16) | (s << 8) | b2)
            pos += 1
        elif s < 280:
            sym = s - 256
            if sym < 4:
                length = sym + 1
            else:
                eb = (sym - 2) >> 1
                length = ((2 + (sym & 1)) << eb) + (
                    (win[p >> 3] >> (p & 7)) & ((1 << eb) - 1)
                ) + 1
                p += eb
            if dsingle is None:
                e = dpk[(win[p >> 3] >> (p & 7)) & dmask]
                ln_ = e & 31
                if not ln_:
                    raise ValueError("VP8L: invalid prefix code in stream")
                p += ln_
                ds_ = e >> 5
            else:
                ds_ = dsingle
            if ds_ < 4:
                dcode = ds_ + 1
            else:
                eb = (ds_ - 2) >> 1
                dcode = ((2 + (ds_ & 1)) << eb) + (
                    (win[p >> 3] >> (p & 7)) & ((1 << eb) - 1)
                ) + 1
                p += eb
            if p > limit:
                raise ValueError("VP8L: bitstream truncated")
            if dcode > 120:
                dist = dcode - 120
            else:
                dx, dy = _DIST_MAP[dcode - 1]
                dist = dy * w + dx
                if dist < 1:
                    dist = 1
            if dist > pos:
                raise ValueError("VP8L: backref before image start")
            if pos + length > n:
                raise ValueError("VP8L: backref past image end")
            app_op((1, pos, length, dist))
            pos += length
        else:
            if cache_bits == 0:
                raise ValueError("VP8L: cache symbol without cache")
            if p > limit:
                raise ValueError("VP8L: bitstream truncated")
            app_op((2, pos, s - 280, 0))
            pos += 1
    if p > limit:
        raise ValueError("VP8L: bitstream truncated")
    br.pos = p
    return ops, lit


def _apply_tokens(ops, lit, n: int, cache_bits: int) -> np.ndarray:
    """Phase 2: reconstruct the packed-uint32 ARGB pixel stream from
    the scanned ops. Without a color cache, literal gaps are slice
    assigns and backrefs are in-order slice / broadcast / modulo-index
    copies (dist-1 runs — the encoder's RLE form — broadcast one
    value). With a cache, ops replay in order with the cache as a
    uint32 array: big runs push hashes vectorized (reversed-unique =
    deterministic last-wins), tiny runs in scalar int arithmetic."""
    out = np.zeros(n, np.uint32)
    la = np.array(lit, np.uint32) if lit else np.zeros(0, np.uint32)
    if cache_bits == 0:
        cur = 0
        lc = 0
        for k, s, x, _y in ops:
            gap = s - cur
            if gap:
                out[cur:s] = la[lc : lc + gap]
                lc += gap
            cur = s + (x if k == 1 else 1)
        if cur < n:
            out[cur:n] = la[lc : lc + (n - cur)]
        for k, s, x, y in ops:
            if k == 1:
                if y >= x:
                    out[s : s + x] = out[s - y : s - y + x]
                elif y == 1:
                    out[s : s + x] = out[s - 1]
                else:
                    out[s : s + x] = out[s - y + np.arange(x) % y]
        return out
    cache = np.zeros(1 << cache_bits, np.uint32)
    mult = np.uint32(0x1E35A7BD)
    shn = 32 - cache_bits
    sh = np.uint32(shn)

    def _push_vec(vals: np.ndarray) -> None:
        keys = (vals * mult) >> sh
        kr = keys[::-1]
        uk, fi = np.unique(kr, return_index=True)
        cache[uk] = vals[::-1][fi]

    cur = 0
    lc = 0
    for k, s, x, y in ops:
        gap = s - cur
        if gap:
            out[cur:s] = la[lc : lc + gap]
            if gap > 64:
                _push_vec(la[lc : lc + gap])
            else:
                for v in lit[lc : lc + gap]:
                    cache[(v * 0x1E35A7BD & 0xFFFFFFFF) >> shn] = v
            lc += gap
            cur = s
        if k == 1:
            if y >= x:
                out[s : s + x] = out[s - y : s - y + x]
            elif y == 1:
                out[s : s + x] = out[s - 1]
            else:
                out[s : s + x] = out[s - y + np.arange(x) % y]
            blk = out[s : s + x]
            if x > 64:
                _push_vec(blk)
            else:
                for v in blk.tolist():
                    cache[(v * 0x1E35A7BD & 0xFFFFFFFF) >> shn] = v
            cur = s + x
        else:
            out[s] = cache[x]
            cur = s + 1
    if cur < n:
        out[cur:n] = la[lc : lc + (n - cur)]
    return out


def _decode_pixels(br: _BitReader, w: int, h: int, level0: bool):
    """One entropy-coded image → (h, w, 4) uint8 ARGB (A,R,G,B order).

    Two-phase decode (r04 verdict item 3 — this replaced a per-pixel
    Python walk with per-pixel numpy scalar writes): _scan_tokens
    walks the bitstream once with packed one-lookup tables and
    Kraft-gated combined literal LUTs; _apply_tokens reconstructs the
    packed-uint32 pixel stream with vectorized slice ops."""
    meta = None
    meta_bits = 0
    if level0 and br.bit():
        meta_bits = br.bits(3) + 2
        mw = (w + (1 << meta_bits) - 1) >> meta_bits
        mh = (h + (1 << meta_bits) - 1) >> meta_bits
        meta = _decode_pixels(br, mw, mh, False)
    cache_bits = br.bits(4) if br.bit() else 0
    if cache_bits > 11:
        raise ValueError("VP8L: color cache too large")
    n_groups = 1
    gid = None
    if meta is not None:
        idx = (meta[:, :, 1].astype(np.int32) << 8) | meta[:, :, 2]
        n_groups = int(idx.max()) + 1
        gid = (
            idx[(np.arange(h) >> meta_bits)][:, (np.arange(w) >> meta_bits)]
            .ravel()
            .tolist()
        )
    groups = _read_groups(br, cache_bits, n_groups)
    n = h * w
    ops, lit = _scan_tokens(br, w, n, groups, gid, cache_bits)
    packed = _apply_tokens(ops, lit, n, cache_bits)
    # packed = a<<24|r<<16|g<<8|b; little-endian byte view reversed
    # per row → (a, r, g, b)
    arr = packed.view(np.uint8).reshape(n, 4)[:, ::-1]
    return np.ascontiguousarray(arr).reshape(h, w, 4)


def _inv_subtract_green(img: np.ndarray) -> np.ndarray:
    g = img[:, :, 2].astype(np.int32)
    img[:, :, 1] = (img[:, :, 1] + g) & 0xFF
    img[:, :, 3] = (img[:, :, 3] + g) & 0xFF
    return img


def _avg2(a, b):
    return tuple((int(x) + int(y)) // 2 for x, y in zip(a, b))


def _clamp_add_sub_full(l, t, tl):
    return tuple(
        min(255, max(0, int(a) + int(b) - int(c))) for a, b, c in zip(l, t, tl)
    )


def _clamp_add_sub_half(avg, tl):
    out = []
    for a, c in zip(avg, tl):
        v = int(a) + (int(a) - int(c)) // 2
        out.append(min(255, max(0, v)))
    return tuple(out)


def _select(l, t, tl):
    p = [int(a) + int(b) - int(c) for a, b, c in zip(l, t, tl)]
    pl = sum(abs(x - int(y)) for x, y in zip(p, l))
    pt = sum(abs(x - int(y)) for x, y in zip(p, t))
    return tuple(l) if pl < pt else tuple(t)


def _predict(mode: int, l, t, tr, tl):
    if mode == 0:
        return (255, 0, 0, 0)
    if mode == 1:
        return tuple(l)
    if mode == 2:
        return tuple(t)
    if mode == 3:
        return tuple(tr)
    if mode == 4:
        return tuple(tl)
    if mode == 5:
        return _avg2(_avg2(l, tr), t)
    if mode == 6:
        return _avg2(l, tl)
    if mode == 7:
        return _avg2(l, t)
    if mode == 8:
        return _avg2(tl, t)
    if mode == 9:
        return _avg2(t, tr)
    if mode == 10:
        return _avg2(_avg2(l, tl), _avg2(t, tr))
    if mode == 11:
        return _select(l, t, tl)
    if mode == 12:
        return _clamp_add_sub_full(l, t, tl)
    if mode == 13:
        return _clamp_add_sub_half(_avg2(l, t), tl)
    raise ValueError(f"VP8L: bad predictor mode {mode}")


def _inv_predictor(img: np.ndarray, modes: np.ndarray, size_bits: int) -> np.ndarray:
    """Inverse spatial prediction. The left-neighbor dependency makes
    this inherently sequential per pixel, so the walk runs on plain
    Python int rows with the per-mode arithmetic inlined — ~6× the
    numpy-scalar-indexing version it replaced (every out[y, x] fancy
    read/write was ~1 µs). The forward (encoder) side keeps the
    readable _predict dispatch."""
    h, w, _ = img.shape
    res = img.astype(np.int32).tolist()
    mrow_all = modes[:, :, 2].tolist()
    prev = None
    for y in range(h):
        row = res[y]
        if y == 0:
            c = row[0]
            c[0] = (c[0] + 255) & 0xFF
            for x in range(1, w):
                l = row[x - 1]
                c = row[x]
                for i in range(4):
                    c[i] = (c[i] + l[i]) & 0xFF
        else:
            mrow = mrow_all[y >> size_bits]
            c = row[0]
            t = prev[0]
            for i in range(4):
                c[i] = (c[i] + t[i]) & 0xFF
            for x in range(1, w):
                mode = mrow[x >> size_bits]
                c = row[x]
                l = row[x - 1]
                t = prev[x]
                if mode == 7:  # avg(L, T) — cwebp's most common pick
                    for i in range(4):
                        c[i] = (c[i] + ((l[i] + t[i]) >> 1)) & 0xFF
                elif mode == 0:
                    c[0] = (c[0] + 255) & 0xFF
                elif mode == 1:
                    for i in range(4):
                        c[i] = (c[i] + l[i]) & 0xFF
                elif mode == 2:
                    for i in range(4):
                        c[i] = (c[i] + t[i]) & 0xFF
                elif mode == 3:
                    tr = prev[x + 1] if x + 1 < w else prev[0]
                    for i in range(4):
                        c[i] = (c[i] + tr[i]) & 0xFF
                elif mode == 4:
                    tl = prev[x - 1]
                    for i in range(4):
                        c[i] = (c[i] + tl[i]) & 0xFF
                elif mode == 5:
                    tr = prev[x + 1] if x + 1 < w else prev[0]
                    for i in range(4):
                        c[i] = (c[i] + ((((l[i] + tr[i]) >> 1) + t[i]) >> 1)) & 0xFF
                elif mode == 6:
                    tl = prev[x - 1]
                    for i in range(4):
                        c[i] = (c[i] + ((l[i] + tl[i]) >> 1)) & 0xFF
                elif mode == 8:
                    tl = prev[x - 1]
                    for i in range(4):
                        c[i] = (c[i] + ((tl[i] + t[i]) >> 1)) & 0xFF
                elif mode == 9:
                    tr = prev[x + 1] if x + 1 < w else prev[0]
                    for i in range(4):
                        c[i] = (c[i] + ((t[i] + tr[i]) >> 1)) & 0xFF
                elif mode == 10:
                    tl = prev[x - 1]
                    tr = prev[x + 1] if x + 1 < w else prev[0]
                    for i in range(4):
                        c[i] = (
                            c[i]
                            + ((((l[i] + tl[i]) >> 1) + ((t[i] + tr[i]) >> 1)) >> 1)
                        ) & 0xFF
                elif mode == 11:
                    tl = prev[x - 1]
                    pl = 0
                    pt = 0
                    for i in range(4):
                        pv = l[i] + t[i] - tl[i]
                        pl += abs(pv - l[i])
                        pt += abs(pv - t[i])
                    src = l if pl < pt else t
                    for i in range(4):
                        c[i] = (c[i] + src[i]) & 0xFF
                elif mode == 12:
                    tl = prev[x - 1]
                    for i in range(4):
                        v = l[i] + t[i] - tl[i]
                        c[i] = (c[i] + (0 if v < 0 else 255 if v > 255 else v)) & 0xFF
                elif mode == 13:
                    tl = prev[x - 1]
                    for i in range(4):
                        av = (l[i] + t[i]) >> 1
                        v = av + ((av - tl[i]) // 2)
                        c[i] = (c[i] + (0 if v < 0 else 255 if v > 255 else v)) & 0xFF
                else:
                    raise ValueError(f"VP8L: bad predictor mode {mode}")
        prev = row
    return np.asarray(res, np.int32).astype(np.uint8)


def _delta(t: int, v: int) -> int:
    return ((t if t < 128 else t - 256) * (v if v < 128 else v - 256)) >> 5


def _inv_color_transform(img: np.ndarray, elems: np.ndarray, size_bits: int) -> np.ndarray:
    """Fully vectorized: every pixel is independent (r depends only on
    its own g, b on its own g and the just-computed r). The per-block
    transform elements broadcast to the pixel grid; sign-extension and
    the arithmetic >> 5 match _delta exactly (numpy int32 >> is
    arithmetic shift, same floor semantics as Python's)."""
    h, w, _ = img.shape
    # spec channel layout: green_to_red lives in the BLUE channel,
    # green_to_blue in GREEN, red_to_blue in RED
    e = elems[
        (np.arange(h) >> size_bits)[:, None], (np.arange(w) >> size_bits)[None, :]
    ].astype(np.int32)
    g2r = ((e[:, :, 3] + 128) & 0xFF) - 128
    g2b = ((e[:, :, 2] + 128) & 0xFF) - 128
    r2b = ((e[:, :, 1] + 128) & 0xFF) - 128
    out = img.astype(np.int32)
    g = ((out[:, :, 2] + 128) & 0xFF) - 128
    r = (out[:, :, 1] + ((g2r * g) >> 5)) & 0xFF
    rs = ((r + 128) & 0xFF) - 128
    out[:, :, 1] = r
    out[:, :, 3] = (out[:, :, 3] + ((g2b * g) >> 5) + ((r2b * rs) >> 5)) & 0xFF
    return out.astype(np.uint8)


def _inv_color_indexing(img: np.ndarray, palette: np.ndarray, full_w: int) -> np.ndarray:
    n = len(palette)
    if n <= 2:
        bits = 3
    elif n <= 4:
        bits = 2
    elif n <= 16:
        bits = 1
    else:
        bits = 0
    h = img.shape[0]
    idx = img[:, :, 2]  # indices live in the green channel
    if bits:
        per = 1 << bits  # pixels per packed byte
        width_bits = 8 >> bits
        unpacked = np.zeros((h, full_w), np.uint8)
        for x in range(full_w):
            src = idx[:, x >> bits]
            shift = (x & (per - 1)) * width_bits
            unpacked[:, x] = (src >> shift) & ((1 << width_bits) - 1)
        idx = unpacked
    idx = np.minimum(idx.astype(np.int32), n - 1)
    return palette[idx]


def walk_webp_chunks(data: bytes) -> list[tuple[bytes, int, int]]:
    """RIFF chunk walk: [(fourcc, payload_start, payload_len)].
    Raises ValueError when the container signature is wrong."""
    if data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WebP/RIFF container")
    chunks = []
    pos = 12
    while pos + 8 <= len(data):
        fourcc = data[pos : pos + 4]
        (ln,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        chunks.append((fourcc, pos + 8, ln))
        pos += 8 + ln + (ln & 1)  # chunks are even-padded
    return chunks


def decode_webp(data: bytes) -> np.ndarray:
    """WebP bytes → (h, w, 3) uint8 RGB. Lossless (VP8L) stills,
    including inside a VP8X extended container (metadata chunks are
    skipped); an ANIMATED file decodes to its FIRST composited frame
    (the PIL convention — the frame sampler in operators/multimodal.py
    gets the full sequence via decode_webp_frames). Lossy VP8 raises
    NotImplementedError naming the feature (needs libwebp/libvpx)."""
    chunks = {fourcc: (at, ln) for fourcc, at, ln in walk_webp_chunks(data)}
    if b"ANIM" in chunks or b"ANMF" in chunks:
        _, frames = decode_webp_frames(data)
        return frames[0]
    if b"VP8L" not in chunks:
        if b"VP8 " in chunks:
            raise NotImplementedError("lossy VP8 WebP requires libwebp (absent here)")
        raise ValueError(f"no decodable image chunk in {sorted(chunks)!r}")
    at, ln = chunks[b"VP8L"]
    argb = _decode_vp8l_payload(data[at : at + ln])
    return np.ascontiguousarray(argb[:, :, 1:4])  # ARGB → RGB


def _decode_vp8l_payload(payload: bytes) -> np.ndarray:
    """Raw VP8L chunk payload (signature byte included) →
    (h, w, 4) uint8 ARGB — alpha kept so animation compositing can
    blend; still-image callers slice channels 1:4."""
    if not payload or payload[0] != 0x2F:
        raise ValueError("VP8L: bad signature byte")
    br = _BitReader(payload[1:])
    w = br.bits(14) + 1
    h = br.bits(14) + 1
    br.bit()  # alpha hint
    if br.bits(3) != 0:
        raise ValueError("VP8L: unsupported version")
    transforms = []  # (type, data...), stream order
    xsize = w
    seen = set()
    while br.bit():
        t = br.bits(2)
        if t in seen:
            raise ValueError("VP8L: duplicate transform")
        seen.add(t)
        if t == 0:  # predictor
            size_bits = br.bits(3) + 2
            bw_ = (xsize + (1 << size_bits) - 1) >> size_bits
            bh_ = (h + (1 << size_bits) - 1) >> size_bits
            transforms.append((0, size_bits, _decode_pixels(br, bw_, bh_, False)))
        elif t == 1:  # color transform
            size_bits = br.bits(3) + 2
            bw_ = (xsize + (1 << size_bits) - 1) >> size_bits
            bh_ = (h + (1 << size_bits) - 1) >> size_bits
            transforms.append((1, size_bits, _decode_pixels(br, bw_, bh_, False)))
        elif t == 2:  # subtract green
            transforms.append((2,))
        else:  # color indexing
            n_colors = br.bits(8) + 1
            pal_img = _decode_pixels(br, n_colors, 1, False)
            # palette is delta-coded along the row
            pal = pal_img[0].astype(np.int32)
            pal = np.cumsum(pal, axis=0) & 0xFF
            transforms.append((3, n_colors, pal.astype(np.uint8)))
            if n_colors <= 2:
                xsize = (xsize + 7) >> 3
            elif n_colors <= 4:
                xsize = (xsize + 3) >> 2
            elif n_colors <= 16:
                xsize = (xsize + 1) >> 1
    img = _decode_pixels(br, xsize, h, True)
    cur_w = xsize
    for tr in reversed(transforms):
        if tr[0] == 2:
            img = _inv_subtract_green(img)
        elif tr[0] == 0:
            img = _inv_predictor(img, tr[2], tr[1])
        elif tr[0] == 1:
            img = _inv_color_transform(img, tr[2], tr[1])
        else:
            img = _inv_color_indexing(img, tr[2], w)
            cur_w = w
    if img.shape[1] != w:
        raise ValueError("VP8L: width mismatch after transforms")
    return img


# --------------------------------------------------------------------------
# Encoder


class _SymbolStream:
    """Token stream for one entropy-coded image: literals, cache hits,
    and (length, distance) backrefs, with two-pass histogram → emit."""

    def __init__(self, cache_bits: int = 0) -> None:
        self.tokens: list[tuple] = []
        self.cache_bits = cache_bits

    def literal(self, a: int, r: int, g: int, b: int) -> None:
        self.tokens.append(("lit", a, r, g, b))

    def lit_block(self, argb_rows: np.ndarray) -> None:
        """A maximal run of literal pixels as ONE token carrying the
        (m, 4) ARGB array — histogrammed with bincount and emitted as
        array-mapped code chunks (the per-pixel tuple path stays for
        the color-cache mode, whose state is inherently sequential)."""
        if len(argb_rows):
            self.tokens.append(("lits", argb_rows))

    def cache_hit(self, index: int) -> None:
        self.tokens.append(("cache", index))

    def backref(self, length: int, dist_code: int) -> None:
        self.tokens.append(("ref", length, dist_code))

    def _prepare(self, bw: _BitWriter):
        """Histogram the tokens (bincount for literal blocks), write
        the five code-length tables, and return (codes, single) for
        emission."""
        gf_a = np.zeros(_green_alphabet(self.cache_bits), np.int64)
        rf_a = np.zeros(256, np.int64)
        bf_a = np.zeros(256, np.int64)
        af_a = np.zeros(256, np.int64)
        df_a = np.zeros(40, np.int64)

        for tok in self.tokens:
            if tok[0] == "lits":
                arr = tok[1]
                af_a += np.bincount(arr[:, 0], minlength=256)
                rf_a += np.bincount(arr[:, 1], minlength=256)
                gf_a[:256] += np.bincount(arr[:, 2], minlength=256)
                bf_a += np.bincount(arr[:, 3], minlength=256)
            elif tok[0] == "lit":
                _, a, r, g, b = tok
                gf_a[g] += 1
                rf_a[r] += 1
                bf_a[b] += 1
                af_a[a] += 1
            elif tok[0] == "cache":
                gf_a[256 + 24 + tok[1]] += 1
            else:
                _, length, dist_code = tok
                gf_a[256 + _prefix_encode(length)[0]] += 1
                df_a[_prefix_encode(dist_code)[0]] += 1

        def freq(acc):
            return {int(i): int(acc[i]) for i in np.flatnonzero(acc)}

        gf, rf, bf, af, df = (freq(a) for a in (gf_a, rf_a, bf_a, af_a, df_a))
        if not gf:
            gf = {0: 1}
        rf = rf or {0: 1}
        bf = bf or {0: 1}
        af = af or {0: 1}
        df = df or {0: 1}
        lens = {
            "g": _limited_lengths(gf, _green_alphabet(self.cache_bits)),
            "r": _limited_lengths(rf, 256),
            "b": _limited_lengths(bf, 256),
            "a": _limited_lengths(af, 256),
            "d": _limited_lengths(df, 40),
        }
        for k in ("g", "r", "b", "a", "d"):
            _write_code_lengths(bw, lens[k])
        codes = {k: _canonical(v) for k, v in lens.items()}
        single = {k: sum(1 for ln in v if ln) == 1 for k, v in lens.items()}
        return codes, single

    def write(self, bw: _BitWriter) -> None:
        codes, single = self._prepare(bw)
        # Bit-reversed array code tables: literal blocks emit as
        # array-mapped (value, nbits) chunks and the WHOLE token
        # stream packs in one vectorized bits_many call (the per-bit
        # loop here was the encode hot path; BENCH/BASELINE.md
        # round-4 session-6).
        tabs = {}
        for k, v in codes.items():
            alph = (
                _green_alphabet(self.cache_bits)
                if k == "g"
                else (40 if k == "d" else 256)
            )
            cv = np.zeros(alph, np.uint64)
            cl = np.zeros(alph, np.int64)
            for s, (c, ln) in v.items():
                cv[s] = _bitrev(c, ln)
                cl[s] = ln
            tabs[k] = (cv, cl)
        parts_v: list[np.ndarray] = []
        parts_l: list[np.ndarray] = []
        sv: list[int] = []
        sl: list[int] = []

        def flush_scalars():
            if sv:
                parts_v.append(np.asarray(sv, np.uint64))
                parts_l.append(np.asarray(sl, np.int64))
                sv.clear()
                sl.clear()

        def emit(k, sym):
            if not single[k]:
                c, ln = codes[k][sym]
                sv.append(_bitrev(c, ln))
                sl.append(ln)

        for tok in self.tokens:
            if tok[0] == "lits":
                flush_scalars()
                arr = tok[1]
                cols_v, cols_l = [], []
                for k, ch in (("g", 2), ("r", 1), ("b", 3), ("a", 0)):
                    if single[k]:
                        continue
                    cv, cl = tabs[k]
                    syms = arr[:, ch]
                    cols_v.append(cv[syms])
                    cols_l.append(cl[syms])
                if cols_v:
                    parts_v.append(np.stack(cols_v, 1).ravel())
                    parts_l.append(np.stack(cols_l, 1).ravel())
            elif tok[0] == "lit":
                _, a, r, g, b = tok
                emit("g", g)
                emit("r", r)
                emit("b", b)
                emit("a", a)
            elif tok[0] == "cache":
                emit("g", 256 + 24 + tok[1])
            else:
                _, length, dist_code = tok
                sym, extra, ebits = _prefix_encode(length)
                emit("g", 256 + sym)
                if ebits:
                    sv.append(extra & ((1 << ebits) - 1))
                    sl.append(ebits)
                sym, extra, ebits = _prefix_encode(dist_code)
                emit("d", sym)
                if ebits:
                    sv.append(extra & ((1 << ebits) - 1))
                    sl.append(ebits)
        flush_scalars()
        if parts_v:
            bw.bits_many(np.concatenate(parts_v), np.concatenate(parts_l))


def _tokenize(
    argb: np.ndarray,
    w: int,
    cache_bits: int,
    use_lz77: bool,
    short_codes: bool,
) -> _SymbolStream:
    """Pixel stream → tokens: optional distance-1 run LZ77 (the RLE
    backref every decoder must handle) + optional color cache."""
    flat = argb.reshape(-1, 4)
    n = len(flat)
    stream = _SymbolStream(cache_bits)
    cache = [None] * (1 << cache_bits) if cache_bits else None
    dist1_code = _SHORT_CODE[(1, 0)] if short_codes else 1 + 120

    if cache is None:
        # vectorized path (no sequential cache state): maximal
        # repeat-runs become dist-1 backrefs, everything between is
        # one literal block per span
        if not use_lz77 or n <= 1:
            stream.lit_block(flat)
            return stream
        member = np.zeros(n, bool)
        member[1:] = (flat[1:] == flat[:-1]).all(1)
        if not member.any():
            stream.lit_block(flat)
            return stream
        bounds = [0, *(np.flatnonzero(np.diff(member.astype(np.int8))) + 1).tolist(), n]
        for a, b in zip(bounds[:-1], bounds[1:]):
            if member[a]:
                left = b - a
                while left > 0:
                    chunk = min(left, 4096)
                    stream.backref(chunk, dist1_code)
                    left -= chunk
            else:
                stream.lit_block(flat[a:b])
        return stream

    def cache_key(px):
        v = (int(px[0]) << 24) | (int(px[1]) << 16) | (int(px[2]) << 8) | int(px[3])
        return (0x1E35A7BD * v & 0xFFFFFFFF) >> (32 - cache_bits)

    i = 0
    while i < n:
        px = flat[i]
        if use_lz77 and i > 0 and np.array_equal(px, flat[i - 1]):
            run = 1
            while i + run < n and np.array_equal(flat[i + run], flat[i - 1]):
                run += 1
            left = run
            while left > 0:
                chunk = min(left, 4096)
                stream.backref(chunk, dist1_code)
                left -= chunk
            if cache is not None:
                t = tuple(int(v) for v in px)
                cache[cache_key(t)] = t
            i += run
            continue
        t = tuple(int(v) for v in px)
        if cache is not None:
            k = cache_key(t)
            if cache[k] == t:
                stream.cache_hit(k)
                i += 1
                continue
            cache[k] = t
        stream.literal(*t)
        i += 1
    return stream


def encode_webp(
    pixels: np.ndarray,
    **knobs,
) -> bytes:
    """(h, w, 3) uint8 RGB (or (h, w, 4) RGBA) → lossless WebP (VP8L)
    still image. Always lossless. See encode_vp8l for the feature
    knobs that drive every decoder path in round-trip tests."""
    return _riff(encode_vp8l(pixels, **knobs))


def encode_vp8l(
    pixels: np.ndarray,
    subtract_green: bool = True,
    cache_bits: int = 0,
    use_lz77: bool = True,
    short_codes: bool = False,
    palette: bool = False,
    predictor_modes: np.ndarray | None = None,
    predictor_size_bits: int = 4,
    color_elems: np.ndarray | None = None,
    color_size_bits: int = 4,
    meta_group_bits: int | None = None,
) -> bytes:
    """(h, w, 3) RGB or (h, w, 4) RGBA uint8 → raw VP8L chunk payload
    (signature byte included) — shared by the still-image RIFF wrapper
    and the per-frame ANMF sub-chunks of animations.

    Feature knobs exist so round-trip tests drive every decoder path:
    ``palette=True`` uses COLOR_INDEXING (requires <= 256 distinct
    colors; sub-byte packing kicks in at <= 16), ``predictor_modes``
    is an (bh, bw) int array of per-block predictor modes (enables the
    PREDICTOR transform), ``short_codes`` emits the distance-1 run
    through the neighbor map instead of the linear form."""
    h, w, c = pixels.shape
    assert c in (3, 4) and pixels.dtype == np.uint8
    argb = np.zeros((h, w, 4), np.uint8)
    argb[:, :, 0] = 255 if c == 3 else pixels[:, :, 3]
    argb[:, :, 1:4] = pixels[:, :, :3]
    has_alpha = c == 4 and bool((pixels[:, :, 3] != 255).any())
    bw_ = _BitWriter()
    bw_.bits(w - 1, 14)
    bw_.bits(h - 1, 14)
    bw_.bits(1 if has_alpha else 0, 1)  # alpha hint
    bw_.bits(0, 3)  # version

    xsize = w
    if palette:
        assert c == 3, "palette mode is RGB-only"
        flat = pixels.reshape(-1, 3)
        colors = np.unique(flat, axis=0)
        if len(colors) > 256:
            raise ValueError("palette mode needs <= 256 distinct colors")
        lut = {tuple(int(v) for v in col): i for i, col in enumerate(colors)}
        idx = np.array(
            [lut[tuple(int(v) for v in px)] for px in flat], np.uint8
        ).reshape(h, w)
        bw_.bits(1, 1)
        bw_.bits(3, 2)  # COLOR_INDEXING
        n_colors = len(colors)
        bw_.bits(n_colors - 1, 8)
        pal_argb = np.zeros((1, n_colors, 4), np.uint8)
        pal_argb[0, :, 0] = 255
        pal_argb[0, :, 1:4] = colors
        delta = pal_argb.astype(np.int32).copy()
        delta[0, 1:] = (pal_argb[0, 1:].astype(np.int32) - pal_argb[0, :-1]) & 0xFF
        _encode_entropy_image(bw_, delta.astype(np.uint8), 0, use_lz77, False)
        if n_colors <= 2:
            per, wbits = 8, 1
        elif n_colors <= 4:
            per, wbits = 4, 2
        elif n_colors <= 16:
            per, wbits = 2, 4
        else:
            per, wbits = 1, 8
        if per > 1:
            xsize = (w + per - 1) // per
            packed = np.zeros((h, xsize), np.uint8)
            for x in range(w):
                packed[:, x // per] |= idx[:, x] << ((x % per) * wbits)
        else:
            packed = idx
        argb = np.zeros((h, xsize, 4), np.uint8)
        argb[:, :, 0] = 255
        argb[:, :, 2] = packed
        bw_.bits(0, 1)  # end of transforms
        _encode_entropy_image(bw_, argb, cache_bits, use_lz77, True, short_codes)
        return b"\x2f" + bw_.bytes()

    if color_elems is not None:
        bw_.bits(1, 1)
        bw_.bits(1, 2)  # COLOR transform
        sb = color_size_bits
        bw_.bits(sb - 2, 3)
        bh_ = (h + (1 << sb) - 1) >> sb
        bwid = (w + (1 << sb) - 1) >> sb
        assert color_elems.shape == (bh_, bwid, 3)  # (g2r, g2b, r2b) per block
        elem_img = np.zeros((bh_, bwid, 4), np.uint8)
        elem_img[:, :, 0] = 255
        elem_img[:, :, 3] = color_elems[:, :, 0]  # green_to_red → blue
        elem_img[:, :, 2] = color_elems[:, :, 1]  # green_to_blue → green
        elem_img[:, :, 1] = color_elems[:, :, 2]  # red_to_blue → red
        _encode_entropy_image(bw_, elem_img, 0, use_lz77, False)
        argb = _fwd_color_transform(argb, color_elems, sb)
    if predictor_modes is not None:
        bw_.bits(1, 1)
        bw_.bits(0, 2)  # PREDICTOR
        sb = predictor_size_bits
        bw_.bits(sb - 2, 3)
        bh_ = (h + (1 << sb) - 1) >> sb
        bwid = (w + (1 << sb) - 1) >> sb
        assert predictor_modes.shape == (bh_, bwid)
        mode_img = np.zeros((bh_, bwid, 4), np.uint8)
        mode_img[:, :, 0] = 255
        mode_img[:, :, 2] = predictor_modes
        _encode_entropy_image(bw_, mode_img, 0, use_lz77, False)
        argb = _fwd_predictor(argb, predictor_modes, sb)
    if subtract_green:
        bw_.bits(1, 1)
        bw_.bits(2, 2)  # SUBTRACT_GREEN
        g = argb[:, :, 2].astype(np.int32)
        argb = argb.copy()
        argb[:, :, 1] = (argb[:, :, 1].astype(np.int32) - g) & 0xFF
        argb[:, :, 3] = (argb[:, :, 3].astype(np.int32) - g) & 0xFF
    bw_.bits(0, 1)  # end of transforms
    if meta_group_bits is not None:
        _encode_meta_image(bw_, argb, meta_group_bits)
    else:
        _encode_entropy_image(bw_, argb, cache_bits, use_lz77, True, short_codes)
    return b"\x2f" + bw_.bytes()


def _fwd_color_transform(argb: np.ndarray, elems: np.ndarray, size_bits: int) -> np.ndarray:
    """Forward COLOR transform: exact inverse of _inv_color_transform
    (residual red first, then blue against the ORIGINAL red)."""
    h, w, _ = argb.shape
    out = argb.astype(np.int32).copy()
    for y in range(h):
        for x in range(w):
            g2r, g2b, r2b = (int(v) for v in elems[y >> size_bits, x >> size_bits])
            g = out[y, x, 2]
            r = out[y, x, 1]
            out[y, x, 1] = (r - _delta(g2r, g)) & 0xFF
            out[y, x, 3] = (out[y, x, 3] - _delta(g2b, g) - _delta(r2b, r)) & 0xFF
    return out.astype(np.uint8)


def _encode_meta_image(bw: _BitWriter, argb: np.ndarray, meta_bits: int) -> None:
    """Two prefix-code groups selected by a meta image (checkerboard of
    blocks) — literals only, so group membership is per-pixel exact."""
    h, w, _ = argb.shape
    mw = (w + (1 << meta_bits) - 1) >> meta_bits
    mh = (h + (1 << meta_bits) - 1) >> meta_bits
    by, bx = np.meshgrid(np.arange(mh), np.arange(mw), indexing="ij")
    group = ((bx + by) % 2).astype(np.uint8)
    bw.bits(1, 1)  # meta prefix image present
    bw.bits(meta_bits - 2, 3)
    meta_img = np.zeros((mh, mw, 4), np.uint8)
    meta_img[:, :, 0] = 255
    meta_img[:, :, 2] = group
    _encode_entropy_image(bw, meta_img, 0, True, False)
    bw.bits(0, 1)  # no color cache
    streams = [_SymbolStream(0), _SymbolStream(0)]
    flat = argb.reshape(-1, 4)
    for i, px in enumerate(flat):
        x, y = i % w, i // w
        streams[int(group[y >> meta_bits, x >> meta_bits])].literal(
            *(int(v) for v in px)
        )
    # interleave code tables and emission: tables for group 0, then 1,
    # then one pass over pixels emitting with the owning group's codes
    metas = []
    for s in streams:
        metas.append(s._prepare(bw))
    for i, px in enumerate(flat):
        x, y = i % w, i // w
        g = int(group[y >> meta_bits, x >> meta_bits])
        codes, single = metas[g]
        a, r, gg, b = (int(v) for v in px)
        for k, sym in (("g", gg), ("r", r), ("b", b), ("a", a)):
            if not single[k]:
                c, ln = codes[k][sym]
                bw.code(c, ln)


def _fwd_predictor(argb: np.ndarray, modes: np.ndarray, size_bits: int) -> np.ndarray:
    """Residuals for the decoder's inverse scan — computed against the
    RECONSTRUCTED (original) neighbors, exactly what _inv_predictor
    rebuilds."""
    h, w, _ = argb.shape
    src = argb.astype(np.int32)
    out = np.zeros_like(src)
    for y in range(h):
        for x in range(w):
            if x == 0 and y == 0:
                pred = (255, 0, 0, 0)
            elif y == 0:
                pred = tuple(src[0, x - 1])
            elif x == 0:
                pred = tuple(src[y - 1, 0])
            else:
                mode = int(modes[y >> size_bits, x >> size_bits])
                l = src[y, x - 1]
                t = src[y - 1, x]
                tr = src[y - 1, x + 1] if x + 1 < w else src[y - 1, 0]
                tl = src[y - 1, x - 1]
                pred = _predict(mode, l, t, tr, tl)
            out[y, x] = (src[y, x] - np.array(pred, np.int32)) & 0xFF
    return out.astype(np.uint8)


def _encode_entropy_image(
    bw: _BitWriter,
    argb: np.ndarray,
    cache_bits: int,
    use_lz77: bool,
    level0: bool,
    short_codes: bool = False,
) -> None:
    if level0:
        bw.bits(0, 1)  # no meta prefix image
    if cache_bits:
        bw.bits(1, 1)
        bw.bits(cache_bits, 4)
    else:
        bw.bits(0, 1)
    _tokenize(argb, argb.shape[1], cache_bits, use_lz77, short_codes).write(bw)


def _chunk(fourcc: bytes, payload: bytes) -> bytes:
    """One even-padded RIFF chunk."""
    out = struct.pack("<4sI", fourcc, len(payload)) + payload
    return out + b"\x00" if len(payload) % 2 else out


def _riff_container(chunks: bytes) -> bytes:
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WEBP" + chunks


def _riff(vp8l_payload: bytes) -> bytes:
    return _riff_container(_chunk(b"VP8L", vp8l_payload))


def _u24(v: int) -> bytes:
    if not 0 <= v < 1 << 24:
        raise ValueError(f"value {v} out of 24-bit range")
    return struct.pack("<I", v)[:3]


def _r24(b: bytes) -> int:
    return int.from_bytes(b, "little")


# --------------------------------------------------------------------------
# Animation (RFC 9649 VP8X/ANIM/ANMF container over VP8L frames)

_VP8X_ANIM, _VP8X_ALPHA = 0x02, 0x10


def encode_webp_anim(
    frames: np.ndarray,
    durations_ms: list[int] | int = 40,
    loop_count: int = 0,
    bg_rgba: tuple[int, int, int, int] = (255, 255, 255, 255),
    delta: bool = True,
    blend: list[bool] | bool = False,
    dispose: list[bool] | bool = False,
    **vp8l_knobs,
) -> bytes:
    """(n, h, w, 3) uint8 RGB frames → animated WebP (VP8X + ANIM +
    one ANMF per frame, each carrying a lossless VP8L sub-chunk).

    ``delta=True`` stores every frame after the first as the even-
    aligned bounding rectangle of pixels that changed vs the previous
    frame (ANMF x/y offsets are stored divided by 2, so the rect snaps
    outward to even coordinates) with blending disabled — the standard
    dirty-rect animation optimization, and it exercises the decoder's
    sub-canvas compositing path. ``blend``/``dispose`` set each
    frame's B/D flag bits (lists or one value for all); blended frames
    must then carry their own alpha via a 4-channel ``frames`` array.
    """
    frames = np.asarray(frames)
    n, h, w = frames.shape[:3]
    if n == 0:
        raise ValueError("animation needs at least one frame")
    if isinstance(durations_ms, int):
        durations_ms = [durations_ms] * n
    blends = list(blend) if isinstance(blend, (list, tuple)) else [blend] * n
    disposes = list(dispose) if isinstance(dispose, (list, tuple)) else [dispose] * n
    if not (len(durations_ms) == len(blends) == len(disposes) == n):
        raise ValueError("per-frame argument length mismatch")

    any_alpha = frames.shape[-1] == 4 and bool((frames[..., 3] != 255).any())
    vp8x = (
        bytes([_VP8X_ANIM | (_VP8X_ALPHA if any_alpha else 0), 0, 0, 0])
        + _u24(w - 1)
        + _u24(h - 1)
    )
    b, g, r, a = bg_rgba[2], bg_rgba[1], bg_rgba[0], bg_rgba[3]
    anim = bytes([b, g, r, a]) + struct.pack("<H", loop_count)
    body = _chunk(b"VP8X", vp8x) + _chunk(b"ANIM", anim)
    prev = None
    for i in range(n):
        fr = frames[i]
        x0 = y0 = 0
        rect = fr
        # Delta (dirty-rect) is only valid when the canvas after frame
        # i-1 equals frame i-1's raw pixels: frame i-1 must itself have
        # been an overwrite (B=1, i.e. blends[i-1] False) and not
        # disposed. The comparison must include the alpha channel —
        # an alpha-only change is still a change the decoder composites.
        if (
            delta
            and prev is not None
            and not blends[i]
            and not blends[i - 1]
            and not disposes[i - 1]
        ):
            changed = (fr != prev).any(axis=-1)
            ys, xs = np.nonzero(changed)
            if len(ys) == 0:
                # nothing changed: a minimal 1x1 overwrite keeps the
                # frame (and its duration) in the stream
                y1, x1 = 1, 1
            else:
                y0, x0 = int(ys.min()) & ~1, int(xs.min()) & ~1
                y1, x1 = int(ys.max()) + 1, int(xs.max()) + 1
            rect = fr[y0:y1, x0:x1]
        rh, rw = rect.shape[:2]
        flags = (0 if blends[i] else 2) | (1 if disposes[i] else 0)
        anmf = (
            _u24(x0 // 2)
            + _u24(y0 // 2)
            + _u24(rw - 1)
            + _u24(rh - 1)
            + _u24(int(durations_ms[i]))
            + bytes([flags])
            + _chunk(b"VP8L", encode_vp8l(np.ascontiguousarray(rect), **vp8l_knobs))
        )
        body += _chunk(b"ANMF", anmf)
        prev = fr
    return _riff_container(body)


def decode_webp_frames(data: bytes) -> tuple[float, np.ndarray]:
    """Animated WebP → ``(fps, (n, h, w, 3) uint8 RGB frames)``, the
    same contract as decode_gif_frames / decode_avi_rgb so the video
    frame sampler is container-agnostic.

    Composites per RFC 9649: the canvas starts fully transparent;
    each ANMF pastes its sub-rectangle at (2*x, 2*y) either by
    overwrite (B=1) or non-premultiplied alpha-blending (B=0); after a
    frame is snapshotted, D=1 disposes its rectangle to the ANIM
    background color. Output frames are flattened over the background
    color. A still (no ANMF) raises ValueError; lossy VP8 frame data
    raises NotImplementedError."""
    chunks = walk_webp_chunks(data)
    by4 = {fourcc: (at, ln) for fourcc, at, ln in chunks}
    if b"VP8X" not in by4:
        raise ValueError("animated WebP needs a VP8X header")
    at, ln = by4[b"VP8X"]
    if ln < 10:
        raise ValueError("VP8X payload truncated")
    cw = _r24(data[at + 4 : at + 7]) + 1
    ch = _r24(data[at + 7 : at + 10]) + 1
    bg = np.zeros(4, np.float64)
    loop_count = 0
    if b"ANIM" in by4:
        aat, aln = by4[b"ANIM"]
        if aln < 6:
            raise ValueError("ANIM payload truncated")
        bb, gg, rr, aa = data[aat : aat + 4]
        bg = np.array([aa, rr, gg, bb], np.float64)  # ARGB order
        (loop_count,) = struct.unpack("<H", data[aat + 4 : aat + 6])
    canvas = np.zeros((ch, cw, 4), np.float64)  # ARGB, transparent
    out_frames: list[np.ndarray] = []
    durations: list[int] = []
    for fourcc, at, ln in chunks:
        if fourcc != b"ANMF":
            continue
        if ln < 16:
            raise ValueError("ANMF payload truncated")
        hdr = data[at : at + 16]
        fx = _r24(hdr[0:3]) * 2
        fy = _r24(hdr[3:6]) * 2
        fw = _r24(hdr[6:9]) + 1
        fh = _r24(hdr[9:12]) + 1
        durations.append(_r24(hdr[12:15]))
        flags = hdr[15]
        blend_frame = not (flags & 2)
        dispose_frame = bool(flags & 1)
        if fx + fw > cw or fy + fh > ch:
            raise ValueError("ANMF frame rectangle outside the canvas")
        # frame data: sub-chunks (ALPH skipped; VP8L decoded)
        sub = data[at + 16 : at + ln]
        argb = None
        pos = 0
        while pos + 8 <= len(sub):
            sc = sub[pos : pos + 4]
            (sl,) = struct.unpack("<I", sub[pos + 4 : pos + 8])
            if sc == b"VP8L":
                argb = _decode_vp8l_payload(sub[pos + 8 : pos + 8 + sl])
            elif sc == b"VP8 ":
                raise NotImplementedError(
                    "lossy VP8 animation frames require libwebp (absent here)"
                )
            pos += 8 + sl + (sl & 1)
        if argb is None:
            raise ValueError("ANMF frame carries no image sub-chunk")
        if argb.shape[:2] != (fh, fw):
            raise ValueError("ANMF frame dimensions disagree with its bitstream")
        fr = argb.astype(np.float64)
        dst = canvas[fy : fy + fh, fx : fx + fw]
        if blend_frame:
            af = fr[:, :, 0:1] / 255.0
            ac = dst[:, :, 0:1] / 255.0
            ao = af + ac * (1.0 - af)
            rgb = fr[:, :, 1:4] * af + dst[:, :, 1:4] * ac * (1.0 - af)
            with np.errstate(invalid="ignore", divide="ignore"):
                rgb = np.where(ao > 0, rgb / np.where(ao > 0, ao, 1.0), 0.0)
            dst[:, :, 0:1] = ao * 255.0
            dst[:, :, 1:4] = rgb
        else:
            dst[:] = fr
        # snapshot flattened over the background color
        al = canvas[:, :, 0:1] / 255.0
        snap = canvas[:, :, 1:4] * al + bg[1:4] * (bg[0] / 255.0) * (1.0 - al)
        out_frames.append(np.clip(np.rint(snap), 0, 255).astype(np.uint8))
        if dispose_frame:
            canvas[fy : fy + fh, fx : fx + fw] = bg
    if not out_frames:
        raise ValueError("animated WebP carries no ANMF frames")
    mean_ms = float(np.mean([d if d > 0 else 100 for d in durations]))
    fps = 1000.0 / mean_ms if mean_ms > 0 else 25.0
    return fps, np.stack(out_frames)
