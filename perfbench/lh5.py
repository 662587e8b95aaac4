"""Minimal -lh5- archive writer (LZSS + static Huffman, level-0 header).

Matching is real LZSS over the 8 KiB window: for every position the
most recent earlier occurrences of its 3-byte prefix (up to CHAIN of
them) are extended eight bytes at a time, vectorised over all
positions with numpy, and a greedy parse takes the longest match of
3..256 bytes.
Each block of at most 65535 symbols carries its own Huffman tables,
written in the LHA layout the reader in ``sources/lzh.py`` decodes:
the code-length code (19 symbols), the 510-symbol literal/length
table and the 14-symbol position table. A member that fits one block
is one static-Huffman block.

The header is level 0 with the member CRC-16 (CRC-16/ARC, as LHA
uses).
"""

from __future__ import annotations

import heapq
import struct

import numpy as np

WINDOW = 8192
MIN_MATCH = 3
MAX_MATCH = 256
CHAIN = 4
BLOCK = 65535
NC, NT, NP = 510, 19, 14
CBIT, TBIT, PBIT = 9, 5, 4

# --- CRC-16/ARC ---------------------------------------------------------
_CRC_TABLE = []
for _b in range(256):
    _c = _b
    for _ in range(8):
        _c = (_c >> 1) ^ 0xA001 if _c & 1 else _c >> 1
    _CRC_TABLE.append(_c)


def crc16(data: bytes) -> int:
    crc = 0
    for byte in data:
        crc = (crc >> 8) ^ _CRC_TABLE[(crc ^ byte) & 0xFF]
    return crc


# --- LZSS ---------------------------------------------------------------
def _matches(buf: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Longest match length and distance at every position (length 0
    where no earlier 3-byte occurrence lies inside the window)."""
    n = len(buf)
    best_len = np.zeros(n, dtype=np.int64)
    best_dist = np.zeros(n, dtype=np.int64)
    if n < MIN_MATCH + 1:
        return best_len, best_dist
    b = buf.astype(np.int64)
    key = (b[:-2] << 16) | (b[1:-1] << 8) | b[2:]
    order = np.argsort(key, kind="stable")
    same = key[order[1:]] == key[order[:-1]]
    prev = np.full(n, -1, dtype=np.int64)
    prev[order[1:][same]] = order[:-1][same]
    # the 8 bytes starting at every position, as one little-endian word
    padded = np.concatenate([buf, np.zeros(8, dtype=np.uint8)])
    windows = np.lib.stride_tricks.as_strided(padded, shape=(n, 8), strides=(1, 1))
    w8 = np.ascontiguousarray(windows).view("<u8").ravel()
    pos = np.arange(n, dtype=np.int64)
    cand = prev.copy()
    for _ in range(CHAIN):
        ok = (cand >= 0) & (pos - cand <= WINDOW)
        i = pos[ok]
        p = cand[ok]
        length = np.full(len(i), MIN_MATCH, dtype=np.int64)
        active = np.flatnonzero(i + MIN_MATCH < n)
        while len(active):
            li = length[active]
            x = w8[i[active] + li] ^ w8[p[active] + li]
            low = x & (~x + np.uint64(1))  # lowest differing bit
            equal = x == 0
            low[equal] = 1
            same = np.log2(low.astype(np.float64)).astype(np.int64) // 8
            same[equal] = 8
            length[active] = li + same
            active = active[(same == 8) & (length[active] < MAX_MATCH) & (i[active] + length[active] < n)]
        length = np.minimum(np.minimum(length, MAX_MATCH), n - i)
        better = length > best_len[i]
        best_len[i[better]] = length[better]
        best_dist[i[better]] = (i - p)[better]
        nxt = np.full(n, -1, dtype=np.int64)
        nxt[ok] = prev[cand[ok]]
        cand = nxt
    return best_len, best_dist


def _tokens(data: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Greedy parse -> (c symbols, distances; 0 for a literal)."""
    buf = np.frombuffer(data, dtype=np.uint8)
    length, dist = _matches(buf)
    lens = length.tolist()
    n = len(data)
    starts = []
    i = 0
    while i < n:
        starts.append(i)
        step = lens[i]
        i += step if step >= MIN_MATCH else 1
    starts = np.array(starts, dtype=np.int64)
    tok_len = length[starts]
    is_match = tok_len >= MIN_MATCH
    c = np.where(is_match, 256 + tok_len - MIN_MATCH, buf[starts].astype(np.int64))
    d = np.where(is_match, dist[starts], 0)
    return c, d


# --- Huffman ------------------------------------------------------------
def _code_lengths(freq: np.ndarray, limit: int = 16) -> np.ndarray:
    """Huffman code lengths, capped at ``limit`` by flattening counts."""
    freq = freq.astype(np.int64)
    while True:
        used = [(int(f), s) for s, f in enumerate(freq) if f]
        lengths = np.zeros(len(freq), dtype=np.int64)
        if len(used) == 1:
            lengths[used[0][1]] = 1
            return lengths
        heap = [(f, k, [s]) for k, (f, s) in enumerate(used)]
        heapq.heapify(heap)
        tie = len(heap)
        while len(heap) > 1:
            f1, _, s1 = heapq.heappop(heap)
            f2, _, s2 = heapq.heappop(heap)
            for s in s1 + s2:
                lengths[s] += 1
            heapq.heappush(heap, (f1 + f2, tie, s1 + s2))
            tie += 1
        if lengths.max() <= limit:
            return lengths
        freq = np.where(freq > 0, (freq + 1) // 2, 0)


def _canonical(lengths: np.ndarray) -> np.ndarray:
    """Canonical codes in the reader's order (by length, then symbol)."""
    codes = np.zeros(len(lengths), dtype=np.int64)
    code = 0
    for l in range(1, 17):
        code <<= 1
        for s in np.flatnonzero(lengths == l):
            codes[s] = code
            code += 1
    return codes


class _Bits:
    """Fields (value, width) collected in order, packed MSB first."""

    def __init__(self):
        self.values: list[np.ndarray] = []
        self.widths: list[np.ndarray] = []

    def put(self, value: int, width: int) -> None:
        self.values.append(np.array([value], dtype=np.int64))
        self.widths.append(np.array([width], dtype=np.int64))

    def put_many(self, values: np.ndarray, widths: np.ndarray) -> None:
        self.values.append(values.astype(np.int64))
        self.widths.append(widths.astype(np.int64))

    def pack(self) -> bytes:
        v = np.concatenate(self.values)
        w = np.concatenate(self.widths)
        keep = w > 0
        v, w = v[keep], w[keep]
        total = int(w.sum())
        starts = np.cumsum(w) - w
        rep_v = np.repeat(v, w)
        shift = np.repeat(w + starts, w) - 1 - np.arange(total, dtype=np.int64)
        bits = ((rep_v >> shift) & 1).astype(np.uint8)
        return np.packbits(bits).tobytes()


def _put_pt(bits: _Bits, lengths: np.ndarray, nbit: int, special: int) -> None:
    used = np.flatnonzero(lengths)
    if len(used) <= 1:
        bits.put(0, nbit)
        bits.put(int(used[0]) if len(used) else 0, nbit)
        return
    n = int(used[-1]) + 1
    bits.put(n, nbit)
    i = 0
    while i < n:
        k = int(lengths[i])
        i += 1
        if k <= 6:
            bits.put(k, 3)
        else:
            bits.put((1 << (k - 3)) - 2, k - 3)
        if i == special:
            j = i
            while j < 6 and j < len(lengths) and lengths[j] == 0:
                j += 1
            bits.put(j - i, 2)
            i = j


def _c_length_runs(c_len: np.ndarray) -> list[tuple[int, int, int]]:
    """The literal/length code lengths as (pt symbol, extra, extra width)."""
    n = int(np.flatnonzero(c_len)[-1]) + 1
    out = []
    i = 0
    while i < n:
        k = int(c_len[i])
        if k:
            out.append((k + 2, 0, 0))
            i += 1
            continue
        run = 1
        while i + run < n and c_len[i + run] == 0:
            run += 1
        i += run
        if run <= 2:
            out += [(0, 0, 0)] * run
        elif run <= 18:
            out.append((1, run - 3, 4))
        elif run == 19:
            out += [(0, 0, 0), (1, 15, 4)]
        else:
            out.append((2, run - 20, CBIT))
    return out


def _block(bits: _Bits, c: np.ndarray, d: np.ndarray) -> None:
    bits.put(len(c), 16)
    c_len = _code_lengths(np.bincount(c, minlength=NC))
    is_match = c >= 256
    pval = d[is_match] - 1
    psym = np.zeros(len(pval), dtype=np.int64)
    nz = pval > 0
    psym[nz] = np.floor(np.log2(pval[nz])).astype(np.int64) + 1
    if np.count_nonzero(c_len) <= 1:
        bits.put(0, TBIT)
        bits.put(0, TBIT)
        bits.put(0, CBIT)
        bits.put(int(c[0]), CBIT)
        c_codes = np.zeros(NC, dtype=np.int64)
        c_len = np.zeros(NC, dtype=np.int64)
    else:
        runs = _c_length_runs(c_len)
        t_sym = np.array([r[0] for r in runs], dtype=np.int64)
        t_len = _code_lengths(np.bincount(t_sym, minlength=NT))
        _put_pt(bits, t_len, TBIT, 3)
        bits.put(int(np.flatnonzero(c_len)[-1]) + 1, CBIT)
        if np.count_nonzero(t_len) > 1:
            t_codes = _canonical(t_len)
            vals, widths = [], []
            for sym, extra, ew in runs:
                vals += [t_codes[sym], extra]
                widths += [t_len[sym], ew]
            bits.put_many(np.array(vals), np.array(widths))
        else:  # a single code-length symbol is implied, only extras go out
            bits.put_many(
                np.array([r[1] for r in runs]), np.array([r[2] for r in runs])
            )
        c_codes = _canonical(c_len)
    p_len = _code_lengths(np.bincount(psym, minlength=NP)) if len(psym) else np.zeros(NP, dtype=np.int64)
    _put_pt(bits, p_len, PBIT, -1)
    p_codes = _canonical(p_len) if np.count_nonzero(p_len) > 1 else np.zeros(NP, dtype=np.int64)
    if np.count_nonzero(p_len) <= 1:
        p_len = np.zeros(NP, dtype=np.int64)
    # per symbol: c code, then for matches the position code + extra bits
    per = np.where(is_match, 3, 1)
    vals = np.zeros(int(per.sum()), dtype=np.int64)
    widths = np.zeros_like(vals)
    at = np.cumsum(per) - per
    vals[at] = c_codes[c]
    widths[at] = c_len[c]
    m_at = at[is_match]
    vals[m_at + 1] = p_codes[psym]
    widths[m_at + 1] = p_len[psym]
    extra_w = np.maximum(psym - 1, 0)
    vals[m_at + 2] = np.where(psym > 1, pval - (1 << extra_w), 0)
    widths[m_at + 2] = extra_w
    bits.put_many(vals, widths)


def compress_lh5(data: bytes) -> bytes:
    """The -lh5- payload of one member."""
    if not data:
        return b""
    c, d = _tokens(data)
    bits = _Bits()
    for s in range(0, len(c), BLOCK):
        _block(bits, c[s : s + BLOCK], d[s : s + BLOCK])
    return bits.pack()


def lzh_archive(name: str, data: bytes) -> bytes:
    """A one-member LZH archive with a level-0 header."""
    payload = compress_lh5(data)
    fname = name.encode("ascii")
    header = (
        b"-lh5-"
        + struct.pack("<IIIBB", len(payload), len(data), 0, 0x20, 0)  # no timestamp
        + bytes([len(fname)])
        + fname
        + struct.pack("<H", crc16(data))
    )
    checksum = sum(header) & 0xFF
    return bytes([len(header), checksum]) + header + payload + b"\x00"
