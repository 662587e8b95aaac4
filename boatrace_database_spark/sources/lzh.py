"""Pure-Python LZH (-lh0-/-lh5-) reader — no external dependency.

The reference decompresses the official site's daily ``.lzh`` archives
with the ``lhafile`` package (reference main.py:89-100); that package
is not in this image, so S2 gets a self-contained implementation of
the public LHA format instead: level-0/1/2 headers, ``-lh0-`` stored
members, and ``-lh5-`` members (8 KiB-window LZSS with dynamic
Huffman; block structure: a code-length code table, the 510-symbol
literal/length table, and the 14-symbol distance table per block).

Correctness is golden-tested: decompressing the committed archives
must reproduce the committed ``txt/`` files byte-for-byte.

``read_lzh`` serves driver-side expansion (``bronze.decompress_lzh_to_dir``);
cluster-side, every ingest path expands archives in memory through
``read_lzh_bytes`` inside ``bronze.decode_file``.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

# -lh5- parameters
_DICBIT = 13                 # 8 KiB window
_THRESHOLD = 3
_MAXMATCH = 256
_NC = 255 + _MAXMATCH + 2 - _THRESHOLD   # 510 literal/length symbols
_NT = 19                     # code-length-code symbols
_NP = _DICBIT + 1            # 14 distance symbols
_TBIT = 5
_CBIT = 9
_PBIT = 4


class _BitReader:
    __slots__ = ("data", "pos", "bitbuf", "nbits")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.bitbuf = 0
        self.nbits = 0

    def read(self, n: int) -> int:
        while self.nbits < n:
            byte = self.data[self.pos] if self.pos < len(self.data) else 0
            self.pos += 1
            self.bitbuf = (self.bitbuf << 8) | byte
            self.nbits += 8
        self.nbits -= n
        out = self.bitbuf >> self.nbits
        self.bitbuf &= (1 << self.nbits) - 1
        return out

    def peek(self, n: int) -> int:
        """Look at the next n bits without consuming (zero-padded at EOF)."""
        while self.nbits < n:
            byte = self.data[self.pos] if self.pos < len(self.data) else 0
            self.pos += 1
            self.bitbuf = (self.bitbuf << 8) | byte
            self.nbits += 8
        return self.bitbuf >> (self.nbits - n)

    def skip(self, n: int) -> None:
        self.nbits -= n
        self.bitbuf &= (1 << self.nbits) - 1


class _Huffman:
    """Canonical Huffman decoder from a code-length array (symbol order).

    Decode is TABLE-DRIVEN (r13): a direct-lookup table over the first
    ``tbits`` bits maps a peeked window straight to ``(length << 16) |
    symbol`` — one index per symbol instead of the boundary scan's
    per-length compare loop (the decoder hot path; table build is
    O(2^tbits) per block, amortized over the block's up-to-65535
    symbols). Codes longer than ``tbits`` (rare: only when maxlen > 12)
    fall back to the original boundary scan, kept bit-identical."""

    __slots__ = (
        "single", "minlen", "maxlen", "bounds", "first", "syms",
        "tbits", "tab",
    )

    def __init__(self, bitlen: list[int], single: int | None = None):
        self.single = single
        lens = [l for l in bitlen if l]
        self.minlen = min(lens) if lens else 0
        self.maxlen = max(lens) if lens else 0
        count = [0] * 18
        for l in bitlen:
            if l:
                count[l] += 1
        code = 0
        next_code = [0] * 18
        for l in range(1, 17):
            next_code[l] = code
            code = (code + count[l]) << 1
        self.first = list(next_code)  # first canonical code per length
        # symbols in canonical order per length
        per_len: list[list[int]] = [[] for _ in range(18)]
        for sym, l in enumerate(bitlen):
            if l:
                per_len[l].append(sym)
        self.syms = per_len
        # bound[l] = end of length-l code space, left-aligned to maxlen
        self.bounds = [0] * 18
        for l in range(1, 17):
            end = next_code[l] + count[l]
            self.bounds[l] = end << (self.maxlen - l) if l <= self.maxlen else 0
        # direct-lookup table: window of tbits -> (code length << 16) | sym
        tbits = self.tbits = min(self.maxlen, 12) if self.maxlen else 0
        tab = self.tab = [0] * (1 << tbits)
        fill = next_code  # first canonical code per length (reused)
        for l in range(1, tbits + 1):
            for i, sym in enumerate(per_len[l]):
                start = (fill[l] + i) << (tbits - l)
                entry = (l << 16) | sym
                for w in range(start, start + (1 << (tbits - l))):
                    tab[w] = entry

    def decode(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        tbits = self.tbits
        e = self.tab[br.peek(tbits)]
        if e:
            br.skip(e >> 16)
            return e & 0xFFFF
        maxlen = self.maxlen
        v = br.peek(maxlen)
        l = self.minlen
        bounds = self.bounds
        while v >= bounds[l]:
            l += 1
            if l > maxlen:
                raise ValueError("corrupt huffman stream")
        br.skip(l)
        return self.syms[l][(v >> (maxlen - l)) - self.first[l]]


def _read_pt(br: _BitReader, nn: int, nbit: int, i_special: int) -> _Huffman:
    n = br.read(nbit)
    if n == 0:
        return _Huffman([0] * nn, single=br.read(nbit))
    bitlen = [0] * nn
    i = 0
    while i < min(n, nn):
        c = br.read(3)
        if c == 7:
            while br.read(1):
                c += 1
        bitlen[i] = c
        i += 1
        if i == i_special:
            for _ in range(br.read(2)):
                bitlen[i] = 0
                i += 1
    return _Huffman(bitlen)


def _read_c(br: _BitReader, pt: _Huffman) -> _Huffman:
    n = br.read(_CBIT)
    if n == 0:
        return _Huffman([0] * _NC, single=br.read(_CBIT))
    bitlen = [0] * _NC
    i = 0
    while i < min(n, _NC):
        c = pt.decode(br)
        if c == 0:
            i += 1
        elif c == 1:
            i += 3 + br.read(4)
        elif c == 2:
            i += 20 + br.read(9)
        else:
            bitlen[i] = c - 2
            i += 1
    return _Huffman(bitlen)


def decode_lh5(data: bytes, original_size: int) -> bytes:
    """Decode one -lh5- member payload.

    The per-symbol path keeps the bit buffer in LOCALS and indexes the
    tables' direct-lookup arrays inline (r13): the original
    peek/scan/skip method calls per symbol were ~60% of year-corpus
    decode CPU. Table parsing at block boundaries still goes through
    `_BitReader` (state synced both ways), and codes longer than the
    table width fall back to the boundary decoder — every path is
    byte-identical to the method form (A/B over the full 732-archive
    year corpus hashes equal)."""
    br = _BitReader(data)
    out = bytearray()
    blocksize = 0
    dlen = len(data)
    pos = 0
    bitbuf = 0
    nbits = 0
    c_table = p_table = None
    c_tab = c_tbits = c_single = p_tab = p_tbits = p_single = None
    while len(out) < original_size:
        if blocksize == 0:
            br.pos, br.bitbuf, br.nbits = pos, bitbuf, nbits
            blocksize = br.read(16)
            if blocksize == 0:
                break
            pt = _read_pt(br, _NT, _TBIT, 3)
            c_table = _read_c(br, pt)
            p_table = _read_pt(br, _NP, _PBIT, -1)
            pos, bitbuf, nbits = br.pos, br.bitbuf, br.nbits
            c_tab, c_tbits, c_single = c_table.tab, c_table.tbits, c_table.single
            p_tab, p_tbits, p_single = p_table.tab, p_table.tbits, p_table.single
        blocksize -= 1
        # --- literal/length symbol ------------------------------------
        if c_single is not None:
            c = c_single
        else:
            while nbits < 16:
                bitbuf = (bitbuf << 8) | (data[pos] if pos < dlen else 0)
                pos += 1
                nbits += 8
            e = c_tab[bitbuf >> (nbits - c_tbits)]
            if e:
                nbits -= e >> 16
                bitbuf &= (1 << nbits) - 1
                c = e & 0xFFFF
            else:
                br.pos, br.bitbuf, br.nbits = pos, bitbuf, nbits
                c = c_table.decode(br)
                pos, bitbuf, nbits = br.pos, br.bitbuf, br.nbits
        if c < 256:
            out.append(c)
        else:
            length = c - 256 + _THRESHOLD
            # --- distance symbol + extra bits --------------------------
            if p_single is not None:
                p = p_single
            else:
                while nbits < 16:
                    bitbuf = (bitbuf << 8) | (data[pos] if pos < dlen else 0)
                    pos += 1
                    nbits += 8
                e = p_tab[bitbuf >> (nbits - p_tbits)]
                if e:
                    nbits -= e >> 16
                    bitbuf &= (1 << nbits) - 1
                    p = e & 0xFFFF
                else:
                    br.pos, br.bitbuf, br.nbits = pos, bitbuf, nbits
                    p = p_table.decode(br)
                    pos, bitbuf, nbits = br.pos, br.bitbuf, br.nbits
            if p > 0:
                nb = p - 1
                while nbits < nb:
                    bitbuf = (bitbuf << 8) | (data[pos] if pos < dlen else 0)
                    pos += 1
                    nbits += 8
                nbits -= nb
                p = (1 << nb) + (bitbuf >> nbits)
                bitbuf &= (1 << nbits) - 1
            start = len(out) - p - 1
            if p + 1 >= length:
                # non-overlapping: one slice copy
                out += out[start : start + length]
            else:
                # overlapping run: replicate the period, then slice
                period = out[start:]
                reps = -(-length // len(period))
                out += (period * reps)[:length]
    return bytes(out[:original_size])


@dataclass
class LzhMember:
    filename: str
    method: str
    data: bytes


def read_lzh(path: str) -> list[LzhMember]:
    """Parse an LZH container file (header levels 0/1/2) and decode members."""
    with open(path, "rb") as fh:
        return read_lzh_bytes(fh.read())


def read_lzh_bytes(buf: bytes) -> list[LzhMember]:
    """Parse an in-memory LZH container (for cluster-side binaryFile use).

    A truncated archive raises ``ValueError`` instead of returning short
    members: a member whose payload runs past the end of ``buf``, bytes
    after the last member that are neither a whole header nor the
    terminator, or a decoded member whose length differs from the
    header's original size. The member CRC-16 is not checked."""
    members: list[LzhMember] = []
    pos = 0
    while pos + 21 < len(buf):
        if buf[pos] == 0:  # terminator
            break
        level = buf[pos + 20]
        method = buf[pos + 2 : pos + 7].decode("ascii", "replace")
        if level in (0, 1):
            header_size = buf[pos]
            packed, original = struct.unpack_from("<II", buf, pos + 7)
            name_len = buf[pos + 21]
            name = buf[pos + 22 : pos + 22 + name_len].decode("cp932", "replace")
            data_start = pos + 2 + header_size
            if level == 1:
                # level-1: packed includes the chained extension headers
                p = pos + 22 + name_len + 2 + 1  # crc(2)+os(1)
                ext_total = 0
                next_size = struct.unpack_from("<H", buf, p)[0]
                p += 2
                while next_size:
                    ext_total += next_size
                    if buf[p] == 0x01:  # filename header
                        name = buf[p + 1 : p + next_size - 2].decode("cp932", "replace")
                    next_size_new = struct.unpack_from("<H", buf, p + next_size - 2)[0]
                    p += next_size
                    next_size = next_size_new
                packed -= ext_total
                data_start = p
        elif level == 2:
            header_size = struct.unpack_from("<H", buf, pos)[0]
            packed, original = struct.unpack_from("<II", buf, pos + 7)
            p = pos + 24
            next_size = struct.unpack_from("<H", buf, p)[0]
            p += 2
            name = ""
            while next_size:
                if buf[p] == 0x01:
                    name = buf[p + 1 : p + next_size - 2].decode("cp932", "replace")
                next_size_new = struct.unpack_from("<H", buf, p + next_size - 2)[0]
                p += next_size
                next_size = next_size_new
            data_start = pos + header_size
        else:
            raise ValueError(f"unsupported LZH header level {level}")

        if data_start + packed > len(buf):
            raise ValueError(
                f"truncated LZH archive: member {name!r} needs "
                f"{data_start + packed} bytes, the archive has {len(buf)}"
            )
        payload = buf[data_start : data_start + packed]
        if method == "-lh0-":
            data = payload[:original]
        elif method == "-lh5-":
            data = decode_lh5(payload, original)
        else:
            raise NotImplementedError(f"LZH method {method} not supported")
        if len(data) != original:
            raise ValueError(
                f"corrupt LZH member {name!r}: decoded {len(data)} bytes, "
                f"header says {original}"
            )
        members.append(LzhMember(filename=name, method=method, data=data))
        pos = data_start + packed
    if pos < len(buf) and buf[pos] != 0:
        raise ValueError(f"truncated LZH header at byte {pos} of {len(buf)}")
    return members
