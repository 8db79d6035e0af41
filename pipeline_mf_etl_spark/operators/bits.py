"""Bit I/O, canonical Huffman and table-driven CRC primitives shared by
every hand-written codec in the package.

Bit order is a property of each format, fixed when a reader or writer
is built (two concrete classes, no per-call branch):

| codec                        | order     | why the format chose it           |
|------------------------------|-----------|-----------------------------------|
| FLAC (RFC 9639)              | MSB-first | fields read like big-endian ints  |
| JPEG entropy data (T.81)     | MSB-first | Huffman codes read MSB-first, so  |
|                              |           | a 16-bit window indexes a LUT     |
| H.264 / HEVC RBSP            | MSB-first | ``u(n)``/``ue(v)`` syntax, §7.2   |
| bzip2                        | MSB-first | libbzip2's big-endian bit buffer  |
| VP8L (WebP lossless)         | LSB-first | ``ReadBits`` shifts bits out of a |
|                              |           | little-endian word, cheap on x86  |
| zstd FSE table descriptions  | LSB-first | RFC 8878 §4.1.1 forward stream    |
| zstd entropy payloads        | backward  | written forward, read from the    |
|                              |           | end from a sentinel bit, so FSE   |
|                              |           | states encode in reverse; the     |
|                              |           | only such stream, so its reader   |
|                              |           | and writer live in zstdframe.py   |

The readers and writers keep an O(1) refilling accumulator: bytes
enter as bits are needed and leave as they fill, so no operation ever
touches a whole-stream integer. Reading past the end of the data
raises ``ValueError``, the one error type every decoder declares.

Huffman: ``huffman_depths`` builds an (uncapped) heap Huffman tree,
``canonical_codes`` assigns codes by length with ties in a given
symbol order, and ``peek_lut`` turns the codes into a one-probe decode
table for either bit order. Rules that only one format has (JPEG byte
stuffing and 1-padded peeks, exp-Golomb, depth caps) stay with that
format as plain functions over these.
"""

from __future__ import annotations

import heapq
from collections.abc import Callable, Iterable, Sequence

import numpy as np

_EXHAUSTED = "bitstream exhausted (payload truncated)"


# ---------------------------------------------------------------------------
# bit I/O
# ---------------------------------------------------------------------------


class MSBReader:
    """MSB-first bit reader over ``data`` starting at byte ``pos``.
    ``acc`` holds exactly ``nbits`` unread bits."""

    __slots__ = ("data", "pos", "acc", "nbits", "_bulk")

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self._bulk: tuple[np.ndarray, np.ndarray] | None = None

    def read(self, n: int) -> int:
        while self.nbits < n:
            if self.pos >= len(self.data):
                raise ValueError(_EXHAUSTED)
            self.acc = (self.acc << 8) | self.data[self.pos]
            self.pos += 1
            self.nbits += 8
        self.nbits -= n
        val = self.acc >> self.nbits
        self.acc &= (1 << self.nbits) - 1
        return val

    def peek(self, n: int) -> int:
        """Next ``n`` bits without consuming them; bits past the end of
        the data read as 0 (a following ``read`` still refuses them)."""
        while self.nbits < n and self.pos < len(self.data):
            self.acc = (self.acc << 8) | self.data[self.pos]
            self.pos += 1
            self.nbits += 8
        if self.nbits >= n:
            return self.acc >> (self.nbits - n)
        return self.acc << (n - self.nbits)

    def bit_pos(self) -> int:
        return self.pos * 8 - self.nbits

    def align(self) -> None:
        """Skip to the next byte boundary."""
        self.read(self.nbits & 7)

    def seek(self, bit_pos: int) -> None:
        self.pos = bit_pos >> 3
        self.acc = 0
        self.nbits = 0
        self.read(bit_pos & 7)

    def bit_array(self) -> tuple[np.ndarray, np.ndarray]:
        """The whole payload unpacked to a 0/1 ``uint8`` vector plus the
        positions of its set bits, built once per reader: the base of
        bulk NumPy decoders that gather many fields at once and then
        ``seek`` past them."""
        if self._bulk is None:
            bits = np.unpackbits(np.frombuffer(self.data, dtype=np.uint8))
            self._bulk = (bits, np.flatnonzero(bits))
        return self._bulk


class MSBWriter:
    """MSB-first bit writer; ``getvalue`` zero-pads the last byte."""

    __slots__ = ("out", "acc", "nbits")

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        if value < 0 or value >> n:
            raise ValueError(f"value {value} does not fit in {n} bits")
        self.acc = (self.acc << n) | value
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            self.out.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def write_bits_array(self, bits: np.ndarray) -> None:
        """Append a 0/1 ``uint8`` bit vector in bulk, byte-identical to
        writing each bit through :meth:`write`: pending accumulator bits
        join the vector, whole bytes go through one ``np.packbits`` and
        the sub-byte tail returns to the accumulator."""
        if self.nbits:
            head = (self.acc >> np.arange(self.nbits - 1, -1, -1)) & 1
            bits = np.concatenate([head.astype(np.uint8), bits])
        nfull = (len(bits) >> 3) << 3
        if nfull:
            self.out += np.packbits(bits[:nfull]).tobytes()
        acc = 0
        for b in bits[nfull:].tolist():  # <= 7 iterations
            acc = (acc << 1) | int(b)
        self.nbits = len(bits) - nfull
        self.acc = acc

    def align(self) -> None:
        self.write(0, -self.nbits & 7)

    def getvalue(self) -> bytes:
        self.align()
        return bytes(self.out)


class LSBReader:
    """LSB-first bit reader: the first bit of the stream is bit 0 of
    byte 0. ``acc`` holds exactly ``nbits`` unread bits."""

    __slots__ = ("data", "pos", "acc", "nbits")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read(self, n: int) -> int:
        while self.nbits < n:
            if self.pos >= len(self.data):
                raise ValueError(_EXHAUSTED)
            self.acc |= self.data[self.pos] << self.nbits
            self.pos += 1
            self.nbits += 8
        val = self.acc & ((1 << n) - 1)
        self.acc >>= n
        self.nbits -= n
        return val

    def peek(self, n: int) -> int:
        """Next ``n`` bits without consuming them; bits past the end of
        the data read as 0 (a following ``read`` still refuses them)."""
        while self.nbits < n and self.pos < len(self.data):
            self.acc |= self.data[self.pos] << self.nbits
            self.pos += 1
            self.nbits += 8
        return self.acc & ((1 << n) - 1)

    def bit_pos(self) -> int:
        return self.pos * 8 - self.nbits


class LSBWriter:
    """LSB-first bit writer; ``getvalue`` zero-pads the last byte."""

    __slots__ = ("out", "acc", "nbits")

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        if value < 0 or value >> n:
            raise ValueError(f"value {value} does not fit in {n} bits")
        self.acc |= value << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def getvalue(self) -> bytes:
        if self.nbits:
            return bytes(self.out) + bytes([self.acc])
        return bytes(self.out)


# ---------------------------------------------------------------------------
# Huffman
# ---------------------------------------------------------------------------


def huffman_depths(weights: dict[int, int]) -> dict[int, int]:
    """Symbol -> depth in a heap-built Huffman tree (depth >= 1, also
    for a lone symbol). Ties pop leaves before internal nodes, leaves in
    symbol order and internal nodes in creation order, so the tree is a
    pure function of the weights. No depth cap: formats that have one
    rescale and retry, or give up, themselves."""
    heap = [(w, s) for s, w in weights.items()]
    heapq.heapify(heap)
    uid = max(weights) + 1  # internal ids sort after leaves
    children: dict[int, tuple[int, int]] = {}
    while len(heap) > 1:
        wa, a = heapq.heappop(heap)
        wb, b = heapq.heappop(heap)
        children[uid] = (a, b)
        heapq.heappush(heap, (wa + wb, uid))
        uid += 1
    depths: dict[int, int] = {}
    stack = [(heap[0][1], 0)]
    while stack:
        node, d = stack.pop()
        if node in children:
            left, right = children[node]
            stack.append((left, d + 1))
            stack.append((right, d + 1))
        else:
            depths[node] = max(d, 1)
    return depths


def canonical_codes(
    lengths: Sequence[int], symbols: Sequence[int]
) -> list[tuple[int, int, int]]:
    """(symbol, code, length) triples of the canonical prefix code in
    which ``symbols[i]`` has length ``lengths[i]``: codes count up
    through the lengths in increasing order, ties taken in ``symbols``
    order. Zero lengths mark unused symbols. A symbol listed twice gets
    two codes. Raises ``ValueError`` when there are fewer symbols than
    lengths or the lengths are over-subscribed (Kraft sum above 1), the
    two ways a corrupt table breaks it."""
    if len(symbols) < len(lengths):
        raise ValueError(
            f"Huffman table lists {len(symbols)} symbols for "
            f"{len(lengths)} code lengths"
        )
    out = []
    code = 0
    prev = 0
    for i in sorted(range(len(lengths)), key=lengths.__getitem__):
        ln = lengths[i]
        if not ln:
            continue
        code <<= ln - prev
        if code >> ln:
            raise ValueError("over-subscribed Huffman code lengths")
        out.append((symbols[i], code, ln))
        code += 1
        prev = ln
    return out


def read_walk(
    r: MSBReader | LSBReader, walk: dict[tuple[int, int], int], max_len: int
) -> int:
    """Decode one symbol a bit at a time through ``{(length, code):
    symbol}``, reading each code MSB first: the fallback for codes
    longer than a ``peek_lut`` window."""
    code = 0
    for ln in range(1, max_len + 1):
        code = (code << 1) | r.read(1)
        sym = walk.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def reverse_bits(code: int, n: int) -> int:
    """``code`` as an ``n``-bit field with its bit order reversed: the
    form an LSB-first stream stores an MSB-first Huffman code in."""
    return int(f"{code:0{n}b}"[::-1], 2) if n else 0


def peek_lut(
    codes: Iterable[tuple[int, int, int]], width: int, lsb_first: bool
) -> list[int]:
    """One-probe decode table over every ``width``-bit peek window:
    entry ``(symbol << 5) | length`` for the code the window starts
    with, 0 where no code of at most ``width`` bits matches. MSB-first
    streams put a code in the window's top bits; LSB-first streams put
    it, bit-reversed, in the low bits."""
    lut = [0] * (1 << width)
    for sym, code, ln in codes:
        if not 0 < ln <= width:
            continue
        span = 1 << (width - ln)
        if lsb_first:
            lut[reverse_bits(code, ln) :: 1 << ln] = [(sym << 5) | ln] * span
        else:
            lo = code << (width - ln)
            lut[lo : lo + span] = [(sym << 5) | ln] * span
    return lut


# ---------------------------------------------------------------------------
# CRC
# ---------------------------------------------------------------------------


def make_crc(
    poly: int, width: int, reflect: bool, init: int = 0, xorout: int = 0
) -> Callable[[bytes], int]:
    """Table-driven CRC over bytes in the Rocksoft parameter model:
    ``poly`` in normal (MSB-first) form, ``reflect`` for the
    LSB-first variants (input and output reflected together)."""
    table = []
    if reflect:
        rpoly = reverse_bits(poly, width)
        for byte in range(256):
            c = byte
            for _ in range(8):
                c = (c >> 1) ^ rpoly if c & 1 else c >> 1
            table.append(c)

        def crc(data: bytes) -> int:
            c = init
            for b in data:
                c = (c >> 8) ^ table[(c ^ b) & 0xFF]
            return c ^ xorout

        return crc
    mask = (1 << width) - 1
    top = 1 << (width - 1)
    for byte in range(256):
        c = byte << (width - 8)
        for _ in range(8):
            c = ((c << 1) ^ poly) if c & top else (c << 1)
        table.append(c & mask)
    shift = width - 8

    def crc(data: bytes) -> int:
        c = init
        for b in data:
            c = ((c << 8) & mask) ^ table[(c >> shift) ^ b]
        return c ^ xorout

    return crc
