"""Shared codec primitives (operators/bits.py): bit I/O in both orders,
canonical Huffman construction and the parameterized table CRC."""

from __future__ import annotations

import random
import zlib

import pytest

from pipeline_mf_etl_spark.operators.bits import (
    LSBReader,
    LSBWriter,
    MSBReader,
    MSBWriter,
    canonical_codes,
    huffman_depths,
    make_crc,
    peek_lut,
    read_walk,
)

_FIELDS = [(5, 3), (0, 1), (1023, 10), (1, 1), (77, 8), (0, 0), (2**40 + 3, 41)]


@pytest.mark.parametrize(
    "writer, reader", [(MSBWriter, MSBReader), (LSBWriter, LSBReader)]
)
def test_round_trip_and_exhaustion(writer, reader):
    w = writer()
    for v, n in _FIELDS:
        w.write(v, n)
    data = w.getvalue()
    assert len(data) == -(-sum(n for _, n in _FIELDS) // 8)
    r = reader(data)
    for v, n in _FIELDS:
        assert r.peek(n) == v
        assert r.read(n) == v
    pad = len(data) * 8 - r.bit_pos()
    assert r.peek(pad + 8) == 0  # zero-padded past the end
    r.read(pad)
    with pytest.raises(ValueError, match="exhausted"):
        r.read(1)
    with pytest.raises(ValueError, match="does not fit"):
        writer().write(4, 2)


def test_bit_orders():
    m, lsb = MSBWriter(), LSBWriter()
    m.write(0b101, 3)
    lsb.write(0b101, 3)
    assert m.getvalue() == bytes([0b1010_0000])
    assert lsb.getvalue() == bytes([0b0000_0101])


def test_msb_seek_align_and_bit_array():
    r = MSBReader(bytes([0b1011_0110, 0xFF]))
    r.read(3)
    r.align()
    assert r.bit_pos() == 8
    r.seek(4)
    assert r.read(4) == 0b0110
    bits, ones = r.bit_array()
    assert bits.tolist()[:8] == [1, 0, 1, 1, 0, 1, 1, 0]
    assert ones.tolist()[:5] == [0, 2, 3, 5, 6]


def test_canonical_codes_validate_their_input():
    assert canonical_codes([2, 0, 1, 3, 3], "abcde") == [
        ("c", 0b0, 1),
        ("a", 0b10, 2),
        ("d", 0b110, 3),
        ("e", 0b111, 3),
    ]
    # a repeated symbol keeps both codes (JPEG DHTs may list one twice)
    assert canonical_codes([1, 1], [5, 5]) == [(5, 0, 1), (5, 1, 1)]
    with pytest.raises(ValueError, match="over-subscribed"):
        canonical_codes([1, 1, 2], [0, 1, 2])
    with pytest.raises(ValueError, match="symbols"):
        canonical_codes([1, 1], [7])


@pytest.mark.parametrize("lsb_first", [False, True])
def test_peek_lut_with_walk_fallback_decodes_every_code(lsb_first):
    rng = random.Random(5)
    lengths = list(range(1, 13)) + [12]  # complete; two codes overflow width 11
    triples = canonical_codes(lengths, range(len(lengths)))
    lut = peek_lut(triples, 11, lsb_first)
    codes = {s: (c, n) for s, c, n in triples}
    walk = {(n, c): s for s, c, n in triples}
    syms = [rng.randrange(13) for _ in range(200)]
    w, r = (LSBWriter, LSBReader) if lsb_first else (MSBWriter, MSBReader)
    out = w()
    for s in syms:
        code, n = codes[s]
        for i in range(n - 1, -1, -1):  # codes enter MSB-of-code first
            out.write((code >> i) & 1, 1)
    rd = r(out.getvalue())
    got = []
    for _ in syms:
        pk = lut[rd.peek(11)]
        if pk:
            rd.read(pk & 31)
            got.append(pk >> 5)
        else:  # a 12-bit code: the bit-at-a-time fallback
            got.append(read_walk(rd, walk, 12))
    assert got == syms
    assert lut.count(0) == 1  # the one window the two 12-bit codes share


def test_huffman_depths_break_ties_deterministically():
    # at equal weight the leaves 2 and 3 pop before the internal node
    # {0, 1}; popping that node first would give depths 3, 3, 2, 1
    assert huffman_depths({0: 1, 1: 1, 2: 2, 3: 2}) == {0: 2, 1: 2, 2: 2, 3: 2}
    assert huffman_depths({9: 5}) == {9: 1}


def test_reflected_crc_matches_zlib():
    crc32 = make_crc(0x04C11DB7, 32, reflect=True, init=0xFFFFFFFF, xorout=0xFFFFFFFF)
    for data in (b"", b"123456789", bytes(range(256)) * 3):
        assert crc32(data) == zlib.crc32(data)
