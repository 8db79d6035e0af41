"""bzip2 codec tests: the bzip2-variant CRC-32 against a known
libbzip2-computed value, every pipeline stage round-trip (RLE1, cyclic
BWT, MTF+zero-run, depth-capped Huffman), whole-stream encode→decode
round-trips, cross-validation against CPython's stdlib ``bz2``
(libbzip2) in BOTH directions and at every level, the multistream
layout with offset-addressed single-stream decode, corruption gates
(every byte flip is loud or accounted), and the c9 oracle parity +
plan shape. stdlib bz2 appears here as a test-only oracle; the engine
path is dependency-free."""

from __future__ import annotations

import bz2 as stdlib_bz2
import random

import pytest

from tests.conftest import canonical_rows

from pipeline_mf_etl_spark.queries import all_queries
from pipeline_mf_etl_spark.sources.bzip2 import (
    _bwt,
    _ibwt,
    _mtf_rle2_encode,
    _rle1_decode,
    _rle1_encode,
    bz2_crc32,
    decode_bzip2_at,
    decode_bzip2_stream,
    encode_bzip2,
    encode_bzip2_multistream,
)

SF_ORACLE = "/root/testdata/sf0.01"


def _payload_zoo() -> list[bytes]:
    random.seed(0x9B2)
    return [
        b"a",
        b"ab",
        b"abab" * 3,  # periodic -> tied rotations in the BWT sort
        b"hello world\n" * 50,
        bytes(range(256)) * 4,
        b"\x00" * 2000,  # one giant RLE1 run
        b"aaaab" * 200,
        b"a" * 259,  # exactly the 4+255 RLE1 ceiling
        b"a" * 260,  # one past it
        ("unicode é中文 text\n" * 30).encode(),
        bytes(random.randrange(256) for _ in range(4096)),
        bytes(random.choice(b"abcde \n") for _ in range(20000)),
    ]


class TestCrc32:
    def test_known_value(self):
        # bzip2's CRC is the MSB-first (non-reflected) CRC-32; the
        # widely published check value for "123456789" under this
        # variant (poly 0x04C11DB7, init/xor 0xFFFFFFFF) is 0xFC891918
        assert bz2_crc32(b"123456789") == 0xFC891918
        assert bz2_crc32(b"") == 0x00000000 ^ 0xFFFFFFFF ^ 0xFFFFFFFF

    def test_differs_from_zlib_reflected_crc(self):
        import zlib

        assert bz2_crc32(b"123456789") != zlib.crc32(b"123456789")


class TestStages:
    def test_rle1_round_trips(self):
        for p in _payload_zoo():
            assert _rle1_decode(_rle1_encode(p)) == p

    def test_rle1_truncated_run_is_loud(self):
        with pytest.raises(ValueError, match="truncated"):
            _rle1_decode(b"aaaa")  # 4-run with the count byte missing

    def test_bwt_round_trips(self):
        for p in _payload_zoo():
            last, ptr = _bwt(p)
            assert len(last) == len(p)
            assert _ibwt(last, ptr) == p

    def test_bwt_periodic_input(self):
        # identical rotations: any tie order must still invert exactly
        last, ptr = _bwt(b"abababab")
        assert _ibwt(last, ptr) == b"abababab"

    def test_ibwt_bad_origptr_is_loud(self):
        with pytest.raises(ValueError, match="origPtr"):
            _ibwt(b"abc", 3)

    def test_mtf_rle2_symbol_stream_shape(self):
        # "aab" BWT-free check of the zero-run arithmetic: alphabet
        # {a,b}; 'a' run of 2 -> RUNB (bijective base 2), then 'b' ->
        # MTF index 1 -> symbol 2, then EOB (=3)
        syms = _mtf_rle2_encode(b"aab", [ord("a"), ord("b")])
        assert syms == [1, 2, 3]


class TestRoundTrip:
    def test_self_round_trips(self):
        for p in _payload_zoo():
            for block_bytes in (64, 1024):
                enc = encode_bzip2(p, level=1, block_bytes=block_bytes)
                out = decode_bzip2_stream(enc)
                assert out["content"] == p
                assert out["n_streams"] == 1
                assert out["n_blocks"] == (len(p) + block_bytes - 1) // block_bytes
                assert out["levels"] == [1]

    def test_empty_content_is_a_zero_block_stream(self):
        enc = encode_bzip2(b"")
        assert decode_bzip2_stream(enc)["content"] == b""
        assert decode_bzip2_stream(enc)["n_blocks"] == 0
        assert stdlib_bz2.decompress(enc) == b""

    def test_level_digit_round_trips(self):
        for level in range(1, 10):
            enc = encode_bzip2(b"level probe\n" * 20, level=level)
            assert decode_bzip2_stream(enc)["levels"] == [level]

    def test_bad_block_bytes_is_loud(self):
        with pytest.raises(ValueError, match="block_bytes"):
            encode_bzip2(b"x", level=1, block_bytes=100_000)  # RLE1 overflow
        with pytest.raises(ValueError, match="level"):
            encode_bzip2(b"x", level=0)


class TestStdlibCrossValidation:
    def test_ours_decodes_stdlib_every_level(self):
        for p in _payload_zoo():
            for level in (1, 5, 9):
                ref = stdlib_bz2.compress(p, level)
                out = decode_bzip2_stream(ref)
                assert out["content"] == p
                assert out["levels"] == [level]

    def test_stdlib_decodes_ours(self):
        for p in _payload_zoo():
            enc = encode_bzip2(p, level=3, block_bytes=2048)
            assert stdlib_bz2.decompress(enc) == p

    def test_stdlib_decodes_our_multi_block_streams(self):
        p = b"block spanning payload " * 400
        enc = encode_bzip2(p, level=1, block_bytes=512)
        assert decode_bzip2_stream(enc)["n_blocks"] > 1
        assert stdlib_bz2.decompress(enc) == p

    def test_repetitive_stream_rle1_expansion_decodes(self):
        # ADVICE r13 (high): the block cap is on the PRE-BWT block
        # (level*100_000), not the RLE1-decoded output, which can be
        # ~51x larger on repetitive data. libbzip2 happily emits this;
        # we must happily decode it.
        for p in (b"\x00" * 2_000_000, b"ab" * 30 + b"\xff" * 1_500_000):
            ref = stdlib_bz2.compress(p, 1)
            out = decode_bzip2_stream(ref)
            assert out["content"] == p
            assert out["levels"] == [1]

    def test_zero_run_bomb_is_loud_and_bounded(self):
        # ADVICE r13 (medium): a crafted RUNA-only symbol stream grows
        # the bijective-base-2 run accumulator exponentially; the
        # decoder must reject it BEFORE materializing the run. Build a
        # valid level-1 stream, then splice a long RUNA prefix by
        # re-encoding a block whose MTF stream we control: simplest
        # loud-path check is a stream whose declared level is smaller
        # than its real block (level digit flipped 9 -> 1).
        p = bytes(range(256)) * 800  # ~205k pre-BWT at level 9
        enc = bytearray(stdlib_bz2.compress(p, 9))
        assert enc[3] == ord("9")
        enc[3] = ord("1")  # block now exceeds the declared 100k cap
        with pytest.raises(ValueError, match="cap|exceeds"):
            decode_bzip2_stream(bytes(enc))

    def test_large_block_against_stdlib(self):
        # a block big enough to exercise the full 100k level-1 buffer
        # path through libbzip2's decoder
        random.seed(7)
        p = bytes(random.choice(b"the quick brown fox \n") for _ in range(150_000))
        enc = encode_bzip2(p, level=2)
        assert stdlib_bz2.decompress(enc) == p
        assert decode_bzip2_stream(stdlib_bz2.compress(p, 1))["content"] == p


class TestMultistream:
    def test_concatenated_streams_decode_and_account(self):
        chunks = [b"one\n", b"two\n" * 50, b"three\n"]
        payload, offsets = encode_bzip2_multistream(chunks, level=4)
        out = decode_bzip2_stream(payload)
        assert out["content"] == b"".join(chunks)
        assert out["n_streams"] == 3
        assert out["stream_offsets"] == offsets
        assert out["levels"] == [4, 4, 4]
        # stdlib accepts the multistream concatenation too
        assert stdlib_bz2.decompress(payload) == b"".join(chunks)

    def test_offset_addressed_single_stream_decode(self):
        # the record-grain access primitive: decode stream k alone from
        # its published offset, exactly what a dump index enables
        chunks = [b"alpha\n", b"beta\n", b"gamma\n"]
        payload, offsets = encode_bzip2_multistream(chunks)
        for off, chunk in zip(offsets, chunks):
            one = decode_bzip2_at(payload, off)
            assert one["content"] == chunk
        # ends chain: each stream's end is the next stream's offset
        ends = [decode_bzip2_at(payload, o)["end"] for o in offsets]
        assert ends[:-1] == offsets[1:]
        assert ends[-1] == len(payload)

    def test_stdlib_multistream_decodes_here(self):
        payload = stdlib_bz2.compress(b"first\n", 1) + stdlib_bz2.compress(
            b"second\n", 9
        )
        out = decode_bzip2_stream(payload)
        assert out["content"] == b"first\nsecond\n"
        assert out["levels"] == [1, 9]


class TestCorruption:
    def test_bad_stream_magic(self):
        with pytest.raises(ValueError, match="magic"):
            decode_bzip2_stream(b"BX" + b"\x00" * 16)
        with pytest.raises(ValueError, match="level"):
            decode_bzip2_stream(b"BZh0" + b"\x00" * 16)
        with pytest.raises(ValueError, match="level"):
            decode_bzip2_stream(b"BZh")  # level byte missing

    def test_truncated_payload(self):
        enc = encode_bzip2(b"truncate me\n" * 20)
        with pytest.raises(ValueError):
            decode_bzip2_stream(enc[: len(enc) // 2])

    def test_empty_payload(self):
        with pytest.raises(ValueError, match="empty"):
            decode_bzip2_stream(b"")

    def test_oversubscribed_huffman_lengths_raise_valueerror(self):
        # one bit flip in the first table's delta-coded code lengths
        # over-subscribes the canonical code (a fuzz find that once
        # escaped as an IndexError from the peek-table build)
        text = ("The quick brown fox jumps over the lazy dog. " * 3 + "abcxx").encode()
        bad = bytearray(encode_bzip2(text))
        bad[261 >> 3] ^= 1 << (261 & 7)
        with pytest.raises(ValueError, match="over-subscribed"):
            decode_bzip2_stream(bytes(bad))

    def test_every_byte_flip_is_loud_or_accounted(self):
        """The c6/c7 integrity convention: flipping ANY single byte of
        a stream must either raise (magic/CRC/geometry gates) or leave
        the decoded content byte-identical (padding bits, which carry
        no signal)."""
        p = b"integrity probe payload\n" * 8
        enc = encode_bzip2(p, level=1, block_bytes=64)
        silent_changes = 0
        for i in range(len(enc)):
            mutated = bytearray(enc)
            mutated[i] ^= 0x55
            try:
                out = decode_bzip2_stream(bytes(mutated))
            except (ValueError, NotImplementedError, IndexError):
                continue
            if out["content"] != p:
                silent_changes += 1
        assert silent_changes == 0

    def test_stream_crc_gate(self):
        # flip inside the final stream-CRC field: the last byte can be
        # up to 7 padding bits, but byte -2 always overlaps the 32-bit
        # CRC (footer = 48-bit magic + 32-bit CRC + <=7 pad bits)
        enc = bytearray(encode_bzip2(b"crc probe\n" * 10))
        enc[-2] ^= 0x10
        with pytest.raises(ValueError, match="CRC|magic"):
            decode_bzip2_stream(bytes(enc))


class TestC9Query:
    def test_c9_matches_oracle(self, spark, duck):
        spec = all_queries()["c9_bzip2_extract"]
        sdf = spec.spark(spark, SF_ORACLE)
        srows = [tuple(r) for r in sdf.collect()]
        cur = duck.execute(spec.oracle)
        dcols = [d[0] for d in cur.description]
        drows = cur.fetchall()
        assert sorted(sdf.columns) == sorted(dcols)
        assert len(srows) == len(drows) == 500
        assert canonical_rows(srows, sdf.columns) == canonical_rows(drows, dcols)

    def test_c9_plan_is_single_map_pass(self, spark):
        fn = all_queries()["c9_bzip2_extract"].spark
        plan = (
            fn(spark, SF_ORACLE)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
            .lower()
        )
        assert "exchange hashpartitioning" not in plan
        assert plan.count("exchange roundrobinpartitioning") <= 1  # fan-out

    def test_c9_oracle_is_byte_exact(self, duck):
        """The size oracles use strlen (bytes), not length (chars), so
        a non-ASCII corpus row would still hash-match (r12 verdict
        task 5 convention for new queries)."""
        oracle = all_queries()["c9_bzip2_extract"].oracle
        assert "strlen(text)" in oracle
        assert "length(text)" not in oracle
        # spot-check the arithmetic on a non-ASCII doc through DuckDB
        row = duck.execute(
            "SELECT CAST(2 + v.doc_id % 2 AS BIGINT) AS n_streams,"
            "       CAST((2 + v.doc_id % 2) * (strlen(v.text) + 1) AS BIGINT)"
            "           AS content_size"
            " FROM (SELECT 1::BIGINT AS doc_id, 'café' AS text) v"
        ).fetchone()
        from pipeline_mf_etl_spark.sources.bzip2 import (
            decode_bzip2_stream as dec,
            encode_bzip2_multistream as encm,
        )

        payload, _ = encm([("café" + "\n").encode()] * 3, level=2)
        out = dec(payload)
        assert out["n_streams"] == row[0]
        assert len(out["content"]) == row[1]


class TestBz2DropZone:
    def test_jsonl_bz2_stream_with_corrupt_shard(self, spark, tmp_path):
        """The .jsonl.bz2 drop-zone leg (Wikipedia-dump convention):
        multistream shards concatenate, bad lines and a corrupt stream
        become reject rows — never a wedged stream."""
        import json

        from pipeline_mf_etl_spark.streaming.transforms import (
            read_compressed_jsonl_stream,
        )

        zone = tmp_path / "bz2zone"
        zone.mkdir()
        lines = [
            json.dumps({"doc_id": 1, "text": "alpha", "lang": "en",
                        "source": "wiki", "n_chars": 5}),
            "not json at all {",
        ]
        payload, _ = encode_bzip2_multistream(
            [("\n".join(lines) + "\n").encode(),
             b'{"doc_id": 2, "text": "beta"}\n']
        )
        (zone / "shard-0.jsonl.bz2").write_bytes(payload)
        good = encode_bzip2(b'{"doc_id": 3, "text": "gamma"}\n')
        (zone / "shard-1.jsonl.bz2").write_bytes(good)
        bad = bytearray(good)
        bad[-2] ^= 0x10  # break the stream CRC
        (zone / "shard-2.jsonl.bz2").write_bytes(bytes(bad))
        (zone / "ignored.jsonl").write_text("{}")  # glob-filtered

        q = (
            read_compressed_jsonl_stream(spark, str(zone), codec="bzip2")
            .writeStream.format("memory")
            .queryName("bz2_ingest")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql("select * from bz2_ingest").collect()
        docs = {r["doc_id"]: r for r in rows if r["reject_reason"] is None}
        rejects = [r for r in rows if r["reject_reason"] is not None]
        assert set(docs) == {1, 2, 3}
        assert docs[2]["text"] == "beta"  # second stream's line arrived
        reasons = sorted(r["reject_reason"].split(":")[0] for r in rejects)
        assert reasons == ["BAD_FRAME", "BAD_JSON"]
