"""Invariants for the non-SQL-expressible multimodal featurizer (mm2):
row preservation, histogram normalization, hash determinism, and the
decode gate."""

from __future__ import annotations

import hashlib

import pytest

from pipeline_mf_etl_spark.operators.multimodal import (
    decode_media,
    extract_byte_features,
    with_binary_payload,
)
from pipeline_mf_etl_spark.sources.readers import load_table
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def feats(spark):
    docs = with_binary_payload(load_table(spark, SF_SMOKE, "documents"))
    return docs, [r.asDict() for r in extract_byte_features(docs).collect()]


def test_row_preservation_and_hist(feats):
    docs, rows = feats
    assert len(rows) == docs.count() > 0
    for r in rows:
        assert len(r["byte_hist"]) == 16
        assert abs(sum(r["byte_hist"]) - 1.0) < 1e-9
        assert r["n_bytes"] > 0
        assert 0.0 <= r["byte_mean"] <= 255.0


def test_sha256_matches_local(feats, spark):
    docs, rows = feats
    texts = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").limit(50).collect()}
    by_id = {r["doc_id"]: r for r in rows}
    for doc_id, text in texts.items():
        expected = hashlib.sha256(text.encode("utf-8")).hexdigest()
        assert by_id[doc_id]["payload_sha256"] == expected


def test_decode_gate():
    # every shipped mime decodes natively now: junk bytes fail each
    # format's own grammar check, not an import gate; the only
    # remaining NotImplementedError is compressed TRACKS inside MP4
    # (TestMp4Demux::test_compressed_sample_entry_gate) and unknown
    # mimes below
    with pytest.raises(ValueError, match="box"):
        decode_media(b"\x00", "video/mp4")
    with pytest.raises(ValueError, match="SOI"):
        decode_media(b"\x00", "image/jpeg")
    with pytest.raises(NotImplementedError):
        decode_media(b"\x00", "image/webp")


def test_corpus_is_ascii(spark):
    """Documentation of a corpus property, NO LONGER load-bearing for
    hash parity: since the r13 migration every multimodal oracle reads
    UTF-8 bytes through the hex-pair expansion (idiom documented atop
    queries/multimodal.py), and tests/test_nonascii.py asserts engine==oracle on a
    non-ASCII corpus for every migrated family — including, since r14,
    c8's byte-range slice (the last char-based oracle, migrated per
    r13 verdict task 5). Kept purely as corpus documentation."""
    import pyspark.sql.functions as F

    from tests.conftest import SF_ORACLE

    for sf in (SF_SMOKE, SF_ORACLE):
        docs = load_table(spark, sf, "documents")
        non_ascii = docs.filter(~F.col("text").rlike(r"^[\x00-\x7F]*$")).count()
        assert non_ascii == 0, f"{sf}: {non_ascii} non-ASCII docs break the mm2 oracle"


def test_mm2_oracle_keeps_empty_docs(spark, tmp_path):
    """A zero-length doc must survive BOTH sides of mm2: the Spark
    featurizer emits n_bytes=0 / null mean, and the oracle's LEFT JOIN
    keeps the row the unnest-based agg can't produce."""
    import duckdb
    import pandas as pd

    from pipeline_mf_etl_spark.queries import all_queries
    from tests.conftest import canonical_rows

    pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": ["abc", ""],
            "lang": ["en", "en"],
            "source": ["t", "t"],
            "n_chars": [3, 0],
        }
    ).to_parquet(f"{tmp_path}/documents.parquet")

    spec = all_queries()["mm2_byte_features"]
    sdf = spec.spark(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    assert len(srows) == 2

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    cur = con.execute(spec.oracle)
    dcols = [d[0] for d in cur.description]
    drows = cur.fetchall()
    assert canonical_rows(srows, list(sdf.columns)) == canonical_rows(drows, dcols)


def test_wav_roundtrip_exact():
    """encode_wav_pcm16 → parse_wav must round-trip header + samples
    bit-exactly, and reject malformed / non-PCM16 payloads loudly."""
    import numpy as np
    import pytest

    from pipeline_mf_etl_spark.operators.multimodal import (
        encode_wav_pcm16,
        parse_wav,
    )

    rng = np.random.default_rng(7)
    samples = rng.integers(-32768, 32767, size=1234, dtype=np.int16)
    wav = encode_wav_pcm16(samples, sample_rate=44100)
    out = parse_wav(wav)
    assert out["sample_rate"] == 44100
    assert out["n_channels"] == 1
    assert out["bits_per_sample"] == 16
    assert np.array_equal(out["samples"], samples)

    # zero-length payload still forms a valid WAV
    empty = parse_wav(encode_wav_pcm16(np.array([], dtype=np.int16)))
    assert len(empty["samples"]) == 0

    with pytest.raises(ValueError, match="RIFF"):
        parse_wav(b"NOTAWAVFILE_____")
    # corrupt the fmt chunk's audio_format to 3 (IEEE float): rejected
    bad = bytearray(wav)
    bad[20] = 3
    with pytest.raises(ValueError, match="unsupported"):
        parse_wav(bytes(bad))


def test_decode_media_dispatch():
    """audio/wav decodes natively; video/mp4 dispatches to the native
    ISO-BMFF demux (a bare ftyp with no moov fails ITS grammar, and
    compressed sample entries raise NotImplementedError at the stsd
    gate — TestMp4Demux); JPEG dispatches to the native baseline
    decoder, which fails loudly on truncation."""
    import numpy as np
    import pytest

    from pipeline_mf_etl_spark.operators.multimodal import (
        decode_media,
        encode_wav_pcm16,
    )

    out = decode_media(encode_wav_pcm16(np.array([1, -1], dtype=np.int16)), "audio/wav")
    assert out["sample_rate"] == 8000 and len(out["samples"]) == 2
    with pytest.raises(ValueError, match="moov"):
        decode_media(b"\x00\x00\x00\x10ftypmp42\x00\x00\x02\x00", "video/mp4")
    with pytest.raises(ValueError):
        decode_media(b"\xff\xd8\xff", "image/jpeg")


def test_wav_rejects_truncated_and_multichannel(spark, tmp_path):
    """A chunk whose declared size overruns the payload must fail loudly,
    and the featurizer must refuse interleaved multi-channel PCM."""
    import struct

    import numpy as np
    import pandas as pd
    import pytest

    from pipeline_mf_etl_spark.operators.multimodal import (
        decode_wav_features,
        encode_wav_pcm16,
        parse_wav,
    )

    wav = encode_wav_pcm16(np.array([1, 2, 3], dtype=np.int16))
    with pytest.raises(ValueError, match="truncated"):
        parse_wav(wav[:-2])  # data chunk now shorter than declared

    # stereo header: patch channels=2 and block align accordingly
    stereo = bytearray(encode_wav_pcm16(np.array([1, -1, 2, -2], dtype=np.int16)))
    struct.pack_into("<H", stereo, 22, 2)
    assert parse_wav(bytes(stereo))["n_channels"] == 2  # parser reports it
    pdf = pd.DataFrame({"doc_id": [1], "payload": [bytes(stereo)]})
    sdf = spark.createDataFrame(pdf)
    with pytest.raises(Exception, match="channel"):
        decode_wav_features(sdf).collect()


def test_ppm_roundtrip_and_comments():
    """encode_ppm → parse_ppm must round-trip geometry + pixels exactly,
    honor '#' comments in the header whitespace, and reject malformed
    payloads loudly (bad magic, wrong maxval, geometry/payload size
    mismatch, junk header tokens)."""
    import numpy as np
    import pytest

    from pipeline_mf_etl_spark.operators.multimodal import encode_ppm, parse_ppm

    rng = np.random.default_rng(11)
    rgb = rng.integers(0, 256, size=3 * 16 * 5, dtype=np.uint8).tobytes()
    out = parse_ppm(encode_ppm(rgb, 16, 5))
    assert (out["width"], out["height"], out["maxval"]) == (16, 5, 255)
    assert out["pixels"].tobytes() == rgb

    # comments between header tokens are legal and must be skipped
    commented = b"P6\n# synthetic\n16 # w\n5\n# maxval next\n255\n" + rgb
    cm = parse_ppm(commented)
    assert (cm["width"], cm["height"]) == (16, 5)
    assert cm["pixels"].tobytes() == rgb

    # 0-row image is legal (short docs synth to this)
    empty = parse_ppm(encode_ppm(b"", 16, 0))
    assert empty["height"] == 0 and len(empty["pixels"]) == 0

    with pytest.raises(ValueError, match="P6"):
        parse_ppm(b"P3\n1 1\n255\n000")
    with pytest.raises(ValueError, match="maxval"):
        parse_ppm(b"P6\n1 1\n65535\n" + b"\x00" * 6)
    with pytest.raises(ValueError, match="pixel"):
        parse_ppm(b"P6\n4 4\n255\n" + b"\x00" * 5)
    with pytest.raises(ValueError, match="non-numeric"):
        parse_ppm(b"P6\nwide 1\n255\n\x00\x00\x00")
    with pytest.raises(ValueError, match="truncated"):
        parse_ppm(b"P6\n16 ")


def test_ppm_decode_media_dispatch():
    """image/x-portable-pixmap decodes natively through decode_media;
    compressed image formats stay gated."""
    from pipeline_mf_etl_spark.operators.multimodal import decode_media, encode_ppm

    out = decode_media(encode_ppm(b"\x01\x02\x03" * 16, 16, 1), "image/x-portable-pixmap")
    assert out["width"] == 16 and out["height"] == 1


def test_y4m_roundtrip_and_header_tags():
    """encode_y4m → parse_y4m must round-trip geometry, frame rate and
    every frame bit-exactly; honor optional header tags (Ip, A, X-) and
    per-frame FRAME parameters; apply the spec's C420 default; and
    reject malformed payloads loudly (bad magic, missing tags, unknown
    colorspace, truncated frame, junk between frames)."""
    import numpy as np
    import pytest

    from pipeline_mf_etl_spark.operators.multimodal import encode_y4m, parse_y4m

    rng = np.random.default_rng(13)
    frames = rng.integers(0, 256, size=(5, 64), dtype=np.uint8)
    out = parse_y4m(encode_y4m(frames, 8, 8))
    assert (out["width"], out["height"]) == (8, 8)
    assert (out["fps_num"], out["fps_den"]) == (25, 1)
    assert out["colorspace"] == "mono"
    assert np.array_equal(out["frames"], frames)

    # 0-frame stream is legal (short docs synth to this)
    empty = parse_y4m(encode_y4m(np.empty((0, 64), dtype=np.uint8), 8, 8))
    assert empty["frames"].shape == (0, 64)

    # C444 strides 3*w*h per frame; a parser ignoring the tag mis-reads
    f444 = rng.integers(0, 256, size=(2, 3 * 4 * 2), dtype=np.uint8)
    out444 = parse_y4m(encode_y4m(f444, 4, 2, colorspace="444"))
    assert np.array_equal(out444["frames"], f444)

    # spec default colorspace (no C tag) is 420 = 1.5*w*h per frame
    body = b"FRAME\n" + bytes(range(6))
    dflt = parse_y4m(b"YUV4MPEG2 W2 H2 F30:1\n" + body)
    assert dflt["colorspace"] == "420" and dflt["frames"].shape == (1, 6)

    # extra header tags + per-frame params are legal and skipped
    tagged = b"YUV4MPEG2 W2 H2 F25:1 Ip A1:1 Cmono Xsynthetic\nFRAME Ixyz\n\x01\x02\x03\x04"
    tg = parse_y4m(tagged)
    assert tg["frames"].tolist() == [[1, 2, 3, 4]]

    with pytest.raises(ValueError, match="YUV4MPEG2"):
        parse_y4m(b"NOTAVIDEO\n")
    with pytest.raises(ValueError, match="W/H/F"):
        parse_y4m(b"YUV4MPEG2 W8 H8\nFRAME\n" + b"\x00" * 96)
    with pytest.raises(ValueError, match="colorspace"):
        parse_y4m(b"YUV4MPEG2 W8 H8 F25:1 C422\nFRAME\n" + b"\x00" * 128)
    with pytest.raises(ValueError, match="truncated"):
        parse_y4m(b"YUV4MPEG2 W8 H8 F25:1 Cmono\nFRAME\n" + b"\x00" * 63)
    with pytest.raises(ValueError, match="FRAME marker"):
        parse_y4m(b"YUV4MPEG2 W2 H2 Cmono F25:1\nJUNK\n\x00\x00\x00\x00")


def test_y4m_frame_stats_match_text(spark, tmp_path):
    """mm6 end-to-end on a tiny corpus: per-frame luma stats must equal
    stats computed directly from the text bytes (frame f = bytes
    [64f, 64f+64)), sampling every 4th frame, with sub-frame docs
    emitting no rows."""
    import numpy as np
    import pandas as pd

    from pipeline_mf_etl_spark.queries import all_queries

    texts = {
        1: "a" * 300,   # 4 frames -> sampled frames 0
        2: "xy" * 160,  # 5 frames -> sampled 0, 4
        3: "short",     # 0 frames -> no rows
    }
    pd.DataFrame(
        {
            "doc_id": list(texts),
            "text": list(texts.values()),
            "lang": ["en"] * 3,
            "source": ["t"] * 3,
            "n_chars": [len(t) for t in texts.values()],
        }
    ).to_parquet(f"{tmp_path}/documents.parquet")

    rows = all_queries()["mm6_video_decode"].spark(spark, str(tmp_path)).collect()
    got = {(r["doc_id"], r["frame_idx"]): r for r in rows}
    expect_keys = {(1, 0), (2, 0), (2, 4)}
    assert set(got) == expect_keys
    for (doc_id, fidx), r in got.items():
        raw = np.frombuffer(texts[doc_id].encode(), dtype=np.uint8)[
            fidx * 64 : (fidx + 1) * 64
        ].astype(np.int64)
        assert r["n_frames"] == len(texts[doc_id]) // 64
        assert r["mean_luma"] == round(float(raw.sum()) / 64, 6)
        assert r["max_luma"] == int(raw.max())
        assert (r["width"], r["height"], r["fps_num"], r["fps_den"]) == (8, 8, 25, 1)


def test_y4m_frame_stats_use_luma_plane_only(spark):
    """For a C444 stream (frame payload = Y then U then V planes), the
    frame stats must cover ONLY the leading w*h luma bytes — averaging
    chroma into 'mean_luma' would mislabel the column for every
    non-mono colorspace the parser supports."""
    import numpy as np
    import pandas as pd

    from pipeline_mf_etl_spark.operators.multimodal import (
        decode_y4m_frame_stats,
        encode_y4m,
    )

    w, h = 4, 2
    y = np.full(w * h, 10, dtype=np.uint8)
    u = np.full(w * h, 200, dtype=np.uint8)
    v = np.full(w * h, 250, dtype=np.uint8)
    frame = np.concatenate([y, u, v])[None, :]
    payload = encode_y4m(frame, w, h, colorspace="444")

    sdf = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "payload": [bytes(payload)]})
    )
    row = decode_y4m_frame_stats(sdf, stride=1).collect()[0]
    assert row["mean_luma"] == 10.0  # not (10+200+250)/3
    assert row["max_luma"] == 10    # not 250


def test_wav_segmentation_edges(spark):
    """Segment math at the edges: all-gap doc -> 0 segments; gaps at
    start/end don't create empty segments; short silent runs do NOT
    split; features are exact integers."""
    import numpy as np
    import pandas as pd

    from pipeline_mf_etl_spark.operators.multimodal import (
        WAV_MIN_GAP,
        WAV_SILENCE_AMP,
        encode_wav_pcm16,
        wav_segment_features,
    )

    loud, quiet = WAV_SILENCE_AMP + 1, 0

    def wav(amps):
        return bytes(encode_wav_pcm16(np.array(amps, dtype=np.int16)))

    gap = [quiet] * WAV_MIN_GAP
    short = [quiet] * (WAV_MIN_GAP - 1)
    cases = {
        1: wav(gap),                          # all one gap -> 0 segments
        2: wav([loud] * 5),                   # no silence -> 1 segment
        3: wav(gap + [loud] * 3 + gap),       # edge gaps -> 1 segment
        4: wav([loud] + gap + [loud]),        # interior gap -> 2 segments
        5: wav([loud] + short + [loud]),      # short run doesn't split
    }
    sdf = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(cases), "payload": list(cases.values())})
    )
    rows = {r["doc_id"]: r for r in wav_segment_features(sdf).collect()}
    assert rows[1]["n_segments"] == 0 and rows[1]["n_gaps"] == 1
    assert rows[1]["n_segment_samples"] == 0
    assert rows[2]["n_segments"] == 1 and rows[2]["n_gaps"] == 0
    assert rows[3]["n_segments"] == 1 and rows[3]["n_gaps"] == 2
    assert rows[3]["n_segment_samples"] == 3
    assert rows[4]["n_segments"] == 2 and rows[4]["n_gaps"] == 1
    assert rows[5]["n_segments"] == 1 and rows[5]["n_gaps"] == 0
    assert rows[5]["n_silent"] == WAV_MIN_GAP - 1
    assert rows[5]["longest_silence_run"] == WAV_MIN_GAP - 1


def test_resize_pools_uneven_bands_exactly(spark):
    """A 6-row image pools into 4 uneven y-bands (2,1,2,1 rows via
    y*4//h); a 2-row image fills only bands {0, 2}; channel sums are
    exact integers."""
    import numpy as np

    from pipeline_mf_etl_spark.operators.multimodal import (
        PPM_WIDTH,
        encode_ppm,
        resize_ppm_cells,
    )

    rng = np.random.default_rng(11)
    imgs = {1: 6, 2: 2}  # doc_id -> height
    raw = {d: rng.integers(0, 256, (h, PPM_WIDTH, 3), dtype=np.uint8) for d, h in imgs.items()}
    df = spark.createDataFrame(
        [(d, bytearray(encode_ppm(raw[d].tobytes(), PPM_WIDTH, h))) for d, h in imgs.items()],
        "doc_id long, payload binary",
    )
    rows = resize_ppm_cells(df).collect()
    got = {(r["doc_id"], r["cell_y"], r["cell_x"]): r for r in rows}

    for d, h in imgs.items():
        ys = (np.arange(h) * 4) // h
        xs = (np.arange(PPM_WIDTH) * 4) // PPM_WIDTH
        expect_bands = set(ys.tolist())
        assert {cy for (dd, cy, _) in got if dd == d} == expect_bands
        # exact sums per cell
        for cy in expect_bands:
            for cx in range(4):
                sel = raw[d][ys == cy][:, xs == cx, :].reshape(-1, 3).astype(int)
                r = got[(d, cy, cx)]
                assert r["n_px"] == sel.shape[0]
                assert (r["sum_r"], r["sum_g"], r["sum_b"]) == tuple(sel.sum(axis=0))


class TestPngCodec:
    """Real compressed-codec path: zlib container + all five filters."""

    def test_roundtrip_exact_all_filters(self):
        import numpy as np

        from pipeline_mf_etl_spark.operators.multimodal import encode_png, parse_png

        rng = np.random.default_rng(7)
        for h in (0, 1, 2, 5, 6, 23):  # ≥6 rows cycles through every filter
            rgb = bytes(rng.integers(0, 256, 48 * h, dtype=np.uint8))
            p = parse_png(encode_png(rgb, 16, h))
            assert (p["width"], p["height"]) == (16, h)
            assert bytes(p["pixels"]) == rgb

    def test_every_filter_type_is_emitted(self):
        import zlib

        import numpy as np

        from pipeline_mf_etl_spark.operators.multimodal import encode_png

        rgb = bytes(np.arange(48 * 6, dtype=np.uint64).astype(np.uint8))
        payload = encode_png(rgb, 16, 6)
        idat = payload[payload.index(b"IDAT") + 4 :]
        raw = zlib.decompress(idat[: -(12 + 4)])  # strip IDAT CRC + IEND chunk
        ftypes = [raw[y * 49] for y in range(6)]
        assert ftypes == [0, 1, 2, 3, 4, 0]

    def test_malformed_inputs_fail_loudly(self):
        import struct
        import zlib

        import pytest

        from pipeline_mf_etl_spark.operators.multimodal import encode_png, parse_png

        good = encode_png(bytes(range(48)), 16, 1)
        with pytest.raises(ValueError, match="signature"):
            parse_png(b"JUNK" + good[4:])
        # flip one IDAT byte: CRC must catch it
        idx = good.index(b"IDAT") + 6
        bad = good[:idx] + bytes([good[idx] ^ 0xFF]) + good[idx + 1 :]
        with pytest.raises(ValueError, match="CRC"):
            parse_png(bad)
        # unsupported variant (16-bit depth) must be refused, not guessed
        ihdr = struct.pack(">IIBBBBB", 16, 1, 16, 2, 0, 0, 0)
        chunk = struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr + struct.pack(
            ">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF
        )
        with pytest.raises(ValueError, match="unsupported"):
            parse_png(good[:8] + chunk + good[8 + 12 + 13 :])

    def test_decode_media_dispatches_png(self):
        from pipeline_mf_etl_spark.operators.multimodal import (
            decode_media,
            encode_png,
        )

        p = decode_media(encode_png(bytes(range(48)), 16, 1), "image/png")
        assert p["width"] == 16 and bytes(p["pixels"]) == bytes(range(48))


class TestPngColor:
    def test_adam7_passes_partition_the_grid(self):
        import numpy as np

        from pipeline_mf_etl_spark.operators.multimodal import _PNG_ADAM7

        grid = np.zeros((16, 16), dtype=int)
        for x0, y0, dx, dy in _PNG_ADAM7:
            grid[y0::dy, x0::dx] += 1
        assert (grid == 1).all()  # every pixel written exactly once

    def test_roundtrip_every_color_type_and_interlace(self):
        import numpy as np

        from pipeline_mf_etl_spark.operators.multimodal import (
            PNG_IDENTITY_PALETTE,
            encode_png_ex,
            parse_png,
            png_expand_rgb,
        )

        rng = np.random.default_rng(11)
        cases = [(0, None, 1), (2, None, 3), (3, PNG_IDENTITY_PALETTE, 1),
                 (4, None, 2), (6, None, 4)]
        for ct, pal, bpp in cases:
            for w, h, il in ((16, 1, False), (16, 9, True), (16, 8, True),
                             (7, 13, True), (1, 1, True), (3, 2, True)):
                data = rng.integers(0, 256, bpp * w * h, np.uint8).tobytes()
                v = parse_png(
                    encode_png_ex(data, w, h, color_type=ct, palette=pal,
                                  interlace=il)
                )
                assert bytes(v["pixels"]) == data, (ct, w, h, il)
                assert (v["color_type"], v["channels"]) == (ct, bpp)
                ex = png_expand_rgb(v)
                if ct == 3:
                    idx = np.frombuffer(data, np.uint8).reshape(h, w)
                    assert np.array_equal(ex, np.stack([idx] * 3, axis=-1))
                else:
                    assert ex.shape == (h, w, bpp)

    def test_interlace_actually_reorders_the_stream(self):
        import numpy as np

        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_png_ex,
            parse_png,
        )

        data = bytes(np.arange(16 * 16, dtype=np.uint64).astype(np.uint8))
        plain = encode_png_ex(data, 16, 16, color_type=0, interlace=False)
        inter = encode_png_ex(data, 16, 16, color_type=0, interlace=True)
        assert plain != inter
        assert bytes(parse_png(plain)["pixels"]) == data
        assert bytes(parse_png(inter)["pixels"]) == data

    def test_malformed_color_pngs_fail_loudly(self):
        import struct
        import zlib

        from pipeline_mf_etl_spark.operators.multimodal import (
            PNG_IDENTITY_PALETTE,
            encode_png_ex,
            parse_png,
        )

        # palette type without PLTE
        good = encode_png_ex(
            bytes(range(16)), 16, 1, color_type=3, palette=PNG_IDENTITY_PALETTE
        )
        i = good.index(b"PLTE") - 4
        (plen,) = struct.unpack(">I", good[i : i + 4])
        no_plte = good[:i] + good[i + 12 + plen :]
        with pytest.raises(ValueError, match="no PLTE"):
            parse_png(no_plte)
        # out-of-range palette index (4-entry palette, index 9)
        small = encode_png_ex(bytes([0, 1, 2, 3]), 4, 1, color_type=3,
                              palette=bytes(12))
        raw = zlib.compress(bytes([0, 0, 1, 2, 9]), 6)

        def chunk(ctype, data):
            return (struct.pack(">I", len(data)) + ctype + data
                    + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

        j = small.index(b"IDAT") - 4
        k = small.index(b"IEND") - 4
        bad_idx = small[:j] + chunk(b"IDAT", raw) + small[k:]
        with pytest.raises(ValueError, match="palette index 9"):
            parse_png(bad_idx)
        # encoder gates: missing palette, stray palette, oversized index
        with pytest.raises(ValueError, match="needs a palette"):
            encode_png_ex(bytes(16), 16, 1, color_type=3)
        with pytest.raises(ValueError, match="palette given"):
            encode_png_ex(bytes(48), 16, 1, color_type=2,
                          palette=PNG_IDENTITY_PALETTE)
        with pytest.raises(ValueError, match="outside the 4-entry"):
            encode_png_ex(bytes([9]), 1, 1, color_type=3, palette=bytes(12))
        # truncated Adam7 stream: byte budget must mismatch loudly
        inter = encode_png_ex(bytes(range(16)) * 16, 16, 16, color_type=0,
                              interlace=True)
        j = inter.index(b"IDAT") - 4
        (ilen,) = struct.unpack(">I", inter[j : j + 4])
        idat = inter[j + 8 : j + 8 + ilen]
        short = zlib.compress(zlib.decompress(idat)[:-10], 6)
        k = inter.index(b"IEND") - 4
        trunc = inter[:j] + chunk(b"IDAT", short) + inter[k:]
        with pytest.raises(ValueError, match="filtered bytes|Adam7|exceeds"):
            parse_png(trunc)

    def test_mm12b_edge_docs(self, spark, tmp_path):
        import pandas as pd

        from pipeline_mf_etl_spark.operators.multimodal import (
            decode_png_color_features,
            with_png_color_payload,
        )

        # doc 0 -> gray (bpp 1, 18 chars = 1 row + remainder)
        # doc 2 -> palette; doc 4 -> RGBA (needs 64 bytes/row: too short -> NULL)
        pdf = pd.DataFrame(
            {
                "doc_id": [0, 2, 4],
                "text": ["a" * 18, "ab" * 20, "x" * 40],
            }
        )
        sdf = spark.createDataFrame(pdf)
        out = {
            r["doc_id"]: r
            for r in decode_png_color_features(with_png_color_payload(sdf)).collect()
        }
        assert out[0]["height"] == 1 and out[0]["n_channel_bytes"] == 16
        assert out[0]["mean_byte"] == float(ord("a"))
        # palette doc: indices expand 3x through the identity palette
        assert out[2]["color_type"] == 3
        assert out[2]["height"] == 2 and out[2]["n_channel_bytes"] == 96
        row_w = ord("a") * 8 + ord("b") * 8  # per-row sum of 'abab...'
        assert out[2]["row_weighted_sum"] == 3 * (1 * row_w + 2 * row_w)
        # RGBA doc too short for one 64-byte row -> NULL stats, 0 geometry
        assert out[4]["color_type"] == 6
        assert out[4]["height"] == 0 and out[4]["mean_byte"] is None


class TestJpegCodec:
    """Baseline-sequential JFIF: Huffman entropy coding + DCT pipeline."""

    def test_constant_blocks_roundtrip_byte_exact(self):
        # the mm13 oracle contract: block-constant images survive the
        # lossy pipeline exactly under the synthesis quant table
        import numpy as np

        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_jpeg_gray,
            parse_jpeg_gray,
        )

        rng = np.random.default_rng(11)
        for br in (1, 3, 7):
            vals = rng.integers(0, 256, size=(br, 16), dtype=np.uint8)
            gray = np.kron(vals, np.ones((8, 8), dtype=np.uint8))
            p = parse_jpeg_gray(encode_jpeg_gray(gray.tobytes(), 128, 8 * br))
            assert (p["width"], p["height"]) == (128, 8 * br)
            assert np.array_equal(p["pixels"].reshape(8 * br, 128), gray)

    def test_general_image_roundtrip_within_tolerance(self):
        # arbitrary pixels, q=1 everywhere: the only loss is the
        # float DCT/IDCT rounding, bounded by 2 gray levels; also
        # exercises edge-replication padding (non-multiple-of-8 dims)
        import numpy as np

        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_jpeg_gray,
            parse_jpeg_gray,
        )

        rng = np.random.default_rng(13)
        q1 = np.ones(64, dtype=np.int64)
        img = rng.integers(0, 256, size=(21, 37), dtype=np.uint8)
        p = parse_jpeg_gray(encode_jpeg_gray(img.tobytes(), 37, 21, quant=q1))
        assert (p["width"], p["height"]) == (37, 21)
        err = np.abs(p["pixels"].reshape(21, 37).astype(int) - img.astype(int))
        assert err.max() <= 2

    def test_coefficient_level_roundtrip_exercises_ac_paths(self):
        # gradient + checkerboard images produce dense nonzero AC
        # coefficients, driving the (run,size) symbols, ZRL and EOB
        # branches on both sides; q=1 keeps the entropy layer lossless
        # at the coefficient level so any Huffman/zigzag slip shows up
        # as a large pixel error, not a rounding blur
        import numpy as np

        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_jpeg_gray,
            parse_jpeg_gray,
        )

        q1 = np.ones(64, dtype=np.int64)
        y, x = np.mgrid[0:16, 0:24]
        for img in (
            ((x * 11 + y * 7) % 256).astype(np.uint8),        # gradient
            (255 * ((x + y) % 2)).astype(np.uint8),           # checkerboard
            np.zeros((16, 24), dtype=np.uint8),               # all-EOB
            np.full((16, 24), 255, dtype=np.uint8),           # max DC
        ):
            p = parse_jpeg_gray(encode_jpeg_gray(img.tobytes(), 24, 16, quant=q1))
            err = np.abs(p["pixels"].reshape(16, 24).astype(int) - img.astype(int))
            assert err.max() <= 2

    def test_malformed_and_unsupported_fail_loudly(self):
        import struct

        import numpy as np
        import pytest

        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_jpeg_gray,
            parse_jpeg_gray,
        )

        good = encode_jpeg_gray(bytes(np.full(64, 7, dtype=np.uint8)), 8, 8)
        with pytest.raises(ValueError, match="SOI"):
            parse_jpeg_gray(b"JUNK" + good[4:])
        with pytest.raises(ValueError, match="truncated"):
            parse_jpeg_gray(good[:30])
        # progressive is SUPPORTED since r9 — but a baseline full-band
        # scan under an SOF2 header is MALFORMED progressive (a scan
        # cannot mix DC and AC) and must still fail loudly
        sof2 = struct.pack(">HHBHHB", 0xFFC2, 11, 8, 8, 8, 1) + bytes([1, 0x11, 0])
        idx = good.index(b"\xff\xc0")
        seglen = struct.unpack(">H", good[idx + 2 : idx + 4])[0]
        prog = good[:idx] + sof2 + good[idx + 2 + seglen :]
        with pytest.raises(ValueError, match="mixes DC and AC"):
            parse_jpeg_gray(prog)
        # lossless (SOF3) stays a loud gate
        sof3 = struct.pack(">HHBHHB", 0xFFC3, 11, 8, 8, 8, 1) + bytes([1, 0x11, 0])
        with pytest.raises(NotImplementedError, match="0xFFC3"):
            parse_jpeg_gray(good[:idx] + sof3 + good[idx + 2 + seglen :])
        # geometry mismatch on the encode side
        with pytest.raises(ValueError, match="geometry"):
            encode_jpeg_gray(b"\x00" * 63, 8, 8)

    def test_malformed_entropy_tables_raise_valueerror(self):
        # fuzz finds (single bit flips) that once escaped as IndexError /
        # OverflowError instead of the declared ValueError
        import numpy as np
        import pytest

        from pipeline_mf_etl_spark.operators.bits import MSBWriter
        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_jpeg_gray,
            encode_jpeg_progressive_gray,
            parse_jpeg,
        )

        def flip(payload: bytes, bit: int) -> bytes:
            out = bytearray(payload)
            out[bit >> 3] ^= 1 << (bit & 7)
            return bytes(out)

        rng = np.random.default_rng(0)
        gray = rng.integers(0, 256, size=64 * 48, dtype=np.uint8).tobytes()
        # the AC DHT's length-1 count grows to 32: over-subscribed, and
        # the table lists fewer values than its counts require
        with pytest.raises(ValueError, match="Huffman"):
            parse_jpeg(flip(encode_jpeg_gray(gray, 64, 48), 1093))
        # a DC table value turns into a category far above 11
        prog = encode_jpeg_progressive_gray(gray[: 32 * 32], 32, 32)
        with pytest.raises(ValueError, match="category"):
            parse_jpeg(flip(prog, 998))
        # sequential path: DC category 3 relabelled 70, and a scan that
        # really carries 70 magnitude bits, so the decode runs to the end
        base = encode_jpeg_gray(bytes([128]) * 64, 8, 8)
        dht = base.index(b"\xff\xc4")
        sos = base.index(b"\xff\xda")
        tables = bytearray(base[: sos + 2 + int.from_bytes(base[sos + 2 : sos + 4], "big")])
        tables[dht + 4 + 1 + 16 + 3] = 70
        w = MSBWriter()
        w.write(0b0011, 4)  # DC code of the category-3 slot
        w.write((1 << 70) - 1, 70)
        w.write(0, 8)  # AC end-of-block
        w.write((1 << (-w.nbits & 7)) - 1, -w.nbits & 7)
        scan = w.getvalue().replace(b"\xff", b"\xff\x00")
        with pytest.raises(ValueError, match="category"):
            parse_jpeg(bytes(tables) + scan + b"\xff\xd9")

    def test_byte_stuffing_survives(self):
        # craft an image whose entropy stream is guaranteed to contain
        # 0xFF bytes (dense high-category coefficients) and assert the
        # stuffed stream still decodes; also assert stuffing actually
        # occurred so the test cannot silently weaken
        import numpy as np

        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_jpeg_gray,
            parse_jpeg_gray,
        )

        rng = np.random.default_rng(17)
        q1 = np.ones(64, dtype=np.int64)
        img = rng.integers(0, 256, size=(32, 32), dtype=np.uint8)
        payload = encode_jpeg_gray(img.tobytes(), 32, 32, quant=q1)
        sos = payload.index(b"\xff\xda")
        body = payload[sos + 14 : -2]  # entropy-coded bytes
        assert b"\xff\x00" in body, "test image produced no stuffed bytes"
        p = parse_jpeg_gray(payload)
        err = np.abs(p["pixels"].reshape(32, 32).astype(int) - img.astype(int))
        assert err.max() <= 2

    def test_decode_media_dispatches_jpeg(self):
        import numpy as np

        from pipeline_mf_etl_spark.operators.multimodal import (
            decode_media,
            encode_jpeg_gray,
        )

        gray = np.kron(
            np.arange(16, dtype=np.uint8).reshape(1, 16) * 16,
            np.ones((8, 8), dtype=np.uint8),
        )
        p = decode_media(encode_jpeg_gray(gray.tobytes(), 128, 8), "image/jpeg")
        assert p["width"] == 128 and np.array_equal(p["pixels"].reshape(8, 128), gray)


class TestMp4Demux:
    """ISO-BMFF box grammar + full sample-table resolution (mm14)."""

    def test_roundtrip_exact_and_sample_table(self):
        import numpy as np

        from pipeline_mf_etl_spark.operators.multimodal import (
            _mp4_sample_durations,
            encode_mp4,
            parse_mp4,
        )

        rng = np.random.default_rng(19)
        # 0 samples, sub-chunk, exact-chunk, multi-chunk + tail chunk
        for n in (0, 1, 3, 4, 8, 13):
            fr = rng.integers(0, 256, size=(n, 64), dtype=np.uint8)
            v = parse_mp4(encode_mp4(fr, 8, 8))
            assert (v["width"], v["height"]) == (8, 8)
            assert v["n_samples"] == n
            assert v["timescale"] == 600
            assert v["durations"] == _mp4_sample_durations(n)
            assert v["duration"] == sum(v["durations"])
            assert np.array_equal(v["frames"], fr)

    def test_malformed_inputs_fail_loudly(self):
        import numpy as np
        import pytest

        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_mp4,
            parse_mp4,
        )

        good = encode_mp4(np.zeros((5, 64), dtype=np.uint8), 8, 8)
        with pytest.raises(ValueError, match="ftyp"):
            parse_mp4(b"\x00\x00\x00\x08free" + good)
        with pytest.raises(ValueError, match="truncated|overruns"):
            parse_mp4(good[:-7])  # moov loses its tail
        with pytest.raises(ValueError, match="impossible box size"):
            parse_mp4(good[:4].replace(good[:4], b"\x00\x00\x00\x03") + good[4:])
        # corrupt the stsz sample count: stts/stsz mismatch must be caught
        import struct
        i = good.index(b"stsz")
        bad = (
            good[: i + 12]
            + struct.pack(">I", 4)  # declare 4 samples, stts covers 5
            + good[i + 16 :]
        )
        with pytest.raises(ValueError, match="mismatch"):
            parse_mp4(bad)
        # patch an stco chunk offset past EOF: the sample slicer must
        # refuse rather than read garbage
        k = good.index(b"stco")
        first_off = k + 12  # size+type+fullbox+entry_count
        hacked = (
            good[:first_off] + struct.pack(">I", len(good) + 100) + good[first_off + 4 :]
        )
        with pytest.raises(ValueError, match="overruns the file"):
            parse_mp4(hacked)
        # inflate the stts run count so the declared table overruns its
        # box: must refuse, never read the neighboring box's bytes as
        # duration runs
        t = good.index(b"stts")
        inflated = good[: t + 8] + struct.pack(">I", 999) + good[t + 12 :]
        with pytest.raises(ValueError, match="stts declares 999"):
            parse_mp4(inflated)

    def test_audio_track_before_video_is_skipped(self):
        # real muxes often list the audio track first: the demux must
        # walk past it to the 'vide' track, not fail on trak #1
        import numpy as np
        import pytest

        from pipeline_mf_etl_spark.operators.multimodal import (
            _mp4_box,
            _mp4_full,
            encode_mp4,
            parse_mp4,
        )

        fr = np.arange(2 * 64, dtype=np.uint64).astype(np.uint8).reshape(2, 64)
        good = encode_mp4(fr, 8, 8)
        # build a minimal audio trak (mdia > mdhd + hdlr 'soun') and
        # splice it in as the FIRST child of moov
        import struct
        mdhd = _mp4_full(
            b"mdhd", 0, 0,
            struct.pack(">IIII", 0, 0, 600, 0) + struct.pack(">HH", 0x55C4, 0),
        )
        hdlr = _mp4_full(
            b"hdlr", 0, 0, b"\x00" * 4 + b"soun" + b"\x00" * 12 + b"Sound\x00"
        )
        audio_trak = _mp4_box(b"trak", _mp4_box(b"mdia", mdhd + hdlr))
        m = good.index(b"moov")
        moov_size = struct.unpack(">I", good[m - 4 : m])[0]
        new_moov_size = moov_size + len(audio_trak)
        spliced = (
            good[: m - 4]
            + struct.pack(">I", new_moov_size)
            + good[m : m + 4]
            + audio_trak
            + good[m + 4 :]
        )
        v = parse_mp4(spliced)
        assert v["n_samples"] == 2 and np.array_equal(v["frames"], fr)
        # a moov with ONLY the audio trak is now ATTEMPTED (mp4a routing,
        # r10) — this degenerate trak has no minf, so it fails loudly at
        # the first missing box instead of being skipped silently
        only_audio = (
            good[: m - 4]
            + struct.pack(">I", 8 + len(audio_trak))
            + good[m : m + 4]
            + audio_trak
        )
        with pytest.raises(ValueError, match="minf"):
            parse_mp4(only_audio)

    def test_compressed_sample_entry_gate(self):
        import numpy as np
        import pytest

        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_mp4,
            parse_mp4,
        )

        good = encode_mp4(np.zeros((2, 64), dtype=np.uint8), 8, 8)
        # truly-compressed entries (vp09) still gate loudly...
        with pytest.raises(NotImplementedError, match="vp09"):
            parse_mp4(good.replace(b"raw ", b"vp09", 1))
        # ...while avc1/hvc1 demux+route since r10 — but only with real
        # config records; a bare relabel fails loudly at that check
        with pytest.raises(ValueError, match="no avcC"):
            parse_mp4(good.replace(b"raw ", b"avc1", 1))
        with pytest.raises(ValueError, match="no hvcC"):
            parse_mp4(good.replace(b"raw ", b"hvc1", 1))

    def test_decode_media_dispatches_mp4(self):
        import numpy as np

        from pipeline_mf_etl_spark.operators.multimodal import (
            decode_media,
            encode_mp4,
        )

        fr = np.arange(2 * 64, dtype=np.uint64).astype(np.uint8).reshape(2, 64)
        v = decode_media(encode_mp4(fr, 8, 8), "video/mp4")
        assert v["n_samples"] == 2 and np.array_equal(v["frames"], fr)

    def test_mm14_stats_match_text(self, spark, tmp_path):
        # end-to-end through the Spark plan on a tiny synthetic corpus:
        # decoded stats equal what the characters imply (the oracle
        # contract), including the 0-sample and tail-chunk shapes
        import pandas as pd

        from pipeline_mf_etl_spark.queries import all_queries

        texts = [
            "",  # 0 samples
            "x" * 63,  # still 0 samples
            "a" * 64,  # one sample
            "".join(chr(33 + (i % 90)) for i in range(64 * 9 + 7)),  # tail chunk
        ]
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}).to_parquet(
            f"{tmp_path}/documents.parquet"
        )
        rows = {
            r["doc_id"]: r
            for r in all_queries()["mm14_mp4_demux"]
            .spark(spark, str(tmp_path))
            .collect()
        }
        assert rows[0]["n_samples"] == 0 and rows[0]["mean_luma"] is None
        assert rows[1]["n_samples"] == 0 and rows[1]["duration_ticks"] == 0
        assert rows[2]["n_samples"] == 1 and rows[2]["mean_luma"] == float(ord("a"))
        r3 = rows[3]
        assert r3["n_samples"] == 9
        assert r3["duration_ticks"] == sum(1 + (i % 3) for i in range(9))
        sampled = [i for i in range(9) if i % 4 == 0]
        byts = [
            ord(texts[3][f * 64 + k]) for f in sampled for k in range(64)
        ]
        assert r3["mean_luma"] == round(sum(byts) / len(byts), 6)
        assert r3["max_luma"] == max(byts)


def test_jpeg_fill_bytes_before_marker_are_skipped():
    # T.81 B.1.1.2 allows repeated 0xFF fill bytes before any marker
    # code; real encoders emit them for alignment. The marker walk must
    # treat them as padding, not read the second 0xFF as a marker code.
    import numpy as np

    from pipeline_mf_etl_spark.operators.multimodal import (
        encode_jpeg_gray,
        parse_jpeg_gray,
    )

    img = np.arange(64, dtype=np.uint8)
    good = encode_jpeg_gray(img.tobytes(), 8, 8)
    base = parse_jpeg_gray(good)
    # inject fill bytes before the DQT marker (0xFFDB) and the SOS
    # marker (0xFFDA) — both mid-stream positions
    padded = good
    for marker in (b"\xff\xdb", b"\xff\xda"):
        i = padded.index(marker)
        padded = padded[:i] + b"\xff\xff\xff" + padded[i:]
    p = parse_jpeg_gray(padded)
    assert np.array_equal(p["pixels"], base["pixels"])
    assert (p["width"], p["height"]) == (8, 8)
    # trailing fill bytes with no marker code must still fail loudly
    import pytest

    with pytest.raises(ValueError, match="fill bytes"):
        parse_jpeg_gray(good[: good.index(b"\xff\xdb")] + b"\xff\xff\xff")


def test_mp4_raw_sample_size_must_match_geometry():
    # a 'raw ' sample whose stsz size differs from width*height is a
    # stride-padded or malformed track: the gate must name the real
    # problem, not die later in np.vstack (equal-but-wrong sizes would
    # silently produce misshaped frames)
    import struct

    import numpy as np
    import pytest

    from pipeline_mf_etl_spark.operators.multimodal import encode_mp4, parse_mp4

    good = encode_mp4(np.zeros((3, 64), dtype=np.uint8), 8, 8)
    i = good.index(b"stsz")
    # stsz layout: size+type (8) + fullbox (4) + fixed (4) + count (4) + entries
    first_entry = i + 16
    bad = good[:first_entry] + struct.pack(">I", 63) + good[first_entry + 4 :]
    with pytest.raises(ValueError, match="stride-padded or malformed"):
        parse_mp4(bad)


def test_scale_probe_unique_mapping_structurally_disjoint():
    # copies sharing a rotation (k, k+26g) must differ on many letters,
    # not just vowel slots — and all 260 mappings must be distinct
    # permutations (the constant-duplicate-density claim rests on this)
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))
    from scale_probe import _UNIQUE_ALPHABET, unique_mapping

    maps = [unique_mapping(k) for k in range(260)]
    assert len(set(maps)) == 260
    assert all(sorted(m) == list(_UNIQUE_ALPHABET) for m in maps)
    worst = min(
        sum(a != b for a, b in zip(maps[k], maps[k + 26 * g]))
        for k in range(26)
        for g in range(1, 10)
    )
    assert worst >= 10


class TestJpegColorCodec:
    def test_constant_mcu_roundtrip_exact(self):
        # MCU-constant planes are DC-only blocks: quantize 8*(v-128)/8
        # is exact, so the full interleaved 4:2:0 path must round-trip
        # byte-exactly — including per-component table selection and
        # chroma upsampling
        import numpy as np

        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_jpeg_ycbcr420,
            parse_jpeg,
        )

        rng = np.random.default_rng(11)
        for h, w in ((16, 16), (32, 48), (64, 128)):
            yv = rng.integers(0, 256, (h // 16, w // 16), dtype=np.uint8)
            cbv = rng.integers(0, 256, (h // 16, w // 16), dtype=np.uint8)
            crv = rng.integers(0, 256, (h // 16, w // 16), dtype=np.uint8)
            y = np.kron(yv, np.ones((16, 16), np.uint8))
            cb = np.kron(cbv, np.ones((8, 8), np.uint8))
            cr = np.kron(crv, np.ones((8, 8), np.uint8))
            v = parse_jpeg(
                encode_jpeg_ycbcr420(y.tobytes(), cb.tobytes(), cr.tobytes(), w, h)
            )
            assert v["components"] == 3
            assert (v["width"], v["height"]) == (w, h)
            assert np.array_equal(v["planes"][0], y)
            assert np.array_equal(v["planes"][1], np.kron(cbv, np.ones((16, 16), np.uint8)))
            assert np.array_equal(v["planes"][2], np.kron(crv, np.ones((16, 16), np.uint8)))

    def test_rgb_gradient_roundtrip_tolerance(self):
        # non-constant content exercises AC coefficients on all three
        # components; unit quant steps keep the error to IDCT rounding
        # plus the 2x2 chroma box average
        import numpy as np

        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_jpeg_ycbcr420,
            jpeg_rgb_to_ycbcr420,
            jpeg_ycbcr_to_rgb,
            parse_jpeg,
        )

        h, w = 32, 32
        rgb = np.zeros((h, w, 3), np.uint8)
        gx = np.linspace(20, 235, w)
        rgb[..., 0] = gx[None, :]
        rgb[..., 1] = gx[:, None]
        rgb[..., 2] = 96
        y, cb, cr = jpeg_rgb_to_ycbcr420(rgb)
        v = parse_jpeg(
            encode_jpeg_ycbcr420(y.tobytes(), cb.tobytes(), cr.tobytes(), w, h)
        )
        # Y decodes near-exactly (unit AC quant); chroma pays the 2x2
        # box average, so compare in RGB with a modest bound
        assert np.abs(v["planes"][0].astype(int) - y.astype(int)).max() <= 2
        out = jpeg_ycbcr_to_rgb(*v["planes"])
        assert np.abs(out.astype(int) - rgb.astype(int)).max() <= 8

    def test_color_malformed_and_unsupported_fail_loudly(self):
        import numpy as np
        import pytest

        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_jpeg_ycbcr420,
            parse_jpeg,
        )

        y = bytes(np.full(16 * 16, 80, np.uint8))
        c = bytes(np.full(8 * 8, 90, np.uint8))
        good = encode_jpeg_ycbcr420(y, c, c, 16, 16)

        # geometry gates on the encode side
        with pytest.raises(ValueError, match="multiples of 16"):
            encode_jpeg_ycbcr420(y, c, c, 8, 32)
        with pytest.raises(ValueError, match="Y plane is"):
            encode_jpeg_ycbcr420(y[:-1], c, c, 16, 16)
        with pytest.raises(ValueError, match="Cb/Cr planes"):
            encode_jpeg_ycbcr420(y, c[:-1], c, 16, 16)

        # sampling factor 3 must be refused, not guessed at
        i = good.index(b"\xff\xc0")
        bad = bytearray(good)
        bad[i + 11] = 0x33  # Y component sampling 3x3
        with pytest.raises(NotImplementedError, match="sampling factor 3x3"):
            parse_jpeg(bytes(bad))

        # a BASELINE scan covering fewer components than the frame is
        # the non-interleaved multi-scan case — out of the declared
        # subset (progressive AC scans are the legal form of this)
        j = good.index(b"\xff\xda")
        seglen = int.from_bytes(good[j + 2 : j + 4], "big")
        sos1 = b"\xff\xda" + (2 + 6).to_bytes(2, "big") + bytes([1, 1, 0x00, 0, 63, 0])
        hacked = good[:j] + sos1 + good[j + 2 + seglen :]
        with pytest.raises(NotImplementedError, match="non-interleaved multi-scan"):
            parse_jpeg(hacked)
        # an under-sized SOS header fails loudly, never reads past its box
        short = b"\xff\xda" + (2 + 4).to_bytes(2, "big") + bytes([1, 1, 0x00, 0])
        with pytest.raises(ValueError, match="SOS header declares"):
            parse_jpeg(good[:j] + short + good[j + 2 + seglen :])

        # chroma quant table id rewritten to an undefined slot
        k = good.index(b"\xff\xc0")
        bad2 = bytearray(good)
        bad2[k + 15] = 7  # Cb tq -> 7 (never defined)
        with pytest.raises(ValueError, match="undefined quant table 7"):
            parse_jpeg(bytes(bad2))

    def test_gray_wrapper_rejects_color(self):
        import numpy as np
        import pytest

        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_jpeg_ycbcr420,
            parse_jpeg_gray,
        )

        y = bytes(np.full(16 * 16, 80, np.uint8))
        c = bytes(np.full(8 * 8, 90, np.uint8))
        with pytest.raises(NotImplementedError, match="3-component"):
            parse_jpeg_gray(encode_jpeg_ycbcr420(y, c, c, 16, 16))

    def test_mm13b_edge_docs(self, spark, tmp_path):
        # sub-MCU-row docs carry NULL payloads; everything else decodes
        # through the full color path
        import pandas as pd

        from pipeline_mf_etl_spark.queries import all_queries

        texts = [
            "",  # NULL payload
            "x" * 23,  # still NULL (one MCU row needs 24 bytes)
            "a" * 24,  # one MCU row
            "".join(chr(33 + (i % 90)) for i in range(24 * 3 + 5)),  # 3 rows + tail
        ]
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}).to_parquet(
            f"{tmp_path}/documents.parquet"
        )
        rows = {
            r["doc_id"]: r
            for r in all_queries()["mm13b_jpeg_color"]
            .spark(spark, str(tmp_path))
            .collect()
        }
        assert rows[0]["height"] == 0 and rows[0]["mean_y"] is None
        assert rows[1]["height"] == 0 and rows[1]["mean_cb"] is None
        r2 = rows[2]
        assert (r2["width"], r2["height"], r2["n_pixels"]) == (128, 16, 2048)
        assert r2["mean_y"] == float(ord("a"))
        assert r2["mean_cb"] == float(ord("a"))
        assert r2["max_y"] == r2["min_y"] == ord("a")
        r3 = rows[3]
        assert r3["height"] == 48
        byts = [ord(texts[3][i]) for i in range(72)]
        ys, cbs, crs = byts[0::3], byts[1::3], byts[2::3]
        assert r3["mean_y"] == round(sum(ys) / len(ys), 6)
        assert r3["mean_cb"] == round(sum(cbs) / len(cbs), 6)
        assert r3["mean_cr"] == round(sum(crs) / len(crs), 6)
        assert r3["max_y"] == max(ys) and r3["min_y"] == min(ys)


class TestMjpegMp4:
    def test_demux_decode_composition_roundtrip(self):
        # every sample is a real JPEG of a different size class: the
        # demux must slice exact byte ranges (varying stsz) and the
        # decode must recover each frame byte-exactly
        import numpy as np

        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_jpeg_gray,
            encode_mp4_mjpeg,
            parse_jpeg_gray,
            parse_mp4,
        )

        rng = np.random.default_rng(5)
        frames = [rng.integers(0, 256, (4, 16), dtype=np.uint8) for _ in range(7)]
        samples = [
            encode_jpeg_gray(
                np.kron(f, np.ones((8, 8), np.uint8)).tobytes(), 128, 32
            )
            for f in frames
        ]
        assert len({len(s) for s in samples}) > 1  # sizes genuinely vary
        v = parse_mp4(encode_mp4_mjpeg(samples, 128, 32))
        assert v["codec"] == "jpeg" and v["n_samples"] == 7
        assert [len(s) for s in v["samples"]] == [len(s) for s in samples]
        for f, s in zip(frames, v["samples"]):
            p = parse_jpeg_gray(s)
            got = p["pixels"].reshape(32, 128)[::8, ::8]
            assert np.array_equal(got, f)

    def test_mjpeg_gates_fail_loudly(self):
        import numpy as np
        import pytest

        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_jpeg_gray,
            encode_mp4_mjpeg,
            parse_mp4,
        )

        with pytest.raises(ValueError, match="SOI"):
            encode_mp4_mjpeg([b"not a jpeg"], 128, 32)
        good = encode_mp4_mjpeg(
            [encode_jpeg_gray(bytes(np.full(128 * 32, 9, np.uint8)), 128, 32)],
            128,
            32,
        )
        # a compressed codec that is NOT in the decodable/routable set
        # still raises at the stsd gate
        with pytest.raises(NotImplementedError, match="vp09"):
            parse_mp4(good.replace(b"jpeg", b"vp09", 1))

    def test_mm15_edge_docs(self, spark, tmp_path):
        import pandas as pd

        from pipeline_mf_etl_spark.queries import all_queries

        texts = [
            "",  # 0 samples
            "y" * 63,  # still 0 samples
            "b" * 64,  # one frame
            "".join(chr(33 + (i * 7 % 90)) for i in range(64 * 5 + 11)),  # 5 frames + tail
        ]
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}).to_parquet(
            f"{tmp_path}/documents.parquet"
        )
        rows = {
            r["doc_id"]: r
            for r in all_queries()["mm15_mjpeg_decode"]
            .spark(spark, str(tmp_path))
            .collect()
        }
        assert rows[0]["n_samples"] == 0 and rows[0]["mean_luma"] is None
        assert rows[1]["n_samples"] == 0 and rows[1]["duration_ticks"] == 0
        assert rows[2]["n_samples"] == 1 and rows[2]["mean_luma"] == float(ord("b"))
        r3 = rows[3]
        assert r3["n_samples"] == 5
        assert r3["duration_ticks"] == sum(1 + (i % 3) for i in range(5))
        byts = [ord(texts[3][i]) for i in range(5 * 64)]
        assert r3["mean_luma"] == round(sum(byts) / len(byts), 6)
        assert r3["max_luma"] == max(byts)


class TestJpegRestartIntervals:
    def test_gray_dri_roundtrip_all_intervals(self):
        # real-world baseline JPEGs almost always carry DRI: the
        # decoder must split the entropy stream at RSTn, re-align to a
        # byte boundary and zero the DC predictor per segment — for any
        # interval, including R=1 (a restart after every MCU)
        import numpy as np

        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_jpeg_gray,
            parse_jpeg_gray,
        )

        rng = np.random.default_rng(3)
        q1 = np.array([8] + [1] * 63, dtype=np.int64)
        img = rng.integers(0, 256, (24, 32), dtype=np.uint8)  # 12 MCUs
        for r in (1, 3, 7, 20):
            pay = encode_jpeg_gray(
                img.tobytes(), 32, 24, quant=q1, restart_interval=r
            )
            assert b"\xff\xdd" in pay  # DRI present
            p = parse_jpeg_gray(pay)
            err = np.abs(
                p["pixels"].reshape(24, 32).astype(int) - img.astype(int)
            )
            assert err.max() <= 2, (r, err.max())
        # >8 restarts forces the RST0..7 cycle to wrap (12 MCUs, R=1)
        pay = encode_jpeg_gray(img.tobytes(), 32, 24, quant=q1, restart_interval=1)
        assert b"\xff\xd0" in pay and b"\xff\xd7" in pay  # cycle wrapped

    def test_color_dri_roundtrip_exact(self):
        import numpy as np

        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_jpeg_ycbcr420,
            parse_jpeg,
        )

        rng = np.random.default_rng(13)
        h, w = 32, 48  # 6 MCUs -> 3 segments at R=2
        yv = rng.integers(0, 256, (h // 16, w // 16), dtype=np.uint8)
        y = np.kron(yv, np.ones((16, 16), np.uint8))
        cb = np.kron(
            rng.integers(0, 256, (h // 16, w // 16), dtype=np.uint8),
            np.ones((8, 8), np.uint8),
        )
        cr = np.kron(
            rng.integers(0, 256, (h // 16, w // 16), dtype=np.uint8),
            np.ones((8, 8), np.uint8),
        )
        v = parse_jpeg(
            encode_jpeg_ycbcr420(
                y.tobytes(), cb.tobytes(), cr.tobytes(), w, h, restart_interval=2
            )
        )
        assert np.array_equal(v["planes"][0], y)

    def test_malformed_restarts_fail_loudly(self):
        import numpy as np
        import pytest

        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_jpeg_gray,
            parse_jpeg_gray,
        )

        rng = np.random.default_rng(4)
        q1 = np.array([8] + [1] * 63, dtype=np.int64)
        img = rng.integers(0, 256, (16, 16), dtype=np.uint8)  # 4 MCUs
        pay = encode_jpeg_gray(img.tobytes(), 16, 16, quant=q1, restart_interval=1)
        # out-of-sequence RST code
        i = pay.index(b"\xff\xd0")
        with pytest.raises(ValueError, match="out of sequence"):
            parse_jpeg_gray(pay[: i + 1] + b"\xd4" + pay[i + 2 :])
        # drop the LAST restart marker: segment count no longer matches
        j = pay.rindex(b"\xff\xd2")
        with pytest.raises(ValueError, match="segments"):
            parse_jpeg_gray(pay[:j] + pay[j + 2 :])


def test_jpeg_header_probe_matches_decode():
    # the probe must report exactly what the decoder would find, for
    # gray, color, DRI and progressive streams — without touching
    # entropy data
    import struct

    import numpy as np
    import pytest

    from pipeline_mf_etl_spark.operators.multimodal import (
        encode_jpeg_gray,
        encode_jpeg_ycbcr420,
        probe_jpeg_header,
    )

    q1 = np.array([8] + [1] * 63, dtype=np.int64)
    g = encode_jpeg_gray(bytes(np.full(32 * 24, 7, np.uint8)), 32, 24, quant=q1,
                         restart_interval=3)
    pg = probe_jpeg_header(g)
    assert (pg["width"], pg["height"], pg["n_components"]) == (32, 24, 1)
    assert pg["restart_interval"] == 3 and not pg["progressive"]
    assert pg["scan_bytes"] > 0

    y = bytes(np.full(16 * 16, 80, np.uint8))
    c = bytes(np.full(8 * 8, 90, np.uint8))
    pc = probe_jpeg_header(encode_jpeg_ycbcr420(y, c, c, 16, 16))
    assert (pc["width"], pc["height"], pc["n_components"]) == (16, 16, 3)
    assert pc["restart_interval"] == 0

    # progressive streams are PROBE-able (geometry still routed) even
    # though decode gates on them
    sof2 = struct.pack(">HHBHHB", 0xFFC2, 11, 8, 40, 24, 1) + bytes([1, 0x11, 0])
    idx = g.index(b"\xff\xc0")
    seglen = struct.unpack(">H", g[idx + 2 : idx + 4])[0]
    prog = g[:idx] + sof2 + g[idx + 2 + seglen :]
    pp = probe_jpeg_header(prog)
    assert pp["progressive"] and (pp["width"], pp["height"]) == (24, 40)

    with pytest.raises(ValueError, match="SOI"):
        probe_jpeg_header(b"JUNK")
    with pytest.raises(ValueError, match="no SOF"):
        probe_jpeg_header(b"\xff\xd8\xff\xd9")


def test_mm16_probe_edge_docs(spark, tmp_path):
    import pandas as pd

    from pipeline_mf_etl_spark.queries import all_queries

    texts = [
        "",  # NULL payload
        "a" * 24,  # br=1, restart 1%4=1
        "b" * 24 * 4,  # br=4, restart 0
        "c" * 24 * 7,  # br=7, restart 3
    ]
    pd.DataFrame({"doc_id": range(len(texts)), "text": texts}).to_parquet(
        f"{tmp_path}/documents.parquet"
    )
    rows = {
        r["doc_id"]: r
        for r in all_queries()["mm16_jpeg_probe"].spark(spark, str(tmp_path)).collect()
    }
    assert rows[0]["height"] == 0 and rows[0]["restart_interval"] == 0
    assert rows[1]["height"] == 16 and rows[1]["restart_interval"] == 1
    assert rows[2]["height"] == 64 and rows[2]["restart_interval"] == 0
    assert rows[3]["height"] == 112 and rows[3]["restart_interval"] == 3
    assert all(not r["progressive"] and r["n_components"] == 3 for r in rows.values())


class TestJpegProgressive:
    def test_progressive_equals_baseline_bit_for_bit(self):
        # the progressive scan script re-encodes the SAME quantized
        # coefficients, so a correct progressive decode must reproduce
        # the baseline decode exactly — every pixel, every geometry,
        # including partial edge blocks
        import numpy as np

        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_jpeg_gray,
            encode_jpeg_progressive_gray,
            parse_jpeg_gray,
        )

        rng = np.random.default_rng(21)
        q1 = np.array([8] + [1] * 63, dtype=np.int64)
        for h, w in ((8, 8), (24, 16), (21, 37), (48, 40), (8, 128)):
            img = rng.integers(0, 256, (h, w), dtype=np.uint8)
            base = parse_jpeg_gray(encode_jpeg_gray(img.tobytes(), w, h, quant=q1))
            prog = parse_jpeg_gray(
                encode_jpeg_progressive_gray(img.tobytes(), w, h, quant=q1)
            )
            assert np.array_equal(base["pixels"], prog["pixels"]), (w, h)

    def test_progressive_eobrun_and_sparse_blocks(self):
        # a mostly-flat image with isolated detail yields long EOB runs
        # across blocks in the AC scans and ZRLs within blocks — the
        # annex-G paths a dense random image never hits; assert the
        # stream actually uses a multi-block EOBn symbol by making most
        # blocks DC-only
        import numpy as np

        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_jpeg_gray,
            encode_jpeg_progressive_gray,
            parse_jpeg_gray,
        )

        q1 = np.array([8] + [1] * 63, dtype=np.int64)
        img = np.full((32, 64), 100, dtype=np.uint8)  # 32 blocks, flat
        img[9, 17] = 250  # one block with AC energy
        img[25, 50] = 3  # another, far away (long EOB run between)
        base = parse_jpeg_gray(encode_jpeg_gray(img.tobytes(), 64, 32, quant=q1))
        prog = parse_jpeg_gray(
            encode_jpeg_progressive_gray(img.tobytes(), 64, 32, quant=q1)
        )
        assert np.array_equal(base["pixels"], prog["pixels"])

    def test_progressive_malformed_scans_fail_loudly(self):
        import numpy as np
        import pytest

        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_jpeg_progressive_gray,
            parse_jpeg,
        )

        q1 = np.array([8] + [1] * 63, dtype=np.int64)
        img = np.arange(64, dtype=np.uint8)
        good = encode_jpeg_progressive_gray(img.tobytes(), 8, 8, quant=q1)

        # locate every SOS header (marker + len 8 + [1, 1, tabs, Ss, Se, AhAl])
        sos_positions = []
        p = 0
        while True:
            p = good.find(b"\xff\xda", p)
            if p < 0:
                break
            sos_positions.append(p)
            p += 2
        assert len(sos_positions) == 5  # the scan script

        # drop the DC scan: the first AC scan now precedes DC
        first, second = sos_positions[0], sos_positions[1]
        with pytest.raises(ValueError, match="precedes the DC scan"):
            parse_jpeg(good[:first] + good[second:])

        # corrupt a refinement header: Ah must be 0 or Al+1
        bad = bytearray(good)
        last = sos_positions[4]
        bad[last + 9] = 0x30  # Ah=3, Al=0 on the AC refinement scan
        with pytest.raises(ValueError, match="Ah must be 0 or Al\\+1"):
            parse_jpeg(bytes(bad))

        # corrupt a band: Ss > Se
        bad2 = bytearray(good)
        ac1 = sos_positions[1]
        bad2[ac1 + 7] = 40  # Ss=40 while Se=5
        with pytest.raises(ValueError, match="bad spectral band"):
            parse_jpeg(bytes(bad2))


def test_mm17_progressive_edge_docs(spark, tmp_path):
    import pandas as pd

    from pipeline_mf_etl_spark.queries import all_queries

    texts = ["", "x" * 15, "a" * 16, "".join(chr(33 + (i % 90)) for i in range(16 * 3 + 5))]
    pd.DataFrame({"doc_id": range(len(texts)), "text": texts}).to_parquet(
        f"{tmp_path}/documents.parquet"
    )
    rows = {
        r["doc_id"]: r
        for r in all_queries()["mm17_jpeg_progressive"]
        .spark(spark, str(tmp_path))
        .collect()
    }
    assert rows[0]["height"] == 0 and rows[0]["mean_luma"] is None
    assert rows[1]["height"] == 0
    assert rows[2]["height"] == 8 and rows[2]["mean_luma"] == float(ord("a"))
    r3 = rows[3]
    assert r3["height"] == 24
    byts = [ord(texts[3][i]) for i in range(48)]
    assert r3["mean_luma"] == round(sum(byts) / len(byts), 6)
    assert (r3["max_byte"], r3["min_byte"]) == (max(byts), min(byts))


class TestAdpcmCodec:
    def test_real_encoder_roundtrip_snr(self):
        # the standard greedy encoder is lossy; on a smooth signal the
        # decode must land within a sane SNR and the container fields
        # must round-trip exactly
        import numpy as np

        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_wav_adpcm,
            parse_wav_adpcm,
        )

        t = np.arange(4000)
        sig = (8000 * np.sin(t / 30)).astype(np.int16)
        v = parse_wav_adpcm(encode_wav_adpcm(sig, 8000))
        assert (v["sample_rate"], v["n_samples"], v["bits_per_sample"]) == (8000, 4000, 4)
        err = v["samples"].astype(float) - sig.astype(float)
        snr = 10 * np.log10((sig.astype(float) ** 2).mean() / (err**2).mean())
        assert snr > 30

    def test_code_mux_replay_is_exact(self):
        # the synthesis path muxes pre-chosen codes: decode must equal
        # the pure-python recurrence bit for bit, including both clamps
        import numpy as np

        from pipeline_mf_etl_spark.operators.multimodal import (
            _ima_decode_step,
            encode_wav_adpcm_codes,
            parse_wav_adpcm,
        )

        # push the predictor toward the int16 rails and the index to
        # its extremes so the clamps are really exercised
        headers = [(32000, 88), (-32768, 0), (0, 44)]
        codes = ([7] * 8) + ([15] * 8) + ([0, 8] * 4)
        v = parse_wav_adpcm(encode_wav_adpcm_codes(headers, codes))
        exp = []
        for b, (p, i) in enumerate(headers):
            exp.append(p)
            for c in codes[b * 8 : (b + 1) * 8]:
                p, i = _ima_decode_step(p, i, c)
                exp.append(p)
        assert list(v["samples"]) == exp
        assert max(exp) <= 32767 and min(exp) >= -32768

    def test_stereo_roundtrip_and_independence(self):
        # stereo blocks: one header per channel, round-robin 4-byte code
        # words, INDEPENDENT predictor/step state — each channel must
        # decode identically to its own mono encode
        import numpy as np

        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_wav_adpcm,
            parse_wav_adpcm,
        )

        t = np.arange(3001)  # non-multiple of 9: exercises fact-trim
        st = np.stack(
            [
                (8000 * np.sin(t / 30)).astype(np.int16),
                (12000 * np.cos(t / 11)).astype(np.int16),
            ]
        )
        v = parse_wav_adpcm(encode_wav_adpcm(st, 8000))
        assert v["n_channels"] == 2 and v["samples"].shape == (2, 3001)
        for c in range(2):
            mono = parse_wav_adpcm(encode_wav_adpcm(st[c], 8000))["samples"]
            assert np.array_equal(mono, v["samples"][c]), c

    def test_stereo_code_mux_pairs_virtual_blocks(self):
        # consecutive (header, codes) groups pair as L/R of one stereo
        # container block; the decoded sample MULTISET equals the mono
        # mux (the mm18 oracle's layout-agnosticism), while the word
        # ORDER maps even virtual blocks to L and odd to R
        import numpy as np

        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_wav_adpcm_codes,
            parse_wav_adpcm,
        )

        raw = bytes(range(30, 70))  # 8 virtual blocks of 5 bytes
        headers, codes = [], []
        for b in range(8):
            c0 = raw[5 * b]
            headers.append(((c0 - 128) * 256, c0 % 89))
            for cb in raw[5 * b + 1 : 5 * b + 5]:
                codes.append(cb & 15)
                codes.append(cb >> 4)
        mono = parse_wav_adpcm(encode_wav_adpcm_codes(headers, codes, channels=1))
        ster = parse_wav_adpcm(encode_wav_adpcm_codes(headers, codes, channels=2))
        ms = mono["samples"].reshape(8, 9)
        ss = ster["samples"].reshape(2, 4, 9)
        assert np.array_equal(ss[0], ms[0::2]) and np.array_equal(ss[1], ms[1::2])
        assert sorted(mono["samples"].tolist()) == sorted(
            ster["samples"].reshape(-1).tolist()
        )
        # odd header count cannot mux as stereo
        import pytest

        with pytest.raises(ValueError, match="even header count"):
            encode_wav_adpcm_codes(headers[:3], codes[: 3 * 8], channels=2)

    def test_malformed_adpcm_fails_loudly(self):
        import numpy as np
        import pytest

        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_wav_adpcm,
            encode_wav_adpcm_codes,
            parse_wav_adpcm,
        )

        good = encode_wav_adpcm(np.zeros(100, dtype=np.int16))
        with pytest.raises(ValueError, match="RIFF"):
            parse_wav_adpcm(b"JUNK" + good[4:])
        # PCM WAV rejected by the ADPCM parser (and vice versa stays
        # covered by parse_wav's own format gate)
        from pipeline_mf_etl_spark.operators.multimodal import encode_wav_pcm16

        with pytest.raises(ValueError, match="wFormatTag"):
            parse_wav_adpcm(encode_wav_pcm16(np.zeros(4, dtype=np.int16)))
        # out-of-range block header index
        with pytest.raises(ValueError, match="out of range"):
            encode_wav_adpcm_codes([(0, 89)], [0] * 8)
        # data chunk not whole blocks
        i = good.index(b"data")
        trunc = bytearray(good[:-3])
        import struct
        struct.pack_into("<I", trunc, i + 4, struct.unpack("<I", good[i+4:i+8])[0] - 3)
        struct.pack_into("<I", trunc, 4, len(trunc) - 8)
        with pytest.raises(ValueError, match="whole"):
            parse_wav_adpcm(bytes(trunc))
        # in-stream step index > 88 (crafted header byte)
        bad = bytearray(good)
        bad[i + 8 + 2] = 120  # first block's index byte
        with pytest.raises(ValueError, match="step index 120"):
            parse_wav_adpcm(bytes(bad))

    def test_mm18_edge_docs(self, spark, tmp_path):
        import pandas as pd

        from pipeline_mf_etl_spark.operators.multimodal import _ima_decode_step
        from pipeline_mf_etl_spark.queries import all_queries

        texts = ["", "abcd", "abcde", "A" * 5 * 3 + "zz"]
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}).to_parquet(
            f"{tmp_path}/documents.parquet"
        )
        rows = {
            r["doc_id"]: r
            for r in all_queries()["mm18_adpcm_decode"]
            .spark(spark, str(tmp_path))
            .collect()
        }
        assert rows[0]["n_samples"] == 0 and rows[0]["mean_amp"] is None
        assert rows[1]["n_samples"] == 0  # 4 chars < one block
        r2 = rows[2]
        assert r2["n_samples"] == 9
        # replicate doc 2's single block in pure python
        raw = texts[2].encode()
        p, i = (raw[0] - 128) * 256, raw[0] % 89
        exp = [p]
        for cb in raw[1:5]:
            for c in (cb & 15, cb >> 4):
                p, i = _ima_decode_step(p, i, c)
                exp.append(p)
        assert r2["mean_amp"] == round(sum(exp) / 9, 6)
        assert r2["peak_amp"] == max(abs(x) for x in exp)
        assert rows[3]["n_samples"] == 27  # 17 chars -> 3 blocks, tail dropped


def test_raw_frame_consumer_rejects_mjpeg_loudly(spark):
    # decode_mp4_features is the RAW-frame consumer: fed an MJPEG track
    # (which parse_mp4 now demuxes) it must name the codec mismatch,
    # not die on a missing key inside the Arrow worker
    import numpy as np
    import pandas as pd
    import pytest

    from pipeline_mf_etl_spark.operators.multimodal import (
        decode_mp4_features,
        encode_jpeg_gray,
        encode_mp4_mjpeg,
    )

    mjpeg = encode_mp4_mjpeg(
        [encode_jpeg_gray(bytes(np.full(64, 9, np.uint8)), 8, 8)], 8, 8
    )
    sdf = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "payload": [mjpeg]}))
    with pytest.raises(Exception, match="use decode_mp4_mjpeg_features"):
        decode_mp4_features(sdf).collect()


class TestGifCodec:
    def test_roundtrip_exact_including_interlace_and_clear(self):
        import numpy as np

        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_gif_gray,
            parse_gif,
        )

        rng = np.random.default_rng(9)
        for h, w, il in ((1, 4, False), (16, 64, False), (33, 50, True), (9, 9, True)):
            img = rng.integers(0, 256, (h, w), dtype=np.uint8)
            v = parse_gif(encode_gif_gray(img.tobytes(), w, h, interlace=il))
            assert v["n_frames"] == 1 and (v["width"], v["height"]) == (w, h)
            assert np.array_equal(v["frames"][0]["pixels"], img), (h, w, il)
        # long repetitive content fills the 4096-entry dictionary, so
        # the encoder must emit a mid-stream CLEAR the decoder handles
        big = np.tile(np.arange(37, dtype=np.uint8), 3000)[: 100 * 1000].reshape(100, 1000)
        v = parse_gif(encode_gif_gray(big.tobytes(), 1000, 100))
        assert np.array_equal(v["frames"][0]["pixels"], big)

    def test_eoi_width_bump_boundary(self):
        # Regression: when the FINAL data code lands the decoder's table
        # exactly on a power-of-two boundary (512/1024/2048), the decoder
        # bumps the code width before reading EOI. The encoder used to
        # emit EOI at the pre-bump width; with a byte-aligned stream end
        # the decode raised 'LZW stream exhausted before EOI'. seed-42
        # length 4201 is a found instance of that alignment.
        import numpy as np

        from pipeline_mf_etl_spark.operators.multimodal import (
            _gif_lzw_decode,
            encode_gif_gray,
            parse_gif,
        )

        data = np.random.default_rng(42).integers(0, 256, 4201, np.uint8).tobytes()
        v = parse_gif(encode_gif_gray(data, 4201, 1))
        assert bytes(v["frames"][0]["pixels"].reshape(-1)) == data
        # and the decoder leniency half: a stream that ends byte-aligned
        # with every pixel produced but no explicit EOI is accepted
        # (implicit EOI), while an incomplete one still fails loudly
        ramp = bytes(range(8))
        full = encode_gif_gray(ramp, 8, 1)
        i = 6 + 7 + 768  # image descriptor offset
        min_code = full[i + 10]
        body = bytearray()
        p = i + 11
        while full[p]:
            body += full[p + 1 : p + 1 + full[p]]
            p += 1 + full[p]
        # drop the final byte(s) carrying EOI: re-encode codes sans EOI
        clear, wb = 1 << min_code, min_code + 1
        codes = [(clear, wb)] + [(b, wb) for b in ramp]
        acc = nb = 0
        packed = bytearray()
        for c, w in codes:
            acc |= c << nb
            nb += w
            while nb >= 8:
                packed.append(acc & 0xFF)
                acc >>= 8
                nb -= 8
        if nb:
            packed.append(acc & 0xFF)
        assert _gif_lzw_decode(bytes(packed), min_code, 8) == ramp
        with pytest.raises(ValueError, match="exhausted"):
            _gif_lzw_decode(bytes(packed), min_code, 9)

    def test_interlace_actually_reorders_the_stream(self):
        # the certification story rests on interlace being REAL: the
        # same pixels interlaced vs not must produce different encoded
        # index streams, and both must decode back to the same image
        import numpy as np

        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_gif_gray,
            parse_gif,
        )

        img = (np.arange(16 * 8, dtype=np.uint8)).reshape(16, 8)
        plain = encode_gif_gray(img.tobytes(), 8, 16, interlace=False)
        inter = encode_gif_gray(img.tobytes(), 8, 16, interlace=True)
        assert plain != inter
        assert np.array_equal(parse_gif(plain)["frames"][0]["pixels"], img)
        assert np.array_equal(parse_gif(inter)["frames"][0]["pixels"], img)

    def test_malformed_gifs_fail_loudly(self):
        import numpy as np
        import pytest

        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_gif_gray,
            parse_gif,
        )

        img = np.full((4, 4), 7, dtype=np.uint8)
        good = encode_gif_gray(img.tobytes(), 4, 4)
        with pytest.raises(ValueError, match="signature"):
            parse_gif(b"JIF89a" + good[6:])
        with pytest.raises(ValueError, match="truncated"):
            parse_gif(good[:-6])
        with pytest.raises(ValueError, match="unknown GIF block"):
            parse_gif(good[:-1] + b"\x99\x3b")
        # image descriptor sits after header(6) + screen(7) + palette(768)
        i = 6 + 7 + 768
        assert good[i] == 0x2C
        # corrupt the declared image height so pixel count mismatches
        bad = bytearray(good)
        bad[i + 7] = 9  # height 4 -> 9
        with pytest.raises(ValueError, match="pixels"):
            parse_gif(bytes(bad))

    def test_mm19_edge_docs(self, spark, tmp_path):
        import pandas as pd

        from pipeline_mf_etl_spark.queries import all_queries

        texts = [
            "",  # NULL payload
            "z" * 63,  # still NULL (one row needs 64)
            "a" * 64,  # 1 row, not interlaced
            "".join(chr(33 + (i % 90)) for i in range(64 * 9 + 3)),  # 9 rows interlaced
        ]
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}).to_parquet(
            f"{tmp_path}/documents.parquet"
        )
        rows = {
            r["doc_id"]: r
            for r in all_queries()["mm19_gif_decode"].spark(spark, str(tmp_path)).collect()
        }
        assert rows[0]["height"] == 0 and rows[0]["mean_luma"] is None
        assert rows[1]["height"] == 0
        r2 = rows[2]
        assert (r2["height"], r2["mean_luma"]) == (1, float(ord("a")))
        assert r2["row_weighted_sum"] == 64 * ord("a")
        r3 = rows[3]
        assert r3["height"] == 9
        byts = [ord(texts[3][i]) for i in range(9 * 64)]
        assert r3["mean_luma"] == round(sum(byts) / len(byts), 6)
        # the ORDER-sensitive checksum: wrong deinterlacing would flip it
        assert r3["row_weighted_sum"] == sum(
            (1 + i // 64) * b for i, b in enumerate(byts)
        )


class TestBmpCodec:
    def test_roundtrip_exact_with_padding_and_topdown(self):
        import struct

        import numpy as np

        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_bmp_gray,
            parse_bmp,
        )

        rng = np.random.default_rng(3)
        for h, w in ((1, 1), (5, 62), (16, 64), (9, 3)):
            img = rng.integers(0, 256, (h, w), dtype=np.uint8)
            v = parse_bmp(encode_bmp_gray(img.tobytes(), w, h))
            assert (v["width"], v["height"], v["top_down"]) == (w, h, False)
            assert np.array_equal(v["pixels"], img), (h, w)
        # negative height = top-down: rows must NOT be reversed
        img = rng.integers(0, 256, (9, 3), dtype=np.uint8)
        p = bytearray(encode_bmp_gray(img.tobytes(), 3, 9))
        struct.pack_into("<i", p, 22, -9)
        flipped = parse_bmp(bytes(p))
        assert flipped["top_down"]
        assert np.array_equal(flipped["pixels"], img[::-1])

    def test_malformed_bmps_fail_loudly(self):
        import struct

        import numpy as np
        import pytest

        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_bmp_gray,
            parse_bmp,
        )

        img = np.full((4, 62), 7, dtype=np.uint8)
        good = encode_bmp_gray(img.tobytes(), 62, 4)
        with pytest.raises(ValueError, match="signature"):
            parse_bmp(b"XM" + good[2:])
        with pytest.raises(ValueError, match="truncated BMP pixel"):
            parse_bmp(good[:-5])
        bad = bytearray(good)
        struct.pack_into("<I", bad, 30, 1)  # compression = BI_RLE8
        with pytest.raises(NotImplementedError, match="compressed BMP"):
            parse_bmp(bytes(bad))
        bad2 = bytearray(good)
        struct.pack_into("<H", bad2, 28, 24)  # 24-bpp
        with pytest.raises(NotImplementedError, match="24-bpp"):
            parse_bmp(bytes(bad2))

    def test_mm20_edge_docs(self, spark, tmp_path):
        import pandas as pd

        from pipeline_mf_etl_spark.queries import all_queries

        texts = ["", "q" * 61, "a" * 62, "".join(chr(33 + (i % 90)) for i in range(62 * 5 + 9))]
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}).to_parquet(
            f"{tmp_path}/documents.parquet"
        )
        rows = {
            r["doc_id"]: r
            for r in all_queries()["mm20_bmp_decode"].spark(spark, str(tmp_path)).collect()
        }
        assert rows[0]["height"] == 0 and rows[0]["mean_luma"] is None
        assert rows[1]["height"] == 0
        assert rows[2]["height"] == 1 and rows[2]["mean_luma"] == float(ord("a"))
        r3 = rows[3]
        assert r3["height"] == 5
        byts = [ord(texts[3][i]) for i in range(5 * 62)]
        assert r3["mean_luma"] == round(sum(byts) / len(byts), 6)
        # bottom-up flip certified: a reader that forgets the reversal
        # produces the REVERSED weighted sum, not this one
        assert r3["row_weighted_sum"] == sum((1 + i // 62) * b for i, b in enumerate(byts))


class TestH264Probe:
    def test_escape_round_trip_and_aliases(self):
        from pipeline_mf_etl_spark.operators.multimodal import (
            _h264_escape,
            _h264_unescape,
        )

        cases = (b"", b"\x00" * 9, b"\x00\x00\x01\x00\x00\x02", b"\x00\x00\x03\x03",
                 bytes(range(256)) * 2, b"x\x00\x00\x00\x00\x01y")
        for data in cases:
            esc = _h264_escape(data)
            assert _h264_unescape(esc) == data
            # escaped stream must contain no start-code alias
            for bad in (b"\x00\x00\x00", b"\x00\x00\x01", b"\x00\x00\x02"):
                assert bad not in esc, data
        with pytest.raises(ValueError, match="aliases a start code"):
            _h264_unescape(b"\x00\x00\x01")
        with pytest.raises(ValueError, match="corrupt escape"):
            _h264_unescape(b"\x00\x00\x03\x99")

    def test_sps_round_trip_fields(self):
        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_h264_sps,
            parse_h264_sps,
        )

        for prof, lev, wm, hm, cr, cb in (
            (66, 30, 40, 30, 0, 0),
            (77, 40, 1, 1, 1, 1),
            (66, 51, 120, 68, 1, 0),
            (88, 10, 7, 5, 0, 1),
        ):
            v = parse_h264_sps(encode_h264_sps(prof, lev, wm, hm, cr, cb))
            assert (v["profile_idc"], v["level_idc"]) == (prof, lev)
            assert v["width"] == wm * 16 - 2 * cr
            assert v["height"] == hm * 16 - 2 * cb
        # high-profile SPS gates loudly instead of misparsing chroma fields
        with pytest.raises(NotImplementedError, match="high-profile"):
            parse_h264_sps(encode_h264_sps(66, 30, 4, 4)[:1].replace(b"\x42", b"\x64")
                           + encode_h264_sps(66, 30, 4, 4)[1:])

    def test_annexb_stream_probe(self):
        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_h264_annexb,
            parse_h264_annexb,
        )

        blocks = [bytes([i] * 32) for i in range(17)]
        v = parse_h264_annexb(encode_h264_annexb(blocks, 77, 40, 5, 3, 1, 1))
        assert (v["n_nal_units"], v["n_slices"], v["n_idr"]) == (19, 17, 3)
        assert v["payload_byte_sum"] == sum(sum(b) for b in blocks) + 17
        assert (v["width"], v["height"]) == (78, 46)

    def test_malformed_streams_fail_loudly(self):
        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_h264_annexb,
            parse_h264_annexb,
        )

        good = encode_h264_annexb([bytes(32)], 66, 30, 4, 4)
        with pytest.raises(ValueError, match="start code"):
            parse_h264_annexb(b"JUNK" + good)
        # forbidden_zero_bit set on the SPS header
        bad = bytearray(good)
        bad[4] |= 0x80
        with pytest.raises(ValueError, match="forbidden_zero_bit"):
            parse_h264_annexb(bytes(bad))
        # truncated SPS exhausts the bit reader mid-field
        sps_end = good.index(b"\x00\x00\x00\x01\x68")
        with pytest.raises(ValueError, match="exhausted|no Annex-B"):
            parse_h264_annexb(good[: sps_end - 4])
        # stream with slices but no SPS
        no_sps = good[sps_end:]
        with pytest.raises(ValueError, match="no SPS"):
            parse_h264_annexb(no_sps)

    def test_mm21_edge_docs(self, spark, tmp_path):
        import pandas as pd

        from pipeline_mf_etl_spark.queries import all_queries

        texts = ["", "x" * 31, "y" * 32, "z" * (32 * 9)]  # 0/0/1/9 slices
        pd.DataFrame({"doc_id": range(4), "text": texts}).to_parquet(
            f"{tmp_path}/documents.parquet"
        )
        rows = {
            r["doc_id"]: r
            for r in all_queries()["mm21_h264_probe"]
            .spark(spark, str(tmp_path))
            .collect()
        }
        assert rows[0]["n_nal_units"] == 0 and rows[0]["width"] is None
        assert rows[1]["n_slices"] == 0
        assert rows[2]["n_slices"] == 1 and rows[2]["n_idr"] == 1
        assert rows[2]["payload_byte_sum"] == 32 * ord("y") + 1
        # 9 slices -> IDR at 0 and 8
        assert rows[3]["n_slices"] == 9 and rows[3]["n_idr"] == 2
        assert rows[3]["profile_idc"] == 66 + 11 * (3 % 2)


class TestAvc1Route:
    def _stream(self, n=10, profile=77, level=40, wm=5, hm=3, cr=1, cb=0):
        from pipeline_mf_etl_spark.operators.multimodal import (
            _H264_SLICE_MARKER,
            _h264_escape,
            encode_mp4_avc1,
        )

        blocks = [bytes([40 + i] * 32) for i in range(n)]
        nals = []
        for i, b in enumerate(blocks):
            hdr = 0x65 if i % 8 == 0 else 0x41
            nals.append([bytes([hdr]) + _h264_escape(_H264_SLICE_MARKER + b)])
        sync = [i + 1 for i in range(n) if i % 8 == 0]
        args = dict(profile_idc=profile, level_idc=level, width_mbs=wm,
                    height_mbs=hm, crop_right=cr, crop_bottom=cb)
        return encode_mp4_avc1(nals, args, sync), blocks, sync

    def test_mux_demux_round_trip(self):
        import struct

        from pipeline_mf_etl_spark.operators.multimodal import parse_mp4

        p, blocks, sync = self._stream()
        v = parse_mp4(p)
        assert v["codec"] == "avc1" and v["n_samples"] == 10
        assert v["sync_samples"] == sync == [1, 9]
        assert (v["width"], v["height"]) == (5 * 16 - 2, 3 * 16)
        assert v["avcc"]["profile_idc"] == 77 and v["avcc"]["length_size"] == 4
        (ln,) = struct.unpack(">I", v["samples"][0][:4])
        assert ln == len(v["samples"][0]) - 4 and v["samples"][0][4] == 0x65

    def test_malformed_avc1_fails_loudly(self):
        from pipeline_mf_etl_spark.operators.multimodal import parse_mp4

        p, _, _ = self._stream()
        # geometry disagreement between sample entry and avcC SPS
        i = p.index(b"avc1")
        bad = bytearray(p)
        # width field sits 24 bytes into the entry body (after the type)
        bad[i + 4 + 24 : i + 4 + 26] = (999).to_bytes(2, "big")
        with pytest.raises(ValueError, match="disagrees with the\n?\\s*avcC|disagrees"):
            parse_mp4(bytes(bad))
        # stss naming a sample past the track
        j = p.index(b"stss")
        bad2 = bytearray(p)
        bad2[j + 12 : j + 16] = (99).to_bytes(4, "big")  # first sync entry
        with pytest.raises(ValueError, match="stss names sample 99"):
            parse_mp4(bytes(bad2))
        # avcC version byte
        k = p.index(b"avcC")
        bad3 = bytearray(p)
        bad3[k + 4] = 2
        with pytest.raises(ValueError, match="configurationVersion"):
            parse_mp4(bytes(bad3))

    def test_probe_cross_checks_stss_against_idr(self, spark):
        import pandas as pd

        from pipeline_mf_etl_spark.operators.multimodal import (
            probe_avc1_features,
        )

        p, _, _ = self._stream()
        # lie in stss: claim sample 2 is sync (its NAL is non-IDR)
        j = p.index(b"stss")
        bad = bytearray(p)
        bad[j + 16 : j + 20] = (2).to_bytes(4, "big")  # second entry 9 -> 2
        sdf = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1], "payload": [bytes(bad)]})
        )
        with pytest.raises(Exception, match="disagrees with IDR"):
            probe_avc1_features(sdf).collect()

    def test_mm22_edge_docs(self, spark, tmp_path):
        import pandas as pd

        from pipeline_mf_etl_spark.queries import all_queries

        texts = ["", "q" * 32, "r" * (32 * 9 + 5)]
        pd.DataFrame({"doc_id": range(3), "text": texts}).to_parquet(
            f"{tmp_path}/documents.parquet"
        )
        rows = {
            r["doc_id"]: r
            for r in all_queries()["mm22_avc1_route"]
            .spark(spark, str(tmp_path))
            .collect()
        }
        assert rows[0]["n_samples"] == 0 and rows[0]["width"] is None
        assert rows[1]["n_samples"] == 1 and rows[1]["n_sync"] == 1
        assert rows[1]["payload_byte_sum"] == 32 * ord("q") + 1
        assert rows[2]["n_samples"] == 9 and rows[2]["n_sync"] == 2
        assert rows[2]["profile_idc"] == 66  # doc_id 2 is even


class TestAacRoute:
    def test_mux_demux_round_trip_all_fields(self):
        from pipeline_mf_etl_spark.operators.multimodal import (
            AAC_SAMPLE_RATES,
            encode_mp4_aac,
            parse_mp4,
        )

        for aot, fi, ch in ((2, 3, 2), (5, 8, 1), (29, 12, 7), (2, 0, 1)):
            frames = [bytes([i + 10] * 32) for i in range(5)]
            v = parse_mp4(encode_mp4_aac(frames, aot, fi, ch))
            a = v["audio"]
            assert v["codec"] == "mp4a" and v["n_samples"] == 5
            assert (a["object_type"], a["channels"]) == (aot, ch)
            assert a["sampling_rate"] == AAC_SAMPLE_RATES[fi]
            assert [bytes(s) for s in v["samples"]] == frames

    def test_video_track_still_preferred_over_audio(self):
        # a file with BOTH tracks must route to the video one (the
        # pre-mm23 behavior real muxes rely on)
        import numpy as np

        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_mp4,
            parse_mp4,
        )

        fr = np.arange(128, dtype=np.uint8).reshape(2, 64)
        v = parse_mp4(encode_mp4(fr, 8, 8))
        assert v["codec"] == "raw"

    def test_malformed_esds_fails_loudly(self):
        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_mp4_aac,
            parse_mp4,
        )

        good = encode_mp4_aac([bytes(32)], 2, 3, 2)
        # entry channels disagree with the AudioSpecificConfig
        i = good.index(b"mp4a")
        bad = bytearray(good)
        bad[i + 4 + 16 : i + 4 + 18] = (5).to_bytes(2, "big")
        with pytest.raises(ValueError, match="channel count 5 disagrees"):
            parse_mp4(bytes(bad))
        # esds opening with the wrong descriptor tag
        j = good.index(b"esds")
        bad2 = bytearray(good)
        bad2[j + 8] = 0x04  # ES_Descriptor tag -> DecoderConfig tag
        with pytest.raises(ValueError, match="must open with ES_Descriptor"):
            parse_mp4(bytes(bad2))
        # reserved sampling-frequency index rejected at encode
        with pytest.raises(ValueError, match="samplingFrequencyIndex"):
            encode_mp4_aac([bytes(32)], 2, 14, 2)

    def test_mm23_edge_docs(self, spark, tmp_path):
        import pandas as pd

        from pipeline_mf_etl_spark.queries import all_queries

        texts = ["", "a" * 33, "b" * 96]
        pd.DataFrame({"doc_id": [0, 1, 2], "text": texts}).to_parquet(
            f"{tmp_path}/documents.parquet"
        )
        rows = {
            r["doc_id"]: r
            for r in all_queries()["mm23_aac_route"]
            .spark(spark, str(tmp_path))
            .collect()
        }
        assert rows[0]["n_samples"] == 0 and rows[0]["sampling_rate"] is None
        assert rows[1]["n_samples"] == 1 and rows[1]["object_type"] == 5
        assert rows[1]["sampling_rate"] == 44100 and rows[1]["channels"] == 2
        assert rows[2]["n_samples"] == 3 and rows[2]["sampling_rate"] == 16000
        assert rows[2]["payload_byte_sum"] == 96 * ord("b")


class TestHevcRoute:
    def test_sps_round_trip_fields(self):
        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_hevc_sps,
            parse_hevc_sps,
        )

        for prof, tier, lev, pw, ph, cr, cb in (
            (1, 0, 93, 640, 368, 0, 0),
            (2, 1, 120, 16, 16, 1, 1),
            (1, 0, 150, 1920, 1080, 3, 2),
        ):
            v = parse_hevc_sps(encode_hevc_sps(prof, tier, lev, pw, ph, cr, cb))
            assert (v["profile_idc"], v["tier"], v["level_idc"]) == (prof, tier, lev)
            # conformance window offsets are in CHROMA units (x2 for 4:2:0)
            assert v["width"] == pw - 2 * cr and v["height"] == ph - 2 * cb

    def _stream(self, n=11, **sps):
        from pipeline_mf_etl_spark.operators.multimodal import (
            _H264_SLICE_MARKER,
            _h264_escape,
            _hevc_nal,
            HEVC_NAL_IDR_W_RADL,
            HEVC_NAL_TRAIL_R,
            encode_mp4_hevc,
        )

        args = dict(profile_idc=2, tier=1, level_idc=120, pic_width=80,
                    pic_height=48, conf_right=1, conf_bottom=1)
        args.update(sps)
        blocks = [bytes([60 + i] * 32) for i in range(n)]
        nals = []
        for i, b in enumerate(blocks):
            t = HEVC_NAL_IDR_W_RADL if i % 8 == 0 else HEVC_NAL_TRAIL_R
            nals.append([_hevc_nal(t, _h264_escape(_H264_SLICE_MARKER + b))])
        sync = [i + 1 for i in range(n) if i % 8 == 0]
        return encode_mp4_hevc(nals, args, sync), blocks, sync

    def test_mux_demux_round_trip(self):
        from pipeline_mf_etl_spark.operators.multimodal import parse_mp4

        p, blocks, sync = self._stream()
        v = parse_mp4(p)
        assert v["codec"] == "hvc1" and v["n_samples"] == 11
        assert v["sync_samples"] == sync == [1, 9]
        assert (v["width"], v["height"]) == (78, 46)
        cfg = v["hvcc"]
        assert (cfg["profile_idc"], cfg["tier"], cfg["level_idc"]) == (2, 1, 120)
        assert cfg["length_size"] == 4

    def test_malformed_hevc_fails_loudly(self):
        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_hevc_sps,
            parse_hevc_sps,
            parse_mp4,
        )

        p, _, _ = self._stream()
        # hvcC header PTL disagreeing with its own SPS
        k = p.index(b"hvcC")
        bad = bytearray(p)
        bad[k + 4 + 12] = 93  # header level_idc 120 -> 93; SPS still says 120
        with pytest.raises(ValueError, match="disagrees with its"):
            parse_mp4(bytes(bad))
        # reserved-43-bits corruption in the SPS PTL
        sps = bytearray(encode_hevc_sps(1, 0, 93, 64, 64))
        sps[7] |= 0x01  # inside general_reserved_zero_43bits
        with pytest.raises(ValueError, match="reserved_zero_43bits"):
            parse_hevc_sps(bytes(sps))
        # multi-sub-layer SPS gates loudly
        multi = bytearray(encode_hevc_sps(1, 0, 93, 64, 64))
        multi[0] |= 0x02  # sps_max_sub_layers_minus1 0 -> 1
        with pytest.raises(NotImplementedError, match="sub-layer"):
            parse_hevc_sps(bytes(multi))

    def test_mm24_edge_docs(self, spark, tmp_path):
        import pandas as pd

        from pipeline_mf_etl_spark.queries import all_queries

        texts = ["", "m" * 32, "n" * (32 * 10)]
        pd.DataFrame({"doc_id": [0, 1, 2], "text": texts}).to_parquet(
            f"{tmp_path}/documents.parquet"
        )
        rows = {
            r["doc_id"]: r
            for r in all_queries()["mm24_hevc_route"]
            .spark(spark, str(tmp_path))
            .collect()
        }
        assert rows[0]["n_samples"] == 0 and rows[0]["tier"] is None
        assert rows[1]["profile_idc"] == 2 and rows[1]["tier"] == 1
        assert rows[1]["level_idc"] == 120
        assert rows[2]["n_samples"] == 10 and rows[2]["n_sync"] == 2
        assert rows[2]["payload_byte_sum"] == 320 * ord("n") + 10


class TestMp3Probe:
    """MP3/ID3v2 routing walk (operators/multimodal.py encode_mp3 /
    probe_mp3; pending query mm26 registers in r11)."""

    def test_walk_accounting(self):
        from pipeline_mf_etl_spark.operators.multimodal import encode_mp3, probe_mp3

        p = probe_mp3(encode_mp3(3, "hello world " * 30))  # 360 chars
        assert p["n_frames"] == 1 + 360 // 24
        assert p["sample_rate"] == 44100
        assert p["channel_mode"] == 3
        assert p["has_crc"] is True  # odd doc_id
        assert p["is_vbr"] is True
        assert (p["kbps_min"], p["kbps_max"]) == (128, 224)
        assert p["id3_title"] == "doc 3"
        assert p["total_samples"] == p["n_frames"] * 1152
        assert p["duration_ms"] == p["total_samples"] * 1000 // 44100

    def test_single_frame_cbr(self):
        from pipeline_mf_etl_spark.operators.multimodal import encode_mp3, probe_mp3

        p = probe_mp3(encode_mp3(0, ""))
        assert p["n_frames"] == 1 and p["is_vbr"] is False
        assert p["has_crc"] is False
        assert p["sum_frame_bytes"] == (144_000 * 128) // 44100

    def test_id3_skip_is_exact(self):
        # a one-byte-short ID3 size desyncs the walk and must raise
        from pipeline_mf_etl_spark.operators.multimodal import encode_mp3, probe_mp3

        blob = bytearray(encode_mp3(2, "abc"))
        blob[9] += 1  # syncsafe low byte: tag claims one extra byte
        import pytest as _pt

        with _pt.raises(ValueError, match="sync|overruns"):
            probe_mp3(bytes(blob))

    @staticmethod
    def _syncsafe(n: int) -> bytes:
        return bytes(
            [(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F]
        )

    def test_id3v24_uses_syncsafe_frame_sizes(self):
        """An ID3v2.4 tag stores FRAME sizes syncsafe too; reading them
        raw desyncs the tag walk for any frame > 127 bytes (ADVICE r10).
        Build a v2.4 tag with a 201-byte TIT2 and check the title."""
        from pipeline_mf_etl_spark.operators.multimodal import encode_mp3, probe_mp3

        blob = encode_mp3(0, "")
        tag_size = (blob[6] << 21) | (blob[7] << 14) | (blob[8] << 7) | blob[9]
        frames = blob[10 + tag_size :]  # bare MPEG frames, v2.3 tag stripped

        title = "t" * 200
        fbody = b"\x00" + title.encode("latin-1")  # 201 bytes > 127
        body = b"TIT2" + self._syncsafe(len(fbody)) + b"\x00\x00" + fbody
        tag = b"ID3\x04\x00\x00" + self._syncsafe(len(body)) + body
        p = probe_mp3(tag + frames)
        assert p["id3_title"] == title

        # raw (non-syncsafe) frame-size bytes in a v2.4 tag must be
        # refused loudly, not silently mis-walked
        bad_body = b"TIT2" + len(fbody).to_bytes(4, "big") + b"\x00\x00" + fbody
        bad = b"ID3\x04\x00\x00" + self._syncsafe(len(bad_body)) + bad_body
        import pytest as _pt

        with _pt.raises(ValueError, match="syncsafe"):
            probe_mp3(bad + frames)

    def test_id3v22_gates_loudly(self):
        from pipeline_mf_etl_spark.operators.multimodal import encode_mp3, probe_mp3

        blob = bytearray(encode_mp3(0, ""))
        blob[3] = 2  # claim ID3v2.2 (3-byte frame grammar, unsupported)
        import pytest as _pt

        with _pt.raises(ValueError, match="ID3v2.3/v2.4"):
            probe_mp3(bytes(blob))

    def test_truncated_last_frame_fails(self):
        from pipeline_mf_etl_spark.operators.multimodal import encode_mp3, probe_mp3

        import pytest as _pt

        with _pt.raises(ValueError, match="declares"):
            probe_mp3(encode_mp3(2, "abc" * 30)[:-5])

    def test_mid_stream_parameter_change_fails(self):
        from pipeline_mf_etl_spark.operators.multimodal import encode_mp3, probe_mp3

        blob = bytearray(encode_mp3(4, "z" * 60))  # 3 frames, mode 0
        # find the second frame header (first is right after the ID3 tag)
        first = blob.find(b"\xff\xfb", 1)
        second = blob.find(b"\xff\xfb", first + 2)
        assert second > 0
        blob[second + 3] |= 0xC0  # flip channel mode on frame 2
        import pytest as _pt

        with _pt.raises(ValueError, match="changes stream parameters"):
            probe_mp3(bytes(blob))

    def test_reserved_codes_fail(self):
        from pipeline_mf_etl_spark.operators.multimodal import encode_mp3, probe_mp3

        blob = bytearray(encode_mp3(0, "q"))
        first = blob.find(b"\xff\xfb", 1)
        import pytest as _pt

        bad_layer = bytearray(blob)
        bad_layer[first + 1] = (bad_layer[first + 1] & ~0b110) | 0b100  # Layer II
        with _pt.raises(ValueError, match="Layer III"):
            probe_mp3(bytes(bad_layer))

        bad_sr = bytearray(blob)
        bad_sr[first + 2] |= 0x0C  # samplerate index 3 (reserved)
        with _pt.raises(ValueError, match="samplerate"):
            probe_mp3(bytes(bad_sr))


class TestTiffProbe:
    """TIFF/EXIF routing walk (encode_tiff_exif / parse_tiff_exif;
    pending query mm27 registers in r11)."""

    def test_walk_values(self):
        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_tiff_exif,
            parse_tiff_exif,
        )

        p = parse_tiff_exif(encode_tiff_exif(9, "x" * 499))
        assert (p["width"], p["height"]) == (500, 72)
        assert p["orientation"] == 2 and p["iso"] == 1000
        assert p["make"] == "synthcam"
        assert p["datetime_original"] == "2026:01:10 00:00:00"
        assert p["n_ifds"] == 1 and p["n_exif_entries"] == 2

    def test_big_endian_walks(self):
        # hand-build a tiny MM (big-endian) file: header + 1-entry IFD
        import struct

        from pipeline_mf_etl_spark.operators.multimodal import parse_tiff_exif

        ifd = struct.pack(">H", 1)
        ifd += struct.pack(">HHI", 256, 3, 1) + struct.pack(">HH", 77, 0)
        ifd += struct.pack(">I", 0)
        blob = b"MM" + struct.pack(">HI", 42, 8) + ifd
        p = parse_tiff_exif(blob)
        assert p["endian"] == "MM" and p["width"] == 77

    def test_bigtiff_gates(self):
        import struct

        import pytest as _pt

        from pipeline_mf_etl_spark.operators.multimodal import parse_tiff_exif

        with _pt.raises(ValueError, match="BigTIFF"):
            parse_tiff_exif(b"II" + struct.pack("<HI", 43, 8))

    def test_bad_magic_and_order(self):
        import pytest as _pt

        from pipeline_mf_etl_spark.operators.multimodal import parse_tiff_exif

        with _pt.raises(ValueError, match="byte-order"):
            parse_tiff_exif(b"XX\x2a\x00")

    def test_offset_value_overrun_fails(self):
        import pytest as _pt

        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_tiff_exif,
            parse_tiff_exif,
        )

        blob = bytearray(encode_tiff_exif(1, "abc"))
        # Make tag (ASCII, offset form): point it past EOF
        at = blob.find(b"synthcam")
        # find the entry whose value equals the make offset
        import struct

        off_bytes = struct.pack("<I", at)
        loc = blob.find(off_bytes)
        blob[loc : loc + 4] = struct.pack("<I", len(blob) + 100)
        with _pt.raises(ValueError, match="overruns"):
            parse_tiff_exif(bytes(blob))

    def test_unknown_type_gates(self):
        import struct

        import pytest as _pt

        from pipeline_mf_etl_spark.operators.multimodal import parse_tiff_exif

        ifd = struct.pack("<H", 1)
        ifd += struct.pack("<HHI", 256, 13, 1) + b"\x00\x00\x00\x00"
        ifd += struct.pack("<I", 0)
        with _pt.raises(ValueError, match="unknown TIFF field type"):
            parse_tiff_exif(b"II" + struct.pack("<HI", 42, 8) + ifd)


class TestTiffPixels:
    """Baseline-TIFF strip pixel decode (encode_tiff_pixels /
    parse_tiff_pixels; query mm27b, new r11)."""

    def _codec(self):
        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_tiff_pixels,
            parse_tiff_pixels,
        )

        return encode_tiff_pixels, parse_tiff_pixels

    def test_round_trip_gray_and_rgb_all_compressions(self):
        import numpy as np

        enc, dec = self._codec()
        seen = set()
        for doc_id in (0, 1, 2, 3, 4, 5, 10, 11):
            text = "pixels!" * (30 + doc_id * 17)
            raw = text.encode()
            v = dec(enc(doc_id, text))
            w, spp = (20, 3) if doc_id % 2 else (50, 1)
            h = len(raw) // (w * spp)
            assert (v["width"], v["height"], v["spp"]) == (w, h, spp)
            assert v["rows_per_strip"] == 1 + doc_id % 5
            assert v["n_strips"] == -(-h // v["rows_per_strip"])
            exp_comp = ("none", "deflate", "packbits")[doc_id % 3]
            assert v["compression"] == exp_comp
            seen.add(exp_comp)
            exp = np.frombuffer(raw[: h * w * spp], dtype=np.uint8)
            assert (v["samples"].ravel() == exp).all()
        assert seen == {"none", "deflate", "packbits"}

    def test_packbits_spec_cases(self):
        from pipeline_mf_etl_spark.operators.multimodal import (
            packbits_decode,
            packbits_encode,
        )

        # runs >= 3 become repeat ops; shorter stay literal; rows are
        # packed separately (a run crossing the row boundary must split)
        data = b"aaaabbcdddd" + b"dddddd" * 2
        row = len(data)
        assert packbits_decode(packbits_encode(data, row), len(data)) == data
        two_rows = b"a" * 10 + b"b" * 10
        enc = packbits_encode(two_rows, 10)
        assert enc == bytes([257 - 10]) + b"a" + bytes([257 - 10]) + b"b"
        assert packbits_decode(enc, 20) == two_rows
        # 128 control byte is a no-op on decode
        assert packbits_decode(b"\x80\x00a", 1) == b"a"
        # truncated repeat run fails loudly
        import pytest as _pt

        with _pt.raises(ValueError, match="PackBits"):
            packbits_decode(bytes([257 - 5]), 5)

    def test_long_uniform_rows_compress(self):
        # a 500-byte uniform doc: PackBits strips shrink dramatically
        # and still round-trip (doc 5 -> rgb + packbits)
        enc, dec = self._codec()
        text = "z" * 600
        blob = enc(5, text)
        v = dec(blob)
        assert v["compression"] == "packbits"
        assert (v["samples"] == ord("z")).all()
        assert len(blob) < 600  # genuinely compressed

    def test_single_strip_inline_arrays(self):
        # rps >= height -> ONE strip -> offsets/counts take the INLINE
        # (value-in-entry) packing path
        enc, dec = self._codec()
        v = dec(enc(4, "z" * 120))  # gray, h=2, rps=5 -> 1 strip
        assert v["n_strips"] == 1 and v["height"] == 2

    def test_short_doc_returns_none(self):
        enc, _ = self._codec()
        assert enc(0, "x" * 49) is None
        assert enc(1, "x" * 59) is None

    def test_compression_gates(self):
        import struct

        import pytest as _pt

        enc, dec = self._codec()
        blob = bytearray(enc(0, "q" * 200))
        # Compression entry (tag 259, SHORT): flip value 1 -> 5 (LZW)
        loc = blob.find(struct.pack("<HHI", 259, 3, 1))
        blob[loc + 8] = 5
        with _pt.raises(NotImplementedError, match="scheme 5 not supported"):
            dec(bytes(blob))

    def test_tiled_layout_gates(self):
        import struct

        import pytest as _pt

        enc, dec = self._codec()
        blob = bytearray(enc(0, "q" * 200))
        # retag SamplesPerPixel (277) as TileWidth (322): tag ids stay
        # ascending and the walk now sees a tiled file
        loc = blob.find(struct.pack("<HHI", 277, 3, 1))
        blob[loc : loc + 2] = struct.pack("<H", 322)
        with _pt.raises(NotImplementedError, match="tiled"):
            dec(bytes(blob))

    def test_strip_count_mismatch_fails(self):
        import struct

        import pytest as _pt

        enc, dec = self._codec()
        blob = bytearray(enc(6, "q" * 500))  # gray h=10 rps=2 comp=none
        v = dec(bytes(blob))
        assert v["n_strips"] == 5 and v["compression"] == "none"
        # corrupt the FIRST StripByteCounts array entry (+1 byte)
        loc = blob.find(struct.pack("<HHI", 279, 4, 5)) + 8
        (arr_at,) = struct.unpack("<I", blob[loc : loc + 4])
        (c0,) = struct.unpack("<I", blob[arr_at : arr_at + 4])
        blob[arr_at : arr_at + 4] = struct.pack("<I", c0 + 1)
        with _pt.raises(ValueError, match="declares"):
            dec(bytes(blob))

    def test_corrupt_deflate_strip_fails(self):
        import pytest as _pt

        enc, dec = self._codec()
        blob = bytearray(enc(1, "q" * 500))  # rgb, comp=deflate
        assert dec(bytes(blob))["compression"] == "deflate"
        blob[-3] ^= 0xFF  # flip a byte inside the last zlib stream
        with _pt.raises(Exception):  # zlib.error or size ValueError
            dec(bytes(blob))

    def test_truncated_strip_fails(self):
        import pytest as _pt

        enc, dec = self._codec()
        blob = enc(0, "q" * 200)
        with _pt.raises(ValueError, match="overruns|declares"):
            dec(blob[:-3])

    def test_spark_decode_plan_map_only(self, spark):
        from pipeline_mf_etl_spark.queries import all_queries

        fn = all_queries()["mm27b_tiff_decode"].spark
        plan = (
            fn(spark, SF_SMOKE)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
            .lower()
        )
        assert "exchange hashpartitioning" not in plan
        assert plan.count("exchange roundrobinpartitioning") <= 1  # fan-out


class TestWebpProbe:
    """WebP routing walk (encode_webp / parse_webp; pending query mm28
    registers in r11)."""

    def _p(self, did, t):
        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_webp,
            parse_webp,
        )

        return parse_webp(encode_webp(did, t))

    def test_three_forms(self):
        assert self._p(0, "abc")["form"] == "lossy"
        assert self._p(1, "abc")["form"] == "lossless"
        p = self._p(2, "abc")
        assert p["form"] == "extended" and p["n_chunks"] == 2

    def test_exif_chunk_detected(self):
        p = self._p(11, "meta" * 20)
        assert p["has_exif"] and p["n_chunks"] == 3

    def test_geometry(self):
        p = self._p(0, "x" * 500)
        assert (p["width"], p["height"]) == (501, 1 + (500 // 11) % 2000)

    def test_riff_size_lie_fails(self):
        import pytest as _pt

        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_webp,
            parse_webp,
        )

        blob = bytearray(encode_webp(0, "abc"))
        blob[4] ^= 0x01
        with _pt.raises(ValueError, match="disagrees"):
            parse_webp(bytes(blob))

    def test_vp8x_inner_mismatch_fails(self):
        import pytest as _pt

        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_webp,
            parse_webp,
        )

        blob = bytearray(encode_webp(2, "y" * 500))  # extended
        at = blob.find(b"\x9d\x01\x2a") + 3  # inner VP8 geometry
        blob[at] ^= 0x01
        with _pt.raises(ValueError, match="disagrees with the inner"):
            parse_webp(bytes(blob))

    def test_missing_start_code_fails(self):
        import pytest as _pt

        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_webp,
            parse_webp,
        )

        blob = bytearray(encode_webp(0, "abc"))
        at = blob.find(b"\x9d\x01\x2a")
        blob[at] = 0x00
        with _pt.raises(ValueError, match="start code"):
            parse_webp(bytes(blob))

    def test_animation_gates(self):
        import pytest as _pt

        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_webp,
            parse_webp,
        )

        blob = bytearray(encode_webp(2, "zz"))
        at = blob.find(b"VP8X") + 8
        blob[at] |= 0x02  # animation flag
        with _pt.raises(ValueError, match="animated"):
            parse_webp(bytes(blob))

    def test_not_webp(self):
        import pytest as _pt

        from pipeline_mf_etl_spark.operators.multimodal import parse_webp

        with _pt.raises(ValueError, match="RIFF/WEBP"):
            parse_webp(b"RIFF\x04\x00\x00\x00WAVE")


class TestWebmProbe:
    """WebM/Matroska EBML walk (encode_webm / parse_webm; pending
    query mm29 registers in r11)."""

    def _p(self, did, t):
        from pipeline_mf_etl_spark.operators.multimodal import (
            encode_webm,
            parse_webm,
        )

        return parse_webm(encode_webm(did, t))

    def test_structure(self):
        p = self._p(2, "b" * 205)
        assert p["doc_type"] == "webm"
        assert p["video_codec"] == "V_AV1" and p["audio_codec"] == "A_OPUS"
        assert p["n_clusters"] == 3 and p["n_blocks"] == 6
        assert p["duration_ms"] == 205 * 40
        assert p["sampling_hz"] == 48000.0 and p["channels"] == 2

    def test_matroska_doctype_accepted_others_gate(self):
        import pytest as _pt

        from pipeline_mf_etl_spark.operators.multimodal import _ebml_el, parse_webm

        def with_doctype(dt: bytes) -> bytes:
            return _ebml_el("EBML", _ebml_el("DocType", dt)) + _ebml_el(
                "Segment", b""
            )

        assert parse_webm(with_doctype(b"matroska"))["doc_type"] == "matroska"
        with _pt.raises(ValueError, match="DocType"):
            parse_webm(with_doctype(b"avif"))

    def test_unknown_size_gates(self):
        import pytest as _pt

        from pipeline_mf_etl_spark.operators.multimodal import encode_webm, parse_webm

        blob = bytearray(encode_webm(0, "yy"))
        at = blob.find(b"\x18\x53\x80\x67") + 4  # Segment size VINT
        length = 9 - blob[at].bit_length()  # noqa: F841 (1-byte in synth? compute)
        # overwrite the size VINT's first byte with the 1-byte unknown marker
        blob[at] = 0xFF
        with _pt.raises(ValueError, match="unknown-size|overruns|truncated"):
            parse_webm(bytes(blob))

    def test_element_overrun_fails(self):
        import pytest as _pt

        from pipeline_mf_etl_spark.operators.multimodal import encode_webm, parse_webm

        with _pt.raises(ValueError, match="overruns|truncated|VINT"):
            parse_webm(encode_webm(1, "abc" * 40)[:-7])

    def test_not_ebml(self):
        import pytest as _pt

        from pipeline_mf_etl_spark.operators.multimodal import parse_webm

        with _pt.raises(ValueError, match="EBML|VINT"):
            parse_webm(b"\x00\x00\x00\x20ftypisom")
