"""Byte-identity gate for every encoder that writes through the shared
bit-I/O, Huffman and CRC primitives (``operators/bits.py``).

Each encoder runs over fixed inputs and the SHA-256 of its outputs is
pinned. A refactor of the primitives must leave every payload
byte-identical: persisted corpus payloads (and the benchmark's
``write_amp``) depend on these exact bytes.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from pipeline_mf_etl_spark.operators.flac import encode_flac
from pipeline_mf_etl_spark.operators.multimodal import (
    encode_gif_gray,
    encode_h264_annexb,
    encode_h264_sps,
    encode_hevc_sps,
    encode_jpeg_gray,
    encode_jpeg_progressive_gray,
    encode_jpeg_ycbcr420,
)
from pipeline_mf_etl_spark.operators.vp8l import encode_webp_lossless
from pipeline_mf_etl_spark.sources.bzip2 import encode_bzip2
from pipeline_mf_etl_spark.sources.snappyframe import encode_snappy_frame
from pipeline_mf_etl_spark.sources.tfrecord import write_tfrecord
from pipeline_mf_etl_spark.sources.zstdframe import encode_zstd_frame

_TEXT = (
    "The quick brown fox jumps over the lazy dog. " * 12
    + "Pack my box with five dozen liquor jugs; "
    + "".join(chr(0x61 + (i * 7) % 26) for i in range(700))
    + " héllo wörld ✓ " * 5
).encode("utf-8")


def _gray(w: int, h: int, seed: int) -> bytes:
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    img = (xx * 3 + yy * 5) % 256 + rng.integers(-20, 20, size=(h, w))
    return np.clip(img, 0, 255).astype(np.uint8).tobytes()


def _flac_outputs() -> list[bytes]:
    rng = np.random.default_rng(11)
    t = np.arange(9000)
    sine = (8000 * np.sin(t / 17.0)).astype(np.int16)
    noise = rng.integers(-3000, 3000, size=9000).astype(np.int16)
    stereo = np.stack([sine, (sine // 2 + noise // 4).astype(np.int16)])
    return [
        encode_flac(sine, block_size=2048),
        encode_flac(noise, sample_rate=16000, block_size=1024, partition_order=0),
        encode_flac(stereo, block_size=4096),
        encode_flac(stereo, channel_mode="mid_side", block_size=1500),
        encode_flac(np.zeros(700, dtype=np.int16)),
    ]


def _webp_outputs() -> list[bytes]:
    # ten docs cover all five transform variants, both color-cache
    # settings and the meta-prefix image
    text = _TEXT.decode("utf-8")
    return [encode_webp_lossless(i, text[i * 37 :]) for i in range(10)]


def _jpeg_gray_outputs() -> list[bytes]:
    q = np.array([8] + [3] * 63, dtype=np.int64)
    return [
        encode_jpeg_gray(_gray(37, 21, 1), 37, 21),
        encode_jpeg_gray(_gray(64, 48, 2), 64, 48, quant=q, restart_interval=5),
        encode_jpeg_gray(bytes([255]) * 256, 16, 16),
    ]


def _jpeg_progressive_outputs() -> list[bytes]:
    return [
        encode_jpeg_progressive_gray(_gray(40, 24, 3), 40, 24),
        encode_jpeg_progressive_gray(bytes(range(256)) * 4, 32, 32),
    ]


def _jpeg_color_outputs() -> list[bytes]:
    y = _gray(32, 32, 4)
    cb = _gray(16, 16, 5)
    cr = _gray(16, 16, 6)
    return [
        encode_jpeg_ycbcr420(y, cb, cr, 32, 32),
        encode_jpeg_ycbcr420(y, cb, cr, 32, 32, restart_interval=3),
    ]


def _gif_outputs() -> list[bytes]:
    # the 128x128 noise image overflows the 4096-entry LZW dictionary
    return [
        encode_gif_gray(_gray(64, 40, 7), 64, 40),
        encode_gif_gray(_gray(64, 40, 7), 64, 40, interlace=True),
        encode_gif_gray(np.random.default_rng(8).bytes(128 * 128), 128, 128),
    ]


def _zstd_outputs() -> list[bytes]:
    return [
        encode_zstd_frame(_TEXT),
        encode_zstd_frame(_TEXT, block_size=256, content_checksum=False),
        encode_zstd_frame(bytes(range(256)) * 3 + b"\x00" * 300),
    ]


_ENCODERS = {
    "encode_flac": _flac_outputs,
    "encode_webp_lossless": _webp_outputs,
    "encode_jpeg_gray": _jpeg_gray_outputs,
    "encode_jpeg_progressive_gray": _jpeg_progressive_outputs,
    "encode_jpeg_ycbcr420": _jpeg_color_outputs,
    "encode_gif_gray": _gif_outputs,
    "encode_h264_sps": lambda: [
        encode_h264_sps(66, 30, 20, 15),
        encode_h264_sps(77, 41, 120, 68, crop_right=4, crop_bottom=4),
    ],
    "encode_hevc_sps": lambda: [
        encode_hevc_sps(1, 0, 93, 1920, 1080),
        encode_hevc_sps(2, 1, 120, 1280, 720, conf_right=4, conf_bottom=2),
    ],
    "encode_h264_annexb": lambda: [
        encode_h264_annexb([_TEXT[:32], _TEXT[32:64], b"\x00\x00\x00"], 66, 30, 4, 3),
    ],
    "encode_bzip2": lambda: [
        encode_bzip2(_TEXT),
        encode_bzip2(_TEXT * 3, level=3, block_bytes=700),
        encode_bzip2(b"\x00" * 5000 + b"ab"),
    ],
    "encode_zstd_frame": _zstd_outputs,
    "encode_snappy_frame": lambda: [
        encode_snappy_frame(_TEXT),
        encode_snappy_frame(_TEXT * 2, chunk_size=300, with_padding=True),
        encode_snappy_frame(_TEXT[:500], force_uncompressed=True),
    ],
    "write_tfrecord": lambda: [write_tfrecord([b"", b"abc", _TEXT])],
}

# SHA-256 over the length-prefixed concatenation of each encoder's
# outputs above, recorded before the primitives were shared.
_PINNED = {
    "encode_flac": "b077ea81d896d0d2dc209a145de12f0a5ede409a92a783fb48ce794babfdaf89",
    "encode_webp_lossless": "5b60d34782d19afc0f030fcceb84ee54904129327320a6d4dd136c7ca0a97e74",
    "encode_jpeg_gray": "090d60c51b0e3d5d9054ba98dc6dee89f44e5275e18669d08c8422d479c12e3b",
    "encode_jpeg_progressive_gray": "56916cced0b1eff70d063aeedc2ad7619fe10f7fc34b803399714b861d1f621e",
    "encode_jpeg_ycbcr420": "bf7ce31f7eed11f583c834eb76a43483161eb18bdc608f4d60588d5b4c3b23c9",
    "encode_gif_gray": "fb4ecaf51f9a64a668d050bc41415cdc3eadb122425ef09fbce2567cc5702d73",
    "encode_h264_sps": "033503ada7b59bde68a3e10deb7dd4a6543ef3037fdacc12da3396e85dcb234e",
    "encode_hevc_sps": "1eb9b4443dc5316786891e9aeeac569a8408a63de4324835594481c66faeac28",
    "encode_h264_annexb": "0d53fe930cb1a012f35636eb91ea1d8805886308e84345c219619b53844700e7",
    "encode_bzip2": "2fb2b6dafc24337f386403e3025863988422ad2601a60f60323ae1acc1f560ac",
    "encode_zstd_frame": "1849f299097d9f6e64a1a36b44174730743137c0dd43d6831ffe6258592bf3bd",
    "encode_snappy_frame": "a3781f3f5f3fdf23a7888adc8bb70e12d25868c6b0150bad017f473612c55f7e",
    "write_tfrecord": "77e70f8dd7c7facaf91e565f68c85e6f7cb612ab1033946e3417fb7bd236a58e",
}


def _digest(outputs: list[bytes]) -> str:
    h = hashlib.sha256()
    for out in outputs:
        h.update(len(out).to_bytes(8, "little"))
        h.update(out)
    return h.hexdigest()


@pytest.mark.parametrize("name", sorted(_ENCODERS))
def test_encoder_bytes_pinned(name):
    assert _digest(_ENCODERS[name]()) == _PINNED[name]
