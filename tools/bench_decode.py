"""Multimodal decode throughput microbenchmark (r8 verdict item #8):
quantifies the "pure-Python codec is 10-100x slower than a C codec" note
with sandbox numbers per format — images/s and megapixels/s for the
native BMP / 8-bit PNG / baseline JPEG decoders at two sizes.

Pure driver-side Python (no Spark): the decoders are the exact functions
the Arrow-batched mapInPandas path calls per payload. Prints one JSON
line; paste the table into COVERAGE.md.

Usage: python tools/bench_decode.py [reps]
"""

import json
import os
import struct
import sys
import time
import zlib

import numpy as np


def _bmp(rgb: np.ndarray) -> bytes:
    h, w = rgb.shape[:2]
    stride = (24 * w + 31) // 32 * 4
    raster = bytearray()
    for y in range(h - 1, -1, -1):
        row = rgb[y, :, ::-1].tobytes()  # BGR
        raster += row + b"\x00" * (stride - len(row))
    off = 54
    return (
        b"BM" + struct.pack("<IHHI", off + len(raster), 0, 0, off)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 0, 0, 0, 0)
        + bytes(raster)
    )


def _png(rgb: np.ndarray) -> bytes:
    h, w = rgb.shape[:2]

    def chunk(tag, data):
        raw = tag + data
        return struct.pack(">I", len(data)) + raw + struct.pack(
            ">I", zlib.crc32(raw) & 0xFFFFFFFF
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raster = b"".join(b"\x00" + rgb[y].tobytes() for y in range(h))
    return (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raster)) + chunk(b"IEND", b"")
    )


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 30
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))
    from test_pipeline import _jpeg_encode_gray  # hermetic test encoder

    from openmldb_spark.pipeline import multimodal as M

    rng = np.random.RandomState(7)
    out = {}
    for size in (64, 256):
        rgb = rng.randint(0, 256, (size, size, 3), dtype=np.uint8)
        gray = rng.randint(0, 256, (size, size), dtype=np.uint8)
        payloads = {
            "bmp": (_bmp(rgb), M._decode_bmp),
            "png": (_png(rgb), M._decode_png),
            "jpeg": (
                _jpeg_encode_gray(gray, np.full(64, 16, dtype=np.int32)),
                M._decode_jpeg,
            ),
        }
        for fmt, (payload, fn) in payloads.items():
            fn(payload)  # warm
            n = reps if fmt != "jpeg" else max(3, reps // 10)
            t0 = time.perf_counter()
            for _ in range(n):
                fn(payload)
            dt = (time.perf_counter() - t0) / n
            out[f"{fmt}_{size}px"] = {
                "imgs_per_s": round(1.0 / dt, 1),
                "mpix_per_s": round(size * size / dt / 1e6, 2),
            }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
