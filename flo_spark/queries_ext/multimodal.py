"""Multimodal columns: image/audio/video container codecs
(WAV/BMP/PNG/TIFF/AU/GIF/FLAC/JPEG/QOI/Y4M/TGA/AVI/PCX/RAS/ICO/WebP)
round-tripped through Arrow-batched UDFs and hash-checked.

Split out of the former monolithic ``queries_ext`` module (round 8);
registration conventions and the 100 TB scale notes live in the package
``__init__``.  ``queries()`` leads with ``DRIVER_CHECK_ORDER``; the
other entries follow in registration order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flo_spark.queries import (
    load,
    query,
)

__all__ = [
    "multimodal_wav_roundtrip",
    "multimodal_bmp_roundtrip",
    "multimodal_png_roundtrip",
    "multimodal_tiff_roundtrip",
    "multimodal_au_roundtrip",
    "multimodal_gif_roundtrip",
    "multimodal_flac_roundtrip",
    "multimodal_png_adam7_roundtrip",
    "multimodal_pnm16_roundtrip",
    "multimodal_jpeg_roundtrip",
    "multimodal_qoi_roundtrip",
    "multimodal_y4m_roundtrip",
    "multimodal_tga_roundtrip",
    "multimodal_avi_roundtrip",
    "multimodal_pcx_roundtrip",
    "multimodal_ras_roundtrip",
    "multimodal_webp_roundtrip",
    "binaryfile_asset_scan",
    "multimodal_ico_roundtrip",
    "multimodal_gif_anim_roundtrip",
    "multimodal_exif_metadata",
]


@query(
    "multimodal_wav_roundtrip",
    """
    WITH d AS (SELECT doc_id, least(n_chars, 64) AS n FROM documents),
    s AS (SELECT doc_id, unnest(range(1, n + 1)) AS i FROM d WHERE n > 0)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum((doc_id * i) % 256) AS BIGINT) AS sum_bytes
    FROM s GROUP BY doc_id
    """,
)
def multimodal_wav_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, hash-checked: synthesize an 8-bit PCM WAV per
    document whose samples are the deterministic bytes (doc_id*i) % 256,
    encode it with the stdlib ``wave`` writer, decode it back through
    ``decode_audio`` (the engine's real WAV decoder), and reconstruct
    the byte values from the normalized float samples.  8-bit samples
    map to exact binary fractions ((b-128)/128), so the encode->decode
    round trip is lossless and the oracle can compute the same sums
    straight from the formula — any decoder defect (offset, scale,
    channel, width) breaks the hash.

    Scale shape: one mapInPandas over documents (codec work is
    per-row, embarrassingly parallel), partial-agg-free since the UDF
    already emits one row per doc."""
    import io
    import wave as wave_mod

    from collections.abc import Iterator

    import pandas as pd

    from flo_spark.operators.multimodal import decode_audio

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.least(F.col("n_chars"), F.lit(64)).alias("n")
    ).filter(F.col("n") > 0)

    def _roundtrip(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            out = {"doc_id": [], "n_samples": [], "sum_bytes": []}
            for doc_id, n in zip(pdf.doc_id, pdf.n):
                vals = (int(doc_id) * np.arange(1, int(n) + 1)) % 256
                buf = io.BytesIO()
                with wave_mod.open(buf, "wb") as wf:
                    wf.setnchannels(1)
                    wf.setsampwidth(1)  # unsigned 8-bit PCM
                    wf.setframerate(8000)
                    wf.writeframes(vals.astype(np.uint8).tobytes())
                samples, rate = decode_audio(buf.getvalue())
                assert rate == 8000 and samples.shape[1] == 1
                rebuilt = np.rint(samples[:, 0] * 128.0 + 128.0).astype(np.int64)
                out["doc_id"].append(int(doc_id))
                out["n_samples"].append(int(rebuilt.size))
                out["sum_bytes"].append(int(rebuilt.sum()))
            yield pd.DataFrame(out)

    schema = "doc_id long, n_samples long, sum_bytes long"
    return docs.mapInPandas(_roundtrip, schema=schema)


@query(
    "multimodal_bmp_roundtrip",
    """
    WITH s AS (
      SELECT doc_id, unnest(range(0, 96)) AS i FROM documents
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_channels,
           CAST(sum((doc_id + i) % 256) AS BIGINT) AS sum_pixels
    FROM s GROUP BY doc_id
    """,
)
def multimodal_bmp_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, hash-checked (the BMP twin of
    ``multimodal_wav_roundtrip``): per document build an 8x4 24-bit
    BI_RGB BMP whose RGB channel values are the deterministic bytes
    (doc_id + i) % 256 (i = row-major channel index), serialize it
    with the actual BMP container layout (bottom-up rows, BGR order,
    4-byte stride padding), decode through ``decode_image``, and sum
    the recovered channels.  The oracle computes the same sums from
    the formula — a decoder defect in row order, channel order, stride
    handling, or offset parsing breaks the value hash."""
    import struct

    from collections.abc import Iterator

    import pandas as pd

    from flo_spark.operators.multimodal import decode_image

    W, H = 8, 4

    def _roundtrip(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        data_offset = 14 + 40
        stride = (W * 3 + 3) & ~3
        info = struct.pack(
            "<IiiHHIIiiII", 40, W, H, 1, 24, 0, stride * H, 0, 0, 0, 0
        )
        for pdf in it:
            out = {"doc_id": [], "n_channels": [], "sum_pixels": []}
            for doc_id in pdf.doc_id:
                rgb = (
                    (int(doc_id) + np.arange(W * H * 3)) % 256
                ).astype(np.uint8).reshape(H, W, 3)
                rows = b""
                for y in range(H - 1, -1, -1):  # bottom-up
                    row = rgb[y][:, ::-1].tobytes()  # RGB -> BGR
                    rows += row + b"\x00" * (stride - len(row))
                header = struct.pack(
                    "<2sIHHI", b"BM", data_offset + len(rows), 0, 0, data_offset
                )
                arr = decode_image(header + info + rows)
                assert arr.shape == (H, W, 3)
                out["doc_id"].append(int(doc_id))
                out["n_channels"].append(int(arr.size))
                out["sum_pixels"].append(int(arr.astype(np.int64).sum()))
            yield pd.DataFrame(out)

    docs = load(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(_roundtrip, "doc_id long, n_channels long, sum_pixels long")


@query(
    "multimodal_png_roundtrip",
    """
    WITH s AS (
      SELECT doc_id, unnest(range(0, 120)) AS i FROM documents
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_channels,
           CAST(sum((doc_id * 7 + i) % 256) AS BIGINT) AS sum_pixels
    FROM s GROUP BY doc_id
    """,
)
def multimodal_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-image decode, hash-checked (the PNG sibling of
    ``multimodal_bmp_roundtrip``): per document build an 8x5 8-bit RGB
    PNG whose channel values are the deterministic bytes
    (doc_id*7 + i) % 256 (i = row-major channel index), encode it with
    the actual PNG container (IHDR/IDAT/IEND chunks, zlib deflate, and
    scanline filter y%5 so every filter type 0-4 — none/sub/up/
    average/paeth — is exercised in every image), decode through
    ``decode_image`` (the engine's pure-stdlib PNG decoder,
    operators/multimodal.py::_decode_png), and sum the recovered
    channels.  The oracle computes the same sums from the formula — a
    defect in chunk walking, inflate handling, or any of the five
    unfilter recurrences breaks the value hash."""
    import struct
    import zlib

    from collections.abc import Iterator

    import pandas as pd

    from flo_spark.operators.multimodal import decode_image

    W, H = 8, 5  # 5 rows => each filter type used exactly once

    def _roundtrip(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def chunk(ctype: bytes, body: bytes) -> bytes:
            return (
                struct.pack(">I", len(body))
                + ctype
                + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
            )

        ihdr = chunk(b"IHDR", struct.pack(">IIBBBBB", W, H, 8, 2, 0, 0, 0))
        bpp = 3
        for pdf in it:
            out = {"doc_id": [], "n_channels": [], "sum_pixels": []}
            for doc_id in pdf.doc_id:
                rgb = (
                    (int(doc_id) * 7 + np.arange(W * H * 3)) % 256
                ).astype(np.uint8).reshape(H, W, 3)
                raw = bytearray()
                prev = np.zeros(W * bpp, dtype=np.int32)
                for y in range(H):
                    cur = rgb[y].reshape(-1).astype(np.int32)
                    left = np.concatenate([np.zeros(bpp, np.int32), cur[:-bpp]])
                    f = y % 5
                    if f == 0:
                        filt = cur
                    elif f == 1:  # sub
                        filt = (cur - left) & 0xFF
                    elif f == 2:  # up
                        filt = (cur - prev) & 0xFF
                    elif f == 3:  # average
                        filt = (cur - ((left + prev) >> 1)) & 0xFF
                    else:  # paeth
                        diag = np.concatenate(
                            [np.zeros(bpp, np.int32), prev[:-bpp]]
                        )
                        p = left + prev - diag
                        pa = abs(p - left)
                        pb = abs(p - prev)
                        pc = abs(p - diag)
                        pred = np.where(
                            (pa <= pb) & (pa <= pc),
                            left,
                            np.where(pb <= pc, prev, diag),
                        )
                        filt = (cur - pred) & 0xFF
                    raw += bytes([f]) + filt.astype(np.uint8).tobytes()
                    prev = cur
                png = (
                    b"\x89PNG\r\n\x1a\n"
                    + ihdr
                    + chunk(b"IDAT", zlib.compress(bytes(raw)))
                    + chunk(b"IEND", b"")
                )
                arr = decode_image(png)
                assert arr.shape == (H, W, 3)
                out["doc_id"].append(int(doc_id))
                out["n_channels"].append(int(arr.size))
                out["sum_pixels"].append(int(arr.astype(np.int64).sum()))
            yield pd.DataFrame(out)

    docs = load(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(_roundtrip, "doc_id long, n_channels long, sum_pixels long")


@query(
    "multimodal_tiff_roundtrip",
    """
    WITH s AS (
      SELECT doc_id, unnest(range(0, 72)) AS i FROM documents
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_channels,
           CAST(sum((doc_id * 11 + i) % 256) AS BIGINT) AS sum_pixels
    FROM s GROUP BY doc_id
    """,
)
def multimodal_tiff_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL TIFF decode, hash-checked (the TIFF sibling of the
    BMP/PNG round trips): per document assemble a baseline
    uncompressed 6x4 RGB TIFF — little-endian for even doc ids,
    BIG-endian for odd, so both byte orders are exercised in every
    run — with 2-row strips (multi-strip assembly) and offset-stored
    multi-value tags (BitsPerSample, strip arrays), channel values
    (doc_id*11 + i) % 256; decode through ``decode_image`` (the
    engine's native IFD walker) and sum the recovered channels.  The
    oracle computes the same sums from the formula — a defect in tag
    parsing, endianness, strip concatenation, or geometry breaks the
    hash."""
    from collections.abc import Iterator

    import pandas as pd

    from flo_spark.operators.multimodal import (
        decode_image,
        encode_tiff_baseline,
    )

    W, H, C = 6, 4, 3

    def _roundtrip(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            out = {"doc_id": [], "n_channels": [], "sum_pixels": []}
            for doc_id in pdf.doc_id:
                arr = (
                    (int(doc_id) * 11 + np.arange(W * H * C)) % 256
                ).astype(np.uint8).reshape(H, W, C)
                bo = "<" if doc_id % 2 == 0 else ">"
                got = decode_image(
                    encode_tiff_baseline(arr, bo, rows_per_strip=2)
                )
                out["doc_id"].append(int(doc_id))
                out["n_channels"].append(int(got.size))
                out["sum_pixels"].append(int(got.astype(np.int64).sum()))
            yield pd.DataFrame(out)

    d = load(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        _roundtrip, "doc_id long, n_channels long, sum_pixels long"
    )


@query(
    "multimodal_au_roundtrip",
    """
    WITH s AS (
      SELECT doc_id, unnest(range(0, 50)) AS i FROM documents
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum((doc_id * 13 + i * 31) % 65536 - 32768) AS BIGINT)
               AS sum_samples
    FROM s GROUP BY doc_id
    """,
)
def multimodal_au_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Sun AU decode, hash-checked: per document 50 deterministic
    16-bit samples ((doc_id*13 + i*31) % 65536 - 32768) encode into a
    big-endian .snd container (encoding 3), decode through
    ``decode_audio``, and the recovered floats multiply back to the
    exact integers (int16/32768 is exactly representable in float32).
    The oracle computes the same sums from the formula — a header,
    endianness, or normalization defect breaks the hash."""
    import struct

    from collections.abc import Iterator

    import pandas as pd

    from flo_spark.operators.multimodal import decode_audio

    N = 50

    def _roundtrip(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            out = {"doc_id": [], "n_samples": [], "sum_samples": []}
            for doc_id in pdf.doc_id:
                pcm = (
                    (int(doc_id) * 13 + np.arange(N) * 31) % 65536 - 32768
                ).astype(np.int16)
                body = pcm.astype(">i2").tobytes()
                au = (
                    struct.pack(
                        ">4sIIIII", b".snd", 24, len(body), 3, 8000, 1
                    )
                    + body
                )
                samples, _rate = decode_audio(au)
                ints = np.round(samples[:, 0] * 32768.0).astype(np.int64)
                out["doc_id"].append(int(doc_id))
                out["n_samples"].append(int(len(ints)))
                out["sum_samples"].append(int(ints.sum()))
            yield pd.DataFrame(out)

    d = load(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        _roundtrip, "doc_id long, n_samples long, sum_samples long"
    )


@query(
    "multimodal_gif_roundtrip",
    """
    WITH s AS (
      SELECT doc_id, unnest(range(0, 48)) AS i FROM documents
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_pixels,
           CAST(sum((doc_id * 5 + i) % 8) AS BIGINT) AS sum_indices
    FROM s GROUP BY doc_id
    """,
)
def multimodal_gif_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode, hash-checked: per document an 8x6 paletted
    image with indices (doc_id*5 + i) % 8 encodes through the actual
    GIF89a container — greedy LZW with dictionary growth and
    code-width changes — and decodes through ``decode_image``'s
    from-spec LZW implementation; the palette maps index k to
    (k, 2k, 3k) so the recovered index is R, and summing it per doc
    must reproduce the generating formula.  A defect anywhere in the
    LZW bit unpacking, dictionary maintenance (incl. the KwKwK case),
    sub-block reassembly, or palette application breaks the hash."""
    from collections.abc import Iterator

    import pandas as pd

    from flo_spark.operators.multimodal import decode_image, encode_gif

    W, H = 8, 6
    PALETTE = [(k, 2 * k, 3 * k) for k in range(8)]

    def _roundtrip(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            out = {"doc_id": [], "n_pixels": [], "sum_indices": []}
            for doc_id in pdf.doc_id:
                idx = (
                    (int(doc_id) * 5 + np.arange(W * H)) % 8
                ).astype(np.uint8).reshape(H, W)
                got = decode_image(encode_gif(idx, PALETTE))
                out["doc_id"].append(int(doc_id))
                out["n_pixels"].append(int(got.shape[0] * got.shape[1]))
                # channel R IS the palette index by construction
                out["sum_indices"].append(int(got[:, :, 0].astype(np.int64).sum()))
            yield pd.DataFrame(out)

    d = load(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        _roundtrip, "doc_id long, n_pixels long, sum_indices long"
    )


@query(
    "multimodal_flac_roundtrip",
    """
    WITH s AS (
      SELECT doc_id, unnest(range(0, 200)) AS i FROM documents
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum((doc_id * 37 + i * i) % 4096 - 2048) AS BIGINT)
               AS sum_samples
    FROM s GROUP BY doc_id
    """,
)
def multimodal_flac_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL FLAC encode+decode, hash-checked: FLAC is LOSSLESS, so the
    native codec (operators/flac.py — fixed predictors, Rice coding,
    CRC-8/16 + STREAMINFO MD5 verification) can be verified through
    exact integers, unlike lossy formats.  Per document 200
    deterministic 16-bit samples ((doc_id*37 + i*i) % 4096 - 2048, a
    quadratic residue pattern the order-2 fixed predictor compresses)
    encode to a framed FLAC stream (block_size=64 forces multiple
    frames + coded frame numbers per doc), decode back through
    ``decode_audio`` (sniffed by the fLaC marker), and the float32
    samples multiply back to the exact integers.  The oracle computes
    the same sums from the formula — a predictor, Rice, framing, CRC,
    or normalization defect breaks the value hash.

    100 TB shape: one mapInPandas pass, partition-preserving, no
    shuffle; codec work is per-row CPU inside the Arrow batch."""
    from collections.abc import Iterator

    import pandas as pd

    from flo_spark.operators.flac import encode_flac
    from flo_spark.operators.multimodal import decode_audio

    N = 200

    def _roundtrip(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        i = np.arange(N, dtype=np.int64)
        for pdf in it:
            out = {"doc_id": [], "n_samples": [], "sum_samples": []}
            for doc_id in pdf.doc_id:
                pcm = ((int(doc_id) * 37 + i * i) % 4096 - 2048).astype(
                    np.int16
                )
                buf = encode_flac(pcm, rate=16000, block_size=64)
                samples, rate = decode_audio(buf)
                assert rate == 16000
                ints = np.round(samples[:, 0] * 32768.0).astype(np.int64)
                out["doc_id"].append(int(doc_id))
                out["n_samples"].append(int(len(ints)))
                out["sum_samples"].append(int(ints.sum()))
            yield pd.DataFrame(out)

    d = load(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        _roundtrip, "doc_id long, n_samples long, sum_samples long"
    )


@query(
    "multimodal_png_adam7_roundtrip",
    """
    WITH s AS (
      SELECT doc_id, unnest(range(0, 297)) AS i FROM documents
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_channels,
           CAST(sum((doc_id * 11 + i * 3) % 256) AS BIGINT) AS sum_pixels
    FROM s GROUP BY doc_id
    """,
)
def multimodal_png_adam7_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adam7-INTERLACED PNG decode, hash-checked through real container
    bytes (the non-interlaced sibling is ``multimodal_png_roundtrip``):
    per document an 11x9 RGB image — odd dimensions so every one of the
    seven passes has a ragged edge subimage — whose channel values are
    (doc_id*11 + i*3) % 256, encoded with a real Adam7 encoder (passes
    extracted on the 8x8 sampling grid, each pass filtered
    INDEPENDENTLY with filter type (pass + y) % 5 so all five filters
    hit interlaced data, zlib deflate over the concatenated passes),
    decoded through ``decode_image`` (operators/multimodal.py::
    _decode_png), and the recovered channels summed.  The oracle
    computes the same sums from the formula — a pass-geometry,
    scatter, or per-pass unfilter defect breaks the value hash.

    100 TB shape: one partition-preserving mapInPandas pass."""
    import struct
    import zlib

    from collections.abc import Iterator

    import pandas as pd

    from flo_spark.operators.multimodal import _ADAM7, decode_image

    W, H, C = 11, 9, 3

    def _filter_scanlines(img, f0):
        import numpy as np

        h, w, c = img.shape
        bpp = c
        raw = bytearray()
        prev = np.zeros(w * bpp, dtype=np.int32)
        for y in range(h):
            cur = img[y].reshape(-1).astype(np.int32)
            left = np.concatenate([np.zeros(bpp, np.int32), cur[:-bpp]])
            f = (f0 + y) % 5
            if f == 0:
                filt = cur
            elif f == 1:
                filt = (cur - left) & 0xFF
            elif f == 2:
                filt = (cur - prev) & 0xFF
            elif f == 3:
                filt = (cur - ((left + prev) >> 1)) & 0xFF
            else:
                diag = np.concatenate([np.zeros(bpp, np.int32), prev[:-bpp]])
                p = left + prev - diag
                pa, pb, pc = abs(p - left), abs(p - prev), abs(p - diag)
                pred = np.where(
                    (pa <= pb) & (pa <= pc),
                    left,
                    np.where(pb <= pc, prev, diag),
                )
                filt = (cur - pred) & 0xFF
            raw += bytes([f]) + filt.astype(np.uint8).tobytes()
            prev = cur
        return bytes(raw)

    def _roundtrip(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def chunk(ctype: bytes, body: bytes) -> bytes:
            return (
                struct.pack(">I", len(body))
                + ctype
                + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
            )

        ihdr = chunk(b"IHDR", struct.pack(">IIBBBBB", W, H, 8, 2, 0, 0, 1))
        for pdf in it:
            out = {"doc_id": [], "n_channels": [], "sum_pixels": []}
            for doc_id in pdf.doc_id:
                rgb = (
                    (int(doc_id) * 11 + np.arange(W * H * C) * 3) % 256
                ).astype(np.uint8).reshape(H, W, C)
                raw = bytearray()
                for p, (x0, y0, dx, dy) in enumerate(_ADAM7):
                    sub = rgb[y0::dy, x0::dx, :]
                    if sub.size == 0:
                        continue
                    raw += _filter_scanlines(sub, p)
                png = (
                    b"\x89PNG\r\n\x1a\n"
                    + ihdr
                    + chunk(b"IDAT", zlib.compress(bytes(raw)))
                    + chunk(b"IEND", b"")
                )
                arr = decode_image(png)
                assert arr.shape == (H, W, C)
                assert np.array_equal(arr, rgb)
                out["doc_id"].append(int(doc_id))
                out["n_channels"].append(int(arr.size))
                out["sum_pixels"].append(int(arr.astype(np.int64).sum()))
            yield pd.DataFrame(out)

    d = load(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        _roundtrip, "doc_id long, n_channels long, sum_pixels long"
    )


@query(
    "multimodal_pnm16_roundtrip",
    """
    WITH s AS (
      SELECT doc_id, unnest(range(0, 48)) AS i FROM documents
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum((doc_id * 257 + i * 1021) % 65536) AS BIGINT)
               AS sum_samples
    FROM s GROUP BY doc_id
    """,
)
def multimodal_pnm16_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-BIT netpbm decode, hash-checked: per document an 8x6 P5
    (binary graymap) with maxval 65535 — two-byte BIG-ENDIAN samples,
    the netpbm wide-raster rule — whose values are
    (doc_id*257 + i*1021) % 65536, plus a '# comment' line in the
    header so tokenizer comment handling is exercised on every image.
    Decoded through ``decode_image`` (operators/multimodal.py::
    _decode_ppm, the maxval > 255 branch) and summed as exact
    integers; the oracle recomputes the sums from the formula — an
    endianness or header-tokenizer defect breaks the hash.

    100 TB shape: one partition-preserving mapInPandas pass."""
    from collections.abc import Iterator

    import pandas as pd

    from flo_spark.operators.multimodal import decode_image

    W, H = 8, 6

    def _roundtrip(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            out = {"doc_id": [], "n_samples": [], "sum_samples": []}
            for doc_id in pdf.doc_id:
                vals = (
                    (int(doc_id) * 257 + np.arange(W * H) * 1021) % 65536
                ).astype(np.uint16)
                header = b"P5\n# 16-bit fixture\n%d %d\n65535\n" % (W, H)
                pgm = header + vals.astype(">u2").tobytes()
                arr = decode_image(pgm)
                assert arr.shape == (H, W, 1) and arr.dtype == np.uint16
                out["doc_id"].append(int(doc_id))
                out["n_samples"].append(int(arr.size))
                out["sum_samples"].append(int(arr.astype(np.int64).sum()))
            yield pd.DataFrame(out)

    d = load(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        _roundtrip, "doc_id long, n_samples long, sum_samples long"
    )


@query(
    "multimodal_jpeg_roundtrip",
    """
    WITH s AS (
      SELECT doc_id, unnest(range(0, 6)) AS b FROM documents
    )
    SELECT doc_id,
           CAST(count(*) * 64 AS BIGINT) AS n_pixels,
           CAST(sum(64 * (128 + 2 * ((doc_id * 13 + b * 7) % 120 - 60)))
                AS BIGINT) AS sum_pixels
    FROM s GROUP BY doc_id
    """,
)
def multimodal_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline JPEG encode+decode, hash-checked through the one
    input class the format preserves EXACTLY: constant 8x8 blocks whose
    value offset from 128 is even, so the DC coefficient 8*(v - 128)
    is a multiple of the quality-50 luminance Q(0,0) = 16 and
    quantization is lossless (AC coefficients are identically zero;
    the IDCT of a DC-only block is flat).  Per document a 16x24
    grayscale image of six such blocks (v = 128 + 2*((doc_id*13 +
    b*7) % 120 - 60), spanning [8, 248] and forcing signed DC deltas
    between blocks) goes through the native codec
    (operators/jpeg.py — markers, Annex K tables, canonical Huffman
    with byte stuffing, DCT) and every pixel must come back
    bit-for-bit; the oracle computes the block sums from the formula.
    Lossy-path behavior (gradients, 4:2:0, restarts, progressive
    refusal) is pinned in tests/test_jpeg.py where tolerances belong.

    100 TB shape: one partition-preserving mapInPandas pass."""
    from collections.abc import Iterator

    import pandas as pd

    from flo_spark.operators.jpeg import encode_jpeg_baseline
    from flo_spark.operators.multimodal import decode_image

    def _roundtrip(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            out = {"doc_id": [], "n_pixels": [], "sum_pixels": []}
            for doc_id in pdf.doc_id:
                img = np.zeros((16, 24), dtype=np.uint8)
                for b in range(6):
                    v = 128 + 2 * ((int(doc_id) * 13 + b * 7) % 120 - 60)
                    by, bx = divmod(b, 3)
                    img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = v
                arr = decode_image(encode_jpeg_baseline(img, quality=50))
                assert arr.shape == (16, 24, 1)
                assert np.array_equal(arr[:, :, 0], img), int(doc_id)
                out["doc_id"].append(int(doc_id))
                out["n_pixels"].append(int(arr.size))
                out["sum_pixels"].append(int(arr.astype(np.int64).sum()))
            yield pd.DataFrame(out)

    d = load(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        _roundtrip, "doc_id long, n_pixels long, sum_pixels long"
    )


@query(
    "multimodal_qoi_roundtrip",
    """
    WITH s AS (
      SELECT doc_id, unnest(range(0, 128)) AS i FROM documents
    ),
    p AS (
      SELECT doc_id, i,
             (doc_id * 3 + i // 4) % 256 AS v,
             (i % 32 = 31) AS mark
      FROM s
    ),
    rgb AS (
      SELECT doc_id,
             CASE WHEN mark THEN 250 ELSE v END AS r,
             CASE WHEN mark THEN 13
                  WHEN i < 64 THEN v ELSE (v * 7) % 256 END AS g,
             CASE WHEN mark THEN 77
                  WHEN i < 64 THEN v ELSE (v * 13) % 256 END AS b
      FROM p
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pixels,
           CAST(sum(r + g + b) AS BIGINT) AS sum_rgb
    FROM rgb GROUP BY doc_id
    """,
)
def multimodal_qoi_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL QOI round trip, hash-checked: per document a 16x8 RGB
    image encodes through the actual QOI container (qoiformat.org
    public spec) and decodes back through ``decode_image``; summing
    the recovered channels must reproduce the generating formula.

    The image is built to hit every QOI op: a gray first half in
    width-4 plateaus (RUN inside a plateau, wrapped +-1 DIFF at each
    step), a color-separated second half with per-step channel deltas
    of +1/+7/+13 (LUMA), fixed marker pixels every 32 px (large jumps
    = RGB ops; their recurrence = INDEX hits on the 64-entry running
    palette).  A defect anywhere in run folding, the wraparound diff
    arithmetic, the luma pack, or the index hash breaks the hash.

    100 TB shape: identical to the other media round trips — one
    Arrow-batched mapInPandas stage, no shuffle (the groupBy is
    batch-local by construction: each doc's pixels never leave its
    batch), binary payloads opaque to the scan."""
    from collections.abc import Iterator

    import pandas as pd

    from flo_spark.operators.multimodal import decode_image, encode_qoi

    W, H = 16, 8

    def _roundtrip(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        i = np.arange(W * H)
        for pdf in it:
            out = {"doc_id": [], "n_pixels": [], "sum_rgb": []}
            for doc_id in pdf.doc_id:
                v = (int(doc_id) * 3 + i // 4) % 256
                r = v.copy()
                g = np.where(i < 64, v, (v * 7) % 256)
                b = np.where(i < 64, v, (v * 13) % 256)
                mark = i % 32 == 31
                r[mark], g[mark], b[mark] = 250, 13, 77
                img = np.stack([r, g, b], axis=1).astype(np.uint8)
                got = decode_image(encode_qoi(img.reshape(H, W, 3)))
                out["doc_id"].append(int(doc_id))
                out["n_pixels"].append(int(got.shape[0] * got.shape[1]))
                out["sum_rgb"].append(int(got.astype(np.int64).sum()))
            yield pd.DataFrame(out)

    d = load(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        _roundtrip, "doc_id long, n_pixels long, sum_rgb long"
    )


@query(
    "multimodal_y4m_roundtrip",
    """
    WITH fr AS (
      SELECT doc_id, unnest([0, 1, 2]) AS frame_idx FROM documents
    ),
    y AS (
      SELECT doc_id, frame_idx,
             sum((doc_id * 7 + frame_idx * 13 + i) % 256) AS sum_y
      FROM (SELECT doc_id, frame_idx, unnest(range(0, 48)) AS i FROM fr)
      GROUP BY doc_id, frame_idx
    ),
    uv AS (
      SELECT doc_id, frame_idx,
             sum((doc_id * 3 + frame_idx * 5 + 2 * i) % 256) AS sum_u,
             sum((doc_id * 5 + frame_idx * 7 + 3 * i) % 256) AS sum_v
      FROM (SELECT doc_id, frame_idx, unnest(range(0, 12)) AS i FROM fr)
      GROUP BY doc_id, frame_idx
    )
    SELECT y.doc_id, CAST(y.frame_idx AS INT) AS frame_idx,
           CAST(sum_y AS BIGINT) AS sum_y,
           CAST(sum_u AS BIGINT) AS sum_u,
           CAST(sum_v AS BIGINT) AS sum_v
    FROM y JOIN uv ON y.doc_id = uv.doc_id AND y.frame_idx = uv.frame_idx
    """,
)
def multimodal_y4m_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL VIDEO decode, hash-checked — the first moving-picture
    container in the multimodal matrix: per document a 3-frame 8x6
    YUV4MPEG2 (Y4M — ffmpeg/mjpegtools' standard raw-video
    interchange format) stream is assembled with deterministic planar
    C420 content (Y[i] = (doc*7 + frame*13 + i) % 256, U/V from
    sibling formulas on the quarter-size chroma planes), encoded into
    actual container bytes (stream header + per-frame FRAME markers),
    decoded back through ``decode_video``'s header/plane-geometry
    parser, and reduced to per-frame plane sums.  The oracle computes
    the same sums from the generating formula — a header-parse,
    chroma-subsampling-geometry, or frame-boundary defect breaks the
    hash.  Codec formats (H.264/VP9) refuse loudly behind
    ``decode_video``; frame-rate/interlace/aspect tokens are parsed
    and carried (tests/test_media_decode.py).

    100 TB shape: one Arrow-batched mapInPandas stage, frame fan-out
    inside the batch (no shuffle, no skew amplification — the
    sample_frames discipline); real codec work would slot into the
    same batch loop.  Reference scope: flo stores opaque binary
    payloads (flo-event/src/lib.rs:185-204); decode is a north-star
    extension (SURVEY §2 Part B multimodal)."""
    from collections.abc import Iterator

    import pandas as pd

    from flo_spark.operators.multimodal import decode_video, encode_y4m

    def _roundtrip(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            out = {
                "doc_id": [],
                "frame_idx": [],
                "sum_y": [],
                "sum_u": [],
                "sum_v": [],
            }
            iy = np.arange(48, dtype=np.int64)
            ic = np.arange(12, dtype=np.int64)
            for doc_id in pdf.doc_id:
                d = int(doc_id)
                frames = []
                for f in range(3):
                    yp = ((d * 7 + f * 13 + iy) % 256).astype(
                        np.uint8
                    ).reshape(6, 8)
                    up = ((d * 3 + f * 5 + 2 * ic) % 256).astype(
                        np.uint8
                    ).reshape(3, 4)
                    vp = ((d * 5 + f * 7 + 3 * ic) % 256).astype(
                        np.uint8
                    ).reshape(3, 4)
                    frames.append((yp, up, vp))
                payload = encode_y4m(frames, colorspace="420")
                decoded, meta = decode_video(payload)
                assert meta["n_frames"] == 3 and meta["width"] == 8
                for f, (yp, up, vp) in enumerate(decoded):
                    out["doc_id"].append(d)
                    out["frame_idx"].append(f)
                    out["sum_y"].append(int(yp.astype(np.int64).sum()))
                    out["sum_u"].append(int(up.astype(np.int64).sum()))
                    out["sum_v"].append(int(vp.astype(np.int64).sum()))
            yield pd.DataFrame(out)

    d = load(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        _roundtrip,
        "doc_id long, frame_idx int, sum_y long, sum_u long, sum_v long",
    )


@query(
    "multimodal_tga_roundtrip",
    """
    WITH s AS (
      SELECT doc_id, unnest(range(0, 128)) AS i FROM documents
    ),
    rgb AS (
      SELECT doc_id,
             CASE WHEN i % 16 < 6 THEN (doc_id * 5) % 256
                  ELSE (doc_id + i * 11) % 256 END AS r,
             CASE WHEN i % 16 < 6 THEN (doc_id * 5 + 1) % 256
                  ELSE (i * 29 + 3) % 256 END AS g,
             CASE WHEN i % 16 < 6 THEN (doc_id * 5 + 2) % 256
                  ELSE (doc_id * 7 + i * 53) % 256 END AS b
      FROM s
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pixels,
           CAST(sum(r + g + b) AS BIGINT) AS sum_rgb
    FROM rgb GROUP BY doc_id
    """,
)
def multimodal_tga_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Truevision TGA round trip, hash-checked: per document a
    16x8 RGB image encodes through an actual RLE true-color TGA 2.0
    container (type 10, BGR storage, top-left origin, footer
    signature) and decodes back through ``decode_image``; summing the
    recovered channels must reproduce the generating formula.  Each
    scanline's first 6 pixels are a constant color (folded into RLE
    run packets) and the rest vary per pixel (raw packets), so both
    packet kinds, the 128-pixel cap logic, and the BGR<->RGB swap are
    on the hash path.  The decoder's color-mapped/16-bit/bottom-up
    variants are unit-tested in tests/test_media_decode.py.

    100 TB shape: identical to the other media round trips — one
    Arrow-batched mapInPandas stage, no shuffle (the groupBy is
    batch-local by construction), binary payloads opaque to the
    scan."""
    from collections.abc import Iterator

    import pandas as pd

    from flo_spark.operators.multimodal import decode_image, encode_tga

    W, H = 16, 8

    def _roundtrip(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        i = np.arange(W * H)
        run = i % 16 < 6
        for pdf in it:
            out = {"doc_id": [], "n_pixels": [], "sum_rgb": []}
            for doc_id in pdf.doc_id:
                d = int(doc_id)
                r = np.where(run, (d * 5) % 256, (d + i * 11) % 256)
                g = np.where(run, (d * 5 + 1) % 256, (i * 29 + 3) % 256)
                b = np.where(run, (d * 5 + 2) % 256, (d * 7 + i * 53) % 256)
                img = (
                    np.stack([r, g, b], axis=1)
                    .astype(np.uint8)
                    .reshape(H, W, 3)
                )
                got = decode_image(encode_tga(img, rle=True))
                out["doc_id"].append(d)
                out["n_pixels"].append(int(got.shape[0] * got.shape[1]))
                out["sum_rgb"].append(int(got.astype(np.int64).sum()))
            yield pd.DataFrame(out)

    d = load(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        _roundtrip, "doc_id long, n_pixels long, sum_rgb long"
    )


@query(
    "multimodal_avi_roundtrip",
    """
    WITH fr AS (
      SELECT doc_id, unnest([0, 1, 2]) AS frame_idx FROM documents
    ),
    px AS (
      SELECT doc_id, frame_idx, unnest(range(0, 48)) AS i FROM fr
    ),
    s AS (
      SELECT doc_id, frame_idx,
             sum((doc_id * 11 + frame_idx * 17 + i) % 256
                 + (doc_id * 13 + frame_idx * 19 + 2 * i) % 256
                 + (doc_id * 17 + frame_idx * 23 + 3 * i) % 256)
               AS sum_rgb
      FROM px GROUP BY doc_id, frame_idx
    )
    SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(48 AS BIGINT) AS n_pixels,
           CAST(sum_rgb AS BIGINT) AS sum_rgb
    FROM s
    """,
)
def multimodal_avi_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL AVI round trip, hash-checked — the second moving-picture
    container after Y4M, this one a structured RIFF chunk tree rather
    than a byte stream: per document a 3-frame 8x6 RGB video
    (R = (doc*11 + frame*17 + i) % 256, G/B from sibling formulas)
    encodes through an actual AVI file — MainAVIHeader,
    AVIStreamHeader, BITMAPINFOHEADER, 'movi' LIST of 00db DIB chunks
    (bottom-up BGR rows padded to 4-byte stride; width 6 forces real
    padding), idx1 keyframe index — and decodes back through
    ``decode_video``'s RIFF walker.  Per-frame pixel sums must
    reproduce the generating formula: a chunk-size, stride-padding,
    row-order, or BGR-swap defect breaks the hash.  Top-down DIBs,
    32-bit BGRX frames, and compressed-stream refusal are unit-tested
    in tests/test_media_decode.py.

    100 TB shape: identical to the other media round trips — one
    Arrow-batched mapInPandas stage, no shuffle (each doc's frames
    never leave its batch), binary payloads opaque to the scan."""
    from collections.abc import Iterator

    import pandas as pd

    from flo_spark.operators.multimodal import decode_video, encode_avi

    W, H, NF = 6, 8, 3

    def _roundtrip(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        i = np.arange(W * H)
        for pdf in it:
            out = {
                "doc_id": [],
                "frame_idx": [],
                "n_pixels": [],
                "sum_rgb": [],
            }
            for doc_id in pdf.doc_id:
                d = int(doc_id)
                frames = []
                for f in range(NF):
                    r = (d * 11 + f * 17 + i) % 256
                    g = (d * 13 + f * 19 + 2 * i) % 256
                    b = (d * 17 + f * 23 + 3 * i) % 256
                    frames.append(
                        np.stack([r, g, b], axis=1)
                        .astype(np.uint8)
                        .reshape(H, W, 3)
                    )
                got, meta = decode_video(encode_avi(frames))
                for f, fr in enumerate(got):
                    out["doc_id"].append(d)
                    out["frame_idx"].append(f)
                    out["n_pixels"].append(
                        int(fr.shape[0] * fr.shape[1])
                    )
                    out["sum_rgb"].append(int(fr.astype(np.int64).sum()))
            yield pd.DataFrame(out)

    docs = load(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(
        _roundtrip,
        "doc_id long, frame_idx int, n_pixels long, sum_rgb long",
    )


@query(
    "multimodal_pcx_roundtrip",
    """
    WITH s AS (
      SELECT doc_id, unnest(range(0, 128)) AS i FROM documents
    ),
    rgb AS (
      SELECT doc_id,
             CASE WHEN i % 16 < 5 THEN (doc_id * 3 + 200) % 256
                  ELSE (doc_id * 19 + i * 7) % 256 END AS r,
             CASE WHEN i % 16 < 5 THEN (doc_id * 3 + 201) % 256
                  ELSE (i * 31 + 5) % 256 END AS g,
             CASE WHEN i % 16 < 5 THEN (doc_id * 3 + 202) % 256
                  ELSE (doc_id * 23 + i * 43) % 256 END AS b
      FROM s
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pixels,
           CAST(sum(r + g + b) AS BIGINT) AS sum_rgb
    FROM rgb GROUP BY doc_id
    """,
)
def multimodal_pcx_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PCX round trip, hash-checked: per document a 16x8 RGB
    image encodes through an actual ZSoft PCX container (version 5,
    8-bit 3-plane, per-plane-row 0xC0 run-length encoding) and decodes
    back through ``decode_image``; channel sums must reproduce the
    generating formula.  Each scanline's first 5 pixels are constant
    (RLE runs) and the rest vary (literals, including values >= 0xC0
    that MUST be escaped as 1-runs — the classic PCX trap); palette
    trailers, even bytes-per-line padding, and refusal paths are
    unit-tested in tests/test_media_decode.py.

    100 TB shape: identical to the other media round trips — one
    Arrow-batched mapInPandas stage, no shuffle, binary payloads
    opaque to the scan."""
    from collections.abc import Iterator

    import pandas as pd

    from flo_spark.operators.multimodal import decode_image, encode_pcx

    W, H = 16, 8

    def _roundtrip(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        i = np.arange(W * H)
        run = i % 16 < 5
        for pdf in it:
            out = {"doc_id": [], "n_pixels": [], "sum_rgb": []}
            for doc_id in pdf.doc_id:
                d = int(doc_id)
                r = np.where(run, (d * 3 + 200) % 256, (d * 19 + i * 7) % 256)
                g = np.where(run, (d * 3 + 201) % 256, (i * 31 + 5) % 256)
                b = np.where(run, (d * 3 + 202) % 256, (d * 23 + i * 43) % 256)
                img = (
                    np.stack([r, g, b], axis=1)
                    .astype(np.uint8)
                    .reshape(H, W, 3)
                )
                got = decode_image(encode_pcx(img))
                out["doc_id"].append(d)
                out["n_pixels"].append(int(got.shape[0] * got.shape[1]))
                out["sum_rgb"].append(int(got.astype(np.int64).sum()))
            yield pd.DataFrame(out)

    docs = load(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(
        _roundtrip, "doc_id long, n_pixels long, sum_rgb long"
    )


@query(
    "multimodal_ras_roundtrip",
    """
    WITH s AS (
      SELECT doc_id, unnest(range(0, 105)) AS i FROM documents
    ),
    px AS (
      SELECT doc_id,
             CASE WHEN i % 15 < 4 THEN 128
                  ELSE (doc_id * 29 + i * 61) % 256 END AS v
      FROM s
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pixels,
           CAST(sum(v) AS BIGINT) AS sum_gray
    FROM px GROUP BY doc_id
    """,
)
def multimodal_ras_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Sun Raster round trip, hash-checked: per document a 15x7
    grayscale image (ODD width — forces the spec's 16-bit row
    padding) encodes through an actual type-2 byte-RLE rasterfile and
    decodes back through ``decode_image``; pixel sums must reproduce
    the generating formula.  The run plateau is 0x80 — the RLE escape
    byte itself — so the encoder's 0x80 0x00 literal escape and
    0x80 n v run form are both on the hash path; colormapped and raw
    variants are unit-tested in tests/test_media_decode.py.

    100 TB shape: identical to the other media round trips — one
    Arrow-batched mapInPandas stage, no shuffle, binary payloads
    opaque to the scan."""
    from collections.abc import Iterator

    import pandas as pd

    from flo_spark.operators.multimodal import decode_image, encode_ras

    W, H = 15, 7

    def _roundtrip(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        i = np.arange(W * H)
        for pdf in it:
            out = {"doc_id": [], "n_pixels": [], "sum_gray": []}
            for doc_id in pdf.doc_id:
                d = int(doc_id)
                v = np.where(i % 15 < 4, 128, (d * 29 + i * 61) % 256)
                img = v.astype(np.uint8).reshape(H, W)
                got = decode_image(encode_ras(img, rle=True))
                out["doc_id"].append(d)
                out["n_pixels"].append(int(got.shape[0] * got.shape[1]))
                out["sum_gray"].append(int(got.astype(np.int64).sum()))
            yield pd.DataFrame(out)

    docs = load(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(
        _roundtrip, "doc_id long, n_pixels long, sum_gray long"
    )


@query(
    "multimodal_webp_roundtrip",
    """
    WITH s AS (
      SELECT doc_id, unnest(range(0, 96)) AS i FROM documents
    ),
    rgb AS (
      SELECT doc_id,
             CASE WHEN i < 32 THEN (doc_id * 2) % 256
                  ELSE (doc_id * 31 + i * 11) % 256 END AS r,
             CASE WHEN i < 32 THEN (doc_id * 2 + 1) % 256
                  ELSE (i * 37 + 7) % 256 END AS g,
             CASE WHEN i < 32 THEN (doc_id * 2 + 2) % 256
                  ELSE (doc_id * 41 + i * 59) % 256 END AS b
      FROM s
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pixels,
           CAST(sum(r + g + b) AS BIGINT) AS sum_rgb
    FROM rgb GROUP BY doc_id
    """,
)
def multimodal_webp_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WebP-lossless round trip, hash-checked: per document a
    12x8 RGB image encodes through an actual RIFF/VP8L container
    (operators/webp.py — LSB-first bit packing, canonical prefix
    codes; channels with >2 distinct values go through the general
    code-length-code machinery with 16-repeat chains and the
    max-symbol shortcut for the 280-symbol green alphabet) and
    decodes back through ``decode_image``; channel sums must
    reproduce the generating formula.  The decoder's LZ77-backref and
    color-cache paths are pinned by HAND-BUILT feature streams in
    tests/test_media_decode.py (the literal-only encoder cannot emit
    them); VP8L transforms and lossy VP8 refuse loudly by name.

    100 TB shape: identical to the other media round trips — one
    Arrow-batched mapInPandas stage, no shuffle, binary payloads
    opaque to the scan."""
    from collections.abc import Iterator

    import pandas as pd

    from flo_spark.operators.webp import encode_webp_lossless
    from flo_spark.operators.multimodal import decode_image

    W, H = 12, 8

    def _roundtrip(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        i = np.arange(W * H)
        flat = i < 32
        for pdf in it:
            out = {"doc_id": [], "n_pixels": [], "sum_rgb": []}
            for doc_id in pdf.doc_id:
                d = int(doc_id)
                r = np.where(flat, (d * 2) % 256, (d * 31 + i * 11) % 256)
                g = np.where(flat, (d * 2 + 1) % 256, (i * 37 + 7) % 256)
                b = np.where(flat, (d * 2 + 2) % 256, (d * 41 + i * 59) % 256)
                img = (
                    np.stack([r, g, b], axis=1)
                    .astype(np.uint8)
                    .reshape(H, W, 3)
                )
                got = decode_image(encode_webp_lossless(img))
                out["doc_id"].append(d)
                out["n_pixels"].append(int(got.shape[0] * got.shape[1]))
                out["sum_rgb"].append(
                    int(got[..., :3].astype(np.int64).sum())
                )
            yield pd.DataFrame(out)

    docs = load(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(
        _roundtrip, "doc_id long, n_pixels long, sum_rgb long"
    )


@query(
    "binaryfile_asset_scan",
    """
    WITH d AS (
      SELECT doc_id FROM documents WHERE doc_id < 20
    ),
    s AS (
      SELECT doc_id, unnest(range(0, 64)) AS i FROM d
    ),
    px AS (
      SELECT doc_id, (doc_id * 7 + i * 3) % 256 AS v FROM s
    )
    SELECT doc_id, CAST(sum(v) AS BIGINT) AS sum_gray
    FROM px GROUP BY doc_id
    """,
)
def binaryfile_asset_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's ``binaryFile`` source as the multimodal ingestion path:
    per low-id document an 8x8 grayscale TGA file (formula pixels)
    lands on disk, the directory is scanned with
    format('binaryFile') + pathGlobFilter — path, length, and raw
    CONTENT columns, the canonical way image/audio corpora enter
    Spark — and the content bytes decode back through the native TGA
    codec in an Arrow-batched mapInPandas; per-file pixel sums must
    reproduce the formula.  The asset id travels IN the filename and
    is recovered by path parsing (regexp_extract), as real asset
    lakes do.

    100 TB shape: binaryFile scans parallelize per file and prune by
    glob before any read; decode is scan-stage Python over Arrow
    batches, no shuffle until the final aggregate; the one
    anti-pattern (tiny files) is exactly what small_file_compaction
    addresses upstream.  Reference scope: source extension (SURVEY §2
    Part B sources/sinks + multimodal)."""
    import os
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from flo_spark.operators.multimodal import decode_image, encode_tga
    from flo_spark.queries import scratch_dir

    tmp = scratch_dir("flo_binfile_")
    assets = f"{tmp}/assets"
    os.makedirs(assets, exist_ok=True)
    ids = [
        r[0]
        for r in load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 20)
        .select("doc_id")
        .collect()  # O(20) metadata collect: the asset id list
    ]
    i = np.arange(64)
    for d in ids:
        img = ((d * 7 + i * 3) % 256).astype(np.uint8).reshape(8, 8)
        with open(f"{assets}/doc_{d}.tga", "wb") as f:
            f.write(encode_tga(img))

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.tga")
        .load(assets)
        .select(
            F.regexp_extract(F.col("path"), r"doc_(\d+)\.tga", 1)
            .cast("long")
            .alias("doc_id"),
            "content",
        )
    )

    def _decode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"doc_id": [], "sum_gray": []}
            for d, blob in zip(pdf.doc_id, pdf.content):
                arr = decode_image(bytes(blob))
                out["doc_id"].append(int(d))
                out["sum_gray"].append(int(arr.astype(np.int64).sum()))
            yield pd.DataFrame(out)

    return files.mapInPandas(_decode, "doc_id long, sum_gray long")


@query(
    "multimodal_ico_roundtrip",
    """
    WITH s AS (
      SELECT doc_id, unnest(range(0, 64)) AS i FROM documents
    ),
    rgba AS (
      SELECT doc_id,
             (doc_id * 37 + i * 5) % 256 AS r,
             (i * 41 + 11) % 256 AS g,
             (doc_id * 43 + i * 67) % 256 AS b,
             CASE WHEN i % 8 = 7 THEN 0
                  ELSE (doc_id + i * 13) % 256 END AS a
      FROM s
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pixels,
           CAST(sum(r + g + b + a) AS BIGINT) AS sum_rgba
    FROM rgba GROUP BY doc_id
    """,
)
def multimodal_ico_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ICO round trip, hash-checked, alternating the container's
    two entry formats: even doc_ids encode as headerless DIB entries
    (doubled-height BITMAPINFOHEADER, bottom-up 32-bit BGRA XOR
    pixels, 1-bit AND mask), odd doc_ids as PNG-format entries
    (Vista+), both decoding through ``decode_image``'s ICONDIR
    parser — the DIB path exercises the doubled-height/mask
    arithmetic, the PNG path proves container COMPOSITION with the
    native PNG decoder.  Per-doc RGBA sums (alpha carries real data,
    with a planted transparent column) must reproduce the formula.
    Mask-driven transparency and refusals are unit-tested in
    tests/test_media_decode.py.

    100 TB shape: identical to the other media round trips — one
    Arrow-batched mapInPandas stage, no shuffle, binary payloads
    opaque to the scan."""
    from collections.abc import Iterator

    import pandas as pd

    from flo_spark.operators.multimodal import decode_image, encode_ico

    W, H = 8, 8

    def _roundtrip(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        i = np.arange(W * H)
        for pdf in it:
            out = {"doc_id": [], "n_pixels": [], "sum_rgba": []}
            for doc_id in pdf.doc_id:
                d = int(doc_id)
                r = (d * 37 + i * 5) % 256
                g = (i * 41 + 11) % 256
                b = (d * 43 + i * 67) % 256
                a = np.where(i % 8 == 7, 0, (d + i * 13) % 256)
                img = (
                    np.stack([r, g, b, a], axis=1)
                    .astype(np.uint8)
                    .reshape(H, W, 4)
                )
                got = decode_image(encode_ico(img, as_png=bool(d % 2)))
                out["doc_id"].append(d)
                out["n_pixels"].append(int(got.shape[0] * got.shape[1]))
                out["sum_rgba"].append(int(got.astype(np.int64).sum()))
            yield pd.DataFrame(out)

    docs = load(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(
        _roundtrip, "doc_id long, n_pixels long, sum_rgba long"
    )


@query(
    "multimodal_gif_anim_roundtrip",
    """
    WITH s AS (
      SELECT doc_id, unnest(range(0, 48)) AS i FROM documents
    ),
    f0 AS (SELECT doc_id, i, (doc_id + i) % 4 AS v FROM s),
    f1r AS (SELECT doc_id, i, (doc_id * 2 + i * 3) % 4 AS v FROM s),
    f2r AS (SELECT doc_id, i, (doc_id * 5 + i * 7) % 4 AS v FROM s),
    f1 AS (
      SELECT f1r.doc_id, f1r.i,
             CASE WHEN f1r.v = 3 THEN f0.v ELSE f1r.v END AS v
      FROM f1r JOIN f0 ON f0.doc_id = f1r.doc_id AND f0.i = f1r.i
    ),
    f2 AS (
      SELECT f2r.doc_id, f2r.i,
             CASE WHEN f2r.v = 3 THEN f1.v ELSE f2r.v END AS v
      FROM f2r JOIN f1 ON f1.doc_id = f2r.doc_id AND f1.i = f2r.i
    ),
    allf AS (
      SELECT doc_id, 0 AS frame_idx, v FROM f0
      UNION ALL SELECT doc_id, 1, v FROM f1
      UNION ALL SELECT doc_id, 2, v FROM f2
    )
    SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(sum(CASE v WHEN 0 THEN 10 WHEN 1 THEN 20
                    WHEN 2 THEN 30 ELSE 120 END) AS BIGINT) AS sum_rgb
    FROM allf GROUP BY doc_id, frame_idx
    """,
)
def multimodal_gif_anim_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ANIMATED GIF round trip, hash-checked through the GIF89a
    rendering model: per document three 8x6 indexed frames encode
    with per-frame Graphics Control Extensions (delays 10/20/30 cs,
    transparent index 3 on frames 1-2, disposal 1) and a NETSCAPE2.0
    loop block; ``decode_gif_frames`` COMPOSES each frame onto the
    canvas — a transparent pixel must show the prior frame — and the
    oracle replays the same compositing as chained CTEs (frame k's
    value = previous frame's where the raw index is 3).  A defect in
    GCE parsing, transparency masking, or canvas carry breaks the
    hash; the third moving-picture format after Y4M and AVI, and the
    only one with inter-frame state.

    100 TB shape: identical to the other media round trips — one
    Arrow-batched mapInPandas stage, no shuffle, binary payloads
    opaque to the scan."""
    from collections.abc import Iterator

    import pandas as pd

    from flo_spark.operators.multimodal import (
        decode_gif_frames,
        encode_gif_animation,
    )

    W, H = 8, 6
    PAL = [(1, 2, 7), (4, 6, 10), (9, 10, 11), (40, 40, 40)]
    CH = [10, 20, 30, 120]  # channel sums per palette entry

    def _roundtrip(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        i = np.arange(W * H)
        pal_sum = {tuple(PAL[k]): CH[k] for k in range(4)}
        for pdf in it:
            out = {"doc_id": [], "frame_idx": [], "sum_rgb": []}
            for doc_id in pdf.doc_id:
                d = int(doc_id)
                f0 = ((d + i) % 4).reshape(H, W)
                f1 = ((d * 2 + i * 3) % 4).reshape(H, W)
                f2 = ((d * 5 + i * 7) % 4).reshape(H, W)
                enc = encode_gif_animation(
                    [f0, f1, f2],
                    PAL,
                    delays_cs=[10, 20, 30],
                    transparent_index=3,
                )
                frames, meta = decode_gif_frames(enc)
                assert meta["delays_cs"] == [10, 20, 30]
                for k, fr in enumerate(frames):
                    total = int(fr.astype(np.int64).sum())
                    out["doc_id"].append(d)
                    out["frame_idx"].append(k)
                    out["sum_rgb"].append(total)
            yield pd.DataFrame(out)

    docs = load(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(
        _roundtrip, "doc_id long, frame_idx int, sum_rgb long"
    )


@query(
    "multimodal_exif_metadata",
    """
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS has_exif,
           CASE WHEN doc_id % 2 = 0 THEN 'cam' || CAST(doc_id % 5 AS VARCHAR)
                ELSE NULL END AS make,
           CASE WHEN doc_id % 2 = 0 THEN 'm' || CAST(doc_id % 3 AS VARCHAR)
                ELSE NULL END AS model,
           CASE WHEN doc_id % 2 = 0 THEN CAST(doc_id % 8 + 1 AS INT)
                ELSE NULL END AS orientation,
           CASE WHEN doc_id % 2 = 0
                THEN '2024:01:02 03:04:' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0')
                ELSE NULL END AS taken_at
    FROM documents WHERE doc_id < 200
    """,
)
def multimodal_exif_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata for opaque image columns (r8): EXIF — the APP1
    "Exif\\0\\0" TIFF-IFD segment cameras actually write (CIPA
    DC-008) — injected and extracted by the native marker-walking
    parser (operators/multimodal.py build_exif_app1/inject_exif/
    extract_exif, offset-addressed ASCII values, both TIFF byte
    orders).  Per even doc a real baseline JPEG gets an EXIF block
    derived from doc_id (make/model/orientation/timestamp); odd docs
    carry the BARE jpeg — absence of metadata must surface as NULLs,
    not errors (the negative control).  The oracle restates the
    injection formulas, so the hash proves segment placement, IFD
    layout, offset-area addressing, and the extraction walk.

    100 TB shape: one partition-preserving Arrow-batched mapInPandas
    pass (the multimodal codec discipline); the base 8x8 JPEG encodes
    once per batch, only metadata varies per row.  Reference scope:
    flo stores payloads opaquely; typed media metadata is the
    north-star multimodal extension (SURVEY §2 Part B)."""
    from collections.abc import Iterator

    import pandas as pd

    def _meta(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from flo_spark.operators.jpeg import encode_jpeg_baseline
        from flo_spark.operators.multimodal import extract_exif, inject_exif

        base = encode_jpeg_baseline(np.full((8, 8), 128, np.uint8))
        for pdf in it:
            out = {
                "doc_id": [], "has_exif": [], "make": [],
                "model": [], "orientation": [], "taken_at": [],
            }
            for doc_id in pdf.doc_id:
                d = int(doc_id)
                if d % 2 == 0:
                    payload = inject_exif(
                        base,
                        {
                            "make": f"cam{d % 5}",
                            "model": f"m{d % 3}",
                            "orientation": d % 8 + 1,
                            "datetime": f"2024:01:02 03:04:{d % 60:02d}",
                        },
                    )
                else:
                    payload = base
                tags = extract_exif(payload)
                out["doc_id"].append(d)
                out["has_exif"].append(1 if tags else 0)
                out["make"].append(tags.get("make"))
                out["model"].append(tags.get("model"))
                out["orientation"].append(tags.get("orientation"))
                out["taken_at"].append(tags.get("datetime"))
            yield pd.DataFrame(out)

    d = load(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 200
    )
    return d.mapInPandas(
        _meta,
        "doc_id long, has_exif int, make string, model string,"
        " orientation int, taken_at string",
    )
