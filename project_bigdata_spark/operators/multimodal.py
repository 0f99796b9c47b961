"""Multimodal column plumbing (north-star M7).

Images/audio/video ride through the engine as opaque ``binary`` payload
columns plus a typed metadata struct — the lakehouse-standard shape. The
Spark-side plumbing here is REAL and tested (schemas, Arrow-batched
``mapInPandas`` signature, per-batch shape, partition sizing); the actual
media decoding is STUBBED because the image/audio libraries are not in
this container:

- with Pillow/librosa installed, :func:`decode_features` would decode and
  emit true width/height/luma (the ``_real_decode`` seam);
- without them it emits a DETERMINISTIC FAKE derived from the payload's
  md5, so pipelines exercise the full path with stable, oracle-checkable
  outputs.

Scale notes: binary payloads dominate bytes, so never shuffle them —
derive features early, project the blob away, and join features back by
id. ``maxPartitionBytes`` governs scan parallelism; Arrow batches stream
through the Python worker without materializing a partition.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "media_id bigint, media_type string, byte_len bigint, "
    "width int, height int, mean_luma double"
)


def to_media_table(
    df: DataFrame, id_col: str, payload_col: str, media_type: str
) -> DataFrame:
    """Normalize any source into the media-table shape:
    (media_id, media_type, payload binary, byte_len)."""
    return df.select(
        F.col(id_col).cast("bigint").alias("media_id"),
        F.lit(media_type).alias("media_type"),
        F.col(payload_col).cast("binary").alias("payload"),
        F.octet_length(F.col(payload_col).cast("binary")).cast("bigint").alias(
            "byte_len"
        ),
    )


PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _png_decode(payload: bytes) -> tuple[int, int, float]:
    """Real PNG decode (stdlib only) -> (width, height, mean luma)."""
    w, h, luma, _rows = _png_decode_full(payload)
    return w, h, luma


def _png_decode_full(
    payload: bytes,
) -> tuple[int, int, float, list[list[float]]]:
    """Real PNG decode with the stdlib only (struct + zlib): parse IHDR,
    inflate IDAT, undo per-scanline filters (None/Sub/Up/Average/Paeth,
    PNG spec §9), return (width, height, mean Rec.601 luma in [0,1],
    per-scanline luma rows for downstream resampling).

    Supports the common web shapes — 8-bit non-interlaced grayscale,
    gray+alpha, RGB, RGBA. Palette/16-bit/interlaced variants raise
    ValueError (route those through Pillow when available).
    """
    import struct
    import zlib

    if payload[:8] != PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos = 8
    width = height = bit_depth = color_type = interlace = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _c, _f, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if width is None:
        raise ValueError("PNG missing IHDR")
    if bit_depth != 8 or interlace != 0 or color_type not in (0, 2, 4, 6):
        raise ValueError(
            f"unsupported PNG variant (depth={bit_depth}, "
            f"color_type={color_type}, interlace={interlace})"
        )
    ch = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    raw = zlib.decompress(bytes(idat))
    stride = width * ch
    prev = bytearray(stride)
    luma_total = 0.0
    luma_rows: list[list[float]] = []
    rpos = 0
    for _y in range(height):
        filt = raw[rpos]
        line = bytearray(raw[rpos + 1 : rpos + 1 + stride])
        rpos += 1 + stride
        if filt == 1:  # Sub
            for i in range(ch, stride):
                line[i] = (line[i] + line[i - ch]) & 0xFF
        elif filt == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif filt == 3:  # Average
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif filt == 4:  # Paeth
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                b = prev[i]
                c = prev[i - ch] if i >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif filt != 0:
            raise ValueError(f"bad PNG filter byte {filt}")
        if ch <= 2:  # grayscale (+alpha): luma is the gray sample
            row = [float(v) for v in line[0::ch]]
            luma_total += sum(line[0::ch])
        else:  # Rec.601 weights, the same matrix PIL's convert("L") uses
            row = []
            for j in range(0, stride, ch):
                row.append(
                    0.299 * line[j] + 0.587 * line[j + 1] + 0.114 * line[j + 2]
                )
                luma_total += row[-1]
        luma_rows.append(row)
        prev = line
    return width, height, luma_total / (width * height) / 255.0, luma_rows


def _real_decode(payload: bytes) -> tuple[int, int, float]:
    """Real image decode: Pillow when installed (any format), else the
    stdlib PNG path — so ``use_real=True`` executes even in this
    container. Non-PNG payloads without Pillow raise NotImplementedError.
    """
    try:  # pragma: no cover - Pillow absent in this container
        import io

        from PIL import Image

        img = Image.open(io.BytesIO(payload)).convert("L")
        px = list(img.getdata())
        return img.width, img.height, (sum(px) / len(px)) / 255.0
    except ImportError:
        pass
    if payload[:8] == PNG_MAGIC:
        return _png_decode(payload)
    raise NotImplementedError(
        "non-PNG media decoding requires Pillow; this container ships "
        "without image libraries"
    )


def decode_features(media: DataFrame, use_real: bool = False) -> DataFrame:
    """Arrow-batched feature extraction over the payload column.

    ``mapInPandas`` streams record batches through a Python worker: the
    canonical seam for media decode at scale (CPU-bound per-row work,
    arbitrary Python libs, no JVM round-trip per row).
    """

    # NOTE: the worker-side closure must be fully self-contained — Spark's
    # Python workers don't have this package on sys.path, and cloudpickle
    # serializes module-level functions by reference. Nested defs with
    # local imports pickle by value; for the real path we register this
    # module for by-value pickling so _real_decode/_png_decode ship inside
    # the closure instead of being re-imported on the worker.
    if use_real:
        import sys

        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(sys.modules[__name__])
        decode = _real_decode
    else:

        def decode(payload: bytes) -> tuple[int, int, float]:
            import hashlib as _hashlib

            h = _hashlib.md5(payload).hexdigest()
            return (
                64 + int(h[0:2], 16) % 192,
                64 + int(h[2:4], 16) % 192,
                int(h[4:8], 16) / 65535.0,
            )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            decoded = [decode(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "byte_len": pdf["byte_len"],
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "mean_luma": [d[2] for d in decoded],
                }
            )

    return media.mapInPandas(batches, schema=FEATURE_SCHEMA)


def frame_sample_plan(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame-sampling plumbing for video payloads: emits (media_id,
    frame_idx) pairs for frames to decode, sized by byte_len as a proxy
    until a real demuxer exists. Pure column expressions; the decode of
    each sampled frame goes through :func:`decode_features`."""
    n_frames = F.greatest((F.col("byte_len") / 1000).cast("int"), F.lit(1))
    return media.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), n_frames - 1, F.lit(every_n))
        ).alias("frame_idx"),
    )


EMBED_DIM = 8
EMBED_SCHEMA = "doc_id bigint, embedding array<double>"


def text_to_embedding(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Embedding-generation plumbing: text -> fixed-dim vector through the
    Arrow-batched Python-worker path (where a real encoder model would
    run). STUBBED encoder: md5-derived deterministic floats in [-1, 1] —
    the batching, schema, and partition behavior are the real thing.

    At scale this is the GPU/encoder stage: mapInPandas streams batches
    through the worker, output is a narrow (id, vector) table feeding the
    similarity operators (operators/similarity.py).
    """
    d = df.select(F.col(id_col).cast("bigint").alias("doc_id"),
                  F.col(text_col).alias("text"))

    def encode(it):
        import hashlib as _hashlib

        import pandas as _pd

        dim = 8
        for pdf in it:
            vecs = []
            for t in pdf["text"]:
                h = _hashlib.md5(str(t).encode()).hexdigest()
                vecs.append([
                    int(h[4 * i : 4 * i + 4], 16) / 32767.5 - 1.0
                    for i in range(dim)
                ])
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "embedding": vecs})

    return d.mapInPandas(encode, schema=EMBED_SCHEMA)


def audio_segment_plan(
    media: DataFrame,
    sample_rate: int = 16_000,
    bytes_per_sample: int = 2,
    window_samples: int = 80_000,
) -> DataFrame:
    """Audio segmentation plumbing: split each PCM payload into fixed
    ``window_samples`` windows and emit per-segment metadata —
    (media_id, seg_idx, start_sample, n_samples, byte_off, n_bytes) —
    entirely from ``byte_len`` arithmetic (sequence + posexplode).

    The blob is projected away BEFORE the explode, so segmentation of a
    100 TB audio corpus shuffles only fixed-width metadata rows; the
    byte ranges let a downstream ``mapInPandas`` decoder (or a ranged
    object-store GET) read exactly one window. The last window is
    truncated to the real sample count — every sample lands in exactly
    one segment.
    """
    total = (F.col("byte_len") / bytes_per_sample).cast("bigint")
    n_seg = F.greatest(F.ceil(total / F.lit(window_samples)), F.lit(1)).cast(
        "int"
    )
    base = media.select(
        "media_id", total.alias("_n_samples"), n_seg.alias("_n_seg")
    )
    seg = base.select(
        "media_id",
        "_n_samples",
        F.posexplode(F.sequence(F.lit(0), F.col("_n_seg") - 1)).alias(
            "seg_idx", "_"
        ),
    )
    start = F.col("seg_idx").cast("bigint") * window_samples
    n = F.least(F.lit(window_samples).cast("bigint"), F.col("_n_samples") - start)
    return seg.select(
        "media_id",
        F.col("seg_idx").cast("bigint").alias("seg_idx"),
        start.alias("start_sample"),
        n.alias("n_samples"),
        (start * bytes_per_sample).alias("byte_off"),
        (n * bytes_per_sample).alias("n_bytes"),
    )


AUDIO_FEATURE_SCHEMA = "media_id bigint, n_samples bigint, rms double"


def audio_rms_features(media: DataFrame) -> DataFrame:
    """Audio feature extraction over the media table: interpret each
    payload as little-endian int16 PCM and emit root-mean-square
    amplitude — REAL signal math (numpy over the Arrow batch), no
    external audio libs needed; a codec'd corpus would swap the
    ``frombuffer`` for a decoder in the same seam.

    Same shape discipline as :func:`decode_features`: Arrow-batched
    ``mapInPandas``, features derived in one pass, blob never shuffles.
    """
    import numpy as np

    src = media.select("media_id", "payload")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                buf = bytes(payload or b"")
                buf = buf[: len(buf) - (len(buf) % 2)]
                x = np.frombuffer(buf, dtype="<i2").astype("float64")
                n = int(x.size)
                rms = float(np.sqrt(np.mean(x * x))) if n else 0.0
                out.append((mid, n, rms))
            yield pd.DataFrame(
                out, columns=["media_id", "n_samples", "rms"]
            )

    return src.mapInPandas(batches, schema=AUDIO_FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# Resize: fixed-grid box-average downsample (the thumbnail/patch-grid step
# between decode and a vision encoder). Same dual-path pattern as decode:
# real pixels via the stdlib PNG path (or Pillow when present), and a
# deterministic md5 fake so the Arrow plumbing is differentially attestable
# without image libraries.
# ---------------------------------------------------------------------------

RESIZE_SCHEMA = (
    "media_id bigint, width bigint, height bigint, grid array<double>"
)


def box_average_grid(
    rows: list[list[float]], grid_h: int, grid_w: int
) -> list[float]:
    """Box-average resample of a pixel matrix to (grid_h, grid_w),
    row-major, values in [0, 1]. Cell boundaries are proportional; when
    the image is smaller than the grid a cell clamps to >= 1 source
    pixel (nearest), so any input size yields a full grid."""
    h = len(rows)
    w = len(rows[0]) if h else 0
    out: list[float] = []
    for gi in range(grid_h):
        y0 = min(h - 1, (gi * h) // grid_h)
        y1 = max(y0 + 1, ((gi + 1) * h) // grid_h)
        for gj in range(grid_w):
            x0 = min(w - 1, (gj * w) // grid_w)
            x1 = max(x0 + 1, ((gj + 1) * w) // grid_w)
            total = 0.0
            for y in range(y0, y1):
                row = rows[y]
                for x in range(x0, x1):
                    total += row[x]
            out.append(total / ((y1 - y0) * (x1 - x0)) / 255.0)
    return out


def resize_features(
    media: DataFrame,
    grid_h: int = 4,
    grid_w: int = 4,
    use_real: bool = False,
) -> DataFrame:
    """Arrow-batched resize over the payload column: one mapInPandas
    pass emits (media_id, original dims, row-major grid). The blob never
    leaves the worker — only ``grid_h * grid_w`` doubles per image cross
    the Arrow boundary, so a billion-image resize shuffles nothing and
    transfers grids, not pixels."""
    if use_real:
        import sys

        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(sys.modules[__name__])

        def one(payload: bytes) -> tuple[int, int, list[float]]:
            w, h, _luma, rows = _png_decode_full(payload)
            return w, h, box_average_grid(rows, grid_h, grid_w)

    else:

        def one(payload: bytes) -> tuple[int, int, list[float]]:
            # self-contained md5 fake: same dims as the fake decoder, one
            # hash per grid cell (the SQL-replayable contract)
            import hashlib as _hashlib

            h = _hashlib.md5(payload).hexdigest()
            width = 64 + int(h[0:2], 16) % 192
            height = 64 + int(h[2:4], 16) % 192
            grid = []
            for gi in range(grid_h):
                for gj in range(grid_w):
                    cell = _hashlib.md5(
                        payload + f"-{gi}-{gj}".encode()
                    ).hexdigest()
                    grid.append(int(cell[:4], 16) / 65535.0)
            return width, height, grid

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            decoded = [one(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "grid": [d[2] for d in decoded],
                }
            )

    return media.mapInPandas(batches, schema=RESIZE_SCHEMA)
