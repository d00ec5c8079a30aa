"""Multimodal column conventions: opaque binary payloads + typed metadata.

Design (BASELINE.json north star; no image/audio libs in this container):

- A multimodal asset is ``payload: binary`` + ``meta: struct<mime,
  width, height, sample_rate, ...>`` -- the parquet-native layout that
  scales: binaries stay columnar/compressed, metadata prunes without
  touching payload bytes (column pruning means a metadata-only query never
  reads the blob pages at all).
- Decode / feature-extract / resize / frame-sample run as Arrow-batched
  ``mapInPandas`` operators: executors see pandas DataFrames whose payload
  column is raw bytes. BOTH container decodes are real codecs, stdlib
  only: genuine RIFF/WAVE files via ``wave``/``struct``
  (``multimodal_wav_decode``, oracle-gated on header fields AND PCM
  sample statistics) and genuine PNG files via ``zlib``/``struct`` --
  CRC-checked chunk walk, inflate, all five scanline filters
  (``multimodal_png_decode``, oracle-gated on dimensions AND channel
  sums). The perceptual tier is real too where the math is exact:
  ``multimodal_png_resize`` (decode -> nearest-neighbour resample ->
  re-encode) and ``multimodal_wav_frames`` (PCM frame windows with
  per-frame amplitude sums), both oracle-gated. What remains stubbed is
  only the library-kernel family this container cannot host (Lanczos/
  bicubic interpolation, lossy-codec video frames -- PIL/ffmpeg absent):
  ``_decode_stub``/``resize_images``/``sample_frames`` keep that
  plumbing shape testable with deterministic fakes.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ushas_spark.io import load_table
from ushas_spark.registry import query


def per_asset(
    assets: DataFrame, fn: Callable[..., Iterable[tuple]], schema: str
) -> DataFrame:
    """``assets.mapInPandas`` with the Arrow batch loop written once.

    ``fn`` receives each input row's values in ``assets``' column order
    and returns the output rows that row makes -- none, one or many
    tuples in ``schema``'s column order -- so a filter, a 1->1 decode and
    a 1->N frame split share one operator. Each batch becomes one pandas
    frame."""
    cols = [f.split()[0] for f in schema.split(",")]

    def op(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        for pdf in batches:
            rows = [out for row in zip(*(pdf[c] for c in pdf.columns)) for out in fn(*row)]
            yield pd.DataFrame(rows, columns=cols)

    return assets.mapInPandas(op, schema=schema)


def documents_as_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Demo asset table: document text bytes as payloads with fake image
    metadata (deterministic; stands in for real decoded media)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").alias("asset_id"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.when(F.col("doc_id") % 2 == 0, "image/png")
            .otherwise("audio/wav")
            .alias("mime"),
            (F.col("doc_id") % 640).cast("int").alias("width"),
            (F.col("doc_id") % 480).cast("int").alias("height"),
            F.lit(16_000).cast("int").alias("sample_rate"),
        ).alias("meta"),
    )


def decode_assets(assets: DataFrame, feature_dim: int = 8) -> DataFrame:
    """Arrow-batched decode/feature-extract over ``mapInPandas``.

    Output schema: asset_id, mime, n_bytes, features array<double>. The
    batch shape (iterator of pandas DataFrames) is exactly what a real
    decoder needs -- swap ``_decode_stub`` for the codec call.
    """
    out_schema = (
        "asset_id bigint, mime string, n_bytes bigint, features array<double>"
    )

    def decode(aid, payload, meta):
        mime = meta["mime"]
        yield aid, mime, len(payload), _decode_stub(bytes(payload), mime, feature_dim)

    return per_asset(assets, decode, out_schema)


def _decode_stub(payload: bytes, mime: str, feature_dim: int) -> list[float]:
    """Deterministic fake 'decode + feature extraction'.

    Production implementation decodes pixels/samples here::

        raise NotImplementedError("install PIL/torchaudio and decode")

    The fake hashes byte windows to a fixed-length feature vector so the
    distributed plumbing is testable without codecs.
    """
    if not payload:
        return [0.0] * feature_dim
    step = max(1, len(payload) // feature_dim)
    return [
        float(sum(payload[i * step : (i + 1) * step]) % 1000) / 1000.0
        for i in range(feature_dim)
    ]


def resize_images(assets: DataFrame, width: int, height: int) -> DataFrame:
    """Resize operator plumbing: filters to image assets, passes payloads
    through an Arrow-batched resize, emits payload + updated metadata.
    The pixel work is STUBBED (no codecs in this container)::

        raise NotImplementedError("decode with PIL, resize, re-encode")

    The deterministic fake truncates payload bytes proportionally so
    batch shapes, schema evolution, and downstream reads are testable.
    """
    out_schema = (
        "asset_id bigint, payload binary, mime string, width int, height int"
    )

    def resize(aid, payload, meta):
        if meta["mime"] != "image/png":
            return
        raw = bytes(payload)
        # STUB: proportional byte truncation stands in for decode->
        # resize->encode; swap for the real codec call.
        scale = max(1, (meta["width"] or 1) * (meta["height"] or 1))
        keep = max(1, min(len(raw), (width * height * len(raw)) // scale))
        yield aid, raw[:keep], meta["mime"], width, height

    return per_asset(assets, resize, out_schema)


def sample_frames(assets: DataFrame, every_n_bytes: int = 64) -> DataFrame:
    """Frame-sampling plumbing for video/audio payloads: one output row
    per sampled 'frame' (byte window stands in for a decoded frame --
    STUB, same contract as resize_images). Demonstrates the 1->N row
    expansion shape (explode-like) through mapInPandas."""
    out_schema = "asset_id bigint, frame_idx int, frame_sig bigint"

    def frames(aid, payload, meta):
        if meta["mime"] != "audio/wav":
            return
        raw = bytes(payload)
        for idx, off in enumerate(range(0, len(raw), every_n_bytes)):
            yield aid, idx, sum(raw[off : off + every_n_bytes]) % 100000

    return per_asset(assets, frames, out_schema)


# ------------------------------------------------------ real WAV codec
#
# The audio half of the decode tier is NOT stubbed: payloads are genuine
# RIFF/WAVE files (stdlib ``wave`` writer) and the decoder parses them
# with the stdlib reader -- a real container-format decode with zero
# external codecs. Generation is deterministic from asset_id, so the
# DuckDB oracle recomputes every decoded statistic arithmetically.

_WAV_N_ASSETS = 200  # bounded for the gate; the operator itself streams


def _wav_params(asset_id: int) -> tuple[int, int]:
    """(sample_rate, n_frames) derived from the id -- mirrored in SQL."""
    return 8000 + (asset_id % 2) * 8000, 64 + asset_id % 64


def _wav_sample(asset_id: int, i: int) -> int:
    """Deterministic 16-bit PCM sample -- mirrored in SQL."""
    return (asset_id * 31 + i * 7) % 2001 - 1000


def _write_wav(rate: int, samples) -> bytes:
    """A mono 16-bit PCM WAV file of ``samples`` at ``rate`` Hz."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def _read_wav(payload: bytes) -> tuple[int, int, int, tuple[int, ...]]:
    """Decode a 16-bit PCM WAV file: (frame rate, channels, frame count,
    interleaved samples)."""
    import io
    import struct
    import wave

    with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
        rate = w.getframerate()
        nch = w.getnchannels()
        n = w.getnframes()
        return rate, nch, n, struct.unpack(f"<{n * nch}h", w.readframes(n))


def synthesize_wav_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real mono 16-bit PCM WAV payloads, one per document id. Runs as
    Arrow-batched mapInPandas: each executor writes WAV containers
    locally; only (id, payload) crosses the Arrow boundary."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _WAV_N_ASSETS
    ).select(F.col("doc_id").alias("asset_id"))

    def gen(aid):
        rate, n = _wav_params(int(aid))
        yield aid, _write_wav(rate, [_wav_sample(int(aid), i) for i in range(n)])

    return per_asset(d, gen, "asset_id bigint, payload binary")


def decode_wav_stats(assets: DataFrame) -> DataFrame:
    """REAL audio decode (stdlib ``wave`` + ``struct``): parses the RIFF
    header for rate/channels/frame count, unpacks the PCM block, and
    computes sample statistics. Same mapInPandas contract as the stubbed
    image path -- this is the production shape with an actual codec."""
    out_schema = (
        "asset_id bigint, sample_rate bigint, n_channels bigint, "
        "n_frames bigint, duration_us bigint, peak bigint, sample_sum bigint"
    )

    def decode(aid, payload):
        rate, nch, n, samples = _read_wav(payload)
        peak = max(abs(s) for s in samples)
        yield aid, rate, nch, n, n * 1_000_000 // rate, peak, sum(samples)

    return per_asset(assets, decode, out_schema)


_WAV_DECODE_ORACLE = f"""
WITH p AS (
  SELECT doc_id AS asset_id,
         8000 + (doc_id % 2) * 8000 AS sample_rate,
         64 + doc_id % 64 AS n_frames
  FROM documents WHERE doc_id < {_WAV_N_ASSETS}
), s AS (
  SELECT asset_id, sample_rate, n_frames,
         [(asset_id * 31 + i * 7) % 2001 - 1000
          FOR i IN generate_series(0, n_frames - 1)] AS samples
  FROM p
)
SELECT asset_id,
       CAST(sample_rate AS BIGINT) AS sample_rate,
       CAST(1 AS BIGINT) AS n_channels,
       CAST(n_frames AS BIGINT) AS n_frames,
       CAST(n_frames * 1000000 // sample_rate AS BIGINT) AS duration_us,
       CAST(list_max(list_transform(samples, x -> abs(x))) AS BIGINT) AS peak,
       CAST(list_sum(samples) AS BIGINT) AS sample_sum
FROM s
ORDER BY asset_id
"""


@query("multimodal_wav_decode", oracle=_WAV_DECODE_ORACLE)
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL audio pipeline: synthesize genuine WAV containers
    -> Arrow batch -> stdlib wave/struct decode -> per-asset PCM stats.
    The oracle regenerates the deterministic samples arithmetically, so
    header parsing, frame counts, and sample arithmetic are all gated."""
    assets = synthesize_wav_assets(spark, sf_dir)
    return decode_wav_stats(assets).orderBy("asset_id")


_ASSET_STATS_ORACLE = """
SELECT CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'audio/wav' END AS mime,
       COUNT(*) AS n_assets,
       CAST(SUM(CAST(octet_length(encode(text)) AS BIGINT)) AS BIGINT) AS total_bytes,
       MAX(CAST(octet_length(encode(text)) AS BIGINT)) AS max_bytes
FROM documents
GROUP BY 1
ORDER BY mime
"""


@query("multimodal_asset_stats", oracle=_ASSET_STATS_ORACLE)
def multimodal_asset_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only profile of the asset table: at scale this must prune
    the payload column entirely (verified in tests via ReadSchema)."""
    a = documents_as_assets(spark, sf_dir)
    return (
        a.select("meta.mime", F.octet_length("payload").cast("long").alias("nb"))
        .groupBy("mime")
        .agg(
            F.count("*").alias("n_assets"),
            F.sum("nb").alias("total_bytes"),
            F.max("nb").alias("max_bytes"),
        )
        .orderBy("mime")
    )


# ------------------------------------------------------ real PNG codec
#
# The image tier's container decode is ALSO real: genuine PNG files
# (signature + IHDR/IDAT/IEND chunks, zlib-compressed filtered
# scanlines, CRC-checked) synthesized and parsed with stdlib zlib +
# struct -- no PIL needed for the container format; only perceptual ops
# (resize interpolation etc.) remain stubbed. Pixels are deterministic
# in asset_id, so the DuckDB oracle recomputes every channel sum.

_PNG_N_ASSETS = 120


def _png_dims(asset_id: int) -> tuple[int, int]:
    return 8 + asset_id % 9, 8 + asset_id % 7  # (width, height)


def _png_pixel(asset_id: int, x: int, y: int) -> tuple[int, int, int]:
    return (
        (asset_id * 7 + x * 3 + y * 5) % 256,
        (asset_id * 11 + x * 2 + y * 13) % 256,
        (asset_id * 3 + x * 17 + y) % 256,
    )


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def _encode_png(asset_id: int) -> bytes:
    """Minimal real PNG writer: 8-bit RGB, filter type 0 scanlines."""
    import struct
    import zlib

    w, h = _png_dims(asset_id)
    raw = bytearray()
    for y in range(h):
        raw.append(0)  # filter: None
        for x in range(w):
            raw.extend(_png_pixel(asset_id, x, y))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit, RGB
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def _decode_png(payload: bytes) -> dict:
    """Real PNG reader -> per-channel sums (CRC-verifying; shares the
    chunk/filter logic with the pixel-grid reader below)."""
    import struct
    import zlib

    # CRC sweep first (the pixel reader skips it for speed in resize).
    pos = 8
    while pos < len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(
            ">I", payload[pos + 8 + length : pos + 12 + length]
        )
        assert zlib.crc32(tag + data) & 0xFFFFFFFF == crc, "CRC mismatch"
        if tag == b"IEND":
            break
        pos += 12 + length
    grid = _decode_png_pixels(payload)
    flat = [c for row in grid["pixels"] for px in row for c in px]
    return {
        "width": grid["width"],
        "height": grid["height"],
        "sum_r": sum(flat[0::3]),
        "sum_g": sum(flat[1::3]),
        "sum_b": sum(flat[2::3]),
    }


def synthesize_png_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real RGB PNG payloads, one per document id (Arrow-batched)."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _PNG_N_ASSETS
    ).select(F.col("doc_id").alias("asset_id"))

    def gen(aid):
        yield aid, _encode_png(int(aid))

    return per_asset(d, gen, "asset_id bigint, payload binary")


def decode_png_stats(assets: DataFrame) -> DataFrame:
    """REAL image container decode over mapInPandas."""
    out_schema = (
        "asset_id bigint, width bigint, height bigint, "
        "sum_r bigint, sum_g bigint, sum_b bigint"
    )

    def decode(aid, payload):
        yield aid, *_decode_png(bytes(payload)).values()

    return per_asset(assets, decode, out_schema)


_PNG_DECODE_ORACLE = f"""
WITH p AS (
  SELECT doc_id AS asset_id,
         8 + doc_id % 9 AS w,
         8 + doc_id % 7 AS h
  FROM documents WHERE doc_id < {_PNG_N_ASSETS}
), px AS (
  SELECT asset_id, w, h, x.x AS x, y.y AS y
  FROM p,
       LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x) x,
       LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y) y
)
SELECT asset_id,
       CAST(MIN(w) AS BIGINT) AS width,
       CAST(MIN(h) AS BIGINT) AS height,
       CAST(SUM((asset_id * 7 + x * 3 + y * 5) % 256) AS BIGINT) AS sum_r,
       CAST(SUM((asset_id * 11 + x * 2 + y * 13) % 256) AS BIGINT) AS sum_g,
       CAST(SUM((asset_id * 3 + x * 17 + y) % 256) AS BIGINT) AS sum_b
FROM px
GROUP BY asset_id
ORDER BY asset_id
"""


@query("multimodal_png_decode", oracle=_PNG_DECODE_ORACLE)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL image pipeline: synthesize genuine PNG containers
    (zlib scanlines, CRC-checked chunks) -> Arrow batch -> stdlib parse/
    inflate/unfilter -> per-asset channel sums. The oracle regenerates
    the deterministic pixels arithmetically, so signature, chunk, CRC,
    inflate, and unfilter logic are all gated."""
    assets = synthesize_png_assets(spark, sf_dir)
    return decode_png_stats(assets).orderBy("asset_id")


# --------------------------------- real perceptual ops over the codecs

_RESIZE_W, _RESIZE_H = 6, 5


def resize_png_nearest(assets: DataFrame, tw: int, th: int) -> DataFrame:
    """REAL image resize: decode the PNG, nearest-neighbour resample,
    re-encode. Nearest-neighbour is the one resampling kernel that is
    exactly arithmetic (src = floor(dst * src_dim / dst_dim)), so the
    result is oracle-able; swap the kernel for PIL's Lanczos in
    production without touching the Spark plumbing."""
    import struct
    import zlib

    out_schema = (
        "asset_id bigint, width bigint, height bigint, "
        "sum_r bigint, sum_g bigint, sum_b bigint, payload binary"
    )

    def resize(aid, payload):
        src = _decode_png_pixels(bytes(payload))
        sw, sh = src["width"], src["height"]
        px = src["pixels"]  # list of rows of (r,g,b)
        out = bytearray()
        sums = [0, 0, 0]
        for y in range(th):
            out.append(0)
            sy = y * sh // th
            for x in range(tw):
                sx = x * sw // tw
                r, g, b = px[sy][sx]
                out.extend((r, g, b))
                sums[0] += r
                sums[1] += g
                sums[2] += b
        ihdr = struct.pack(">IIBBBBB", tw, th, 8, 2, 0, 0, 0)
        resized = (
            b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
            + _png_chunk(b"IEND", b"")
        )
        yield aid, tw, th, *sums, resized

    return per_asset(assets, resize, out_schema)


def _decode_png_pixels(payload: bytes) -> dict:
    """_decode_png plus the pixel grid (shared chunk/filter logic)."""
    import struct
    import zlib

    assert payload[:8] == b"\x89PNG\r\n\x1a\n", "bad signature"
    pos, idat, w = 8, b"", None
    while pos < len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            w, h, depth, ctype, _, _, interlace = struct.unpack(">IIBBBBB", data)
            assert (depth, ctype, interlace) == (8, 2, 0), "unsupported"
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
        pos += 12 + length
    raw = zlib.decompress(idat)
    stride, bpp = 3 * w, 3
    pixels = []
    prev = bytearray(stride)
    for y in range(h):
        ftype = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        for i in range(stride):
            a = line[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if ftype == 1:
                line[i] = (line[i] + a) & 0xFF
            elif ftype == 2:
                line[i] = (line[i] + b) & 0xFF
            elif ftype == 3:
                line[i] = (line[i] + (a + b) // 2) & 0xFF
            elif ftype == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        pixels.append([tuple(line[i : i + 3]) for i in range(0, stride, 3)])
        prev = line
    return {"width": w, "height": h, "pixels": pixels}


_RESIZE_ORACLE = f"""
WITH p AS (
  SELECT doc_id AS asset_id,
         8 + doc_id % 9 AS sw,
         8 + doc_id % 7 AS sh
  FROM documents WHERE doc_id < {_PNG_N_ASSETS}
), px AS (
  SELECT asset_id,
         (x.x * sw) // {_RESIZE_W} AS sx,
         (y.y * sh) // {_RESIZE_H} AS sy
  FROM p,
       LATERAL (SELECT unnest(generate_series(0, {_RESIZE_W - 1})) AS x) x,
       LATERAL (SELECT unnest(generate_series(0, {_RESIZE_H - 1})) AS y) y
)
SELECT asset_id,
       CAST({_RESIZE_W} AS BIGINT) AS width,
       CAST({_RESIZE_H} AS BIGINT) AS height,
       CAST(SUM((asset_id * 7 + sx * 3 + sy * 5) % 256) AS BIGINT) AS sum_r,
       CAST(SUM((asset_id * 11 + sx * 2 + sy * 13) % 256) AS BIGINT) AS sum_g,
       CAST(SUM((asset_id * 3 + sx * 17 + sy) % 256) AS BIGINT) AS sum_b
FROM px
GROUP BY asset_id
ORDER BY asset_id
"""


@query("multimodal_png_resize", oracle=_RESIZE_ORACLE)
def multimodal_png_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize pipeline: synthesize PNGs -> decode -> nearest-
    neighbour resample to {_RESIZE_W}x{_RESIZE_H} -> re-encode + channel
    sums. The oracle recomputes the resample arithmetically (src pixel =
    floor(dst*src/dst)), gating the whole decode-transform-encode loop."""
    assets = synthesize_png_assets(spark, sf_dir)
    return (
        resize_png_nearest(assets, _RESIZE_W, _RESIZE_H)
        .drop("payload")
        .orderBy("asset_id")
    )


_FRAME_N = 16  # PCM samples per frame


_FRAMES_ORACLE = f"""
WITH p AS (
  SELECT doc_id AS asset_id, 64 + doc_id % 64 AS n_frames
  FROM documents WHERE doc_id < {_WAV_N_ASSETS}
), f AS (
  SELECT asset_id, n_frames, fi.fi AS frame_idx
  FROM p, LATERAL (
    SELECT unnest(generate_series(0, (n_frames - 1) // {_FRAME_N})) AS fi
  ) fi
)
SELECT asset_id, CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(list_sum(
         [abs((asset_id * 31 + i * 7) % 2001 - 1000)
          FOR i IN generate_series(frame_idx * {_FRAME_N},
                                   LEAST(n_frames, (frame_idx + 1) * {_FRAME_N}) - 1)]
       ) AS BIGINT) AS abs_sum
FROM f
ORDER BY asset_id, frame_idx
"""


@query("multimodal_wav_frames", oracle=_FRAMES_ORACLE)
def multimodal_wav_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio frame sampling: decode WAV PCM, window into
    {_FRAME_N}-sample frames, per-frame absolute-amplitude sum -- the
    1->N row expansion of a feature-extraction pass (VAD, loudness),
    with the oracle regenerating every frame arithmetically."""
    assets = synthesize_wav_assets(spark, sf_dir)
    out_schema = "asset_id bigint, frame_idx bigint, abs_sum bigint"

    def frames(aid, payload):
        _, _, n, samples = _read_wav(payload)
        for fi in range(0, (n + _FRAME_N - 1) // _FRAME_N):
            frame = samples[fi * _FRAME_N : (fi + 1) * _FRAME_N]
            yield aid, fi, sum(abs(s) for s in frame)

    return per_asset(assets, frames, out_schema).orderBy("asset_id", "frame_idx")


_ZCR_ORACLE = f"""
WITH p AS (
  SELECT doc_id AS asset_id, 64 + doc_id % 64 AS n
  FROM documents WHERE doc_id < {_WAV_N_ASSETS}
)
SELECT asset_id,
       CAST(n AS BIGINT) AS n_samples,
       CAST(list_sum(
         [CASE WHEN ((asset_id * 31 + (i - 1) * 7) % 2001 - 1000)
                    * ((asset_id * 31 + i * 7) % 2001 - 1000) < 0
               THEN 1 ELSE 0 END
          FOR i IN generate_series(1, n - 1)]
       ) AS BIGINT) AS zero_crossings,
       CAST(list_sum(
         [((asset_id * 31 + i * 7) % 2001 - 1000)
          * ((asset_id * 31 + i * 7) % 2001 - 1000)
          FOR i IN generate_series(0, n - 1)]
       ) AS BIGINT) AS energy
FROM p
ORDER BY asset_id
"""


@query("multimodal_wav_zcr", oracle=_ZCR_ORACLE)
def multimodal_wav_zcr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio features from decoded PCM: per-asset zero-crossing
    count (strict sign flips, the classic voiced/unvoiced + pitch
    proxy) and total energy (sum of squared samples) -- both exact
    integers, so the gate compares the actual decoded waveform math,
    not a float approximation. Same Arrow-batched mapInPandas decode
    boundary as the other codec ops (per-asset work is inherently
    Python here; everything before/after stays JVM)."""
    assets = synthesize_wav_assets(spark, sf_dir)
    out_schema = "asset_id bigint, n_samples bigint, zero_crossings bigint, energy bigint"

    def features(aid, payload):
        _, _, n, samples = _read_wav(payload)
        zcr = sum(1 for i in range(1, n) if samples[i - 1] * samples[i] < 0)
        yield aid, n, zcr, sum(s * s for s in samples)

    return per_asset(assets, features, out_schema).orderBy("asset_id")


_PNG_HIST_ORACLE = f"""
WITH p AS (
  SELECT doc_id AS asset_id,
         8 + doc_id % 9 AS w,
         8 + doc_id % 7 AS h
  FROM documents WHERE doc_id < {_PNG_N_ASSETS}
), px AS (
  SELECT asset_id,
         ((asset_id * 7 + x.x * 3 + y.y * 5) % 256
          + (asset_id * 11 + x.x * 2 + y.y * 13) % 256
          + (asset_id * 3 + x.x * 17 + y.y) % 256) // 96 AS bucket
  FROM p,
       LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x) x,
       LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y) y
)
SELECT asset_id,
       {", ".join(
         f"CAST(SUM(CASE WHEN bucket = {b} THEN 1 ELSE 0 END) AS BIGINT)"
         f" AS h{b}" for b in range(8)
       )}
FROM px
GROUP BY asset_id
ORDER BY asset_id
"""


@query("multimodal_png_histogram", oracle=_PNG_HIST_ORACLE)
def multimodal_png_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decoded-pixel luminance histogram: parse/inflate/unfilter
    the PNG, bucket each pixel's r+g+b (0..765) into 8 bins of 96 --
    the brightness-distribution feature an image-quality gate reads.
    Exact integer buckets, so the full decode path is gated again
    through a second, independent statistic.

    Same Arrow-batched mapInPandas decode boundary; at 100 TB the
    histogram is per-asset map-side work with zero shuffle (the output
    sort is gate-only)."""
    assets = synthesize_png_assets(spark, sf_dir)
    out_schema = "asset_id bigint, " + ", ".join(f"h{b} bigint" for b in range(8))

    def histogram(aid, payload):
        counts = [0] * 8
        for row in _decode_png_pixels(bytes(payload))["pixels"]:
            for r, g, b in row:
                counts[(r + g + b) // 96] += 1
        yield aid, *counts

    return per_asset(assets, histogram, out_schema).orderBy("asset_id")


_DOWNSAMPLE_ORACLE = f"""
WITH p AS (
  SELECT doc_id AS asset_id,
         8000 + (doc_id % 2) * 8000 AS rate_in,
         64 + doc_id % 64 AS n
  FROM documents WHERE doc_id < {_WAV_N_ASSETS}
)
SELECT asset_id,
       CAST(rate_in // 2 AS BIGINT) AS rate_out,
       CAST((n + 1) // 2 AS BIGINT) AS n_frames_out,
       CAST(list_sum(
         [abs((asset_id * 31 + i * 7) % 2001 - 1000)
          FOR i IN generate_series(0, n - 1, 2)]
       ) AS BIGINT) AS abs_sum_out
FROM p
ORDER BY asset_id
"""


@query("multimodal_wav_downsample", oracle=_DOWNSAMPLE_ORACLE)
def multimodal_wav_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio downsampling: decode the WAV, 2:1 decimate (every
    other sample -- the one resampling kernel that is exactly
    arithmetic, like nearest-neighbour for images), re-encode at half
    the rate, then report the re-DECODED output's stats -- so the gate
    covers decode -> transform -> encode -> decode round-trip. Swap the
    decimation for a polyphase filter in production without touching
    the Spark plumbing."""
    assets = synthesize_wav_assets(spark, sf_dir)
    out_schema = (
        "asset_id bigint, rate_out bigint, n_frames_out bigint, "
        "abs_sum_out bigint"
    )

    def downsample(aid, payload):
        rate, _, _, samples = _read_wav(payload)
        rate2, _, n2, out = _read_wav(_write_wav(rate // 2, samples[::2]))
        yield aid, rate2, n2, sum(abs(s) for s in out)

    return per_asset(assets, downsample, out_schema).orderBy("asset_id")


# The aHash replay as oracle CTEs: ``p`` .. ``bits`` decode and threshold
# the 8x8 luminance grid; ``ah`` packs it and ``bands`` splits it into the
# four 16-bit band keys.
_AHASH_BITS_SQL = f"""p AS (
  SELECT doc_id AS asset_id,
         8 + doc_id % 9 AS w,
         8 + doc_id % 7 AS h
  FROM documents WHERE doc_id < {_PNG_N_ASSETS}
), grid AS (
  SELECT asset_id, w, h, gx.gx AS gx, gy.gy AS gy,
         (gx.gx * w) // 8 AS sx, (gy.gy * h) // 8 AS sy
  FROM p,
       LATERAL (SELECT unnest(generate_series(0, 7)) AS gx) gx,
       LATERAL (SELECT unnest(generate_series(0, 7)) AS gy) gy
), lum AS (
  SELECT asset_id, gx, gy,
         (asset_id * 7 + sx * 3 + sy * 5) % 256
         + (asset_id * 11 + sx * 2 + sy * 13) % 256
         + (asset_id * 3 + sx * 17 + sy) % 256 AS l
  FROM grid
), tot AS (
  SELECT asset_id, CAST(SUM(l) AS BIGINT) AS s FROM lum GROUP BY asset_id
), bits AS (
  SELECT l.asset_id, l.gx, l.gy,
         CASE WHEN 64 * l.l > t.s THEN 1 ELSE 0 END AS bit
  FROM lum l JOIN tot t ON l.asset_id = t.asset_id
)"""
_AHASH_BANDS_SQL = """ah AS (
  SELECT asset_id,
         CAST(SUM(CASE WHEN gy < 4 THEN bit * (1 << (gy * 8 + gx))
                       ELSE 0 END) AS BIGINT) AS ahash_lo,
         CAST(SUM(CASE WHEN gy >= 4 THEN bit * (1 << ((gy - 4) * 8 + gx))
                       ELSE 0 END) AS BIGINT) AS ahash_hi
  FROM bits GROUP BY asset_id
), bands AS (
  SELECT asset_id, ahash_lo, ahash_hi, band,
         CASE band WHEN 0 THEN ahash_lo & 65535
                   WHEN 1 THEN (ahash_lo >> 16) & 65535
                   WHEN 2 THEN ahash_hi & 65535
                   ELSE (ahash_hi >> 16) & 65535 END AS key
  FROM ah, (VALUES (0), (1), (2), (3)) b(band)
)"""


def _components_summary_sql(a: str, b: str, nodes: str) -> str:
    """Oracle tail shared by the cluster queries: connected components
    of the ``pairs`` CTE's (``a``, ``b``) edges over the ``asset_id`` of
    ``nodes`` by recursive reachability, then the curation summary."""
    return f"""edges AS (
  SELECT {a} AS s, {b} AS d FROM pairs UNION ALL SELECT {b}, {a} FROM pairs
), reach(id, label) AS (
  SELECT asset_id, asset_id FROM {nodes}
  UNION
  SELECT e.d, r.label FROM reach r JOIN edges e ON e.s = r.id
), comp AS (
  SELECT id, MIN(label) AS cluster_id FROM reach GROUP BY id
), sizes AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
  FROM comp GROUP BY cluster_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(CASE WHEN n_members > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_clusters,
       CAST(SUM(CASE WHEN n_members > 1 THEN n_members ELSE 0 END)
            AS BIGINT) AS n_dup_assets,
       CAST(MAX(n_members) AS BIGINT) AS largest_cluster,
       CAST(SUM(n_members) - COUNT(*) AS BIGINT) AS n_removable
FROM sizes
"""


_AHASH_ORACLE = f"""
WITH {_AHASH_BITS_SQL}
SELECT asset_id,
       CAST(SUM(CASE WHEN gy < 4 THEN bit * (1 << (gy * 8 + gx))
                     ELSE 0 END) AS BIGINT) AS ahash_lo,
       CAST(SUM(CASE WHEN gy >= 4 THEN bit * (1 << ((gy - 4) * 8 + gx))
                     ELSE 0 END) AS BIGINT) AS ahash_hi,
       CAST(SUM(bit) AS BIGINT) AS n_above_mean
FROM bits
GROUP BY asset_id
ORDER BY asset_id
"""


@query("multimodal_image_ahash", oracle=_AHASH_ORACLE)
def multimodal_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-asset aHash table (:func:`_image_ahash`), sorted."""
    return _image_ahash(spark, sf_dir).orderBy("asset_id")


def _image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL perceptual image hashing (average hash): decode the PNG,
    nearest-sample to an 8x8 luminance grid, threshold each cell
    against the grid mean (as the exact integer compare
    64*lum > sum), and pack the 64 bits into two 32-bit words -- the
    near-duplicate IMAGE fingerprint (Hamming-close aHashes = visually
    similar), completing the image tier of the dedup story alongside
    MinHash/SimHash for text and cosine for embeddings. Downstream
    pairing reuses the packed-Hamming machinery
    (sim_hamming_packed_topk).

    Everything is integer arithmetic over the genuinely decoded
    pixels, so the oracle regenerates the full decode -> resample ->
    threshold -> pack chain bit-for-bit."""
    assets = synthesize_png_assets(spark, sf_dir)
    out_schema = (
        "asset_id bigint, ahash_lo bigint, ahash_hi bigint, "
        "n_above_mean bigint"
    )

    def ahash(aid, payload):
        src = _decode_png_pixels(bytes(payload))
        w, h, px = src["width"], src["height"], src["pixels"]
        lum = [[sum(px[(gy * h) // 8][(gx * w) // 8]) for gx in range(8)] for gy in range(8)]
        total = sum(sum(r) for r in lum)
        lo = hi = above = 0
        for gy in range(8):
            for gx in range(8):
                if 64 * lum[gy][gx] > total:
                    above += 1
                    if gy < 4:
                        lo |= 1 << (gy * 8 + gx)
                    else:
                        hi |= 1 << ((gy - 4) * 8 + gx)
        yield aid, lo, hi, above

    return per_asset(assets, ahash, out_schema)


_AHASH_MAX_D = 3  # 4 x 16-bit bands pigeonhole-guarantee radius <= 3

_AHASH_NEAR_DUP_ORACLE = f"""
WITH {_AHASH_BITS_SQL}, {_AHASH_BANDS_SQL}, cand AS (
  SELECT DISTINCT a.asset_id AS asset_a, bb.asset_id AS asset_b,
         a.ahash_lo AS lo_a, a.ahash_hi AS hi_a,
         bb.ahash_lo AS lo_b, bb.ahash_hi AS hi_b
  FROM bands a JOIN bands bb
    ON a.band = bb.band AND a.key = bb.key AND a.asset_id < bb.asset_id
)
SELECT asset_a, asset_b,
       CAST(bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b))
            AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b))
      <= {_AHASH_MAX_D}
ORDER BY asset_a, asset_b
"""


@query("multimodal_ahash_near_dup", oracle=_AHASH_NEAR_DUP_ORACLE)
def multimodal_ahash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate IMAGE detection: band the 64-bit perceptual
    aHash into 4 x 16-bit keys, self-join on band equality (the
    pigeonhole guarantees EVERY pair within Hamming {_AHASH_MAX_D}
    shares at least one identical band -- the radius-3 contract is
    exact, unlike best-effort wider radii), then verify candidates
    with bit_count XOR in codegen. This closes the image arm of the
    dedup story: MinHash for text, cosine for embeddings, banded
    aHash for pixels -- same bucket-join shape, never all-pairs.

    Scale shape: hashes are computed once (mapInPandas over the
    decoded pixels) and materialized; the 4-band explode multiplies
    the hash table x4, the band join buckets it, and verification
    touches only candidates. The oracle replays decode -> grid ->
    threshold -> pack -> band -> verify in pure integer SQL.
    """
    from ushas_spark.durability import materialize

    # Unsorted: a sort here would add a range-sampling job that runs
    # the single-task PNG synth + decode a second time.
    ah = materialize(
        _image_ahash(spark, sf_dir).select("asset_id", "ahash_lo", "ahash_hi")
    )
    band_key = [
        F.col("ahash_lo").bitwiseAND(65535),
        F.shiftright("ahash_lo", 16).bitwiseAND(65535),
        F.col("ahash_hi").bitwiseAND(65535),
        F.shiftright("ahash_hi", 16).bitwiseAND(65535),
    ]
    bands = ah.select(
        "asset_id",
        "ahash_lo",
        "ahash_hi",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("band"), k.alias("key"))
                    for i, k in enumerate(band_key)
                ]
            )
        ).alias("bk"),
    ).select("asset_id", "ahash_lo", "ahash_hi", "bk.band", "bk.key")
    right = bands.select(
        F.col("asset_id").alias("asset_b"),
        F.col("ahash_lo").alias("lo_b"),
        F.col("ahash_hi").alias("hi_b"),
        F.col("band").alias("band_b"),
        F.col("key").alias("key_b"),
    )
    cand = (
        bands.join(
            right,
            (F.col("band") == F.col("band_b"))
            & (F.col("key") == F.col("key_b"))
            & (F.col("asset_id") < F.col("asset_b")),
        )
        .select(
            F.col("asset_id").alias("asset_a"),
            "asset_b",
            F.col("ahash_lo").alias("lo_a"),
            F.col("ahash_hi").alias("hi_a"),
            "lo_b",
            "hi_b",
        )
        .distinct()
    )
    hamming = F.bit_count(
        F.col("lo_a").bitwiseXOR(F.col("lo_b"))
    ) + F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
    return (
        cand.filter(hamming <= _AHASH_MAX_D)
        .select(
            "asset_a",
            "asset_b",
            hamming.cast("long").alias("hamming"),
        )
        .orderBy("asset_a", "asset_b")
    )


# ----------------------------------------- audio fingerprint near-dup
_AFP_WINDOWS = 32  # energy windows -> 32-bit signature
_AFP_MAX_D = 3     # 4 x 8-bit bands: pigeonhole-complete for Hamming <= 3

# The fingerprint replay as oracle CTEs: synthesis ``a``/``s``, windowed
# energies, the 32-bit signature ``sig`` and its four 8-bit ``bands``.
_AFP_BANDS_SQL = f"""a AS (
  SELECT doc_id AS asset_id, 64 + doc_id % 64 AS n
  FROM documents WHERE doc_id < {_WAV_N_ASSETS}
), s AS (
  SELECT asset_id, n, i.i AS i,
         abs((asset_id * 31 + i.i * 7) % 2001 - 1000) AS e
  FROM a, LATERAL (SELECT unnest(generate_series(0, n - 1)) AS i) i
), tot AS (
  SELECT asset_id, CAST(SUM(e) AS BIGINT) AS total FROM s GROUP BY asset_id
), win AS (
  SELECT s.asset_id, w.w AS w, CAST(SUM(s.e) AS BIGINT) AS we
  FROM s, LATERAL (SELECT unnest(generate_series(0, {_AFP_WINDOWS - 1})) AS w) w
  WHERE s.i >= (w.w * s.n) // {_AFP_WINDOWS}
    AND s.i < ((w.w + 1) * s.n) // {_AFP_WINDOWS}
  GROUP BY s.asset_id, w.w
), sig AS (
  SELECT win.asset_id,
         CAST(SUM(CASE WHEN {_AFP_WINDOWS} * win.we > tot.total
                       THEN (1 << win.w) ELSE 0 END) AS BIGINT) AS fp
  FROM win JOIN tot ON win.asset_id = tot.asset_id
  GROUP BY win.asset_id
), bands AS (
  SELECT asset_id, fp, band, (fp >> (8 * band)) & 255 AS key
  FROM sig, (VALUES (0), (1), (2), (3)) b(band)
)"""

_AFP_ORACLE = f"""
WITH {_AFP_BANDS_SQL}, cand AS (
  SELECT DISTINCT a.asset_id AS asset_a, bb.asset_id AS asset_b,
         a.fp AS fp_a, bb.fp AS fp_b
  FROM bands a JOIN bands bb
    ON a.band = bb.band AND a.key = bb.key AND a.asset_id < bb.asset_id
), verified AS (
  SELECT CAST(bit_count(xor(fp_a, fp_b)) AS BIGINT) AS hamming,
         asset_a, asset_b
  FROM cand
  WHERE bit_count(xor(fp_a, fp_b)) <= {_AFP_MAX_D}
)
SELECT hamming,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(MIN(asset_a * 1000000 + asset_b) AS BIGINT) AS example_pair
FROM verified
GROUP BY hamming
ORDER BY hamming
"""


def _audio_fingerprint_pairs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The audio near-dup pipeline up to verified pairs: decode each
    WAV, fold its PCM stream into ``_AFP_WINDOWS`` energy windows,
    threshold each against the clip mean into a 32-bit fingerprint and
    materialize the signatures ``(asset_id, fp)``; then explode them
    into 4 x 8-bit band keys, bucket-join on band equality and keep the
    distinct pairs within Hamming ``_AFP_MAX_D``. Returns the
    signatures and the pairs ``(asset_a, asset_b, hamming)`` with
    asset_a < asset_b."""
    from ushas_spark.durability import materialize

    assets = synthesize_wav_assets(spark, sf_dir)

    def fingerprint(aid, payload):
        _, _, n, samples = _read_wav(payload)
        e = [abs(s) for s in samples]
        total = sum(e)
        fp = 0
        for w_i in range(_AFP_WINDOWS):
            lo = w_i * n // _AFP_WINDOWS
            hi = (w_i + 1) * n // _AFP_WINDOWS
            if _AFP_WINDOWS * sum(e[lo:hi]) > total:
                fp |= 1 << w_i
        yield aid, fp

    sig = materialize(per_asset(assets, fingerprint, "asset_id bigint, fp bigint"))
    bands = sig.select(
        "asset_id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("fp", 8 * b)
                        .bitwiseAND(255)
                        .alias("key"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select("asset_id", "fp", "bk.band", "bk.key")
    right = bands.select(
        F.col("asset_id").alias("asset_b"),
        F.col("fp").alias("fp_b"),
        F.col("band").alias("band_b"),
        F.col("key").alias("key_b"),
    )
    hamming = F.bit_count(F.col("fp").bitwiseXOR(F.col("fp_b")))
    pairs = (
        bands.join(
            right,
            (F.col("band") == F.col("band_b"))
            & (F.col("key") == F.col("key_b"))
            & (F.col("asset_id") < F.col("asset_b")),
        )
        .filter(hamming <= _AFP_MAX_D)
        .select(
            F.col("asset_id").alias("asset_a"),
            "asset_b",
            hamming.cast("long").alias("hamming"),
        )
        .distinct()
    )
    return sig, pairs


@query("multimodal_audio_fingerprint", oracle=_AFP_ORACLE)
def multimodal_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate AUDIO detection: decode each WAV (real stdlib
    codec), fold the PCM stream into {_AFP_WINDOWS} equal energy
    windows, threshold each window against the clip mean (exact
    integer compare {_AFP_WINDOWS}*e > total) into a 32-bit
    fingerprint, then find Hamming-close clips via 4 x 8-bit band
    buckets (pigeonhole-complete for radius {_AFP_MAX_D}) -- the audio
    arm of the near-dup story, same banded shape as MinHash (text),
    cosine-LSH (embeddings) and aHash (images). Output is the verified
    pair histogram by distance with a deterministic example pair.

    Scale shape: one mapInPandas decode pass (per-asset work, the only
    honest place for a codec), signatures materialized, then the x4
    band explode + bucket join + bit_count verify all in codegen
    (:func:`_audio_fingerprint_pairs`). The oracle replays synthesis ->
    windowing -> threshold -> band -> verify in pure integer SQL."""
    _, pairs = _audio_fingerprint_pairs(spark, sf_dir)
    return (
        pairs.groupBy("hamming")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min(
                F.col("asset_a") * 1_000_000 + F.col("asset_b")
            ).alias("example_pair"),
        )
        .orderBy("hamming")
    )


def _cluster_summary(comp: DataFrame) -> DataFrame:
    """Curation summary of a connected-components ``(id, label)`` frame:
    cluster count, duplicate clusters and the assets they hold, the
    largest cluster, and how many assets keep-one-per-cluster removes."""
    sizes = comp.groupBy("label").agg(F.count(F.lit(1)).alias("n_members"))
    return sizes.agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum((F.col("n_members") > 1).cast("long")).alias("n_dup_clusters"),
        F.sum(
            F.when(F.col("n_members") > 1, F.col("n_members")).otherwise(0)
        ).alias("n_dup_assets"),
        F.max("n_members").alias("largest_cluster"),
        (F.sum("n_members") - F.count(F.lit(1))).alias("n_removable"),
    )


_IMG_CLUSTER_ORACLE = f"""
WITH RECURSIVE {_AHASH_BITS_SQL}, {_AHASH_BANDS_SQL}, pairs AS (
  SELECT DISTINCT a.asset_id AS a, bb.asset_id AS b
  FROM bands a JOIN bands bb
    ON a.band = bb.band AND a.key = bb.key AND a.asset_id < bb.asset_id
  WHERE bit_count(xor(a.ahash_lo, bb.ahash_lo))
        + bit_count(xor(a.ahash_hi, bb.ahash_hi)) <= {_AHASH_MAX_D}
), {_components_summary_sql("a", "b", "ah")}"""


@query("multimodal_image_dedup_clusters", oracle=_IMG_CLUSTER_ORACLE)
def multimodal_image_dedup_clusters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Image-level dedup CLUSTERS: the banded-aHash near-dup pairs
    (multimodal_ahash_near_dup) resolved into connected components by
    hash-min label propagation, summarised to the numbers a curation
    run acts on -- how many visual-duplicate groups exist, how many
    assets they absorb, and how many files deduplication would remove
    (keep-one-per-cluster). Completes the image arm end to end:
    decode -> perceptual hash -> banded pairs -> clusters, exactly the
    text tier's shape (dedup_cluster_components).

    Oracle: the full decode -> hash -> band -> verify chain plus a
    recursive-CTE components replay -- the whole pipeline gates as one
    unit."""
    from ushas_spark.operators.dedup import connected_components

    # connected_components materializes its edge input itself.
    pairs = multimodal_ahash_near_dup(spark, sf_dir).select("asset_a", "asset_b")
    assets = (
        documents_as_assets(spark, sf_dir)
        .select(F.col("asset_id"))
        .filter(F.col("asset_id") < _PNG_N_ASSETS)
    )
    return _cluster_summary(
        connected_components(
            assets, pairs, id_col="asset_id", src="asset_a", dst="asset_b"
        )
    )


_AFP_CLUSTER_ORACLE = f"""
WITH RECURSIVE {_AFP_BANDS_SQL}, pairs AS (
  SELECT DISTINCT a2.asset_id AS pa, bb.asset_id AS pb
  FROM bands a2 JOIN bands bb
    ON a2.band = bb.band AND a2.key = bb.key AND a2.asset_id < bb.asset_id
  WHERE bit_count(xor(a2.fp, bb.fp)) <= {_AFP_MAX_D}
), {_components_summary_sql("pa", "pb", "sig")}"""


@query("multimodal_audio_dedup_clusters", oracle=_AFP_CLUSTER_ORACLE)
def multimodal_audio_dedup_clusters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Audio-level dedup CLUSTERS: the banded energy-fingerprint pairs
    (multimodal_audio_fingerprint's verified tier) resolved to
    connected components and summarised for curation -- the audio arm
    end to end (decode -> fingerprint -> banded pairs -> clusters),
    mirroring multimodal_image_dedup_clusters so every modality ships
    the same pipeline shape. On this synthetic corpus the near-clique
    structure (homogeneous white-noise clips) collapses into few large
    clusters -- exactly the pathology a curator needs surfaced before
    trusting radius parameters on real audio.

    Oracle: synthesis -> windowed energies -> threshold -> band ->
    verify -> recursive-CTE components, gated as one unit."""
    from ushas_spark.operators.dedup import connected_components

    sig, pairs = _audio_fingerprint_pairs(spark, sf_dir)
    # connected_components materializes its edge input itself.
    return _cluster_summary(
        connected_components(
            sig.select("asset_id"),
            pairs.select("asset_a", "asset_b"),
            id_col="asset_id",
            src="asset_a",
            dst="asset_b",
        )
    )


# ----------------------------------------------------- video frame sampling
# A minimal deterministic video container ("USVF": magic + header +
# length-prefixed zlib-compressed grayscale frames). There is no stdlib
# video codec, so the CONTAINER format is self-defined, but every layer
# the operator exercises is real: struct-packed binary headers parsed
# byte-for-byte, per-frame zlib decompression (stdlib, an actual codec),
# and pixel arithmetic on the decompressed plane. Frame pixels are
# deterministic in (asset_id, frame, x, y), so the DuckDB oracle
# recomputes every sampled frame's luma statistics arithmetically
# without touching the binary -- the same pattern as the WAV/PNG arms.

_VIDEO_N_ASSETS = 150
_VIDEO_SAMPLE_EVERY = 3  # keep frames 0, 3, 6, ...


def _video_dims(asset_id: int) -> tuple[int, int, int, int]:
    """(width, height, fps, n_frames) -- mirrored arithmetically in SQL."""
    return (
        6 + asset_id % 3,
        4 + asset_id % 2,
        10 + (asset_id % 3) * 5,
        8 + asset_id % 9,
    )


def _video_pixel(asset_id: int, f: int, x: int, y: int) -> int:
    """Deterministic 8-bit luma -- mirrored in SQL."""
    return (asset_id * 7 + f * 13 + x * 3 + y * 5) % 256


def synthesize_video_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build USVF containers, one per document id, as Arrow-batched
    mapInPandas (each executor packs its own binaries; only
    (id, payload) crosses the Arrow boundary)."""
    import struct
    import zlib

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _VIDEO_N_ASSETS
    ).select(F.col("doc_id").alias("asset_id"))

    def gen(aid):
        w, h, fps, n = _video_dims(int(aid))
        parts = [b"USVF", struct.pack("<HHHI", w, h, fps, n)]
        for f in range(n):
            plane = bytes(
                _video_pixel(int(aid), f, x, y) for y in range(h) for x in range(w)
            )
            comp = zlib.compress(plane, 6)
            parts.append(struct.pack("<II", f * 1000 // fps, len(comp)))
            parts.append(comp)
        yield aid, b"".join(parts)

    return per_asset(d, gen, "asset_id bigint, payload binary")


def sample_video_frames(assets: DataFrame) -> DataFrame:
    """Parse the container, keep _VIDEO_SAMPLE_EVERY ``_VIDEO_SAMPLE_EVERY``-th frame, decompress it
    (REAL zlib decode), and emit per-frame luma statistics.

    This is the training-data shape for video: one binary column in,
    one row per SAMPLED frame out, with the decode running inside an
    Arrow batch on the executor that already holds the bytes --
    payloads never shuffle, and the output rows carry only metadata +
    features. Sampling at parse time (rather than decode-then-filter)
    means skipped frames are never even decompressed: the header walk
    seeks over them by their length prefix."""
    import struct
    import zlib

    out_schema = (
        "asset_id bigint, frame_no bigint, pts_ms bigint, width bigint, "
        "height bigint, luma_sum bigint, luma_mean_x100 bigint"
    )

    def frames(aid, payload):
        buf = bytes(payload)
        assert buf[:4] == b"USVF", "bad magic"
        w, h, fps, n = struct.unpack_from("<HHHI", buf, 4)
        off = 4 + 10
        for f in range(n):
            pts_ms, clen = struct.unpack_from("<II", buf, off)
            off += 8
            if f % _VIDEO_SAMPLE_EVERY == 0:
                s = sum(zlib.decompress(buf[off : off + clen]))
                yield int(aid), f, pts_ms, w, h, s, 100 * s // (w * h)
            off += clen

    return per_asset(assets, frames, out_schema)


_VIDEO_ORACLE = f"""
WITH p AS (
  SELECT doc_id AS asset_id,
         6 + doc_id % 3 AS w,
         4 + doc_id % 2 AS h,
         10 + (doc_id % 3) * 5 AS fps,
         8 + doc_id % 9 AS n
  FROM documents WHERE doc_id < {_VIDEO_N_ASSETS}
),
fr AS (
  SELECT asset_id, w, h, fps, unnest(range(0, n)) AS f FROM p
),
kept AS (SELECT * FROM fr WHERE f % {_VIDEO_SAMPLE_EVERY} = 0),
px AS (
  SELECT k.asset_id, k.f, k.w, k.h, k.fps,
         SUM((k.asset_id * 7 + k.f * 13 + x.x * 3 + y.y * 5) % 256) AS s
  FROM kept k, range(0, 8) x(x), range(0, 5) y(y)
  WHERE x.x < k.w AND y.y < k.h
  GROUP BY k.asset_id, k.f, k.w, k.h, k.fps
)
SELECT asset_id,
       CAST(f AS BIGINT) AS frame_no,
       CAST(f * 1000 // fps AS BIGINT) AS pts_ms,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(s AS BIGINT) AS luma_sum,
       CAST(100 * s // (w * h) AS BIGINT) AS luma_mean_x100
FROM px ORDER BY asset_id, frame_no
"""


@query("multimodal_video_frame_sample", oracle=_VIDEO_ORACLE)
def multimodal_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end video arm: synthesize real length-prefixed containers
    -> Arrow batch -> header walk + stride sampling + zlib frame decode
    -> per-sampled-frame luma stats. Completes the modality set beside
    the WAV (audio) and PNG (image) arms; the oracle regenerates every
    sampled frame arithmetically, so the header parse, the seek-over-
    skipped-frames logic, pts arithmetic, and the decompressed pixel
    sums are all value-gated."""
    assets = synthesize_video_assets(spark, sf_dir)
    return sample_video_frames(assets).orderBy("asset_id", "frame_no")
