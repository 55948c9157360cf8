"""Multimodal column handling: opaque binary payloads + typed metadata.

Media bytes (image/audio/video) travel as a ``binary`` column next to a
metadata struct.  Synthesis, decode, feature extraction and frame
sampling all run executor-side through one seam, :func:`map_rows`: an
Arrow-batched ``mapInPandas`` that hands a per-row function plain Python
values and builds each output batch from the tuples it yields, so each
task processes whole record batches.  Image decode is REAL for
PPM / BMP / PNG via the pure-stdlib codecs in
:mod:`direct_spark_sql_spark.operators.imagecodec` and for baseline JPEG
via :mod:`direct_spark_sql_spark.operators.jpegcodec`; formats needing
external libraries would slot in behind the same ``decode_image`` seam.

Scale: mapInPandas preserves partitioning (no shuffle); batch size follows
``spark.sql.execution.arrow.maxRecordsPerBatch``.  For 100 TB of media the
binary column should be read from parquet with
``spark.sql.parquet.enableVectorizedReader`` left on and partitions sized
so one batch of decoded frames fits executor memory.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T

CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("chunk_idx", T.IntegerType()),
        T.StructField("chunk_bytes", T.BinaryType()),
    ]
)


def map_rows(
    df: DataFrame,
    cols: Sequence[str],
    schema: T.StructType,
    fn: Callable[..., Iterable[tuple]],
) -> DataFrame:
    """``df``'s ``cols`` through ``fn`` in one Arrow-batched ``mapInPandas``.

    ``fn`` is called once per row with that row's values as plain Python
    values (``Series.tolist()``: ``int``, ``str``, ``bytes``, None) and
    yields zero or more tuples in ``schema`` field order, so the same
    helper serves 1:1 and flat-map operators.  A batch that yields no
    tuple emits no frame."""
    names = schema.fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            columns = (series.tolist() for _, series in pdf.items())
            rows = [out for values in zip(*columns) for out in fn(*values)]
            if rows:
                yield pd.DataFrame(rows, columns=names)

    return df.select(*cols).mapInPandas(run, schema)


def _pixels(buf: bytes, *shape: int) -> np.ndarray:
    """``buf``'s unsigned bytes as an int64 array of ``shape``."""
    return np.frombuffer(buf, dtype=np.uint8).astype(np.int64).reshape(shape)


def _synthesize(
    df: DataFrame, id_col: str, media_col: str, payload: Callable[[int], bytes]
) -> DataFrame:
    """One ``(id, media)`` row per input id, ``media = payload(id)``."""
    schema = T.StructType(
        [T.StructField(id_col, T.LongType()), T.StructField(media_col, T.BinaryType())]
    )
    return map_rows(df, [id_col], schema, lambda i: [(i, payload(i))])


def attach_binary(df: DataFrame, payload_col: str, mime: str, source_col: str) -> DataFrame:
    """Wrap an existing column's bytes as (media binary, metadata struct)."""
    payload = F.col(payload_col).cast("binary")
    return df.select(
        "*",
        payload.alias("media"),
        F.struct(
            F.lit(mime).alias("mime"),
            F.length(payload).cast("long").alias("n_bytes"),
            F.col(source_col).alias("source"),
        ).alias("media_meta"),
    )


IMAGE_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("px_sum", T.LongType()),
        T.StructField("px_min", T.IntegerType()),
        T.StructField("px_max", T.IntegerType()),
    ]
)


def synthesize_images(
    df: DataFrame, id_col: str = "doc_id", media_col: str = "media"
) -> DataFrame:
    """Deterministic real-format test images, one per input id.

    Dimensions and pixels are pure functions of the id (so an oracle can
    recompute the expected stats arithmetically): ``w = 4 + id % 13``,
    ``h = 3 + id % 11``, each RGB channel of pixel (x, y) is
    ``(x*7 + y*13 + id*31) % 256`` (grayscale, so GIF's 256-entry palette
    always suffices), and the container format cycles ppm/bmp/png/gif by
    ``id % 4`` — all four lossless, so the decode-side stats stay exact.
    Encoding happens executor-side — the driver never sees a payload."""
    from direct_spark_sql_spark.operators.gifcodec import encode_gif
    from direct_spark_sql_spark.operators.imagecodec import (
        encode_bmp,
        encode_png,
        encode_ppm,
    )

    encoders = {0: encode_ppm, 1: encode_bmp, 2: encode_png, 3: encode_gif}

    def image(i: int) -> bytes:
        w, h = 4 + i % 13, 3 + i % 11
        rgb = bytes(
            (x * 7 + y * 13 + i * 31) % 256
            for y in range(h)
            for x in range(w)
            for _c in range(3)
        )
        return encoders[i % 4](w, h, rgb)

    return _synthesize(df, id_col, media_col, image)


def extract_image_features(
    df: DataFrame, id_col: str = "doc_id", media_col: str = "media"
) -> DataFrame:
    """REAL image decode: sniff + decode each payload (PPM/BMP/PNG/GIF/JPEG),
    emit true dimensions and pixel statistics; an unrecognized payload
    raises ValueError."""
    from direct_spark_sql_spark.operators.imagecodec import decode_image

    def features(doc_id, payload):
        fmt, w, h, rgb = decode_image(payload)
        yield doc_id, fmt, w, h, w * h, sum(rgb), min(rgb), max(rgb)

    return map_rows(df, [id_col, media_col], IMAGE_FEATURE_SCHEMA, features)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("r_width", T.IntegerType()),
        T.StructField("r_height", T.IntegerType()),
        T.StructField("r_sum", T.LongType()),
        T.StructField("r_min", T.IntegerType()),
        T.StructField("r_max", T.IntegerType()),
    ]
)


def resize_images_box2(
    df: DataFrame, id_col: str = "doc_id", media_col: str = "media"
) -> DataFrame:
    """REAL decode + 2× box-filter downscale (area averaging), the
    thumbnail/training-resolution step of an image pipeline: each output
    pixel is ``floor(mean of its 2×2 source block)`` per channel; an odd
    trailing row/column is dropped (floor dimensions), so the semantics
    are exactly integer-replayable by the oracle.  Degenerate sources
    too small to halve emit zero stats.

    The block sums are vectorized in numpy (strided slicing — no Python
    per-pixel loop); like the other codec ops, no shuffle: map-only at
    any corpus size."""
    from direct_spark_sql_spark.operators.imagecodec import decode_image

    def resized(doc_id, payload):
        fmt, w, h, rgb = decode_image(payload)
        rw, rh = w // 2, h // 2
        if rw == 0 or rh == 0:
            yield doc_id, fmt, w, h, rw, rh, 0, 0, 0
            return
        a = _pixels(rgb, h, w, 3)[: rh * 2, : rw * 2]
        r = (a[0::2, 0::2] + a[0::2, 1::2] + a[1::2, 0::2] + a[1::2, 1::2]) // 4
        yield doc_id, fmt, w, h, rw, rh, int(r.sum()), int(r.min()), int(r.max())

    return map_rows(df, [id_col, media_col], RESIZE_SCHEMA, resized)


AHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("ahash", T.LongType()),
    ]
)

#: aHash grid: 4 x 3 cells — every synthesized test image (w >= 4,
#: h >= 3) fills every cell, and real thumbnails would use 8 x 8 with
#: the identical floor-bucket mapping.
AHASH_GX, AHASH_GY = 4, 3
#: video_fingerprint packs 12-bit frame hashes positionally; 5 slots =
#: 60 bits is the most that fits a signed int64 without touching the
#: sign bit — later sampled frames fold in by XOR instead (ADVICE r7).
VFP_MAX_PACKED = 5


def _ahash(plane: np.ndarray) -> int:
    """All-integer 4×3 average hash of one (h, w) int64 intensity plane:
    the plane is bucketed into the grid by floor mapping
    (``bx = x * 4 // w``), each cell's value is the floor mean of its
    pixels, the threshold is the floor mean of the 12 cell values, and
    bit ``by * 4 + bx`` is set iff its cell exceeds the threshold."""
    h, w = plane.shape
    xs = np.arange(w) * AHASH_GX // w  # floor bucket per col
    ys = np.arange(h) * AHASH_GY // h  # floor bucket per row
    cell = np.zeros((AHASH_GY, AHASH_GX), dtype=np.int64)
    cnt = np.zeros((AHASH_GY, AHASH_GX), dtype=np.int64)
    np.add.at(cell, (ys[:, None], xs[None, :]), plane)
    np.add.at(cnt, (ys[:, None], xs[None, :]), 1)
    means = cell // cnt
    thr = means.sum() // (AHASH_GX * AHASH_GY)
    bits = (means > thr).astype(np.int64)
    idx = np.arange(AHASH_GY)[:, None] * AHASH_GX + np.arange(AHASH_GX)[None, :]
    return int((bits << idx).sum())


def image_ahash(
    df: DataFrame, id_col: str = "doc_id", media_col: str = "media"
) -> DataFrame:
    """REAL decode + average-hash fingerprint — the standard perceptual
    image-dedup primitive (brightness-shift tolerant: two images with the
    same spatial pattern hash identically even when one is uniformly
    lighter, as long as no channel wraps): grayscale = per-pixel integer
    mean of RGB, hashed by :func:`_ahash`.

    All-integer arithmetic end to end, so the DuckDB oracle recomputes
    every hash from the source pixel formula; equal hashes are the
    near-duplicate buckets (an equi-groupBy — the image analogue of the
    MinHash band bucket, no pairwise compare at any corpus size).
    Map-only."""
    from direct_spark_sql_spark.operators.imagecodec import decode_image

    def hashed(doc_id, payload):
        fmt, w, h, rgb = decode_image(payload)
        gray = _pixels(rgb, h, w, 3).sum(axis=2) // 3  # (h, w) integer grayscale
        yield doc_id, fmt, w, h, _ahash(gray)

    return map_rows(df, [id_col, media_col], AHASH_SCHEMA, hashed)


JPEG_ROUNDTRIP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("max_abs_err", T.IntegerType()),
    ]
)


def jpeg_encode_decode_verify(
    df: DataFrame, id_col: str = "doc_id", quality: int = 90
) -> DataFrame:
    """Executor-side JPEG encode -> sniff-decode -> pixel-error audit.

    For each input id, synthesize a smooth deterministic RGB gradient
    (``w = 8 + id % 17``, ``h = 6 + id % 13``; channels are linear ramps
    whose offsets vary by id), encode it as baseline JFIF — 4:4:4 for even
    ids, 4:2:0 for odd — then decode through the generic ``decode_image``
    sniffer and emit the decoded dimensions plus the max per-pixel error
    against the regenerated formula.  JPEG is lossy, so unlike the
    ppm/bmp/png path an oracle cannot predict exact pixel sums; a caller
    asserts a tolerance bound instead (smooth ramps reconstruct within a
    few counts at quality 90).  Everything runs executor-side — no
    payload ever reaches the driver."""
    from direct_spark_sql_spark.operators.imagecodec import decode_image
    from direct_spark_sql_spark.operators.jpegcodec import encode_jpeg

    def synth(i: int) -> np.ndarray:
        w, h = 8 + i % 17, 6 + i % 13
        y, x = np.mgrid[0:h, 0:w]
        return np.stack(
            [
                60 + i % 50 + 3 * x + 2 * y,
                40 + i % 60 + 2 * x + 3 * y,
                80 + i % 40 + x + y,
            ],
            axis=-1,
        ).astype(np.uint8)

    def audit(i):
        img = synth(i)
        h, w = img.shape[:2]
        payload = encode_jpeg(
            w, h, img.tobytes(), quality=quality,
            subsampling="444" if i % 2 == 0 else "420",
        )
        fmt, gw, gh, rgb = decode_image(payload)
        got = _pixels(rgb, gh, gw, 3)
        err = int(np.abs(got - img.astype(int)).max()) if (gw, gh) == (w, h) else 255
        yield i, fmt, gw, gh, err

    return map_rows(df, [id_col], JPEG_ROUNDTRIP_SCHEMA, audit)


def chunk_binary(
    df: DataFrame,
    id_col: str = "doc_id",
    media_col: str = "media",
    n_chunks: int = 4,
) -> DataFrame:
    """Split each binary payload into ``n_chunks`` contiguous byte ranges —
    the blob-sharding step a pipeline needs before shipping oversized
    payloads through per-record size limits.  One row per chunk (a null
    or empty payload yields none): flatMap-shaped output.  (Video
    *keyframe* sampling is the separate real decoder,
    :func:`sample_video_frames`.)"""

    def chunks(doc_id, payload):
        if not payload:
            return
        step = max(len(payload) // n_chunks, 1)
        for i in range(min(n_chunks, len(payload))):
            yield doc_id, i, payload[i * step : (i + 1) * step]

    return map_rows(df, [id_col, media_col], CHUNK_SCHEMA, chunks)


AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("duration_us", T.LongType()),
        T.StructField("amp_min", T.IntegerType()),
        T.StructField("amp_max", T.IntegerType()),
        T.StructField("amp_abs_sum", T.LongType()),
    ]
)


def synthesize_audio(
    df: DataFrame, id_col: str = "doc_id", media_col: str = "media"
) -> DataFrame:
    """Deterministic real WAV payloads, one per input id.

    Geometry and samples are pure functions of the id (so an oracle can
    recompute the expected stats arithmetically): ``rate`` cycles
    8000/16000/22050 by ``id % 3``, ``channels = 1 + id % 2``,
    ``n_frames = 64 + id % 37``, and sample (frame i, channel c) is
    ``((i*(3 + id%5) + c*11 + id*17) % 65536) - 32768``.  Encoding happens
    executor-side."""
    from direct_spark_sql_spark.operators.audiocodec import encode_wav

    rates = (8000, 16000, 22050)

    def wav(i: int) -> bytes:
        rate, channels, n = rates[i % 3], 1 + i % 2, 64 + i % 37
        step = 3 + i % 5
        samples = [
            ((f * step + c * 11 + i * 17) % 65536) - 32768
            for f in range(n)
            for c in range(channels)
        ]
        return encode_wav(rate, channels, samples)

    return _synthesize(df, id_col, media_col, wav)


AUDIO_FP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("afp", T.LongType()),
    ]
)

#: audio fingerprint windows: the energy contour is compared across 8
#: floor-bucketed windows -> a 7-bit rising/falling signature
AUDIO_FP_WINDOWS = 8


def audio_fingerprint(
    df: DataFrame, id_col: str = "doc_id", media_col: str = "media"
) -> DataFrame:
    """REAL WAV decode + energy-contour fingerprint — the integer-exact
    skeleton of an acoustic fingerprint (Haitsma-Kalker style: the HASH
    is the sign pattern of energy deltas across time windows, so uniform
    gain changes that scale all windows together preserve most bits):
    frames mix down by CHANNEL SUM (no division — truncated vs floored
    negative division differs across engines), each frame lands in one
    of 8 floor-bucketed windows, window energy is the exact integer sum
    of squared mono amplitudes, bit ``b-1`` (b = 1..7) is set iff
    window b's energy exceeds window b-1's, and bit ``7+w`` (w = 0..7)
    is set iff window w is louder than the average window
    (``e[w] * 8 > total`` — the multiply keeps it integer-exact) — a
    15-bit contour+profile signature.

    Equal fingerprints are the near-duplicate buckets (equi-groupBy — no
    pairwise compare at any corpus size), mirroring image_ahash for the
    audio modality; the oracle recomputes every fingerprint from the
    synthesis formula.  Map-only."""
    from direct_spark_sql_spark.operators.audiocodec import decode_wav

    def fingerprint(doc_id, payload):
        rate, channels, samples = decode_wav(payload)
        arr = np.asarray(samples, dtype=np.int64).reshape(-1, channels)
        n = arr.shape[0]
        mono = arr.sum(axis=1)  # channel sum, stays integer
        wb = np.arange(n) * AUDIO_FP_WINDOWS // n
        energy = np.zeros(AUDIO_FP_WINDOWS, dtype=np.int64)
        np.add.at(energy, wb, mono * mono)
        bits = (energy[1:] > energy[:-1]).astype(np.int64)
        afp = int((bits << np.arange(AUDIO_FP_WINDOWS - 1)).sum())
        loud = (energy * AUDIO_FP_WINDOWS > energy.sum()).astype(np.int64)
        afp += int((loud << (np.arange(AUDIO_FP_WINDOWS) + AUDIO_FP_WINDOWS - 1)).sum())
        yield doc_id, rate, channels, n, afp

    return map_rows(df, [id_col, media_col], AUDIO_FP_SCHEMA, fingerprint)


def extract_audio_features(
    df: DataFrame, id_col: str = "doc_id", media_col: str = "media"
) -> DataFrame:
    """REAL audio decode: parse each WAV container (chunk walk, PCM16) and
    emit format + amplitude statistics.  All outputs are integers, so the
    oracle match is exact."""
    from direct_spark_sql_spark.operators.audiocodec import decode_wav

    def features(doc_id, payload):
        rate, channels, samples = decode_wav(payload)
        n_frames = len(samples) // channels
        yield (
            doc_id,
            rate,
            channels,
            n_frames,
            n_frames * 1_000_000 // rate,
            min(samples),
            max(samples),
            sum(abs(s) for s in samples),
        )

    return map_rows(df, [id_col, media_col], AUDIO_FEATURE_SCHEMA, features)


VIDEO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("luma_sum", T.LongType()),
        T.StructField("luma_min", T.IntegerType()),
        T.StructField("luma_max", T.IntegerType()),
    ]
)


VIDEO_FP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("vfp", T.LongType()),
    ]
)


def video_fingerprint(
    df: DataFrame,
    id_col: str = "doc_id",
    media_col: str = "media",
    every_k: int = 2,
) -> DataFrame:
    """REAL Y4M decode + temporal perceptual fingerprint: every k-th
    frame's LUMA plane gets the same all-integer 4×3 average hash as
    :func:`image_ahash`, and the sampled-frame hashes pack into one
    long — ``vfp = Σ ahash(frame) << (12 · sample_pos)`` for the first
    ``VFP_MAX_PACKED`` (5) samples (60 bits, int64-sign-safe); any
    further sampled frames fold in via a position-salted XOR so long
    videos still contribute every frame without overflowing the Arrow
    LongType boundary (ADVICE r7) — so the fingerprint captures both
    spatial layout and temporal evolution.
    Equal fingerprints are the near-dup buckets (equi-groupBy), the
    video sibling of image/audio perceptual dedup; the oracle recomputes
    every fingerprint from the synthesis formula.  Map-only."""
    from direct_spark_sql_spark.operators.videocodec import decode_y4m

    def fingerprint(doc_id, payload):
        w, h, frames = decode_y4m(payload)
        vfp = 0
        for idx in range(0, len(frames), every_k):
            ahash = _ahash(_pixels(frames[idx][0], h, w))
            pos = idx // every_k
            if pos < VFP_MAX_PACKED:
                vfp += ahash << (12 * pos)
            else:  # beyond the 5 positional slots: sign-safe fold
                vfp ^= (ahash * (2 * pos + 1)) & ((1 << 60) - 1)
        yield doc_id, w, h, len(frames), vfp

    return map_rows(df, [id_col, media_col], VIDEO_FP_SCHEMA, fingerprint)


def synthesize_videos(
    df: DataFrame, id_col: str = "doc_id", media_col: str = "media"
) -> DataFrame:
    """Deterministic real Y4M video payloads, one per input id.

    Geometry and pixels are pure functions of the id: ``w = 4 + 2*(id%5)``,
    ``h = 4 + 2*(id%4)``, ``n_frames = 3 + id%4``; luma of pixel (x, y) in
    frame f is ``(x*3 + y*7 + f*11 + id*13) % 256``; chroma planes are the
    constant ``(f*5 + id) % 256`` / ``(f*9 + id) % 256``."""
    from direct_spark_sql_spark.operators.videocodec import encode_y4m

    def video(i: int) -> bytes:
        w, h, n = 4 + 2 * (i % 5), 4 + 2 * (i % 4), 3 + i % 4
        frames = []
        for f in range(n):
            y = bytes(
                (x * 3 + yy * 7 + f * 11 + i * 13) % 256
                for yy in range(h)
                for x in range(w)
            )
            u = bytes([(f * 5 + i) % 256]) * ((w // 2) * (h // 2))
            v = bytes([(f * 9 + i) % 256]) * ((w // 2) * (h // 2))
            frames.append((y, u, v))
        return encode_y4m(w, h, frames)

    return _synthesize(df, id_col, media_col, video)


def sample_video_frames(
    df: DataFrame,
    id_col: str = "doc_id",
    media_col: str = "media",
    every_k: int = 2,
) -> DataFrame:
    """REAL video frame sampling: parse each Y4M stream, keep every k-th
    frame, emit per-frame luma statistics — the keyframe-sampling step of
    a video-training pipeline, flatMap-shaped."""
    from direct_spark_sql_spark.operators.videocodec import decode_y4m

    def sampled(doc_id, payload):
        w, h, frames = decode_y4m(payload)
        for idx in range(0, len(frames), every_k):
            y = frames[idx][0]
            yield doc_id, idx, w, h, sum(y), min(y), max(y)

    return map_rows(df, [id_col, media_col], VIDEO_FRAME_SCHEMA, sampled)
