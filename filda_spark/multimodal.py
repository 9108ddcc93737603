"""Multimodal columns: image/audio/video/raster payloads as opaque ``binary``
columns with typed metadata, processed by Arrow-batched ``mapInPandas``
kernels.

Decode support (all from-scratch, stdlib-only — see ``codecs.py`` and
``netcdf3.py``):
- ``raster``: raw C-order numpy buffer;
- ``video_raw``: raw (T, H, W) frame stack;
- ``image``: PNG (greyscale 8/16-bit, RGB 8-bit, all five filters);
- ``audio``: RIFF/WAVE (PCM 8/16-bit, float32);
- ``netcdf``: classic CDF-1 container, single- or multi-variable (a
  multi-variable payload is a whole granule — ``decode_netcdf`` expands it);
- ``video_apng``: animated PNG (acTL/fcTL/fdAT), true inter-frame
  compression — per-frame changed-rectangle deltas, lossless;
- ``video_mjpeg``: AVI/RIFF MJPEG — one from-scratch baseline JPEG
  (ITU-T T.81) per ``00dc`` movi chunk.
``video`` (motion-compensated transform codecs, H.264-class) is the one
remaining documented seam: not implementable from a spec with the stdlib —
a library decoder drops into the same dispatch below.

Scale notes: feature extraction is map-only (no shuffle); at 100 TB the
media table is bucketed by doc_id so per-document batches stay task-local,
and `spark.sql.execution.arrow.maxRecordsPerBatch` bounds decoded batch
memory.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from filda_spark import codecs, netcdf3

DECODABLE_KINDS = {"raster", "video_raw", "image", "audio", "netcdf", "video_apng", "video_mjpeg"}
STUB_KINDS = {"video"}

_KIND_SUFFIX = {
    "_video": "video_raw",
    "_png": "image",
    "_wav": "audio",
    "_nc": "netcdf",
    "_apng": "video_apng",
    "_avi": "video_mjpeg",
}


def media_kind(var: str) -> str:
    """Typed-metadata inference from the variable name: ``*_video`` payloads
    are raw frame stacks (shape (T, H, W)), ``*_png``/``*_wav``/``*_nc``
    are compressed/containerised payloads; everything else is a raster."""
    for suffix, kind in _KIND_SUFFIX.items():
        if var.endswith(suffix):
            return kind
    return "raster"


def _restore_np_dtype(data: np.ndarray, np_dtype: str) -> np.ndarray:
    """Undo netcdf3's classic-type coercion (u2 stored as NC_SHORT etc.):
    same-size integer reinterpret is a lossless view, otherwise astype."""
    want = np.dtype(np_dtype)
    if data.dtype == want:
        return data
    if data.dtype.itemsize == want.itemsize and data.dtype.kind in "iu" and want.kind in "iu":
        return data.view(want)
    return data.astype(want)


def decode_netcdf(payload: bytes) -> dict[str, np.ndarray]:
    """Decode a CDF-1 payload to {var: ndarray}, restoring original numpy
    dtypes from the ``_np_dtype`` variable attribute written at pack time."""
    nc = netcdf3.decode(bytes(payload))
    out = {}
    for name, v in nc["variables"].items():
        np_dt = v["atts"].get("_np_dtype")
        out[name] = _restore_np_dtype(v["data"], np_dt) if np_dt else v["data"]
    return out


def decode_media(
    kind: str, payload: bytes, dtype: str, shape: list[int], var: str | None = None
) -> np.ndarray:
    """Decode an opaque payload to an ndarray.

    raster/video_raw: raw C-order numpy buffer; image: PNG; audio: WAV;
    netcdf: CDF-1 (``var`` selects the variable in a multi-variable payload).
    video: STUB — inter-frame codecs need a library not present in this
    container; the Spark plumbing around this call is complete, drop a real
    decoder in here."""
    if kind in STUB_KINDS:
        raise NotImplementedError(
            f"decode for kind={kind!r} needs a codec library (ffmpeg); "
            "plug it into filda_spark.multimodal.decode_media"
        )
    if kind not in DECODABLE_KINDS:
        raise ValueError(f"unknown media kind {kind!r}")
    if kind in ("image", "video_apng", "video_mjpeg"):
        decoder = {
            "image": codecs.png_decode,
            "video_apng": codecs.apng_decode,
            "video_mjpeg": codecs.avi_decode,
        }[kind]
        arr = decoder(bytes(payload))
        if list(arr.shape) != list(shape) or str(arr.dtype) != dtype:
            raise ValueError(
                f"{kind} decoded to {arr.shape}/{arr.dtype}, metadata says {shape}/{dtype}"
            )
        return arr
    if kind == "audio":
        samples, _rate = codecs.wav_decode(bytes(payload))
        return samples.astype(dtype, copy=False).reshape(tuple(shape))
    if kind == "netcdf":
        allv = decode_netcdf(payload)
        if var is not None and var in allv:
            return allv[var]
        if len(allv) == 1:
            return next(iter(allv.values()))
        raise ValueError("multi-variable netcdf payload needs var=...")
    return np.frombuffer(payload, dtype=dtype).reshape(tuple(shape))


FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("crc32", T.LongType()),
        T.StructField("n_values", T.LongType()),
        T.StructField("v_mean", T.DoubleType()),
        T.StructField("v_std", T.DoubleType()),
        T.StructField("v_min", T.DoubleType()),
        T.StructField("v_max", T.DoubleType()),
        T.StructField("n_nan", T.LongType()),
    ]
)


def extract_features(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: decode + summary features per media row."""
    for pdf in pdfs:
        rows = []
        for r in pdf.itertuples():
            payload = bytes(r.data)
            kind = media_kind(r.var)
            arr = decode_media(kind, payload, r.dtype, list(r.shape), var=r.var).astype(np.float64)
            finite = arr[np.isfinite(arr)]
            rows.append(
                dict(
                    media_ref=r.media_ref,
                    doc_id=r.doc_id,
                    kind=kind,
                    n_bytes=len(payload),
                    crc32=zlib.crc32(payload),
                    n_values=int(arr.size),
                    v_mean=float(finite.mean()) if finite.size else float("nan"),
                    v_std=float(finite.std()) if finite.size else float("nan"),
                    v_min=float(finite.min()) if finite.size else float("nan"),
                    v_max=float(finite.max()) if finite.size else float("nan"),
                    n_nan=int(arr.size - finite.size),
                )
            )
        yield pd.DataFrame(rows, columns=[f.name for f in FEATURE_SCHEMA.fields])


def media_features(media: DataFrame) -> DataFrame:
    """Map-only feature extraction over the media table."""
    return media.mapInPandas(extract_features, schema=FEATURE_SCHEMA)


# Scalar h/w (not array<int>): the driver's canonicalizer sorts rows by every
# column and cannot order list cells, so all output columns stay primitive.
RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("data", T.BinaryType()),
    ]
)


def make_resize_fn(factor: int):
    """2-D block-mean downsample (the raster analogue of image resize);
    factor must divide both dims. Returns a mapInPandas kernel."""

    def resize(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            rows = []
            for r in pdf.itertuples():
                kind = media_kind(r.var)
                arr = decode_media(kind, bytes(r.data), r.dtype, list(r.shape), var=r.var)
                if arr.ndim != 2 or arr.shape[0] % factor or arr.shape[1] % factor:
                    continue
                h, w = arr.shape[0] // factor, arr.shape[1] // factor
                small = arr.astype(np.float64).reshape(h, factor, w, factor).mean(axis=(1, 3))
                rows.append(
                    dict(
                        media_ref=r.media_ref,
                        doc_id=r.doc_id,
                        h=h,
                        w=w,
                        data=small.astype(np.float32).tobytes(),
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in RESIZE_SCHEMA.fields])

    return resize


def media_resize(media: DataFrame, factor: int = 2) -> DataFrame:
    return media.mapInPandas(make_resize_fn(factor), schema=RESIZE_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("f_mean", T.DoubleType()),
        T.StructField("f_std", T.DoubleType()),
        T.StructField("f_min", T.DoubleType()),
        T.StructField("f_max", T.DoubleType()),
    ]
)


def make_frame_sample_fn(every_n: int):
    """mapInPandas kernel: sample every ``every_n``-th frame of each raw
    video payload (shape (T, H, W)) and emit per-frame summary rows. For a
    compressed video kind this same plumbing runs behind decode_media's
    codec seam — only the byte->frames step changes."""

    def sample(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            rows = []
            for r in pdf.itertuples():
                kind = media_kind(r.var)
                if kind not in ("video_raw", "video", "video_apng", "video_mjpeg"):
                    continue
                arr = decode_media(kind, bytes(r.data), r.dtype, list(r.shape), var=r.var)
                if arr.ndim != 3:
                    continue
                for idx in range(0, arr.shape[0], every_n):
                    frame = arr[idx].astype(np.float64)
                    rows.append(
                        dict(
                            media_ref=r.media_ref,
                            doc_id=r.doc_id,
                            frame_idx=idx,
                            h=frame.shape[0],
                            w=frame.shape[1],
                            f_mean=float(frame.mean()),
                            f_std=float(frame.std()),
                            f_min=float(frame.min()),
                            f_max=float(frame.max()),
                        )
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in FRAME_SCHEMA.fields])

    return sample


def frame_sample(media: DataFrame, every_n: int = 2) -> DataFrame:
    """Video frame sampling over raw frame-stack payloads (map-only;
    compressed codecs drop into decode_media's stub seam)."""
    return media.mapInPandas(make_frame_sample_fn(every_n), schema=FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# Perceptual hashing (image near-duplicate detection)
# ---------------------------------------------------------------------------

# 8x8 average-hash: block-mean the raster to an 8x8 grid (np.array_split
# boundaries, so any dims >= 8 work), threshold at the median, pack 64 bits.
# The 4x16-bit bands are the hamming-LSH bucketing key: two hashes within
# hamming distance d <= 6 agree on >= 1 band unless all d flips straddle all
# four bands — the standard banded recall/cost trade, mirrored exactly in
# the DuckDB oracle. Constant rasters (no structure) and non-2D payloads
# hash to None and are skipped on BOTH sides.
PHASH_BANDS = 4


def phash64(arr: np.ndarray):
    """Pure-numpy twin used by the Spark kernel AND the oracle staging.
    Returns the 64-bit average-hash as a Python int, or None for non-2D,
    all-NaN, or zero-variance (structureless) rasters."""
    arr = np.asarray(arr, dtype=np.float64)
    if arr.ndim != 2 or arr.shape[0] < 8 or arr.shape[1] < 8:
        return None
    finite = arr[np.isfinite(arr)]
    if finite.size == 0 or finite.max() == finite.min():
        return None
    a = np.where(np.isfinite(arr), arr, finite.mean())
    m8 = np.array(
        [
            [blk.mean() for blk in np.array_split(row_band, 8, axis=1)]
            for row_band in np.array_split(a, 8, axis=0)
        ]
    )
    med = np.median(m8)
    bits = (m8 > med).ravel()
    h = 0
    for i, b in enumerate(bits):
        if b:
            h |= 1 << i
    return h


def phash_row(h: int) -> dict:
    """Signed-BIGINT phash + the 4 16-bit band values (b0 = low bits)."""
    signed = h - (1 << 64) if h >= (1 << 63) else h
    return dict(
        phash=signed,
        **{f"b{k}": (h >> (16 * k)) & 0xFFFF for k in range(PHASH_BANDS)},
    )


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("var", T.StringType()),
        T.StructField("phash", T.LongType()),
        T.StructField("b0", T.LongType()),
        T.StructField("b1", T.LongType()),
        T.StructField("b2", T.LongType()),
        T.StructField("b3", T.LongType()),
    ]
)


def compute_phash(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: decode -> 8x8 average-hash per media row."""
    for pdf in pdfs:
        rows = []
        for r in pdf.itertuples():
            kind = media_kind(r.var)
            if kind in STUB_KINDS:
                continue
            arr = decode_media(
                kind, bytes(r.data), r.dtype, list(r.shape), var=r.var
            )
            h = phash64(arr)
            if h is None:
                continue
            rows.append(
                dict(media_ref=r.media_ref, doc_id=r.doc_id, var=r.var, **phash_row(h))
            )
        yield pd.DataFrame(rows, columns=[f.name for f in PHASH_SCHEMA.fields])


def image_phash(media: DataFrame) -> DataFrame:
    """Map-only perceptual hashing over the media table."""
    return media.mapInPandas(compute_phash, schema=PHASH_SCHEMA)


def phash_pdf(media_pdf: pd.DataFrame) -> pd.DataFrame:
    """Oracle-staging twin: the same kernel over a single pandas batch."""
    return pd.concat(list(compute_phash([media_pdf])), ignore_index=True)


# ---------------------------------------------------------------------------
# Audio activity segmentation (silence splitting)
# ---------------------------------------------------------------------------

# 32-sample analysis windows; a window is ACTIVE when its energy exceeds
# _AS_THR^2 per sample (integer compare: sum(x^2) > THR^2 * W — no float on
# the decision path). Segments are maximal runs of active windows — the
# ASR-corpus prep step (split telemetry/speech on silence) over the WAV
# media spans; int64 energies cannot overflow (32 * 32767^2 < 2^35).
AS_WIN = 32
AS_THR = 3000

AUDIO_SEG_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("seg_id", T.IntegerType()),
        T.StructField("start_win", T.IntegerType()),
        T.StructField("n_windows", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("peak", T.LongType()),
        T.StructField("rms", T.DoubleType()),
    ]
)


def audio_segments_np(media_pdf: pd.DataFrame) -> pd.DataFrame:
    """Pure-numpy twin used by the Spark kernel AND the oracle staging:
    decode WAV spans, window energies, maximal active runs. Per segment:
    window extent, peak |amplitude| (exact int), RMS (one sqrt per
    segment, 6-dp)."""
    rows = []
    for r in media_pdf.itertuples():
        if media_kind(r.var) != "audio":
            continue
        arr = (
            decode_media("audio", bytes(r.data), r.dtype, list(r.shape), var=r.var)
            .astype(np.int64)
            .ravel()
        )
        nw = arr.size // AS_WIN
        if nw == 0:
            continue
        x = arr[: nw * AS_WIN].reshape(nw, AS_WIN)
        sumsq = (x * x).sum(axis=1)
        active = sumsq > AS_THR * AS_THR * AS_WIN
        seg_id = 0
        i = 0
        while i < nw:
            if not active[i]:
                i += 1
                continue
            j = i
            while j + 1 < nw and active[j + 1]:
                j += 1
            n_win = j - i + 1
            n_samp = n_win * AS_WIN
            ssq = int(sumsq[i : j + 1].sum())
            rows.append(
                dict(
                    media_ref=r.media_ref,
                    doc_id=r.doc_id,
                    seg_id=seg_id,
                    start_win=i,
                    n_windows=n_win,
                    n_samples=n_samp,
                    peak=int(np.abs(x[i : j + 1]).max()),
                    rms=round(float(np.sqrt(ssq / n_samp)), 6),
                )
            )
            seg_id += 1
            i = j + 1
    return pd.DataFrame(rows, columns=[f.name for f in AUDIO_SEG_SCHEMA.fields])


def compute_audio_segments(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: the numpy twin per Arrow batch."""
    for pdf in pdfs:
        yield audio_segments_np(pdf)


def audio_segments(media: DataFrame) -> DataFrame:
    """Map-only audio activity segmentation over the media table. The
    audio predicate is pushed to the parquet scan (StringEndsWith reaches
    PushedFilters) so non-audio payload BYTES never cross the Arrow
    boundary — without it the kernel would transfer every raster blob to
    Python just to skip it (measured 7.9 s -> sub-second at sf0.1)."""
    audio = media.filter(
        F.col("var").endswith(next(k for k, v in _KIND_SUFFIX.items() if v == "audio"))
    )
    return audio.mapInPandas(compute_audio_segments, schema=AUDIO_SEG_SCHEMA)
