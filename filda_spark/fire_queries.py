"""Driver-contract entries for the fire-detection pipeline.

These are the engine's flagship pipeline queries. Exact correctness is
enforced two ways: pytest pins the Spark output bit-exact against the
single-node NumPy oracle, and `oracles()` below materializes that oracle's
output to parquet so the driver's DuckDB check hashes the same values
(rows-only remains only for binary-valued outputs: fire_masks,
media_resize).

The synthetic corpus is built lazily once per geometry and cached under
$FILDA_FIRE_CACHE (default /tmp/filda_fire_corpus); the driver's sf_dir
argument selects the corpus scale: sf >= 0.1 uses the bench geometry
(96 granules, 192x240 M-grid), smaller sfs the 8-granule test geometry.
"""

from __future__ import annotations

import os
import tempfile

import numpy as np

from pyspark.sql import DataFrame, SparkSession

from filda_spark import pipeline
from filda_spark.relational import _rfloor
from filda_spark.namelist import make_namelist

CACHE_ROOT = os.environ.get("FILDA_FIRE_CACHE", "/tmp/filda_fire_corpus")

TEST_GEOM = dict(n_docs=8, h_m=64, w_m=80, dyn_win_dim=31, extra_fires=0)
# bench: 96 granules at 192x240 M-grid with ~300 extra planted fires in the
# hot pair (hotspot skew) — per-granule CPU dominated by the per-fire
# contextual + FRP + Planck-fit kernels, matching the reference's profile
BENCH_GEOM = dict(n_docs=96, h_m=192, w_m=240, dyn_win_dim=61, extra_fires=300)
# scaling runs use more granules so per-job fixed costs amortize and the
# wall clock is compute-dominated at both parallelism levels
SCALING_GEOM = dict(n_docs=384, h_m=192, w_m=240, dyn_win_dim=61, extra_fires=300)


def _geom_for(sf_dir: str) -> dict:
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = 0.0
    return BENCH_GEOM if sf >= 0.1 else TEST_GEOM


# bump when fixtures.py changes the corpus content (stale cached corpora
# otherwise poison runs — media vars, emissivity/static tables, etc.)
FIXTURE_VERSION = 8


def corpus_dir(geom: dict) -> str:
    d = (
        f"{CACHE_ROOT}/v{FIXTURE_VERSION}_n{geom['n_docs']}_h{geom['h_m']}_w{geom['w_m']}"
        f"_f{geom.get('extra_fires', 0)}"
    )
    marker = f"{d}/_BUILT"
    if not os.path.exists(marker):
        from filda_spark.fixtures import build_corpus

        build_corpus(
            d,
            n_docs=geom["n_docs"],
            h_m=geom["h_m"],
            w_m=geom["w_m"],
            extra_fires=geom.get("extra_fires", 0),
        )
        open(marker, "w").write("ok")
    return d


def _nl(geom: dict) -> dict:
    return make_namelist(dyn_win_dim=geom["dyn_win_dim"])


# per-process memo of the staged enriched+deduped detections: five driver
# entries (fire_detections/_mod/tiles/mcbef_state/mcbef_sample) consume the
# same deterministic pipeline output — materialize it once per corpus and
# re-read the parquet (keyed by corpus dir + Spark app id so a new session
# or geometry recomputes)
_DET_STAGE_CACHE: dict[tuple[str, str], str] = {}
# every tempdir this module creates is removed at interpreter exit — a
# session must leave /tmp as it found it (repeated driver/bench sessions
# otherwise accumulate staged detection parquet)
_SESSION_TMPDIRS: list[str] = []


def _session_tmpdir(prefix: str) -> str:
    import atexit
    import shutil

    d = tempfile.mkdtemp(prefix=prefix)
    if not _SESSION_TMPDIRS:
        atexit.register(
            lambda: [shutil.rmtree(p, ignore_errors=True) for p in _SESSION_TMPDIRS]
        )
    _SESSION_TMPDIRS.append(d)
    return d


def fire_detections(spark: SparkSession, sf_dir: str) -> DataFrame:
    geom = _geom_for(sf_dir)
    d = corpus_dir(geom)
    key = (d, spark.sparkContext.applicationId)
    if key in _DET_STAGE_CACHE:
        return spark.read.parquet(_DET_STAGE_CACHE[key])
    # enrich's semi-join reduction and dedup's self-join re-reference the
    # detections several times — stage the detect output (fitted, with the
    # per-row enrich columns and join keys) once, as the production runner does. Per-session tempdir:
    # staging inside the shared corpus cache would race concurrent sessions.
    stage = os.path.join(_session_tmpdir("filda_stage_"), "detections")
    det = pipeline.detect_detections(spark, d, _nl(geom))
    det.write.mode("overwrite").parquet(stage)
    det = pipeline.enrich(spark, spark.read.schema(det.schema).parquet(stage), d)
    final = os.path.join(_session_tmpdir("filda_stage_"), "deduped")
    pipeline.dedup(det).write.mode("overwrite").parquet(final)
    _DET_STAGE_CACHE[key] = final
    return spark.read.parquet(final)


def fire_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipeline.tiles(fire_detections(spark, sf_dir))


def fire_perimeters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster → vector: connected fire regions polygonized from the tiles
    raster (min-label CC over 4-adjacent burning r7 cells, perimeter in
    exposed cell edges, bbox ring as WKT). Oracle: recursive CTE over the
    numpy-oracle tiles parquet."""
    return pipeline.perimeters(fire_tiles(spark, sf_dir))


def fire_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-granule fire-mask/QA raster blobs, projected through crc32 per
    raster so the driver hashes scalar fingerprints of the exact bytes
    (the blobs themselves are written by the runner sinks)."""
    from pyspark.sql import functions as F

    geom = _geom_for(sf_dir)
    masks = pipeline.detect_masks(spark, corpus_dir(geom), _nl(geom))
    return masks.select(
        "doc_id",
        "nrow",
        "ncol",
        F.crc32("mask_img").alias("crc_img"),
        F.crc32("mask_mod").alias("crc_mod"),
        F.crc32("qa").alias("crc_qa"),
    )


def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal: map-only decode + feature extraction over the binary
    media column (rows-only; see filda_spark/multimodal.py)."""
    from filda_spark import multimodal, pipeline

    geom = _geom_for(sf_dir)
    media = pipeline.load_media(spark, corpus_dir(geom))
    return multimodal.media_features(media)


def media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-mean resize; the driver entry projects the binary payload
    through crc32 (Spark's crc32 == zlib's CRC-32) so the output is fully
    scalar and hash-checkable against the numpy-oracle twin."""
    from pyspark.sql import functions as F

    from filda_spark import multimodal, pipeline

    geom = _geom_for(sf_dir)
    media = pipeline.load_media(spark, corpus_dir(geom))
    out = multimodal.media_resize(media, factor=2)
    return out.select("media_ref", "doc_id", "h", "w", F.crc32("data").alias("crc32"))


def frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling over the corpus's raw frame-stack payloads
    (every 2nd frame -> per-frame stats; multimodal.frame_sample)."""
    from filda_spark import multimodal, pipeline

    geom = _geom_for(sf_dir)
    media = pipeline.load_media(spark, corpus_dir(geom))
    return multimodal.frame_sample(media, every_n=2)


def audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silence-split activity segments over the WAV media spans (32-sample
    energy windows, integer threshold, maximal active runs) — the ASR-
    corpus prep member of the multimodal family; map-only mapInPandas,
    numpy twin stages the oracle (multimodal.audio_segments_np)."""
    from filda_spark import multimodal, pipeline

    geom = _geom_for(sf_dir)
    media = pipeline.load_media(spark, corpus_dir(geom))
    return multimodal.audio_segments(media)


def image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual 8x8 average-hash per decodable 2-D media payload, plus
    the 4x16-bit hamming-LSH band values (multimodal.phash64 — the same
    numpy twin stages the oracle parquet)."""
    from filda_spark import multimodal, pipeline

    geom = _geom_for(sf_dir)
    media = pipeline.load_media(spark, corpus_dir(geom))
    return multimodal.image_phash(media)


# hamming-LSH pairing: candidates collide on >= 1 of the 4 16-bit bands
# (hot buckets capped like LSH_BUCKET_CAP — a band value shared by hundreds
# of rasters is structural, e.g. the all-similar quality-flag family, and
# would go quadratic); verified at hamming <= _PH_HAM_MAX over the full
# 64-bit hash. Both the cap and the threshold are mirrored in the oracle.
PH_BUCKET_CAP = 64
PH_HAM_MAX = 6


def phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs: band-bucket join over the phash table,
    exact hamming verify — the multimodal member of the dedup family
    (minhash for text, hyperplane-LSH for embeddings, band-LSH here)."""
    from pyspark.sql import functions as F

    ph = image_phash(spark, sf_dir)
    bands = ph.select(
        "media_ref",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("int").alias("band_id"),
                        F.col(f"b{k}").alias("val"),
                    )
                    for k in range(4)
                ]
            )
        ).alias("t"),
    ).select("media_ref", "phash", "t.band_id", "t.val")
    capped = (
        bands.groupBy("band_id", "val")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") <= PH_BUCKET_CAP)
        .select("band_id", "val")
    )
    b = bands.join(capped, ["band_id", "val"])
    x = b.select(
        "band_id", "val", F.col("media_ref").alias("ref_a"), F.col("phash").alias("ha")
    )
    y = b.select(
        "band_id", "val", F.col("media_ref").alias("ref_b"), F.col("phash").alias("hb")
    )
    cand = (
        x.join(y, ["band_id", "val"])
        .filter(F.col("ref_a") < F.col("ref_b"))
        .select("ref_a", "ref_b", "ha", "hb")
        .distinct()
    )
    ham = F.bit_count(F.expr("ha ^ hb"))
    return cand.filter(ham <= PH_HAM_MAX).select(
        "ref_a", "ref_b", ham.cast("int").alias("hamming")
    )


def fire_detections_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M-band 750 m product: keep-first unique per M pixel (the reference's
    second output file; FILDA.py:1905-1912)."""
    return pipeline.mod_detections(fire_detections(spark, sf_dir))


def mcbef_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MCBEF fire-property posterior State table over the enriched
    detections (parity vs the single-node twin in pytest + driver oracle):
    emissivity + static-anomaly joins, background MAP (t_b, C), FRP
    atmospheric correction, gated biphasic/uniphasic Metropolis."""
    from filda_spark import mcbef

    geom = _geom_for(sf_dir)
    det = mcbef.prepare(spark, fire_detections(spark, sf_dir), corpus_dir(geom))
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return mcbef.estimate(det, n_parts)


def mcbef_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MCBEF Sample table: full posterior draws in long format (one row per
    draw; src/MCBEF/output.rc Sample section)."""
    from filda_spark import mcbef

    geom = _geom_for(sf_dir)
    det = mcbef.prepare(spark, fire_detections(spark, sf_dir), corpus_dir(geom))
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return mcbef.estimate_samples(det, n_parts)


def mcbef_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MCBEF Eval table: re-run the forward radiative model at the State
    estimates and emit per-fire per-band model-vs-observed residuals
    (do_eval, MCBEF_EVAL.py:22-109 — the last reference compute module)."""
    from filda_spark import mcbef

    geom = _geom_for(sf_dir)
    det = mcbef.prepare(spark, fire_detections(spark, sf_dir), corpus_dir(geom))
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return mcbef.evaluate(det, n_parts)


def _hotspot_stream_dir() -> str:
    """Deterministic 4-batch detection stream for the stateful streaming
    tracker (one parquet file per micro-batch; no NaN powers — DuckDB's max
    treats NaN as +inf while the kernel skips it)."""
    import pandas as pd

    os.makedirs(CACHE_ROOT, exist_ok=True)
    d = f"{CACHE_ROOT}/hotspot_stream_v1"
    if not os.path.exists(f"{d}/_DONE"):
        tmp = f"{d}.tmp-{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        for b in range(4):
            rows = []
            for c in range(40):
                # cell c appears in batch b iff b < (c % 5) + 1 -> cells
                # recur in 1..5 consecutive batches (persistence mix)
                if b < (c % 5) + 1:
                    rows.append(
                        dict(cell_r7=1000 + c, FP_Power=float((c * 37 + b * 11) % 100) / 4.0 + 1.0)
                    )
                    if c % 3 == 0:
                        rows.append(dict(cell_r7=1000 + c, FP_Power=float((c + b) % 7) + 0.5))
            pd.DataFrame(rows).to_parquet(f"{tmp}/b{b}.parquet", index=False)
        open(f"{tmp}/_DONE", "w").write("ok")
        if not os.path.exists(f"{d}/_DONE"):
            os.replace(tmp, d)
        else:
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    return d


def hotspot_track(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful Structured Streaming: per-cell hotspot state accumulated
    across micro-batches via applyInPandasWithState (streaming.hotspot_
    tracker); drained with availableNow (one file per trigger) into a
    memory sink. The DuckDB oracle recomputes every per-batch state row
    with window functions over the same batch files."""
    import uuid as _uuid

    from filda_spark import streaming

    d = _hotspot_stream_dir()
    qname = f"hotspots_{_uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema("cell_r7 long, FP_Power double")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    q = (
        streaming.hotspot_tracker(stream)
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(_session_tmpdir("filda_hs_ck_"), "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(qname)


# --- watermarked windowed aggregation (Structured Streaming, §2.10) --------

WIN_SEC = 1800  # 30-minute tumbling event-time windows
WATERMARK = "45 minutes"
WATERMARK_SEC = 45 * 60


def _event_time_col():
    """Event time from the granule id (VNP.AyyyyDDD.HHmm): integer date
    arithmetic, mirrored exactly in the DuckDB oracle (DuckDB's strptime
    %j silently drops day-of-year, so neither engine uses format parsing)."""
    from pyspark.sql import functions as F

    p = F.split("doc_id", "\\.")
    y = F.substring(p.getItem(1), 2, 4).cast("int")
    doy = F.substring(p.getItem(1), 6, 3).cast("int")
    hh = F.substring(p.getItem(2), 1, 2).cast("int")
    mi = F.substring(p.getItem(2), 3, 2).cast("int")
    days = F.datediff(F.make_date(y, F.lit(1), F.lit(1)), F.lit("1970-01-01"))
    return (
        (days.cast("long") + (doy - 1).cast("long")) * 86400
        + hh.cast("long") * 3600
        + mi.cast("long") * 60
    )


def _windowed_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage the deduped detections as one parquet file per overpass, with
    ascending modification times, so the file stream delivers micro-batches
    in event-time order (no late rows — the watermark cutoff, not late-drop
    order sensitivity, is the semantics under test)."""
    import time as _time

    geom = _geom_for(sf_dir)
    d = f"{corpus_dir(geom)}/_win_stream_v{FIXTURE_VERSION}"
    if os.path.exists(f"{d}/_DONE"):
        return d
    # TEST-FIXTURE STAGING ONLY: this .toPandas() collects the full (3-col)
    # detection set to write per-overpass stream files. Bounded by the
    # gate/test corpus size (<=~40k rows); a production stream never stages
    # through the driver — it reads the detections store directly.
    det = fire_detections(spark, sf_dir).select("doc_id", "tile_id", "FP_Power").toPandas()
    det["_op"] = det["doc_id"].str.rsplit(".", n=1).str[-1]
    tmp = f"{d}.tmp-{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    for i, (op, rows) in enumerate(sorted(det.groupby("_op"))):
        rows.drop(columns="_op").to_parquet(f"{tmp}/op{i:03d}.parquet", index=False)
        _time.sleep(0.01)  # distinct ascending mtimes -> deterministic order
    open(f"{tmp}/_DONE", "w").write("ok")
    if not os.path.exists(f"{d}/_DONE"):
        os.replace(tmp, d)
    else:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
    return d


def fire_rate_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window fire rate per tile over a detection
    stream (Structured Streaming windowed aggregation in append mode: only
    windows the final watermark has passed are emitted; the DuckDB oracle
    applies the identical cutoff `win_end <= max(event) - delay`)."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    d = _windowed_stream_dir(spark, sf_dir)
    qname = f"firerate_{_uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema("doc_id string, tile_id string, FP_Power double")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    ev = _event_time_col().cast("timestamp")
    agg = (
        stream.withColumn("event_time", ev)
        .withWatermark("event_time", WATERMARK)
        .groupBy(F.window("event_time", f"{WIN_SEC} seconds"), "tile_id")
        .agg(
            F.count("*").alias("n_detections"),
            # 1e-6 fixed point before the fold (exact at any accumulation
            # order; see stream_sessions)
            F.sum(F.round(F.col("FP_Power") * 1e6).cast("long")).alias("_frp6"),
        )
        .select(
            F.unix_timestamp("window.start").alias("win_start"),
            "tile_id",
            F.col("n_detections").cast("long"),
            (F.col("_frp6").cast("double") / 1e6).alias("total_frp"),
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(_session_tmpdir("filda_fr_ck_"), "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(qname)


def _dedup_stream_dir(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Stage an at-least-once detection stream: one parquet file per
    overpass in ascending mtime order, where each file also RE-DELIVERS the
    first 20 rows of the previous overpass (identical payload — a retried
    upstream write). Returns (stream dir, oracle parquet of the raw
    union-with-duplicates)."""
    import time as _time

    import pandas as pd

    geom = _geom_for(sf_dir)
    d = f"{corpus_dir(geom)}/_dedup_stream_v{FIXTURE_VERSION}"
    oracle_pq = f"{d}_all.parquet"
    if os.path.exists(f"{d}/_DONE") and os.path.exists(oracle_pq):
        return d, oracle_pq
    # TEST-FIXTURE STAGING ONLY: same bounded driver collect as the windowed
    # stream fixture above — never a production path (see comment there).
    det = (
        fire_detections(spark, sf_dir)
        .select("doc_id", "tile_id", "FP_Line", "FP_Sample", "FP_Power")
        .toPandas()
    )
    det["FP_Line"] = det["FP_Line"].astype("int32")
    det["FP_Sample"] = det["FP_Sample"].astype("int32")
    det["_op"] = det["doc_id"].str.rsplit(".", n=1).str[-1]
    tmp = f"{d}.tmp-{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    prev = None
    delivered = []
    for i, (op, rows) in enumerate(sorted(det.groupby("_op"))):
        rows = rows.drop(columns="_op").sort_values(
            ["doc_id", "FP_Line", "FP_Sample"]
        )
        out = rows if prev is None else pd.concat([prev.head(20), rows])
        out.to_parquet(f"{tmp}/op{i:03d}.parquet", index=False)
        delivered.append(out)
        prev = rows
        _time.sleep(0.01)  # distinct ascending mtimes -> deterministic order
    open(f"{tmp}/_DONE", "w").write("ok")
    tmp_all = f"{oracle_pq}.tmp-{os.getpid()}"
    pd.concat(delivered).to_parquet(tmp_all, index=False)
    if not os.path.exists(f"{d}/_DONE"):
        os.replace(tmp, d)
    else:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
    if not os.path.exists(oracle_pq):
        os.replace(tmp_all, oracle_pq)
    else:
        os.remove(tmp_all)
    return d, oracle_pq


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once projection of an at-least-once stream:
    ``dropDuplicatesWithinWatermark`` on the detection key drops retried
    deliveries while the key is within the watermark's state-retention
    window (re-deliveries here arrive one overpass (~minutes) after first
    arrival — far inside the 45-min watermark). The DuckDB oracle is the
    batch ground truth: DISTINCT over the raw delivered union."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    d, _ = _dedup_stream_dir(spark, sf_dir)
    qname = f"sdedup_{_uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema(
            "doc_id string, tile_id string, FP_Line int, FP_Sample int, FP_Power double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    ev = _event_time_col().cast("timestamp")
    dd = (
        stream.withColumn("event_time", ev)
        .withWatermark("event_time", WATERMARK)
        .dropDuplicatesWithinWatermark(["doc_id", "FP_Line", "FP_Sample"])
        .select("doc_id", "FP_Line", "FP_Sample", "tile_id", "FP_Power")
    )
    q = (
        dd.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(_session_tmpdir("filda_sd_ck_"), "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(qname)


SESSION_GAP_SEC = 2400  # 40-minute session gap: merges an overpass, splits orbits


def stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked SESSION windows per tile over the detection stream
    (`F.session_window` — Spark's merging-session state, a different
    stateful operator class from the tumbling fire_rate_windowed): bursts
    of detections closer than the gap merge into one session
    [first_event, last_event + gap); append mode emits a session once the
    watermark passes its end. The DuckDB oracle is the gap-islands
    sessionization (break at diff >= gap, matching Spark's
    overlap-merge semantics) with the identical watermark cutoff."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    d = _windowed_stream_dir(spark, sf_dir)
    qname = f"firesess_{_uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema("doc_id string, tile_id string, FP_Power double")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    ev = _event_time_col().cast("timestamp")
    agg = (
        stream.withColumn("event_time", ev)
        .withWatermark("event_time", WATERMARK)
        .groupBy(
            F.session_window("event_time", f"{SESSION_GAP_SEC} seconds"),
            "tile_id",
        )
        .agg(
            F.count("*").alias("n_detections"),
            # per-row scale-0 round to 1e-6 fixed point BEFORE the fold:
            # sum of longs is exact at any accumulation order on both
            # engines, unlike sum(double) + round-at-end which is
            # fold-order-dependent (r5 hazard-sweep fix; round(x, 0) is
            # the cross-engine-safe rounding — see relational._rfloor)
            F.sum(F.round(F.col("FP_Power") * 1e6).cast("long")).alias("_frp6"),
        )
        .select(
            F.unix_timestamp("session_window.start").alias("sess_start"),
            F.unix_timestamp("session_window.end").alias("sess_end"),
            "tile_id",
            F.col("n_detections").cast("long"),
            (F.col("_frp6").cast("double") / 1e6).alias("total_frp"),
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(_session_tmpdir("filda_ss_ck_"), "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(qname)


NTL_ARGS = dict(n_tiles=2, cells=16, year=2019, month=8)


def _ntl_daily_path() -> str:
    """Materialize the deterministic daily table once (atomic rename) —
    both the Spark query and the DuckDB oracle read this parquet."""
    os.makedirs(CACHE_ROOT, exist_ok=True)
    path = f"{CACHE_ROOT}/ntl_daily_v{FIXTURE_VERSION}.parquet"
    if not os.path.exists(path):
        from filda_spark import ntl

        tmp = f"{path}.tmp-{os.getpid()}"
        ntl.synthetic_daily_pdf(**NTL_ARGS).to_parquet(tmp, index=False)
        os.replace(tmp, path)
    return path


def ntl_climatology(spark: SparkSession, sf_dir: str) -> DataFrame:
    """90-day NTL climatology build over the materialized daily table
    (DuckDB SQL oracle over the same parquet; floats rounded to 6 on both
    sides because group-sum order differs across engines)."""
    from pyspark.sql import functions as F

    from filda_spark import ntl

    daily = spark.read.parquet(_ntl_daily_path())
    out = ntl.climatology(daily, NTL_ARGS["year"], NTL_ARGS["month"])
    return out.select(
        "tile",
        "y",
        "x",
        "n_days",
        *[
            _rfloor(F.col(c), 6).alias(c)
            for c in ("dnb_mean", "dnb_std", "gamma_alpha", "gamma_beta")
        ],
    )


# ---------------------------------------------------------------------------
# Numpy-oracle materialization: the driver's DuckDB check for the
# non-SQL-expressible pipeline entries. The single-node oracle (the
# reference-mirroring numpy composition pytest already proves bit-exact
# against the Spark pipeline) is materialized to parquet once per machine;
# the registered "oracle SQL" is a read_parquet SELECT over it. This turns
# the driver's weaker rows-only check into a full row/schema/value-hash
# check against reference semantics.
# ---------------------------------------------------------------------------


def mod_detections_pdf(det):
    """pandas twin of pipeline.mod_detections: keep-FIRST per (doc, M pixel)
    in I-grid scan order (FILDA.py:1905-1912)."""
    return (
        det.sort_values(["doc_id", "FP_Line_MOD", "FP_Sample_MOD", "FP_Line", "FP_Sample"])
        .drop_duplicates(subset=["doc_id", "FP_Line_MOD", "FP_Sample_MOD"], keep="first")
        .reset_index(drop=True)
    )


def ensure_fire_oracles() -> str:
    """Build (once, atomically) the numpy-oracle parquet set for the
    TEST_GEOM corpus the driver's correctness runs use."""
    import shutil
    import uuid

    od = f"{corpus_dir(TEST_GEOM)}/_oracle_v7"  # v7: gated WAV traces + audio_segments
    if os.path.exists(f"{od}/_DONE"):
        return od
    from filda_spark import fixtures, mcbef, oracle

    tmp_corpus = tempfile.mkdtemp(prefix="filda_oracle_corpus_")
    tmp = f"{od}.tmp-{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp, exist_ok=True)
    try:
        c = fixtures.build_corpus(
            tmp_corpus,
            n_docs=TEST_GEOM["n_docs"],
            h_m=TEST_GEOM["h_m"],
            w_m=TEST_GEOM["w_m"],
            extra_fires=TEST_GEOM.get("extra_fires", 0),
        )
        res = oracle.run_corpus(c, _nl(TEST_GEOM))
        det = res["detections"]
        det.to_parquet(f"{tmp}/detections.parquet", index=False)
        res["tiles"].to_parquet(f"{tmp}/tiles.parquet", index=False)
        mod_detections_pdf(det).to_parquet(f"{tmp}/detections_mod.parquet", index=False)
        prepared = mcbef.prepare_pdf(det, tmp_corpus)
        mcbef.estimate_pdf(prepared).to_parquet(f"{tmp}/mcbef_state.parquet", index=False)
        mcbef.estimate_samples_pdf(prepared).to_parquet(f"{tmp}/mcbef_sample.parquet", index=False)
        mcbef.evaluate_pdf(prepared).to_parquet(f"{tmp}/mcbef_eval.parquet", index=False)
        import pandas as pd

        from filda_spark import multimodal

        media_pdf = pd.read_parquet(f"{tmp_corpus}/media.parquet")
        feats = pd.concat(list(multimodal.extract_features([media_pdf])), ignore_index=True)
        feats.to_parquet(f"{tmp}/media_features.parquet", index=False)
        frames = pd.concat(
            list(multimodal.make_frame_sample_fn(2)([media_pdf])), ignore_index=True
        )
        frames.to_parquet(f"{tmp}/frame_sample.parquet", index=False)
        import zlib

        rez = pd.concat(
            list(multimodal.make_resize_fn(2)([media_pdf])), ignore_index=True
        )
        rez["crc32"] = [zlib.crc32(b) for b in rez.pop("data")]
        rez.to_parquet(f"{tmp}/media_resize.parquet", index=False)
        multimodal.phash_pdf(media_pdf).to_parquet(
            f"{tmp}/image_phash.parquet", index=False
        )
        multimodal.audio_segments_np(media_pdf).to_parquet(
            f"{tmp}/audio_segments.parquet", index=False
        )
        mrows = []
        for doc_id, r in res["per_doc"].items():
            mrows.append(
                dict(
                    doc_id=doc_id,
                    nrow=r["mask_img"].shape[0],
                    ncol=r["mask_img"].shape[1],
                    crc_img=zlib.crc32(r["mask_img"].tobytes()),
                    crc_mod=zlib.crc32(r["mask_mod"].tobytes()),
                    crc_qa=zlib.crc32(r["qa"].tobytes()),
                )
            )
        pd.DataFrame(mrows).to_parquet(f"{tmp}/fire_masks.parquet", index=False)
        open(f"{tmp}/_DONE", "w").write("ok")
        if not os.path.exists(f"{od}/_DONE"):
            os.replace(tmp, od)
        else:
            shutil.rmtree(tmp, ignore_errors=True)
    finally:
        shutil.rmtree(tmp_corpus, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    return od


def perimeters_oracle_sql(tiles_parquet: str) -> str:
    """DuckDB oracle for `pipeline.perimeters`: the same min-label
    reachability recursive CTE shape as training._CC_CTES, over 4-adjacency
    of burning r7 cells (E/W wrap, N/S clamp). Constants: 2^29 / 2^58 are
    the qcell field shifts, 32768 = 2^15 cells per axis at r7, and the
    femto-degree steps 360e15/32768 (lon) / 180e15/32768 (lat) keep every
    bbox coordinate an exact BIGINT so the WKT text is built from integer
    arithmetic only (float-to-string formatting differs between JVM and
    DuckDB; exact integers do not)."""
    _lvl_base = 15 * (1 << 58)
    _ys = 1 << 29
    _f = 10**15
    _lon_step, _lat_step = 360 * _f // 32768, 180 * _f // 32768
    fixed = (
        "(CASE WHEN {p} < 0 THEN '-' ELSE '' END || CAST(abs({p}) // " + str(_f)
        + " AS VARCHAR) || '.' || lpad(CAST(abs({p}) % " + str(_f) + " AS VARCHAR), 15, '0'))"
    )
    _lw = fixed.format(p=f"(x0 * {_lon_step} - {180 * _f})")
    _le = fixed.format(p=f"((x1 + 1) * {_lon_step} - {180 * _f})")
    _ln = fixed.format(p=f"({90 * _f} - y0 * {_lat_step})")
    _ls = fixed.format(p=f"({90 * _f} - (y1 + 1) * {_lat_step})")
    return f"""
    WITH RECURSIVE cells AS (
      SELECT CAST(cell_r7 AS BIGINT) AS cell,
             CAST(cell_r7 % {_ys} AS BIGINT) AS x,
             CAST((cell_r7 % {1 << 58}) // {_ys} AS BIGINT) AS y,
             n_fires, max_frp
      FROM (SELECT cell_r7, CAST(sum(n_fires) AS BIGINT) AS n_fires,
                   max(max_frp) AS max_frp
            FROM read_parquet('{tiles_parquet}') GROUP BY cell_r7)
    ),
    nbr AS (
      SELECT cell AS src, {_lvl_base} + y*{_ys} + ((x+1) % 32768) AS dst FROM cells
      UNION ALL
      SELECT cell, {_lvl_base} + y*{_ys} + ((x-1+32768) % 32768) FROM cells
      UNION ALL
      SELECT cell, {_lvl_base} + (y-1)*{_ys} + x FROM cells WHERE y > 0
      UNION ALL
      SELECT cell, {_lvl_base} + (y+1)*{_ys} + x FROM cells WHERE y < 32767
    ),
    edges AS (SELECT n.src, n.dst FROM nbr n JOIN cells c ON c.cell = n.dst),
    reach(cell, root) AS (
      SELECT cell, cell FROM cells
      UNION
      SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.cell
    ),
    comp AS (SELECT cell, CAST(min(root) AS BIGINT) AS component
             FROM reach GROUP BY cell),
    deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    agg AS (
      SELECT component, CAST(count(*) AS BIGINT) AS n_cells,
             CAST(sum(c.n_fires) AS BIGINT) AS n_fires,
             max(c.max_frp) AS max_frp,
             CAST(sum(4 - COALESCE(deg.d, 0)) AS BIGINT) AS perimeter_edges,
             min(c.x) AS x0, max(c.x) AS x1, min(c.y) AS y0, max(c.y) AS y1
      FROM cells c JOIN comp ON comp.cell = c.cell
      LEFT JOIN deg ON deg.src = c.cell
      GROUP BY component
    )
    SELECT component, n_cells, n_fires, max_frp, perimeter_edges,
           'POLYGON((' || {_lw} || ' ' || {_ls} || ', ' || {_le} || ' ' || {_ls}
           || ', ' || {_le} || ' ' || {_ln} || ', ' || {_lw} || ' ' || {_ln}
           || ', ' || {_lw} || ' ' || {_ls} || '))' AS bbox_wkt
    FROM agg
    """


def oracles() -> dict[str, str]:
    """DuckDB oracle SQL for the pipeline entries (materializes inputs)."""
    from filda_spark import ntl

    daily = _ntl_daily_path()
    y_, m_ = NTL_ARGS["year"], NTL_ARGS["month"]
    n_start, n_end = ntl.window_for_month(*ntl.effective_month(y_, m_, 99))
    h_start, h_end = ntl.window_for_month(*ntl.effective_month(y_, m_, 0))
    n_min = int(np.ceil((n_end - n_start).days * ntl.MIN_COVERAGE))
    h_min = int(np.ceil((h_end - h_start).days * ntl.MIN_COVERAGE))
    vid = "CAST(substr(tile, 5, 2) AS INT)"
    ntl_sql = f"""
    WITH w AS (
      SELECT tile, y, x, rad FROM read_parquet('{daily}')
      WHERE (CASE WHEN {vid} < {ntl.HIGH_LAT_VID_MAX}
                  THEN day >= DATE '{h_start}' AND day < DATE '{h_end}'
                  ELSE day >= DATE '{n_start}' AND day < DATE '{n_end}' END)
        AND (qf & 127) = 0 AND rad > 0
    ), g AS (
      SELECT tile, y, x, count(*) AS n_days, avg(rad) AS m,
             stddev_samp(rad) AS s, avg(ln(rad)) AS ml
      FROM w GROUP BY tile, y, x
    )
    SELECT tile, y, x, CAST(n_days AS BIGINT) AS n_days,
           floor(CAST((m) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS dnb_mean, floor(CAST((s) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS dnb_std,
           floor(CAST(((1 + sqrt(1 + 4*(ln(m)-ml)/3)) / (4*(ln(m)-ml))) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS gamma_alpha,
           floor(CAST((m / ((1 + sqrt(1 + 4*(ln(m)-ml)/3)) / (4*(ln(m)-ml)))) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS gamma_beta
    FROM g WHERE n_days >= (CASE WHEN {vid} < {ntl.HIGH_LAT_VID_MAX} THEN {h_min} ELSE {n_min} END)
    """
    hs = _hotspot_stream_dir()
    hotspot_sql = f"""
    WITH det AS (
      SELECT cell_r7, FP_Power,
             CAST(regexp_extract(filename, 'b(\\d+)\\.parquet', 1) AS INT) AS b
      FROM read_parquet('{hs}/b*.parquet', filename=true)
    ), per AS (
      SELECT cell_r7, b, count(*) AS n, max(FP_Power) AS mx
      FROM det GROUP BY cell_r7, b
    ), agg AS (
      SELECT cell_r7, b,
             CAST(row_number() OVER w AS INT) AS n_batches,
             CAST(sum(n) OVER w AS BIGINT) AS n_detections,
             max(mx) OVER w AS max_frp
      FROM per
      WINDOW w AS (PARTITION BY cell_r7 ORDER BY b ROWS UNBOUNDED PRECEDING)
    )
    SELECT cell_r7, n_batches, n_detections, max_frp,
           n_batches >= 3 AS persistent
    FROM agg
    """
    od = ensure_fire_oracles()
    perimeters_sql = perimeters_oracle_sql(f"{od}/tiles.parquet")
    # windowed fire rate: identical integer event-time arithmetic, identical
    # watermark cutoff (append mode emits only windows whose end the final
    # watermark passed: win_end <= max(event) - delay). Input is the
    # numpy-oracle detections parquet — hash parity with the Spark
    # detections is separately proven by the fire_detections row.
    _p2 = "string_split(doc_id,'.')[2]"
    _p3 = "string_split(doc_id,'.')[3]"
    fire_rate_sql = f"""
    WITH ev AS (
      SELECT tile_id, FP_Power,
             (date_diff('day', DATE '1970-01-01',
                        make_date(CAST(substr({_p2},2,4) AS INT), 1, 1))
              + CAST(substr({_p2},6,3) AS INT) - 1) * CAST(86400 AS BIGINT)
             + CAST(substr({_p3},1,2) AS INT) * 3600
             + CAST(substr({_p3},3,2) AS INT) * 60 AS ev
      FROM read_parquet('{od}/detections.parquet')
    ), mx AS (SELECT max(ev) AS m FROM ev),
    w AS (
      SELECT CAST(floor(ev / {WIN_SEC}) * {WIN_SEC} AS BIGINT) AS win_start, tile_id,
             CAST(count(*) AS BIGINT) AS n_detections,
             CAST(sum(CAST(round(FP_Power * 1000000.0) AS BIGINT))
                  AS DOUBLE) / 1000000.0 AS total_frp
      FROM ev GROUP BY win_start, tile_id
    )
    SELECT win_start, tile_id, n_detections, total_frp FROM w, mx
    WHERE win_start + {WIN_SEC} <= m - {WATERMARK_SEC}
    """
    # stream_dedup: the at-least-once stream re-delivers copies of existing
    # rows, so the exactly-once ground truth is DISTINCT over the original
    # detection rows — if dropDuplicatesWithinWatermark leaked a retry, the
    # Spark side would carry extra rows and fail the row/hash check. The
    # presence of real duplicates in the delivered stream is pinned by
    # tests/test_streaming.py.
    stream_dedup_sql = f"""
    SELECT DISTINCT doc_id, FP_Line, FP_Sample, tile_id, FP_Power
    FROM read_parquet('{od}/detections.parquet')
    """
    # stream_sessions: gap-islands sessionization (break at diff >= gap —
    # Spark's session_window merges only OVERLAPPING event windows) with
    # the same append-mode watermark cutoff as fire_rate_windowed
    stream_sessions_sql = f"""
    WITH ev AS (
      SELECT tile_id, FP_Power,
             (date_diff('day', DATE '1970-01-01',
                        make_date(CAST(substr({_p2},2,4) AS INT), 1, 1))
              + CAST(substr({_p2},6,3) AS INT) - 1) * CAST(86400 AS BIGINT)
             + CAST(substr({_p3},1,2) AS INT) * 3600
             + CAST(substr({_p3},3,2) AS INT) * 60 AS ev
      FROM read_parquet('{od}/detections.parquet')
    ), mx AS (SELECT max(ev) AS m FROM ev),
    c AS (
      SELECT tile_id, ev, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(CAST(round(FP_Power * 1000000.0) AS BIGINT))
                  AS BIGINT) AS sfr
      FROM ev GROUP BY tile_id, ev
    ),
    b AS (
      -- islands over the DISTINCT (tile, ev) frame: tied event times are
      -- pre-collapsed, so the lag and the cumulative sid see one row per
      -- instant and cannot disagree on tie order
      SELECT tile_id, ev, cnt, sfr,
             CASE WHEN lag(ev) OVER w IS NULL
                       OR ev - lag(ev) OVER w >= {SESSION_GAP_SEC}
                  THEN 1 ELSE 0 END AS brk
      FROM c WINDOW w AS (PARTITION BY tile_id ORDER BY ev)
    ),
    g AS (
      SELECT tile_id, ev, cnt, sfr,
             sum(brk) OVER (PARTITION BY tile_id ORDER BY ev
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM b
    ),
    sess AS (
      SELECT min(ev) AS sess_start,
             max(ev) + {SESSION_GAP_SEC} AS sess_end,
             tile_id,
             CAST(sum(cnt) AS BIGINT) AS n_detections,
             CAST(sum(sfr) AS DOUBLE) / 1000000.0 AS total_frp
      FROM g GROUP BY tile_id, sid
    )
    SELECT sess_start, sess_end, tile_id, n_detections, total_frp
    FROM sess, mx WHERE sess_end <= m - {WATERMARK_SEC}
    """
    phash_pairs_sql = f"""
    WITH h AS (SELECT * FROM read_parquet('{od}/image_phash.parquet')),
    b AS (
      SELECT media_ref, phash, CAST(0 AS INT) AS band_id, b0 AS val FROM h
      UNION ALL SELECT media_ref, phash, CAST(1 AS INT), b1 FROM h
      UNION ALL SELECT media_ref, phash, CAST(2 AS INT), b2 FROM h
      UNION ALL SELECT media_ref, phash, CAST(3 AS INT), b3 FROM h
    ),
    capped AS (
      SELECT band_id, val FROM (
        SELECT band_id, val, count(*) AS n FROM b GROUP BY 1, 2)
      WHERE n <= {PH_BUCKET_CAP}
    ),
    cand AS (
      SELECT DISTINCT x.media_ref AS ref_a, y.media_ref AS ref_b,
             x.phash AS ha, y.phash AS hb
      FROM b x
      JOIN capped c ON c.band_id = x.band_id AND c.val = x.val
      JOIN b y ON y.band_id = x.band_id AND y.val = x.val
      WHERE x.media_ref < y.media_ref
    )
    SELECT ref_a, ref_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= {PH_HAM_MAX}
    """
    return {
        "image_phash": f"SELECT * FROM read_parquet('{od}/image_phash.parquet')",
        "audio_segments": f"SELECT * FROM read_parquet('{od}/audio_segments.parquet')",
        "phash_neardup": phash_pairs_sql,
        "hotspot_track": hotspot_sql,
        "fire_rate_windowed": fire_rate_sql,
        "stream_dedup": stream_dedup_sql,
        "stream_sessions": stream_sessions_sql,
        "ntl_climatology": ntl_sql,
        "fire_detections": f"SELECT * FROM read_parquet('{od}/detections.parquet')",
        "fire_detections_mod": f"SELECT * FROM read_parquet('{od}/detections_mod.parquet')",
        "fire_tiles": f"SELECT * FROM read_parquet('{od}/tiles.parquet')",
        "fire_perimeters": perimeters_sql,
        "mcbef_state": f"SELECT * FROM read_parquet('{od}/mcbef_state.parquet')",
        "mcbef_sample": f"SELECT * FROM read_parquet('{od}/mcbef_sample.parquet')",
        "mcbef_eval": f"SELECT * FROM read_parquet('{od}/mcbef_eval.parquet')",
        "media_features": f"SELECT * FROM read_parquet('{od}/media_features.parquet')",
        "frame_sample": f"SELECT * FROM read_parquet('{od}/frame_sample.parquet')",
        "media_resize": f"SELECT * FROM read_parquet('{od}/media_resize.parquet')",
        "fire_masks": f"SELECT * FROM read_parquet('{od}/fire_masks.parquet')",
    }


QUERIES = {
    "fire_detections": fire_detections,
    "fire_detections_mod": fire_detections_mod,
    "mcbef_state": mcbef_state,
    "mcbef_sample": mcbef_sample,
    "mcbef_eval": mcbef_eval,
    "ntl_climatology": ntl_climatology,
    "fire_tiles": fire_tiles,
    "fire_perimeters": fire_perimeters,
    "fire_masks": fire_masks,
    "media_features": media_features,
    "media_resize": media_resize,
    "frame_sample": frame_sample,
    "image_phash": image_phash,
    "audio_segments": audio_segments,
    "phash_neardup": phash_neardup,
    "hotspot_track": hotspot_track,
    "fire_rate_windowed": fire_rate_windowed,
    "stream_dedup": stream_dedup,
    "stream_sessions": stream_sessions,
}
