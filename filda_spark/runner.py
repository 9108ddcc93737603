"""Checkpointed incremental runner: documents -> detections -> tiles with a
per-partition lineage table and exact resume (north rule: "checkpoints
per-partition lineage and rows/sec metrics ... for exact resume").

Layout under ``--out``:
- ``detections/`` parquet partitioned by ``tile_id`` (the granule-level
  spatial partition; on Iceberg this is the partition transform) —
  append-only, one commit per run; ``compact_detections`` is the
  small-file maintenance pass (the ``rewrite_data_files`` analogue).
- ``dedup_state/`` parquet partitioned by ``tile_id`` — one row per
  detection: (doc_id, FP_Line, FP_Sample, is_dup, dup_of, _cell). ONE
  reconcile writes it for bulk loads, appends and deletes: a change can
  only alter verdicts within the dedup radius of the changed rows, so it
  recomputes the kRing neighborhood of their level-14 cells, one
  cogrouped group per affected tile, and swaps those tiles' partitions in.
- ``tiles/`` parquet partitioned by ``tile_id`` — fire-density rollup of
  the same affected tiles only.
- ``lineage/`` parquet — one row per (run_id, stage, partition_key=doc_id):
  rows_out, wall_s, rows_per_sec, status. The set of doc_ids with
  status='done' at stage 'detect' is the resume frontier: a re-run prunes
  them BEFORE decode (broadcast semi-join below the cogroup kernel), so
  resume-after-kill equals a fresh run modulo row order.
- ``_snapshots/log.jsonl`` — the commit log (seq, run_id, docs, rows),
  one record per landed batch; ``read_detections_as_of(run_id)`` is the
  time-travel read (granule-membership snapshots, compaction-proof).

Every rewrite of existing tile partitions (tiles, compaction, z-order,
delete) is a dynamic partition overwrite requested per write (the
``partitionOverwriteMode`` writer option): only the partitions
the write produces are replaced, and the session conf, which other
queries sharing the session read, is never changed.

Scale posture: the frontier is a broadcast semi/anti-join (doc_id count
~= 1e6/day at production scale — still broadcastable; beyond that it
becomes an Iceberg snapshot diff). Per commit (bulk load, append or
delete), the only non-map work is one cogroup keyed by tile_id that pairs
the detections of the changed rows' ring tiles with those tiles' old
verdicts, plus the tiles rollup of its output: O(|rows of the changed
tiles|), constant as the store grows. The ring cells, the batch's row
count, manifest bounds and lineage rows are computed on the driver from
the staged batch (a few thousand rows), not by Spark jobs.

CLI (spark-submit friendly):
    spark-submit --py-files filda_spark.zip -m filda_spark.runner \
        --corpus /data/corpus --out /data/fires
    (locally: python -m filda_spark.runner --corpus ... --out ...)
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import time
import uuid

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from filda_spark import grids, pipeline, spatial
from filda_spark.namelist import make_namelist

STATE_KEY = ["doc_id", "FP_Line", "FP_Sample"]
# dedup_state as Spark reads it back (data columns, then the partition
# column): re-reads with this schema skip the schema-inference job
STATE_SCHEMA = T.StructType(
    [pipeline.DET_SCHEMA[c] for c in STATE_KEY]
    + [
        T.StructField("is_dup", T.BooleanType()),
        T.StructField("dup_of", T.StringType()),
        T.StructField("_cell", T.LongType()),
        T.StructField("tile_id", T.StringType()),
    ]
)
_STATE_COLS = ["tile_id", *STATE_KEY, "is_dup", "dup_of", "_cell"]
# the detection columns the incremental reconcile reads (verdicts + tiles)
_RECONCILE_DET_SCHEMA = T.StructType(
    [
        pipeline.DET_SCHEMA[c]
        for c in (*STATE_KEY, "FP_Latitude", "FP_Longitude", "FP_Power", "FP_confidence")
    ]
    + [T.StructField("cell_r7", T.LongType()), T.StructField("tile_id", T.StringType())]
)
# reconcile output: the state row plus what pipeline.tiles needs
_RECONCILE_SCHEMA = T.StructType(
    [STATE_SCHEMA[c] for c in _STATE_COLS]
    + [_RECONCILE_DET_SCHEMA[c] for c in ("cell_r7", "FP_Power", "FP_confidence")]
)
LINEAGE_SCHEMA = (
    "run_id string, stage string, partition_key string, rows_out long, "
    "wall_s double, rows_per_sec double, status string"
)
_CELL_H_DEG = 180.0 / (1 << pipeline.DEDUP_CELL_LEVEL)


def _lineage_path(out_dir: str) -> str:
    return f"{out_dir}/lineage"


def _parquet_or_none(
    spark: SparkSession, path: str, schema: T.StructType | str
) -> DataFrame | None:
    """First-run probe: a local path that does not exist yet is expected
    state, not an error — checking existence keeps the py4j
    AnalysisException stack trace out of bench/driver logs. Non-local URIs
    (s3a:// etc. on a real deployment) fall through to the read + except.
    The known ``schema`` skips the schema-inference job."""
    if "://" not in path and not os.path.exists(path):
        return None
    try:
        return spark.read.schema(schema).parquet(path)
    except Exception:
        return None


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame | None:
    return _parquet_or_none(spark, _lineage_path(out_dir), LINEAGE_SCHEMA)


# Spark writes each parquet file's Spark schema into its footer under this
# key; its own schema inference reads the same entry
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _read_detections(spark: SparkSession, out_dir: str) -> DataFrame:
    """The detections store, read with the schema Spark wrote into a data
    file's footer plus the ``tile_id`` partition column — what inference
    would find, without its Spark job (every file is written from the same
    enrich schema). Falls back to inference when no data file is found."""
    root = f"{out_dir}/detections"
    parts = sorted(os.listdir(root)) if os.path.isdir(root) else []
    files = (
        os.path.join(root, p, f)
        for p in parts
        if p.startswith("tile_id=")
        for f in sorted(os.listdir(os.path.join(root, p)))
        if f.endswith(".parquet") and not f.startswith(".")
    )
    first = next(files, None)
    meta = (pq.read_schema(first).metadata or {}) if first else {}
    if _SPARK_SCHEMA_KEY not in meta:
        return spark.read.parquet(root)
    data = T.StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))
    schema = T.StructType(data.fields + [T.StructField("tile_id", T.StringType())])
    return spark.read.schema(schema).parquet(root)


def done_doc_ids(spark: SparkSession, out_dir: str) -> DataFrame | None:
    lin = read_lineage(spark, out_dir)
    if lin is None:
        return None
    return (
        lin.filter((F.col("stage") == "detect") & (F.col("status") == "done"))
        .select("partition_key")
        .distinct()
    )


def frontier(spark: SparkSession, out_dir: str, docs: DataFrame) -> DataFrame:
    """doc_ids of the night granules in ``docs`` not yet detected: Day
    pruning, then a broadcast anti-join against the lineage frontier (the
    frontier stays off the driver)."""
    todo = pipeline.night_documents(docs).select("doc_id")
    done = done_doc_ids(spark, out_dir)
    if done is None:
        return todo
    return todo.join(F.broadcast(done), todo.doc_id == done.partition_key, "left_anti")


def _stage_path(out_dir: str, kind: str) -> str:
    return f"{out_dir}/_stage/{kind}_{uuid.uuid4().hex[:12]}"


def doc_frame(spark: SparkSession, doc_ids: list[str]) -> DataFrame:
    """A driver-side doc_id list as a ``todo`` frame: a local relation, so
    reading it back (``process_docs``) runs no job."""
    ids = pd.DataFrame({"doc_id": pd.Series(doc_ids, dtype=object)})
    return spark.createDataFrame(ids, "doc_id string")


@contextlib.contextmanager
def _staged(spark: SparkSession, df: DataFrame, out_dir: str, kind: str):
    """Write ``df`` once to a staging parquet and yield (its re-read, the
    stage path), so the block's re-references (semi-join reductions,
    self-joins, a rewrite of the very partitions ``df`` reads) never re-run
    its lineage. The re-read reuses ``df``'s schema (no inference job).
    The stage is removed when the block completes; a crash leaves it to
    ``remove_orphan_files``."""
    path = _stage_path(out_dir, kind)
    df.write.mode("overwrite").parquet(path)
    yield spark.read.schema(df.schema).parquet(path), path
    shutil.rmtree(path, ignore_errors=True)


def _overwrite_tiles(df: DataFrame, path: str) -> None:
    """Replace only the ``tile_id`` partitions of ``path`` that ``df``
    holds (per-write dynamic partition overwrite)."""
    df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
        "tile_id"
    ).parquet(path)


def _tile_bounds(det: DataFrame) -> pd.DataFrame:
    """Per-tile lat/lon bounds and row count (<=648 rows to the driver);
    ``_tile_bounds_np`` is the driver-side twin for a staged batch."""
    lat, lon = F.col("FP_Latitude"), F.col("FP_Longitude")
    return (
        det.groupBy("tile_id")
        .agg(
            F.min(lat).alias("lat_min"),
            F.max(lat).alias("lat_max"),
            F.min(lon).alias("lon_min"),
            F.max(lon).alias("lon_max"),
            F.count("*").alias("rows"),
        )
        .toPandas()
    )


def _tile_bounds_np(det: pd.DataFrame) -> pd.DataFrame:
    """``_tile_bounds`` of a batch's staged rows (``tile_id`` and
    coordinates as the detect kernel wrote them), on the driver."""
    return det.groupby("tile_id", as_index=False).agg(
        lat_min=("FP_Latitude", "min"),
        lat_max=("FP_Latitude", "max"),
        lon_min=("FP_Longitude", "min"),
        lon_max=("FP_Longitude", "max"),
        rows=("FP_Latitude", "size"),
    )


def _expand_cells(cells: np.ndarray, eps: float = spatial.DEDUP_EPS_DEG) -> np.ndarray:
    """All cells that can hold a detection within ``eps`` of a detection in
    one of the input cells: latitude-aware kRing of the cell set (margin =
    half a cell height, since the source row can sit anywhere in its cell;
    lon_ring_halfwidth adds the +eps partner-latitude margin itself)."""
    lat_c = np.abs(grids.cell_center_lat_np(cells)) + _CELL_H_DEG / 2.0
    kx = grids.lon_ring_halfwidth_np(lat_c, eps, pipeline.DEDUP_CELL_LEVEL)
    return np.unique(grids.cell_kring_dyn_np(cells, kx))


def _partner_tiles(eps: float) -> F.Column:
    """Every tile a within-``eps`` partner of the row can lie in: the
    tiles of the four corners of its eps box. The box's longitude
    half-width is eps/cos of its poleward edge (as lon_ring_halfwidth,
    capped at 89.9 deg) and every side carries a 1e-9 deg margin; the box
    is far narrower than a 10-deg tile, so its corners hit every tile it
    overlaps, the row's own tile included."""
    lat, lon = F.col("FP_Latitude"), F.col("FP_Longitude")
    margin = 1e-9
    coslat = F.cos(F.radians(F.least(F.abs(lat) + F.lit(eps), F.lit(89.9))))
    half_lon = F.lit(eps) / coslat + F.lit(margin)
    half_lat = F.lit(eps + margin)
    corners = [
        grids.pc_tile_name(lat + dy * half_lat, lon + dx * half_lon)
        for dy in (-1, 1)
        for dx in (-1, 1)
    ]
    return F.array_distinct(F.array(*corners))


def _read_tiles(
    spark: SparkSession, root: str, tiles: list[str], schema: T.StructType
) -> DataFrame:
    """The existing ``tile_id`` partitions of ``root`` among ``tiles``,
    read with a known schema: no schema-inference job, and only those
    partition directories are listed (static partition pruning); empty
    when none exists."""
    paths = [f"{root}/tile_id={t}" for t in tiles if os.path.isdir(f"{root}/tile_id={t}")]
    if not paths:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).option("basePath", root).parquet(*paths)


def _reconcile_tile(ring1: np.ndarray, eps: float):
    """Cogroup body of the incremental reconcile for one tile: ``rows`` are
    the tile's own detections plus every detection of a neighboring tile
    whose eps box reaches into it; ``old`` is the tile's dedup_state.
    Verdicts of the tile's rows in ``ring1`` cells are recomputed against
    all of ``rows`` (which hold every within-eps partner of them); every
    other row of the tile carries its old verdict forward, and a row with
    no old verdict raises; deleted rows' keys drop out. A tile without
    ring1 rows emits nothing, unless its old state holds more keys than it
    has rows (a delete shrank it)."""
    out_cols = _RECONCILE_SCHEMA.fieldNames()

    def reconcile(key, rows: pd.DataFrame, old: pd.DataFrame) -> pd.DataFrame:
        home = rows.tile_id.to_numpy() == key[0]
        redo = home & np.isin(rows._cell.to_numpy(), ring1)
        if not redo.any() and home.sum() == len(old):
            return rows.iloc[:0].assign(is_dup=False, dup_of="")[out_cols]
        is_dup, dup_of = spatial.knn_dedup_cells_np(
            rows.doc_id.to_numpy(),
            rows.FP_Latitude.to_numpy(),
            rows.FP_Longitude.to_numpy(),
            rows.FP_Power.to_numpy(),
            rows.FP_Line.to_numpy(),
            rows.FP_Sample.to_numpy(),
            query=redo,
            eps=eps,
        )
        fresh = rows[redo].assign(is_dup=is_dup, dup_of=dup_of)
        kept = rows[home & ~redo].merge(
            old[[*STATE_KEY, "is_dup", "dup_of"]], on=STATE_KEY, how="left", indicator=True
        )
        missing = int((kept.pop("_merge") != "both").sum())
        if missing:
            raise RuntimeError(
                f"dedup_state of tile {key[0]} has no verdict for {missing} detections "
                "outside the batch neighborhood"
            )
        return pd.concat([fresh[out_cols], kept[out_cols]], ignore_index=True)

    return reconcile


def _swap_tile_partitions(src: str, dst: str) -> list[str]:
    """Replace ``dst``'s ``tile_id=...`` partition directories with
    ``src``'s and return the swapped tile ids. Driver-side metadata commit
    bounded by the affected-tile count (<=648 10-degree tiles globally),
    single-writer like every other metadata commit here — the
    parquet-layout analogue of an Iceberg manifest swap (on an object
    store this is the manifest pointer update, not a data move)."""
    swapped: list[str] = []
    os.makedirs(dst, exist_ok=True)
    for d in sorted(os.listdir(src)):
        if not d.startswith("tile_id="):
            continue
        cur = os.path.join(dst, d)
        shutil.rmtree(cur, ignore_errors=True)
        os.replace(os.path.join(src, d), cur)
        swapped.append(d.split("=", 1)[1])
    shutil.rmtree(src, ignore_errors=True)
    return swapped


def update_dedup_incremental(spark: SparkSession, out_dir: str, touched: np.ndarray) -> list[str]:
    """Reconcile dedup_state + tiles after the store changed at the
    level-14 cells ``touched``, and return the tiles swapped in. The one
    writer of both views: a bulk load (no old state; every stored row sits
    in a touched cell, so every verdict is computed), an append (the
    batch's cells) and a delete (the deleted rows' cells).

    A changed detection can only change is_dup/dup_of verdicts for
    detections within the dedup radius of itself, i.e. in the kRing
    (ring1) of the touched cells; recomputing those verdicts needs
    candidate dominators one ring further out (ring2). So:

      1. on the driver: ring1 = expand(touched), ring2 = expand(ring1),
         and the candidate 10-deg tiles of each (numpy, no Spark job)
      2. read the detections of the ring2 tiles (partition-pruned); each
         row goes to every ring1 tile its eps box reaches (``_partner_tiles``)
      3. ONE cogroup keyed by tile pairs those rows with the ring1 tiles'
         old state (none on a first load): per tile, verdicts of its ring1
         rows are recomputed with ``spatial.knn_dedup_cells_np`` (the
         relation of ``spatial.knn_dedup_np`` and ``pipeline.dedup``),
         every other row of the tile keeps its old verdict, and deleted
         rows' keys drop out (every tile that held a deleted row is a
         ring1 tile)
      4. the output is staged once: its state columns are written
         partitioned and swapped into ONLY the reconciled tiles'
         dedup_state partitions, and ``pipeline.tiles`` of it
         dynamic-overwrites the same tiles' rollup

    Cost is O(rows of the touched tiles) regardless of store size — the
    full rebuild the north rule's resume semantics would otherwise force
    on every micro-batch. A tile a delete emptied emits nothing; its
    partitions are the caller's to drop."""
    eps = spatial.DEDUP_EPS_DEG
    ring1 = _expand_cells(np.unique(touched), eps)
    ring2 = _expand_cells(ring1, eps)
    tiles1 = grids.cell_corner_tiles_np(ring1).tolist()
    tiles2 = grids.cell_corner_tiles_np(ring2).tolist()

    lat, lon = F.col("FP_Latitude"), F.col("FP_Longitude")
    rows = (
        _read_tiles(spark, f"{out_dir}/detections", tiles2, _RECONCILE_DET_SCHEMA)
        .withColumn("_cell", grids.cell_encode(lat, lon, pipeline.DEDUP_CELL_LEVEL))
        .withColumn("_grp", F.explode(_partner_tiles(eps)))
        .filter(F.col("_grp").isin(tiles1))
    )
    old = _read_tiles(spark, f"{out_dir}/dedup_state", tiles1, STATE_SCHEMA).select(
        "tile_id", *STATE_KEY, "is_dup", "dup_of"
    )
    reconciled = (
        rows.groupBy("_grp")
        .cogroup(old.groupBy("tile_id"))
        .applyInPandas(_reconcile_tile(ring1, eps), schema=_RECONCILE_SCHEMA)
    )
    with _staged(spark, reconciled, out_dir, "reconcile") as (staged, _):
        # each cogroup task holds whole tiles, so this write lands ~one
        # file per tile without a repartition; the driver-side directory
        # swap is the parquet-layout analogue of an Iceberg manifest swap
        stage = _stage_path(out_dir, "state")
        staged.select(*_STATE_COLS).write.mode("overwrite").partitionBy("tile_id").parquet(stage)
        swapped = _swap_tile_partitions(stage, f"{out_dir}/dedup_state")
        if swapped:
            _overwrite_tiles(pipeline.tiles(staged), f"{out_dir}/tiles")
    return swapped


def _mark(timings: dict | None, key: str, t0: float) -> float:
    """Phase-split instrumentation for the per-batch driver tail (the fixed
    cost a 100x scale-up multiplies by batch count)."""
    now = time.perf_counter()
    if timings is not None:
        timings[key] = round(timings.get(key, 0.0) + (now - t0), 3)
    return now


def process_docs(
    spark: SparkSession,
    corpus_dir: str,
    out_dir: str,
    todo: DataFrame,
    nl: dict,
    run_id: str,
    n_docs: int | None = None,
    timings: dict | None = None,
) -> None:
    """Detect + enrich + append one batch of granules, reconcile dedup/tiles
    incrementally, then record lineage. Shared by the incremental runner and
    the streaming ingest. ``todo`` is a doc_id DataFrame (the frontier);
    granules outside it are pruned before decode. Its doc_ids are collected
    once, up front (the detect's broadcast semi-join would pull them to the
    driver anyway), and that list drives the detect filter, the lineage
    rows and the snapshot's doc count; ``n_docs``, the count some callers
    already have, is therefore not needed.

    The batch's small metadata — row count, touched cells, manifest bounds
    (from the kernel's ``tile_id``), per-granule lineage metrics — comes
    from one driver-side Arrow read of the staged detect parquet (a few
    thousand rows), not from Spark jobs. The stage already holds every
    per-row enrich column, so enrich adds only its two static joins.

    Lineage wall_s/rows_per_sec are TRUE per-granule detect-kernel timings
    measured inside the cogroup task (_detect_wall_s), not batch averages
    (north rule: per-partition rows/sec metrics)."""
    t = time.perf_counter()
    doc_ids = [r.doc_id for r in todo.select("doc_id").collect()]
    det = pipeline.detect_granules(
        spark, corpus_dir, nl, doc_filter=doc_frame(spark, doc_ids), n_docs=len(doc_ids)
    )
    # the one stage of the batch: enrich's key-set jobs and the driver-side
    # reads below re-reference the detect output and must not re-run the
    # decode+detect kernel
    with _staged(spark, det, out_dir, f"{run_id}_det") as (det, det_path):
        t = _mark(timings, "decode_detect", t)
        enriched = pipeline.enrich(spark, pipeline.real_detections(det), corpus_dir)
        # cluster by tile before the partitioned append: without this every
        # task writes a file into every tile directory it touches (tasks x
        # tiles small files per batch — the commit, not the data, becomes
        # the tail); one small shuffle of the detection rows yields ~one
        # file per tile
        enriched.repartition("tile_id").write.mode("append").partitionBy("tile_id").parquet(
            f"{out_dir}/detections"
        )
        t = _mark(timings, "enrich_append", t)

        staged = pq.read_table(
            det_path,
            columns=["doc_id", "FP_Line", "_detect_wall_s", "FP_Latitude", "FP_Longitude", "tile_id"],
        ).to_pandas()
        pos = staged[staged.FP_Line >= 0]
        lat = pos.FP_Latitude.to_numpy()
        lon = pos.FP_Longitude.to_numpy()
        if lat.size:
            touched = grids.cell_encode_np(lat, lon, pipeline.DEDUP_CELL_LEVEL)
            if not update_dedup_incremental(spark, out_dir, touched):
                raise RuntimeError("incremental dedup reconciled none of the appended rows")
            t = _mark(timings, "dedup_tiles", t)
            _update_manifest(out_dir, _tile_bounds_np(pos))
            t = _mark(timings, "manifest", t)

        lineage = _lineage_rows(run_id, doc_ids, staged)
        spark.createDataFrame(lineage, LINEAGE_SCHEMA).write.mode("append").parquet(
            _lineage_path(out_dir)
        )
        _commit_snapshot(out_dir, run_id, docs=len(doc_ids), rows=int(lat.size))
        t = _mark(timings, "lineage_snapshot", t)
    try:
        os.rmdir(f"{out_dir}/_stage")  # parent, if this was its last run
    except OSError:
        pass


def _lineage_rows(run_id: str, doc_ids: list[str], det: pd.DataFrame) -> pd.DataFrame:
    """One lineage row per frontier granule from its staged detect rows
    (``det``: doc_id, FP_Line, _detect_wall_s). Sentinel rows (FP_Line < 0)
    carry the timing of zero-detection granules and count 0 toward
    rows_out; Day-pruned granules in the frontier never decode -> wall_s
    0.0. wall_s is rounded to 4 decimals before rows_per_sec divides by it."""
    per_doc = (
        det.assign(_n=(det.FP_Line >= 0).astype(np.int64))
        .groupby("doc_id")
        .agg(_wall=("_detect_wall_s", "max"), _n=("_n", "sum"))
        .reindex(doc_ids)
    )
    n = per_doc._n.fillna(0).astype(np.int64).to_numpy()
    wall = per_doc._wall.fillna(0.0).round(4).to_numpy()
    return pd.DataFrame(
        dict(
            run_id=run_id,
            stage="detect",
            partition_key=pd.Series(doc_ids, dtype=object),
            rows_out=n,
            wall_s=wall,
            rows_per_sec=n / np.maximum(wall, 1e-9),
            status="done",
        )
    )


# ---------------------------------------------------------------------------
# Partition-stats manifest + data-skipping reads (the Iceberg manifest
# analogue on the parquet layout)
# ---------------------------------------------------------------------------


def _manifest_path(out_dir: str) -> str:
    return f"{out_dir}/_manifest/partition_stats.parquet"


def _update_manifest(out_dir: str, stats: pd.DataFrame) -> None:
    """Merge a batch's per-tile column bounds (``_tile_bounds_np``) into
    the partition-stats manifest: (tile_id, lat/lon min-max, rows), a
    driver-side atomic replace — the same single-writer metadata commit the
    snapshot log uses. On the APPEND path bounds are merge-only (compaction
    preserves rows), so they only ever widen; the one shrinking operation,
    ``delete_detections``, recomputes the rows of exactly the tiles it
    rewrites."""
    if stats.empty:
        return
    path = _manifest_path(out_dir)
    if os.path.exists(path):
        prev = pd.read_parquet(path)
        both = pd.concat([prev, stats], ignore_index=True)
        stats = both.groupby("tile_id", as_index=False).agg(
            lat_min=("lat_min", "min"),
            lat_max=("lat_max", "max"),
            lon_min=("lon_min", "min"),
            lon_max=("lon_max", "max"),
            rows=("rows", "sum"),
        )
    _write_manifest(stats, path)


def _write_manifest(man: pd.DataFrame, path: str) -> None:
    """Driver-side atomic replace of the partition-stats manifest."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    man.to_parquet(tmp, index=False)
    os.replace(tmp, path)


def read_detections_bbox(
    spark: SparkSession,
    out_dir: str,
    lat_min: float,
    lat_max: float,
    lon_min: float,
    lon_max: float,
) -> DataFrame:
    """Data-skipping bbox read of the detections store: the manifest's
    per-tile bounds prune partitions without touching data (finer than raw
    tile arithmetic — a tile populated only in one corner keeps its actual
    bounds), the surviving tiles become a bounded literal isin (static
    partition pruning, <=648 ids), and the residual lat/lon predicate is
    pushed into the parquet scan where row-group min/max stats skip pages.
    Exactly the Iceberg manifest -> partition prune -> row-group skip
    ladder, on the plain-parquet layout."""
    path = _manifest_path(out_dir)
    lat, lon = F.col("FP_Latitude"), F.col("FP_Longitude")
    pred = (
        (lat >= lat_min) & (lat <= lat_max) & (lon >= lon_min) & (lon <= lon_max)
    )
    det = _read_detections(spark, out_dir)
    if not os.path.exists(path):
        return det.filter(pred)
    man = pd.read_parquet(path)
    keep = man[
        (man.lat_max >= lat_min)
        & (man.lat_min <= lat_max)
        & (man.lon_max >= lon_min)
        & (man.lon_min <= lon_max)
    ].tile_id.tolist()
    return det.filter(F.col("tile_id").isin(keep)).filter(pred)


# ---------------------------------------------------------------------------
# Snapshot log + time travel (the Iceberg commit-log analogue)
# ---------------------------------------------------------------------------


def _snap_log(out_dir: str) -> str:
    return f"{out_dir}/_snapshots/log.jsonl"


def _commit_snapshot(out_dir: str, run_id: str, docs: int, rows: int) -> None:
    """Append one commit record after a batch lands: (seq, run_id, new
    granules, rows appended). Driver-side single-writer append — the same
    role Iceberg's metadata commit plays; granule (doc_id) granularity
    instead of file granularity, which is what the exact-resume frontier
    already keys on.

    Crash repair: a kill between the lineage append and this commit leaves
    a run whose granules are in the store and marked done (never re-landed)
    but in no snapshot — permanently invisible to time travel. Each commit
    therefore folds any such orphaned lineage run_ids into itself
    (``also_runs``): the next snapshot's membership equals the store
    content again. Detection is a driver-side Arrow read of only the
    lineage run_id column (no Spark job); counts are passed in by the
    caller. It still reads the whole lineage history on every commit — a
    commit-intent file written before the data would bound it by the
    batch instead."""
    base, prior = _snap_entries(out_dir)
    known = set(base.get("run_ids", [])) | {run_id}
    for s in prior:
        known.add(s["run_id"])
        known.update(s.get("also_runs", []))
    lin_runs = set(
        pq.read_table(_lineage_path(out_dir), columns=["run_id"]).column("run_id").to_pylist()
    )
    rec = dict(run_id=run_id, docs=int(docs), rows=int(rows))
    orphans = sorted(lin_runs - known)
    if orphans:
        rec["also_runs"] = orphans
    _append_snapshot(out_dir, (base, prior), rec)


def _append_snapshot(out_dir: str, entries: tuple[dict, list[dict]], rec: dict) -> None:
    """Append ``rec`` to the commit log as the next sequence number after
    ``entries`` (``_snap_entries``): max-seq + 1, not count + 1 —
    expiration removes old records but must never let sequence numbers
    collide. Driver-side single-writer append."""
    base, prior = entries
    seq = (prior[-1]["seq"] if prior else base.get("last_seq", 0)) + 1
    os.makedirs(f"{out_dir}/_snapshots", exist_ok=True)
    with open(_snap_log(out_dir), "a") as f:
        f.write(json.dumps(dict(seq=seq, **rec)) + "\n")


def _snap_entries(out_dir: str) -> tuple[dict, list[dict]]:
    """(base record, commit records oldest first). The base record (seq 0)
    carries run_ids folded in by expire_snapshots — implicit members of
    every surviving snapshot."""
    path = _snap_log(out_dir)
    if not os.path.exists(path):
        return {}, []
    with open(path) as f:
        rows = [json.loads(line) for line in f if line.strip()]
    base = next((r for r in rows if r.get("base")), {})
    return base, [r for r in rows if not r.get("base")]


def snapshots(out_dir: str) -> list[dict]:
    """Commit log, oldest first (expired commits omitted)."""
    return _snap_entries(out_dir)[1]


def read_detections_as_of(spark: SparkSession, out_dir: str, run_id: str) -> DataFrame:
    """Time-travel read of the append-only detections store: the rows as of
    the commit ``run_id`` (inclusive). The snapshot membership is the union
    of the committed runs' granule frontiers, applied as a broadcast
    semi-join on the lineage table — granule-level time travel, the
    logical analogue of Iceberg reading an older snapshot's file set (the
    detections store is append-only per granule, so doc_id membership IS
    the snapshot content). dedup_state/tiles are latest-only materialized
    views and have no history by design."""
    base, snaps = _snap_entries(out_dir)
    seqs = [s["seq"] for s in snaps if s["run_id"] == run_id]
    if not seqs:
        raise ValueError(f"unknown snapshot run_id {run_id!r}")
    # copy-on-write deletes rewrite data files in place; snapshots at or
    # before the newest delete can no longer reproduce the deleted rows
    max_del = max(
        [base.get("deletes_through_seq", 0)]
        + [s["seq"] for s in snaps if s.get("delete")]
    )
    if seqs[0] < max_del:
        raise ValueError(
            f"snapshot {run_id!r} (seq {seqs[0]}) predates a row-level delete "
            f"(seq {max_del}); its data files were rewritten copy-on-write"
        )
    run_ids = list(base.get("run_ids", []))
    for s in snaps:
        if s["seq"] <= seqs[0]:
            run_ids.append(s["run_id"])
            run_ids.extend(s.get("also_runs", []))
    members = (
        read_lineage(spark, out_dir)
        .filter(F.col("run_id").isin(run_ids) & (F.col("stage") == "detect"))
        .select(F.col("partition_key").alias("doc_id"))
        .distinct()
    )
    det = _read_detections(spark, out_dir)
    return det.join(F.broadcast(members), "doc_id", "left_semi")


def expire_snapshots(out_dir: str, keep_last: int = 10) -> dict:
    """Snapshot-retention maintenance (the Iceberg ``expire_snapshots``
    analogue): drop commit records older than the newest ``keep_last``,
    atomically rewriting the log. Expired run_ids fold into a cumulative
    base record (seq 0) so surviving snapshots keep their exact membership
    — base runs are part of EVERY remaining snapshot — while uncommitted
    orphan lineage (a crash between lineage append and snapshot commit)
    stays excluded. Time travel to an expired commit raises. Expiration
    itself needs no data-file cleanup: committed granules remain members
    of every surviving snapshot (compaction handles file-count hygiene;
    crashed-job debris is ``remove_orphan_files``' job, and row removal is
    ``delete_detections``', each with its own accounting)."""
    base, snaps = _snap_entries(out_dir)
    if len(snaps) <= keep_last:
        return dict(total=len(snaps), expired=0)
    # explicit split point: snaps[:-0] would be the empty list, silently
    # turning keep_last=0 ("expire everything") into a no-op
    cut = len(snaps) - keep_last if keep_last > 0 else len(snaps)
    drop, keep = snaps[:cut], snaps[cut:]
    folded = set(base.get("run_ids", []))
    for s in drop:
        folded.add(s["run_id"])
        folded.update(s.get("also_runs", []))
    new_base = dict(seq=0, base=True, run_ids=sorted(folded))
    # expire-everything must not reset the sequence: remember the highest
    # expired seq so the next commit continues after it
    new_base["last_seq"] = max(
        [base.get("last_seq", 0)] + [s["seq"] for s in drop]
    )
    # an expired delete record must keep poisoning older snapshots
    del_through = max(
        [base.get("deletes_through_seq", 0)] + [s["seq"] for s in drop if s.get("delete")]
    )
    if del_through:
        new_base["deletes_through_seq"] = del_through
    base = new_base
    tmp = f"{_snap_log(out_dir)}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        f.write(json.dumps(base) + "\n")
        for s in keep:
            f.write(json.dumps(s) + "\n")
    os.replace(tmp, _snap_log(out_dir))
    return dict(total=len(snaps), expired=len(drop))


def run_incremental(
    spark: SparkSession,
    corpus_dir: str,
    out_dir: str,
    nl: dict | None = None,
    timings: dict | None = None,
) -> dict:
    """One incremental batch: detect any granule not yet in the lineage
    frontier, append detections, reconcile dedup+tiles over the batch's
    spatial neighborhood only. Pass ``timings={}`` to collect the per-phase
    wall split (bench.py --phases)."""
    nl = nl or make_namelist()
    run_id = uuid.uuid4().hex[:12]
    t0 = time.perf_counter()

    todo = frontier(spark, out_dir, pipeline.load_documents(spark, corpus_dir))
    doc_ids = [r.doc_id for r in todo.collect()]
    _mark(timings, "frontier", t0)
    if doc_ids:
        todo = doc_frame(spark, doc_ids)
        process_docs(spark, corpus_dir, out_dir, todo, nl, run_id, timings=timings)
    return dict(run_id=run_id, new_docs=len(doc_ids))


def detection_file_stats(out_dir: str) -> dict[str, int]:
    """Per-tile data-file counts of the detections store: driver-side
    directory listing, bounded by the tile-partition count (<=648
    10-degree tiles globally) — the same bounded-metadata planning a
    table-format maintenance job does from manifests (Iceberg
    ``rewrite_data_files``)."""
    root = f"{out_dir}/detections"
    stats: dict[str, int] = {}
    if not os.path.isdir(root):
        return stats
    for d in os.listdir(root):
        if not d.startswith("tile_id="):
            continue
        full = f"{root}/{d}"
        stats[d.split("=", 1)[1]] = sum(
            1 for f in os.listdir(full) if f.endswith(".parquet")
        )
    return stats


def compact_detections(
    spark: SparkSession,
    out_dir: str,
    max_files_per_tile: int = 1,
    target_rows_per_file: int = 5_000_000,
) -> dict:
    """Small-file maintenance for the append-only detections store (the
    Iceberg ``rewrite_data_files`` analogue on the parquet layout). Every
    incremental batch appends ~one file per touched tile, so a tile
    accumulates one file per batch; at production batch rates the store's
    read amplification comes from file COUNT, not bytes.

    Plan shape (scale posture): the driver listing picks only tiles over
    ``max_files_per_tile``; ONLY those partitions are read (bounded-literal
    static pruning, same as the incremental dedup), staged once, and
    dynamic-partition-overwritten clustered by tile. Under-threshold tiles
    are never read or rewritten. A tile larger than
    ``target_rows_per_file`` splits into ceil(rows/target) files via a
    deterministic hash bucket, so compaction cannot itself create an
    unsplittable mega-file. Single-writer maintenance op; row content is
    exactly preserved (pinned by test)."""
    stats = detection_file_stats(out_dir)
    result = dict(
        tiles_total=len(stats),
        tiles_compacted=0,
        files_before=sum(stats.values()),
        files_after=sum(stats.values()),
    )
    todo = sorted(t for t, n in stats.items() if n > max_files_per_tile)
    if not todo:
        return result
    root = f"{out_dir}/detections"
    det = _read_detections(spark, out_dir).filter(F.col("tile_id").isin(todo))
    # stage: the rewrite reads the same partitions it overwrites
    with _staged(spark, det, out_dir, "compact") as (staged, _):
        counts = {
            r["tile_id"]: r["n"]
            for r in staged.groupBy("tile_id").agg(F.count("*").alias("n")).collect()
        }
        n_out = {t: max(1, -(-c // target_rows_per_file)) for t, c in counts.items()}
        if all(n == 1 for n in n_out.values()):
            clustered = staged.repartition("tile_id")  # one task -> one file per tile
        else:
            mod_map = F.create_map(
                *[x for t, n in n_out.items() for x in (F.lit(t), F.lit(n))]
            )
            bucket = F.pmod(F.xxhash64(*STATE_KEY), mod_map[F.col("tile_id")])
            clustered = (
                staged.withColumn("_bk", bucket)
                .repartition(4 * sum(n_out.values()), "tile_id", "_bk")
                .drop("_bk")
            )
        _overwrite_tiles(clustered, root)
    after = detection_file_stats(out_dir)
    result.update(tiles_compacted=len(todo), files_after=sum(after.values()))
    return result


def zorder_detections(
    spark: SparkSession,
    out_dir: str,
    tiles: list[str] | None = None,
    target_rows_per_file: int = 5_000_000,
) -> dict:
    """Z-order clustering of the detections store (the Iceberg
    ``rewrite_data_files(strategy => 'sort', sort_order => zorder(lat,lon))``
    analogue): rewrite tile partitions with rows sorted by the Morton
    interleave of (FP_Latitude, FP_Longitude), so parquet row-group min/max
    stats become spatially tight and ``read_detections_bbox``'s residual
    predicate skips row groups instead of merely pages within loose ones.

    Scale posture mirrors ``compact_detections``: only the requested (or
    all) tiles are read via bounded-literal partition pruning, staged once,
    and dynamic-partition-overwritten; ``sortWithinPartitions`` keeps the
    sort per output task (no global sort — tile partitioning already gives
    spatial locality across files; z-order adds it within them). Row
    content exactly preserved (pinned by test)."""
    from filda_spark.functions.bits import morton_key

    stats = detection_file_stats(out_dir)
    todo = sorted(stats) if tiles is None else sorted(t for t in tiles if t in stats)
    result = dict(tiles_total=len(stats), tiles_zordered=len(todo))
    if not todo:
        return result
    root = f"{out_dir}/detections"
    det = _read_detections(spark, out_dir).filter(F.col("tile_id").isin(todo))
    with _staged(spark, det, out_dir, "zorder") as (staged, _):
        total = staged.count()
        n_parts = max(len(todo), -(-total // target_rows_per_file))
        clustered = (
            staged.withColumn(
                "_zk", morton_key(F.col("FP_Latitude"), F.col("FP_Longitude"))
            )
            # range partitioning on (tile, z) keeps each output file a
            # contiguous z-range within its tile — oversized tiles split
            # into disjoint z-bands instead of hash-interleaved files
            .repartitionByRange(n_parts, "tile_id", "_zk")
            .sortWithinPartitions("tile_id", "_zk")
            .drop("_zk")
        )
        _overwrite_tiles(clustered, root)
    return result


def delete_detections(
    spark: SparkSession, out_dir: str, predicate: str
) -> dict:
    """Row-level DELETE on the detections store (the Iceberg copy-on-write
    ``DELETE FROM ... WHERE`` analogue on the parquet layout) — e.g. retract
    detections later identified as gas-flare false positives.

    Plan shape (scale posture): one bounded agg over the predicate's matches
    finds the affected tiles (<=648 rows to the driver — the same planning
    compaction does); ONLY those partitions are read, staged once, and
    dynamic-partition-overwritten with the surviving rows. Tiles whose rows
    are all deleted are emptied explicitly (dynamic overwrite cannot replace
    a partition with zero rows). Cost is O(bytes in affected tiles), never
    O(store). The manifest rows for rewritten tiles are recomputed from the
    surviving rows (bounds stay tight; pruning correctness never depended on
    them being tight).

    Time-travel semantics: copy-on-write rewrites data files in place and
    this layout retains no historical files, so commits at or before the
    delete can no longer reproduce the deleted rows — exactly an Iceberg
    table's state after DELETE + expire_snapshots + remove_orphan_files.
    The delete appends its own commit record; ``read_detections_as_of``
    raises for snapshots that predate the newest delete.

    Derived views stay exact: a deleted detection may have been the
    dominator of a surviving near-duplicate, so the dedup_state/tiles
    views are reconciled with the SAME neighborhood recompute an append
    uses (``update_dedup_incremental`` with the deleted rows' cells as the
    touched set), which also rewrites every tile that held a deleted row
    without its key. Cost stays O(delete neighborhood), and
    full-rebuild-equality tests pin the semantics.
    """
    root = f"{out_dir}/detections"
    # SQL DELETE semantics under three-valued logic: a row is deleted iff
    # the predicate is TRUE; NULL-predicate rows must SURVIVE (a bare ~pred
    # filter would silently drop them without scrubbing their state keys)
    pred = F.coalesce(F.expr(predicate), F.lit(False))
    det = _read_detections(spark, out_dir)
    affected = [
        r["tile_id"]
        for r in det.filter(pred).select("tile_id").distinct().collect()
    ]
    if not affected:
        return dict(rows_deleted=0, tiles_rewritten=0, tiles_emptied=0)

    sub = det.filter(F.col("tile_id").isin(affected))
    with _staged(spark, sub, out_dir, "delete") as (staged, _):
        survivors = staged.filter(~pred)
        n_before = staged.count()
        n_after = survivors.count()

        live = [r["tile_id"] for r in survivors.select("tile_id").distinct().collect()]
        emptied = sorted(set(affected) - set(live))
        if live:
            _overwrite_tiles(survivors.repartition("tile_id"), root)
        for t in emptied:
            for table in ("detections", "dedup_state", "tiles"):
                shutil.rmtree(f"{out_dir}/{table}/tile_id={t}", ignore_errors=True)

        # reconcile the derived views from the post-delete store: the
        # deleted rows' cells are the touched set (their neighbors'
        # verdicts may change, and their tiles must drop their keys)
        if os.path.isdir(f"{out_dir}/dedup_state"):
            pos = staged.filter(pred).select("FP_Latitude", "FP_Longitude").toPandas()
            cells = grids.cell_encode_np(
                pos.FP_Latitude, pos.FP_Longitude, pipeline.DEDUP_CELL_LEVEL
            )
            update_dedup_incremental(spark, out_dir, cells)

    # manifest repair for exactly the rewritten tiles
    mpath = _manifest_path(out_dir)
    if os.path.exists(mpath):
        man = pd.read_parquet(mpath)
        man = man[~man.tile_id.isin(affected)]
        if live:
            store = _read_detections(spark, out_dir)
            fresh = _tile_bounds(store.filter(F.col("tile_id").isin(live)))
            man = pd.concat([man, fresh], ignore_index=True)
        _write_manifest(man, mpath)

    # delete commit: its own snapshot record; prior snapshots become
    # unreadable (enforced in read_detections_as_of)
    _append_snapshot(
        out_dir,
        _snap_entries(out_dir),
        dict(
            run_id=f"delete-{uuid.uuid4().hex[:12]}",
            docs=0,
            rows=-(n_before - n_after),
            delete=True,
        ),
    )
    return dict(
        rows_deleted=n_before - n_after,
        tiles_rewritten=len(live),
        tiles_emptied=len(emptied),
    )


def reprocess_granules(
    spark: SparkSession, corpus_dir: str, out_dir: str, doc_ids: list[str], nl: dict | None = None
) -> dict:
    """Granule-level backfill (the MERGE-style replace a reprocessing
    campaign needs, e.g. after a codec fix or namelist change): replace the
    stored rows of ``doc_ids`` with a fresh detect of the current corpus
    payloads. Copy-on-write delete of the granules' rows first
    (``delete_detections``: views reconciled, manifest repaired, pre-delete
    snapshots poisoned), then the lineage frontier rows for those granules
    are dropped so the normal incremental path re-detects exactly them —
    the re-ingest is a plain ``run_incremental`` and therefore also picks
    up any genuinely new granules, with full lineage/snapshot accounting.
    The lineage rewrite is driver-bounded metadata (one row per granule);
    beyond ~1e7 granules the same Iceberg-snapshot-diff out applies as for
    the resume frontier."""
    ids = sorted(set(doc_ids))
    if not ids:
        return dict(reprocessed=0)
    quoted = ", ".join("'" + i.replace("'", "''") + "'" for i in ids)
    delete_detections(spark, out_dir, f"doc_id IN ({quoted})")
    lin_path = _lineage_path(out_dir)
    keep = read_lineage(spark, out_dir).filter(~F.col("partition_key").isin(ids))
    tmp = _stage_path(out_dir, "lineage")
    keep.write.mode("overwrite").parquet(tmp)
    # rename-aside swap: the exposure window is two directory renames, not
    # an O(files) rmtree of the live frontier (losing lineage would make
    # the next run re-append every granule as duplicates)
    old = _stage_path(out_dir, "lineage_old")
    os.rename(lin_path, old)
    os.rename(tmp, lin_path)
    shutil.rmtree(old)
    res = run_incremental(spark, corpus_dir, out_dir, nl)
    return dict(reprocessed=len(ids), run=res)


_ORPHAN_GRACE_S = 3600.0


def remove_orphan_files(out_dir: str, grace_s: float = _ORPHAN_GRACE_S, dry_run: bool = False) -> dict:
    """Orphan-file maintenance (the Iceberg ``remove_orphan_files``
    analogue): collect the debris a crashed job can leave on this layout —
    (a) ``_stage/*`` run dirs (a kill between staging and cleanup),
    (b) Spark's ``_temporary`` job-attempt dirs under any table root
    (a kill mid-write), (c) ``*.tmp-*`` leftovers of the manifest /
    snapshot-log atomic replaces. Committed data is never touched: every
    class is identified by layout position, not by diffing file listings
    against a manifest, because the parquet layout tracks membership at
    granule granularity (lineage), not file granularity. A grace period
    (mtime older than ``grace_s``) protects concurrently-running jobs,
    exactly like Iceberg's ``older_than``. Driver-side walk bounded by
    partition/metadata counts, not data size."""
    now = time.time()
    victims: list[str] = []

    def aged(path: str) -> bool:
        try:
            return now - os.path.getmtime(path) >= grace_s
        except OSError:
            return False

    def aged_tree(path: str) -> bool:
        # a stage dir's own mtime is set at creation; in-flight Spark task
        # files land deeper and keep updating leaf mtimes, so a long-running
        # staged write must be judged by its NEWEST entry, not its root
        newest = 0.0
        try:
            newest = os.path.getmtime(path)
            for dirpath, dirnames, filenames in os.walk(path):
                for e in dirnames + filenames:
                    newest = max(newest, os.path.getmtime(os.path.join(dirpath, e)))
        except OSError:
            return False
        return now - newest >= grace_s

    stage_root = f"{out_dir}/_stage"
    if os.path.isdir(stage_root):
        victims += [
            f"{stage_root}/{d}"
            for d in os.listdir(stage_root)
            if aged_tree(f"{stage_root}/{d}")
        ]
    for table in ("detections", "dedup_state", "tiles", "lineage"):
        troot = f"{out_dir}/{table}"
        if not os.path.isdir(troot):
            continue
        for dirpath, dirnames, _ in os.walk(troot):
            if "_temporary" in dirnames and aged_tree(f"{dirpath}/_temporary"):
                victims.append(f"{dirpath}/_temporary")
                dirnames.remove("_temporary")
    for meta in ("_manifest", "_snapshots"):
        mroot = f"{out_dir}/{meta}"
        if os.path.isdir(mroot):
            victims += [
                f"{mroot}/{fn}"
                for fn in os.listdir(mroot)
                if ".tmp-" in fn and aged(f"{mroot}/{fn}")
            ]

    removed = 0
    if not dry_run:
        for v in victims:
            if os.path.isdir(v):
                shutil.rmtree(v, ignore_errors=True)
            else:
                try:
                    os.remove(v)
                except OSError:
                    continue
            removed += 1
    return dict(orphans=sorted(victims), removed=removed, dry_run=dry_run)


def read_results(spark: SparkSession, out_dir: str) -> dict[str, DataFrame]:
    det = _read_detections(spark, out_dir)
    state = _parquet_or_none(spark, f"{out_dir}/dedup_state", STATE_SCHEMA)
    if state is not None:
        det = det.join(state.select(*STATE_KEY, "is_dup", "dup_of"), STATE_KEY, "left")
    return dict(detections=det, tiles=spark.read.parquet(f"{out_dir}/tiles"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--dyn-win-dim", type=int, default=None)
    args = ap.parse_args()
    from filda_spark.session import get_spark

    spark = get_spark("filda-runner")
    nl = make_namelist(**({"dyn_win_dim": args.dyn_win_dim} if args.dyn_win_dim else {}))
    os.makedirs(args.out, exist_ok=True)
    res = run_incremental(spark, args.corpus, args.out, nl)
    print(res)
    spark.stop()


if __name__ == "__main__":
    main()
