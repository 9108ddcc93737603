"""Resume-equals-fresh-run: the lineage checkpoint must make an interrupted
ingest (half the corpus, then the rest) indistinguishable from a single
fresh run (SURVEY.md §5 property 3)."""

import shutil

import numpy as np
import pandas as pd
import pytest

from filda_spark import runner
from filda_spark.namelist import make_namelist

KEY = ["doc_id", "FP_Line", "FP_Sample"]


@pytest.fixture(scope="module")
def nl():
    return make_namelist(dyn_win_dim=31)  # matches the pipeline-suite config


def _half_corpus(full_dir: str, dst: str, keep_docs: set) -> None:
    shutil.copytree(full_dir, dst)
    docs = pd.read_parquet(f"{dst}/documents.parquet")
    docs[docs.doc_id.isin(keep_docs)].to_parquet(f"{dst}/documents.parquet", index=False)
    media = pd.read_parquet(f"{dst}/media.parquet")
    media[media.doc_id.isin(keep_docs)].to_parquet(f"{dst}/media.parquet", index=False)


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    return df.sort_values(KEY).reset_index(drop=True)


def test_resume_equals_fresh(spark, corpus, nl, tmp_path):
    full_dir = corpus["dir"]
    all_docs = sorted(set(pd.read_parquet(f"{full_dir}/documents.parquet").doc_id))
    first_half = set(all_docs[:4])
    half_dir = str(tmp_path / "half_corpus")
    _half_corpus(full_dir, half_dir, first_half)

    # interrupted ingest: half, then resume with the full corpus
    out_resumed = str(tmp_path / "out_resumed")
    r1 = runner.run_incremental(spark, half_dir, out_resumed, nl)
    r2 = runner.run_incremental(spark, full_dir, out_resumed, nl)
    # only the missing granules were (re)processed
    assert r1["new_docs"] + r2["new_docs"] == 7  # 8 docs - 1 Day granule
    assert r2["new_docs"] < 7

    # fresh single run
    out_fresh = str(tmp_path / "out_fresh")
    runner.run_incremental(spark, full_dir, out_fresh, nl)

    res_a = runner.read_results(spark, out_resumed)
    res_b = runner.read_results(spark, out_fresh)
    a = _canon(res_a["detections"].toPandas())
    b = _canon(res_b["detections"].toPandas())
    assert len(a) == len(b)
    for c in b.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype.kind == "f":
            assert np.array_equal(av, bv, equal_nan=True), c
        else:
            assert (pd.Series(av).astype(str) == pd.Series(bv).astype(str)).all(), c
    ta = res_a["tiles"].toPandas().sort_values(["tile_id", "cell_r7"]).reset_index(drop=True)
    tb = res_b["tiles"].toPandas().sort_values(["tile_id", "cell_r7"]).reset_index(drop=True)
    assert ta.n_fires.tolist() == tb.n_fires.tolist()
    assert np.allclose(ta.total_frp, tb.total_frp, rtol=0, atol=0)

    # idempotence: nothing left to do
    r3 = runner.run_incremental(spark, full_dir, out_resumed, nl)
    assert r3["new_docs"] == 0

    # lineage carries rows/sec metrics per partition
    lin = runner.read_lineage(spark, out_resumed).toPandas()
    assert set(lin.status) == {"done"}
    assert (lin.rows_out > 0).all()
    assert lin.partition_key.nunique() == 7


def test_incremental_dedup_equals_full_rebuild(spark, corpus, nl, tmp_path):
    """The neighborhood-restricted per-batch dedup reconciliation must leave
    dedup_state + tiles identical to a from-scratch global dedup of the full
    store (the scale invariant that lets a micro-batch avoid the full-table
    kRing shuffle)."""
    from filda_spark import pipeline

    full_dir = corpus["dir"]
    all_docs = sorted(set(pd.read_parquet(f"{full_dir}/documents.parquet").doc_id))
    out = str(tmp_path / "out_multi")
    # three batches of growing corpora -> three incremental reconciliations
    for keep in (all_docs[:3], all_docs[:6], all_docs):
        sub_dir = str(tmp_path / f"corpus_{len(keep)}")
        if keep == all_docs:
            sub_dir = full_dir
        else:
            _half_corpus(full_dir, sub_dir, set(keep))
        runner.run_incremental(spark, sub_dir, out, nl)

    got = (
        runner.read_results(spark, out)["detections"]
        .select(*KEY, "is_dup", "dup_of")
        .toPandas()
        .sort_values(KEY)
        .reset_index(drop=True)
    )
    ref = (
        pipeline.dedup(spark.read.parquet(f"{out}/detections"))
        .select(*KEY, "is_dup", "dup_of")
        .toPandas()
        .sort_values(KEY)
        .reset_index(drop=True)
    )
    assert len(got) == len(ref) > 0
    assert (got.is_dup.to_numpy() == ref.is_dup.to_numpy()).all()
    assert (got.dup_of.to_numpy() == ref.dup_of.to_numpy()).all()

    tiles_got = (
        runner.read_results(spark, out)["tiles"]
        .toPandas()
        .sort_values(["tile_id", "cell_r7"])
        .reset_index(drop=True)
    )
    from filda_spark import pipeline as _p

    full = _p.dedup(spark.read.parquet(f"{out}/detections"))
    tiles_ref = (
        _p.tiles(full).toPandas().sort_values(["tile_id", "cell_r7"]).reset_index(drop=True)
    )
    assert tiles_got.n_fires.tolist() == tiles_ref.n_fires.tolist()
    assert np.allclose(tiles_got.total_frp, tiles_ref.total_frp, equal_nan=True)


def test_csv_sink_roundtrip(spark, tmp_path):
    """writeCSV parity (FILDA_IO.py:1613-1624): header, sorted columns,
    lossless for the detection-table primitives."""
    from filda_spark import sinks

    pdf = pd.DataFrame(
        dict(
            doc_id=["b", "a"],
            FP_Line=[2, 1],
            FP_Power=[1.5, float("nan")],
            FP_Status=[7, 5],
        )
    )
    p = str(tmp_path / "det_csv")
    sinks.write_csv(spark.createDataFrame(pdf), p, single_file=True)
    back = (
        spark.read.option("header", True)
        .option("inferSchema", True)
        .csv(p)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert list(back.columns) == sorted(pdf.columns)
    ref = pdf.sort_values("doc_id").reset_index(drop=True)
    assert back.doc_id.tolist() == ref.doc_id.tolist()
    assert back.FP_Line.tolist() == ref.FP_Line.tolist()
    assert np.array_equal(back.FP_Power.to_numpy(), ref.FP_Power.to_numpy(), equal_nan=True)


def test_expand_cells_high_latitude():
    """_expand_cells must reach the partner cell of a within-eps pair even
    at 84N where eps of corrected distance spans several level-14 cells."""
    from filda_spark import grids, spatial

    lat = 84.0
    eps = spatial.DEDUP_EPS_DEG
    dlon = 0.0075 / np.cos(np.radians(lat))
    cells_a = grids.cell_encode_np([lat], [-40.0], 14)
    ring = runner._expand_cells(cells_a, eps)
    partner = grids.cell_encode_np([lat], [-40.0 + dlon], 14)
    hit = int(np.isin(partner, ring).sum())
    assert hit == 1


def _synthetic_detections(rng, doc: str, n: int, lat0: float, lon0: float, spread: float):
    """Detection rows with the columns the dedup state and tiles read."""
    return pd.DataFrame(
        dict(
            doc_id=doc,
            FP_Line=np.arange(n, dtype=np.int32),
            FP_Sample=rng.integers(0, 3000, n).astype(np.int32),
            FP_Latitude=lat0 + rng.uniform(-spread, spread, n),
            FP_Longitude=lon0 + rng.uniform(-spread, spread, n),
            FP_Power=rng.choice([1.0, 2.5, 2.5, np.nan, 7.0, 30.0], n),
            FP_confidence=rng.choice([7, 8, 9], n).astype(np.int32),
        )
    )


def _land(spark, out: str, pdf: pd.DataFrame) -> np.ndarray:
    """Append synthetic detection rows to the store at ``out``; returns
    their level-14 cells (the reconcile's touched set)."""
    from pyspark.sql import functions as F

    from filda_spark import grids, pipeline

    lat, lon = F.col("FP_Latitude"), F.col("FP_Longitude")
    df = spark.createDataFrame(pdf).withColumns(
        {
            "cell_r7": grids.cell_encode(lat, lon, grids.LEVEL_R7),
            "tile_id": grids.pc_tile_name(lat, lon),
        }
    )
    df.write.mode("append").partitionBy("tile_id").parquet(f"{out}/detections")
    return grids.cell_encode_np(pdf.FP_Latitude, pdf.FP_Longitude, pipeline.DEDUP_CELL_LEVEL)


def _state_vs_rebuild(spark, out: str):
    """(dedup_state, full pipeline.dedup rebuild of the store), both as
    canonically ordered (tile_id, key, is_dup, dup_of) frames."""
    from filda_spark import pipeline

    cols = ["tile_id", *KEY, "is_dup", "dup_of"]
    got = spark.read.parquet(f"{out}/dedup_state").select(cols).toPandas()
    ref = pipeline.dedup(spark.read.parquet(f"{out}/detections")).select(cols).toPandas()
    return _canon(got), _canon(ref)


def test_incremental_append_across_tile_edge(spark, tmp_path):
    """An append at the corner of four 10-deg tiles: its ring crosses both
    tile edges, so verdicts flip in tiles the batch's own rows may not sit
    in. dedup_state must equal a full pipeline.dedup rebuild exactly (after
    the bulk load and after the append) and the tiles view's counts and
    maxima must match exactly; a tile outside the ring keeps its rows."""
    from filda_spark import pipeline

    rng = np.random.default_rng(11)
    out = str(tmp_path / "out_edge")

    base = pd.concat(
        [_synthetic_detections(rng, f"base{i}", 120, 10.0, 20.0, 0.03) for i in range(3)]
        + [_synthetic_detections(rng, "far", 40, 15.0, 35.0, 0.01)]
    )
    runner.update_dedup_incremental(spark, out, _land(spark, out, base))  # bulk: no prior state
    got, ref = _state_vs_rebuild(spark, out)
    assert len(got) == len(base) and ref.is_dup.sum() > 0
    pd.testing.assert_frame_equal(got, ref)

    batch = pd.concat(
        [_synthetic_detections(rng, f"new{i}", 50, 10.0, 20.0, 0.012) for i in range(2)]
    )
    assert (batch.FP_Latitude < 10.0).any() and (batch.FP_Longitude < 20.0).any()
    runner.update_dedup_incremental(spark, out, _land(spark, out, batch))

    got = (
        runner.read_results(spark, out)["detections"]
        .select(*KEY, "is_dup", "dup_of")
        .toPandas()
    )
    inferred = spark.read.parquet(f"{out}/detections")
    assert runner._read_detections(spark, out).schema == inferred.schema
    full = pipeline.dedup(inferred)
    ref = full.select(*KEY, "is_dup", "dup_of").toPandas()
    got, ref = _canon(got), _canon(ref)
    assert len(got) == len(ref) == len(base) + len(batch)
    assert ref.is_dup.sum() > 0
    assert got.is_dup.tolist() == ref.is_dup.tolist()
    assert got.dup_of.tolist() == ref.dup_of.tolist()

    tkey = ["tile_id", "cell_r7"]
    tiles_got = (
        runner.read_results(spark, out)["tiles"].toPandas().sort_values(tkey).reset_index(drop=True)
    )
    tiles_ref = pipeline.tiles(full).toPandas().sort_values(tkey).reset_index(drop=True)
    assert len(set(tiles_got.tile_id)) == 5  # four corner tiles + the far one
    assert tiles_got[tkey].astype(str).values.tolist() == tiles_ref[tkey].astype(str).values.tolist()
    assert tiles_got.n_fires.tolist() == tiles_ref.n_fires.tolist()
    got_max, ref_max = tiles_got.max_frp.to_numpy(), tiles_ref.max_frp.to_numpy()
    assert np.array_equal(got_max, ref_max, equal_nan=True)
    assert np.allclose(tiles_got.total_frp, tiles_ref.total_frp, equal_nan=True)


def test_delete_isolated_detection_drops_its_state(spark, tmp_path):
    """Deleting a detection with no other detection within its ring in its
    tile: no verdict in that tile is recomputed, yet the tile's state must
    lose the deleted key (its old state holds more keys than the tile has
    rows) and its tiles rollup must equal a rebuild of the post-delete
    store."""
    from filda_spark import pipeline

    rng = np.random.default_rng(5)
    out = str(tmp_path / "out_lone")
    lone = _synthetic_detections(rng, "lone", 1, 15.0, 25.0, 0.0).assign(FP_Power=50.0)
    base = pd.concat(
        [_synthetic_detections(rng, f"base{i}", 60, 12.0, 22.0, 0.02) for i in range(2)] + [lone]
    )
    runner.update_dedup_incremental(spark, out, _land(spark, out, base))
    assert runner.delete_detections(spark, out, "doc_id = 'lone'")["rows_deleted"] == 1

    got, ref = _state_vs_rebuild(spark, out)
    assert "lone" not in set(got.doc_id) and len(got) == len(base) - 1
    pd.testing.assert_frame_equal(got, ref)

    tkey = ["tile_id", "cell_r7"]
    tiles_got = (
        runner.read_results(spark, out)["tiles"].toPandas().sort_values(tkey).reset_index(drop=True)
    )
    full = pipeline.dedup(spark.read.parquet(f"{out}/detections"))
    tiles_ref = pipeline.tiles(full).toPandas().sort_values(tkey).reset_index(drop=True)
    assert tiles_got[tkey].astype(str).values.tolist() == tiles_ref[tkey].astype(str).values.tolist()
    assert tiles_got.n_fires.tolist() == tiles_ref.n_fires.tolist()


def test_lineage_wall_times_are_per_granule(spark, corpus, nl, tmp_path):
    """North rule: lineage rows/sec metrics must be TRUE per-granule kernel
    timings (measured inside the cogroup task), not batch averages."""
    out = str(tmp_path / "out_lineage")
    runner.run_incremental(spark, corpus["dir"], out, nl)
    lin = runner.read_lineage(spark, out).toPandas()
    assert (lin.wall_s > 0).all()
    # a batch-average would give every granule the same wall_s; the measured
    # kernels differ per granule (>1 distinct value — exact all-distinct
    # would be flaky: wall_s is rounded to 4 decimals and two granules can
    # legitimately collide)
    assert lin.wall_s.nunique() > 1
    assert ((lin.rows_out / lin.wall_s - lin.rows_per_sec).abs() < 1e-6).all()


def test_zero_detection_granule(spark, nl, tmp_path, monkeypatch):
    """A night granule without detections reports its kernel wall through
    the detect kernel's sentinel row (rows_out 0) and lands nowhere else:
    not in detections, dedup_state, the manifest or the snapshot's rows."""
    from filda_spark import fixtures

    planted = fixtures._features

    def features(pair: int) -> dict:
        # pair 3 plants its fires under its cloud deck (no FRP background,
        # so fire_params drops them); its first overpass is the corpus' Day
        # granule, so exactly one night granule detects nothing
        f = planted(pair)
        if pair != 3:
            return f
        r0, r1, c0, c1 = f["cloud_rect"]
        cloud = ((r0 + r1) // 2, (c0 + c1) // 2)
        singles = ("fire_sat", "fire_water", "flare", "fire_artifact")
        return {**f, "fires_abs": [], "fires_ctx": [], **dict.fromkeys(singles, cloud)}

    monkeypatch.setattr(fixtures, "_features", features)
    d = str(tmp_path / "corpus")
    fixtures.build_corpus(d, n_docs=8)
    out = str(tmp_path / "out")
    runner.run_incremental(spark, d, out, nl)

    empty = "VNP.A2019213.0330"
    lin = runner.read_lineage(spark, out).toPandas().set_index("partition_key")
    assert len(lin) == 7  # 8 docs - 1 Day granule
    assert lin.at[empty, "rows_out"] == 0 and lin.at[empty, "wall_s"] > 0
    assert (lin.drop(index=empty).rows_out > 0).all()
    n_real = int(lin.rows_out.sum())

    det = spark.read.parquet(f"{out}/detections").toPandas()
    assert len(det) == n_real and (det.FP_Line >= 0).all()
    assert empty not in set(det.doc_id)
    state = spark.read.parquet(f"{out}/dedup_state").toPandas()
    assert len(state) == n_real and (state.FP_Line >= 0).all()
    man = pd.read_parquet(runner._manifest_path(out))
    assert man.rows.sum() == n_real
    assert np.isfinite(man[["lat_min", "lat_max", "lon_min", "lon_max"]].to_numpy()).all()
    assert runner.snapshots(out)[-1]["rows"] == n_real


def test_compact_detections(spark, corpus, nl, tmp_path):
    """Small-file maintenance: growing batches leave one file per batch per
    touched tile; compaction rewrites only the over-threshold tiles down to
    one file each with row content EXACTLY preserved, and the store keeps
    accepting incremental appends afterwards."""
    full_dir = corpus["dir"]
    all_docs = sorted(set(pd.read_parquet(f"{full_dir}/documents.parquet").doc_id))
    out = str(tmp_path / "out_compact")
    for keep in (all_docs[:3], all_docs[:6]):
        sub_dir = str(tmp_path / f"corpus_c{len(keep)}")
        _half_corpus(full_dir, sub_dir, set(keep))
        runner.run_incremental(spark, sub_dir, out, nl)

    before = runner.detection_file_stats(out)
    assert max(before.values()) > 1  # batches really did fragment a tile

    det_cols = spark.read.parquet(f"{out}/detections").columns
    snap = (
        spark.read.parquet(f"{out}/detections")
        .toPandas()
        .sort_values(KEY)
        .reset_index(drop=True)
    )
    res = runner.compact_detections(spark, out)
    after = runner.detection_file_stats(out)
    assert res["tiles_compacted"] == sum(1 for n in before.values() if n > 1)
    assert res["files_after"] == sum(after.values()) < res["files_before"]
    assert max(after.values()) == 1
    assert set(after) == set(before)  # no tile gained or lost

    got = (
        spark.read.parquet(f"{out}/detections")
        .select(det_cols)
        .toPandas()
        .sort_values(KEY)
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[sorted(det_cols)], snap[sorted(det_cols)])

    # the compacted store still accepts appends + reconciliation
    r = runner.run_incremental(spark, full_dir, out, nl)
    assert r["new_docs"] > 0
    assert len(spark.read.parquet(f"{out}/detections").toPandas()) > len(snap)

    # a second compact with nothing over threshold is a no-op
    res2 = runner.compact_detections(spark, out, max_files_per_tile=99)
    assert res2["tiles_compacted"] == 0


def test_compact_detections_splits_large_tiles(spark, corpus, nl, tmp_path):
    """A tile above target_rows_per_file splits into multiple bounded files
    (compaction must not manufacture unsplittable mega-files)."""
    import math

    full_dir = corpus["dir"]
    out = str(tmp_path / "out_split")
    runner.run_incremental(spark, full_dir, out, nl)
    det = spark.read.parquet(f"{out}/detections")
    counts = {r["tile_id"]: r["count"] for r in det.groupBy("tile_id").count().collect()}
    big_tile, big_n = max(counts.items(), key=lambda kv: kv[1])
    assert big_n >= 4
    # fragment the big tile (one extra appended row) so it is eligible
    det.filter(f"tile_id = '{big_tile}'").limit(1).write.mode("append").partitionBy(
        "tile_id"
    ).parquet(f"{out}/detections")
    n_rows_before = spark.read.parquet(f"{out}/detections").count()

    target = max(2, big_n // 3)  # forces >= 2 output files for the big tile
    res = runner.compact_detections(spark, out, target_rows_per_file=target)
    after = runner.detection_file_stats(out)
    assert res["tiles_compacted"] >= 1
    assert 2 <= after[big_tile] <= math.ceil((big_n + 1) / target)
    assert spark.read.parquet(f"{out}/detections").count() == n_rows_before


def test_snapshot_time_travel(spark, corpus, nl, tmp_path):
    """Each incremental commit appends a snapshot record; reading as-of an
    older run_id returns exactly the store content at that commit, and the
    membership-based snapshots survive compaction (file rewrites do not
    disturb granule-level history — the property file-based time travel
    loses on rewrite)."""
    full_dir = corpus["dir"]
    all_docs = sorted(set(pd.read_parquet(f"{full_dir}/documents.parquet").doc_id))
    out = str(tmp_path / "out_tt")
    sub_dir = str(tmp_path / "corpus_tt")
    _half_corpus(full_dir, sub_dir, set(all_docs[:4]))

    r1 = runner.run_incremental(spark, sub_dir, out, nl)
    snap1 = (
        spark.read.parquet(f"{out}/detections").toPandas().sort_values(KEY).reset_index(drop=True)
    )
    r2 = runner.run_incremental(spark, full_dir, out, nl)

    log = runner.snapshots(out)
    assert [s["seq"] for s in log] == [1, 2]
    assert log[0]["run_id"] == r1["run_id"] and log[1]["run_id"] == r2["run_id"]
    assert log[0]["docs"] + log[1]["docs"] == 7  # 8 docs - 1 Day granule
    assert log[1]["rows"] > 0

    asof1 = (
        runner.read_detections_as_of(spark, out, r1["run_id"])
        .toPandas()
        .sort_values(KEY)
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(asof1[sorted(asof1.columns)], snap1[sorted(snap1.columns)])

    asof2 = runner.read_detections_as_of(spark, out, r2["run_id"])
    assert asof2.count() == spark.read.parquet(f"{out}/detections").count() > len(snap1)

    # compaction rewrites files but not history
    runner.compact_detections(spark, out)
    asof1b = (
        runner.read_detections_as_of(spark, out, r1["run_id"])
        .toPandas()
        .sort_values(KEY)
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(asof1b[sorted(asof1b.columns)], snap1[sorted(snap1.columns)])

    with pytest.raises(ValueError, match="unknown snapshot"):
        runner.read_detections_as_of(spark, out, "nope")


def test_manifest_bbox_read(spark, corpus, nl, tmp_path):
    """The partition-stats manifest accumulates exact per-tile bounds across
    incremental commits; a bbox read equals the brute-force filter, prunes
    tiles via the manifest (not tile arithmetic), and stays correct after
    compaction rewrites the data files."""
    import os

    full_dir = corpus["dir"]
    all_docs = sorted(set(pd.read_parquet(f"{full_dir}/documents.parquet").doc_id))
    out = str(tmp_path / "out_manifest")
    sub_dir = str(tmp_path / "corpus_manifest")
    _half_corpus(full_dir, sub_dir, set(all_docs[:4]))
    runner.run_incremental(spark, sub_dir, out, nl)
    runner.run_incremental(spark, full_dir, out, nl)

    man = pd.read_parquet(runner._manifest_path(out))
    det = spark.read.parquet(f"{out}/detections").toPandas()
    # manifest bounds are exactly the store's per-tile bounds and rows
    per_tile = det.groupby("tile_id").agg(
        lat_min=("FP_Latitude", "min"), lat_max=("FP_Latitude", "max"),
        lon_min=("FP_Longitude", "min"), lon_max=("FP_Longitude", "max"),
        rows=("FP_Latitude", "size"),
    ).reset_index()
    m = man.sort_values("tile_id").reset_index(drop=True)
    p = per_tile.sort_values("tile_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(m[sorted(m.columns)], p[sorted(p.columns)], check_dtype=False)
    assert len(man) > 1

    # bbox covering only the first tile's bounds: prunes to fewer tiles and
    # matches the brute-force filter exactly
    t0 = per_tile.iloc[0]
    got = (
        runner.read_detections_bbox(
            spark, out, t0.lat_min, t0.lat_max, t0.lon_min, t0.lon_max
        )
        .toPandas()
        .sort_values(KEY)
        .reset_index(drop=True)
    )
    want = det[
        (det.FP_Latitude >= t0.lat_min) & (det.FP_Latitude <= t0.lat_max)
        & (det.FP_Longitude >= t0.lon_min) & (det.FP_Longitude <= t0.lon_max)
    ].sort_values(KEY).reset_index(drop=True)
    pd.testing.assert_frame_equal(got[sorted(got.columns)], want[sorted(want.columns)])

    # degenerate box far from all data: zero rows without reading anything
    empty = runner.read_detections_bbox(spark, out, 80.0, 81.0, 170.0, 171.0)
    assert empty.count() == 0

    # compaction preserves rows, so merge-only bounds stay valid
    runner.compact_detections(spark, out)
    got2 = (
        runner.read_detections_bbox(
            spark, out, t0.lat_min, t0.lat_max, t0.lon_min, t0.lon_max
        )
        .toPandas()
        .sort_values(KEY)
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got2[sorted(got2.columns)], want[sorted(want.columns)])
    assert os.path.exists(runner._manifest_path(out))


def test_expire_snapshots_preserves_surviving_membership(spark, corpus, nl, tmp_path):
    """Expiring old commits folds their run_ids into the base record:
    time travel to a SURVIVING snapshot still returns its exact content
    (expired runs are implicit members), travel to the expired commit
    raises, and new commits continue the sequence without collision."""
    full_dir = corpus["dir"]
    all_docs = sorted(set(pd.read_parquet(f"{full_dir}/documents.parquet").doc_id))
    out = str(tmp_path / "out_exp")
    d1 = str(tmp_path / "c1")
    d2 = str(tmp_path / "c2")
    _half_corpus(full_dir, d1, set(all_docs[:3]))
    _half_corpus(full_dir, d2, set(all_docs[:5]))
    r1 = runner.run_incremental(spark, d1, out, nl)
    r2 = runner.run_incremental(spark, d2, out, nl)
    snap2 = (
        runner.read_detections_as_of(spark, out, r2["run_id"])
        .toPandas().sort_values(KEY).reset_index(drop=True)
    )

    res = runner.expire_snapshots(out, keep_last=1)
    assert res == {"total": 2, "expired": 1}
    assert [s["run_id"] for s in runner.snapshots(out)] == [r2["run_id"]]

    # surviving snapshot content unchanged (r1's granules are base members)
    snap2b = (
        runner.read_detections_as_of(spark, out, r2["run_id"])
        .toPandas().sort_values(KEY).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(snap2b, snap2)
    with pytest.raises(ValueError, match="unknown snapshot"):
        runner.read_detections_as_of(spark, out, r1["run_id"])

    # next commit continues the sequence; repeated expiration accumulates
    r3 = runner.run_incremental(spark, full_dir, out, nl)
    seqs = [s["seq"] for s in runner.snapshots(out)]
    assert seqs == [2, 3]
    runner.expire_snapshots(out, keep_last=1)
    snap3 = (
        runner.read_detections_as_of(spark, out, r3["run_id"])
        .toPandas().sort_values(KEY).reset_index(drop=True)
    )
    full = (
        spark.read.parquet(f"{out}/detections")
        .toPandas().sort_values(KEY).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(snap3, full)


def test_delete_detections_copy_on_write(spark, corpus, nl, tmp_path):
    """Row-level DELETE: only affected tile partitions are rewritten, the
    derived dedup_state/tiles views equal a from-scratch rebuild of the
    post-delete store, the manifest stays exact, and time travel to
    pre-delete snapshots raises (copy-on-write leaves no history)."""
    from filda_spark import pipeline

    full_dir = corpus["dir"]
    all_docs = sorted(set(pd.read_parquet(f"{full_dir}/documents.parquet").doc_id))
    out = str(tmp_path / "out_delete")
    sub_dir = str(tmp_path / "corpus_del6")
    _half_corpus(full_dir, sub_dir, set(all_docs[:6]))
    r1 = runner.run_incremental(spark, sub_dir, out, nl)

    det = spark.read.parquet(f"{out}/detections")
    pre = _canon(det.toPandas())
    # a row-level predicate spanning granules: one whole doc + half of another
    docs_in = sorted(pre.doc_id.unique())
    d0, d1 = docs_in[0], docs_in[1]
    predicate = f"doc_id = '{d0}' OR (doc_id = '{d1}' AND FP_Sample % 2 = 0)"
    expect_deleted = pre[
        (pre.doc_id == d0) | ((pre.doc_id == d1) & (pre.FP_Sample % 2 == 0))
    ]
    assert len(expect_deleted) > 0

    res = runner.delete_detections(spark, out, predicate)
    assert res["rows_deleted"] == len(expect_deleted)

    post = _canon(spark.read.parquet(f"{out}/detections").toPandas())
    want = _canon(pre.drop(expect_deleted.index))
    pd.testing.assert_frame_equal(
        post[sorted(post.columns)], want[sorted(want.columns)]
    )

    # derived views == from-scratch rebuild of the post-delete store
    got = (
        runner.read_results(spark, out)["detections"]
        .select(*KEY, "is_dup", "dup_of")
        .toPandas().sort_values(KEY).reset_index(drop=True)
    )
    ref = (
        pipeline.dedup(spark.read.parquet(f"{out}/detections"))
        .select(*KEY, "is_dup", "dup_of")
        .toPandas().sort_values(KEY).reset_index(drop=True)
    )
    assert len(got) == len(ref) == len(want)
    assert (got.is_dup.to_numpy() == ref.is_dup.to_numpy()).all()
    assert (got.dup_of.to_numpy() == ref.dup_of.to_numpy()).all()
    tiles_got = (
        runner.read_results(spark, out)["tiles"]
        .toPandas().sort_values(["tile_id", "cell_r7"]).reset_index(drop=True)
    )
    tiles_ref = (
        pipeline.tiles(pipeline.dedup(spark.read.parquet(f"{out}/detections")))
        .toPandas().sort_values(["tile_id", "cell_r7"]).reset_index(drop=True)
    )
    assert tiles_got.n_fires.tolist() == tiles_ref.n_fires.tolist()
    assert np.allclose(tiles_got.total_frp, tiles_ref.total_frp, equal_nan=True)

    # manifest row counts stay exact for the rewritten tiles
    man = pd.read_parquet(runner._manifest_path(out))
    store_counts = (
        spark.read.parquet(f"{out}/detections").groupBy("tile_id").count().toPandas()
    )
    man_counts = man.set_index("tile_id")["rows"].to_dict()
    for _, row in store_counts.iterrows():
        assert man_counts[row.tile_id] == row["count"]

    # pre-delete snapshots are poisoned; post-delete commits time-travel fine
    log = runner.snapshots(out)
    assert log[-1].get("delete") is True
    assert log[-1]["rows"] == -len(expect_deleted)
    with pytest.raises(ValueError, match="predates a row-level delete"):
        runner.read_detections_as_of(spark, out, r1["run_id"])
    r2 = runner.run_incremental(spark, full_dir, out, nl)
    assert r2["new_docs"] > 0
    asof = _canon(runner.read_detections_as_of(spark, out, r2["run_id"]).toPandas())
    now = _canon(spark.read.parquet(f"{out}/detections").toPandas())
    pd.testing.assert_frame_equal(asof[sorted(asof.columns)], now[sorted(now.columns)])

    # deleting rows of an already-deleted predicate is a no-op (no commit)
    n_log = len(runner.snapshots(out))
    res2 = runner.delete_detections(spark, out, f"doc_id = '{d0}'")
    assert res2 == {"rows_deleted": 0, "tiles_rewritten": 0, "tiles_emptied": 0}
    assert len(runner.snapshots(out)) == n_log


def test_delete_detections_empties_tile(spark, corpus, nl, tmp_path):
    """Deleting every row of a tile drops its data/state/tiles partitions
    and its manifest row; bbox reads over the region return nothing."""
    from filda_spark import pipeline

    full_dir = corpus["dir"]
    out = str(tmp_path / "out_delete_tile")
    runner.run_incremental(spark, full_dir, out, nl)
    counts = (
        spark.read.parquet(f"{out}/detections").groupBy("tile_id").count().toPandas()
    )
    t = counts.sort_values("count").iloc[0].tile_id
    res = runner.delete_detections(spark, out, f"tile_id = '{t}'")
    assert res["tiles_emptied"] == 1
    import os as _os

    assert not _os.path.isdir(f"{out}/detections/tile_id={t}")
    assert not _os.path.isdir(f"{out}/dedup_state/tile_id={t}")
    assert not _os.path.isdir(f"{out}/tiles/tile_id={t}")
    man = pd.read_parquet(runner._manifest_path(out))
    assert t not in set(man.tile_id)
    assert t not in set(
        r.tile_id
        for r in spark.read.parquet(f"{out}/detections").select("tile_id").distinct().collect()
    )
    # views still equal a from-scratch rebuild
    got = (
        runner.read_results(spark, out)["detections"]
        .select(*KEY, "is_dup").toPandas().sort_values(KEY).reset_index(drop=True)
    )
    ref = (
        pipeline.dedup(spark.read.parquet(f"{out}/detections"))
        .select(*KEY, "is_dup").toPandas().sort_values(KEY).reset_index(drop=True)
    )
    assert (got.is_dup.to_numpy() == ref.is_dup.to_numpy()).all()


def test_remove_orphan_files(tmp_path):
    """Orphan collection removes aged staging debris, job-attempt dirs and
    atomic-replace leftovers — and nothing else; fresh debris (a running
    job) survives the grace period."""
    import os as _os
    import time as _time

    out = str(tmp_path / "store")
    old = _time.time() - 7200
    # committed data that must survive
    _os.makedirs(f"{out}/detections/tile_id=h10v04")
    open(f"{out}/detections/tile_id=h10v04/part-0.parquet", "w").write("x")
    _os.makedirs(f"{out}/_manifest")
    open(f"{out}/_manifest/partition_stats.parquet", "w").write("x")
    # orphans: aged stage dir, _temporary job dir, tmp metadata files
    _os.makedirs(f"{out}/_stage/delete_dead")
    open(f"{out}/_stage/delete_dead/part-0.parquet", "w").write("x")
    _os.makedirs(f"{out}/detections/tile_id=h10v04/_temporary/0")
    open(f"{out}/_manifest/partition_stats.parquet.tmp-abcd1234", "w").write("x")
    # a FRESH stage dir (concurrent run) that must survive
    _os.makedirs(f"{out}/_stage/delete_live")
    for p in (
        f"{out}/_stage/delete_dead",
        f"{out}/_stage/delete_dead/part-0.parquet",
        f"{out}/detections/tile_id=h10v04/_temporary",
        f"{out}/detections/tile_id=h10v04/_temporary/0",
        f"{out}/_manifest/partition_stats.parquet.tmp-abcd1234",
    ):
        _os.utime(p, (old, old))
    # a stage dir with an OLD root but a FRESH leaf (a long-running staged
    # write still appending files) must survive: aging is judged by the
    # NEWEST entry in the tree, not the root mtime
    _os.makedirs(f"{out}/_stage/delete_slow")
    open(f"{out}/_stage/delete_slow/part-0.parquet", "w").write("x")
    _os.utime(f"{out}/_stage/delete_slow", (old, old))

    dry = runner.remove_orphan_files(out, dry_run=True)
    assert dry["removed"] == 0 and len(dry["orphans"]) == 3
    assert _os.path.isdir(f"{out}/_stage/delete_dead")

    res = runner.remove_orphan_files(out)
    assert res["removed"] == 3
    assert not _os.path.isdir(f"{out}/_stage/delete_dead")
    assert not _os.path.isdir(f"{out}/detections/tile_id=h10v04/_temporary")
    assert not _os.path.exists(f"{out}/_manifest/partition_stats.parquet.tmp-abcd1234")
    assert _os.path.isdir(f"{out}/_stage/delete_live")
    assert _os.path.isdir(f"{out}/_stage/delete_slow")
    assert _os.path.exists(f"{out}/detections/tile_id=h10v04/part-0.parquet")
    assert _os.path.exists(f"{out}/_manifest/partition_stats.parquet")


def test_reprocess_granules_replaces_rows_exactly(spark, corpus, nl, tmp_path):
    """Backfill: reprocessing a granule set over an unchanged corpus must
    reproduce the store bit-for-bit (delete + re-detect is deterministic),
    re-run lineage under a fresh run_id, and leave views rebuild-exact."""
    from filda_spark import pipeline

    full_dir = corpus["dir"]
    out = str(tmp_path / "out_reproc")
    r1 = runner.run_incremental(spark, full_dir, out, nl)
    pre = _canon(spark.read.parquet(f"{out}/detections").toPandas())
    docs = sorted(pre.doc_id.unique())[:2]

    res = runner.reprocess_granules(spark, full_dir, out, docs, nl)
    assert res["reprocessed"] == 2
    assert res["run"]["new_docs"] == 2  # exactly the cleared granules

    post = _canon(spark.read.parquet(f"{out}/detections").toPandas())
    assert len(post) == len(pre)
    for c in pre.columns:
        av, bv = pre[c].to_numpy(), post[c].to_numpy()
        if av.dtype.kind == "f":
            assert np.array_equal(av, bv, equal_nan=True), c
        else:
            assert (pd.Series(av).astype(str) == pd.Series(bv).astype(str)).all(), c

    lin = runner.read_lineage(spark, out).toPandas()
    redone = lin[lin.partition_key.isin(docs)]
    assert set(redone.run_id) == {res["run"]["run_id"]}
    assert set(redone.run_id) != {r1["run_id"]}
    assert lin.partition_key.nunique() == pre.doc_id.nunique()

    got = (
        runner.read_results(spark, out)["detections"]
        .select(*KEY, "is_dup").toPandas().sort_values(KEY).reset_index(drop=True)
    )
    ref = (
        pipeline.dedup(spark.read.parquet(f"{out}/detections"))
        .select(*KEY, "is_dup").toPandas().sort_values(KEY).reset_index(drop=True)
    )
    assert (got.is_dup.to_numpy() == ref.is_dup.to_numpy()).all()


def test_delete_detections_null_predicate_rows_survive(spark, corpus, nl, tmp_path):
    """Three-valued logic: DELETE removes rows where the predicate is TRUE;
    NULL-predicate rows must survive (and must not be silently dropped
    without a state scrub)."""
    from filda_spark import pipeline

    out = str(tmp_path / "out_delete_null")
    runner.run_incremental(spark, corpus["dir"], out, nl)
    pre = _canon(spark.read.parquet(f"{out}/detections").toPandas())
    # TRUE for even FP_Sample, NULL (not FALSE) for odd
    predicate = "CASE WHEN FP_Sample % 2 = 0 THEN TRUE ELSE CAST(NULL AS BOOLEAN) END"
    n_even = int((pre.FP_Sample % 2 == 0).sum())
    res = runner.delete_detections(spark, out, predicate)
    assert res["rows_deleted"] == n_even

    post = _canon(spark.read.parquet(f"{out}/detections").toPandas())
    want = _canon(pre[pre.FP_Sample % 2 != 0])
    assert len(post) == len(want) > 0
    assert post.FP_Sample.tolist() == want.FP_Sample.tolist()

    # every surviving row still has exactly one state row; no deleted key left
    state = spark.read.parquet(f"{out}/dedup_state").toPandas()
    assert len(state) == len(post)
    got = (
        runner.read_results(spark, out)["detections"]
        .select(*KEY, "is_dup").toPandas().sort_values(KEY).reset_index(drop=True)
    )
    ref = (
        pipeline.dedup(spark.read.parquet(f"{out}/detections"))
        .select(*KEY, "is_dup").toPandas().sort_values(KEY).reset_index(drop=True)
    )
    assert (got.is_dup.to_numpy() == ref.is_dup.to_numpy()).all()


def test_delete_detections_whole_store(spark, corpus, nl, tmp_path):
    """Deleting every row must not crash mid-operation: all data/state/tiles
    partitions are dropped, the manifest empties, and the delete commit is
    still recorded (so pre-delete time travel raises instead of lying)."""
    out = str(tmp_path / "out_delete_all")
    r1 = runner.run_incremental(spark, corpus["dir"], out, nl)
    res = runner.delete_detections(spark, out, "TRUE")
    assert res["rows_deleted"] > 0
    assert res["tiles_rewritten"] == 0
    assert runner.detection_file_stats(out) == {}
    import os as _os

    for table in ("dedup_state", "tiles"):
        root = f"{out}/{table}"
        tiles_left = [d for d in _os.listdir(root) if d.startswith("tile_id=")] if _os.path.isdir(root) else []
        assert tiles_left == []
    man = pd.read_parquet(runner._manifest_path(out))
    assert len(man) == 0
    assert runner.snapshots(out)[-1].get("delete") is True
    with pytest.raises(ValueError, match="predates a row-level delete"):
        runner.read_detections_as_of(spark, out, r1["run_id"])


def test_commit_folds_orphaned_lineage_runs(spark, corpus, nl, tmp_path):
    """A crash between the lineage append and the snapshot commit leaves a
    run marked done (never re-landed) but in no snapshot; the NEXT commit
    must fold it in (also_runs) so time travel matches the store again."""
    full_dir = corpus["dir"]
    all_docs = sorted(set(pd.read_parquet(f"{full_dir}/documents.parquet").doc_id))
    out = str(tmp_path / "out_orphan_run")
    sub1 = str(tmp_path / "c_or3"); _half_corpus(full_dir, sub1, set(all_docs[:3]))
    sub2 = str(tmp_path / "c_or6"); _half_corpus(full_dir, sub2, set(all_docs[:6]))
    runner.run_incremental(spark, sub1, out, nl)
    r2 = runner.run_incremental(spark, sub2, out, nl)

    # simulate the crash: drop r2's commit record (lineage + data remain)
    log_path = runner._snap_log(out)
    lines = open(log_path).read().splitlines()
    import json as _json

    kept = [l for l in lines if _json.loads(l)["run_id"] != r2["run_id"]]
    assert len(kept) == len(lines) - 1
    open(log_path, "w").write("\n".join(kept) + "\n")

    r3 = runner.run_incremental(spark, full_dir, out, nl)
    assert r3["new_docs"] > 0  # the orphaned granules are NOT re-landed
    rec = runner.snapshots(out)[-1]
    assert rec["run_id"] == r3["run_id"]
    assert rec.get("also_runs") == [r2["run_id"]]

    asof = _canon(runner.read_detections_as_of(spark, out, r3["run_id"]).toPandas())
    full = _canon(spark.read.parquet(f"{out}/detections").toPandas())
    pd.testing.assert_frame_equal(asof[sorted(asof.columns)], full[sorted(full.columns)])


def test_expire_snapshots_keep_last_zero(spark, corpus, nl, tmp_path):
    """keep_last=0 must expire the whole history (the snaps[:-0] slice bug
    made it a silent no-op) and the next commit must continue the sequence
    instead of restarting at 1."""
    full_dir = corpus["dir"]
    all_docs = sorted(set(pd.read_parquet(f"{full_dir}/documents.parquet").doc_id))
    out = str(tmp_path / "out_expire0")
    sub1 = str(tmp_path / "c_e0"); _half_corpus(full_dir, sub1, set(all_docs[:3]))
    r1 = runner.run_incremental(spark, sub1, out, nl)
    res = runner.expire_snapshots(out, keep_last=0)
    assert res == {"total": 1, "expired": 1}
    assert runner.snapshots(out) == []
    with pytest.raises(ValueError, match="unknown snapshot"):
        runner.read_detections_as_of(spark, out, r1["run_id"])

    r2 = runner.run_incremental(spark, full_dir, out, nl)
    assert [s["seq"] for s in runner.snapshots(out)] == [2]
    asof = _canon(runner.read_detections_as_of(spark, out, r2["run_id"]).toPandas())
    full = _canon(spark.read.parquet(f"{out}/detections").toPandas())
    pd.testing.assert_frame_equal(asof[sorted(asof.columns)], full[sorted(full.columns)])


def test_zorder_detections(spark, corpus, nl, tmp_path):
    """Z-order clustering rewrite: row content EXACTLY preserved, every
    output file internally sorted by the Morton key, and fixed-size row
    chunks (stand-ins for parquet row groups) get tighter spatial bounds
    than the append-order layout — the property that makes
    read_detections_bbox skip row groups."""
    import glob

    import numpy as np

    full_dir = corpus["dir"]
    out = str(tmp_path / "out_zorder")
    runner.run_incremental(spark, full_dir, out, nl)

    det_cols = spark.read.parquet(f"{out}/detections").columns
    snap = (
        spark.read.parquet(f"{out}/detections")
        .toPandas()
        .sort_values(KEY)
        .reset_index(drop=True)
    )

    def morton_np(lat, lon, bits=16):
        scale = (1 << bits) - 1
        qla = np.clip(np.floor((lat + 90.0) / 180.0 * scale), 0, scale).astype(np.int64)
        qlo = np.clip(np.floor((lon + 180.0) / 360.0 * scale), 0, scale).astype(np.int64)
        out_ = np.zeros_like(qla)
        for i in range(bits):
            out_ |= ((qla >> i) & 1) << (2 * i + 1)
            out_ |= ((qlo >> i) & 1) << (2 * i)
        return out_

    def chunk_area(files, chunk=64):
        areas = []
        for f in files:
            df = pd.read_parquet(f, columns=["FP_Latitude", "FP_Longitude"])
            for s in range(0, len(df), chunk):
                c = df.iloc[s : s + chunk]
                if len(c) >= 8:
                    areas.append(
                        (c.FP_Latitude.max() - c.FP_Latitude.min())
                        * (c.FP_Longitude.max() - c.FP_Longitude.min())
                    )
        return float(np.mean(areas)) if areas else 0.0

    files_before = sorted(glob.glob(f"{out}/detections/tile_id=*/*.parquet"))
    area_before = chunk_area(files_before)

    res = runner.zorder_detections(spark, out)
    assert res["tiles_zordered"] == res["tiles_total"] > 0

    files_after = sorted(glob.glob(f"{out}/detections/tile_id=*/*.parquet"))
    got = (
        spark.read.parquet(f"{out}/detections")
        .select(det_cols)
        .toPandas()
        .sort_values(KEY)
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[sorted(det_cols)], snap[sorted(det_cols)])

    # every file internally z-sorted
    for f in files_after:
        df = pd.read_parquet(f, columns=["FP_Latitude", "FP_Longitude"])
        zk = morton_np(df.FP_Latitude.to_numpy(), df.FP_Longitude.to_numpy())
        assert (np.diff(zk) >= 0).all(), f

    # spatial chunk bounds no looser than append order (and typically tighter)
    area_after = chunk_area(files_after)
    assert area_after <= area_before * 1.05, (area_after, area_before)

    # the store still accepts appends afterwards
    r = runner.run_incremental(spark, full_dir, out, nl)
    assert r["new_docs"] == 0  # idempotent on an unchanged corpus
