"""The incremental reconcile's building blocks against their references:
the cell-bucketed dominator kernel (spatial.knn_dedup_cells_np) must equal
the O(n^2) oracle spatial.knn_dedup_np exactly, and the driver-side numpy
ring helpers (grids *_np, runner._expand_cells) must equal the Spark
column expressions they replaced."""

import numpy as np
import pandas as pd
import pytest

from filda_spark import grids, pipeline, runner, spatial

EPS = spatial.DEDUP_EPS_DEG


def _cluster(rng, n, lat0, lon0):
    """``n`` points within a few eps of (lat0, lon0) (longitude spread
    scaled by 1/cos(lat) so high-latitude clusters stay within reach),
    four docs, FP_Power drawn from a small set with NaN so equal and
    NaN powers meet across docs."""
    stretch = 1.0 / max(np.cos(np.radians(lat0)), 0.02)
    lat = np.clip(lat0 + rng.uniform(-3 * EPS, 3 * EPS, n), -90.0, 90.0)
    lon = lon0 + rng.uniform(-3 * EPS, 3 * EPS, n) * stretch
    return dict(
        doc_id=rng.choice(np.array(["g1", "g2", "g3", "g4"], dtype=object), n),
        lat=lat,
        lon=lon,
        power=rng.choice(np.array([1.0, 2.0, 2.0, np.nan, 7.5]), n),
        line=rng.integers(0, 40, n),
        sample=rng.integers(0, 40, n),
    )


def _boundary_pairs(lat0, lon0):
    """Pairs of different docs at (numerically) exactly eps apart, in
    latitude and in corrected longitude, plus one ulp-step either side, and
    same-doc neighbors at zero distance with higher power."""
    rows = []
    coslat = np.cos(np.radians(lat0))
    for k, step in enumerate((-2, -1, 0, 1, 2)):
        d = EPS * (1.0 + step * 2.0**-52)
        rows.append(("b1", lat0, lon0 + 0.5 * k, 3.0, k, 0))
        rows.append(("b2", lat0 + d, lon0 + 0.5 * k, 5.0, k, 1))
        rows.append(("b3", lat0 + 0.1, lon0 + 0.5 * k, 3.0, k, 2))
        rows.append(("b4", lat0 + 0.1, lon0 + 0.5 * k + d / coslat, 5.0, k, 3))
    rows.append(("b5", lat0 - 0.2, lon0, 1.0, 0, 0))
    rows.append(("b5", lat0 - 0.2, lon0, 9.0, 0, 1))  # same doc: never dominates
    doc, lat, lon, power, line, sample = map(np.array, zip(*rows))
    return dict(doc_id=doc.astype(object), lat=lat, lon=lon, power=power, line=line, sample=sample)


def _both(p, query=None):
    args = (p["doc_id"], p["lat"], p["lon"], p["power"], p["line"], p["sample"])
    return spatial.knn_dedup_np(*args), spatial.knn_dedup_cells_np(*args, query=query)


@pytest.mark.parametrize("seed", range(8))
def test_cells_kernel_equals_oracle(seed):
    rng = np.random.default_rng(seed)
    centers = [(0.0, 0.0), (37.5, -120.25), (84.0, 15.0), (-84.0, 179.99), (9.999, 19.999)]
    parts = [_cluster(rng, int(rng.integers(20, 90)), la, lo) for la, lo in centers]
    parts += [_boundary_pairs(84.0, 40.0), _boundary_pairs(-30.0, 100.0)]
    p = {k: np.concatenate([q[k] for q in parts]) for k in parts[0]}
    (want_dup, want_of), (got_dup, got_of) = _both(p)
    assert want_dup.sum() > 10  # the sets really contain duplicates
    assert got_dup.tolist() == want_dup.tolist()
    assert got_of.tolist() == want_of.tolist()

    # a query subset gets the same verdicts as in the full answer
    q = rng.random(want_dup.size) < 0.3
    _, (sub_dup, sub_of) = _both(p, query=q)
    assert sub_dup.tolist() == want_dup[q].tolist()
    assert sub_of.tolist() == want_of[q].tolist()


def test_cells_kernel_boundary_and_same_doc():
    p = _boundary_pairs(84.0, 40.0)
    (want_dup, want_of), (got_dup, got_of) = _both(p)
    assert got_dup.tolist() == want_dup.tolist()
    assert got_of.tolist() == want_of.tolist()
    # the higher-power same-doc neighbor never demotes its sibling
    same_doc = p["doc_id"] == "b5"
    assert not got_dup[same_doc].any()


def test_cells_kernel_empty_query():
    p = _boundary_pairs(0.0, 0.0)
    _, (dup, of) = _both(p, query=np.zeros(p["lat"].size, dtype=bool))
    assert dup.size == of.size == 0


def test_numpy_rings_equal_spark_rings(spark):
    """Ring and tile helpers on random cells (polar rows and the
    antimeridian included) equal the Spark expressions: cell_encode,
    lon_ring_halfwidth, cell_kring_dyn, pc_tile_name, and runner's
    _expand_cells against the kRing of the cell-centre latitude. The ids
    the detect kernel stores (spatial.encode_cells_np: cell_r7..r9,
    tile_id) equal cell_encode/pc_tile_name too, as the reconcile still
    derives its cells and partner tiles in Spark."""
    from pyspark.sql import functions as F

    rng = np.random.default_rng(5)
    lvl = pipeline.DEDUP_CELL_LEVEL
    lat = np.r_[rng.uniform(-90, 90, 300), rng.uniform(84, 90, 40), rng.uniform(-90, -84, 40),
                [90.0, -90.0, 89.9999, 0.0, 10.0, -10.0]]
    lon = np.r_[rng.uniform(-180, 180, 380), [180.0, -180.0, 179.99999, -179.99999, 0.0, 10.0]]
    lon[::7] = rng.choice([-180.0, 179.9999, -179.995, 180.0], lon[::7].size)
    cells = grids.cell_encode_np(lat, lon, lvl)
    df = spark.createDataFrame(pd.DataFrame(dict(lat=lat, lon=lon, cell=cells)))

    cell = F.col("cell")
    x, y = grids.cell_xy(cell)
    n = F.lit(float(1 << lvl))
    center = F.lit(90.0) - (y.cast("double") + F.lit(0.5)) / n * F.lit(180.0)
    ring_lat = F.abs(center) + F.lit(180.0 / (1 << lvl) / 2.0)
    kx_row = grids.lon_ring_halfwidth(F.col("lat"), EPS, lvl)
    kx_cell = grids.lon_ring_halfwidth(ring_lat, EPS, lvl)
    got = df.select(
        grids.cell_encode(F.col("lat"), F.col("lon"), lvl).alias("cell_s"),
        kx_row.alias("kx_row"),
        F.array_sort(grids.cell_kring_dyn(cell, kx_row)).alias("ring_row"),
        F.array_sort(grids.cell_kring_dyn(cell, kx_cell)).alias("ring_cell"),
        grids.pc_tile_name(F.col("lat"), F.col("lon")).alias("tile"),
        *(grids.cell_encode(F.col("lat"), F.col("lon"), r).alias(f"cell_r{i}")
          for i, r in ((7, grids.LEVEL_R7), (8, grids.LEVEL_R8), (9, grids.LEVEL_R9))),
    ).toPandas()

    assert got.cell_s.tolist() == cells.tolist()
    kx_np = grids.lon_ring_halfwidth_np(lat, EPS, lvl)
    assert got.kx_row.tolist() == kx_np.tolist()
    assert got.tile.tolist() == grids.pc_tile_name_np(lat, lon).tolist()
    enc = spatial.encode_cells_np({"FP_Latitude": lat, "FP_Longitude": lon})
    for c in ("cell_r7", "cell_r8", "cell_r9"):
        assert enc[c].tolist() == got[c].tolist(), c
    assert enc["tile_id"].tolist() == got.tile.tolist()
    for i, c in enumerate(cells):
        ring = grids.cell_kring_dyn_np([c], [kx_np[i]])
        assert sorted(ring.tolist()) == list(got.ring_row[i]), (lat[i], lon[i])
        assert runner._expand_cells(np.array([c])).tolist() == sorted(set(got.ring_cell[i]))
    # the set-level expansion is the union of the per-cell rings
    union = sorted({v for r in got.ring_cell for v in r})
    assert runner._expand_cells(cells).tolist() == union


def test_corner_tiles_cover_cells():
    """Every point of a cell lies in one of the cell's candidate tiles,
    including cells straddling a 10-deg tile edge."""
    rng = np.random.default_rng(9)
    lvl = pipeline.DEDUP_CELL_LEVEL
    lat = np.r_[rng.uniform(-89, 89, 200), [10.0, 9.99999, -10.0, 0.0]]
    lon = np.r_[rng.uniform(-179, 179, 200), [20.0, 19.99999, 0.0, -0.000001]]
    cells = grids.cell_encode_np(lat, lon, lvl)
    h = 180.0 / (1 << lvl)
    for c, la, lo in zip(cells, lat, lon):
        tiles = set(grids.cell_corner_tiles_np([c]).tolist())
        for dla in (-h / 3, 0.0, h / 3):
            for dlo in (-h / 3, 0.0, h / 3):
                if grids.cell_encode_np([la + dla], [lo + dlo], lvl)[0] == c:
                    assert grids.pc_tile_name_np([la + dla], [lo + dlo])[0] in tiles
