"""Deterministic synthetic VIIRS-like corpus generator (FIXTURES.md §1-§3).

Produces the engine's primary input exactly in the driver `input_hint` shape:

- ``documents``: (doc_id string, spans array<struct<kind,text,media_ref,offset>>)
  — one row per granule scene; span 0 = header JSON, span 1 = band inventory
  JSON, spans 2.. = media spans referencing raster blocks.
- ``media``: (media_ref string, doc_id string, var string, shape array<int>,
  dtype string, data binary) — raster payloads (float32/uint8 C-order bytes).
  At scale this table is bucketed by doc_id so one granule decodes within one
  task; at test scale it's a plain parquet.
- ancillary broadcast tables: NTL climatology tiles, GEOS-FP surface
  temperature, infrared LUT, DNB resample LUT, pixel-area LUT, bowtie overlap,
  land cover (sinusoidal cells), peatland (Plate-Carree cells), gas-flare and
  land/water polygons.

All content is seeded from the doc_id (sha256), no external data. Planted
content per granule mirrors FIXTURES.md §1: absolute fires, contextual fires,
a saturated fire, a water-strip + ocean fire, cloud rectangles, a bright-city
patch, a gas-flare site. Docs 4..7 are second-overpass re-observations of
docs 0..3 (slightly shifted geolocation) so cross-granule kNN dedup has real
duplicate pairs to find.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd

from filda_spark import codecs, kernels, multimodal, netcdf3
from filda_spark.namelist import LAMBDA_UM

# test-scale granule geometry (FIXTURES.md §5): M 64x80, I 128x160,
# 16-row scan structure preserved (4 scans).
H_M, W_M = 64, 80
DNB_PAD = 8  # raw DNB grid is (H_M, W_M + DNB_PAD), offset mapping
D_DEG = 0.01  # M-pixel spacing in degrees
NTL_CELLS = 240  # downscaled from the reference 2400 (FIXTURES.md: broadcast-sized)

M_BANDS = ("M07", "M08", "M10", "M11", "M12", "M13", "M14", "M15", "M16")


def _seed(doc_id: str) -> int:
    return int.from_bytes(hashlib.sha256(doc_id.encode()).digest()[:8], "big")


def corpus_doc_params(n_docs: int = 8, extra_fires: int = 0):
    """Deterministic per-doc placement; within each generation of 8, docs
    p+4 re-observe docs p (slightly shifted). Generations beyond the first
    (n_docs > 8) shift north-east with distinct overpass ids.

    ``extra_fires`` plants additional contextual fires on a grid (bench
    corpora: raises per-granule kernel CPU to the reference's fitting-bound
    profile). Skew per FIXTURES.md §5: pair-0 granules (one H3 parent
    neighborhood) carry ~90% of the extra fires — hotspot skew for the
    dedup shuffle."""
    out = []
    for k in range(n_docs):
        gen = k // 8
        kk = k % 8
        pair = kk % 4
        second = kk >= 4
        lat0 = 40.0 - 17.0 * pair + (0.003 if second else 0.0) + 0.9 * gen
        lon0 = -100.0 + 10.0 * pair + (0.004 if second else 0.0) + 1.1 * gen
        # firsts occupy even hundreds (2xx, 4xx, ...), seconds odd (3xx, 5xx)
        # so doc_ids stay unique across generations
        base = (312 if second else 200) + 200 * gen
        overpass = f"{base + 6 * pair:04d}"
        day = pair == 3 and not second and gen == 0  # one Day granule overall
        n_extra = extra_fires if pair == 0 else extra_fires // 10
        out.append(
            dict(
                doc_id=f"VNP.A2019213.{overpass}",
                sat="VNP",
                jdn="A2019213",
                overpass=overpass,
                lat0=lat0,
                lon0=lon0,
                day=day,
                pair=pair,
                extra_fires=n_extra,
            )
        )
    return out


# planted feature geometry in M-grid coordinates (jittered per pair)
def _features(pair: int) -> dict:
    di, dj = pair % 3, (2 * pair) % 5
    return dict(
        cloud_rect=(5 + di, 15 + di, 5 + dj, 20 + dj),  # r0, r1, c0, c1
        water_cols=(64, 71),
        lake67=(58 + di, 61 + di, 10 + dj, 13 + dj),  # lwm=6/7 patch
        city=(40 + di, 47 + di, 30 + dj, 37 + dj),
        fires_abs=[(25 + di, 10 + dj), (50 + di, 40 + dj)],
        fires_ctx=[(30 + di, 50 + dj), (55 + di, 12 + dj)],
        fire_sat=(40 + di, 25 + dj),
        fire_water=(20 + di, 67),
        flare=(12 + di, 55 + dj),
        # hot in I04 but nearly background-level in M13: inside the SAA rect
        # this is exactly the radiation-hit signature check_saa_2 screens
        fire_artifact=(35 + di, 45 + dj),
    )


def make_granule(p: dict) -> tuple[dict, dict]:
    """Build one granule's raw media arrays + header dicts (pre-decode)."""
    rng = np.random.default_rng(_seed(p["doc_id"]))
    f = _features(p["pair"])
    lat = p["lat0"] - np.arange(H_M)[:, None] * D_DEG + np.zeros((1, W_M))
    lon = p["lon0"] + np.arange(W_M)[None, :] * D_DEG + np.zeros((H_M, 1))

    lwm = np.ones((H_M, W_M), dtype=np.uint8)
    lwm[:, f["water_cols"][0] : f["water_cols"][1]] = 0
    r0, r1, c0, c1 = f["lake67"]
    lwm[r0:r1, c0:c1] = 6
    lwm[r0 + 3 : r1 + 3, c0:c1] = 7

    sza = np.full((H_M, W_M), 80.0 if p["day"] else 101.0)
    sza += np.arange(W_M)[None, :] * 0.01
    if p["pair"] == 1 and not p["day"]:
        sza[:, 10:20] = 94.0  # twilight strip (covers a ctx fire) -> VE correction path

    # surface temperature field -> emissive radiances
    t_land = 295.0 + rng.normal(0.0, 1.5, (H_M, W_M))
    t_ocean = 287.0 + rng.normal(0.0, 0.5, (H_M, W_M))
    t_m = np.where(lwm == 1, t_land, t_ocean)
    r0, r1, c0, c1 = f["cloud_rect"]
    t_m[r0:r1, c0:c1] = 230.0 + rng.normal(0.0, 1.0, (r1 - r0, c1 - c0))

    g: dict[str, np.ndarray] = {}
    for b in M_BANDS:
        g[f"{b}_rad"] = kernels.planck_rad(LAMBDA_UM[b], t_m).astype(np.float32)

    # I-band temperature: replicate + fine noise; I05 tracks I04 (BTD ~ 0)
    t_i = kernels.upsample_m_to_i(t_m) + rng.normal(0.0, 0.4, (2 * H_M, 2 * W_M))
    t_i5 = t_i + rng.normal(0.0, 0.2, t_i.shape)
    i04qf = np.zeros((2 * H_M, 2 * W_M), dtype=np.uint8)
    i05qf = np.zeros((2 * H_M, 2 * W_M), dtype=np.uint8)

    # --- plant fires (I-grid 2x2 blocks at the M-host pixel) ---
    def plant(mi, mj, t04, dt_btd, m13_boost, qf4=False):
        li, lj = 2 * mi, 2 * mj
        t_i[li : li + 2, lj : lj + 2] = t04
        t_i5[li : li + 2, lj : lj + 2] = t04 - dt_btd
        if qf4:
            i04qf[li : li + 2, lj : lj + 2] = 4
        g["M13_rad"][mi, mj] = kernels.planck_rad(LAMBDA_UM["M13"], t_m[mi, mj] + m13_boost)
        g["M12_rad"][mi, mj] = kernels.planck_rad(LAMBDA_UM["M12"], t_m[mi, mj] + m13_boost * 0.8)
        g["M11_rad"][mi, mj] = kernels.planck_rad(LAMBDA_UM["M11"], t_m[mi, mj] + m13_boost * 0.5)

    for mi, mj in f["fires_abs"]:
        plant(mi, mj, 345.0 + rng.uniform(0, 10), 25.0, 35.0)
    for mi, mj in f["fires_ctx"]:
        plant(mi, mj, 311.0 + rng.uniform(0, 2), 13.0, 18.0)
    mi, mj = f["fire_sat"]
    plant(mi, mj, 360.0, 30.0, 45.0, qf4=True)
    mi, mj = f["fire_water"]
    plant(mi, mj, 305.0 + rng.uniform(0, 2), 14.0, 16.0)
    mi, mj = f["flare"]
    plant(mi, mj, 330.0, 20.0, 28.0)
    # weak M11/M13 anomaly (<<10 K over background+3sigma) -> the SAA screen
    # flags it inside the rect; boost stays above the low-quartile FRP
    # background so the detection itself survives
    mi, mj = f["fire_artifact"]
    plant(mi, mj, 340.0, 22.0, 3.0)

    # extra grid-planted contextual fires (bench CPU-density + hotspot skew)
    extra_positions = []
    n_extra = p.get("extra_fires", 0)
    if n_extra:
        for r in range(8, H_M - 2, 5):
            for c in range(2, min(60, W_M) - 2, 5):
                extra_positions.append((r, c))
                if len(extra_positions) >= n_extra:
                    break
            if len(extra_positions) >= n_extra:
                break
        for mi, mj in extra_positions:
            plant(mi, mj, 311.5 + rng.uniform(0, 2), 13.0, 18.0)

    g["I04_rad"] = kernels.planck_rad(LAMBDA_UM["I04"], t_i).astype(np.float32)
    g["I05_rad"] = kernels.planck_rad(LAMBDA_UM["I05"], t_i5).astype(np.float32)
    g["I04_quality_flags"] = i04qf
    g["I05_quality_flags"] = i05qf
    # a few invalid pixels exercise QF>=128 nulling
    bad = rng.integers(0, 2 * H_M * 2 * W_M, 5)
    g["I05_quality_flags"].ravel()[bad] = 128

    # --- raw DNB grid + planted light sources ---
    dnb_raw = np.abs(rng.normal(0.5, 0.2, (H_M, W_M + DNB_PAD))).astype(np.float32)
    r0, r1, c0, c1 = f["city"]
    dnb_raw[r0:r1, c0 + 2 : c1 + 2] = 40.0  # +2 = raw-grid offset of the LUT
    for mi, mj in f["fires_abs"] + f["fires_ctx"] + [f["fire_sat"], f["fire_water"], f["flare"]]:
        dnb_raw[mi, mj + 2 : mj + 4] = 25.0 + rng.uniform(0, 5)
    g["DNB_raw"] = dnb_raw
    dnbqf = np.zeros_like(dnb_raw, dtype=np.uint8)
    dnbqf.ravel()[rng.integers(0, dnb_raw.size, 4)] = 128
    g["DNB_quality_flags"] = dnbqf
    g["M13_quality_flags"] = np.zeros((H_M, W_M), dtype=np.uint8)

    g["latitude"] = lat.astype(np.float32)
    g["longitude"] = lon.astype(np.float32)
    g["land_water_mask"] = lwm
    g["solar_zenith"] = sza.astype(np.float32)
    # across-track view zenith: 0 at nadir (centre column) to ~60 deg at edge
    vza = np.abs(np.arange(W_M)[None, :] - W_M / 2) / (W_M / 2) * 60.0
    g["sensor_zenith"] = (vza * np.ones((H_M, 1))).astype(np.float32)
    # azimuth flips across nadir (deterministic; carried onto the 750 m
    # product as Sensor_Azimuth, FILDA.py:1966-1967)
    az = np.where(np.arange(W_M)[None, :] < W_M / 2, 98.5, -81.5) + 0.01 * np.arange(H_M)[:, None]
    g["sensor_azimuth"] = az.astype(np.float32)

    # --- fake raw-video track (multimodal frame_sample plumbing): 6 frames
    # of a coarse DNB-like scene evolving deterministically per frame; an
    # uncompressed stand-in for the compressed-video codec seam
    rng_v = np.random.default_rng(7000 + p["pair"] * 7 + (1 if p["day"] else 0))
    base = np.abs(rng_v.normal(0.4, 0.15, (H_M // 4, W_M // 4))).astype(np.float32)
    g["DNB_video"] = np.stack(
        [base * (1.0 + 0.1 * t) + np.float32(0.01 * t) for t in range(6)]
    ).astype(np.float32)

    # --- DN->radiance/BT decode seam for M13 (FILDA_IO.py:631-644, 767-797):
    # the corpus ships the emissive band as uint16 DN + scale/offset attrs +
    # a file-embedded brightness-temperature LUT; the decode kernel
    # reconstructs rad = DN*scale + offset and BT = lut[DN]. Encoded LAST so
    # planted fires are part of the DN payload.
    dn = np.clip(
        np.round((g.pop("M13_rad").astype(np.float64) - M13_ADD_OFFSET) / M13_SCALE_FACTOR),
        0,
        65534,
    ).astype(np.uint16)
    g["M13_dn"] = dn
    g["M13_bt_lut"] = make_m13_bt_lut()
    g["M13_dn_attrs"] = np.array([M13_SCALE_FACTOR, M13_ADD_OFFSET], dtype=np.float64)

    # --- compressed/containerised media spans (real stdlib codecs —
    # codecs.py / netcdf3.py): a PNG quicklook of the M13 DN raster, a WAV
    # telemetry trace, and a CDF-1-packed copy of the DN attrs. Encoded by
    # pack_document, decoded by multimodal.decode_media.
    g["M13_quicklook_png"] = (dn % 256).astype(np.uint8)
    # gated envelope: every third 32-sample block is exactly silent, so the
    # trace has real active/silent structure for multimodal.audio_segments
    # (an ungated sine has constant RMS — segmentation would be vacuous)
    _tr_i = np.arange(4 * H_M)
    g["DNB_trace_wav"] = (
        np.round(12000.0 * np.sin(_tr_i * (0.05 + 0.01 * p["pair"])))
        * ((_tr_i // 32) % 3 != 2)
    ).astype(np.int16)
    g["M13_dn_attrs_nc"] = g["M13_dn_attrs"]

    # --- compressed-video spans (round-3 codecs; metadata describes the
    # DECODED stacks): an APNG animation whose frames differ only in a
    # small moving bright patch (exercises true inter-frame rectangle
    # deltas), and an MJPEG/AVI clip of the evolving DN quicklook
    # (per-frame DCT transform coding; lossy — every consumer reads the
    # DECODED samples, so engine and oracle stay bit-identical).
    anim_base = np.clip(base * 300.0, 0, 255).astype(np.uint8)
    anim = []
    for t in range(5):
        fr = anim_base.copy()
        r0 = (2 + 3 * t) % max(anim_base.shape[0] - 4, 1)
        fr[r0 : r0 + 4, 5:11] = np.uint8(250 - 10 * t)
        anim.append(fr)
    g["DNB_anim_apng"] = np.stack(anim)
    ql_small = (dn % 256).astype(np.uint8)[::4, ::4]
    g["M13_clip_avi"] = np.stack(
        [((ql_small.astype(np.int64) + 3 * t) % 256).astype(np.uint8) for t in range(4)]
    )

    header = dict(
        sat=p["sat"],
        jdn=p["jdn"],
        overpass=p["overpass"],
        DayNightFlag="Day" if p["day"] else "Night",
        n_scans=H_M // 16,
        bbox=[float(lat.max()), float(lat.min()), float(lon.min()), float(lon.max())],
    )
    return g, header


# ---------------------------------------------------------------------------
# Ancillary tables (FIXTURES.md §2)
# ---------------------------------------------------------------------------


M13_SCALE_FACTOR = 1.0e-4  # W/m2/sr/um per DN
M13_ADD_OFFSET = 0.0
_M13_LUT_CACHE: np.ndarray | None = None


def make_m13_bt_lut() -> np.ndarray:
    """File-embedded DN->BT lookup table (FILDA_IO.py:767-782): BT of the
    decoded radiance at every possible DN; fill DN 65535 -> NaN."""
    global _M13_LUT_CACHE
    if _M13_LUT_CACHE is None:
        dn = np.arange(65536, dtype=np.float64)
        rad = dn * M13_SCALE_FACTOR + M13_ADD_OFFSET
        with np.errstate(divide="ignore", invalid="ignore"):
            bt = kernels.bt_from_rad(rad, LAMBDA_UM["M13"])
        bt[rad <= 0] = np.nan
        bt[65535] = np.nan
        _M13_LUT_CACHE = bt.astype(np.float32)
    return _M13_LUT_CACHE


def make_resample_lut():
    """Each M pixel (i, j) <- raw DNB pixels (i, j+2) w=0.6 and (i, j+3) w=0.4
    (LUT-driven weighted many-to-one join, FILDA_Resample.py:44-137)."""
    ii, jj = np.meshgrid(np.arange(H_M), np.arange(W_M), indexing="ij")
    w_raw = W_M + DNB_PAD
    idx = np.stack([ii * w_raw + jj + 2, ii * w_raw + jj + 3], axis=2).astype(np.int64)
    w = np.broadcast_to(np.array([0.6, 0.4]), idx.shape).copy()
    return idx, w


def make_geos_fp():
    """Global 0.25 x 0.3125 deg TLML grid: uniform 291 K (see cloud_gross
    margins in fixtures design)."""
    return np.full((720, 1152), 291.0)


def make_infrared_lut():
    b, s = np.meshgrid(np.arange(13), np.arange(5), indexing="ij")
    return 2.0 + 0.1 * b + 0.05 * s


def make_area_lut():
    jj = np.arange(W_M)[None, :]
    return (750.0 * 750.0 * (1.0 + 3.0 * ((jj - W_M / 2) / W_M) ** 2)) * np.ones((H_M, 1))


def make_overlap_lut():
    ov = np.zeros((2 * H_M, 2 * W_M))
    ov[:, :3] = 0.3
    ov[:, -3:] = 0.3
    return ov


def make_ntl(params: list[dict]) -> dict:
    """Per-PC-tile (mean, std) rasters covering every granule; city patches
    bright (mean 35 > thres_city_ntl) so real city lights are screened."""
    tiles: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}
    for p in params:
        g_lat = p["lat0"] - np.arange(H_M) * D_DEG
        g_lon = p["lon0"] + np.arange(W_M) * D_DEG
        lat2, lon2 = np.meshgrid(g_lat, g_lon, indexing="ij")
        hid = (18 + np.floor(lon2 / 10.0)).astype(np.int64)
        vid = (8 - np.floor(lat2 / 10.0)).astype(np.int64)
        for h, v in set(zip(hid.ravel(), vid.ravel())):
            if (h, v) not in tiles:
                mean = np.full((NTL_CELLS, NTL_CELLS), 0.3, dtype=np.float32)
                std = np.full((NTL_CELLS, NTL_CELLS), 0.2, dtype=np.float32)
                tiles[(h, v)] = (mean, std)
        # paint the city patch bright in climatology
        f = _features(p["pair"])
        r0, r1, c0, c1 = f["city"]
        clat = lat2[r0:r1, c0:c1].ravel()
        clon = lon2[r0:r1, c0:c1].ravel()
        hid_c = (18 + np.floor(clon / 10.0)).astype(np.int64)
        vid_c = (8 - np.floor(clat / 10.0)).astype(np.int64)
        resol = 10.0 / NTL_CELLS
        lat_max = (9 - vid_c) * 10.0
        lon_min = (hid_c - 18) * 10.0
        y = np.clip(np.floor((lat_max - clat) / resol), 0, NTL_CELLS - 1).astype(np.int64)
        x = np.clip(np.floor((clon - lon_min) / resol), 0, NTL_CELLS - 1).astype(np.int64)
        for h, v, yy, xx in zip(hid_c, vid_c, y, x):
            m, s = tiles[(h, v)]
            # paint a 3x3 blob so every city pixel (and its I-fanout) is bright
            m[max(yy - 1, 0) : yy + 2, max(xx - 1, 0) : xx + 2] = 35.0
            s[max(yy - 1, 0) : yy + 2, max(xx - 1, 0) : xx + 2] = 5.0
    return tiles


def make_flare_polygons(params: list[dict]) -> list[dict]:
    """One square polygon (+-0.02 deg) around each pair's flare site."""
    polys = []
    seen = set()
    for p in params:
        if p["pair"] in seen:
            continue
        seen.add(p["pair"])
        f = _features(p["pair"])
        mi, mj = f["flare"]
        clat = p["lat0"] - mi * D_DEG
        clon = p["lon0"] + mj * D_DEG
        d = 0.02
        polys.append(
            dict(
                flare_id=int(p["pair"]),
                lat=[clat - d, clat - d, clat + d, clat + d],
                lon=[clon - d, clon + d, clon + d, clon - d],
            )
        )
    return polys


def make_water_polygons(params: list[dict]) -> list[dict]:
    """Vector formulation of the fixture's water raster (north rule:
    'point-in-polygon filtered against land/water ... masks'): one rectangle
    per water region traced through the M-pixel CENTRES with a half-cell
    margin, so PIP membership equals the raster land_water_mask==0 test
    exactly (centres are D_DEG apart; no detection can sit on an edge)."""
    polys = []
    seen = set()
    wid = 0
    for p in params:
        if p["pair"] in seen:
            continue
        seen.add(p["pair"])
        f = _features(p["pair"])
        r0, r1, c0, c1 = f["lake67"]
        rects = [
            (0, H_M, f["water_cols"][0], f["water_cols"][1]),  # ocean strip
            (r0, r1, c0, c1),  # lwm=6 lake
            (r0 + 3, r1 + 3, c0, c1),  # lwm=7 lake
        ]
        for a, b, c, d in rects:
            lat_n = p["lat0"] - a * D_DEG + D_DEG / 2.0
            lat_s = p["lat0"] - (b - 1) * D_DEG - D_DEG / 2.0
            lon_w = p["lon0"] + c * D_DEG - D_DEG / 2.0
            lon_e = p["lon0"] + (d - 1) * D_DEG + D_DEG / 2.0
            polys.append(
                dict(
                    water_id=wid,
                    lat=[lat_s, lat_s, lat_n, lat_n],
                    lon=[lon_w, lon_e, lon_e, lon_w],
                )
            )
            wid += 1
    return polys


def land_cover_value(h, v, row, col):
    """Deterministic IGBP-like class for a sinusoidal cell (fixture rule)."""
    return ((np.asarray(h) * 31 + np.asarray(v) * 17 + np.asarray(row) * 7 + np.asarray(col)) % 17 + 1).astype(
        np.int8
    )


def make_land_cover(params: list[dict]) -> pd.DataFrame:
    from filda_spark.grids import sinu_np

    rows = []
    for p in params:
        g_lat = p["lat0"] - np.arange(H_M) * D_DEG
        g_lon = p["lon0"] + np.arange(W_M) * D_DEG
        lat2, lon2 = np.meshgrid(g_lat, g_lon, indexing="ij")
        h, v, r, c = sinu_np(lat2.ravel(), lon2.ravel())
        rows.append(pd.DataFrame(dict(h=h, v=v, row=r, col=c)))
    df = pd.concat(rows).drop_duplicates()
    df["lc_type"] = land_cover_value(df.h, df.v, df.row, df.col)
    return df.reset_index(drop=True)


def make_peatland(params: list[dict], cells: int = 240) -> pd.DataFrame:
    """Plate-Carree peat cells: peat=1, frac=0.5 for cells whose x index is
    divisible by 3 (deterministic sparse pattern)."""
    rows = []
    for p in params:
        g_lat = p["lat0"] - np.arange(H_M) * D_DEG
        g_lon = p["lon0"] + np.arange(W_M) * D_DEG
        lat2, lon2 = np.meshgrid(g_lat, g_lon, indexing="ij")
        from filda_spark.grids import pc_tile_np

        h, v, y, x = pc_tile_np(lat2.ravel(), lon2.ravel(), cells)
        rows.append(pd.DataFrame(dict(h=h, v=v, y=y, x=x)))
    df = pd.concat(rows).drop_duplicates()
    df = df[df.x % 3 == 0].copy()
    df["peat"] = np.int8(1)
    df["peat_frac"] = 0.5
    return df.reset_index(drop=True)


EMIS_CELLS = 1200  # VNP21A2 sinusoidal tile raster (MCBEF_IO.py:206-261)
STATIC_RESOL = 0.1  # static-thermal-anomaly global grid (MCBEF_IO.py:387-409)


def _emis_cells(params: list[dict]) -> pd.DataFrame:
    """Distinct 1200-cell sinusoidal keys covered by the corpus granules."""
    from filda_spark.grids import sinu_np

    rows = []
    for p in params:
        g_lat = p["lat0"] - np.arange(H_M) * D_DEG
        g_lon = p["lon0"] + np.arange(W_M) * D_DEG
        lat2, lon2 = np.meshgrid(g_lat, g_lon, indexing="ij")
        h, v, r, c = sinu_np(lat2.ravel(), lon2.ravel(), cells=EMIS_CELLS)
        rows.append(pd.DataFrame(dict(h=h, v=v, row=r, col=c)))
    return pd.concat(rows).drop_duplicates().reset_index(drop=True)


def make_emissivity(params: list[dict]) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Synthetic VNP21A2 NRT + climatology emissivity tables on the 1200-cell
    sinusoidal grid (MCBEF_IO.py:168-324). NRT carries deterministic gaps
    (NaN) so the climatology coalesce path is exercised; CLT additionally
    carries the LST fields that prior the background MAP."""
    cells = _emis_cells(params)
    key = (
        cells.h.to_numpy() * 31 + cells.v.to_numpy() * 17 + cells.row.to_numpy() * 7 + cells.col.to_numpy()
    ).astype(np.int64)
    nrt = cells.copy()
    for i, b in enumerate(("M14", "M15", "M16")):
        vals = 0.92 + ((key + 11 * i) % 80) / 1000.0
        vals = np.where((cells.row.to_numpy() * 13 + cells.col.to_numpy() * 7 + i) % 12 == 0, np.nan, vals)
        nrt[f"Emis_{b}"] = vals
    clt = cells.copy()
    for i, b in enumerate(("M14", "M15", "M16")):
        clt[f"Emis_{b}_CLT"] = 0.93 + ((key + 11 * i) % 60) / 1000.0
    clt["LST_Night_1KM"] = 285.0 + (key % 100) / 10.0
    clt["LST_Night_1KM_STD"] = 2.0 + (key % 30) / 10.0
    clt["LST_Day_1KM"] = 295.0 + (key % 100) / 10.0
    clt["LST_Day_1KM_STD"] = 3.0 + (key % 30) / 10.0
    return nrt, clt


def make_static_anomaly(params: list[dict]) -> pd.DataFrame:
    """Static-thermal-anomaly cells on a regular 0.1-deg grid, keyed by the
    reference's (lon-W)//resol / (lat-S)//resol index (MCBEF_IO.py:403-407).
    Every even granule pair's first absolute-fire site is flagged so the
    MCBEF static gate takes the uniphasic branch on real detections."""
    rows = []
    seen = set()
    for p in params:
        if p["pair"] in seen or p["pair"] % 2:
            continue
        seen.add(p["pair"])
        f = _features(p["pair"])
        mi, mj = f["fires_abs"][0]
        lat = p["lat0"] - mi * D_DEG
        lon = p["lon0"] + mj * D_DEG
        rows.append(
            dict(
                lon_idx=int((lon - (-180.0)) // STATIC_RESOL),
                lat_idx=int((lat - (-90.0)) // STATIC_RESOL),
                static_flag=1,
            )
        )
    if not rows:
        rows = [dict(lon_idx=-1, lat_idx=-1, static_flag=1)]
    return pd.DataFrame(rows).drop_duplicates().reset_index(drop=True)


# ---------------------------------------------------------------------------
# Document / media packing (input_hint schema)
# ---------------------------------------------------------------------------

MEDIA_VARS = {
    "geolocation_data": [
        "latitude",
        "longitude",
        "land_water_mask",
        "solar_zenith",
        "sensor_zenith",
        "sensor_azimuth",
    ],
    "observation_data": [f"{b}_rad" for b in M_BANDS if b != "M13"]
    + ["M13_dn", "M13_bt_lut", "M13_dn_attrs", "DNB_video"]
    + ["M13_quicklook_png", "DNB_trace_wav", "M13_dn_attrs_nc"]
    + ["DNB_anim_apng", "M13_clip_avi"]
    + [
        "I04_rad",
        "I05_rad",
        "I04_quality_flags",
        "I05_quality_flags",
        "DNB_raw",
        "DNB_quality_flags",
        "M13_quality_flags",
    ],
}

BAND_INVENTORY = {b: dict(lamda_um=LAMBDA_UM[b], units="W/m2/sr/um") for b in LAMBDA_UM}


def pack_document(doc_id: str, g: dict, header: dict):
    """Granule -> (documents row, media rows). Span order is significant —
    the per-row invariant is span-sequence equality on (kind, text,
    media_ref, order)."""
    spans = [
        dict(kind="text", text=json.dumps(header, sort_keys=True), media_ref="", offset=0),
        dict(kind="text", text=json.dumps(BAND_INVENTORY, sort_keys=True), media_ref="", offset=1),
    ]
    media_rows = []
    off = 2
    for group, names in MEDIA_VARS.items():
        for var in names:
            arr = g[var]
            ref = f"{doc_id}/{group}/{var}"
            spans.append(
                dict(
                    kind="media",
                    text=json.dumps(dict(shape=list(arr.shape), dtype=str(arr.dtype))),
                    media_ref=ref,
                    offset=off,
                )
            )
            media_rows.append(
                dict(
                    media_ref=ref,
                    doc_id=doc_id,
                    var=var,
                    shape=list(arr.shape),
                    dtype=str(arr.dtype),
                    data=_encode_payload(var, arr),
                )
            )
            off += 1
    return dict(doc_id=doc_id, spans=spans), media_rows


def _encode_payload(var: str, arr: np.ndarray) -> bytes:
    """Encode a media array per its kind (raw buffer, PNG, WAV, or CDF-1);
    shape/dtype metadata always describe the DECODED array."""
    kind = multimodal.media_kind(var)
    if kind == "image":
        return codecs.png_encode(arr)
    if kind == "audio":
        return codecs.wav_encode(arr)
    if kind == "video_apng":
        return codecs.apng_encode(arr)
    if kind == "video_mjpeg":
        return codecs.avi_encode(arr)
    if kind == "netcdf":
        dims = {f"{var}_d{i}": s for i, s in enumerate(arr.shape)}
        return netcdf3.encode(
            dims,
            {var: dict(data=arr, dims=tuple(dims), atts={"_np_dtype": str(arr.dtype)})},
        )
    return np.ascontiguousarray(arr).tobytes()


def unpack_media(rows: pd.DataFrame, kinds: frozenset[str] | None = None) -> dict:
    """media rows (one granule) -> dict[var, ndarray]; inverse of pack.
    Routes every payload through the typed decode (raw/PNG/WAV/CDF-1); a
    multi-variable CDF-1 payload (netcdfified corpus) expands into all of
    its variables.

    kinds: decode only these media kinds — codec-level column pruning. The
    detect kernel passes the raster kinds so the per-granule hot path never
    pays the PNG/WAV decode for spans detection does not read."""
    out = {}
    for _, r in rows.iterrows():
        var = r["var"]
        kind = multimodal.media_kind(var)
        if kinds is not None and kind not in kinds:
            continue
        if kind == "netcdf":
            out.update(multimodal.decode_netcdf(r["data"]))
        else:
            out[var] = multimodal.decode_media(
                kind, bytes(r["data"]), r["dtype"], list(r["shape"]), var=var
            )
    return out


def netcdfify_corpus(src_dir: str, out_dir: str) -> str:
    """Corpus variant proving real-file-format ingest (CDF-1): each
    granule's raw raster/video media rows collapse into ONE classic
    NetCDF-3 payload holding every variable (original numpy dtypes recorded
    as ``_np_dtype`` attributes); PNG/WAV/CDF-1 rows ride along unchanged.
    Document spans are rewritten to match the new media table, preserving
    the span-sequence invariant. Ancillary tables are symlinked.

    The same pipeline then runs decode->detect through
    ``multimodal.decode_netcdf`` with bit-identical detections — the
    engine's own from-scratch NetCDF decoder on the INGEST path (the
    reference reads NetCDF granules, FILDA_IO.py:570-950)."""
    os.makedirs(out_dir, exist_ok=True)
    docs = pd.read_parquet(f"{src_dir}/documents.parquet")
    media = pd.read_parquet(f"{src_dir}/media.parquet")
    new_docs, new_media = [], []
    for doc in docs.itertuples():
        doc_id = doc.doc_id
        rows = media[media["doc_id"] == doc_id]
        dims: dict[str, int] = {}
        variables: dict[str, dict] = {}
        keep_rows = []
        for r in rows.itertuples():
            if multimodal.media_kind(r.var) in ("raster", "video_raw"):
                arr = np.frombuffer(r.data, dtype=r.dtype).reshape(tuple(r.shape))
                vdims = tuple(f"{r.var}_d{i}" for i in range(arr.ndim))
                for dname, s in zip(vdims, arr.shape):
                    dims[dname] = int(s)
                variables[r.var] = dict(
                    data=arr, dims=vdims, atts={"_np_dtype": str(r.dtype)}
                )
            else:
                keep_rows.append(r)
        payload = netcdf3.encode(dims, variables)
        ref = f"{doc_id}/granule_nc"
        spans = [s for s in doc.spans if s["kind"] == "text"]
        spans.append(
            dict(
                kind="media",
                text=json.dumps(dict(format="netcdf3", n_bytes=len(payload))),
                media_ref=ref,
                offset=len(spans),
            )
        )
        rows_out = [
            dict(
                media_ref=ref,
                doc_id=doc_id,
                var="granule_nc",
                shape=[len(payload)],
                dtype="uint8",
                data=payload,
            )
        ]
        for r in keep_rows:
            shp = [int(x) for x in r.shape]
            spans.append(
                dict(kind="media", text=json.dumps(dict(shape=shp, dtype=r.dtype)),
                     media_ref=r.media_ref, offset=len(spans))
            )
            rows_out.append(
                dict(media_ref=r.media_ref, doc_id=doc_id, var=r.var,
                     shape=shp, dtype=r.dtype, data=bytes(r.data))
            )
        new_docs.append(dict(doc_id=doc_id, spans=spans))
        new_media.append(rows_out)
    pd.DataFrame(new_docs).to_parquet(f"{out_dir}/documents.parquet", index=False, row_group_size=1)
    flat = [r for rows in new_media for r in rows]
    per_doc = len(flat) // max(len(new_docs), 1)
    pd.DataFrame(flat).to_parquet(
        f"{out_dir}/media.parquet", index=False, row_group_size=max(per_doc, 1)
    )
    for name in os.listdir(src_dir):
        if name in ("documents.parquet", "media.parquet"):
            continue
        dst = os.path.join(out_dir, name)
        if not os.path.exists(dst):
            os.symlink(os.path.join(src_dir, name), dst)
    return out_dir


def set_geometry(h_m: int = 64, w_m: int = 80) -> None:
    """Override the granule raster size (bench corpora use larger rasters;
    planted features keep their absolute positions in the north-west corner,
    the rest is background). Must be called before build_corpus."""
    global H_M, W_M
    H_M, W_M = h_m, w_m


def build_corpus(
    out_dir: str, n_docs: int = 8, h_m: int = 64, w_m: int = 80, extra_fires: int = 0
) -> dict:
    """Write the full synthetic corpus + ancillary tables to out_dir.
    Returns in-memory handles for oracle use."""
    set_geometry(h_m, w_m)
    os.makedirs(out_dir, exist_ok=True)
    params = corpus_doc_params(n_docs, extra_fires)
    doc_rows, media_rows, granules, headers = [], [], {}, {}
    for p in params:
        g, header = make_granule(p)
        d, m = pack_document(p["doc_id"], g, header)
        doc_rows.append(d)
        media_rows.extend(m)
        granules[p["doc_id"]] = g
        headers[p["doc_id"]] = header
    # one row group per granule: Spark splits parquet at row-group boundaries,
    # so the scan parallelizes across granules instead of one serial task
    pd.DataFrame(doc_rows).to_parquet(f"{out_dir}/documents.parquet", index=False, row_group_size=1)
    n_media_per_doc = len(media_rows) // max(len(doc_rows), 1)
    pd.DataFrame(media_rows).to_parquet(
        f"{out_dir}/media.parquet", index=False, row_group_size=max(n_media_per_doc, 1)
    )

    lut_idx, lut_w = make_resample_lut()
    ntl = make_ntl(params)
    anc = dict(
        resample_lut_idx=lut_idx,
        resample_lut_w=lut_w,
        geos_fp=make_geos_fp(),
        infrared_lut=make_infrared_lut(),
        area_lut=make_area_lut(),
        overlap_lut=make_overlap_lut(),
        ntl=ntl,
    )
    # relational forms for the Spark-join side
    lc = make_land_cover(params)
    lc.to_parquet(f"{out_dir}/land_cover.parquet", index=False)
    peat = make_peatland(params)
    peat.to_parquet(f"{out_dir}/peatland.parquet", index=False)
    flares = make_flare_polygons(params)
    pd.DataFrame(flares).to_parquet(f"{out_dir}/gas_flare_polygons.parquet", index=False)
    water_polys = make_water_polygons(params)
    pd.DataFrame(water_polys).to_parquet(f"{out_dir}/water_polygons.parquet", index=False)
    emis_nrt, emis_clt = make_emissivity(params)
    emis_nrt.to_parquet(f"{out_dir}/emissivity_nrt.parquet", index=False)
    emis_clt.to_parquet(f"{out_dir}/emissivity_clt.parquet", index=False)
    static = make_static_anomaly(params)
    static.to_parquet(f"{out_dir}/static_anomaly.parquet", index=False)
    from filda_spark.mcbef import sensor_rsr_frame

    sensor_rsr_frame().to_parquet(f"{out_dir}/sensor_rsr.parquet", index=False)
    ntl_rows = []
    for (h, v), (m, s) in ntl.items():
        ys, xs = np.nonzero(m != 0.3)
        ntl_rows.append(
            pd.DataFrame(dict(h=h, v=v, y=ys, x=xs, dnb_mean=m[ys, xs], dnb_std=s[ys, xs]))
        )
    pd.concat(ntl_rows).to_parquet(f"{out_dir}/ntl_bright_cells.parquet", index=False)
    np.save(f"{out_dir}/geos_fp.npy", anc["geos_fp"])
    np.save(f"{out_dir}/infrared_lut.npy", anc["infrared_lut"])
    np.save(f"{out_dir}/area_lut.npy", anc["area_lut"])
    np.save(f"{out_dir}/overlap_lut.npy", anc["overlap_lut"])
    np.save(f"{out_dir}/resample_lut_idx.npy", lut_idx)
    np.save(f"{out_dir}/resample_lut_w.npy", lut_w)
    np.savez(
        f"{out_dir}/ntl_tiles.npz",
        **{f"{h}_{v}_{k}": arr for (h, v), pair_ in ntl.items() for k, arr in zip(("mean", "std"), pair_)},
    )
    return dict(
        params=params,
        granules=granules,
        headers=headers,
        ancillary=anc,
        land_cover=lc,
        peatland=peat,
        flares=flares,
        water_polygons=water_polys,
        emissivity_nrt=emis_nrt,
        emissivity_clt=emis_clt,
        static_anomaly=static,
    )


def load_polygons(path: str, id_key: str) -> list[dict]:
    """A polygon table written by ``build_corpus`` as the
    ``{id_key, lat, lon}`` dicts the PIP kernels take."""
    return [
        {id_key: int(getattr(r, id_key)), "lat": list(r.lat), "lon": list(r.lon)}
        for r in pd.read_parquet(path).itertuples()
    ]


def load_ancillary(out_dir: str) -> dict:
    """The granule kernels' broadcast: rasters, LUTs and the flare and
    water polygon sets."""
    ntl_npz = np.load(f"{out_dir}/ntl_tiles.npz")
    ntl: dict = {}
    for key in ntl_npz.files:
        h, v, kind = key.rsplit("_", 2)[0], key.rsplit("_", 2)[1], key.rsplit("_", 2)[2]
        ntl.setdefault((int(h), int(v)), [None, None])[0 if kind == "mean" else 1] = ntl_npz[key]
    ntl = {k: (v[0], v[1]) for k, v in ntl.items()}
    return dict(
        resample_lut_idx=np.load(f"{out_dir}/resample_lut_idx.npy"),
        resample_lut_w=np.load(f"{out_dir}/resample_lut_w.npy"),
        geos_fp=np.load(f"{out_dir}/geos_fp.npy"),
        infrared_lut=np.load(f"{out_dir}/infrared_lut.npy"),
        area_lut=np.load(f"{out_dir}/area_lut.npy"),
        overlap_lut=np.load(f"{out_dir}/overlap_lut.npy"),
        ntl=ntl,
        flares=load_polygons(f"{out_dir}/gas_flare_polygons.parquet", "flare_id"),
        water_polygons=load_polygons(f"{out_dir}/water_polygons.parquet", "water_id"),
    )
