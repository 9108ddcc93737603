"""Single-node NumPy oracle: the reference-mirroring composition of
`filda_spark.kernels` + `filda_spark.spatial`, run granule-by-granule in one
process. The Spark pipeline must reproduce these outputs exactly (detection
rows, fire masks, QA rasters, tile assignments) — SURVEY.md §5 strategy 1.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from filda_spark import kernels, spatial
from filda_spark.grids import regular_grid_idx_np, sinu_np, pc_tile_np
from filda_spark.namelist import make_namelist

# canonical detections schema (subset of aux_infor_dict, FILDA_IO.py:1337-1471,
# plus engine spatial columns)
DET_COLUMNS = [
    "doc_id",
    "FP_Line",
    "FP_Sample",
    "FP_Line_MOD",
    "FP_Sample_MOD",
    "FP_Latitude",
    "FP_Longitude",
    "FP_Status",
    "FP_confidence",
    "FP_WinSize",
    "FP_I04_Mean",
    "FP_I05_Mean",
    "FP_BTD_Mean",
    "FP_I04_MAD",
    "FP_I05_MAD",
    "FP_BTD_MAD",
    "FP_M11_Rad",
    "FP_M12_Rad",
    "FP_M13_Rad",
    "FP_M14_Rad",
    "FP_M15_Rad",
    "FP_M16_Rad",
    "FP_I04_Rad",
    "FP_I05_Rad",
    "FP_DNB_Rad",
    "FP_M13_Rad_Mean",
    "FP_M13_Rad_MAD",
    "FP_M13_Rad_Num",
    "FP_M13_WinSize",
    # ancillary background means the MCBEF stage consumes (frp_background
    # computes them for every ANCILLARY_BANDS member; these are the MCBEF
    # fire/background band subset, MCBEF namelist.input:4-5)
    "FP_DNB_Rad_Mean",
    "FP_M11_Rad_Mean",
    "FP_M14_Rad_Mean",
    "FP_M15_Rad_Mean",
    "FP_M16_Rad_Mean",
    "FP_I05_Rad_Mean",
    # per-detection bowtie fraction (get_bowtie, FILDA.py:2148-2176)
    "FP_Bowtie",
    # M-band product columns (FILDA.py:1950-1967)
    "Sensor_Zenith",
    "Sensor_Azimuth",
    "FP_T04_1",
    "FP_T04_2",
    "FP_T04_3",
    "FP_T04_4",
    "FP_T05_1",
    "FP_T05_2",
    "FP_T05_3",
    "FP_T05_4",
    "FP_Power_QA",
    "FP_Power",
    "FP_VE",
    "FP_VEF",
    "FP_MCE",
    "FP_Area_mod",
    "FP_Num_Fire",
    "FP_Fire_Temp",
    "FP_BG_Temp",
    "FP_Fire_Frac",
    "FP_Opt_Status",
    "FP_land_water_mask",
    "FP_posDNB",
    "FP_SAA_flag",
    "FP_AdjCloud",
    "FP_AdjWater",
    "BTI04",
    "BTI05",
    "BTD_IMG",
    "DNB_observations",
    "Solar_Zenith",
]


def decode_granule(media: dict) -> dict:
    """Raw media arrays -> detection-ready granule dict: DNB QF masking +
    LUT resample happen here; QA invalidation + BT derivation follow."""
    g = {k: np.array(v, dtype=np.float64) if np.asarray(v).dtype.kind == "f" else np.array(v) for k, v in media.items()}
    return g


def prepare_granule(media: dict, anc: dict, nl: dict) -> dict:
    g = decode_granule(media)
    raw = np.array(g.pop("DNB_raw"), dtype=np.float64)
    raw[g.pop("DNB_quality_flags") >= 128] = np.nan  # QF on the raw grid, pre-resample
    g["DNB_observations"] = kernels.resample_dnb(
        raw, anc["resample_lut_idx"], anc["resample_lut_w"]
    )
    kernels.decode_dn(g, "M13")
    kernels.qa_invalidate(g)
    kernels.derive_bt(g)
    lat_idx, lon_idx = regular_grid_idx_np(
        np.nan_to_num(g["latitude"]), np.nan_to_num(g["longitude"]), nl["resol_lat"], nl["resol_lon"]
    )
    surf = anc["geos_fp"][lat_idx, lon_idx]
    kernels.cloud_test(g, surf, anc["infrared_lut"], nl)
    return g


def detect_granule(
    doc_id: str, media: dict, anc: dict, nl: dict, fit: bool = True, masks: bool = True
) -> dict:
    """Full per-granule detection: returns dict with detections (dict of 1-D
    arrays), candidate table, fire masks, and QA raster.

    ``fit=False`` skips the per-detection Planck-mixture fit: the masks
    path's shortcut, since masks and QA do not depend on it. The engine's
    detect kernel fits inside the granule task, as here by default."""
    g = prepare_granule(media, anc, nl)
    ntl_mean, ntl_std = kernels.ntl_gather(
        np.nan_to_num(g["latitude"], nan=-90.0),
        np.nan_to_num(g["longitude"]),
        anc["ntl"],
        cells=g_ntl_cells(anc),
    )
    pos_dnb = kernels.dnb_probability(g["DNB_observations"], ntl_mean, ntl_std)
    thres_dnb = kernels.dnb_threshold(g["DNB_observations"])
    cdt = kernels.select_candidates(g, pos_dnb, thres_dnb, nl)
    bg = kernels.background_fields(g, cdt)
    cdt = kernels.contextual_test(cdt, bg, nl)
    det = kernels.post_test_filter(cdt)
    det = kernels.gather_detection_radiances(det, g)
    det = kernels.get_bowtie(det, anc["overlap_lut"])
    det = kernels.mod_fanout(det, g)
    det = kernels.frp_background(det, bg, nl)
    det = kernels.fire_params(det, anc["area_lut"], nl)
    det = kernels.check_saa_2(det)
    if fit:
        det = kernels.planck_fit(det)
    else:
        n = det["FP_line_img"].size
        det["FP_Fire_Temp"] = np.full(n, np.nan)
        det["FP_BG_Temp"] = np.full(n, np.nan)
        det["FP_Fire_Frac"] = np.full(n, np.nan)
        det["FP_Opt_Status"] = np.zeros(n, dtype=np.int8)
    det["FP_AdjCloud"], det["FP_AdjWater"] = spatial.adjacency_counts_np(
        g["CM"],
        kernels.upsample_m_to_i(g["land_water_mask"]),
        det["FP_line_img"],
        det["FP_sample_img"],
    )
    det["FP_confidence"] = confidence_np(det)
    mask_img = mask_mod = qa = None
    if masks:  # the detections-only engine path skips raster products
        mask_img = kernels.gen_fire_img_mask(g, det, cdt, anc["overlap_lut"], nl)
        mask_mod = kernels.gen_fire_mod_mask(mask_img)
        qa = kernels.gen_algorithm_qa(g, det, cdt, anc["overlap_lut"], nl)
    return dict(doc_id=doc_id, det=det, cdt=cdt, mask_img=mask_img, mask_mod=mask_mod, qa=qa, g=g)


def g_ntl_cells(anc: dict) -> int:
    any_tile = next(iter(anc["ntl"].values()))
    return any_tile[0].shape[0]


def confidence_np(det: dict) -> np.ndarray:
    """Detection confidence class mirroring the mask paint outcomes
    (FILDA.py:2307-2337): 9 high (saturated/absolute, bg mean -999), 7 low
    (water detection with BTD<15, or SAA-affected), else 8 nominal."""
    conf = np.full(det["FP_line_img"].size, 8, dtype=np.int8)
    conf[(det["FP_land_water_mask"] != 1) & (det["BTD_IMG"] < 15.0)] = 7
    conf[det["FP_SAA_flag"] > 0] = 7
    conf[det["FP_I04_Mean"] < 0] = 9
    return conf


def detections_frame(doc_id: str, det: dict) -> pd.DataFrame:
    n = det["FP_line_img"].size
    df = pd.DataFrame(
        {
            "doc_id": [doc_id] * n,
            "FP_Line": det["FP_line_img"].astype(np.int32),
            "FP_Sample": det["FP_sample_img"].astype(np.int32),
            "FP_Line_MOD": det["FP_line_mod"].astype(np.int32),
            "FP_Sample_MOD": det["FP_sample_mod"].astype(np.int32),
            "FP_Latitude": det["FP_Latitude"].astype(np.float64),
            "FP_Longitude": det["FP_Longitude"].astype(np.float64),
            "FP_Status": det["FP_Status"].astype(np.int32),
            "FP_confidence": det["FP_confidence"].astype(np.int32),
            "FP_WinSize": np.asarray(det["FP_WinSize"]).astype(np.int32),
            "FP_I04_Mean": det["FP_I04_Mean"],
            "FP_I05_Mean": det["FP_I05_Mean"],
            "FP_BTD_Mean": det["FP_BTD_Mean"],
            "FP_I04_MAD": det["FP_I04_MAD"],
            "FP_I05_MAD": det["FP_I05_MAD"],
            "FP_BTD_MAD": det["FP_BTD_MAD"],
            "FP_M11_Rad": det["FP_M11_Rad"],
            "FP_M12_Rad": det["FP_M12_Rad"],
            "FP_M13_Rad": det["FP_M13_Rad"],
            "FP_M14_Rad": det["FP_M14_Rad"],
            "FP_M15_Rad": det["FP_M15_Rad"],
            "FP_M16_Rad": det["FP_M16_Rad"],
            "FP_I04_Rad": det["FP_I04_Rad"],
            "FP_I05_Rad": det["FP_I05_Rad"],
            "FP_DNB_Rad": det["FP_DNB_Rad"],
            "FP_DNB_Rad_Mean": det["FP_DNB_Rad_Mean"],
            "FP_M11_Rad_Mean": det["FP_M11_Rad_Mean"],
            "FP_M14_Rad_Mean": det["FP_M14_Rad_Mean"],
            "FP_M15_Rad_Mean": det["FP_M15_Rad_Mean"],
            "FP_M16_Rad_Mean": det["FP_M16_Rad_Mean"],
            "FP_I05_Rad_Mean": det["FP_I05_Rad_Mean"],
            "FP_Bowtie": det["FP_Bowtie"],
            "Sensor_Zenith": det["Sensor_Zenith"],
            "Sensor_Azimuth": det["Sensor_Azimuth"],
            "FP_T04_1": det["FP_T04_1"],
            "FP_T04_2": det["FP_T04_2"],
            "FP_T04_3": det["FP_T04_3"],
            "FP_T04_4": det["FP_T04_4"],
            "FP_T05_1": det["FP_T05_1"],
            "FP_T05_2": det["FP_T05_2"],
            "FP_T05_3": det["FP_T05_3"],
            "FP_T05_4": det["FP_T05_4"],
            "FP_M13_Rad_Mean": det["FP_M13_Rad_Mean"],
            "FP_M13_Rad_MAD": det["FP_M13_Rad_MAD"],
            "FP_M13_Rad_Num": det["FP_M13_Rad_Num"],
            "FP_M13_WinSize": np.asarray(det["FP_M13_WinSize"]).astype(np.int32),
            "FP_Power_QA": np.asarray(det["FP_Power_QA"]).astype(np.int32),
            "FP_Power": det["FP_Power"],
            "FP_VE": det["FP_VE"],
            "FP_VEF": det["FP_VEF"],
            "FP_MCE": det["FP_MCE"],
            "FP_Area_mod": det["FP_Area_mod"],
            "FP_Num_Fire": det["FP_Num_Fire"].astype(np.int32),
            "FP_Fire_Temp": det["FP_Fire_Temp"],
            "FP_BG_Temp": det["FP_BG_Temp"],
            "FP_Fire_Frac": det["FP_Fire_Frac"],
            "FP_Opt_Status": det["FP_Opt_Status"].astype(np.int32),
            "FP_land_water_mask": det["FP_land_water_mask"].astype(np.int32),
            "FP_posDNB": det["FP_posDNB"],
            "FP_SAA_flag": det["FP_SAA_flag"].astype(np.int32),
            "FP_AdjCloud": det["FP_AdjCloud"].astype(np.int32),
            "FP_AdjWater": det["FP_AdjWater"].astype(np.int32),
            "BTI04": det["BTI04"],
            "BTI05": det["BTI05"],
            "BTD_IMG": det["BTD_IMG"],
            "DNB_observations": det["DNB_observations"],
            "Solar_Zenith": det["Solar_Zenith"].astype(np.float64),
        }
    )
    return df[DET_COLUMNS]


def enrich_detections(
    df: pd.DataFrame,
    land_cover: pd.DataFrame,
    peatland: pd.DataFrame,
    flares: list[dict],
    water_polys: list[dict] | None = None,
) -> pd.DataFrame:
    """Detection-level joins (the engine does these as Spark broadcast joins):
    land cover by sinusoidal cell with water override LC=17 (FILDA.py:1570-1699),
    peatland by Plate-Carree cell (FILDA.py:2034-2144), gas-flare PIP
    (FILDA.py:1973-2031 -> north-rule polygon formulation), water-body PIP
    (north rule's vector land/water formulation — must equal the raster
    land_water_mask semantics on fixtures), spatial encodes."""
    df = df.copy()
    h, v, r, c = sinu_np(df["FP_Latitude"].to_numpy(), df["FP_Longitude"].to_numpy())
    df["_h"], df["_v"], df["_row"], df["_col"] = h, v, r, c
    lc = land_cover.rename(columns={"h": "_h", "v": "_v", "row": "_row", "col": "_col"})
    df = df.merge(lc, on=["_h", "_v", "_row", "_col"], how="left")
    df["FP_Land_Type"] = df.pop("lc_type").fillna(0).astype(np.int32)
    df.loc[df["FP_land_water_mask"] != 1, "FP_Land_Type"] = 17
    ph, pv, py, px = pc_tile_np(df["FP_Latitude"].to_numpy(), df["FP_Longitude"].to_numpy(), 240)
    df["_ph"], df["_pv"], df["_py"], df["_px"] = ph, pv, py, px
    pt = peatland.rename(columns={"h": "_ph", "v": "_pv", "y": "_py", "x": "_px"})
    df = df.merge(pt, on=["_ph", "_pv", "_py", "_px"], how="left")
    df["FP_Peatland"] = df.pop("peat").fillna(0).astype(np.int32)
    df["FP_Peatfrac"] = df.pop("peat_frac").fillna(0.0)
    flare_id = spatial.assign_polygons_np(
        df["FP_Latitude"].to_numpy(), df["FP_Longitude"].to_numpy(), flares, "flare_id"
    )
    df["FP_Gas_Flaring"] = (flare_id >= 0).astype(np.int32)
    if water_polys is not None:
        wid = spatial.assign_polygons_np(
            df["FP_Latitude"].to_numpy(), df["FP_Longitude"].to_numpy(), water_polys, "water_id"
        )
        df["FP_Water_PIP"] = (wid >= 0).astype(np.int32)
    df = df.drop(columns=[c for c in df.columns if c.startswith("_")])
    det = {
        "FP_Latitude": df["FP_Latitude"].to_numpy(),
        "FP_Longitude": df["FP_Longitude"].to_numpy(),
    }
    det = spatial.encode_cells_np(det)
    for k in (
        "cell_r7", "cell_r8", "cell_r9",
        "hex_r7", "hex_r8", "hex_r9",
        "s2_token", "tile_id",
    ):
        df[k] = det[k]
    return df


def dedup_detections(df: pd.DataFrame) -> pd.DataFrame:
    is_dup, dup_of = spatial.knn_dedup_np(
        df["doc_id"].to_numpy(),
        df["FP_Latitude"].to_numpy(),
        df["FP_Longitude"].to_numpy(),
        df["FP_Power"].to_numpy(),
        df["FP_Line"].to_numpy(),
        df["FP_Sample"].to_numpy(),
    )
    df = df.copy()
    df["is_dup"] = is_dup
    df["dup_of"] = dup_of
    return df


def tiles_frame(df: pd.DataFrame) -> pd.DataFrame:
    """Fire-density tiles: unique detections aggregated per (tile_id, cell_r7)
    — the rasterize-back step of the north rule."""
    keep = df[~df["is_dup"]]
    g = (
        keep.groupby(["tile_id", "cell_r7"], as_index=False)
        .agg(
            n_fires=("FP_Power", "size"),
            total_frp=("FP_Power", "sum"),
            max_frp=("FP_Power", "max"),
            n_high_conf=("FP_confidence", lambda s: int((s == 9).sum())),
        )
        .sort_values(["tile_id", "cell_r7"])
        .reset_index(drop=True)
    )
    return g


def run_corpus(corpus: dict, nl: dict | None = None) -> dict:
    """Oracle end-to-end over an in-memory corpus (from fixtures.build_corpus).
    Skips Day granules before decode (FILDA_main.py:60-61 semantics)."""
    nl = nl or make_namelist()
    anc = corpus["ancillary"]
    frames = []
    per_doc = {}
    for p in corpus["params"]:
        doc_id = p["doc_id"]
        header = corpus["headers"][doc_id]
        if header["DayNightFlag"] == "Day":
            continue
        res = detect_granule(doc_id, corpus["granules"][doc_id], anc, nl)
        per_doc[doc_id] = res
        frames.append(detections_frame(doc_id, res["det"]))
    det = pd.concat(frames).reset_index(drop=True)
    det = enrich_detections(
        det,
        corpus["land_cover"],
        corpus["peatland"],
        corpus["flares"],
        corpus.get("water_polygons"),
    )
    det = dedup_detections(det)
    tiles = tiles_frame(det)
    return dict(detections=det, tiles=tiles, per_doc=per_doc)
