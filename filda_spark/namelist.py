"""Detection configuration ("namelist") — the reference's flat key:value
threshold file re-expressed as a plain dict broadcast to executors.

Default values mirror `src/FILDA2/namelist.input:27-52` verbatim (these are
the published FILDA2 algorithm thresholds). Geometry keys parameterize the
synthetic granule scale so tests run on small rasters while the semantics
(window growth, clamping, 2:1 I/M ratio) are unchanged.
"""

from __future__ import annotations

DEFAULTS: dict[str, float | int] = {
    # candidate predicates (namelist.input:27-35)
    "thres_BTI04": 295.0,
    "thres_BTD_IMG": 10.0,
    "thres_DNB": 0.99,
    "thres_BTD_MOD": 0.0,
    "thres_ABSI04": 320.0,
    "thres_SATI04": 367.0,
    "thres_FLDI04": 208.0,
    "thres_FLDI05": 310.0,
    "thres_SATI05": 335.0,
    # cloud tests (namelist.input:36-41)
    "thres_cloud_gross": 9.0,
    "thres_cloud_high": 4.5,
    "thres_cloud_water": 2.0,
    "thres_cloud_I04": 295.0,
    "thres_cloud_I05": 265.0,
    # twilight band (namelist.input:42-43)
    "twilight_ang_min": 92.5,
    "twilight_ang_max": 97.5,
    # contextual window (namelist.input:44-48)
    "thres_num": 10,
    "thres_frac": 0.25,
    "half_win_ini": 10,
    "half_win_max": 31,
    "win_step": 1,
    # FRP window (namelist.input:49-53)
    "thres_num_FRP": 10,
    "thres_frac_FRP": 0.25,
    "half_win_ini_FRP": 3,
    "half_win_max_FRP": 61,
    "win_step_FRP": 1,
    # dynamic visible-anomaly window (FILDA.py:326 `dim = 501`); scaled down
    # proportionally with granule raster size in tests.
    "dyn_win_dim": 501,
    # GEOS-FP grid resolution (FILDA_IO.py:990-1028 0.25 x 0.3125 deg)
    "resol_lat": 0.25,
    "resol_lon": 0.3125,
    # NTL Plate-Carree tile raster cells per 10 deg (2400 full / smaller in tests)
    "ntl_cells": 2400,
    # city-light screen: NTL climatology mean > 10 nW (FILDA.py:163)
    "thres_city_ntl": 10.0,
    # SAA bounding rect [N, S, W, E] (FILDA_IO.py:430-437)
    "saa_north": 7.0,
    "saa_south": -55.0,
    "saa_west": -110.0,
    "saa_east": 20.0,
    # bowtie overlap threshold (FILDA.py:2288-2292, 2348-2349)
    "thres_bowtie": 0.2,
}


def make_namelist(**overrides) -> dict:
    nl = dict(DEFAULTS)
    nl.update(overrides)
    return nl


# Band centre wavelengths in um (FILDA_BT.py:15-25)
LAMBDA_UM: dict[str, float] = {
    "M07": 0.865,
    "M08": 1.24,
    "M10": 1.61,
    "M11": 2.25,
    "M12": 3.70,
    "M13": 4.05,
    "M14": 8.55,
    "M15": 10.76,
    "M16": 12.0125,
    "I04": 3.757557,
    "I05": 11.57841,
    # DNB panchromatic band centre (0.5-0.9 um response, centre ~0.7 um);
    # used only by the MCBEF fire forward model (MCBEF namelist fire bands)
    "DNB": 0.7,
}

# ancillary bands recorded with background stats in the FRP stage
# (FILDA.py:1316 `ancillary_bands`)
ANCILLARY_BANDS = ["M07", "M08", "M10", "M11", "M12", "M14", "M15", "M16", "I04", "I05", "DNB"]
