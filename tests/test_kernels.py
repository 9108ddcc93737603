"""Unit checks pinning kernel semantics on small handcrafted inputs — the
kernels are shared by oracle and engine, so these pin the *reference*
semantics (formula constants, window growth, NaN handling) independently of
the Spark/oracle parity tests."""

import numpy as np
import pytest

from filda_spark import kernels, spatial
from filda_spark.namelist import make_namelist


def test_planck_bt_roundtrip():
    for lam in (3.74, 4.05, 10.76, 11.57841):
        t = np.array([250.0, 300.0, 400.0, 1500.0])
        rad = kernels.planck_rad(lam, t)
        back = kernels.bt_from_rad(rad, lam)
        # forward uses c1/c2 approximation; inverse uses exact h/k/c — the
        # reference pairs them the same way, agreement is ~1e-3 K relative
        assert np.allclose(back, t, rtol=2e-4)


def test_spatial_static_matches_direct():
    rng = np.random.default_rng(7)
    a = rng.normal(10, 2, (12, 15))
    a[3, 4] = np.nan
    a[0, 0] = np.nan
    mean, std, num = kernels.spatial_static(a, 5)
    # direct window stats at an interior point
    i, j = 6, 7
    w = a[i - 2 : i + 3, j - 2 : j + 3]
    v = w[np.isfinite(w)]
    assert abs(mean[i, j] - v.mean()) < 1e-8
    assert abs(std[i, j] - v.std()) < 1e-6
    assert abs(num[i, j] - v.size) < 1e-6


def test_cal_bgstat_growth_and_miss():
    nl = make_namelist()
    bg = {
        "BTI04_LAND": np.full((80, 80), np.nan),
        "BTI05_LAND": np.full((80, 80), np.nan),
        "BTD_IMG_LAND": np.full((80, 80), np.nan),
    }
    # all-NaN -> None (no background within max window)
    assert kernels.cal_bgstat(bg, 40, 40, nl, "_LAND") is None
    # plant 10 valid pixels just outside the initial half_win=5 window so the
    # loop must grow; medians must be exact
    bg["BTI04_LAND"][47, 34:44] = np.arange(10) + 300.0
    bg["BTI05_LAND"][47, 34:44] = 280.0
    bg["BTD_IMG_LAND"][47, 34:44] = 20.0
    st = kernels.cal_bgstat(bg, 40, 40, nl, "_LAND")
    assert st is not None
    assert st["FP_I04_Mean"] == np.median(np.arange(10) + 300.0)
    assert st["FP_BTD_MAD"] == 0.0
    # grew 5->6->7 (row 47 enters at hw=7); half_win post-increments to 8
    # before exit, recorded size = (half_win - win_step) * 2 = 14
    assert st["FP_WinSize"] == 14


def test_identify_one_status_bitpack():
    nl = make_namelist()
    bg = {k: np.full((40, 40), np.nan) for k in ("BTI04_LAND", "BTI05_LAND", "BTD_IMG_LAND")}
    bg["BTI04_LAND"][18:23, 18:23] = 300.0
    bg["BTI05_LAND"][18:23, 18:23] = 290.0
    bg["BTD_IMG_LAND"][18:23, 18:23] = 10.0
    cdt = dict(
        FP_line_img=np.array([20]),
        FP_sample_img=np.array([20]),
        FP_abs_img=np.array([0]),
        FP_land_water_mask=np.array([1]),
        SAA_flag=np.array([0]),
        FP_posDNB=np.array([1.0]),
        BTI04=np.array([320.0]),
        BTI05=np.array([295.0]),
        BTD_IMG=np.array([25.0]),
    )
    out = kernels.identify_one(cdt, bg, 0, nl)
    # MAD=0: tests 1 and 3 trivially pass, BTD 25 >= 10+7.5 -> all pass = 7
    assert out["FP_Status"] == 7
    cdt["BTD_IMG"] = np.array([5.0])  # fails tests 1 (5<10) and 2
    out = kernels.identify_one(cdt, bg, 0, nl)
    assert out["FP_Status"] == -1  # only test 3 passes -> -(0*4+0*2+1)


def test_dnb_threshold_floor():
    assert kernels.dnb_threshold(np.full((50, 50), 0.2)) == 4.0
    big = np.full((20, 20), 100.0)
    big[0, :10] = 5.0  # lowest 1% of 400 = 4 px -> mean 5
    assert kernels.dnb_threshold(big) == 5.0


def test_resample_renormalizes_weights():
    raw = np.array([[1.0, np.nan, 3.0]])
    idx = np.array([[[0, 1], [1, 2]]])  # pixel0 <- raw0,raw1; pixel1 <- raw1,raw2
    w = np.array([[[0.6, 0.4], [0.6, 0.4]]])
    out = kernels.resample_dnb(raw, idx, w)
    assert np.isclose(out[0, 0], 1.0)  # raw1 NaN -> weight renormalized onto raw0
    assert np.isclose(out[0, 1], 3.0)


def test_reverse_bits():
    assert kernels.reverse_bits_np(np.array([0b1011]), 4)[0] == 0b1101
    assert kernels.reverse_bits_np(np.array([1]), 12)[0] == 1 << 11


def test_nelder_mead_recovers_mixture():
    truth = np.array([900.0, 295.0, 0.01])
    obs = truth[2] * kernels.planck_rad_vec(kernels._FIT_LAM, truth[0]) + (
        1 - truth[2]
    ) * kernels.planck_rad_vec(kernels._FIT_LAM, truth[1])
    x, fv = kernels.nelder_mead(
        kernels._fit_residual, kernels.FIT_X0, kernels.FIT_BOUNDS, args=(obs,), max_iter=500
    )
    assert fv < 1e-6  # residual minimized; parameters may trade off


def test_point_in_polygon():
    lat = np.array([0.5, 1.5, 0.0])
    lon = np.array([0.5, 0.5, 2.0])
    inside = spatial.point_in_polygon_np(lat, lon, [0, 0, 1, 1], [0, 1, 1, 0])
    assert inside.tolist() == [True, False, False]


def test_knn_dedup_dominance():
    # two docs, same spot: the lower-power one is the duplicate
    is_dup, dup_of = spatial.knn_dedup_np(
        np.array(["a", "b", "b"]),
        np.array([10.0, 10.001, 30.0]),
        np.array([5.0, 5.001, 5.0]),
        np.array([2.0, 9.0, 1.0]),
        np.array([1, 2, 3]),
        np.array([1, 2, 3]),
    )
    assert is_dup.tolist() == [True, False, False]
    assert dup_of[0] == "b:2:2"


def test_saa_flag_rect():
    nl = make_namelist()
    assert kernels.saa_flag(np.array([-20.0]), np.array([-60.0]), nl)[0] == 1
    assert kernels.saa_flag(np.array([10.0]), np.array([-60.0]), nl)[0] == 0


def test_frp_background_without_detections():
    """A granule whose candidates all fail the contextual test reaches the
    FRP background with no detections; it must still get every field
    _frp_local returns (as empty arrays), or fire_params raises KeyError
    and the granule's failure takes its whole batch down."""
    from filda_spark.namelist import ANCILLARY_BANDS

    nl = make_namelist()
    bg = {
        f"rad{b}_LAND": np.ones((40, 40) if b in ("I04", "I05") else (20, 20))
        for b in ("M13", *ANCILLARY_BANDS)
    }
    one = kernels._frp_local(bg, 10, 10, 3, "_LAND", nl)
    none = kernels.frp_background({"FP_line_mod": np.empty(0, np.int64)}, bg, nl)
    assert set(one) <= set(none)
    assert all(none[k].size == 0 for k in one)


def test_mask_paint_priority():
    # bowtie (painted last) must win over a fire pixel
    g = dict(
        land_water_mask=np.ones((4, 4), dtype=np.int8),
        CM=np.ones((8, 8)),
    )
    det = dict(
        FP_line_img=np.array([0]),
        FP_sample_img=np.array([1]),
        FP_I04_Mean=np.array([300.0]),
        FP_land_water_mask=np.array([1]),
        BTD_IMG=np.array([20.0]),
        FP_SAA_flag=np.array([0]),
    )
    cdt = dict(QA_FLAG=np.array([1]), FP_line_img=np.array([0]), FP_sample_img=np.array([1]))
    overlap = np.zeros((8, 8))
    overlap[:, 1] = 0.3
    nl = make_namelist()
    mask = kernels.gen_fire_img_mask(g, det, cdt, overlap, nl)
    assert mask[0, 1] == 1  # bowtie wins
    overlap[:, 1] = 0.0
    mask = kernels.gen_fire_img_mask(g, det, cdt, overlap, nl)
    assert mask[0, 1] == 8  # nominal fire


def test_decode_dn_seam():
    """DN->radiance/BT decode (FILDA_IO.py:631-644, 767-797): scale/offset
    arithmetic, embedded-LUT BT gather, fill-DN and QF NaN propagation."""
    from filda_spark import fixtures

    rng = np.random.default_rng(3)
    truth = rng.uniform(0.05, 2.5, (6, 8))
    dn = np.round(truth / fixtures.M13_SCALE_FACTOR).astype(np.uint16)
    dn[0, 0] = 65535  # fill
    lut = fixtures.make_m13_bt_lut()
    g = {
        "M13_dn": dn.copy(),
        "M13_bt_lut": lut,
        "M13_dn_attrs": np.array([fixtures.M13_SCALE_FACTOR, fixtures.M13_ADD_OFFSET]),
    }
    kernels.decode_dn(g, "M13")
    rad = g["M13_rad"]
    assert np.isnan(rad[0, 0])
    ok = np.isfinite(rad)
    # quantization bounded by half a scale step
    assert np.abs(rad[ok] - truth[ok]).max() <= fixtures.M13_SCALE_FACTOR / 2 + 1e-12
    # BT comes from the LUT gather, not a fresh Planck inversion
    assert np.array_equal(g["BTM13"][ok], lut[dn[ok]].astype(np.float64))
    assert np.isnan(g["BTM13"][0, 0])
    # QF invalidation nulls the LUT BT alongside the radiance
    g2 = dict(g)
    g2["M13_quality_flags"] = np.zeros_like(dn, dtype=np.uint8)
    g2["M13_quality_flags"][1, 1] = 128
    g2["latitude"] = np.full(dn.shape, 20.0)
    g2["land_water_mask"] = np.ones(dn.shape, dtype=np.int8)
    kernels.qa_invalidate(g2)
    assert np.isnan(g2["M13_rad"][1, 1]) and np.isnan(g2["BTM13"][1, 1])


def test_planck_fit_batched_bit_identical_to_scalar():
    """The batched Nelder-Mead (kernels.nelder_mead_batch) must reproduce
    the scalar per-detection fit bit-for-bit — the materialized fire oracles
    depend on these exact floats. Covers noisy mixtures, missing bands,
    nonpositive radiances and fully-degenerate rows."""
    import numpy as np

    from filda_spark import kernels as K

    rng = np.random.default_rng(42)
    n = 400
    t_f = rng.uniform(600, 1800, n)
    t_b = rng.uniform(240, 330, n)
    frac = rng.uniform(1e-4, 0.3, n)
    obs = np.stack(
        [
            f_ * K.planck_rad_vec(K._FIT_LAM, float(tf_))
            + (1 - f_) * K.planck_rad_vec(K._FIT_LAM, float(tb_))
            for tf_, tb_, f_ in zip(t_f, t_b, frac)
        ]
    )
    obs *= rng.normal(1.0, 0.05, obs.shape)
    obs[rng.random(obs.shape) < 0.03] = np.nan
    obs[rng.random(obs.shape) < 0.02] = -1.0
    obs[:3] = np.nan
    obs[3] = np.nan
    obs[3, :2] = [1.0, 2.0]
    det = {"FP_line_img": np.arange(n)}
    for j, b in enumerate(K.FIT_BANDS):
        det[f"FP_{b}_Rad"] = obs[:, j].copy()

    # scalar reference: the pre-batch per-detection loop, verbatim
    pre_all = K._FIT_C1 / K._FIT_LAM**5
    c2l_all = K._FIT_C2 / K._FIT_LAM
    tf = np.full(n, np.nan)
    tb = np.full(n, np.nan)
    fr = np.full(n, np.nan)
    st = np.zeros(n, dtype=np.int8)
    with np.errstate(over="ignore", invalid="ignore", divide="ignore"):
        for i in range(n):
            o = obs[i]
            ok = np.isfinite(o) & (o > 0)
            if ok.sum() < 3:
                if np.isfinite(o).sum() < 3:
                    continue
                x, fval = K.nelder_mead(K._fit_residual, K.FIT_X0, K.FIT_BOUNDS, args=(o,))
            else:
                x, fval = K.nelder_mead(
                    K._fit_residual_fast,
                    K.FIT_X0,
                    K.FIT_BOUNDS,
                    args=(pre_all[ok], c2l_all[ok], o[ok]),
                )
            tf[i], tb[i], fr[i] = x
            st[i] = 1 if np.isfinite(fval) else 0

    out = K.planck_fit(det)
    for name, ref in (("FP_Fire_Temp", tf), ("FP_BG_Temp", tb), ("FP_Fire_Frac", fr)):
        got = out[name]
        same = (ref == got) | (np.isnan(ref) & np.isnan(got))
        assert same.all(), name
    assert (out["FP_Opt_Status"] == st).all()
