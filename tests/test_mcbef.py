"""MCBEF stage: reference-semantics gating ladder (bowtie/missing/degrade,
MCBEF.py:616-697), background MAP (t_b, C), FRP atmospheric correction, and
draw-for-draw parity between the distributed estimator and the single-node
twin (deterministic per-fire seeding)."""

import numpy as np
import pandas as pd
import pytest

from filda_spark import mcbef

KEY = ["doc_id", "FP_Line", "FP_Sample"]


def make_row(**over):
    """One prepared detection row with physically-consistent synthetic
    radiances: ~300 K background + a small 1000 K fire component."""
    t_b, t_fire, frac = 300.0, 1000.0, 1e-3
    d = dict(doc_id="VNP.A2019213.0200", FP_Line=10, FP_Sample=20)
    for b in set(mcbef.SEL_FIRE_BANDS) | set(mcbef.SEL_BG_BANDS):
        bg = mcbef.band_radiance(b, t_b, mcbef.MEAN_C, 15.0) * 0.96
        fire = frac * mcbef.band_radiance(b, t_fire, mcbef.MEAN_C, 15.0)
        scale = 1.0 / mcbef.DNB_SCALE if b == "DNB" else 1.0
        d[f"FP_{b}_Rad_Mean"] = bg * scale
        d[f"FP_{b}_Rad"] = (bg + fire) * scale
    d.update(
        Emis_M14=0.96,
        Emis_M15=0.96,
        Emis_M16=0.96,
        Emis_I05=0.96,
        LST_Night_1KM=300.0,
        LST_Night_1KM_STD=3.0,
        Sensor_Zenith=15.0,
        FP_Area_mod=562500.0,
        FP_Power=25.0,
        FP_Gas_Flaring=0,
        Static_flag=0,
        FP_Bowtie=0.0,
        FP_Land_Type=8,
    )
    d.update(over)
    return pd.DataFrame([d])


def test_gating_ladder():
    base = mcbef.estimate_pdf(make_row())
    assert base.iloc[0].QA in (mcbef.FLAG_BIPHASIC, mcbef.FLAG_BIPHASIC + mcbef.FLAG_BACKGROUND)
    # bowtie gate short-circuits everything (MCBEF.py:618-621)
    assert mcbef.estimate_pdf(make_row(FP_Bowtie=0.2)).iloc[0].QA == mcbef.FLAG_BOWTIE
    # missing background -> 101; missing fire -> 102
    assert mcbef.estimate_pdf(make_row(LST_Night_1KM=np.nan)).iloc[0].QA == mcbef.FLAG_MISSING_BG
    assert (
        mcbef.estimate_pdf(make_row(Emis_M15=np.nan)).iloc[0].QA == mcbef.FLAG_MISSING_BG
    )
    assert (
        mcbef.estimate_pdf(make_row(FP_M13_Rad=np.nan)).iloc[0].QA == mcbef.FLAG_MISSING_FIRE
    )
    # gas-flare and static-anomaly pixels take the uniphasic branch
    fl = mcbef.estimate_pdf(make_row(FP_Gas_Flaring=1))
    assert fl.iloc[0].QA % 10 == mcbef.FLAG_UNIPHASIC
    assert fl.iloc[0].FP_combined_land_type == 102
    st = mcbef.estimate_pdf(make_row(Static_flag=1))
    assert st.iloc[0].QA % 10 == mcbef.FLAG_UNIPHASIC
    assert st.iloc[0].FP_combined_land_type == 101
    # uniphasic family leaves the smoldering phase unsummarized
    assert np.isnan(st.iloc[0].t_s_mean) and np.isnan(st.iloc[0].FP_Power_S_mean)


def test_background_map_and_frp_correction():
    row = make_row()
    a = mcbef.estimate_pdf(row).iloc[0]
    # MAP recovers the planted background temperature within the prior scale
    assert abs(a.t_b - 300.0) < 5.0
    assert 0.0 <= a.C <= 3.0
    # deterministic
    b = mcbef.estimate_pdf(row).iloc[0]
    assert a.t_b == b.t_b and a.C == b.C
    # corrected-FRP monotonicity: tt<1 so the likelihood target frp exceeds
    # the raw FP_Power (checked indirectly through band_transmittance)
    tt = mcbef.band_transmittance("M13", a.C, 15.0)
    assert 0.5 < tt < 1.0


def test_degrade_ladder(monkeypatch):
    calls = []
    orig = mcbef.metropolis

    def failing_biphasic(obs, sigma, c, vza, area, frp, frp_sigma, seed, biphasic):
        calls.append(biphasic)
        if biphasic:
            raise mcbef.SamplerFailure("forced")
        return orig(obs, sigma, c, vza, area, frp, frp_sigma, seed, biphasic)

    monkeypatch.setattr(mcbef, "metropolis", failing_biphasic)
    out = mcbef.estimate_pdf(make_row()).iloc[0]
    assert calls == [True, False]  # biphasic attempted, degraded to uniphasic
    assert out.QA % 10 == mcbef.FLAG_DEGRADE
    assert np.isfinite(out.t_f_mean)

    def all_fail(*a, **k):
        raise mcbef.SamplerFailure("forced")

    monkeypatch.setattr(mcbef, "metropolis", all_fail)
    assert mcbef.estimate_pdf(make_row()).iloc[0].QA == mcbef.FLAG_FAIL_BIPHASIC
    assert (
        mcbef.estimate_pdf(make_row(FP_Gas_Flaring=1)).iloc[0].QA == mcbef.FLAG_FAIL_UNIPHASIC
    )


def test_sample_output_matches_state():
    row = make_row()
    state = mcbef.estimate_pdf(row).iloc[0]
    samples = mcbef.estimate_samples_pdf(row)
    assert len(samples) == mcbef.N_SAMPLES
    assert (samples.QA == state.QA).all()
    # state summaries recompute from the sample draws (biphasic valid filter)
    d = samples[["t_s", "p_s", "t_f", "p_f"]].to_numpy()
    valid = (d[:, 0] > state.t_b) & (d[:, 1] > 0) & (d[:, 2] > state.t_b) & (d[:, 3] > 0)
    assert np.isclose(state.t_f_mean, d[valid, 2].mean())
    assert np.isclose(state.p_s_mean, d[valid, 1].mean())


def test_hdi_and_mode():
    x = np.concatenate([np.random.default_rng(0).normal(0, 1, 900), np.full(100, 10.0)])
    lo, up = mcbef.hdi_95(x)
    assert lo < 3 and up <= 10.0  # narrowest 95% window
    # exact most-frequent draw (Metropolis repeats rejected states)
    y = np.array([1.0, 2.0, 2.0, 3.0, 3.0, 0.5])
    assert mcbef.mode_of(y) == 2.0  # tie between 2.0/3.0 -> smallest


def test_prepare_parity_and_spark_matches_single_node(spark, corpus, nl, oracle_res):
    odet = oracle_res["detections"]
    prepared_ref = mcbef.prepare_pdf(odet, corpus["dir"])
    # the coalesce exercised: some NRT cells are NaN, all must fill from CLT
    for b in ("M14", "M15", "M16"):
        assert prepared_ref[f"Emis_{b}"].notna().all()
    assert prepared_ref["Static_flag"].isin([0, 1]).all()

    sdf = spark.createDataFrame(odet)
    prepared = mcbef.prepare(spark, sdf, corpus["dir"])
    pcols = ["Emis_M14", "Emis_M15", "Emis_M16", "Emis_I05", "LST_Night_1KM", "Static_flag"]
    a = prepared.select(*KEY, *pcols).toPandas().sort_values(KEY).reset_index(drop=True)
    b = prepared_ref[KEY + pcols].sort_values(KEY).reset_index(drop=True)
    for c in pcols:
        assert np.allclose(a[c].astype(float), b[c].astype(float), equal_nan=True), c

    ref = mcbef.estimate_pdf(prepared_ref).sort_values(KEY).reset_index(drop=True)
    got = mcbef.estimate(prepared, n_parts=8).toPandas().sort_values(KEY).reset_index(drop=True)
    for c in ref.columns:
        rv, gv = ref[c].to_numpy(), got[c].to_numpy()
        if rv.dtype.kind == "f":
            assert np.array_equal(rv.astype(float), gv.astype(float), equal_nan=True), c
        else:
            assert (pd.Series(rv).astype(str) == pd.Series(gv).astype(str)).all(), c
    # all ladder outcomes represented in the fixture corpus
    assert (ref.QA % 10 == mcbef.FLAG_BIPHASIC).any()
    assert (ref.QA % 10 == mcbef.FLAG_UNIPHASIC).any()  # static/flare pixels


def test_eval_semantics():
    """do_eval twin (MCBEF_EVAL.py:22-109): forward model re-run at the
    State estimates, per band, model_sig = background + fire on the fire
    bands (emissivity 1 — the reference fire tensors keep emit=ones),
    emis-weighted background alone on the bg bands."""
    row = make_row()
    state = mcbef.estimate_pdf(row).iloc[0]
    ev = mcbef.evaluate_pdf(row)
    fire = ev[ev.part == "fire"].set_index("band")
    bg = ev[ev.part == "bg"].set_index("band")
    assert list(fire.index) == list(mcbef.SEL_FIRE_BANDS)
    assert list(bg.index) == list(mcbef.SEL_BG_BANDS)
    assert (ev.QA == state.QA).all()
    # additivity + residual definition
    assert np.allclose(fire.model_sig, fire.model_bg + fire.model_fire)
    assert np.allclose(fire.resid, fire.model_sig - fire.obs_rad)
    # fire-band background term: emissivity-1 radiance at (t_b, C)
    for b in mcbef.SEL_FIRE_BANDS:
        assert fire.loc[b, "model_bg"] == pytest.approx(
            mcbef.band_radiance(b, state.t_b, state.C, 15.0), rel=1e-12
        )
    # bg-band model: emis * bandrad(t_b, C); obs is the windowed mean
    for b in mcbef.SEL_BG_BANDS:
        assert bg.loc[b, "model_sig"] == pytest.approx(
            0.96 * mcbef.band_radiance(b, state.t_b, state.C, 15.0), rel=1e-12
        )
    # biphasic fire term at the posterior means
    if state.QA % 10 == mcbef.FLAG_BIPHASIC:
        temps = np.array([state.t_s_mean, state.t_f_mean])
        fracs = np.array([state.p_s_mean, state.p_f_mean])
        want = mcbef._fire_model(temps, fracs, state.C, 15.0)
        assert np.allclose(fire.model_fire.to_numpy(), want)
    # the planted fire is bright enough that the model tracks the raw signal
    m13 = fire.loc["M13"]
    assert abs(m13.resid) < 0.5 * m13.obs_rad
    # gated rows produce no eval rows (do_eval is only reached post-estimate)
    assert mcbef.evaluate_pdf(make_row(FP_Bowtie=0.2)).empty
    assert mcbef.evaluate_pdf(make_row(LST_Night_1KM=np.nan)).empty


def test_eval_spark_matches_single_node(spark, corpus, nl, oracle_res):
    odet = oracle_res["detections"]
    prepared_ref = mcbef.prepare_pdf(odet, corpus["dir"])
    ref = mcbef.evaluate_pdf(prepared_ref)
    sdf = mcbef.prepare(spark, spark.createDataFrame(odet), corpus["dir"])
    got = mcbef.evaluate(sdf, n_parts=8).toPandas()
    key = KEY + ["part", "band"]
    ref = ref.sort_values(key).reset_index(drop=True)
    got = got.sort_values(key).reset_index(drop=True)
    assert len(ref) == len(got) and len(ref) > 0
    for c in ref.columns:
        rv, gv = ref[c].to_numpy(), got[c].to_numpy()
        if rv.dtype.kind == "f":
            assert np.array_equal(rv.astype(float), gv.astype(float), equal_nan=True), c
        else:
            assert (pd.Series(rv).astype(str) == pd.Series(gv).astype(str)).all(), c


def test_sensor_csv_seam(tmp_path):
    """Reference-shaped RSR CSVs (band.csv: lamda,rsr,tau_wvp,tau_other_gas)
    load through the same code path as the synthetic curves: identical CSVs
    give identical radiances, a perturbed curve changes them (the data path
    is live, not decorative)."""
    import numpy as np

    from filda_spark import mcbef

    d = tmp_path / "sensor"
    d.mkdir()
    bands = sorted(set(mcbef.SEL_BG_BANDS) | set(mcbef.SEL_FIRE_BANDS))
    for b in bands:
        s = mcbef.SENSOR[b]
        rows = np.column_stack([s["lam"], s["rsr"], s["tau_wvp"], s["tau_gas"]])
        np.savetxt(
            d / f"{b}.csv", rows, delimiter=",",
            header="lamda,rsr,tau_wvp,tau_other_gas", comments="",
        )
    base = mcbef.band_radiance("M13", 320.0, 1.5, 20.0)
    orig = mcbef.SENSOR
    try:
        mcbef.set_sensor(mcbef.load_sensor_csv(str(d)))
        assert mcbef.band_radiance("M13", 320.0, 1.5, 20.0) == pytest.approx(base, rel=1e-12)
        # perturb one band's RSR -> radiance must move
        s = mcbef.SENSOR["M13"]
        rows = np.column_stack([s["lam"], s["rsr"] * np.linspace(1.0, 1.2, s["lam"].size), s["tau_wvp"], s["tau_gas"]])
        np.savetxt(d / "M13.csv", rows, delimiter=",", header="lamda,rsr,tau_wvp,tau_other_gas", comments="")
        mcbef.set_sensor(mcbef.load_sensor_csv(str(d)))
        assert mcbef.band_radiance("M13", 320.0, 1.5, 20.0) != pytest.approx(base, rel=1e-12)
    finally:
        mcbef.set_sensor(orig)


@pytest.mark.parametrize("raw", ["0,200,300", "2,200", "2;200;300", "2,x,300"])
def test_env_depth_rejects_malformed(raw):
    """FILDA_MCBEF_DEPTH is read at import in every process: a malformed
    value must fail the import with a ValueError naming the variable, not
    run a zero-chain sampler or die on a bare TypeError."""
    import os
    import subprocess
    import sys

    env = dict(os.environ, FILDA_MCBEF_DEPTH=raw)
    res = subprocess.run(
        [sys.executable, "-c", "import filda_spark.mcbef"],
        env=env, capture_output=True, text=True,
    )
    assert res.returncode != 0
    assert "ValueError: FILDA_MCBEF_DEPTH" in res.stderr


def test_env_depth_sets_sampler_depth():
    import os
    import subprocess
    import sys

    env = dict(os.environ, FILDA_MCBEF_DEPTH="3,20,40")
    res = subprocess.run(
        [sys.executable, "-c",
         "from filda_spark import mcbef; print(mcbef.N_CHAINS, mcbef.N_TUNE, mcbef.N_DRAWS, mcbef.N_SAMPLES)"],
        env=env, capture_output=True, text=True, check=True,
    )
    assert res.stdout.split() == ["3", "20", "40", "120"]
