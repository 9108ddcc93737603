"""Spark-pipeline vs single-node-oracle parity (SURVEY.md §5 strategy 1):
detection rows, fire masks, QA rasters, tile assignments must match exactly.
Also: span-sequence invariant enforcement and Day-granule pruning."""

import numpy as np
import pandas as pd
import pytest

from filda_spark import fixtures, oracle, pipeline
from filda_spark.namelist import make_namelist

KEY = ["doc_id", "FP_Line", "FP_Sample"]


@pytest.fixture(scope="session")
def spark_res(spark, corpus, nl):
    res = pipeline.run(spark, corpus["dir"], nl)
    det = res["detections"].toPandas()
    tiles = res["tiles"].toPandas()
    return dict(detections=det, tiles=tiles)


def _assert_frames_equal(s: pd.DataFrame, o: pd.DataFrame, key, cols=None):
    s = s.sort_values(key).reset_index(drop=True)
    o = o.sort_values(key).reset_index(drop=True)
    assert len(s) == len(o), f"row count {len(s)} vs {len(o)}"
    cols = cols or [c for c in o.columns if c in s.columns]
    for c in cols:
        sv, ov = s[c].to_numpy(), o[c].to_numpy()
        if sv.dtype.kind == "f" or ov.dtype.kind == "f":
            sv = sv.astype(float)
            ov = ov.astype(float)
            eq = (sv == ov) | (np.isnan(sv) & np.isnan(ov))
        else:
            eq = pd.Series(sv).astype(str).eq(pd.Series(ov).astype(str)).to_numpy()
        assert eq.all(), f"col {c}: {int((~eq).sum())} mismatches, e.g. {sv[~eq][:3]} vs {ov[~eq][:3]}"


def test_detections_exact_parity(spark_res, oracle_res):
    o = oracle_res["detections"]
    s = spark_res["detections"]
    assert set(o.columns) <= set(s.columns)
    _assert_frames_equal(s, o, KEY)


def test_day_granule_pruned(spark_res):
    # doc pair 3 first-overpass granule is Day -> absent before decode
    assert "VNP.A2019213.0218" not in set(spark_res["detections"].doc_id)


def test_dedup_found_reobservation_pairs(spark_res):
    det = spark_res["detections"]
    assert int(det.is_dup.sum()) == 96  # 3 overlapping pairs x 32 detections
    assert (det.loc[det.is_dup, "dup_of"] != "").all()


def test_tiles_exact_parity(spark_res, oracle_res):
    _assert_frames_equal(
        spark_res["tiles"], oracle_res["tiles"], ["tile_id", "cell_r7"]
    )


def test_masks_exact_parity(spark, corpus, nl, oracle_res):
    mdf = pipeline.detect_masks(spark, corpus["dir"], nl).toPandas()
    assert len(mdf) == len(oracle_res["per_doc"])
    for _, r in mdf.iterrows():
        ref = oracle_res["per_doc"][r.doc_id]
        got_img = np.frombuffer(r.mask_img, dtype=np.int8).reshape(r.nrow, r.ncol)
        assert np.array_equal(got_img, ref["mask_img"])
        got_mod = np.frombuffer(r.mask_mod, dtype=np.int8).reshape(r.nrow // 2, r.ncol // 2)
        assert np.array_equal(got_mod, ref["mask_mod"])
        got_qa = np.frombuffer(r.qa, dtype=np.uint32).reshape(r.nrow, r.ncol)
        assert np.array_equal(got_qa, ref["qa"])


def test_span_invariant_violation_raises(spark, corpus, nl, tmp_path):
    import shutil

    d = tmp_path / "bad"
    shutil.copytree(corpus["dir"], d)
    docs = pd.read_parquet(f"{d}/documents.parquet")
    spans = list(docs.iloc[0]["spans"])
    spans[0], spans[1] = spans[1], spans[0]  # offsets now out of order
    docs.iat[0, docs.columns.get_loc("spans")] = spans
    docs.to_parquet(f"{d}/documents.parquet", index=False)
    with pytest.raises(Exception, match="span offsets"):
        pipeline.detect_detections(spark, str(d), nl).count()


def test_fire_counts_per_granule(oracle_res):
    # 8 planted fires x 4 I-pixels = 32 detections on every night granule
    per_doc = oracle_res["detections"].groupby("doc_id").size()
    assert (per_doc == 32).all()


def test_mod_product_keep_first(spark, oracle_res):
    # M-band product: exactly one row per (doc, M pixel), the first in
    # I-grid scan order, matching a pandas keep-first reference
    odet = oracle_res["detections"]
    sdf = spark.createDataFrame(odet)
    got = (
        pipeline.mod_detections(sdf)
        .select("doc_id", "FP_Line_MOD", "FP_Sample_MOD", "FP_Line", "FP_Sample")
        .toPandas()
        .sort_values(["doc_id", "FP_Line_MOD", "FP_Sample_MOD"])
        .reset_index(drop=True)
    )
    ref = (
        odet.sort_values(["doc_id", "FP_Line", "FP_Sample"])
        .groupby(["doc_id", "FP_Line_MOD", "FP_Sample_MOD"], as_index=False)
        .first()[["doc_id", "FP_Line_MOD", "FP_Sample_MOD", "FP_Line", "FP_Sample"]]
        .sort_values(["doc_id", "FP_Line_MOD", "FP_Sample_MOD"])
        .reset_index(drop=True)
    )
    assert got.equals(ref.astype(got.dtypes.to_dict()))
    # 8 planted fires per granule -> 8 M rows per granule
    assert (got.groupby("doc_id").size() == 8).all()


def test_qa_decode_roundtrip(oracle_res):
    from filda_spark import kernels

    doc = oracle_res["per_doc"]["VNP.A2019213.0200"]
    bits = kernels.decode_algorithm_qa(doc["qa"])
    det = doc["det"]
    # every detection pixel carries the candidate bit; absolute fires the
    # absolute bit; twilight zeros on this non-twilight granule
    assert (bits["candidate"][det["FP_line_img"], det["FP_sample_img"]] == 1).all()
    cdt = doc["cdt"]
    abs_px = cdt["FP_abs_img"] == 1
    assert (bits["absolute_fire"][cdt["FP_line_img"][abs_px], cdt["FP_sample_img"][abs_px]] == 1).all()
    assert bits["twilight"].sum() == 0
    assert bits["bowtie"].sum() > 0  # overlap columns
    assert bits["daytime"].sum() == 0  # always-zero field


def test_detection_flags(oracle_res):
    det = oracle_res["detections"]
    assert int(det.FP_Gas_Flaring.sum()) == 28  # flare site x 7 granules
    assert (det[det.FP_land_water_mask == 0].FP_Land_Type == 17).all()
    assert int((det.FP_confidence == 9).sum()) > 0
    assert int(det.FP_Peatland.sum()) > 0
    saa = det[det.FP_SAA_flag == 1]
    assert len(saa) > 0 and (saa.FP_Latitude <= 7).all()


def test_water_pip_equals_raster_semantics(spark_res, oracle_res):
    """North-rule vector land/water: polygon PIP membership must equal the
    raster land_water_mask==0 test on every detection, in both engines."""
    for res in (oracle_res["detections"], spark_res["detections"]):
        got = res["FP_Water_PIP"].to_numpy(dtype=int)
        ref = (res["FP_land_water_mask"].to_numpy(dtype=int) == 0).astype(int)
        assert (got == ref).all()
    # the corpus really contains water detections (fire_water feature)
    assert oracle_res["detections"]["FP_Water_PIP"].sum() > 0


def test_bucketed_media_no_shuffle(spark, corpus, nl, tmp_path):
    """Bucketed media layout (the Iceberg bucket(N, doc_id) analogue):
    identical detections to the shuffle path, with the cogroup's big side
    satisfied by the scan — exactly ONE Exchange (the tiny docs side) in
    the executed decode plan instead of two."""
    import shutil

    d = str(tmp_path / "bcorpus")
    shutil.copytree(corpus["dir"], d)
    base = pipeline.detect_detections(spark, corpus["dir"], nl).toPandas()

    path = pipeline.ensure_bucketed_media(spark, d)
    assert path and pipeline.bucketed_media(spark, d) is not None

    det_df = pipeline.detect_detections(spark, d, nl)
    got = det_df.toPandas()
    _assert_frames_equal(
        got, base, KEY, cols=[c for c in base.columns if c in got.columns]
    )

    pre = pipeline.detect_granules(spark, d, nl)
    pre.write.mode("overwrite").format("noop").save()
    plan = pre._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"expected only the docs-side exchange, got:\n{plan}"


def test_enrich_keys_staged_pruned_scan(spark, corpus, nl, tmp_path):
    """enrich over the staged detect output (which carries the join keys)
    must (a) produce the same rows as enrich over the unstaged plan, and
    (b) plan each semi-join key-set job as a pruned scan of ONLY the 4 key
    columns — never a re-run of the decode/fit UDF lineage (commit 6995c64)."""
    det = pipeline.detect_detections(spark, corpus["dir"], nl)
    base = pipeline.enrich(spark, det, corpus["dir"]).toPandas()

    stage = str(tmp_path / "staged_det")
    det.write.mode("overwrite").parquet(stage)
    staged = spark.read.parquet(stage)
    got = pipeline.enrich(spark, staged, corpus["dir"]).toPandas()
    _assert_frames_equal(
        got, base, KEY, cols=[c for c in base.columns if c in got.columns]
    )

    # the key-set subplan reads exactly the key columns from parquet
    for keys in (["_h", "_v", "_row", "_col"], ["_ph", "_pv", "_py", "_px"]):
        key_set = staged.select(*keys).dropDuplicates(keys)
        plan = key_set._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
        m = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
        assert m and all(
            set(k.strip("_") for k in keys)
            == set(f.split(":")[0].strip("_") for f in
                   ln.split("struct<", 1)[1].rstrip(">, .").split(","))
            for ln in m
        ), plan


def test_enrich_runs_no_python_stage(spark, corpus, nl, tmp_path):
    """Every per-row enrich column comes from the detect kernel, so enrich
    over a staged detect scan is two static joins: its executed plan holds
    no Python UDF node."""
    stage = str(tmp_path / "staged_det")
    pipeline.detect_detections(spark, corpus["dir"], nl).write.mode("overwrite").parquet(stage)
    enr = pipeline.enrich(spark, spark.read.parquet(stage), corpus["dir"])
    plan = enr._jdf.queryExecution().executedPlan().toString()
    for node in ("ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, plan


def test_static_tables_footer_schema_equals_inference(spark, corpus):
    """enrich reads land_cover/peatland with the schema in their parquet
    footer (no inference job per batch); it must be the schema Spark's
    inference finds, or the joins would read different types."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    for name in ("land_cover", "peatland"):
        path = f"{corpus['dir']}/{name}.parquet"
        assert from_arrow_schema(pq.read_schema(path)) == spark.read.parquet(path).schema, name
