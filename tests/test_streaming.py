"""Streaming ingest == batch pipeline: file-source micro-batches through
foreachBatch must produce the same store as a single batch run, process each
granule exactly once across restarts, and pick up late-arriving files."""

import os
import time

import pandas as pd
import pytest

from filda_spark import runner, streaming

KEY = ["doc_id", "FP_Line", "FP_Sample"]


def test_stream_equals_batch(spark, corpus, nl, tmp_path):
    full_dir = corpus["dir"]
    docs = pd.read_parquet(f"{full_dir}/documents.parquet")
    all_ids = sorted(docs.doc_id)
    stream_dir = tmp_path / "incoming"
    os.makedirs(stream_dir)
    docs[docs.doc_id.isin(all_ids[:5])].to_parquet(stream_dir / "batch1.parquet", index=False)
    docs[docs.doc_id.isin(all_ids[5:])].to_parquet(stream_dir / "batch2.parquet", index=False)

    out_stream = str(tmp_path / "out_stream")
    streaming.stream_ingest(spark, str(stream_dir), full_dir, out_stream, nl)

    out_batch = str(tmp_path / "out_batch")
    runner.run_incremental(spark, full_dir, out_batch, nl)

    a = runner.read_results(spark, out_stream)["detections"].toPandas().sort_values(KEY).reset_index(drop=True)
    b = runner.read_results(spark, out_batch)["detections"].toPandas().sort_values(KEY).reset_index(drop=True)
    assert len(a) == len(b) > 0
    assert (a["doc_id"] == b["doc_id"]).all()
    assert (a["FP_Power"].fillna(-1) == b["FP_Power"].fillna(-1)).all()

    # restart with no new files: checkpoint + lineage -> nothing reprocessed
    lin_before = runner.read_lineage(spark, out_stream).count()
    streaming.stream_ingest(spark, str(stream_dir), full_dir, out_stream, nl)
    assert runner.read_lineage(spark, out_stream).count() == lin_before

    # re-delivery of already-processed granules in a new file: the lineage
    # frontier (granule-level exactly-once) must skip them entirely
    docs[docs.doc_id.isin(all_ids[:2])].to_parquet(stream_dir / "late_redelivery.parquet", index=False)
    streaming.stream_ingest(spark, str(stream_dir), full_dir, out_stream, nl)
    c = runner.read_results(spark, out_stream)["detections"].toPandas()
    assert len(c) == len(a)  # no duplicate rows appended
    assert runner.read_lineage(spark, out_stream).count() == lin_before


def test_hotspot_tracker_stateful(spark, tmp_path):
    """applyInPandasWithState hotspot tracker: per-cell state accumulates
    across micro-batches (one file per trigger) and the persistence flag
    flips after PERSISTENT_AFTER re-observations."""
    import numpy as np

    src = tmp_path / "det_stream"
    os.makedirs(src)
    # cell A appears in all 4 batches, cell B only in batch 0
    batches = []
    t0 = time.time() - 60
    for b in range(4):
        rows = [dict(cell_r7=100, FP_Power=float(10 + b))]
        if b == 0:
            rows.append(dict(cell_r7=200, FP_Power=5.0))
        rows.append(dict(cell_r7=100, FP_Power=float(np.nan)))
        batches.append(rows)
        path = src / f"b{b}.parquet"
        pd.DataFrame(batches[-1]).to_parquet(path, index=False)
        # distinct mtimes: the file source takes one file per trigger in
        # modification-time order, so equal mtimes could reorder batches
        os.utime(path, (t0 + b, t0 + b))

    stream = (
        spark.readStream.schema("cell_r7 long, FP_Power double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        streaming.hotspot_tracker(stream)
        .writeStream.format("memory")
        .queryName("hotspots")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.sql("SELECT * FROM hotspots").toPandas()
    a = out[out.cell_r7 == 100].sort_values("n_batches").reset_index(drop=True)
    # state accumulated monotonically across the 4 batches
    assert a.n_batches.tolist() == [1, 2, 3, 4]
    assert a.n_detections.tolist() == [2, 4, 6, 8]
    assert a.max_frp.tolist() == [10.0, 11.0, 12.0, 13.0]
    assert a.persistent.tolist() == [False, False, True, True]
    b_rows = out[out.cell_r7 == 200]
    assert len(b_rows) == 1 and not b_rows.iloc[0].persistent
    assert b_rows.iloc[0].n_detections == 1


def test_fire_rate_windowed_watermark_semantics(spark):
    """Watermarked tumbling-window streaming agg: append mode must emit
    exactly the windows the final watermark passed (win_end <= max(event) -
    delay), matching the SQL twin's explicit cutoff."""
    import duckdb

    from filda_spark import fire_queries

    out = fire_queries.fire_rate_windowed(spark, "/root/testdata/sf0.001").toPandas()
    assert len(out) > 0
    o = duckdb.sql(fire_queries.oracles()["fire_rate_windowed"]).df()
    key = ["win_start", "tile_id"]
    a = out.sort_values(key).reset_index(drop=True)
    b = o.sort_values(key).reset_index(drop=True)
    assert a[key + ["n_detections"]].equals(b[key + ["n_detections"]])
    assert (a.total_frp - b.total_frp).abs().max() == 0.0
    # the tail windows (not yet passed by the watermark) are withheld:
    # emitted window ends stay <= max(event) - delay
    assert (a.win_start + fire_queries.WIN_SEC).max() <= b.win_start.max() + fire_queries.WIN_SEC


def test_stream_dedup_within_watermark(spark):
    """dropDuplicatesWithinWatermark must project an at-least-once stream
    (each overpass file re-delivers rows of the previous one) onto the
    exactly-once row set — DISTINCT over the original detections."""
    import duckdb
    import pandas as pd

    from filda_spark import fire_queries

    sf = "/root/testdata/sf0.001"
    out = fire_queries.stream_dedup(spark, sf).toPandas()
    d, oracle_pq = fire_queries._dedup_stream_dir(spark, sf)
    delivered = pd.read_parquet(oracle_pq)
    # the stream really carried duplicates (more than one overpass exists)
    assert len(delivered) > delivered.drop_duplicates().shape[0]

    want = duckdb.sql(
        f"SELECT DISTINCT doc_id, FP_Line, FP_Sample, tile_id, FP_Power "
        f"FROM read_parquet('{oracle_pq}')"
    ).df()
    key = ["doc_id", "FP_Line", "FP_Sample"]
    a = out.sort_values(key).reset_index(drop=True)
    b = want.sort_values(key).reset_index(drop=True)
    assert len(a) == len(b)
    assert a[key].astype(str).equals(b[key].astype(str))
    assert (a.FP_Power.to_numpy() == b.FP_Power.to_numpy()).all()


def test_stream_sessions_gap_semantics(spark):
    """Session windows merge bursts closer than the gap and split at
    >= gap; append mode emits only watermark-passed sessions. Recompute
    the gap-islands + cutoff in pandas from the staged stream files."""
    import glob

    import pandas as pd

    from filda_spark import fire_queries as FQ

    sf = "/root/testdata/sf0.001"
    out = FQ.stream_sessions(spark, sf).toPandas()
    d = FQ._windowed_stream_dir(spark, sf)
    rows = pd.concat([pd.read_parquet(p) for p in glob.glob(f"{d}/*.parquet")])
    part = rows.doc_id.str.split(".", expand=True)
    y = part[1].str[1:5].astype(int)
    doy = part[1].str[5:8].astype(int)
    hh = part[2].str[:2].astype(int)
    mi = part[2].str[2:4].astype(int)
    ev = ((pd.to_datetime(y.astype(str) + "-01-01").astype("int64") // 10**9)
          + (doy - 1) * 86400 + hh * 3600 + mi * 60)
    rows = rows.assign(ev=ev)
    gap = FQ.SESSION_GAP_SEC
    cutoff = int(rows.ev.max()) - FQ.WATERMARK_SEC
    want = []
    for tile, sub in rows.groupby("tile_id"):
        sub = sub.sort_values("ev")
        sid = (sub.ev.diff().fillna(gap) >= gap).cumsum()
        for _, s in sub.groupby(sid):
            end = int(s.ev.max()) + gap
            if end <= cutoff:
                want.append((int(s.ev.min()), end, tile, len(s),
                             round(float(s.FP_Power.sum()), 6)))
    got = sorted(map(tuple, out[["sess_start", "sess_end", "tile_id",
                                 "n_detections", "total_frp"]].values.tolist()))
    want = sorted(want)
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert g[:4] == w[:4]
        assert abs(g[4] - w[4]) < 1e-4
