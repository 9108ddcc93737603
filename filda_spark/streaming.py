"""Structured Streaming ingest: granule documents arriving as files feed the
same detect → enrich → dedup → tiles pipeline through ``foreachBatch``.

The reference is strictly batch (SURVEY.md §2.10); the engine's streaming
surface exists for the continuous-ingest deployment mode of the north rule:
documents land in a directory (at production: an Iceberg table whose
snapshots the stream tails), the file source discovers new granules, and
each micro-batch runs the identical batch kernel via
``runner.process_docs`` — so streaming output == batch output by
construction, and the streaming checkpoint + the lineage table give
exactly-once granule processing across restarts.

Late/duplicate granules need no watermark: the per-batch incremental dedup
reconciliation is the event-time handling (a late granule can demote
earlier detections to duplicates, which windowed streaming state could not
express cheaply). runner.update_dedup_incremental (the store's one
writer of dedup_state and tiles) derives the kRing neighborhood of the
batch's cells on the driver and reconciles it in one
cogroup keyed by tile, reading only the tiles that neighborhood touches,
never the full store."""

from __future__ import annotations

import uuid

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from filda_spark import pipeline, runner
from filda_spark.namelist import make_namelist

# ---------------------------------------------------------------------------
# Stateful hotspot tracker (applyInPandasWithState)
# ---------------------------------------------------------------------------

HOTSPOT_OUT_SCHEMA = T.StructType(
    [
        T.StructField("cell_r7", T.LongType()),
        T.StructField("n_batches", T.IntegerType()),
        T.StructField("n_detections", T.LongType()),
        T.StructField("max_frp", T.DoubleType()),
        T.StructField("persistent", T.BooleanType()),
    ]
)
HOTSPOT_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_batches", T.IntegerType()),
        T.StructField("n_detections", T.LongType()),
        T.StructField("max_frp", T.DoubleType()),
    ]
)
PERSISTENT_AFTER = 3  # re-observed in >= 3 micro-batches => persistent source


def _hotspot_update(key, pdfs, state):
    """Per-cell running aggregate across micro-batches: batches seen,
    detection count, max FRP; flags cells re-observed PERSISTENT_AFTER+
    times (gas flares / urban lights — the reference's static-source
    notion, MCBEF_IO.py:387-409, expressed as streaming state)."""
    import pandas as pd  # executor-side

    n_new = 0
    frp_new = float("-inf")
    for pdf in pdfs:
        n_new += len(pdf)
        if len(pdf):
            m = pdf["FP_Power"].max()
            if pd.notna(m):
                frp_new = max(frp_new, float(m))
    n_batches, n_det, max_frp = (state.get if state.exists else (0, 0, float("-inf")))
    n_batches += 1
    n_det += n_new
    max_frp = max(max_frp, frp_new)
    state.update((n_batches, n_det, max_frp))
    yield pd.DataFrame(
        [
            dict(
                cell_r7=key[0],
                n_batches=n_batches,
                n_detections=n_det,
                max_frp=max_frp if max_frp != float("-inf") else float("nan"),
                persistent=n_batches >= PERSISTENT_AFTER,
            )
        ]
    )


def hotspot_tracker(det_stream):
    """Streaming stateful operator over a detection stream: groupBy cell_r7
    + applyInPandasWithState. State lives in the streaming state store
    (checkpointed, exactly-once across restarts); each micro-batch emits the
    updated tracker row for every cell it touched."""
    return (
        det_stream.groupBy("cell_r7")
        .applyInPandasWithState(
            _hotspot_update,
            outputStructType=HOTSPOT_OUT_SCHEMA,
            stateStructType=HOTSPOT_STATE_SCHEMA,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


def stream_ingest(
    spark: SparkSession,
    stream_dir: str,
    corpus_dir: str,
    out_dir: str,
    nl: dict | None = None,
    available_now: bool = True,
):
    """Tail ``stream_dir`` for new document parquet files; process each
    micro-batch with the batch pipeline. ``available_now=True`` drains the
    backlog and stops (the test/bench mode); False runs continuously."""
    nl = nl or make_namelist()

    def process_batch(batch_df, epoch_id: int) -> None:
        # re-delivery guard: the lineage frontier is the granule-level
        # exactly-once check (the stream checkpoint only dedups FILES)
        doc_ids = [r.doc_id for r in runner.frontier(spark, out_dir, batch_df).distinct().collect()]
        if not doc_ids:
            return
        run_id = f"stream-{epoch_id}-{uuid.uuid4().hex[:8]}"
        # process_docs reconciles dedup_state + tiles incrementally per
        # micro-batch (the tiles of the batch's kRing neighborhood only)
        todo = runner.doc_frame(spark, doc_ids)
        runner.process_docs(spark, corpus_dir, out_dir, todo, nl, run_id)

    stream = spark.readStream.schema(pipeline.DOCUMENTS_SCHEMA).parquet(stream_dir)
    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", f"{out_dir}/_stream_checkpoint")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return None
    return writer.start()
