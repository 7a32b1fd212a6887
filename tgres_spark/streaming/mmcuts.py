"""Streaming shot-boundary detection: mm_scene_cuts over a live video
feed. A video's cuts depend ONLY on its own payload (the lag window
partitions by media_id and a video arrives as one row), so the
operator is per-batch decomposable and the deployment is the
STATELESS foreachBatch shape (streaming/incdedup.py's class, not the
cumulative-refresh class): each micro-batch runs the batch engine and
overwrites its own ``b<id>`` output dir (replay-idempotent), and the
union of batch outputs equals the batch relation over all input —
micro-batching is invisible, so the batch oracle checks the stream
verbatim. Contrast documented in streaming/refresh.py: attribution/RFM
need the cumulative refresh because their rows depend on OTHER rows'
future; a per-video signal does not."""

from __future__ import annotations

from pyspark.sql import SparkSession

from .runner import batch_dir, parquet_source, run_to_end


def run_scene_cut_stream(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint: str,
    schema,
    files_per_trigger: int = 1,
) -> None:
    from ..pipeline.multimodal import mm_scene_cuts

    def _cuts(batch, batch_id: int) -> None:
        out = batch_dir(out_dir, batch_id)
        mm_scene_cuts(batch).write.mode("overwrite").parquet(out)

    src = parquet_source(spark, in_dir, schema, files_per_trigger)
    run_to_end(src, checkpoint, batch_fn=_cuts)
