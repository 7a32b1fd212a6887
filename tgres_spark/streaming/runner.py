"""The one Structured Streaming run loop of ``streaming/``.

Every runner here is a source, a plan over it, and one of two sinks:
a parquet file sink at ``path`` (append/update output of a
watermarked or stateless plan) or a ``foreachBatch`` function.
``run_to_end`` drives either with ``availableNow`` — consume all
input present at start, in as many micro-batches as the source's
``maxFilesPerTrigger`` allows, then stop — and blocks until done. A
failing batch raises ``StreamingQueryException`` out of
``awaitTermination``; the batch is not committed to the checkpoint,
so the next run over the same checkpoint replays it.

foreachBatch outputs follow one layout: batch ``id`` overwrites
``b<id>`` (``batch_dir``), so a replay rewrites identical content
instead of appending twice, and readers list only COMMITTED
directories — those holding parquet's ``_SUCCESS`` job-commit marker
(``committed_batches``, ``read_batches``) — so a crash mid-write is
never observed.

Reference analogue: the receiver's single ingest loop
(receiver/receiver.go, flusher.go) — one loop, many pipelines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, GroupedData, SparkSession
from pyspark.sql import functions as F

from ..model import T


def parquet_source(
    spark: SparkSession, in_dir: str, schema, files_per_trigger: int | None = None
) -> DataFrame:
    """Parquet file-drop stream; ``files_per_trigger`` caps the files
    each micro-batch takes (None: all available files in one batch)."""
    reader = spark.readStream.schema(schema)
    if files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    return reader.parquet(in_dir)


def run_to_end(
    df: DataFrame,
    checkpoint: str,
    *,
    path: str | None = None,
    batch_fn: Callable[[DataFrame, int], None] | None = None,
    mode: str = "append",
) -> None:
    """Run streaming ``df`` until its input is exhausted: into a
    parquet file sink at ``path``, or through ``batch_fn(batch,
    batch_id)`` when given. Exactly-once via ``checkpoint``."""
    w = df.writeStream.outputMode(mode).option("checkpointLocation", checkpoint)
    if batch_fn is None:
        w = w.format("parquet").option("path", path)
    else:
        w = w.foreachBatch(batch_fn)
    w.trigger(availableNow=True).start().awaitTermination()


def overwrite_table(out_dir: str) -> Callable[[DataFrame, int], None]:
    """Complete-mode sink: every batch rewrites the whole result table
    at ``out_dir`` from the full state."""

    def sink(bdf: DataFrame, batch_id: int) -> None:
        bdf.write.mode("overwrite").parquet(out_dir)

    return sink


def batch_dir(out_dir: str, batch_id: int) -> str:
    return f"{out_dir}/b{batch_id:06d}"


def committed_batches(spark: SparkSession, out_dir: str) -> list[int]:
    """Sorted ids of the ``b<id>`` directories under ``out_dir`` that
    hold a _SUCCESS marker — a crash mid-write leaves its directory
    uncommitted and invisible, and the replayed batch's overwrite
    completes it. Listing goes through the Hadoop FileSystem API, so
    ``out_dir`` may be any Hadoop URI."""
    from .catalog import _fs

    fs, d, jvm = _fs(spark, out_dir)
    if not fs.exists(d):
        return []
    out = []
    for st in fs.listStatus(d):
        n = st.getPath().getName()
        if (
            n.startswith("b")
            and n[1:].isdigit()
            and fs.exists(jvm.org.apache.hadoop.fs.Path(f"{out_dir}/{n}/_SUCCESS"))
        ):
            out.append(int(n[1:]))
    return sorted(out)


def read_batches(spark: SparkSession, out_dir: str) -> DataFrame:
    """Union of every committed per-batch output under ``out_dir``."""
    ids = committed_batches(spark, out_dir)
    return spark.read.parquet(*[batch_dir(out_dir, b) for b in ids])


def slot_end() -> Column:
    """Epoch-second end label of the ``group_by_slot`` window."""
    return F.unix_timestamp(F.col("window.end")).cast("bigint")


def group_by_slot(
    df: DataFrame, step_s: int, watermark_s: int, *keys: str
) -> GroupedData:
    """Watermarked ``step_s`` tumbling windows over event time ``t``.

    Spark windows are [start, end) but RRA slots are (start, end]
    (rra.go movePdpToDps): shifting event time by -1 s (column ``ts``)
    puts a boundary point in the same end-labeled slot as batch
    consolidate(), so streaming and batch agree on integer-second
    data. Append mode emits a slot once the watermark passes its end."""
    ts = df.withColumn("ts", (F.col(T) - 1).cast("timestamp"))
    return ts.withWatermark("ts", f"{watermark_s} seconds").groupBy(
        F.window("ts", f"{step_s} seconds"), *keys
    )
