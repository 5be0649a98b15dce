"""The six streams of the ``stream_state`` workload.

Each stream reads the staged ``events`` slices through the file source
(``maxFilesPerTrigger=1``, so one slice per micro-batch) and runs to
completion with ``trigger(availableNow=True)``:

- four state streams write their rows to a parquet file sink:
  ``windowed_counts`` (windowed aggregation state), ``dedup_stream``
  (dedup-within-watermark state), ``sessionize_stateful``
  (``applyInPandasWithState``) and ``interval_join`` (stream-stream
  join state);
- two ``foreachBatch`` sinks write their own files:
  ``countmin_ledger_sink`` and ``scd2_dim_sink``.

``read_output`` reads back what a run wrote; ``reference`` computes the
same result with the batch form of each operator, which is how the
pinned stream digests are made.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

STREAMS = (
    "windowed_counts",
    "dedup_stream",
    "sessionize_stateful",
    "interval_join",
    "countmin_ledger_sink",
    "scd2_dim_sink",
)

#: the events are replayed as this many contiguous event-time slices. A
#: replay's time goes mostly to per-micro-batch work, so two slices (state
#: carried across one batch boundary) halve it against four and let the
#: timed window hold four replays
N_SLICES = 2
WATERMARK = "2 hours"
WATERMARK_S = 2 * 3600
SCD2_KEYS = ["user_id"]
SCD2_TRACKED = ["event_type", "value"]


def stage(events_path: str, dest: str) -> None:
    """Write the events as ``N_SLICES`` files of equal, contiguous
    event-time ranges, in event-time order.

    The file source picks files up by modification time, so each slice
    gets an explicit, increasing mtime: the replay then sees event time
    move forward and no row arrives behind the watermark. ``ts`` is
    written UTC-adjusted so it reads back as Spark's ``TimestampType``.
    """
    os.makedirs(dest, exist_ok=True)
    events = pq.read_table(events_path)
    ts = events.column("ts")
    us = pc.cast(ts, pa.int64())
    lo, hi = pc.min(us).as_py(), pc.max(us).as_py() + 1
    events = events.set_column(
        events.schema.get_field_index("ts"), "ts", ts.cast(pa.timestamp("us", tz="UTC"))
    )
    mtime = 1_700_000_000
    for i in range(N_SLICES):
        start = lo + (hi - lo) * i // N_SLICES
        end = lo + (hi - lo) * (i + 1) // N_SLICES
        mask = pc.and_(pc.greater_equal(us, start), pc.less(us, end))
        path = os.path.join(dest, f"slice-{i:02d}.parquet")
        pq.write_table(events.filter(mask), path)
        os.utime(path, (mtime + i, mtime + i))


def _source(spark, src: str):
    from tafra_spark.streaming import ops

    return (
        spark.readStream.schema(ops.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def build(spark, name: str, src: str, out: str):
    """The stream's ``DataStreamWriter``, ready to ``start()``; its
    checkpoint and output live under ``out``."""
    from tafra_spark.streaming import ops

    ev = _source(spark, src)
    if name == "countmin_ledger_sink":
        writer = ev.writeStream.foreachBatch(
            ops.countmin_ledger_sink(f"{out}/sketch", "event_type")
        )
    elif name == "scd2_dim_sink":
        writer = ev.writeStream.foreachBatch(
            ops.scd2_dim_sink(spark, f"{out}/dim", keys=SCD2_KEYS,
                              tracked=SCD2_TRACKED, effective_col="ts")
        )
    else:
        if name == "windowed_counts":
            df = ops.windowed_counts(ev, watermark=WATERMARK, fixed_point=1_000_000)
        elif name == "dedup_stream":
            df = ops.dedup_stream(ev, watermark=WATERMARK)
        elif name == "sessionize_stateful":
            df = ops.sessionize_stateful(ev)
        elif name == "interval_join":
            df = ops.interval_join(ev, _source(spark, src), watermark=WATERMARK)
        else:
            raise KeyError(name)
        writer = df.writeStream.format("parquet").outputMode("append").option(
            "path", f"{out}/rows"
        )
    return writer.option("checkpointLocation", f"{out}/ck").trigger(availableNow=True)


def read_output(spark, name: str, out: str):
    """What one run of the stream wrote, as pandas."""
    from tafra_spark.streaming import ops

    if name == "countmin_ledger_sink":
        return ops.countmin_read(spark, f"{out}/sketch").toPandas()
    if name == "scd2_dim_sink":
        return ops.scd2_dim_read(spark, f"{out}/dim").toPandas()
    return spark.read.parquet(f"{out}/rows").toPandas()


def reference(spark, name: str, src: str):
    """The batch form of the stream's operator over the same slices."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from tafra_spark.functions.sketches import count_min_build
    from tafra_spark.operators.scd import scd2_merge
    from tafra_spark.streaming import ops

    ev = spark.read.schema(ops.EVENTS_SCHEMA).parquet(src)
    if name == "windowed_counts":
        # append mode emits a window once the final watermark (latest
        # event time minus the delay) has passed its end
        cutoff = ev.agg(F.max("ts")).collect()[0][0].timestamp() - WATERMARK_S
        out = ops.windowed_counts(ev, fixed_point=1_000_000)
        return out.filter(F.col("window_end").cast("long") <= cutoff).toPandas()
    if name == "dedup_stream":
        return ops.dedup_stream(ev).toPandas()
    if name == "sessionize_stateful":
        # the batch sessions minus each user's last one, which the
        # stream keeps open in its state
        s = ops.sessionize(ev)
        last = F.max("session_id").over(Window.partitionBy("user_id"))
        return s.withColumn("last", last).filter("session_id < last").drop("last").toPandas()
    if name == "interval_join":
        return ops.interval_join(ev, ev).toPandas()
    if name == "countmin_ledger_sink":
        return count_min_build(ev, "event_type", portable=True).toPandas()
    if name == "scd2_dim_sink":
        # one merge per slice, in replay order, as the sink applies them
        schema = T.StructType(
            [ev.schema[c] for c in SCD2_KEYS + SCD2_TRACKED]
            + [T.StructField("valid_from", T.TimestampType()),
               T.StructField("valid_to", T.TimestampType()),
               T.StructField("is_current", T.BooleanType())]
        )
        dim = spark.createDataFrame([], schema)
        for i in range(N_SLICES):
            part = spark.read.schema(ops.EVENTS_SCHEMA).parquet(
                os.path.join(src, f"slice-{i:02d}.parquet"))
            dim = scd2_merge(dim, part, SCD2_KEYS, SCD2_TRACKED, "ts").localCheckpoint()
        return dim.toPandas()
    raise KeyError(name)
