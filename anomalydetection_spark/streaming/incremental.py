"""Incremental validation via Structured Streaming.

The reference is strictly batch (SURVEY.md §2.10) — its "recency" is a
dropdown over uploaded snapshots. At pipeline scale, new image/caption
files land continuously; this module validates each micro-batch as it
arrives and appends per-batch verdicts/metrics, giving the same
constraint surface as the batch engine with exactly-once progress
tracking delegated to Structured Streaming's checkpoint (offsets + sink
commit log) — the streaming twin of checkpoint.py's batch ledger.

``Trigger.AvailableNow`` turns the same query into a catch-up batch job
(process everything new, then stop) — the recommended pattern for
scheduled incremental validation over a growing Iceberg/parquet table.

foreachBatch is used (not a plain streaming agg) because the suite needs
multi-pass logic (fused stats + post rounds + uniqueness shuffle) that
exceeds what a single streaming aggregation can express; each micro-batch
is a bounded DataFrame so the full batch engine applies unchanged.
"""

from __future__ import annotations

from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from anomalydetection_spark.suite import ValidationSuite


def validate_stream(
    spark: SparkSession,
    input_path: str,
    schema: str,
    suite: ValidationSuite,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Validate a growing parquet directory incrementally.

    Each micro-batch runs the FULL suite on the new files only and
    appends verdicts tagged with the batch id. Restarts resume from the
    streaming checkpoint (no re-validation of processed files).
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_path)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        res = suite.run(batch_df, spark, with_violations=False)
        (
            res.verdicts.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append").parquet(f"{out_dir}/verdicts")
        )

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


RUNNING_STATS_STATE = "cnt long, s double, s2 double, mn double, mx double"
RUNNING_STATS_OUT = (
    "group string, cnt long, mean double, var double, mn double, mx double"
)


def running_column_stats_stream(
    stream: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Custom STATEFUL streaming operator (``applyInPandasWithState``):
    exact running column stats per group accumulated ACROSS micro-batches.

    Where ``validate_stream`` scores each batch independently, this keeps
    merge-form moments (count, Σx, Σx²; min/max) in managed group state —
    the streaming twin of the batch engine's Welford/merge single-pass
    stats (checks/column_stats.py): same algebra, state store instead of
    partial-aggregate buffers. State survives restarts via the streaming
    checkpoint, so a resumed query continues the running totals exactly.
    """
    import math

    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        if state.exists:
            cnt, s, s2, mn, mx = state.get
        else:
            cnt, s, s2, mn, mx = 0, 0.0, 0.0, math.inf, -math.inf
        for pdf in pdfs:
            v = pdf[value_col].dropna().astype(float)
            if len(v):
                cnt += int(len(v))
                s += float(v.sum())
                s2 += float((v * v).sum())
                mn = min(mn, float(v.min()))
                mx = max(mx, float(v.max()))
        state.update((cnt, s, s2, mn, mx))
        mean = s / cnt if cnt else None
        var = (s2 - s * s / cnt) / (cnt - 1) if cnt > 1 else None
        yield pd.DataFrame([{
            "group": key[0], "cnt": cnt, "mean": mean, "var": var,
            "mn": None if math.isinf(mn) else mn,
            "mx": None if math.isinf(mx) else mx,
        }])

    return stream.groupBy(group_col).applyInPandasWithState(
        update,
        outputStructType=RUNNING_STATS_OUT,
        stateStructType=RUNNING_STATS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_stream(
    spark: SparkSession,
    input_path: str,
    schema: str,
    key_cols: list[str],
    out_dir: str,
    checkpoint_dir: str,
    event_time_col: str | None = None,
    watermark: str = "24 hours",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming exact dedup over a growing table: emit each key's
    first-seen row once, across micro-batches AND restarts (the dedup
    state lives in the streaming state store under ``checkpoint_dir``).

    The corpus-ingest twin of the batch ``dedup_exact`` operator: new
    files land continuously and duplicates (same ``image_id`` /content
    hash) must be dropped before anything downstream pays to process
    them.

    With ``event_time_col``, uses ``dropDuplicatesWithinWatermark`` —
    per-key state expires once the watermark passes it, so state stays
    bounded by the duplicate-arrival window instead of growing with
    every distinct key ever seen. That is the only shape that survives
    a 10^12-row table; the unbounded ``dropDuplicates`` form (no event
    time) is for bounded backfills and tests.
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_path)

    if event_time_col is not None:
        deduped = stream.withWatermark(event_time_col, watermark) \
            .dropDuplicatesWithinWatermark(key_cols)
    else:
        deduped = stream.dropDuplicates(key_cols)

    writer = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
