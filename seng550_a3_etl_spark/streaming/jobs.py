"""Streaming jobs (SURVEY.md §2.8).

- ``windowed_event_counts`` — tumbling-window counts with a watermark:
  the streaming face of the reference's per-day aggregate
  (/root/reference/queries.py:81-91). Late rows beyond the watermark are
  dropped; state is bounded by (watermark horizon / window) per key.
- ``stream_dedup`` — watermark + dropDuplicates on the natural key: W1
  as a stream.
- ``streaming_fact_upsert`` — the incremental fact refresh
  (/root/reference/etl.py:317-327) as foreachBatch: each micro-batch
  merges into the parquet gold table through
  ``plans.gold.refresh_gold_incremental`` (strictly-newer guard).
  foreachBatch is the right tool because the sink (parquet rewrite /
  Delta MERGE) is a batch operation; exactly-once comes from the guard's
  idempotence (re-processing a batch cannot regress a newer row).

Scale: state store usage is bounded by the watermark; the merge itself
is the batch merge_upsert — one shuffle per batch on the key.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from seng550_a3_etl_spark.plans.gold import refresh_gold_incremental


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    group_cols: Sequence[str] = ("event_type",),
) -> DataFrame:
    """Watermarked tumbling-window counts (works on batch frames too —
    same operator, no watermark pruning)."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return df.groupBy(
        F.window(F.col(ts_col), window).alias("w"), *group_cols
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


def stream_dedup(
    events: DataFrame,
    keys: Sequence[str],
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """First-seen dedup per key within the watermark horizon."""
    return events.withWatermark(ts_col, watermark).dropDuplicates(list(keys))


def attribution_join_stream(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    lookback: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: each ``purchase`` event matched with the
    same user's ``click`` events in the preceding ``lookback`` —
    click-to-purchase attribution.

    Both sides carry watermarks and the join condition bounds event time
    on both sides, so Spark can expire join state: a click is held only
    ``lookback + watermark`` past its event time, a purchase only
    ``watermark`` — state is O(events within the horizon), not O(stream).
    Works identically on a batch frame (same equi+range join, no state).

    ``how="left_outer"`` additionally emits every UNMATCHED purchase
    with NULL click columns — but only once the click-side watermark
    passes the purchase's last possible match time (the purchase ts
    itself), because until then a matching click could still arrive.
    Callers comparing against a batch left join must therefore restrict
    to purchases old enough that emission is guaranteed (ts <= max
    event time - watermark, minus slack) — the tail of the stream is
    legitimately still pending, not wrong.
    """
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col(user_col),
        F.col(ts_col).alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col(user_col).alias("__c_user"),
        F.col(ts_col).alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    if events.isStreaming:
        purchases = purchases.withWatermark("purchase_ts", watermark)
        clicks = clicks.withWatermark("click_ts", watermark)
    joined = purchases.join(
        clicks,
        (F.col(user_col) == F.col("__c_user"))
        & F.col("click_ts").between(
            F.col("purchase_ts") - F.expr(f"INTERVAL {lookback}"),
            F.col("purchase_ts"),
        ),
        how,
    )
    return joined.select(
        user_col, "purchase_id", "purchase_ts", "click_id", "click_ts"
    )


def enriched_windowed_counts(
    events: DataFrame,
    dim: DataFrame,
    join_left: str,
    join_right: str,
    dim_attr: str,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    aggs: Sequence | None = None,
) -> DataFrame:
    """Stream-static enrichment: join the event stream to a broadcast
    dimension table, then windowed counts per dimension attribute — the
    canonical "enrich then aggregate" streaming topology (user → segment,
    device → model, doc → source).

    A stream-static equi-join needs NO state at all: the static side is
    broadcast and each micro-batch joins map-side, so the only stateful
    operator remains the windowed aggregate (watermark-bounded). Works
    identically on a batch frame, which is what the oracle checks.
    """
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    # Alias the dim key before the join: with the common shape where
    # both sides share the key name ('user_id' = 'user_id'), unaliased
    # F.col references would resolve ambiguously against both children.
    d = dim.select(
        F.col(join_right).alias("__dim_key"), F.col(dim_attr)
    )
    enriched = df.join(
        F.broadcast(d), F.col(join_left) == F.col("__dim_key")
    ).drop("__dim_key")
    # (no distinct aggregates here — they are unsupported on streams;
    # use stream_dedup upstream when per-key uniqueness is needed)
    if aggs is None:
        # default matches the events fixture schema; pass explicit aggs
        # for streams without a 'value' column
        aggs = [
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        ]
    return enriched.groupBy(
        F.window(F.col(ts_col), window).alias("w"), dim_attr
    ).agg(*aggs)


def streaming_fact_upsert(
    spark: SparkSession,
    source_path: str,
    source_schema: str,
    target_path: str,
    keys: Sequence[str],
    version_col: str,
    checkpoint_path: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Stream new fact files from ``source_path`` and merge each
    micro-batch into the parquet gold table at ``target_path``.

    ``available_now=True`` processes everything currently available then
    stops — the scheduled-incremental-refresh pattern; False runs
    continuously. The target must exist (bootstrap with plans.gold.
    save_gold); merge semantics are the strictly-newer guard, so replays
    and overlapping batches are harmless.
    """
    stream = (
        spark.readStream.schema(source_schema).parquet(source_path)
    )

    def _merge(batch: DataFrame, _batch_id: int) -> None:
        refresh_gold_incremental(spark, target_path, batch, keys, version_col)

    writer = (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def sessionize_stream(
    events: DataFrame,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "2 hours",
) -> DataFrame:
    """Gap-based sessionization as a custom stateful operator
    (applyInPandasWithState) — the streaming twin of
    operators/sessionize.py, agreeing with it on every *closed* session.

    State per user is the single open session (start/last as epoch
    micros, count, value sum). A batch's events close the open session
    when they arrive more than ``gap_minutes`` after its last event;
    the event-time timeout closes it when the watermark passes
    last + gap with no successor. Emitted rows are closed sessions only
    (append mode). State is O(1) per active user and reclaimed on
    timeout — the property that makes this run indefinitely at scale.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000
    out_schema = (
        f"{user_col} bigint, session_start timestamp, "
        "session_end timestamp, n_events bigint, total_value double"
    )
    state_schema = "start bigint, last bigint, n bigint, total double"

    def close(key, start, last, n, total):
        return (
            key,
            pd.Timestamp(start, unit="us"),
            pd.Timestamp(last, unit="us"),
            n,
            total,
        )

    def fn(key, pdfs, state: GroupState):
        (uid,) = key
        closed = []
        if state.hasTimedOut:
            start, last, n, total = state.get
            closed.append(close(uid, start, last, n, total))
            state.remove()
        else:
            open_s = state.get if state.exists else None
            rows = pd.concat(list(pdfs), ignore_index=True)
            rows = rows.sort_values([ts_col, "event_id"]) if "event_id" in rows else rows.sort_values(ts_col)
            for ts, val in zip(rows[ts_col], rows[value_col]):
                us = int(pd.Timestamp(ts).value // 1_000)
                if open_s is None:
                    open_s = (us, us, 1, float(val))
                elif us > open_s[1] + gap_us:
                    closed.append(close(uid, *open_s))
                    open_s = (us, us, 1, float(val))
                else:
                    start, last, n, total = open_s
                    open_s = (start, max(last, us), n + 1, total + float(val))
            state.update(open_s)
            state.setTimeoutTimestamp((open_s[1] + gap_us) // 1_000)
        if closed:
            yield pd.DataFrame(
                closed,
                columns=[
                    user_col,
                    "session_start",
                    "session_end",
                    "n_events",
                    "total_value",
                ],
            )

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(user_col)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
