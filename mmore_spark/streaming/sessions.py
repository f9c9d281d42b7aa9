"""Custom stateful streaming operator (SURVEY.md §2.9): gap-based
sessionization with ``applyInPandasWithState``.

A session break is a >gap-minute silence per user.  Streaming needs real
state — a session can stay open across micro-batches (and across
AvailableNow drains via the checkpoint), so the operator keeps
(session_id, last_ts, n_events, value_sum) per user and EMITS a session
row only when a later event closes it by exceeding the gap.

Scale shape: state is keyed by user_id (the shuffle key); each group's
state is O(1); batches arrive unsorted so the function sorts its slice by
(ts, event_id), a total order, so sessions do not depend on arrival order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

OUTPUT_SCHEMA = ("user_id long, session_id integer, n_events long, "
                 "value_sum double")
STATE_SCHEMA = "session_id integer, last_ts double, n long, vsum double"


def sessionize_stateful(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Streaming (user_id, ts, event_id, value) → closed-session rows.

    Emits (user_id, session_id, n_events, value_sum) when a session is
    CLOSED by a following event after more than ``gap_minutes`` of
    silence; the trailing open session per user stays in state (exactly
    the open-window semantics a continuous pipeline needs).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap = gap_minutes * 60.0

    def fn(key, pdfs, state):
        import pandas as pd

        (user_id,) = key
        if state.exists:
            sid, last, n, vsum = state.get
        else:
            sid, last, n, vsum = 0, None, 0, 0.0
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts", "event_id"])
        closed = []
        for ts, val in zip(batch["ts"], batch["value"]):
            t = ts.timestamp()
            if last is not None and t - last > gap:
                closed.append((user_id, sid, n, vsum))
                sid, n, vsum = sid + 1, 0, 0.0
            n += 1
            vsum += float(val)
            last = t
        state.update((sid, last, n, vsum))
        if closed:
            yield pd.DataFrame(
                closed, columns=["user_id", "session_id", "n_events", "value_sum"])

    return events.groupBy("user_id").applyInPandasWithState(
        fn, OUTPUT_SCHEMA, STATE_SCHEMA, "append", GroupStateTimeout.NoTimeout)


def drain_sessions(spark, staging_dir: str, checkpoint_dir: str,
                   output_dir: str, gap_minutes: int = 30) -> None:
    """AvailableNow drain of a staged events directory through the
    stateful operator, appending closed sessions to ``output_dir``
    (foreachBatch parquet sink — the memory sink cannot recover from a
    checkpoint, and state recovery across drains is the point)."""

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, value double")
        .option("maxFilesPerTrigger", 64)
        .parquet(staging_dir)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            batch_df.write.mode("append").parquet(output_dir)

    q = (
        sessionize_stateful(stream, gap_minutes)
        .writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
