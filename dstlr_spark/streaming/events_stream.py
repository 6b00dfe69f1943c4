"""Stateful streaming operators over the events change stream.

`scd2_stream` is the continuous form of the batch CDC merge
(`dstlr_spark.queries.relational.q_events_scd2`): per-key SCD type-2
version tracking with `applyInPandasWithState`. A version row is
emitted when it CLOSES (the key's state changes — its valid_to is then
known and final); the currently-open version lives only in the state
store, exactly like an open session in a sessionization stream. The
drained availableNow result therefore equals the batch SCD2 table
restricted to closed versions (is_current = 0) — the shared-oracle
parity the other stream gates use.

Ordering caveat (same as the other stateful gates here): rows are
sorted by (ts, event_id) within each micro-batch and the carried state
assumes batches arrive in event-time order — true for the drained
file-source gate and for an ingest whose upstream preserves per-key
order (Kafka per-partition). An out-of-order production feed needs the
event-time-timer form (transformWithStateInPandas with timers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_TS_FMT = "%Y-%m-%d %H:%M:%S"


def scd2_stream(events: DataFrame) -> DataFrame:
    """(event_id, ts, user_id, event_type, ...) stream → closed SCD2
    version rows (user_id, state, version, valid_from, valid_to).

    Null semantics mirror the batch operator: rows missing the CDC key
    or timestamp are dropped (unmergeable); a NULL state is a legal
    state value (tracked with an explicit null flag in the state tuple
    so IS-DISTINCT-FROM change tests survive the state round-trip).

    Scale shape: state is ONE tuple per live key (last state + open
    version metadata), the same per-key O(1) bound every stateful
    operator here carries; emission volume is change-proportional."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "user_id long, state string, version int, "
        "valid_from string, valid_to string"
    )
    state_schema = (
        "last_state string, state_null boolean, last_from string, version int"
    )

    def update(key, pdfs, state):
        import pandas as pd

        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            if state.exists:
                state.update(tuple(state.get))
            return
        p = pd.concat(chunks).sort_values(["ts", "event_id"])
        if state.exists:
            last_state, state_null, last_from, version = state.get
            cur = None if state_null else last_state
        else:
            cur, last_from, version = None, None, 0
        closed = []
        for row in p.itertuples(index=False):
            sig = None if pd.isna(row.event_type) else str(row.event_type)
            ts_s = row.ts.strftime(_TS_FMT)
            if version == 0:
                cur, last_from, version = sig, ts_s, 1
            elif sig != cur:
                closed.append((key[0], cur, version, last_from, ts_s))
                cur, last_from, version = sig, ts_s, version + 1
        state.update((cur, cur is None, last_from, version))
        if closed:
            yield pd.DataFrame(
                closed,
                columns=["user_id", "state", "version", "valid_from", "valid_to"],
            )

    return (
        events.where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("event_id", "ts", "user_id", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )
