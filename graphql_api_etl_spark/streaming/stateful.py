"""Custom stateful streaming operator via ``applyInPandasWithState``
(engine-native; SURVEY §2.10 — the reference has no streaming).

``threshold_crossing_events`` is the canonical can't-do-with-windows
shape: per key, keep a LIFETIME running total and emit the event that
crosses each new multiple of a threshold. Built-in windowed aggs can't
express it (no window bounds the state; the output depends on all
history), and ``session_window`` has no user-defined emission rule —
this is exactly what the arbitrary-state API exists for.

Scale design: state is one bigint per key (GroupState, checkpointed by
the engine, partitioned with the shuffle); each micro-batch touches
only keys present in the batch, Arrow-batched per group. Alert volume
is bounded by value growth, not event count.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame

CROSSING_OUT_SCHEMA = (
    "user_id bigint, event_id bigint, alert_ts timestamp, "
    "cum_cents bigint, level bigint"
)
CROSSING_STATE_SCHEMA = "cum bigint"
THRESHOLD_CENTS = 50_000


def threshold_crossing_events(events: DataFrame) -> DataFrame:
    """Per-EVENT threshold crossings: the state is the key's lifetime
    cumulative value in EXACT integer cents, rows are replayed in
    (ts, event_id) order inside each group, and the operator emits the
    precise event that pushes the total across each new multiple of
    ``THRESHOLD_CENTS`` (with the total and level at that moment).
    Integer arithmetic makes the crossing decision bit-exact across
    engines — a float running total could flip a boundary comparison
    on summation order.

    The group's Arrow chunks are concatenated BEFORE the sort: a large
    group spans multiple chunks within one micro-batch, and sorting
    per chunk would interleave replay order."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        cum = int(state.get[0]) if state.exists else 0
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        out_ev, out_ts, out_cum, out_lvl = [], [], [], []
        for _, row in pdf.iterrows():
            nxt = cum + int(row["cents"])
            if nxt // THRESHOLD_CENTS > cum // THRESHOLD_CENTS:
                out_ev.append(int(row["event_id"]))
                out_ts.append(row["ts"])
                out_cum.append(nxt)
                out_lvl.append(nxt // THRESHOLD_CENTS)
            cum = nxt
        state.update((cum,))
        if out_ev:
            yield pd.DataFrame(
                {
                    "user_id": pd.Series([key[0]] * len(out_ev), dtype="int64"),
                    "event_id": pd.Series(out_ev, dtype="int64"),
                    "alert_ts": out_ts,
                    "cum_cents": pd.Series(out_cum, dtype="int64"),
                    "level": pd.Series(out_lvl, dtype="int64"),
                }
            )

    return events.groupBy("user_id").applyInPandasWithState(
        fn, CROSSING_OUT_SCHEMA, CROSSING_STATE_SCHEMA, "append",
        GroupStateTimeout.NoTimeout,
    )
