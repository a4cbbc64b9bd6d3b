"""Custom stateful streaming operator via applyInPandasWithState —
the engine's arbitrary-state surface (task spec: "applyInPandasWithState
for custom stateful operators"), beyond what built-in windowed
aggregations express.

The example keeps a running (count, integer-cent sum) per user across
micro-batches: state lives in the state store, survives batches, and is
keyed exactly like a shuffle — the streaming analogue of the reference's
reducer merge, but incremental and unbounded.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from mapreduce_4_spark.functions.money import cents

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("total_events", LongType()),
        StructField("total_value_cents", LongType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("cents", LongType()),
    ]
)


def _update_user_totals(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, cents = state.get if state.exists else (0, 0)
    for pdf in batches:
        n += len(pdf)
        # integer cents, not float sums: state must be exact and
        # order-independent across micro-batch boundaries
        cents += int(pdf["value_cents"].sum())
    state.update((n, cents))
    yield pd.DataFrame(
        {"user_id": [key[0]], "total_events": [n], "total_value_cents": [cents]}
    )


def stream_user_totals(stream: DataFrame) -> DataFrame:
    """Running per-user totals with explicit state management."""
    prepared = stream.select(
        "user_id", cents("value").alias("value_cents"))
    return prepared.groupBy("user_id").applyInPandasWithState(
        _update_user_totals,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_user_totals_tws(stream: DataFrame) -> DataFrame:
    """The SAME running-totals operator on Spark 4's transformWithState
    surface (StatefulProcessor + typed ValueState) — the successor API to
    applyInPandasWithState: composable named state variables, timers, and
    RocksDB-backed stores. Kept alongside the classic form so both
    arbitrary-state surfaces stay covered.

    Requires the RocksDB state store provider
    (spark.sql.streaming.stateStore.providerClass) and the protobuf
    package (the TWS driver worker speaks protobuf to the JVM state
    server) — both standard on a real cluster image; the test skips
    where protobuf is absent.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserTotalsProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            n, cents = self._totals.get() if self._totals.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                cents += int(pdf["value_cents"].sum())
            self._totals.update((n, cents))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "total_events": [n],
                    "total_value_cents": [cents],
                }
            )

        def close(self) -> None:
            pass

    prepared = stream.select(
        "user_id", cents("value").alias("value_cents"))
    return prepared.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserTotalsProcessor(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


LOCF_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("value_gapped", DoubleType()),
        StructField("value_filled", DoubleType()),
    ]
)

LOCF_STATE_SCHEMA = StructType([StructField("last", DoubleType())])


def _locf_update(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    last = state.get[0] if state.exists else None
    pdf = pd.concat(list(batches)).sort_values(["ts", "event_id"])
    filled: list[float | None] = []
    for v in pdf["value_gapped"]:
        if pd.notna(v):
            last = float(v)
        filled.append(last)
    if last is not None:
        # the carried value crosses the micro-batch boundary through the
        # state store untouched (no arithmetic): bit-exact continuation
        state.update((last,))
    yield pd.DataFrame(
        {
            "event_id": pdf["event_id"],
            "user_id": key[0],
            "value_gapped": pdf["value_gapped"],
            "value_filled": pd.array(filled, dtype="Float64"),
        }
    )


def stream_forward_fill(stream: DataFrame) -> DataFrame:
    """Streaming LOCF (last-observation-carried-forward): each event is
    emitted with the per-user last non-null value, carried ACROSS
    micro-batches in the state store — the streaming twin of the batch
    ``forward_fill_events`` window query, with the same synthesized gaps
    (every 7th event nulled).

    Semantics note: LOCF is order-sensitive, so cross-batch correctness
    assumes per-key in-order delivery across micro-batches (each batch
    is sorted internally by (ts, event_id); a source replaying time-
    sliced files satisfies the cross-batch half). Late data takes the
    state as of its processing batch — the honest streaming contract
    without a watermark-buffered reorder."""
    from pyspark.sql import functions as F

    gapped = stream.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_id") % 7 == 0, None)
        .otherwise(F.col("value"))
        .alias("value_gapped"),
    )
    return gapped.groupBy("user_id").applyInPandasWithState(
        _locf_update,
        LOCF_OUTPUT_SCHEMA,
        LOCF_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
