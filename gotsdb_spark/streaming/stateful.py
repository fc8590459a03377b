"""Custom stateful streaming operator via transformWithStateInPandas.

The reference has no streaming and no state machinery at all
(SURVEY.md §2.2). This supplies the 'arbitrary stateful operator'
surface: per-key state that survives across micro-batches, with
Arrow-batched pandas on the hot path. The older applyInPandasWithState
surface is exercised by the registered query streaming_stateful_totals
(operators/integration.py).

Scale: state lives in the state store, partitioned by the grouping key
— each of 1000 executors owns its key range; nothing ever concentrates
on the driver. Pair with a timeout (or watermark-driven eviction) when
keys churn, or state grows without bound.

transformWithStateInPandas is the Spark 4 successor to
applyInPandasWithState: typed state variables (value/list/map) with
per-state TTL, event-time timers, and schema evolution, all backed by
the RocksDB state store the session enables (session.py) — which this
API requires, and which is what lets per-key state exceed executor heap
at 100 TB.

Runtime dependency: the API's Python-side state server speaks protobuf;
executing (not building) the query needs the google.protobuf package.
The equivalence test importorskips it, mirroring the PIL-gated
multimodal codec.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

TWS_OUTPUT_SCHEMA = "user_id bigint, n_events bigint, max_value double"


class UserPeakProcessor(StatefulProcessor):
    """Per-user event count + running max(value) in a ValueState.

    max (unlike sum) is order-insensitive over doubles, so the emitted
    state is bit-identical however micro-batches split — the property
    the equivalence test pins.
    """

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState(
            "user_peak", "n_events bigint, max_value double"
        )

    def handleInputRows(self, key, rows, timerValues):
        n, peak = (
            self._state.get() if self._state.exists() else (0, float("-inf"))
        )
        for pdf in rows:
            n += len(pdf)
            peak = max(peak, float(pdf["value"].max()))
        self._state.update((n, peak))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "max_value": [peak]}
        )

    def close(self) -> None:
        pass


def running_user_peaks(events: DataFrame) -> DataFrame:
    """Running per-user (count, max) via transformWithStateInPandas."""
    return events.groupBy("user_id").transformWithStateInPandas(
        UserPeakProcessor(),
        outputStructType=TWS_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
