"""Per-key quota enforcement — stateful streaming with O(1) state.

Semantics: events accumulate value per user in (ts, event_id) order;
once a user's running total crosses ``QUOTA_CENTS`` every further event
(including the crossing one) counts as throttled. The operator emits
one (user, n_events, n_throttled, sum_cents) row per user per
micro-batch (update mode) — with a single AvailableNow drain the
emission is final and equals the batch window-cumsum definition, which
is exactly what the SQL oracle replicates.

``quota_stream`` implements it on ``applyInPandasWithState``, which
works everywhere this engine runs; the gated registry query uses it.
Spark 4's State-V2 processor (``transformWithStateInPandas``) needs
``google.protobuf`` for its Python state protocol, which this container
does not ship.

100 TB state argument: state per key is THREE integers
(running cents, event count, throttled count) — no event retention;
the state store scales with |active users|, not stream volume. Cents
arithmetic keeps the running sum integer-exact so parallelism never
changes a result.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StructField, StructType

QUOTA_CENTS = 100_000  # $1,000 per user

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("n_throttled", LongType()),
        StructField("sum_cents", LongType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("cum", LongType()),
        StructField("n", LongType()),
        StructField("thr", LongType()),
    ]
)


def _accumulate(
    prior: tuple[int, int, int], pdf: pd.DataFrame
) -> tuple[int, int, int]:
    """Shared batch kernel: fold a (sorted) micro-batch into state."""
    pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
    cents = (pdf["value"].to_numpy() * 100).round().astype("int64")
    cum, n, thr = prior
    for c in cents:
        cum += int(c)
        n += 1
        if cum > QUOTA_CENTS:
            thr += 1
    return cum, n, thr


def _quota_batch(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    pdf = pd.concat(list(pdfs), ignore_index=True)
    if pdf.empty:
        return
    prior = tuple(state.get) if state.exists else (0, 0, 0)
    cum, n, thr = _accumulate(prior, pdf)
    state.update((int(cum), int(n), int(thr)))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "n_throttled": [thr],
            "sum_cents": [cum],
        }
    )


def quota_stream(events_stream: DataFrame) -> DataFrame:
    """events stream → per-user quota totals, update mode."""
    return (
        events_stream.select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _quota_batch,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
