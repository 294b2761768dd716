"""Custom stateful streaming operator: gap-based sessionization with
``applyInPandasWithState`` (SURVEY.md §2.9 extension).

The reference has no streaming at all (strictly daily batch,
``Composer/DAG_cloudrun_dataflow_sp.py:40``); this is the engine's
arbitrary-stateful surface: per-key state that survives across
micro-batches, the building block for sessionization, CDC-style
running upserts, and online feature aggregation.

Semantics: events for a user belong to one session while consecutive
gaps are <= ``gap_seconds``; the operator maintains per-user state
(last event time, session count, event count) and emits the running
totals each micro-batch. With ``Trigger.AvailableNow`` over a static
source the final emission equals the batch sessionization exactly,
which is how the DuckDB oracle checks it.

Scale posture: state lives in the executor state store partitioned by
the group key (one shuffle per batch on user_id); each group's batch
slice crosses to Python as ONE Arrow batch. In production you'd add a
``GroupStateTimeout`` to expire idle users and bound the store; with a
finite replay the NoTimeout form is deterministic, which the oracle
needs. Batches must arrive time-ordered per key for exactness (true
for replay / AvailableNow over date-partitioned files; a real deploy
would put a watermark-sorted window upstream).
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import pandas as pd

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from aproximacion_1_etl_spark.streaming.events import read_events_stream
from aproximacion_1_etl_spark.streaming.harness import drain

_OUT_DDL = "user_id BIGINT, n_sessions BIGINT, n_events BIGINT"
_STATE_DDL = "last_sec DOUBLE, n_sessions BIGINT, n_events BIGINT"


def _sessionize_group(
    key: Any,
    pdf_iter: Iterable[pd.DataFrame],
    state: GroupState,
    gap_seconds: float,
) -> Iterator[pd.DataFrame]:
    if state.exists:
        last_sec, n_sessions, n_events = state.get
    else:
        last_sec, n_sessions, n_events = None, 0, 0
    for pdf in pdf_iter:
        secs = (
            pdf["ts"].astype("int64").to_numpy() / 1e9
        )  # datetime64[ns] -> epoch seconds
        order = pdf.assign(_s=secs).sort_values(["_s", "event_id"])
        for s in order["_s"].to_numpy():
            if last_sec is None or (s - last_sec) > gap_seconds:
                n_sessions += 1
            last_sec = float(s)
            n_events += 1
    state.update((last_sec, n_sessions, n_events))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_sessions": [n_sessions],
            "n_events": [n_events],
        }
    )


def new_stateful_api_available() -> bool:
    """True when Spark 4's ``transformWithStateInPandas`` can actually
    run here: its Python-side state server speaks protobuf over a local
    socket, so the ``protobuf`` package must be importable by workers.
    This sandbox ships pyspark without it (SURVEY.md §8 note), so the
    engine feature-checks and falls back to ``applyInPandasWithState``
    — the semantics are identical for this operator; only the state API
    generation differs."""
    try:
        import google.protobuf  # noqa: F401
        from pyspark.sql.streaming.stateful_processor import (  # noqa: F401
            StatefulProcessor,
        )
        return True
    except Exception:
        return False


def _sessionize_tws(events: DataFrame, gap_seconds: float) -> DataFrame:
    """``transformWithStateInPandas`` port of the sessionizer (the
    successor API: named state variables on a handle instead of one
    implicit tuple; same per-key Arrow-batch flow). Only reachable when
    ``new_stateful_api_available()`` — imports stay inside so the
    module loads without protobuf."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class SessionProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("sess", _STATE_DDL)

        def handleInputRows(self, key, rows, timerValues):
            if self._state.exists():
                last_sec, n_sessions, n_events = self._state.get()
            else:
                last_sec, n_sessions, n_events = None, 0, 0
            for pdf in rows:
                secs = pdf["ts"].astype("int64").to_numpy() / 1e9
                order = pdf.assign(_s=secs).sort_values(["_s", "event_id"])
                for s in order["_s"].to_numpy():
                    if last_sec is None or (s - last_sec) > gap_seconds:
                        n_sessions += 1
                    last_sec = float(s)
                    n_events += 1
            self._state.update((last_sec, n_sessions, n_events))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_sessions": [n_sessions],
                    "n_events": [n_events],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        SessionProcessor(),
        outputStructType=_OUT_DDL,
        outputMode="Update",
        timeMode="None",
    )


def sessionize_stateful(
    events: DataFrame,
    gap_seconds: float = 7200.0,
    api: str = "auto",
) -> DataFrame:
    """Wire the stateful sessionizer onto a streaming events frame.

    ``api``: ``"auto"`` uses Spark 4's ``transformWithStateInPandas``
    when its protobuf dependency is present and falls back to
    ``applyInPandasWithState`` otherwise; ``"tws"`` / ``"legacy"``
    force one path (tws raises if unavailable)."""
    if api not in ("auto", "tws", "legacy"):
        raise ValueError(f"unknown api {api!r}")
    if api == "tws" and not new_stateful_api_available():
        # fail at plan-build, not at stream start: the new API's state
        # server needs protobuf in every Python worker
        raise RuntimeError(
            "transformWithStateInPandas requires the protobuf package, "
            "which is not importable here; use api='auto' to fall back"
        )
    use_tws = (
        api == "tws"
        or (api == "auto" and new_stateful_api_available())
    )
    if use_tws:
        return _sessionize_tws(events, gap_seconds)

    def fn(key, pdf_iter, state):
        return _sessionize_group(key, pdf_iter, state, gap_seconds)

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=_OUT_DDL,
        stateStructType=_STATE_DDL,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stateful_sessions(
    spark: SparkSession,
    source_dir: str,
    glob: str = "events.parquet",
    gap_seconds: float = 7200.0,
) -> DataFrame:
    """Run sessionization as a real stream (AvailableNow), return the
    final per-user totals. Running emissions from earlier micro-batches
    are superseded by taking the max totals per user (both counters are
    monotone), so the result is batch-equivalent regardless of how the
    source splits into batches."""
    stream = sessionize_stateful(
        read_events_stream(spark, source_dir, glob), gap_seconds
    )
    return (
        drain(stream, "update")
        .groupBy("user_id")
        .agg(
            F.max("n_sessions").alias("n_sessions"),
            F.max("n_events").alias("n_events"),
        )
    )
