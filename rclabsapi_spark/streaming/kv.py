"""KV cache with TTL as a stateful stream — the engine-side analog of
the reference's Redis session/TTL cache (SURVEY S8; redis_client.hpp
SETEX/GET): a stream of (key, value, ts) upserts maintains one value per
key in the state store, and a key that receives no refresh within the
TTL expires via an EVENT-TIME timeout, emitting a tombstone.

Semantics mirror SETEX + lazy expiry, made deterministic: expiry is
driven by the watermark (event time), not wall clock, so a replay
produces the identical set/expire sequence. State is one (value,
last_ms) pair per live key and is removed on expiry — exactly the
bounded-state discipline the reference gets from Redis TTLs.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def _kv_group(
    key,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
    ttl_s: int,
) -> Iterable[pd.DataFrame]:
    if state.hasTimedOut:
        value, last_ms = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "op": ["expire"],
                "value": [value],
                "ts": [pd.Timestamp(last_ms + ttl_s * 1000, unit="ms")],
            }
        )
        return
    rows = pd.concat(list(pdfs), ignore_index=True).sort_values(
        "ts", kind="mergesort"
    )
    last = rows.iloc[-1]
    last_ms = int(last["ts"].timestamp() * 1000)
    if state.exists:
        _, prev_ms = state.get
        if prev_ms > last_ms:  # stale micro-batch straggler
            state.setTimeoutTimestamp(prev_ms + ttl_s * 1000)
            yield pd.DataFrame({"key": [], "op": [], "value": [], "ts": []})
            return
    state.update((str(last["value"]), last_ms))
    state.setTimeoutTimestamp(last_ms + ttl_s * 1000)
    yield pd.DataFrame(
        {
            "key": [key[0]],
            "op": ["set"],
            "value": [str(last["value"])],
            "ts": [last["ts"]],
        }
    )


def kv_ttl_stream(updates: DataFrame, *, ttl_s: int) -> DataFrame:
    """SETEX-with-expiry-events over a stream of upserts: emits one
    ``set`` row per refreshed key per micro-batch (latest value wins
    within a batch) and one ``expire`` tombstone when the watermark
    passes last-refresh + TTL. Downstream consumers fold the op stream
    into a live view of the cache."""

    def fn(key, pdfs, state):
        return _kv_group(key, pdfs, state, ttl_s)

    return (
        updates.select(
            updates["key"].cast("string").alias("key"),
            updates["value"].cast("string").alias("value"),
            updates["ts"].cast("timestamp").alias("ts"),
        )
        .withWatermark("ts", "0 seconds")
        .groupBy("key")
        .applyInPandasWithState(
            fn,
            outputStructType="key string, op string, value string, ts timestamp",
            stateStructType="value string, last_ms long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
