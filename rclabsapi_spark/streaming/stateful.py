"""Custom stateful streaming operator — ST7 progress throttling
(job_monitor_service.hpp:167-168) as ``applyInPandasWithState``.

The reference suppresses progress updates unless the delta vs the LAST
EMITTED value is ≥ threshold (default 5%). A ``lag`` window gives
"delta vs previous row" — a different (weaker) predicate, and in
streaming, window functions over unbounded keys aren't available at all.
The exact semantics need per-key state that survives micro-batches: the
last value actually emitted.

This is the designated Spark escape hatch for custom stateful operators:
``applyInPandasWithState`` keeps one small state row per key in the state
store (checkpointed, partitioned by key — scales horizontally with
executors), receives each micro-batch's rows for the key as Arrow
batches, and emits only the surviving rows. Python-in-the-loop is
justified here: the operator is state-machine logic, not bulk compute,
and rows-per-key-per-batch is tiny.
"""

from __future__ import annotations

from typing import Any, Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "user_id long, ts timestamp, progress double, delta double"
)
STATE_SCHEMA = "last_emitted double"


def _throttle_group(
    key: tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
    *,
    threshold: float,
    ts_col: str,
    value_col: str,
) -> Iterable[pd.DataFrame]:
    (last_emitted,) = state.get if state.exists else (None,)
    out_rows = []
    for pdf in pdfs:
        # Arrow batches arrive in source order within a batch, but the
        # throttle is defined over event-time order — sort per batch.
        pdf = pdf.sort_values(ts_col)
        for _, row in pdf.iterrows():
            val = float(row[value_col])
            delta = None if last_emitted is None else abs(val - last_emitted)
            if last_emitted is None or delta >= threshold:
                out_rows.append(
                    (key[0], row[ts_col], val, 0.0 if delta is None else delta)
                )
                last_emitted = val
    state.update((last_emitted,))
    if out_rows:
        yield pd.DataFrame(
            out_rows, columns=["user_id", "ts", "progress", "delta"]
        )


def throttle_progress(
    events: DataFrame,
    *,
    threshold: float = 5.0,
) -> DataFrame:
    """ST7 — per-key progress throttling. Works on a streaming DataFrame
    (state store) and, for batch replay/testing, on a static one (single
    "batch" == the whole input)."""

    def fn(key, pdfs, state):
        return _throttle_group(
            key,
            pdfs,
            state,
            threshold=threshold,
            ts_col="ts",
            value_col="value",
        )

    return (
        events.select(
            events["user_id"].alias("user_id"),
            events["ts"].alias("ts"),
            events["value"].cast("double").alias("value"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def simulate_throttle(
    rows: list[tuple[Any, Any, float]], threshold: float = 5.0
) -> list[tuple[Any, Any, float]]:
    """Driver-side reference model (the reference's sequential loop):
    rows = (key, ts, value) sorted by ts per key. For tests."""
    last: dict[Any, float] = {}
    out = []
    for key, ts, val in sorted(rows, key=lambda r: (r[0], r[1])):
        prev = last.get(key)
        if prev is None or abs(val - prev) >= threshold:
            out.append((key, ts, val))
            last[key] = val
    return out


def _ewma_group(
    key,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
    *,
    alpha: float,
    ts_col: str,
    value_col: str,
) -> Iterable[pd.DataFrame]:
    """A15 — EWMA (α-blend, performance_monitor.hpp:378-392) across
    micro-batches: the running average is the single state value."""
    (ewma,) = state.get if state.exists else (None,)
    out = []
    for pdf in pdfs:
        pdf = pdf.sort_values(ts_col)
        for _, row in pdf.iterrows():
            val = float(row[value_col])
            ewma = val if ewma is None else alpha * val + (1 - alpha) * ewma
            out.append((key[0], row[ts_col], val, ewma))
    state.update((ewma,))
    if out:
        yield pd.DataFrame(out, columns=["user_id", "ts", "value", "ewma"])


def ewma_stream(events: DataFrame, *, alpha: float = 0.1) -> DataFrame:
    """Per-key streaming EWMA via applyInPandasWithState. The batch
    equivalent (registry query ``w5_ewma``) uses a window expression; the
    streaming form carries one double of state per key — O(keys) state,
    horizontally partitioned."""

    def fn(key, pdfs, state):
        return _ewma_group(
            key, pdfs, state, alpha=alpha, ts_col="ts", value_col="value"
        )

    return (
        events.select(
            events["user_id"].alias("user_id"),
            events["ts"].alias("ts"),
            events["value"].cast("double").alias("value"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType="user_id long, ts timestamp, value double, ewma double",
            stateStructType="ewma double",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _scd2_group(
    key,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
    *,
    ts_col: str,
    attr_col: str,
    tiebreak_col: str,
) -> Iterable[pd.DataFrame]:
    """Change compression for streaming SCD2: emit one row per attribute
    CHANGE; state = the last emitted attribute (nullable — state.exists
    disambiguates 'no history yet' from 'last attr was NULL', the same
    null-safety the batch operator gets from its row_number marker)."""
    has_prev = state.exists
    prev_attr = state.get[0] if has_prev else None

    rows = pd.concat(list(pdfs), ignore_index=True)
    # per-instant dedup: highest tiebreak wins (batch: max_by). tail(1),
    # not .last() — groupby().last() takes the last NON-NULL per column,
    # which would resurrect an outvoted attr when the winner is NULL.
    rows = (
        rows.sort_values([ts_col, tiebreak_col])
        .groupby(ts_col, as_index=False)
        .tail(1)
        .sort_values(ts_col)
    )

    out = []
    for _, row in rows.iterrows():
        attr = row[attr_col]
        a_null = pd.isna(attr)
        p_null = prev_attr is None or (
            not isinstance(prev_attr, str) and pd.isna(prev_attr)
        )
        changed = (
            not has_prev
            or a_null != p_null
            or (not a_null and attr != prev_attr)
        )
        if changed:
            out.append((key[0], None if a_null else attr, row[ts_col]))
            prev_attr = None if a_null else attr
            has_prev = True
    state.update((prev_attr,))
    if out:
        yield pd.DataFrame(
            out, columns=["user_id", "event_type", "valid_from"]
        )


def scd2_stream(events: DataFrame) -> DataFrame:
    """Streaming CDC → SCD2 change rows (ST11's live job-status history:
    etl_job_manager.cpp:671-699 appends transitions as they happen).

    Emits (key, attr, valid_from) per CHANGE; the reader derives
    valid_to/is_current with the batch operator's lead() over the
    append-only change log — a sink can't retract an earlier row to
    close its interval, so closing is a read-side concern by design.
    State per key = the last attribute (one nullable string): O(keys),
    horizontally partitioned, matching the batch operator
    (operators/timeseries.py::scd2_intervals) wherever per-key arrival
    is in timestamp order across micro-batches (within a micro-batch,
    order doesn't matter — rows are sorted and per-instant ties resolve
    by max tiebreak, exactly like the batch max_by)."""

    def fn(key, pdfs, state):
        # columns are renamed to the output names by the select below
        return _scd2_group(
            key,
            pdfs,
            state,
            ts_col="ts",
            attr_col="event_type",
            tiebreak_col="tiebreak",
        )

    return (
        events.select(
            events["user_id"].alias("user_id"),
            events["ts"].alias("ts"),
            events["event_type"].alias("event_type"),
            events["event_id"].alias("tiebreak"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=(
                "user_id long, event_type string, valid_from timestamp"
            ),
            stateStructType="attr string",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_exact_dedup(
    events: DataFrame,
    *,
    key_cols: list[str] | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup — the dedup tier for live ingestion.

    ``dropDuplicatesWithinWatermark`` keeps one state row per key in the
    (checkpointed, key-partitioned) state store and EXPIRES it once the
    watermark passes — bounded state on an unbounded stream, the same
    keep-recent-windows cleanup the reference applies to its counters
    (rate_limiter.cpp:132-187). Use the content fingerprint
    (``llm.text.fingerprint`` md5) as the key to dedup by content rather
    than by id; duplicates separated by more than the watermark are
    re-admitted by design (state cannot be unbounded)."""
    return events.withWatermark(ts_col, "10 minutes").dropDuplicatesWithinWatermark(
        key_cols or ["event_id"]
    )


def _funnel_group(
    key,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterable[pd.DataFrame]:
    """Per-user ordered-funnel tracker, exact under ANY arrival order.

    The batch invariants this must reproduce (suites/events.py
    q_funnel): a click advances the funnel iff click.ts >= min(view ts);
    a purchase iff purchase.ts >= min(qualifying click ts). Both
    thresholds are MONOTONE NON-INCREASING as events arrive (a new view
    can only lower t_view; a lower t_view or new click can only lower
    t_qual_click), and purchase qualification is therefore STICKY —
    once a purchase beats the current threshold it beats every future
    one. So exactness needs only:

    - the current thresholds (two scalars),
    - candidate clicks BELOW t_view (they qualify iff t_view later
      drops past them — clicks at/above it fold into the min and are
      dropped),
    - candidate purchases below t_qual_click, discarded wholesale the
      moment one qualifies.

    State is O(#distinct pre-view click ts + #pre-click purchase ts)
    per user — events that precede the funnel's frontier — not O(all
    events); a completed funnel clears to the two scalars.
    """
    if state.exists:
        t_view, t_qual, cands_c, cands_p, has_p, seq = state.get
        cands_c = set(cands_c or [])
        cands_p = set(cands_p or [])
        has_p = bool(has_p)
    else:
        t_view, t_qual, cands_c, cands_p, has_p, seq = (
            None, None, set(), set(), False, 0
        )

    rows = pd.concat(list(pdfs), ignore_index=True)
    ns = rows["ts"].astype("int64")
    et = rows["event_type"]
    views = ns[et == "view"]
    if len(views):
        v = int(views.min())
        t_view = v if t_view is None else min(t_view, v)
    cands_c.update(int(x) for x in ns[et == "click"])
    if t_view is not None and cands_c:
        qual = {c for c in cands_c if c >= t_view}
        if qual:
            q = min(qual)
            t_qual = q if t_qual is None else min(t_qual, q)
        cands_c -= qual
    if not has_p:
        cands_p.update(int(x) for x in ns[et == "purchase"])
        if t_qual is not None and any(p >= t_qual for p in cands_p):
            has_p = True
    if has_p:
        # flags can never regress; candidates are dead weight
        cands_c, cands_p = set(), set()
    seq += 1
    state.update(
        (t_view, t_qual, sorted(cands_c), sorted(cands_p), has_p, seq)
    )
    yield pd.DataFrame(
        [(
            key[0],
            int(t_view is not None),
            int(t_qual is not None),
            int(has_p),
            seq,
        )],
        columns=["user_id", "has_view", "has_click", "has_purchase", "seq"],
    )


def funnel_stream(events: DataFrame) -> DataFrame:
    """Streaming ordered funnel (view → click-after-view →
    purchase-after-click), the live twin of the batch `w_funnel_stages`
    query — the reference pushes exactly this progression live over its
    broadcast layer (message_broadcaster.cpp:154-233, ST1/ST7).

    Emits one (user_id, has_view, has_click, has_purchase, seq) row per
    key per micro-batch; the latest seq per key is that user's current
    funnel state, and summing flags over keys reproduces the batch
    3-stage counts EXACTLY regardless of how events are split or
    ordered across micro-batches (see _funnel_group for why the state
    stays small). State is checkpointed and key-partitioned — scales
    horizontally like every applyInPandasWithState operator here."""

    def fn(key, pdfs, state):
        return _funnel_group(key, pdfs, state)

    return (
        events.select(
            events["user_id"].alias("user_id"),
            events["ts"].cast("timestamp").alias("ts"),
            events["event_type"].alias("event_type"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=(
                "user_id long, has_view int, has_click int,"
                " has_purchase int, seq long"
            ),
            stateStructType=(
                "t_view long, t_qual_click long, cand_clicks array<long>,"
                " cand_purchases array<long>, has_p boolean, seq long"
            ),
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _transitions_group(
    key,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterable[pd.DataFrame]:
    """Per-user consecutive-transition counter for an event-time-ordered
    feed: sort the micro-batch by (ts, event_id), prepend the carried
    last event type, emit one (from, to, n) increment row per adjacent
    pair, carry the new tail. State is ONE string per user — the
    sequence itself is never retained.

    Contract: micro-batches must arrive in event-time order per user
    (the CDC/log-replay contract scd2_stream also requires); arbitrary
    split POINTS are fine — the carried tail stitches batch boundaries.
    Within a batch, arrival order is irrelevant (sorted here)."""
    rows = pd.concat(list(pdfs), ignore_index=True)
    rows = rows.sort_values(["ts", "event_id"], kind="mergesort")
    types = rows["event_type"].tolist()
    if state.exists:
        (last_type,) = state.get
        types = [last_type] + types
    counts: dict[tuple[str, str], int] = {}
    for a, b in zip(types[:-1], types[1:]):
        counts[(a, b)] = counts.get((a, b), 0) + 1
    state.update((types[-1],))
    out = [
        (key[0], a, b, n) for (a, b), n in sorted(counts.items())
    ]
    yield pd.DataFrame(
        out, columns=["user_id", "from_type", "to_type", "n"]
    )


def transitions_stream(events: DataFrame) -> DataFrame:
    """Streaming Markov transition counts — the live twin of the batch
    ``path_transitions`` query (operators/analytics.py): summing the
    emitted (from_type, to_type, n) increments over any prefix of the
    stream reproduces the batch transition matrix over the same events
    exactly. One scalar of state per user, checkpointed and
    key-partitioned; the reference streams the same per-job progression
    live over its broadcast layer (message_broadcaster.cpp:154-233)."""

    def fn(key, pdfs, state):
        return _transitions_group(key, pdfs, state)

    return (
        events.select(
            events["user_id"].alias("user_id"),
            events["ts"].cast("timestamp").alias("ts"),
            events["event_type"].alias("event_type"),
            events["event_id"].alias("event_id"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=(
                "user_id long, from_type string, to_type string, n long"
            ),
            stateStructType="last_type string",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _attribution_group(
    key,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
    conversion_type: str,
) -> Iterable[pd.DataFrame]:
    """Per-user last-touch attribution for an event-time-ordered feed:
    carry the last non-conversion event type across micro-batches; for
    every conversion row emit one (channel, value) credit. State is one
    nullable string per user. Same replay contract as
    ``_transitions_group``: batches arrive in event-time order per user,
    arbitrary split points, any within-batch arrival order."""
    rows = pd.concat(list(pdfs), ignore_index=True)
    rows = rows.sort_values(["ts", "event_id"], kind="mergesort")
    last = state.get[0] if state.exists else None
    out = []
    for etype, value in zip(rows["event_type"], rows["value"]):
        if etype == conversion_type:
            out.append((key[0], last, 1, float(value)))
        else:
            last = etype
    state.update((last,))
    yield pd.DataFrame(
        out, columns=["user_id", "channel", "n", "value"]
    )


def attribution_stream(
    events: DataFrame,
    *,
    conversion_type: str = "purchase",
) -> DataFrame:
    """Streaming last-touch attribution — the live twin of the batch
    ``attr_last_touch`` query (operators/analytics.py::
    last_touch_attribution): summing the emitted per-conversion credits
    over any prefix of the stream reproduces the batch per-channel
    (n_conversions, attributed_value) exactly, including the NULL
    channel for conversions with no preceding touch."""

    def fn(key, pdfs, state):
        return _attribution_group(key, pdfs, state, conversion_type)

    return (
        events.select(
            events["user_id"].alias("user_id"),
            events["ts"].cast("timestamp").alias("ts"),
            events["event_type"].alias("event_type"),
            events["event_id"].alias("event_id"),
            events["value"].alias("value"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=(
                "user_id long, channel string, n long, value double"
            ),
            stateStructType="last_touch string",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _heartbeat_group(
    key,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
    threshold_s: int,
) -> Iterable[pd.DataFrame]:
    """Dead-man detection per key: track the latest heartbeat; when the
    EVENT-TIME timeout fires (watermark passed last_ts + threshold with
    no new event), emit one silence row and drop the state. Deterministic
    — driven by the watermark, not wall clock."""
    if state.hasTimedOut:
        (last_ms,) = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "last_seen": [pd.Timestamp(last_ms, unit="ms")],
                "silent_after_s": [threshold_s],
            }
        )
        return
    rows = pd.concat(list(pdfs), ignore_index=True)
    last = rows["ts"].max()
    if state.exists:
        (prev_ms,) = state.get
        if prev_ms > int(last.timestamp() * 1000):
            last = pd.Timestamp(prev_ms, unit="ms")
    last_ms = int(last.timestamp() * 1000)
    state.update((last_ms,))
    state.setTimeoutTimestamp(last_ms + threshold_s * 1000)
    yield pd.DataFrame(
        {"user_id": [], "last_seen": [], "silent_after_s": []}
    ).astype({"user_id": "int64", "silent_after_s": "int64"})


def heartbeat_stream(
    events: DataFrame,
    *,
    threshold_s: int = 86400,
) -> DataFrame:
    """Streaming dead-man switch — the live twin of the batch
    ``dq_heartbeat_gaps`` trailing-silence audit and the reference's job
    timeout sweep (job_monitor_service.cpp:876-897): a key that stops
    heartbeating for ``threshold_s`` of EVENT time emits one silence row
    the moment the watermark passes its deadline. EventTimeTimeout keeps
    it deterministic (no wall-clock dependence) and state is one long
    per key, removed on firing — the keep-recent-state discipline."""

    def fn(key, pdfs, state):
        return _heartbeat_group(key, pdfs, state, threshold_s)

    return (
        events.select(
            events["user_id"].alias("user_id"),
            events["ts"].cast("timestamp").alias("ts"),
        )
        .withWatermark("ts", "0 seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=(
                "user_id long, last_seen timestamp, silent_after_s long"
            ),
            stateStructType="last_ms long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def _ew_stats_group(
    key,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
    alpha: float,
) -> Iterable[pd.DataFrame]:
    """EWMA + West-update EW variance across micro-batches — two doubles
    of state per key; each event emits its running (ewma, ewstd) so the
    adaptive band |x − ewma| > k·ewstd evaluates inline."""
    mu, var = state.get if state.exists else (None, 0.0)
    out = []
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts", "event_id"])
        for _, row in pdf.iterrows():
            val = float(row["value"])
            if mu is None:
                mu, var = val, 0.0
            else:
                d = val - mu
                mu = mu + alpha * d
                var = (1 - alpha) * (var + alpha * d * d)
            out.append((key[0], row["ts"], val, mu, var ** 0.5))
    state.update((mu, var))
    if out:
        yield pd.DataFrame(
            out, columns=["user_id", "ts", "value", "ewma", "ewstd"]
        )


def ew_stats_stream(events: DataFrame, *, alpha: float = 0.1) -> DataFrame:
    """Streaming twin of operators/windows.py::ew_stats_per_key: per-key
    EWMA and exponentially-weighted std as running state (two doubles per
    key), replay-deterministic under the in-order feed contract."""

    def fn(key, pdfs, state):
        return _ew_stats_group(key, pdfs, state, alpha)

    return (
        events.select(
            events["user_id"].alias("user_id"),
            events["ts"].cast("timestamp").alias("ts"),
            events["event_id"].alias("event_id"),
            events["value"].cast("double").alias("value"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=(
                "user_id long, ts timestamp, value double,"
                " ewma double, ewstd double"
            ),
            stateStructType="mu double, var double",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
