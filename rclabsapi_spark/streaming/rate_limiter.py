"""ST5 — tumbling-window rate limiting (rate_limiter.cpp:10-214).

The reference counts requests per (clientId, endpoint) in the current
epoch-minute/hour against per-rule limits, matching rules by longest URL
prefix (rate_limiter.cpp:25-29) and keeping only current+previous window
state (cleanup, rate_limiter.cpp:132-187).

Engine design: one windowed count (the only shuffle) + a rule match
COMPILED to a constant CASE expression. The rule table is small and
static per deployment, so longest-prefix matching belongs in the plan,
not in a join: sorting rules by prefix length at compile time and
emitting ``CASE WHEN endpoint LIKE p₁% …`` gives exact longest-prefix
semantics inside whole-stage codegen — no broadcast-nested-loop
theta-join, no per-group rank window. (The previous join+rank shape cost
a second wide shuffle and a sort over every (client, endpoint, window)
group — measured 2.4s → 0.9s at sf0.1.)

Batch (``rate_limit_check``) and streaming (``rate_limit_stream``) share
the compiled expression; the streaming side adds a 1-minute watermark,
which reproduces the reference's keep-2-windows state cleanup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Default rule set — prefix → per-minute limit. Mirrors the shape of the
# reference's defaults (rate_limiter.cpp:12-22: login 5/min, logs 60/min …)
# with prefixes that overlap so longest-prefix matching is exercised.
RATE_RULES: list[tuple[str, int]] = [
    ("purch", 2),
    ("p", 3),
    ("error", 1),
    ("", 5),  # catch-all
]


def compile_rule_match(
    endpoint: Column, rules: list[tuple[str, int]]
) -> tuple[Column, Column]:
    """Longest-prefix rule match as a CASE chain (rules ordered longest
    first, ties broken by list order like the reference's map iteration).
    Returns (matched_prefix, per_minute_limit) columns."""
    ordered = sorted(
        enumerate(rules), key=lambda item: (-len(item[1][0]), item[0])
    )
    prefix_expr: Column | None = None
    limit_expr: Column | None = None
    for _, (prefix, limit) in reversed(ordered):
        cond = endpoint.startswith(prefix) if prefix else F.lit(True)
        if prefix_expr is None:
            prefix_expr = F.when(cond, F.lit(prefix))
            limit_expr = F.when(cond, F.lit(limit))
        else:
            prefix_expr = F.when(cond, F.lit(prefix)).otherwise(prefix_expr)
            limit_expr = F.when(cond, F.lit(limit)).otherwise(limit_expr)
    if prefix_expr is None or limit_expr is None:
        raise ValueError("rules must hold at least one (prefix, limit) rule")
    return prefix_expr, limit_expr


def _verdict_cols(matched_prefix: Column, limit: Column) -> list[Column]:
    return [
        matched_prefix.alias("matched_prefix"),
        limit.alias("per_minute_limit"),
        (F.col("request_count") <= limit).alias("allowed"),
        F.greatest(limit - F.col("request_count"), F.lit(0))
        .cast("long")
        .alias("remaining"),
    ]


def rate_limit_check(
    events: DataFrame,
    rules: list[tuple[str, int]] | None = None,
) -> DataFrame:
    """Batch replay: per-(client, endpoint, minute) counts vs the
    longest-prefix rule (isAllowed semantics, rate_limiter.cpp:48-90).
    One shuffle (the count); the rule verdict is a projection."""
    counts = events.groupBy(
        F.col("user_id").alias("user_id"),
        F.col("event_type").alias("event_type"),
        F.date_trunc("minute", F.col("ts")).alias("window_start"),
    ).agg(F.count(F.lit(1)).alias("request_count"))
    prefix, limit = compile_rule_match(F.col("event_type"), rules or RATE_RULES)
    return counts.select(
        "user_id",
        "event_type",
        "window_start",
        "request_count",
        *_verdict_cols(prefix, limit),
    )


def rate_limit_check_dual(events: DataFrame) -> DataFrame:
    """The reference's FULL isAllowed: a request must clear BOTH the
    per-minute and the per-hour limit (rate_limiter.cpp:48-90 checks both
    epoch windows; 206-214 derives them), with ``RATE_RULES``' minute
    limits and 20× those as the hour limits.

    Physical shape: one shuffle for the minute counts, then the hour
    counts RE-AGGREGATE the minute counts (sum of ≤60 rows per key) —
    never a second scan of the events. The minute grain is the partial
    aggregate of the hour grain, the same trick as multi-grain rollup
    tables.

    Reference fidelity: the reference increments counters only for
    ALLOWED requests (rate_limiter.cpp isAllowed increments after both
    checks pass), so requests denied at the minute grain never consume
    hour budget. This batch replay reproduces that by capping each
    minute's contribution to the hour sum at ``per_minute_limit``
    (``least(minute_count, limit)``) — exact for minute-grain denials.
    The residual approximation: requests denied by the HOUR limit still
    count toward later minutes' hour sums here, where the reference's
    sequential counter would stop incrementing; replaying that feedback
    loop exactly needs per-event sequential state, not a rollup."""
    from pyspark.sql.window import Window

    rules3 = [(p, m, m * 20) for p, m in RATE_RULES]
    minute = events.groupBy(
        F.col("user_id").alias("user_id"),
        F.col("event_type").alias("event_type"),
        F.date_trunc("minute", F.col("ts")).alias("minute_start"),
    ).agg(F.count(F.lit(1)).alias("minute_count"))

    ep = F.col("event_type")
    prefix, min_limit = compile_rule_match(ep, [(p, m) for p, m, _ in rules3])
    _, hour_limit = compile_rule_match(ep, [(p, h) for p, _, h in rules3])
    # hour grain as a window-sum over the minute counts: a groupBy+join
    # here re-computes the whole minute subtree (two event scans); the
    # window costs one extra exchange of the SMALL counts relation only.
    w_hour = Window.partitionBy(
        "user_id", "event_type", F.date_trunc("hour", F.col("minute_start"))
    )
    capped = F.least(F.col("minute_count"), min_limit.cast("long"))
    joined = minute.withColumn("hour_count", F.sum(capped).over(w_hour))
    return joined.select(
        "user_id",
        "event_type",
        "minute_start",
        "minute_count",
        F.col("hour_count").cast("long").alias("hour_count"),
        prefix.alias("matched_prefix"),
        min_limit.alias("per_minute_limit"),
        hour_limit.alias("per_hour_limit"),
        (
            (F.col("minute_count") <= min_limit)
            & (F.col("hour_count") <= hour_limit)
        ).alias("allowed"),
    )


def rate_limit_stream(events: DataFrame) -> DataFrame:
    """Streaming variant over ``RATE_RULES``: tumbling window +
    watermark. The 1-minute watermark reproduces the reference's
    current+previous window retention (rate_limiter.cpp:132-187) — older
    state is dropped by the store."""
    counts = (
        events.withWatermark("ts", "1 minute")
        .groupBy(
            F.window(F.col("ts"), "1 minute").alias("win"),
            F.col("user_id").alias("user_id"),
            F.col("event_type").alias("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("request_count"))
        .select(
            F.col("win.start").alias("window_start"),
            "user_id",
            "event_type",
            "request_count",
        )
    )
    prefix, limit = compile_rule_match(F.col("event_type"), RATE_RULES)
    return counts.select(
        "user_id",
        "event_type",
        "window_start",
        "request_count",
        *_verdict_cols(prefix, limit),
    )
