"""Structured Streaming end-to-end tests: the batch-replay queries in the
registry prove the semantics; these prove the same operators run as REAL
streams (readStream → transform → writeStream) with results identical to
batch on the same input."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rclabsapi_spark.streaming.routing import route_events, subscriptions_df
from rclabsapi_spark.streaming.sources import (
    ship_foreach_batch,
    stream_events_dir,
    with_index_partition,
    write_partitioned_sink,
)

from .conftest import SF_SMOKE


@pytest.fixture()
def events_dir(spark, tmp_path):
    """events rewritten into a fresh dir with µs timestamps (the raw
    fixture uses parquet TIMESTAMP(NANOS), which Spark's file source
    rejects; the catalog loader normalizes it — see catalog.load_table)."""
    from rclabsapi_spark.catalog import load_table

    d = str(tmp_path / "events_in")
    load_table(spark, SF_SMOKE, "events").write.mode("overwrite").parquet(d)
    return d


def _level(df):
    return df.withColumn(
        "level",
        F.when(F.col("value") < 50, "INFO")
        .when(F.col("value") < 150, "WARN")
        .otherwise("ERROR"),
    )


def test_streaming_routing_matches_batch(spark, events_dir, tmp_path):
    """ST1/P9 as a live stream: file source → broadcast-join routing →
    memory sink, availableNow (drains all input then stops)."""
    batch_ev = _level(spark.read.parquet(events_dir))
    expected = (
        route_events(batch_ev, subscriptions_df(spark))
        .groupBy("connection_id")
        .count()
        .collect()
    )
    expected = {r["connection_id"]: r["count"] for r in expected}

    schema = spark.read.parquet(events_dir).schema
    stream = _level(stream_events_dir(spark, events_dir, schema))
    routed = route_events(stream, subscriptions_df(spark))
    q = (
        routed.groupBy("connection_id")
        .count()
        .writeStream.format("memory")
        .queryName("routed_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["connection_id"]: r["count"]
        for r in spark.sql("SELECT * FROM routed_counts").collect()
    }
    assert got == expected
    assert expected["conn_all"] > 0  # match-all subscriber saw everything


def test_streaming_windowed_counts_with_watermark(spark, events_dir, tmp_path):
    """ST5 as a live stream: tumbling 1-minute windows + watermark; the
    drained availableNow result equals the batch window aggregation."""
    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.window("ts", "1 minute").alias("w"), "event_type")
        .count()
    )
    expected = {
        (r["w"]["start"], r["event_type"]): r["count"] for r in batch.collect()
    }

    schema = spark.read.parquet(events_dir).schema
    stream = stream_events_dir(spark, events_dir, schema)
    agg = (
        stream.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 minute").alias("w"), "event_type")
        .count()
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("windowed")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["w"]["start"], r["event_type"]): r["count"]
        for r in spark.sql("SELECT * FROM windowed").collect()
    }
    assert got == expected


def test_partitioned_sink_date_partitions(spark, events_dir, tmp_path):
    """S5/S7: streaming parquet sink partitioned by the logs-%Y.%m.%d
    index-date column; partitions prune on read."""
    schema = spark.read.parquet(events_dir).schema
    stream = with_index_partition(
        stream_events_dir(spark, events_dir, schema), "ts"
    )
    out = str(tmp_path / "out")
    q = write_partitioned_sink(
        stream, out, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)

    written = spark.read.parquet(out)
    assert written.count() == spark.read.parquet(events_dir).count()
    # pruning: one partition directory per distinct day
    days = written.select("index_date").distinct().count()

    part_dirs = [d for d in os.listdir(out) if d.startswith("index_date=")]
    assert len(part_dirs) == days


def test_foreach_batch_ship_retries(spark, events_dir, tmp_path):
    """S6/ST4: shipping sink retries transient failures, applies the
    per-destination level filter, and succeeds within max_retries."""
    schema = spark.read.parquet(events_dir).schema
    stream = _level(stream_events_dir(spark, events_dir, schema))

    attempts = []
    shipped = []

    def flaky_ship(batch, batch_id):
        attempts.append(batch_id)
        if len(attempts) < 3:  # fail twice, succeed on 3rd
            raise IOError("transient destination error")
        shipped.append(batch.count())

    q = ship_foreach_batch(
        stream,
        str(tmp_path / "ckpt"),
        flaky_ship,
        max_retries=3,
        retry_delay_s=0.01,
        allowed_levels=["ERROR"],
    )
    q.awaitTermination(120)
    assert len(attempts) == 3
    n_errors = (
        _level(spark.read.parquet(events_dir))
        .filter(F.col("level") == "ERROR")
        .count()
    )
    assert shipped == [n_errors]


def test_stateful_throttle_matches_reference_model(spark, events_dir, tmp_path):
    """ST7 via applyInPandasWithState: per-key state (last EMITTED value)
    across the stream equals the reference's sequential loop."""
    from rclabsapi_spark.streaming.stateful import (
        simulate_throttle,
        throttle_progress,
    )

    raw = spark.read.parquet(events_dir).select("user_id", "ts", "value")
    expected = simulate_throttle(
        [(r["user_id"], r["ts"], r["value"]) for r in raw.collect()],
        threshold=5.0,
    )

    schema = spark.read.parquet(events_dir).schema
    stream = stream_events_dir(spark, events_dir, schema)
    q = (
        throttle_progress(stream, threshold=5.0)
        .writeStream.format("memory")
        .queryName("throttled")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = [
        (r["user_id"], r["ts"], r["progress"])
        for r in spark.sql("SELECT * FROM throttled").collect()
    ]
    assert sorted(got) == sorted(expected)
    # throttling must actually drop rows
    assert 0 < len(got) < raw.count()


def test_stateful_ewma_matches_sequential(spark, events_dir, tmp_path):
    """A15 as a live stream: per-key EWMA state across micro-batches
    equals the sequential α-blend."""
    from rclabsapi_spark.streaming.stateful import ewma_stream

    raw = spark.read.parquet(events_dir).select("user_id", "ts", "value")
    expect = {}
    state = {}
    for r in sorted(raw.collect(), key=lambda r: (r["user_id"], r["ts"])):
        prev = state.get(r["user_id"])
        cur = r["value"] if prev is None else 0.1 * r["value"] + 0.9 * prev
        state[r["user_id"]] = cur
        expect[(r["user_id"], r["ts"])] = cur

    schema = spark.read.parquet(events_dir).schema
    stream = stream_events_dir(spark, events_dir, schema)
    q = (
        ewma_stream(stream, alpha=0.1)
        .writeStream.format("memory")
        .queryName("ewma_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["ts"]): r["ewma"]
        for r in spark.sql("SELECT * FROM ewma_out").collect()
    }
    assert got.keys() == expect.keys()
    assert all(abs(got[k] - expect[k]) < 1e-9 for k in expect)


def test_run_pending_concurrent_jobs(spark, tmp_path):
    """max_concurrent_jobs semantics: a batch of queued jobs drains with
    bounded concurrency; one failing job doesn't stop the rest."""
    from rclabsapi_spark.etl import ETLJobConfig, ETLJobManager, JobType

    from .test_etl_runner import full_etl_config, ticking_clock

    mgr = ETLJobManager(spark, clock=ticking_clock())
    ids = []
    for i in range(4):
        cfg = full_etl_config(tmp_path / str(i), job_id=f"job_c_{1000 + i}")
        ids.append(mgr.schedule_job(cfg))
    bad = ETLJobConfig(
        job_id="job_c_bad",
        job_type=JobType.EXTRACT,
        source_config={"path": "/nonexistent.parquet"},
    )
    ids.append(mgr.schedule_job(bad))

    results = mgr.run_pending(max_concurrent=3)
    assert results["job_c_bad"] == "FAILED"
    assert all(results[j] == "COMPLETED" for j in ids[:4])
    for i in range(4):
        assert spark.read.parquet(str(tmp_path / str(i) / "out")).count() == 500


def test_checkpoint_recovery_processes_only_new_files(spark, events_dir, tmp_path):
    """Exactly-once over restarts: a second availableNow run with the SAME
    checkpoint must process only files added since the first run."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = spark.read.parquet(events_dir).schema

    def drain():
        stream = with_index_partition(
            stream_events_dir(spark, events_dir, schema), "ts"
        )
        q = write_partitioned_sink(stream, out, ckpt, available_now=True)
        q.awaitTermination(120)

    drain()
    n1 = spark.read.parquet(out).count()
    n_src = spark.read.parquet(events_dir).count()
    assert n1 == n_src

    # restart with no new input: nothing re-processed
    drain()
    assert spark.read.parquet(out).count() == n1

    # add a new file → only its rows are appended
    extra = spark.read.parquet(events_dir).limit(7)
    extra.coalesce(1).write.mode("append").parquet(events_dir)
    drain()
    assert spark.read.parquet(out).count() == n1 + 7


def test_multi_subscriber_fanout_from_one_source(spark, events_dir, tmp_path):
    """ST1's N-subscription shape: several filtered streaming queries off
    ONE source, each with its own sink/checkpoint, all draining the same
    input independently (the reference's per-connection WebSocket fan-out)."""
    schema = spark.read.parquet(events_dir).schema
    ev = spark.read.parquet(events_dir)
    subs = {
        "errors": F.col("event_type") == "error",
        "user7": F.col("user_id") == 7,
        "high_value": F.col("value") > 150,
    }
    queries = []
    for name, pred in subs.items():
        stream = _level(stream_events_dir(spark, events_dir, schema))
        q = (
            stream.filter(pred)
            .writeStream.format("memory")
            .queryName(f"sub_{name}")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        queries.append(q)
    for q in queries:
        q.awaitTermination(120)
    for name, pred in subs.items():
        got = spark.sql(f"SELECT count(*) c FROM sub_{name}").collect()[0]["c"]
        want = ev.filter(pred).count()
        assert got == want, name
        assert want > 0, name


def test_streaming_threshold_alerts(spark, events_dir, tmp_path):
    """ST6 on a live stream: the same threshold_alerts operator used by
    the batch query emits the identical alert set."""
    from rclabsapi_spark.streaming.alerts import threshold_alerts

    batch = threshold_alerts(spark.read.parquet(events_dir))
    expected = {
        (r["event_id"], r["severity"]) for r in batch.collect()
    }
    schema = spark.read.parquet(events_dir).schema
    q = (
        threshold_alerts(stream_events_dir(spark, events_dir, schema))
        .writeStream.format("memory")
        .queryName("alerts_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["event_id"], r["severity"])
        for r in spark.sql("SELECT * FROM alerts_out").collect()
    }
    assert got == expected
    assert any(s == "critical" for _, s in got)


def test_http_destination_ships_bulk_payloads(spark, events_dir, tmp_path):
    """S6 concrete destination: live foreachBatch → ES-bulk HTTP POSTs to
    a local server, with per-destination level filter, batched payloads,
    and a retried transient failure (first request 503s)."""
    import http.server
    import threading

    from rclabsapi_spark.streaming.sources import (
        HttpDestination,
        ship_http_destination,
    )

    received = []
    failures = {"remaining": 1}
    lock = threading.Lock()

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            with lock:
                if failures["remaining"] > 0:
                    failures["remaining"] -= 1
                    self.send_response(503)
                    self.end_headers()
                    return
                received.append(
                    (self.path, self.headers.get("Authorization"), body)
                )
            self.send_response(200)
            self.end_headers()

        def log_message(self, *args):
            pass

    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    port = server.server_address[1]
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        schema = spark.read.parquet(events_dir).schema
        stream = _level(stream_events_dir(spark, events_dir, schema))
        dest = HttpDestination(
            name="es-local",
            endpoint=f"http://127.0.0.1:{port}/_bulk",
            auth_token="sekret",
            allowed_levels=("ERROR",),
            batch_size=50,
            max_retries=3,
            retry_delay_s=0.01,
        )
        q = ship_http_destination(
            stream, str(tmp_path / "ckpt_http"), dest, ts_col="ts"
        )
        q.awaitTermination(120)
    finally:
        server.shutdown()

    n_errors = (
        _level(spark.read.parquet(events_dir))
        .filter(F.col("level") == "ERROR")
        .count()
    )
    docs = []
    for path, auth, body in received:
        assert path == "/_bulk"
        assert auth == "Bearer sekret"
        lines = body.decode().strip().split("\n")
        assert len(lines) % 2 == 0
        # ≤ batch_size docs per POST
        assert len(lines) // 2 <= 50
        for action, doc in zip(lines[::2], lines[1::2]):
            import json as _json

            a = _json.loads(action)
            assert a["index"]["_index"].startswith("logs-")
            docs.append(_json.loads(doc))
    # redelivery is at-least-once (the 503'd payload is re-shipped), so
    # dedupe by event_id before comparing against the batch answer
    assert len({d["event_id"] for d in docs}) == n_errors
    assert all(d["level"] == "ERROR" for d in docs)


def test_stream_exact_dedup_drops_replayed_events(spark, events_dir, tmp_path):
    """Streaming dedup: replay the same file into the stream dir twice;
    dropDuplicatesWithinWatermark must emit each event_id once."""
    import shutil

    from rclabsapi_spark.streaming.stateful import stream_exact_dedup

    dup_dir = str(tmp_path / "dups_in")
    shutil.copytree(events_dir, dup_dir)
    # replay: copy every data file under a new name → exact duplicates
    import os

    for f in os.listdir(dup_dir):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(dup_dir, f), os.path.join(dup_dir, f"re-{f}"))

    n_unique = spark.read.parquet(events_dir).select("event_id").distinct().count()
    n_total = spark.read.parquet(dup_dir).count()
    assert n_total == 2 * n_unique

    schema = spark.read.parquet(events_dir).schema
    stream = stream_events_dir(spark, dup_dir, schema)
    deduped = stream_exact_dedup(stream, key_cols=["event_id"], ts_col="ts")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT count(DISTINCT event_id) AS u, count(*) AS n FROM dedup_out").collect()[0]
    assert out["n"] == n_unique
    assert out["u"] == n_unique


def test_streaming_sessionization_matches_batch(spark, events_dir, tmp_path):
    """Native session windows: the live stream must finalize exactly the
    sessions the batch formulation computes, and conserve every event of
    the oracle-verified gaps-and-islands query."""
    from rclabsapi_spark.streaming.sessions import session_agg, sessionize_stream

    batch_ev = spark.read.parquet(events_dir)
    expected = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in session_agg(batch_ev).collect()
    }
    assert expected  # fixture has sessions

    schema = batch_ev.schema
    stream = stream_events_dir(spark, events_dir, schema)
    q = (
        sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_sessions"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("SELECT * FROM sessions_out").collect()
    }
    assert got == expected
    # conservation vs the oracle-verified gaps-and-islands query
    from rclabsapi_spark.registry import registered

    total_batch = sum(t[3] for t in expected)
    gi = registered()["w_sessionization"].fn(spark, SF_SMOKE)
    assert total_batch == sum(r["n_events"] for r in gi.collect())


def test_streaming_scd2_matches_batch(spark, events_dir, tmp_path):
    """Streaming CDC → SCD2: the change rows emitted by the stateful
    stream must be exactly the batch operator's (key, attr, valid_from)
    set on the same input."""
    from rclabsapi_spark.operators.timeseries import scd2_intervals
    from rclabsapi_spark.streaming.stateful import scd2_stream

    batch_ev = spark.read.parquet(events_dir)
    expected = {
        (r["user_id"], r["event_type"], r["valid_from"])
        for r in scd2_intervals(
            batch_ev,
            key_col="user_id",
            ts_col="ts",
            attr_col="event_type",
            tiebreak_col="event_id",
        ).collect()
    }
    assert expected

    schema = batch_ev.schema
    stream = stream_events_dir(spark, events_dir, schema)
    q = (
        scd2_stream(stream)
        .writeStream.format("memory")
        .queryName("scd2_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_scd2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["event_type"], r["valid_from"])
        for r in spark.sql("SELECT * FROM scd2_out").collect()
    }
    assert got == expected


def test_scd2_group_state_across_batches():
    """Cross-micro-batch change compression and null-safety of the raw
    group function: a second batch continuing a key's history must not
    re-emit the unchanged attribute, must emit →NULL as a change, and
    must drop NULL→NULL no-ops (state.exists disambiguates 'no history'
    from 'last attr was NULL')."""
    import pandas as pd

    from rclabsapi_spark.streaming.stateful import _scd2_group

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)
            self.exists = True

    def run(state, rows):
        pdf = pd.DataFrame(
            rows, columns=["user_id", "ts", "event_type", "tiebreak"]
        )
        out = list(
            _scd2_group(
                (7,),
                [pdf],
                state,
                ts_col="ts",
                attr_col="event_type",
                tiebreak_col="tiebreak",
            )
        )
        return [tuple(r) for r in out[0].itertuples(index=False)] if out else []

    st = FakeState()
    # batch 1: tie at t=1 (tiebreak 2 wins with "A"), no-op repeat at t=2
    got1 = run(st, [(7, 1, "Z", 1), (7, 1, "A", 2), (7, 2, "A", 3)])
    assert got1 == [(7, "A", 1)]
    # batch 2: same attr continues (nothing), then →NULL (change),
    # NULL→NULL (no-op), NULL→B (change)
    got2 = run(
        st,
        [(7, 3, "A", 4), (7, 4, None, 5), (7, 5, None, 6), (7, 6, "B", 7)],
    )
    assert got2 == [(7, None, 4), (7, "B", 6)]
    assert st._v == ("B",)


def _batch_funnel_flags(spark, events_path):
    """Reference flags computed the obvious way (tiny fixture): per user,
    t_view = min view ts; click qualifies iff >= t_view; purchase iff
    >= min qualifying click. The registry's w_funnel_stages is the
    oracle-verified batch form; this keeps the test independent of it."""
    pdf = spark.read.parquet(events_path).select(
        "user_id", "ts", "event_type"
    ).toPandas()
    flags = {}
    for uid, g in pdf.groupby("user_id"):
        views = g.loc[g.event_type == "view", "ts"]
        t_view = views.min() if len(views) else None
        has_v = t_view is not None
        t_qual = None
        if has_v:
            qc = g.loc[(g.event_type == "click") & (g.ts >= t_view), "ts"]
            t_qual = qc.min() if len(qc) else None
        has_p = t_qual is not None and bool(
            ((g.event_type == "purchase") & (g.ts >= t_qual)).any()
        )
        flags[uid] = (int(has_v), int(t_qual is not None), int(has_p))
    return flags


def _streamed_funnel_flags(spark, in_dir, ckpt, qname):
    from rclabsapi_spark.streaming.stateful import funnel_stream

    schema = spark.read.parquet(in_dir).schema
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")  # force one micro-batch per file
        .load(in_dir)
    )
    q = (
        funnel_stream(stream)
        .writeStream.format("memory")
        .queryName(qname)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        f"""
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER
                (PARTITION BY user_id ORDER BY seq DESC) AS rn
            FROM {qname}
        ) WHERE rn = 1
        """
    ).collect()
    return {
        r["user_id"]: (r["has_view"], r["has_click"], r["has_purchase"])
        for r in rows
    }


def test_streaming_funnel_matches_batch(spark, events_dir, tmp_path):
    """Live funnel == batch funnel on the same events, replayed as one
    micro-batch per file."""
    expected = _batch_funnel_flags(spark, events_dir)
    assert sum(f[2] for f in expected.values()) > 0  # funnel completes

    in_dir = str(tmp_path / "funnel_in")
    spark.read.parquet(events_dir).repartition(4).write.parquet(in_dir)
    got = _streamed_funnel_flags(
        spark, in_dir, str(tmp_path / "ckpt_funnel"), "funnel_out"
    )
    assert got == _batch_funnel_flags(spark, in_dir)
    assert got == expected


def test_streaming_funnel_exact_under_reversed_arrival(spark, events_dir, tmp_path):
    """Adversarial replay: files split by DESCENDING timestamp, so every
    later micro-batch delivers EARLIER events — views arrive after the
    clicks they retroactively qualify, clicks after the purchases. The
    pruned-candidate state must converge to the same flags as batch."""
    expected = _batch_funnel_flags(spark, events_dir)

    ev = spark.read.parquet(events_dir)
    in_dir = str(tmp_path / "funnel_rev_in")
    # 4 contiguous DESC time slices → slice 0 (latest events) is batch 0
    ranked = ev.withColumn(
        "slice",
        F.ntile(4).over(
            __import__("pyspark.sql.window", fromlist=["Window"])
            .Window.orderBy(F.col("ts").desc())
        ),
    )
    for i in range(1, 5):
        ranked.filter(F.col("slice") == i).drop("slice").coalesce(
            1
        ).write.mode("append").parquet(in_dir)
    got = _streamed_funnel_flags(
        spark, in_dir, str(tmp_path / "ckpt_funnel_rev"), "funnel_rev_out"
    )
    assert got == expected


def _batch_transitions(spark, events_path):
    from rclabsapi_spark.operators.analytics import transition_matrix

    rows = transition_matrix(spark.read.parquet(events_path)).collect()
    return {(r.from_type, r.to_type): r.n for r in rows}


def test_streaming_transitions_match_batch(spark, events_dir, tmp_path):
    """Summed live transition increments == the batch Markov matrix when
    files replay in event-time order (the in-order feed contract); batch
    split points are arbitrary — the carried per-user tail stitches
    boundaries."""
    from rclabsapi_spark.streaming.stateful import transitions_stream

    expected = _batch_transitions(spark, events_dir)
    assert sum(expected.values()) > 0

    ev = spark.read.parquet(events_dir)
    in_dir = str(tmp_path / "trans_in")
    ranked = ev.withColumn(
        "slice", F.ntile(4).over(Window.orderBy("ts", "event_id"))
    )
    for i in range(1, 5):
        ranked.filter(F.col("slice") == i).drop("slice").coalesce(
            1
        ).write.mode("append").parquet(in_dir)

    schema = spark.read.parquet(in_dir).schema
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(in_dir)
    )
    q = (
        transitions_stream(stream)
        .writeStream.format("memory")
        .queryName("trans_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_trans"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got_rows = spark.sql(
        "SELECT from_type, to_type, SUM(n) AS n FROM trans_out GROUP BY 1, 2"
    ).collect()
    got = {(r.from_type, r.to_type): r.n for r in got_rows}
    assert got == expected


def test_streaming_attribution_matches_batch(spark, events_dir, tmp_path):
    """Summed live last-touch credits == the batch attribution rollup
    (counts AND value) when files replay in event-time order; split
    points arbitrary — carried last-touch state stitches boundaries."""
    from rclabsapi_spark.operators.analytics import last_touch_attribution
    from rclabsapi_spark.streaming.stateful import attribution_stream

    ev = spark.read.parquet(events_dir)
    expected = {
        r["channel"]: (r["n_conversions"], r["attributed_value"])
        for r in last_touch_attribution(ev, conversion_type="purchase").collect()
    }
    assert sum(n for n, _ in expected.values()) > 0

    in_dir = str(tmp_path / "attr_in")
    ranked = ev.withColumn(
        "slice", F.ntile(4).over(Window.orderBy("ts", "event_id"))
    )
    for i in range(1, 5):
        ranked.filter(F.col("slice") == i).drop("slice").coalesce(
            1
        ).write.mode("append").parquet(in_dir)

    schema = spark.read.parquet(in_dir).schema
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(in_dir)
    )
    q = (
        attribution_stream(stream, conversion_type="purchase")
        .writeStream.format("memory")
        .queryName("attr_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_attr"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got_rows = spark.sql(
        "SELECT channel, SUM(n) AS n, ROUND(SUM(value), 6) AS v"
        " FROM attr_out GROUP BY 1"
    ).collect()
    got = {r.channel: (r.n, r.v) for r in got_rows}
    assert got == expected


def test_streaming_cms_sketch_matches_batch(spark, events_dir, tmp_path):
    """The stream-maintained Count-Min counter table must be identical
    to the batch-built sketch over the same events — the merge IS
    addition, so any micro-batching folds to the same table."""
    from rclabsapi_spark.streaming.sketches import cms_sketch_stream

    ev = spark.read.parquet(events_dir)
    batch = {
        (r["seed"], r["bucket"]): r["c"]
        for r in cms_sketch_stream(ev, item_col="user_id").collect()
    }

    schema = ev.schema
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(events_dir)
    )
    q = (
        cms_sketch_stream(stream, item_col="user_id")
        .writeStream.format("memory")
        .queryName("cms_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_cms"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["seed"], r["bucket"]): r["c"]
        for r in spark.sql("SELECT * FROM cms_out").collect()
    }
    assert got == batch


def test_streaming_drift_counts_match_batch_and_psi_flags_shift(
    spark, events_dir, tmp_path
):
    """Windowed histogram counts from the live stream must equal the
    batch computation, and the PSI fold over them must score a shifted
    window above an unshifted one."""
    from rclabsapi_spark.streaming.drift import (
        binned_window_counts,
        psi_vs_reference,
    )

    ev = spark.read.parquet(events_dir)
    kw = dict(value_col="value", ts_col="ts", lo=0.0, hi=500.0, n_bins=10)
    batch = {
        (r["window_start"], r["bin"]): r["n"]
        for r in binned_window_counts(ev, window="1 day", **kw).collect()
    }
    assert batch

    schema = ev.schema
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(events_dir)
    )
    q = (
        binned_window_counts(stream, window="1 day", watermark="2 days", **kw)
        .writeStream.format("memory")
        .queryName("drift_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_drift"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["bin"]): r["n"]
        for r in spark.sql("SELECT * FROM drift_out").collect()
    }
    assert got == batch

    # reference shares from the full period; an artificially shifted copy
    # must score higher PSI than the true data against that reference
    total = sum(batch.values())
    ref = {}
    for (_, b), n in batch.items():
        ref[b] = ref.get(b, 0) + n
    ref_shares = {b: n / total for b, n in ref.items()}

    # weekly windows for scoring: daily ones are too sparse at the
    # smoke SF for a stable histogram
    counts_df = binned_window_counts(ev, window="7 days", **kw)
    honest = [r["psi"] for r in psi_vs_reference(counts_df, ref_shares).collect()]

    shifted = binned_window_counts(
        ev.withColumn("value", F.col("value") * 3 + 200), window="7 days", **kw
    )
    drifted = [r["psi"] for r in psi_vs_reference(shifted, ref_shares).collect()]
    # every drifted window must outscore every honest window, decisively
    assert min(drifted) > 4 * max(honest), (honest, drifted)
    assert min(drifted) > 0.25


def test_streaming_centroid_drift_matches_batch_exactly(spark, tmp_path):
    """Replay parity for the live centroid-drift twin: embeddings
    ingested as three micro-batches fold to EXACTLY (no tolerance) the
    batch per-label cosine-to-baseline — the 9dp integer-grid deltas
    commute, so any batch partitioning reproduces the batch centroids
    bit-for-bit. A replayed batch must not change the report."""
    import os

    from rclabsapi_spark.functions.scalars import round_half_up
    from rclabsapi_spark.streaming.drift import (
        centroid_delta_sink,
        centroid_drift_report,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def centroids(df):
        comp = df.select(
            "label", F.posexplode("embedding").alias("pos", "x")
        ).withColumn("x", F.col("x").cast("double"))
        nano = F.floor(F.col("x") * 1000000000.0 + F.lit(0.5)).cast(
            "decimal(38,0)"
        )
        return comp.groupBy("label", "pos").agg(
            round_half_up(
                F.sum(nano).cast("double")
                / (F.count(F.lit(1)) * 1000000000.0),
                6,
            ).alias("c"),
            F.count(F.lit(1)).alias("n"),
        )

    baseline = centroids(emb.filter(F.col("vec_id") % 10 != 7)).select(
        "label", "pos", "c"
    )

    # three doc-ordered micro-batches covering the full table
    in_dir = str(tmp_path / "emb_in")
    os.makedirs(in_dir)
    hi = emb.agg({"vec_id": "max"}).first()[0] + 1
    cuts = [0, hi // 3, 2 * hi // 3, hi]
    for lo, up in zip(cuts, cuts[1:]):
        emb.filter(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < up)
        ).coalesce(1).write.mode("append").parquet(in_dir)

    delta_dir = str(tmp_path / "centroid_deltas")
    sink = centroid_delta_sink(delta_dir)
    q = (
        spark.readStream.format("parquet")
        .schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .load(in_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_cd"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    def report():
        return {
            r["label"]: (r["n_vecs"], r["cos_to_baseline"])
            for r in centroid_drift_report(
                spark, delta_dir, baseline
            ).collect()
        }

    got = report()

    # batch twin over the SAME rows: full-corpus centroids vs baseline
    full = centroids(emb)
    j = full.join(baseline.withColumnRenamed("c", "b"), ["label", "pos"])
    j = j.select(
        "label",
        "n",
        F.round(F.col("c") * 1000000.0, 0).cast("long").alias("lm"),
        F.round(F.col("b") * 1000000.0, 0).cast("long").alias("bm"),
    )
    lb = F.sum(F.col("lm") * F.col("bm")).cast("double")
    ll = F.sum(F.col("lm") * F.col("lm")).cast("double")
    bb = F.sum(F.col("bm") * F.col("bm")).cast("double")
    want = {
        r["label"]: (r["n_vecs"], r["cos"])
        for r in j.groupBy("label")
        .agg(
            F.max("n").alias("n_vecs"),
            round_half_up(lb / (F.sqrt(ll) * F.sqrt(bb)), 6).alias("cos"),
        )
        .collect()
    }
    assert got == want  # exact: grid deltas commute
    assert len(got) >= 2

    # replay the middle batch verbatim: overwrites its own partitions
    mid = emb.filter(
        (F.col("vec_id") >= cuts[1]) & (F.col("vec_id") < cuts[2])
    )
    sink(mid, 1)
    assert report() == want


def test_streaming_ivf_churn_matches_batch_query(spark, tmp_path):
    """Replay parity for the live ANN churn twin: the day's new vectors
    (vec_id % 10 == 7, the r12 incremental-index scenario) ingested as
    micro-batches fold to EXACTLY the registered batch churn table
    (sim_ivf_incremental_churn) — integer arrival counts commute — and
    a replayed batch must not change it."""
    import os

    from rclabsapi_spark.llm.similarity import _as_double, ivf_assign
    from rclabsapi_spark.registry import registered
    from rclabsapi_spark.streaming.ann import churn_delta_sink, churn_report

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    v = _as_double(F.col("embedding"))
    old = emb.filter(F.col("vec_id") % 10 != 7)
    cents = (
        old.filter(F.col("vec_id") < 8)
        .select(
            F.col("vec_id").cast("int").alias("centroid_id"),
            v.alias("cvec"),
        )
        .cache()
    )
    base_sizes = (
        cents.select("centroid_id")
        .join(
            ivf_assign(old, centroids=cents)
            .groupBy("centroid_id")
            .agg(F.count(F.lit(1)).alias("n_base")),
            "centroid_id",
            "left",
        )
        .select(
            "centroid_id", F.coalesce("n_base", F.lit(0)).alias("n_base")
        )
    )

    new = emb.filter(F.col("vec_id") % 10 == 7)
    in_dir = str(tmp_path / "new_in")
    os.makedirs(in_dir)
    hi = emb.agg({"vec_id": "max"}).first()[0] + 1
    for lo, up in [(0, hi // 2), (hi // 2, hi)]:
        new.filter(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < up)
        ).coalesce(1).write.mode("append").parquet(in_dir)

    delta_dir = str(tmp_path / "churn_deltas")
    sink = churn_delta_sink(delta_dir, cents)
    q = (
        spark.readStream.format("parquet")
        .schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .load(in_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_churn"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    def report():
        return {
            r["centroid_id"]: r.asDict()
            for r in churn_report(spark, delta_dir, base_sizes).collect()
        }

    got = report()
    want = {
        r["centroid_id"]: r.asDict()
        for r in registered()["sim_ivf_incremental_churn"]
        .fn(spark, sf)
        .collect()
    }
    assert got == want  # exact: integer arrival counts commute
    assert sum(r["n_new"] for r in got.values()) == new.count()

    # replay the first batch verbatim: overwrites its own partitions
    sink(new.filter(F.col("vec_id") < hi // 2), 0)
    assert report() == want


def test_streaming_heartbeat_timeout_fires_on_watermark(spark, tmp_path):
    """Event-time dead-man switch: a user who stops heartbeating emits a
    silence row once later events advance the watermark past their
    deadline; active users emit nothing. Deterministic — event-time
    timeout, no wall clock."""
    from rclabsapi_spark.streaming.stateful import heartbeat_stream

    base = 1_700_000_000
    # user 1 goes silent at t=base; user 2 keeps beating until base+10000
    rows1 = [(1, base), (2, base)]
    rows2 = [(2, base + 5000), (2, base + 10000)]
    in_dir = str(tmp_path / "hb_in")
    for i, rows in enumerate([rows1, rows2]):
        spark.createDataFrame(rows, "user_id long, t long").withColumn(
            "ts", F.col("t").cast("timestamp")
        ).drop("t").coalesce(1).write.mode("append").parquet(in_dir)

    schema = spark.read.parquet(in_dir).schema
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(in_dir)
    )
    q = (
        heartbeat_stream(stream, threshold_s=3600)
        .writeStream.format("memory")
        .queryName("hb_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_hb"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM hb_out").collect()
    silent = {r["user_id"]: r for r in got}
    # user 1's deadline (base+3600) is passed by user 2's later beats;
    # user 2's own deadline (base+10000+3600) is never passed
    assert set(silent) == {1}
    assert int(silent[1]["last_seen"].timestamp()) == base
    assert silent[1]["silent_after_s"] == 3600


def test_idempotent_sink_replay_does_not_duplicate(spark, events_dir, tmp_path):
    """foreachBatch is at-least-once: replaying a batch into the
    idempotent sink must overwrite its own partition, leaving exactly
    the stream's rows (no duplicates), and a genuine restart with a
    fresh checkpoint re-deliver must converge to the same content."""
    from rclabsapi_spark.streaming.sources import idempotent_parquet_sink

    out = str(tmp_path / "sink_out")
    sink = idempotent_parquet_sink(out)

    schema = spark.read.parquet(events_dir).schema
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(events_dir)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_sink"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    expected = spark.read.parquet(events_dir).count()
    first = spark.read.parquet(out)
    assert first.drop("batch_id").count() == expected

    # simulate the at-least-once hazard: re-deliver batch 0 manually
    batch0 = spark.read.parquet(out).filter(F.col("batch_id") == 0).drop(
        "batch_id"
    )
    sink(batch0, 0)
    replayed = spark.read.parquet(out)
    assert replayed.drop("batch_id").count() == expected  # no duplicates


def test_stateful_state_survives_query_restart(spark, events_dir, tmp_path):
    """State-store recovery: run the transitions stream over the first
    half of an ordered replay, STOP the query, then start a NEW query on
    the same checkpoint over the full input — carried per-user tails must
    resume (not reset), so summed increments still equal the batch
    matrix."""
    from rclabsapi_spark.streaming.stateful import transitions_stream

    ev = spark.read.parquet(events_dir)
    in_dir = str(tmp_path / "restart_in")
    ranked = ev.withColumn(
        "slice", F.ntile(4).over(Window.orderBy("ts", "event_id"))
    )
    for i in range(1, 3):  # first half only
        ranked.filter(F.col("slice") == i).drop("slice").coalesce(
            1
        ).write.mode("append").parquet(in_dir)

    schema = spark.read.parquet(in_dir).schema
    ckpt = str(tmp_path / "ckpt_restart")
    out_dir = str(tmp_path / "restart_out")

    def run_stream():
        stream = (
            spark.readStream.format("parquet")
            .schema(schema)
            .option("maxFilesPerTrigger", "1")
            .load(in_dir)
        )
        q = (
            transitions_stream(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_stream()  # consumes slices 1-2, checkpoints state

    for i in range(3, 5):  # second half arrives while stopped
        ranked.filter(F.col("slice") == i).drop("slice").coalesce(
            1
        ).write.mode("append").parquet(in_dir)

    run_stream()  # NEW query, same checkpoint: resumes state

    both = (
        spark.read.parquet(out_dir)
        .groupBy("from_type", "to_type")
        .agg(F.sum("n").alias("n"))
        .collect()
    )
    got = {(r["from_type"], r["to_type"]): r["n"] for r in both}
    expected = _batch_transitions(spark, in_dir)
    assert got == expected


def test_stream_stream_interval_join_matches_batch(spark, events_dir, tmp_path):
    """Stream-stream watermarked interval join: the live click⋈purchase
    pairs must equal the batch interval join over the same events."""
    from rclabsapi_spark.streaming.joins import (
        interval_join_clicks_to_purchases,
    )

    ev = spark.read.parquet(events_dir)
    clicks_b = ev.filter(F.col("event_type") == "click")
    purch_b = ev.filter(F.col("event_type") == "purchase")
    expected = {
        (r["click_id"], r["purchase_id"])
        for r in interval_join_clicks_to_purchases(
            clicks_b, purch_b, max_lag="30 minutes"
        ).collect()
    }
    assert expected  # fixture has qualifying pairs

    schema = ev.schema
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(events_dir)
    )
    joined = interval_join_clicks_to_purchases(
        stream.filter(F.col("event_type") == "click"),
        stream.filter(F.col("event_type") == "purchase"),
        max_lag="30 minutes",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["click_id"], r["purchase_id"])
        for r in spark.sql("SELECT * FROM ssj_out").collect()
    }
    assert got == expected


def test_native_dropduplicates_within_watermark_matches_stateful(
    spark, events_dir, tmp_path
):
    """Spark's native dropDuplicatesWithinWatermark and the custom
    stateful dedup must pass the same events on a replayed-duplicate
    stream (every event delivered twice across micro-batches)."""
    from rclabsapi_spark.streaming.stateful import stream_exact_dedup

    ev = spark.read.parquet(events_dir)
    dup_dir = str(tmp_path / "dup_in")
    ev.coalesce(1).write.parquet(dup_dir)
    ev.coalesce(1).write.mode("append").parquet(dup_dir)  # full replay
    expected = ev.count()

    schema = ev.schema

    def run(sink_name, transform):
        stream = (
            spark.readStream.format("parquet")
            .schema(schema)
            .option("maxFilesPerTrigger", "1")
            .load(dup_dir)
        )
        q = (
            transform(stream)
            .writeStream.format("memory")
            .queryName(sink_name)
            .option(
                "checkpointLocation", str(tmp_path / f"ckpt_{sink_name}")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.sql(f"SELECT * FROM {sink_name}").count()

    native = run(
        "dedup_native",
        lambda s: s.withWatermark("ts", "10 days").dropDuplicatesWithinWatermark(
            ["event_id"]
        ),
    )
    stateful = run("dedup_stateful", lambda s: stream_exact_dedup(s))
    assert native == expected
    assert stateful == expected


def test_kv_ttl_stream_sets_and_expires_deterministically(spark, tmp_path):
    """Redis-SETEX semantics on the state store: refreshed keys stay
    alive, an unrefreshed key expires exactly TTL after its last set
    (watermark-driven, replay-deterministic)."""
    from rclabsapi_spark.streaming.kv import kv_ttl_stream

    base = 1_700_000_000
    b1 = [("a", "v1", base), ("b", "w1", base)]
    # a refreshes; b goes silent; later traffic pushes the watermark
    b2 = [("a", "v2", base + 500), ("c", "x1", base + 2000)]
    in_dir = str(tmp_path / "kv_in")
    for rows in (b1, b2):
        spark.createDataFrame(rows, "key string, value string, t long").withColumn(
            "ts", F.col("t").cast("timestamp")
        ).drop("t").coalesce(1).write.mode("append").parquet(in_dir)

    schema = spark.read.parquet(in_dir).schema
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(in_dir)
    )
    q = (
        kv_ttl_stream(stream, ttl_s=1000)
        .writeStream.format("memory")
        .queryName("kv_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_kv"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    ops = [
        (r["key"], r["op"], r["value"])
        for r in spark.sql("SELECT * FROM kv_out ORDER BY ts, key").collect()
    ]
    # b expires TTL after its only set; a's refresh moved its deadline
    # to base+1500 — still before the final watermark (base+2000), so it
    # expires too, carrying the REFRESHED value; c's deadline (base+3000)
    # is never reached
    assert ("b", "expire", "w1") in ops
    assert ("a", "set", "v2") in ops
    assert ("a", "expire", "v2") in ops          # refreshed value expires
    assert ("a", "expire", "v1") not in ops      # not the stale one
    assert not any(k == "c" and op == "expire" for k, op, _ in ops)
    expiries = {
        r["key"]: int(r["ts"].timestamp())
        for r in spark.sql(
            "SELECT key, ts FROM kv_out WHERE op='expire'"
        ).collect()
    }
    assert expiries == {"b": base + 1000, "a": base + 1500}  # last_set+TTL


def test_streaming_ew_stats_match_batch_fold(spark, events_dir, tmp_path):
    """The stream's FINAL per-key (ewma, ewstd) equals the batch
    struct-fold operator on the same events replayed in order."""
    from rclabsapi_spark.operators.windows import ew_stats_per_key
    from rclabsapi_spark.streaming.stateful import ew_stats_stream

    ev = spark.read.parquet(events_dir)
    expected = {
        r["user_id"]: (r["ewma"], r["ewstd"])
        for r in ew_stats_per_key(
            ev, "user_id", "ts", "event_id", "value", alpha=0.1
        ).collect()
    }

    in_dir = str(tmp_path / "ews_in")
    ranked = ev.withColumn(
        "slice", F.ntile(3).over(Window.orderBy("ts", "event_id"))
    )
    for i in range(1, 4):
        ranked.filter(F.col("slice") == i).drop("slice").coalesce(
            1
        ).write.mode("append").parquet(in_dir)

    schema = spark.read.parquet(in_dir).schema
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(in_dir)
    )
    q = (
        ew_stats_stream(stream, alpha=0.1)
        .writeStream.format("memory")
        .queryName("ews_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_ews"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT user_id, ewma, ewstd FROM ("
        " SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id"
        " ORDER BY ts DESC) AS rn FROM ews_out) WHERE rn = 1"
    ).collect()
    got = {r["user_id"]: (r["ewma"], r["ewstd"]) for r in rows}
    assert set(got) == set(expected)
    for uid, (m, s) in expected.items():
        assert got[uid][0] == pytest.approx(m, abs=1e-6), uid
        assert got[uid][1] == pytest.approx(s, abs=1e-6), uid


def test_streaming_mad_and_changepoint_audits_match_batch(
    spark, events_dir, tmp_path
):
    """The live alerting shape for the MAD/CUSUM audits: the stream
    maintains the daily per-type count series (complete-mode aggregate);
    the audits are cheap folds over that maintained state each trigger.
    After a full replay, the maintained series must equal the batch
    series EXACTLY, and both audits run over it must reproduce the batch
    audit outputs row-for-row."""
    from rclabsapi_spark.operators.analytics import (
        mad_anomalies,
        mean_shift_changepoint,
    )

    ev = spark.read.parquet(events_dir)
    daily_batch = ev.groupBy(
        "event_type", F.window("ts", "1 day").getField("start").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))

    batch_mad = {
        (r["event_type"], r["day"]): (r["is_anomaly"], r["n"])
        for r in mad_anomalies(
            daily_batch, group_cols=("event_type",), value_col="n"
        ).collect()
    }
    batch_cp = {
        r["event_type"]: (
            r["changepoint_at"],
            r["cusum_score"],
            r["mean_before"],
            r["mean_after"],
        )
        for r in mean_shift_changepoint(
            daily_batch,
            group_cols=("event_type",),
            order_col="day",
            value_col="n",
        ).collect()
    }
    assert batch_mad and batch_cp

    schema = ev.schema
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(events_dir)
    )
    q = (
        stream.groupBy(
            "event_type",
            F.window("ts", "1 day").getField("start").alias("day"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.format("memory")
        .queryName("mad_daily_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_mad"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # localCheckpoint: mad_anomalies self-joins its input, and the
    # memory-sink view resolves to the same attribute ids on both sides
    maintained = spark.sql("SELECT * FROM mad_daily_out").localCheckpoint()

    got_series = {
        (r["event_type"], r["day"]): r["n"] for r in maintained.collect()
    }
    assert got_series == {k: n for k, (_, n) in batch_mad.items()}

    got_mad = {
        (r["event_type"], r["day"]): (r["is_anomaly"], r["n"])
        for r in mad_anomalies(
            maintained, group_cols=("event_type",), value_col="n"
        ).collect()
    }
    assert got_mad == batch_mad

    got_cp = {
        r["event_type"]: (
            r["changepoint_at"],
            r["cusum_score"],
            r["mean_before"],
            r["mean_after"],
        )
        for r in mean_shift_changepoint(
            maintained,
            group_cols=("event_type",),
            order_col="day",
            value_col="n",
        ).collect()
    }
    assert got_cp == batch_cp


def test_streaming_temperature_reweighting_matches_batch(spark, tmp_path):
    """Mixture weights drift as the corpus grows: a complete-mode
    per-stratum count stream re-derives temperature keep rates each
    micro-batch via foreachBatch (the live rebalancing layer,
    job_monitor_service.cpp:876-897). Once the replay completes, the
    final rates equal the batch rates bit-for-bit, and applying them
    reproduces the batch sample exactly — membership is a pure function
    of (key, rate), so the drifting early-batch rates cost nothing once
    the corpus is complete."""
    from rclabsapi_spark.catalog import load_table
    from rclabsapi_spark.llm.sampling import (
        hash_bucket,
        temperature_rates,
        temperature_sample,
    )

    tau, target, salt = 0.5, 100.0, "st:"
    docs = load_table(spark, SF_SMOKE, "documents")
    in_dir = str(tmp_path / "docs_in")
    ranked = docs.withColumn(
        "slice", F.ntile(3).over(Window.orderBy("doc_id"))
    )
    for i in range(1, 4):
        ranked.filter(F.col("slice") == i).drop("slice").coalesce(
            1
        ).write.mode("append").parquet(in_dir)

    schema = spark.read.parquet(in_dir).schema
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(in_dir)
    )
    counts = stream.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("_n")
    )
    rates_dir = str(tmp_path / "rates")

    def reweight(batch_df, _batch_id):
        temperature_rates(
            batch_df, strat_col="source", tau=tau, target_total=target
        ).write.mode("overwrite").parquet(rates_dir)

    q = (
        counts.writeStream.outputMode("complete")
        .foreachBatch(reweight)
        .option("checkpointLocation", str(tmp_path / "ckpt_temp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    streamed = {
        r["source"]: r["_rate"]
        for r in spark.read.parquet(rates_dir).collect()
    }
    batch_counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("_n")
    )
    batch_rates = {
        r["source"]: r["_rate"]
        for r in temperature_rates(
            batch_counts, strat_col="source", tau=tau, target_total=target
        ).collect()
    }
    assert streamed == batch_rates  # bit-for-bit, incl. the Z fold

    applied = (
        docs.join(F.broadcast(spark.read.parquet(rates_dir)), "source")
        .filter(
            (F.col("_rate") >= 1.0)
            | (
                hash_bucket(F.col("doc_id"), salt=salt)
                < F.format_string(
                    "%04x",
                    F.floor(F.lit(65536.0) * F.col("_rate")).cast("long"),
                )
            )
        )
        .select("doc_id")
    )
    batch_kept = temperature_sample(
        docs, key_col="doc_id", strat_col="source", tau=tau,
        target_total=target, salt=salt,
    ).select("doc_id")
    assert applied.subtract(batch_kept).count() == 0
    assert batch_kept.subtract(applied).count() == 0


def test_streaming_incremental_lsh_matches_cross_batch_pairs(
    spark, tmp_path
):
    """The daily-merge near-dup contract run as a REAL stream: each
    micro-batch checks its docs against the signature store of
    everything ingested before it (incremental_lsh_pairs), then joins
    the store. The union of streamed verdicts must equal exactly the
    CROSS-batch subset of the full-corpus LSH pairs — same pair set,
    same exact-Jaccard values. (Within-batch duplicates are the
    in-batch LSH tier's job, by design.)"""
    from rclabsapi_spark.catalog import load_table
    from rclabsapi_spark.llm.dedup import (
        incremental_lsh_pairs,
        lsh_candidate_pairs,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    in_dir = str(tmp_path / "docs_in")
    # slices by doc_id order → later slice ⇒ larger ids
    ranked = docs.withColumn(
        "slice", F.ntile(3).over(Window.orderBy("doc_id"))
    )
    bounds = {
        r["slice"]: r["mx"]
        for r in ranked.groupBy("slice")
        .agg(F.max("doc_id").alias("mx"))
        .collect()
    }
    for i in range(1, 4):
        ranked.filter(F.col("slice") == i).drop("slice").coalesce(
            1
        ).write.mode("append").parquet(in_dir)

    store_dir = str(tmp_path / "store")
    pairs_dir = str(tmp_path / "pairs_out")

    def daily_merge(batch_df, _batch_id):
        import os

        batch_df = batch_df.coalesce(1)
        if os.path.exists(store_dir):
            store = spark.read.parquet(store_dir)
            pairs = incremental_lsh_pairs(
                batch_df, store, max_bucket_size=None
            )
            pairs.write.mode("append").parquet(pairs_dir)
        batch_df.write.mode("append").parquet(store_dir)

    schema = spark.read.parquet(in_dir).schema
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(in_dir)
    )
    q = (
        stream.writeStream.foreachBatch(daily_merge)
        .option("checkpointLocation", str(tmp_path / "ckpt_ilsh"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    streamed = {
        (r["new_doc"], r["corpus_doc"]): r["jaccard"]
        for r in spark.read.parquet(pairs_dir).collect()
    }
    # batch reference: full-corpus LSH pairs, cross-slice subset only;
    # lsh emits doc_a < doc_b and later slices hold larger ids, so the
    # streamed (new, corpus) pair is (doc_b, doc_a)
    def slice_of(doc_id):
        for s in sorted(bounds):
            if doc_id <= bounds[s]:
                return s
        raise AssertionError(doc_id)

    full = lsh_candidate_pairs(docs, max_bucket_size=None)
    expected = {
        (r["doc_b"], r["doc_a"]): r["jaccard"]
        for r in full.collect()
        if slice_of(r["doc_a"]) != slice_of(r["doc_b"])
    }
    assert expected, "fixture has no cross-slice near-dups to verify"
    assert streamed == expected


def test_streaming_semantic_decontamination_matches_batch(spark, tmp_path):
    """Semantic decontamination run as a REAL stream: new training
    vectors arrive in micro-batches and each batch is flagged against
    the STATIC broadcast eval index (the production shape — the eval
    suite doesn't change mid-ingest). The operator is per-row
    independent (each train vector's verdict depends only on itself
    and the eval side), so the union of streamed verdicts must equal
    the batch run exactly — same flagged set, same rounded cosines.
    ``num_bits`` is derived once from the eval side and passed to both
    paths, exactly as a daily pipeline would pin it."""
    from rclabsapi_spark.catalog import load_table
    from rclabsapi_spark.llm.similarity import (
        derive_num_bits,
        semantic_decontaminate,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )
    is_eval = (
        F.substring(
            F.md5(F.concat(F.lit("evalsplit:"),
                           F.col("vec_id").cast("string"))), 1, 1
        ) < "2"
    )
    ev = emb.filter(is_eval)
    tr = emb.filter(~is_eval)
    bits = derive_num_bits(ev.count(), target_bucket_size=16)

    in_dir = str(tmp_path / "train_in")
    ranked = tr.withColumn("slice", F.ntile(3).over(Window.orderBy("vec_id")))
    for i in range(1, 4):
        ranked.filter(F.col("slice") == i).drop("slice").coalesce(
            1
        ).write.mode("append").parquet(in_dir)

    out_dir = str(tmp_path / "flags_out")

    def flag_batch(batch_df, _batch_id):
        out = semantic_decontaminate(
            batch_df, ev, num_bits=bits, threshold=0.3, probe_bits=1
        )
        out.write.mode("append").parquet(out_dir)

    schema = spark.read.parquet(in_dir).schema
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(in_dir)
    )
    q = (
        stream.writeStream.foreachBatch(flag_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt_sdc"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    streamed = {
        (r["train_id"], r["eval_id"]): r["cosine_sim"]
        for r in spark.read.parquet(out_dir).collect()
    }
    expected = {
        (r["train_id"], r["eval_id"]): r["cosine_sim"]
        for r in semantic_decontaminate(
            tr, ev, num_bits=bits, threshold=0.3, probe_bits=1
        ).collect()
    }
    assert streamed == expected
    assert expected  # non-vacuous: the fixture must flag something


def test_token_savings_stream_matches_batch_report(spark, tmp_path):
    """Replay parity for the streaming token-accounting twin: documents
    ingested as doc_id-ordered micro-batches (first-seen keeper ==
    batch min-doc_id keeper) must fold to EXACTLY the batch
    ``dedup_token_savings`` report, and a replayed micro-batch (the
    at-least-once foreachBatch contract) must not change the totals."""
    import os

    from rclabsapi_spark.registry import registered
    from rclabsapi_spark.streaming.accounting import (
        token_savings_sink,
        token_savings_totals,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    hi = docs.agg({"doc_id": "max"}).first()[0] + 1
    cuts = [0, hi // 4, hi // 2, 3 * hi // 4, hi]
    in_dir = str(tmp_path / "docs_in")
    os.makedirs(in_dir)
    for i, (lo, up) in enumerate(zip(cuts, cuts[1:])):
        part = docs.filter(
            (docs.doc_id >= lo) & (docs.doc_id < up)
        ).coalesce(1)
        part.write.mode("append").parquet(in_dir)
        # pin mtimes so the file source triggers batches in doc_id order
        for f in os.listdir(in_dir):
            p = os.path.join(in_dir, f)
            if f.endswith(".parquet") and os.path.getmtime(p) > 1e9 + i:
                os.utime(p, (1e9 + i, 1e9 + i))

    fp_dir = str(tmp_path / "fp_store")
    delta_dir = str(tmp_path / "deltas")
    sink = token_savings_sink(fp_dir, delta_dir)
    q = (
        spark.readStream.format("parquet")
        .schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .load(in_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_tok"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    def snap():
        return {
            r["source"]: r.asDict()
            for r in token_savings_totals(spark, delta_dir).collect()
        }

    got = snap()
    want = {
        r["source"]: r.asDict()
        for r in registered()["dedup_token_savings"].fn(spark, sf).collect()
    }
    assert got == want

    # replay the LAST micro-batch verbatim: overwrites its own
    # partitions, totals must be unchanged (exactly-once accounting)
    last = docs.filter(
        (docs.doc_id >= cuts[-2]) & (docs.doc_id < cuts[-1])
    )
    sink(last, 3)
    assert snap() == want


def test_token_savings_corrupt_store_fails_batch(spark, tmp_path):
    """A fingerprint store that exists but cannot be read (corrupt
    footer) must FAIL the batch, not silently count as empty — an empty
    read would re-mark every previously-seen duplicate as 'kept' and
    inflate tokens_kept (the r12 advisory). Only a genuinely absent
    path means 'first batch'."""
    import os

    import pytest

    from rclabsapi_spark.streaming.accounting import token_savings_sink

    fp_dir = str(tmp_path / "fp_store")
    os.makedirs(f"{fp_dir}/batch_id=0")
    with open(f"{fp_dir}/batch_id=0/part-00000.parquet", "wb") as fh:
        fh.write(b"this is not a parquet file")
    sink = token_savings_sink(fp_dir, str(tmp_path / "deltas"))
    batch = spark.createDataFrame(
        [(1, "a b", "s")], "doc_id long, text string, source string"
    )
    with pytest.raises(Exception):
        sink(batch, 1)
    # and nothing was accounted: the delta dir must not exist
    assert not os.path.exists(str(tmp_path / "deltas"))


def test_token_savings_duplicate_batch_keys_dropped(spark, tmp_path):
    """A micro-batch carrying the same doc_id twice must count it once:
    the statuses⋈batch join is on the key, so without the defensive
    dropDuplicates a doubled key would fan out and inflate
    n_docs/token totals (the r12 advisory)."""
    from rclabsapi_spark.streaming.accounting import (
        token_savings_sink,
        token_savings_totals,
    )

    sink = token_savings_sink(
        str(tmp_path / "fp_store"), str(tmp_path / "deltas")
    )
    batch = spark.createDataFrame(
        [(1, "a b", "s"), (1, "a b", "s"), (2, "c", "s")],
        "doc_id long, text string, source string",
    )
    sink(batch, 0)
    got = {
        r["source"]: r.asDict()
        for r in token_savings_totals(
            spark, str(tmp_path / "deltas")
        ).collect()
    }
    assert got["s"]["n_docs"] == 2
    assert got["s"]["n_dup_docs"] == 0
    assert got["s"]["tokens_total"] == 3
    assert got["s"]["tokens_kept"] == 3


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_TOK_TEXTS = ["a", "a b", "b c d", "x", "a b c", "zz y", ""]


@settings(
    max_examples=8,  # each example runs several Spark write jobs
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(
    docs=st.dictionaries(
        st.integers(0, 99),
        st.tuples(
            st.sampled_from(["s0", "s1", "s2"]),
            st.sampled_from(_TOK_TEXTS),
        ),
        min_size=1,
        max_size=25,
    ),
    rng=st.randoms(use_true_random=False),
    n_batches=st.integers(1, 4),
)
def test_token_accounting_invariants_any_order(spark, docs, rng, n_batches):
    """Order-independent invariants of the streaming accounting: for ANY
    shuffling of the corpus into micro-batches (including empty ones and
    duplicates split across batches/sources), per-source doc and token
    totals equal the corpus's, exactly one keeper survives per distinct
    text globally (so global kept tokens = Σ over distinct texts), and
    the per-row partition/rate identities hold. Keeper IDENTITY is
    order-dependent by design (first-seen); these are the facts that are
    not."""
    import shutil
    import tempfile

    from rclabsapi_spark.streaming.accounting import (
        token_savings_sink,
        token_savings_totals,
    )

    rows = [(k, s, t) for k, (s, t) in docs.items()]
    rng.shuffle(rows)
    base = tempfile.mkdtemp(prefix="tok_prop_")
    try:
        sink = token_savings_sink(f"{base}/fp", f"{base}/deltas")
        for b in range(n_batches):
            batch = [r for i, r in enumerate(rows) if i % n_batches == b]
            sink(
                spark.createDataFrame(
                    batch, "doc_id long, source string, text string"
                ),
                b,
            )
        got = {
            r["source"]: r.asDict()
            for r in token_savings_totals(spark, f"{base}/deltas").collect()
        }
        ntok = lambda t: len(t.split(" "))  # noqa: E731 — mirrors llm.text.tokens
        want_docs, want_tokens = {}, {}
        for _, s, t in rows:
            want_docs[s] = want_docs.get(s, 0) + 1
            want_tokens[s] = want_tokens.get(s, 0) + ntok(t)
        assert {s: r["n_docs"] for s, r in got.items()} == want_docs
        assert {s: r["tokens_total"] for s, r in got.items()} == want_tokens
        distinct = {t for _, _, t in rows}
        assert sum(r["n_docs"] - r["n_dup_docs"] for r in got.values()) == len(
            distinct
        )
        assert sum(r["tokens_kept"] for r in got.values()) == sum(
            ntok(t) for t in distinct
        )
        for r in got.values():
            assert r["tokens_kept"] + r["tokens_dropped"] == r["tokens_total"]
            want_rate = (
                int(r["tokens_dropped"] / r["tokens_total"] * 1e6 + 0.5) / 1e6
            )
            assert r["savings_rate"] == want_rate
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_churn_report_before_first_batch_returns_base_sizes(spark, tmp_path):
    """An absent delta store (no batch has landed yet) must fold to
    n_new = 0 for every centroid — not raise on schema inference
    (ADVICE r13). Same for a store directory with no partition files."""
    from rclabsapi_spark.streaming.ann import churn_report

    base_sizes = spark.createDataFrame(
        [(0, 10), (1, 3)], "centroid_id int, n_base long"
    )
    got = {
        r["centroid_id"]: r.asDict()
        for r in churn_report(
            spark, str(tmp_path / "never_written"), base_sizes
        ).collect()
    }
    assert got == {
        0: {"centroid_id": 0, "n_base": 10, "n_new": 0,
            "n_total": 10, "new_share": 0.0},
        1: {"centroid_id": 1, "n_base": 3, "n_new": 0,
            "n_total": 3, "new_share": 0.0},
    }


def test_centroid_drift_report_before_first_batch_returns_no_rows(
    spark, tmp_path
):
    """An absent centroid-delta store folds to an empty report instead
    of raising (ADVICE r13)."""
    from rclabsapi_spark.streaming.drift import centroid_drift_report

    baseline = spark.createDataFrame(
        [("en", 0, 0.5), ("en", 1, 0.25)], "label string, pos int, c double"
    )
    assert (
        centroid_drift_report(
            spark, str(tmp_path / "never_written"), baseline
        ).count()
        == 0
    )


def test_token_savings_conflicting_batch_keys_pick_deterministic_survivor(
    spark, tmp_path
):
    """When one micro-batch carries the same doc_id with DIFFERENT
    text/source, the survivor must be deterministic — min by
    (md5(text), source) — so a replay of that batch_id rewrites
    identical deltas regardless of row order (ADVICE r13)."""
    import hashlib

    from rclabsapi_spark.streaming.accounting import (
        token_savings_sink,
        token_savings_totals,
    )

    rows = [(1, "zz yy xx", "s_z"), (1, "aa bb", "s_a"), (2, "c", "s_a")]
    surv_text, surv_src = min(
        ((t, s) for d, t, s in rows if d == 1),
        key=lambda ts: (hashlib.md5(ts[0].encode()).hexdigest(), ts[1]),
    )

    def run(order, tag):
        fp = str(tmp_path / f"fp_{tag}")
        dl = str(tmp_path / f"dl_{tag}")
        sink = token_savings_sink(fp, dl)
        batch = spark.createDataFrame(
            order, "doc_id long, text string, source string"
        )
        sink(batch, 0)
        return {
            r["source"]: r.asDict()
            for r in token_savings_totals(spark, dl).collect()
        }

    fwd = run(rows, "fwd")
    rev = run(list(reversed(rows)), "rev")
    assert fwd == rev
    # the surviving copy is the md5-min one: its source carries doc 1
    n_tok = len(surv_text.split())
    assert fwd[surv_src]["n_docs"] >= 1
    assert fwd[surv_src]["tokens_total"] >= n_tok


def test_survivor_ordering_distinguishes_null_from_empty_string(spark):
    """The survivor ordering must be total across NULL vs '' too: two
    same-key rows identical except source NULL vs source '' previously
    shared one ordering key (both coalesced to ''), so min_by picked
    arbitrarily — and since NULL and '' land in different
    groupBy('source') buckets, a replay could write different per-source
    deltas (ADVICE r15). With the is-null discriminator the non-NULL row
    wins deterministically, in any arrival order."""
    from rclabsapi_spark.streaming.accounting import deterministic_survivor

    rows = [(1, "same text", None), (1, "same text", "")]
    schema = "doc_id long, text string, source string"
    for order, tag in ((rows, "fwd"), (list(reversed(rows)), "rev")):
        got = deterministic_survivor(
            spark.createDataFrame(order, schema),
            key_col="doc_id",
            text_col="text",
            source_col="source",
        ).collect()
        assert len(got) == 1, tag
        # (0, '') sorts before (1, ''): the empty-string row survives
        assert got[0]["source"] == "", tag

    # same discriminator on a TIE-BREAK field (text+source identical,
    # an extra column NULL vs ''): still one deterministic survivor
    rows2 = [(1, "t", "s", None), (1, "t", "s", "")]
    schema2 = "doc_id long, text string, source string, extra string"
    picks = set()
    for order in (rows2, list(reversed(rows2))):
        got = deterministic_survivor(
            spark.createDataFrame(order, schema2),
            key_col="doc_id",
            text_col="text",
            source_col="source",
        ).collect()
        assert len(got) == 1
        picks.add(got[0]["extra"])
    assert picks == {""}


def test_policy_savings_stream_matches_batch_card(spark, tmp_path):
    """Replay parity for the live policy-savings card: documents
    ingested as doc_id-ordered micro-batches through the accounting
    sink, folded with the frozen near-dup/quality extras of the last
    batch policy run, must equal the registered
    ``dedup_policy_savings`` card row-for-row (all three tiers and all
    three rates, no tolerance) — and a replayed micro-batch must not
    change it. Before ANY batch lands, the report degrades to zero
    rows instead of raising (the _read_or_empty contract)."""
    import os

    from pyspark.sql import functions as F

    from rclabsapi_spark.registry import registered
    from rclabsapi_spark.streaming.accounting import (
        policy_savings_report,
        token_savings_sink,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")

    card = registered()["dedup_policy_savings"].fn(spark, sf).cache()
    frozen_extras = card.select(
        "source",
        (F.col("tokens_saved_neardup") - F.col("tokens_saved_exact"))
        .alias("extra_minid"),
        (F.col("tokens_saved_quality") - F.col("tokens_saved_exact"))
        .alias("extra_quality"),
    )
    delta_dir = str(tmp_path / "deltas")
    # first-batch window: absent store folds to an empty card
    assert (
        policy_savings_report(spark, delta_dir, frozen_extras).count() == 0
    )

    hi = docs.agg({"doc_id": "max"}).first()[0] + 1
    cuts = [0, hi // 3, 2 * hi // 3, hi]
    in_dir = str(tmp_path / "docs_in")
    os.makedirs(in_dir)
    for i, (lo, up) in enumerate(zip(cuts, cuts[1:])):
        part = docs.filter(
            (docs.doc_id >= lo) & (docs.doc_id < up)
        ).coalesce(1)
        part.write.mode("append").parquet(in_dir)
        for f in os.listdir(in_dir):
            p = os.path.join(in_dir, f)
            if f.endswith(".parquet") and os.path.getmtime(p) > 1e9 + i:
                os.utime(p, (1e9 + i, 1e9 + i))

    sink = token_savings_sink(str(tmp_path / "fp_store"), delta_dir)
    q = (
        spark.readStream.format("parquet")
        .schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .load(in_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_pol"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    def snap():
        return {
            r["source"]: r.asDict()
            for r in policy_savings_report(
                spark, delta_dir, frozen_extras
            ).collect()
        }

    want = {r["source"]: r.asDict() for r in card.collect()}
    assert snap() == want

    # replay the LAST micro-batch verbatim (at-least-once contract):
    # overwrites its own partitions, the card must be unchanged
    last = docs.filter(
        (docs.doc_id >= cuts[-2]) & (docs.doc_id < cuts[-1])
    )
    sink(last, 2)
    assert snap() == want
    card.unpersist()


def test_crawl_budget_stream_matches_batch_allocation(spark, tmp_path):
    """Replay parity for the live crawl-budget twin — the strongest
    parity class here: per-domain COUNT deltas commute in any ingestion
    order, so documents ingested under a deliberately NON-key-ordered
    split (doc_id % 3) still fold to EXACTLY the registered
    ``clean_crawl_budget`` allocation when the frozen priors come from
    the same corpus; a replayed micro-batch must not change it, and an
    absent store folds to a zero-row report."""
    import os

    from pyspark.sql import functions as F

    from rclabsapi_spark.llm.cleaning import (
        canonicalize_url,
        url_registrable_domain,
    )
    from rclabsapi_spark.registry import registered
    from rclabsapi_spark.streaming.budget import (
        crawl_budget_report,
        domain_count_sink,
    )
    from rclabsapi_spark.suites.cleaning import (
        _BUDGET_MULT,
        _BUDGET_TAU,
        _domain_quality_frame,
        _pseudo_url_col,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    frozen = (
        _domain_quality_frame(spark, sf).select("domain", "priority").cache()
    )
    delta_dir = str(tmp_path / "deltas")

    def snap():
        return {
            r["domain"]: r.asDict()
            for r in crawl_budget_report(
                spark,
                delta_dir,
                frozen,
                tau=_BUDGET_TAU,
                budget_multiplier=_BUDGET_MULT,
            ).collect()
        }

    assert snap() == {}  # first-batch window: absent store, no rows

    in_dir = str(tmp_path / "docs_in")
    os.makedirs(in_dir)
    for i in range(3):
        part = docs.filter(docs.doc_id % 3 == i).coalesce(1)
        part.write.mode("append").parquet(in_dir)
        for f in os.listdir(in_dir):
            p = os.path.join(in_dir, f)
            if f.endswith(".parquet") and os.path.getmtime(p) > 1e9 + i:
                os.utime(p, (1e9 + i, 1e9 + i))

    domain = url_registrable_domain(canonicalize_url(_pseudo_url_col()))
    sink = domain_count_sink(delta_dir, domain_col=domain)
    q = (
        spark.readStream.format("parquet")
        .schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .load(in_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_bud"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    want = {
        r["domain"]: r.asDict()
        for r in registered()["clean_crawl_budget"].fn(spark, sf).collect()
    }
    got = snap()
    assert got == want

    # replay the LAST micro-batch verbatim: overwrites its own
    # partitions, the allocation must be unchanged (exactly-once)
    sink(docs.filter(docs.doc_id % 3 == 2), 2)
    assert snap() == want

    # a live domain with NO frozen prior gets zero weight and a zero
    # target (the "needs a prior first" signal), never NULL
    sink(
        docs.limit(5).withColumn("doc_id", F.col("doc_id") + 10_000_000),
        3,
    )
    after = crawl_budget_report(
        spark,
        delta_dir,
        frozen.limit(0),  # adversarial: NO priors at all -> Z = 0
        tau=_BUDGET_TAU,
        budget_multiplier=_BUDGET_MULT,
    )
    rows = after.collect()
    assert len(rows) > 0
    assert all(
        r["priority"] == 0.0 and r["w_temp"] == 0.0 and r["target_docs"] == 0
        for r in rows
    )
    frozen.unpersist()


@settings(
    max_examples=5,  # each example runs several Spark write jobs
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(
    doc_ids=st.lists(
        st.integers(0, 59), min_size=1, max_size=40, unique=True
    ),
    rng=st.randoms(use_true_random=False),
    n_batches=st.integers(1, 4),
)
def test_crawl_budget_fold_is_order_free(spark, doc_ids, rng, n_batches):
    """Property behind the crawl twin's headline claim: for ANY subset
    of documents, ANY random partition of it into micro-batches, and
    ANY batch order, the folded report equals the batch allocation
    computed directly on that subset (counts commute — no ingestion-
    order precondition at all). Replaying every batch once more in a
    second random order must change nothing."""
    import tempfile

    from pyspark.sql import functions as F

    from rclabsapi_spark.llm.cleaning import (
        canonicalize_url,
        url_registrable_domain,
    )
    from rclabsapi_spark.llm.sampling import crawl_budget_allocation
    from rclabsapi_spark.streaming.budget import (
        crawl_budget_report,
        domain_count_sink,
    )
    from rclabsapi_spark.suites.cleaning import (
        _domain_quality_frame,
        _pseudo_url_col,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").filter(
        F.col("doc_id").isin(doc_ids)
    )
    frozen = _domain_quality_frame(spark, sf).select("domain", "priority")
    domain = url_registrable_domain(canonicalize_url(_pseudo_url_col()))

    ids = list(doc_ids)
    rng.shuffle(ids)
    cuts = sorted(rng.sample(range(len(ids) + 1), min(n_batches - 1, len(ids))))
    parts, lo = [], 0
    for c in cuts + [len(ids)]:
        parts.append(ids[lo:c])
        lo = c

    with tempfile.TemporaryDirectory() as tmp:
        delta_dir = f"{tmp}/deltas"
        sink = domain_count_sink(delta_dir, domain_col=domain)
        order = list(range(len(parts)))
        rng.shuffle(order)
        for bid in order:
            sink(docs.filter(F.col("doc_id").isin(parts[bid])), bid)

        def snap():
            return {
                r["domain"]: r.asDict()
                for r in crawl_budget_report(
                    spark, delta_dir, frozen, tau=0.5,
                    budget_multiplier=1.25,
                ).collect()
            }

        got = snap()
        stats = (
            docs.select(domain.alias("domain"))
            .groupBy("domain")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
            .join(F.broadcast(frozen), "domain", "left")
            .select(
                "domain",
                "n_docs",
                F.coalesce("priority", F.lit(0.0)).alias("priority"),
            )
        )
        want = {
            r["domain"]: r.asDict()
            for r in crawl_budget_allocation(
                stats,
                strat_col="domain",
                size_col="n_docs",
                priority_col="priority",
                tau=0.5,
                budget_multiplier=1.25,
            ).collect()
        }
        assert got == want
        # replay every batch in a fresh random order: exactly-once
        rng.shuffle(order)
        for bid in order:
            sink(docs.filter(F.col("doc_id").isin(parts[bid])), bid)
        assert snap() == want


def test_incremental_card_stream_matches_batch_card(spark, tmp_path):
    """Replay parity for the live incremental dataset card — the
    order-free class (the crawl-budget tier): the NEW snapshot ingested
    under a deliberately NON-key-ordered split (doc_id % 3) against the
    FROZEN old snapshot must fold to EXACTLY the registered
    ``train_incremental_card`` rows (volume deltas, both mean
    qualities, churn — no tolerance); a replayed micro-batch must not
    change it; an absent store degrades to a zero-row report. Every
    per-doc classification depends only on (doc, frozen snapshot) and
    every delta is an integer sum, so no ingestion-order precondition
    exists to violate."""
    import os

    from pyspark.sql import functions as F

    from rclabsapi_spark.llm.text import bpe_ish_count, quality_features
    from rclabsapi_spark.registry import registered
    from rclabsapi_spark.streaming.cards import (
        incremental_card_report,
        snapshot_ingest_sink,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    # the registered query's two synthesized snapshots, verbatim
    old = docs.filter(F.col("doc_id") % 17 != 0).select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(F.col("text"), F.lit(" rev0")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    new = docs.filter(F.col("doc_id") % 19 != 0).select(
        "doc_id", "source", "text"
    )

    # the frozen relations pinned at the old snapshot's promotion: its
    # fingerprints and its per-source card sums (the registered card's
    # exact per-row terms)
    frozen_fps = old.select(
        "doc_id", "source", F.md5("text").alias("fp")
    ).cache()
    frozen_card = (
        quality_features(
            old,
            carry=(
                F.col("source"),
                bpe_ish_count(F.col("text")).alias("n_tok"),
            ),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum(
                F.round(F.col("quality_score") * 1000000, 0).cast("long")
            ).alias("q_micro"),
        )
        .cache()
    )

    delta_dir = str(tmp_path / "deltas")
    seen_dir = str(tmp_path / "seen")

    def snap():
        return {
            r["source"]: r.asDict()
            for r in incremental_card_report(
                spark, delta_dir, seen_dir, frozen_card, frozen_fps
            ).collect()
        }

    assert snap() == {}  # first-batch window: absent stores, no rows

    in_dir = str(tmp_path / "snap_in")
    os.makedirs(in_dir)
    for i in range(3):
        part = new.filter(new.doc_id % 3 == i).coalesce(1)
        part.write.mode("append").parquet(in_dir)
        for f in os.listdir(in_dir):
            p = os.path.join(in_dir, f)
            if f.endswith(".parquet") and os.path.getmtime(p) > 1e9 + i:
                os.utime(p, (1e9 + i, 1e9 + i))

    sink = snapshot_ingest_sink(frozen_fps, delta_dir, seen_dir)
    q = (
        spark.readStream.format("parquet")
        .schema(new.schema)
        .option("maxFilesPerTrigger", "1")
        .load(in_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_card"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    want = {
        r["source"]: r.asDict()
        for r in registered()["train_incremental_card"]
        .fn(spark, sf)
        .collect()
    }
    got = snap()
    assert got == want

    # replay the LAST micro-batch verbatim (at-least-once contract):
    # dynamic partition overwrite of its own batch_id, card unchanged
    sink(new.filter(new.doc_id % 3 == 2), 2)
    assert snap() == want
    frozen_fps.unpersist()
    frozen_card.unpersist()


@settings(
    max_examples=5,  # each example runs several Spark write jobs
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(
    doc_ids=st.lists(
        st.integers(0, 59), min_size=1, max_size=40, unique=True
    ),
    rng=st.randoms(use_true_random=False),
    n_batches=st.integers(1, 4),
)
def test_incremental_card_fold_is_order_free(spark, doc_ids, rng, n_batches):
    """Property behind the card twin's headline claim: for ANY subset
    of the new snapshot, ANY random partition of it into micro-batches,
    and ANY batch order, the folded report equals the incremental card
    computed directly between the frozen old snapshot and that subset
    (per-doc classification against a frozen base + integer deltas
    commute — no ingestion-order precondition). Replaying every batch
    once more in a second random order must change nothing. Docs of the
    old snapshot outside the subset correctly count as removed churn."""
    import tempfile

    from pyspark.sql import functions as F

    from rclabsapi_spark.functions.scalars import round_half_up
    from rclabsapi_spark.llm.text import bpe_ish_count, quality_features
    from rclabsapi_spark.maintenance import snapshot_diff
    from rclabsapi_spark.streaming.cards import (
        incremental_card_report,
        snapshot_ingest_sink,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    old = docs.filter(F.col("doc_id") % 17 != 0).select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(F.col("text"), F.lit(" rev0")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    new = docs.filter(F.col("doc_id") % 19 != 0).select(
        "doc_id", "source", "text"
    )
    subset = new.filter(F.col("doc_id").isin(doc_ids))

    def card(d):
        return (
            quality_features(
                d,
                carry=(
                    F.col("source"),
                    bpe_ish_count(F.col("text")).alias("n_tok"),
                ),
            )
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_tok").alias("n_tokens"),
                F.sum(
                    F.round(F.col("quality_score") * 1000000, 0).cast(
                        "long"
                    )
                ).alias("q_micro"),
            )
        )

    frozen_fps = old.select(
        "doc_id", "source", F.md5("text").alias("fp")
    )
    frozen_card = card(old)

    # expected: the registered card's construction applied directly to
    # (old, subset) — reduced cards + fingerprint-diff churn
    mq = lambda side: round_half_up(  # noqa: E731
        F.col(f"{side}.q_micro").cast("double")
        / (F.col(f"{side}.n_docs") * 1000000.0),
        6,
    )
    diff = snapshot_diff(
        frozen_fps,
        subset.select("doc_id", "source", F.md5("text").alias("fp")),
    ).select("source", "churn_rate")
    want = {
        r["source"]: r.asDict()
        for r in frozen_card.alias("o")
        .join(card(subset).alias("n"), "source")
        .select(
            "source",
            F.col("o.n_docs").alias("n_docs_old"),
            F.col("n.n_docs").alias("n_docs_new"),
            (F.col("n.n_docs") - F.col("o.n_docs")).alias("delta_docs"),
            (F.col("n.n_tokens") - F.col("o.n_tokens")).alias(
                "delta_tokens"
            ),
            mq("o").alias("mean_quality_old"),
            mq("n").alias("mean_quality_new"),
        )
        .select(
            "*",
            round_half_up(
                F.col("mean_quality_new") - F.col("mean_quality_old"), 6
            ).alias("delta_mean_quality"),
        )
        .join(diff, "source")
        .collect()
    }

    ids = list(doc_ids)
    rng.shuffle(ids)
    cuts = sorted(
        rng.sample(range(len(ids) + 1), min(n_batches - 1, len(ids)))
    )
    parts, lo = [], 0
    for c in cuts + [len(ids)]:
        parts.append(ids[lo:c])
        lo = c

    with tempfile.TemporaryDirectory() as tmp:
        delta_dir, seen_dir = f"{tmp}/deltas", f"{tmp}/seen"
        sink = snapshot_ingest_sink(frozen_fps, delta_dir, seen_dir)
        order = list(range(len(parts)))
        rng.shuffle(order)
        for bid in order:
            sink(new.filter(F.col("doc_id").isin(parts[bid])), bid)

        def snap():
            return {
                r["source"]: r.asDict()
                for r in incremental_card_report(
                    spark, delta_dir, seen_dir, frozen_card, frozen_fps
                ).collect()
            }

        assert snap() == want
        # replay every batch in a fresh random order: exactly-once
        rng.shuffle(order)
        for bid in order:
            sink(new.filter(F.col("doc_id").isin(parts[bid])), bid)
        assert snap() == want


@settings(
    max_examples=5,  # each example runs several Spark write jobs
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(
    doc_ids=st.lists(
        st.integers(0, 59), min_size=1, max_size=40, unique=True
    ),
    rng=st.randoms(use_true_random=False),
    n_batches=st.integers(1, 4),
)
def test_token_savings_fold_holds_for_any_key_ordered_cuts(
    spark, doc_ids, rng, n_batches
):
    """Property behind the keeper-class twin's documented precondition:
    for ANY subset of documents and ANY partition of it into
    KEY-ORDERED micro-batches (consecutive doc_id runs, ascending batch
    ids — the regime where first-seen == min-key keeper), the folded
    totals equal the batch token-savings computation on that subset.
    The fixed-thirds parity test showed one such partition; this shows
    the cut points don't matter. (Non-key-ordered ingestion is OUT of
    contract for this twin — that's what the order-free crawl/card
    twins are for.)"""
    import tempfile

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from rclabsapi_spark.functions.scalars import round_half_up
    from rclabsapi_spark.llm.text import token_count
    from rclabsapi_spark.streaming.accounting import (
        token_savings_sink,
        token_savings_totals,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    subset = docs.filter(F.col("doc_id").isin(doc_ids))

    # expected: the registered report's shape computed directly on the
    # subset (global min-doc_id keeper per exact hash)
    t = subset.select(
        "doc_id",
        "source",
        token_count(F.col("text")).alias("n_tok"),
        F.md5(F.col("text")).alias("h"),
    )
    k = t.withColumn(
        "keeper", F.min("doc_id").over(Window.partitionBy("h"))
    )
    dup = F.col("doc_id") != F.col("keeper")
    want = {
        r["source"]: r.asDict()
        for r in k.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(dup.cast("int")).cast("long").alias("n_dup_docs"),
            F.sum("n_tok").cast("long").alias("tokens_total"),
            F.sum(F.when(dup, F.col("n_tok")).otherwise(F.lit(0)))
            .cast("long")
            .alias("tokens_dropped"),
            F.sum(F.when(dup, F.lit(0)).otherwise(F.col("n_tok")))
            .cast("long")
            .alias("tokens_kept"),
        )
        .select(
            "*",
            round_half_up(
                F.col("tokens_dropped")
                / F.col("tokens_total").cast("double"),
                6,
            ).alias("savings_rate"),
        )
        .collect()
    }

    # KEY-ORDERED random cuts: consecutive runs of the sorted ids,
    # ingested with ascending batch ids
    ids = sorted(doc_ids)
    cuts = sorted(
        rng.sample(range(len(ids) + 1), min(n_batches - 1, len(ids)))
    )
    parts, lo = [], 0
    for c in cuts + [len(ids)]:
        parts.append(ids[lo:c])
        lo = c

    with tempfile.TemporaryDirectory() as tmp:
        fp_dir, delta_dir = f"{tmp}/fp", f"{tmp}/deltas"
        sink = token_savings_sink(fp_dir, delta_dir)
        for bid, part in enumerate(parts):
            sink(docs.filter(F.col("doc_id").isin(part)), bid)

        def snap():
            return {
                r["source"]: r.asDict()
                for r in token_savings_totals(spark, delta_dir).collect()
            }

        assert snap() == want
        # replay a random batch verbatim: exactly-once
        bid = rng.randrange(len(parts))
        sink(docs.filter(F.col("doc_id").isin(parts[bid])), bid)
        assert snap() == want


def test_incremental_card_null_text_arrival_counts_as_moved(spark, tmp_path):
    """A live doc arriving with NULL text must count as MOVED (the
    registered card's diffrow predicate: n.fp IS NULL ⇒ moved) — a bare
    fp inequality would evaluate to NULL and silently drop it from the
    moved SUM (the grid_term NULL class). Its token/quality terms
    propagate NULL and drop out of the sums, same as the batch card."""
    from pyspark.sql import functions as F

    from rclabsapi_spark.llm.text import bpe_ish_count, quality_features
    from rclabsapi_spark.streaming.cards import (
        incremental_card_report,
        snapshot_ingest_sink,
    )

    old = spark.createDataFrame(
        [(1, "s", "aa bb cc"), (2, "s", "dd ee ff")],
        "doc_id long, source string, text string",
    )
    frozen_fps = old.select("doc_id", "source", F.md5("text").alias("fp"))
    frozen_card = (
        quality_features(
            old,
            carry=(
                F.col("source"),
                bpe_ish_count(F.col("text")).alias("n_tok"),
            ),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum(
                F.round(F.col("quality_score") * 1000000, 0).cast("long")
            ).alias("q_micro"),
        )
    )
    # new snapshot: doc 1 arrives with NULL text (moved), doc 2
    # unchanged, doc 3 added (moved); nothing removed
    new = spark.createDataFrame(
        [(1, "s", None), (2, "s", "dd ee ff"), (3, "s", "gg hh")],
        "doc_id long, source string, text string",
    )
    delta_dir, seen_dir = str(tmp_path / "d"), str(tmp_path / "s")
    snapshot_ingest_sink(frozen_fps, delta_dir, seen_dir)(new, 0)
    rows = incremental_card_report(
        spark, delta_dir, seen_dir, frozen_card, frozen_fps
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_docs_new"] == 3
    # churn = (2 moved arrivals + 0 removed) / (3 arrived + 0 removed)
    assert r["churn_rate"] == 0.666667
