"""Streaming tests: loki tail source, loki streaming sink, watermarked
windowed aggregation, stateful sessionization."""

from __future__ import annotations

import time

import pytest
import pyspark.sql.functions as F

from datafusion_loki_spark import register_loki
from datafusion_loki_spark.streaming import pipeline
from tests.emulator import LokiEmulator

NS = 1_000_000_000


@pytest.fixture()
def emulator():
    em = LokiEmulator().start()
    yield em
    em.stop()


def test_loki_stream_reader_tails_store(spark, emulator, tmp_path):
    register_loki(spark)
    t0 = time.time_ns() - 3600 * NS
    emulator.seed(
        [
            (t0, {"app": "a"}, "one"),
            (t0 + NS, {"app": "a"}, "two"),
            (t0 + 2 * NS, {"app": "b"}, "three"),
        ]
    )
    stream = (
        spark.readStream.format("loki")
        .option("endpoint", emulator.endpoint)
        .option("default_label", "app")
        .option("start", str(t0 - NS))
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("loki_tail")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM loki_tail").collect()
    assert len(rows) == 3
    assert sorted(r.line for r in rows) == ["one", "three", "two"]
    assert rows[0].labels["app"] in ("a", "b")


def test_loki_stream_writer_pushes(spark, emulator, tmp_path):
    register_loki(spark)
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("2026-01-01 00:00:00", "w-app", "streamed line %d" % i) for i in range(5)],
        "ts string, app string, line string",
    ).write.parquet(src)
    stream = (
        spark.readStream.schema("ts string, app string, line string")
        .parquet(src)
        .select(
            F.col("ts").cast("timestamp").alias("timestamp"),
            F.create_map(F.lit("app"), F.col("app")).alias("labels"),
            F.col("line"),
        )
    )
    q = (
        stream.writeStream.format("loki")
        .option("endpoint", emulator.endpoint)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(emulator.rows) == 5
    assert all(r[1] == {"app": "w-app"} for r in emulator.rows)


def test_loki_tail_into_windowed_agg(spark, emulator, tmp_path):
    # composition: the loki tail source feeding a watermarked windowed
    # aggregation — the end-to-end streaming pipeline a log store user runs
    register_loki(spark)
    # 2h ago, aligned to a 10-minute boundary so the 30 events fill
    # exactly three 10-minute windows
    base = ((time.time_ns() // NS - 7200) // 600) * 600 * NS
    emulator.seed(
        [
            (base + i * 60 * NS, {"app": "a" if i % 2 else "b"}, f"line {i}")
            for i in range(30)
        ]
    )
    stream = (
        spark.readStream.format("loki")
        .option("endpoint", emulator.endpoint)
        .option("default_label", "app")
        .option("start", str(base - NS))
        .load()
    )
    agg = (
        stream.withWatermark("timestamp", "10 minutes")
        .groupBy(
            F.window("timestamp", "10 minutes").alias("win"),
            F.col("labels")["app"].alias("app"),
        )
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("ws"), "app", "n")
    )
    # complete mode: a single availableNow micro-batch never advances the
    # watermark far enough for append mode to emit anything
    q = (
        agg.writeStream.format("memory")
        .queryName("loki_win")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_lw"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM loki_win").collect()
    # 30 events, one per minute, alternating apps → 3 windows × 2 apps
    assert len(rows) == 6
    assert all(r.n == 5 for r in rows)
    assert {r.app for r in rows} == {"a", "b"}


def test_windowed_counts_match_batch(spark, sf_dir):
    events = pipeline.events_file_stream(spark, sf_dir)
    agg = pipeline.windowed_event_counts(events)
    pipeline.run_to_memory(agg, "win_counts", spark)
    got = {
        (r.window_start, r.event_type): (r.n, r.sum_value)
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    # batch equivalent over the same file
    from datafusion_loki_spark.catalog import load_table

    batch = (
        load_table(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("s"),
        )
        .select(F.col("win.start").alias("ws"), "event_type", "n", "s")
        .collect()
    )
    expected = {(r.ws, r.event_type): (r.n, r.s) for r in batch}
    # append mode withholds windows the watermark hasn't closed yet — the
    # trailing window(s) stay in state after an availableNow drain
    max_ws = max(k[0] for k in expected)
    for k, v in got.items():
        assert expected[k] == v
    missing = set(expected) - set(got)
    assert all(k[0] == max_ws for k in missing), f"non-trailing windows missing: {missing}"


def test_streaming_dedup_matches_batch(spark, sf_dir):
    events = pipeline.events_file_stream(spark, sf_dir)
    deduped = pipeline.streaming_dedup(events)
    pipeline.run_to_memory(deduped, "dedup_stream", spark)
    got = spark.sql("SELECT * FROM dedup_stream").collect()
    # one events file → one micro-batch → exact dedup: one row per key
    keys = [(r.user_id, r.event_type) for r in got]
    assert len(keys) == len(set(keys))
    from datafusion_loki_spark.catalog import load_table

    batch_keys = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    assert len(keys) == batch_keys


def test_stream_stream_interval_join_matches_batch(spark, sf_dir):
    joined = pipeline.click_to_purchase_join(spark, sf_dir)
    pipeline.run_to_memory(joined, "attrib", spark)
    got = {
        (r.click_id, r.purchase_id)
        for r in spark.sql("SELECT * FROM attrib").collect()
    }
    from datafusion_loki_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    expected = {
        (r.click_id, r.purchase_id)
        for r in clicks.join(
            purchases,
            F.expr(
                "c_user = p_user AND purchase_ts >= click_ts "
                "AND purchase_ts <= click_ts + interval 1 hour"
            ),
        ).collect()
    }
    # a single availableNow drain over one file = one micro-batch → the
    # inner interval join emits exactly the batch join's matches
    assert got == expected
    assert len(got) > 0


def test_sessionize_stateful(spark, sf_dir):
    events = pipeline.events_file_stream(spark, sf_dir)
    sessions = pipeline.sessionize(events)
    pipeline.run_to_memory(sessions, "sessions", spark)
    rows = spark.sql("SELECT * FROM sessions").collect()
    # closed sessions only (the final open session per user stays in state);
    # every closed session must respect the gap invariant
    assert all(r.n_events >= 1 for r in rows)
    assert all(r.session_end >= r.session_start for r in rows)
    # deterministic input → deterministic session set; sanity: users with
    # >1 session have gaps > 30 min between them
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for user_rows in by_user.values():
        user_rows.sort(key=lambda r: r.session_start)
        for a, b in zip(user_rows, user_rows[1:]):
            gap = (b.session_start - a.session_end).total_seconds()
            assert gap > pipeline.SESSION_GAP_SECONDS


def test_stream_static_enrichment_matches_batch(spark, sf_dir):
    # Stream-static joins are stateless: every event whose user maps to a
    # customer must come out decorated, identical to the batch join.
    enriched = pipeline.enriched_event_stream(spark, sf_dir)
    assert enriched.isStreaming
    pipeline.run_to_memory(enriched, "enriched_events", spark)
    got = {
        r.event_id: (r.c_mktsegment, r.n_name)
        for r in spark.sql("SELECT * FROM enriched_events").collect()
    }
    from datafusion_loki_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    cu = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation")
    batch = (
        ev.join(cu, ev.user_id == cu.c_custkey)
        .join(na, cu.c_nationkey == na.n_nationkey)
        .select("event_id", "c_mktsegment", "n_name")
        .collect()
    )
    expected = {r.event_id: (r.c_mktsegment, r.n_name) for r in batch}
    assert got == expected


def test_incremental_admission_stream_matches_batch(spark, sf_dir, tmp_path):
    # The stream-static anti join must admit exactly the docs the batch
    # operator admits: stream the new-batch docs (doc_id % 10 >= 8)
    # against the corpus fingerprint set (doc_id % 10 < 8).
    import pyspark.sql.functions as F

    from datafusion_loki_spark.catalog import load_table
    from datafusion_loki_spark.operators.text import _NORM_SPARK

    docs = load_table(spark, sf_dir, "documents")
    src = str(tmp_path / "newdocs")
    docs.where(F.col("doc_id") % 10 >= 8).coalesce(1).write.parquet(src)
    corpus = (
        docs.where(F.col("doc_id") % 10 < 8)
        .select(F.expr(f"md5({_NORM_SPARK})").alias("fingerprint"))
        .distinct()
    )
    stream = spark.readStream.schema(docs.schema).parquet(src)
    admitted = pipeline.incremental_admission_stream(stream, corpus)
    assert admitted.isStreaming
    pipeline.run_to_memory(admitted, "admitted_docs", spark)
    got = {r.doc_id for r in spark.sql("SELECT * FROM admitted_docs").collect()}
    new = docs.where(F.col("doc_id") % 10 >= 8).select(
        "doc_id", F.expr(f"md5({_NORM_SPARK})").alias("fingerprint")
    )
    expected = {
        r.doc_id for r in new.join(corpus, "fingerprint", "left_anti").collect()
    }
    assert got == expected
    assert len(got) > 0


def test_rollup_to_parquet_incremental_mv(spark, sf_dir, tmp_path):
    # The foreachBatch materialized view must equal the batch rollup after
    # an availableNow drain, survive a second (replay) drain without
    # duplicating rows, and land day-partitioned files.
    out = str(tmp_path / "rollup")
    for ckpt in ("ck1", "ck2"):  # second run = fresh replay of the source
        q = pipeline.rollup_to_parquet(
            pipeline.windowed_event_counts(
                pipeline.events_file_stream(spark, sf_dir)
            ),
            out,
            str(tmp_path / ckpt),
        )
        q.awaitTermination()
    got = spark.read.parquet(out)
    assert "day" in got.columns  # partition column materialized
    from datafusion_loki_spark.catalog import load_table

    batch = (
        load_table(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("s"),
        )
        .select(F.col("win.start").alias("ws"), "event_type", "n", "s")
    )
    expected = {(r.ws, r.event_type): (r.n, r.s) for r in batch.collect()}
    rows = got.collect()
    assert len(rows) == len(expected)  # replay did not duplicate
    for r in rows:
        assert expected[(r.window_start, r.event_type)] == (r.n, r.sum_value)


def test_rollup_to_parquet_multi_batch_no_data_loss(spark, sf_dir, tmp_path):
    # Regression: update-mode emits only touched windows per micro-batch; a
    # blind day-partition overwrite in batch N+1 would delete that day's
    # windows written by batch N. Split the events into two source files and
    # force two micro-batches with maxFilesPerTrigger=1 — after the drain the
    # sink must equal the full batch rollup (earlier windows survive).
    from datafusion_loki_spark.catalog import load_table
    from datafusion_loki_spark.functions.checkpoints import persistent_rdd_ids

    ev = load_table(spark, sf_dir, "events")
    src = tmp_path / "src"
    # deterministic halves that interleave days, so both batches touch the
    # same day partitions (the data-loss trigger)
    ev.where(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "half0.parquet")
    )
    ev.where(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "half1.parquet")
    )
    stream = (
        spark.readStream.schema(pipeline.EVENTS_SCHEMA_US)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(str(src) + "/*/")
        .withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    )
    out = str(tmp_path / "rollup")
    pre = persistent_rdd_ids(spark)
    q = pipeline.rollup_to_parquet(
        pipeline.windowed_event_counts(stream), out, str(tmp_path / "ck")
    )
    q.awaitTermination()
    progress = q.lastProgress
    assert progress is not None and int(progress["batchId"]) >= 1, (
        "expected at least two micro-batches"
    )
    # each batch's merge checkpoint is released once written
    assert not persistent_rdd_ids(spark) - pre
    batch = (
        ev.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("s"),
        )
        .select(F.col("win.start").alias("ws"), "event_type", "n", "s")
    )
    expected = {(r.ws, r.event_type): (r.n, r.s) for r in batch.collect()}
    rows = spark.read.parquet(out).collect()
    got = {(r.window_start, r.event_type): (r.n, r.sum_value) for r in rows}
    assert len(rows) == len(got), "duplicate (window, type) keys in sink"
    assert got == expected


def test_sessionize_state_survives_restart(spark, tmp_path):
    # The whole point of a checkpointed stateful operator: a NEW query
    # started on the same checkpoint must resume from persisted state, not
    # from zero. Drain 1 leaves user 1's session OPEN in the state store
    # (3 events, no gap). Drain 2 — a fresh query object, same checkpoint —
    # delivers one event 2h later: in-batch gap evidence must close the
    # carried session as (t0 .. t0+10min, n_events=3). If recovery failed,
    # the operator would see no prior state and emit nothing.
    import datetime as dt

    src = tmp_path / "src"
    ckpt = str(tmp_path / "ck")
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def _mk(name, rows):
        spark.createDataFrame(
            rows, "ts timestamp_ntz, user_id long, value double"
        ).coalesce(1).write.parquet(str(src / name))

    def _drain(qname):
        # memory sink cannot recover from a checkpoint; foreachBatch can
        got: list = []
        stream = (
            spark.readStream.schema("ts timestamp_ntz, user_id long, value double")
            .parquet(str(src) + "/*/")
        )
        q = (
            pipeline.sessionize(stream)
            .writeStream.foreachBatch(lambda df, _id: got.extend(df.collect()))
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return got

    _mk("f0.parquet", [
        (t0, 1, 1.0),
        (t0 + dt.timedelta(minutes=5), 1, 2.0),
        (t0 + dt.timedelta(minutes=10), 1, 4.0),
    ])
    assert _drain("sess_r1") == []  # session still open: nothing emitted
    _mk("f1.parquet", [(t0 + dt.timedelta(hours=2), 1, 8.0)])
    rows = _drain("sess_r2")
    assert len(rows) == 1, rows
    (r,) = rows
    assert r.user_id == 1
    assert r.n_events == 3  # the pre-restart events — state was recovered
    assert r.total_value == pytest.approx(7.0)
    assert r.session_start == t0
    assert r.session_end == t0 + dt.timedelta(minutes=10)


def test_rollup_first_batch_detection_rejects_other_errors(spark, tmp_path):
    # The foreachBatch merge may treat ONLY missing-path / empty-dir as
    # "first batch". A corrupt sink raising any other error class must
    # propagate, not silently overwrite surviving windows.
    import datetime as dt

    sink = tmp_path / "rollup"
    sink.mkdir()
    (sink / "part-00000.parquet").write_bytes(b"this is not a parquet file")
    src = tmp_path / "src"
    spark.createDataFrame(
        [(dt.datetime(2026, 1, 1, 12, 0, 0), "click", 1.0)],
        "ts timestamp_ntz, event_type string, value double",
    ).coalesce(1).write.parquet(str(src / "f0.parquet"))
    stream = (
        spark.readStream.schema("ts timestamp_ntz, event_type string, value double")
        .parquet(str(src) + "/*/")
        .withColumn("user_id", F.lit(1).cast("long"))
        .withColumn("event_id", F.lit(1).cast("long"))
        .withColumn("props", F.lit("{}"))
    )
    q = pipeline.rollup_to_parquet(
        pipeline.windowed_event_counts(stream), str(sink), str(tmp_path / "ck")
    )
    with pytest.raises(Exception) as excinfo:
        q.awaitTermination()
    assert "CANNOT_READ_FILE_FOOTER" in str(
        excinfo.value
    ) or "Could not read footer" in str(excinfo.value)
    # the corrupt sink was NOT clobbered by a first-batch overwrite
    assert (sink / "part-00000.parquet").read_bytes().startswith(b"this is not")


def test_running_totals_compat_matches_batch(spark, sf_dir):
    # After an availableNow drain, the LAST emitted update per user must
    # equal the batch rollup.
    events = pipeline.events_file_stream(spark, sf_dir)
    totals = pipeline.user_running_totals(events)
    pipeline.run_to_memory(totals, "running_totals", spark, output_mode="update")
    # update mode may emit a user several times across batches — keep the
    # final (max n_events) row per user
    final = {}
    for r in spark.sql("SELECT * FROM running_totals").collect():
        if r.user_id not in final or r.n_events > final[r.user_id][0]:
            final[r.user_id] = (r.n_events, r.total_value)
    from datafusion_loki_spark.catalog import load_table

    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    )
    assert len(final) == len(batch)
    for r in batch:
        n, total = final[r.user_id]
        assert n == r.n
        assert total == pytest.approx(r.s, rel=1e-9)


def test_running_totals_compat_survives_restart(spark, tmp_path):
    # Checkpoint-restart proof: totals accumulated before the restart
    # must seed the post-restart update.
    import datetime as dt

    src = tmp_path / "src"
    ckpt = str(tmp_path / "ck")
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def _mk(name, rows):
        spark.createDataFrame(
            rows, "ts timestamp_ntz, user_id long, value double"
        ).coalesce(1).write.parquet(str(src / name))

    def _drain():
        got: list = []
        stream = (
            spark.readStream.schema("ts timestamp_ntz, user_id long, value double")
            .parquet(str(src) + "/*/")
        )
        q = (
            pipeline.user_running_totals(stream)
            .writeStream.foreachBatch(lambda df, _id: got.extend(df.collect()))
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return got

    _mk("f0.parquet", [(t0, 7, 1.0), (t0 + dt.timedelta(minutes=1), 7, 2.0)])
    first = {r.user_id: (r.n_events, r.total_value) for r in _drain()}
    assert first == {7: (2, 3.0)}
    _mk("f1.parquet", [(t0 + dt.timedelta(minutes=2), 7, 4.0)])
    rows = _drain()
    assert {r.user_id: (r.n_events, r.total_value) for r in rows} == {7: (3, 7.0)}


def test_session_window_counts_match_batch(spark, sf_dir):
    # Native session_window surface: streamed sessions must equal the SAME
    # code run in batch mode (the backfill contract), modulo trailing
    # sessions the watermark hasn't closed at drain time.
    import datetime

    events = pipeline.events_file_stream(spark, sf_dir)
    agg = pipeline.session_window_counts(events)
    pipeline.run_to_memory(agg, "sess_win", spark)
    got = {
        (r.session_start, r.user_id): (r.session_end, r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM sess_win").collect()
    }
    from datafusion_loki_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    expected = {
        (r.session_start, r.user_id): (r.session_end, r.n_events, r.sum_value)
        for r in pipeline.session_window_counts(ev).collect()
    }
    assert got, "no sessions emitted by the streaming drain"
    for k, v in got.items():
        assert expected[k] == v, k
    max_ts = ev.agg(F.max(F.col("ts").cast("timestamp"))).collect()[0][0]
    horizon = max_ts - datetime.timedelta(minutes=10)
    for k in set(expected) - set(got):
        assert expected[k][0] > horizon, f"closed session missing: {k}"


def test_session_window_state_survives_restart(spark, tmp_path):
    # Native session_window state must ALSO survive a checkpoint restart
    # (the engine-managed twin of test_sessionize_state_survives_restart):
    # drain 1 leaves user 7's session open; drain 2 — fresh query, same
    # checkpoint — advances the watermark past the carried session's end,
    # which can only emit (t0 .. last+5min, n_events=3) if the session
    # state was recovered from the checkpoint.
    import datetime as dt

    src = tmp_path / "src"
    ckpt = str(tmp_path / "ck")
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def _mk(name, rows):
        spark.createDataFrame(
            rows, "ts timestamp_ntz, user_id long, value double"
        ).coalesce(1).write.parquet(str(src / name))

    def _drain():
        got: list = []
        stream = (
            spark.readStream.schema("ts timestamp_ntz, user_id long, value double")
            .parquet(str(src) + "/*/")
        )
        q = (
            pipeline.session_window_counts(stream)
            .writeStream.foreachBatch(lambda df, _id: got.extend(df.collect()))
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return got

    _mk("f0.parquet", [
        (t0, 7, 1.0),
        (t0 + dt.timedelta(minutes=2), 7, 2.0),
        (t0 + dt.timedelta(minutes=4), 7, 4.0),
    ])
    assert _drain() == []  # session open, watermark behind — nothing out
    _mk("f1.parquet", [(t0 + dt.timedelta(hours=1), 7, 8.0)])
    rows = _drain()
    assert len(rows) == 1, rows
    (r,) = rows
    assert r.user_id == 7
    assert r.n_events == 3
    assert r.sum_value == pytest.approx(7.0)
    assert r.session_start == t0
    assert r.session_end == t0 + dt.timedelta(minutes=9)  # last + 5min gap


def test_stream_reader_fetch_pages_past_cap(emulator):
    # A micro-batch window holding more rows than the server's
    # per-request cap must page forward, not silently truncate — same
    # boundary rule as the batch reader (max-timestamp rows withheld and
    # re-read by the next page).
    base = time.time_ns() - 3600 * NS
    emulator.seed(
        [(base + i * 60 * NS, {"app": "x"}, f"r{i:02d}") for i in range(12)]
    )
    from datafusion_loki_spark.sources.loki import LokiStreamReader

    reader = LokiStreamReader(
        {"endpoint": emulator.endpoint, "default_label": "app", "page_limit": "5"}
    )
    rows = reader._fetch(base, base + 3600 * NS)
    assert [line for _, _, line in rows] == [f"r{i:02d}" for i in range(12)]
    assert len(emulator.params) >= 3
    assert all(p.get("limit") == "5" for p in emulator.params)


def test_pagination_no_loss_no_dup_property(emulator):
    # Property: for ANY timestamp multiset whose per-ns multiplicity fits
    # one page, forward paging returns every row exactly once, for any
    # page size. (Multiplicity > page_limit in a single ns is the
    # documented degenerate-truncation exception, excluded by
    # construction here.)
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from datafusion_loki_spark.sources.loki import LokiStreamReader

    base = time.time_ns() - 3600 * NS

    @settings(max_examples=20, deadline=None)
    @given(
        st.integers(min_value=1, max_value=6).flatmap(
            lambda page: st.tuples(
                st.just(page),
                st.lists(
                    st.tuples(
                        st.integers(min_value=0, max_value=9),  # ts slot
                        st.integers(min_value=1, max_value=page),  # count
                    ),
                    max_size=8,
                    unique_by=lambda t: t[0],
                ),
            )
        )
    )
    def run(case):
        page, slots = case
        with emulator.lock:
            emulator.rows.clear()
        rows, k = [], 0
        for slot, cnt in slots:
            for _ in range(cnt):
                rows.append((base + slot * 60 * NS, {"app": "p"}, f"x{k}"))
                k += 1
        emulator.seed(rows)
        reader = LokiStreamReader(
            {
                "endpoint": emulator.endpoint,
                "default_label": "app",
                "page_limit": str(page),
            }
        )
        got = sorted(
            line for _, _, line in reader._fetch(base, base + 3600 * NS)
        )
        assert got == sorted(f"x{i}" for i in range(k)), (page, slots)

    run()


def test_pagination_survives_transient_5xx(emulator):
    # Retry (client) and paging (reader) must compose: transient 500s in
    # the middle of a paged fetch are absorbed by the client's bounded
    # backoff and every row still arrives exactly once.
    base = time.time_ns() - 3600 * NS
    emulator.seed(
        [(base + i * 60 * NS, {"app": "f"}, f"v{i:02d}") for i in range(12)]
    )
    from datafusion_loki_spark.sources.loki import LokiStreamReader

    reader = LokiStreamReader(
        {"endpoint": emulator.endpoint, "default_label": "app", "page_limit": "5"}
    )
    with emulator.lock:
        emulator.fail_next = 2  # first page request 500s twice, then heals
    rows = reader._fetch(base, base + 3600 * NS)
    assert [line for _, _, line in rows] == [f"v{i:02d}" for i in range(12)]


def test_drift_stream_matches_batch_divergence(spark, sf_dir, tmp_path):
    # The streaming drift monitor (windowed histogram -> foreachBatch
    # divergence upsert) must converge to exactly the divergence a batch
    # computation of the same windows yields, and a replay drain must
    # not change the sink (keyed upserts, not additive). The source is
    # split into 3 files streamed ONE PER MICRO-BATCH so (window, type)
    # groups genuinely span batches — certifying the accumulate-then-
    # rescore path (update mode emits only the CHANGED bucket rows, an
    # incomplete histogram slice; scoring from the batch alone would
    # pass a single-batch drain and be wrong here).
    from datafusion_loki_spark.catalog import load_table

    batch_events = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "event_type", "value"
    )
    reference = pipeline.reference_histogram(batch_events)

    # split the stream into 3 TIME-ORDERED slices, one file each,
    # written sequentially (file source processes oldest-first): windows
    # straddling a slice boundary span micro-batches WITHOUT their rows
    # arriving behind the watermark (a random split would make the
    # stream pathologically out-of-order and the watermark would
    # legitimately drop rows, diverging from the batch computation)
    src = str(tmp_path / "evsrc")
    lo, hi = batch_events.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).collect()[0]
    import time as _time

    cuts = [lo + (hi - lo) * i / 3 for i in (1, 2)]
    slices = [
        batch_events.where(F.col("ts") < F.lit(cuts[0])),
        batch_events.where(
            (F.col("ts") >= F.lit(cuts[0])) & (F.col("ts") < F.lit(cuts[1]))
        ),
        batch_events.where(F.col("ts") >= F.lit(cuts[1])),
    ]
    for sl in slices:
        sl.coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)  # distinct mod-times -> deterministic order
    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )

    sink: dict = {}
    for ckpt in ("dck1", "dck2"):  # second run = replay of the source
        q = pipeline.drift_stream(
            pipeline.windowed_value_histogram(stream),
            reference,
            sink,
            str(tmp_path / ckpt),
        )
        q.awaitTermination()

    expected_hist = (
        batch_events.groupBy(
            F.window("ts", "1 hour").alias("win"),
            "event_type",
            pipeline._value_bucket().alias("bucket"),
        )
        .agg(F.count("*").alias("c"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "bucket",
            "c",
        )
    )
    expected = {
        (r.window_start, r.event_type): (r.n_events, r.n_buckets, r.chi2)
        for r in pipeline.histogram_divergence(
            expected_hist, reference
        ).collect()
    }
    assert sink.keys() == expected.keys()
    for k in expected:
        gn, gb, gchi = sink[k]
        en, eb, echi = expected[k]
        assert (gn, gb) == (en, eb), k
        assert gchi == echi, k  # decimal-summed, bit-stable on both paths
    # the stream compared against ITSELF as reference must read ~zero
    # drift only where window and reference shares coincide; sanity: at
    # least one (window, type) has chi2 > 0 (hourly slices differ from
    # the full-corpus reference)
    assert any(v[2] > 0 for v in sink.values())


def _docs_with_ts(spark, sf_dir):
    # synthetic ingest time: t0 + doc_id seconds — deterministic, ordered
    # by doc_id, so "prior" in the stream == smaller doc_id
    from datafusion_loki_spark.catalog import load_table

    return load_table(spark, sf_dir, "documents").select(
        F.expr(
            "timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,0,0,doc_id)"
        ).alias("ts"),
        "doc_id",
        "text",
    )


def test_near_dup_stream_matches_batch_lsh(spark, sf_dir, tmp_path):
    # One availableNow drain over the whole corpus must surface exactly
    # the batch dedup_minhash_lsh candidate pairs (identical md5 band
    # math; every sf0.001 bucket is far below both caps, so neither cap
    # perturbs the comparison). Streaming emits (new, prior-arrival);
    # with ts ordered by doc_id that is (b, a) of the batch's a < b.
    import __spark_entry__ as e

    src = tmp_path / "docs"
    _docs_with_ts(spark, sf_dir).coalesce(1).write.parquet(str(src / "all"))
    got: list = []
    q = (
        pipeline.near_dup_admission_stream(
            spark.readStream.schema("ts timestamp_ntz, doc_id long, text string")
            .parquet(str(src) + "/*/")
        )
        .writeStream.foreachBatch(lambda df, _id: got.extend(df.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stream_pairs = {(r.prior_id, r.doc_id) for r in got}
    batch_pairs = {
        (r.doc_a, r.doc_b)
        for r in e.queries()["dedup_minhash_lsh"](spark, sf_dir).collect()
    }
    assert stream_pairs == batch_pairs
    assert stream_pairs  # non-vacuous: the corpus has planted near-dups


def test_near_dup_stream_state_survives_restart(spark, sf_dir, tmp_path):
    # A candidate pair whose two docs arrive in DIFFERENT drains (fresh
    # query object each time, same checkpoint) must still be detected:
    # the first doc's bucket occupancy lives in the state store.
    docs = _docs_with_ts(spark, sf_dir)
    # pick one known batch candidate pair to split across drains
    import __spark_entry__ as e

    a, b = min(
        (r.doc_a, r.doc_b)
        for r in e.queries()["dedup_minhash_lsh"](spark, sf_dir).collect()
    )
    src = tmp_path / "docs"
    ckpt = str(tmp_path / "ck")

    def _drain():
        got: list = []
        q = (
            pipeline.near_dup_admission_stream(
                spark.readStream.schema(
                    "ts timestamp_ntz, doc_id long, text string"
                ).parquet(str(src) + "/*/")
            )
            .writeStream.foreachBatch(lambda df, _id: got.extend(df.collect()))
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return got

    docs.where(F.col("doc_id") <= a).coalesce(1).write.parquet(
        str(src / "first")
    )
    first = _drain()
    assert all(r.doc_id != b for r in first)
    docs.where(F.col("doc_id") == b).coalesce(1).write.parquet(
        str(src / "second")
    )
    second = _drain()
    assert (a, b) in {(r.prior_id, r.doc_id) for r in second}


def test_phash_admission_stream_matches_python_band_model(
    spark, sf_dir, tmp_path
):
    # The perceptual admission (round-9): one availableNow drain over the
    # corpus's payloads must surface exactly the band-sharing pairs a
    # pure-python dHash model predicts (recall-superset contract: a
    # shared 8-bit band, hamming verified downstream), with the earlier
    # arrival as prior. Also pins kernel/banding bit-identity with the
    # batch op through phash64.
    from datafusion_loki_spark.operators.multimodal import (
        MM_PHASH_BANDS,
        MM_PHASH_MIN_BYTES,
        phash64,
    )

    docs = _docs_with_ts(spark, sf_dir).select(
        "ts", "doc_id", F.col("text").cast("binary").alias("payload")
    )
    src = tmp_path / "media"
    docs.coalesce(1).write.parquet(str(src / "all"))
    got: list = []
    q = (
        pipeline.phash_admission_stream(
            spark.readStream.schema(
                "ts timestamp_ntz, doc_id long, payload binary"
            ).parquet(str(src) + "/*/")
        )
        .writeStream.foreachBatch(lambda df, _id: got.extend(df.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stream_pairs = {(r.prior_id, r.doc_id) for r in got}

    fps = {
        r.doc_id: phash64(bytes(r.payload))
        for r in docs.collect()
        if r.payload is not None and len(r.payload) >= MM_PHASH_MIN_BYTES
    }

    def bands(h):
        full = (h[1] << 32) | h[0]
        return [(full >> (8 * k)) & 255 for k in range(MM_PHASH_BANDS)]

    ids = sorted(fps)
    expected = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if any(x == y for x, y in zip(bands(fps[a]), bands(fps[b])))
    }
    assert stream_pairs == expected
    assert stream_pairs  # non-vacuous: real payloads share bands


def test_quality_gate_stream_matches_batch_classifier(spark, sf_dir, tmp_path):
    # The streaming learned gate must score IDENTICALLY to the batch
    # classifier over the same documents: same NB model artifacts, same
    # integer vote comparison — per-doc (n_tokens, votes, verdict)
    # equality. Complete mode: a single availableNow micro-batch never
    # advances the watermark far enough for append mode to emit.
    import __spark_entry__ as e
    from datafusion_loki_spark.operators.text import _nb_train

    counts, totals = _nb_train(spark, sf_dir)
    docs = _docs_with_ts(spark, sf_dir)
    src = tmp_path / "docs"
    docs.coalesce(1).write.parquet(str(src / "all"))
    agg = pipeline.quality_gate_stream(
        spark.readStream.schema(
            "ts timestamp_ntz, doc_id long, text string"
        ).parquet(str(src) + "/*/"),
        counts,
        totals,
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("qgate")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.doc_id: (r.n_tokens, r.votes_hq, r.votes_lq, r.pred_hq)
        for r in spark.sql("SELECT * FROM qgate").collect()
    }
    want = {
        r.doc_id: (r.n_tokens, r.votes_hq, r.votes_lq, r.pred_hq)
        for r in e.queries()["text_quality_classifier"](
            spark, sf_dir
        ).collect()
    }
    assert got == want
    assert got  # non-vacuous
    # one window per doc (a doc is one row, its tokens share one ts) —
    # the per-doc equality above would break on a window split anyway,
    # but make the assumption explicit
    assert len(got) == len(want)


def test_phash_verified_stream_equals_batch_verified_pairs(
    spark, sf_dir, tmp_path
):
    # The IN-STREAM verify (round-10): the verified admission must emit
    # exactly the batch op's verified pairs over the same arrivals. The
    # raw corpus has no byte-level re-encodes (mm_phash_neardup's
    # fixture note), so this plants the SAME recrawl variants the batch
    # op plants (doc_id % 10 == 0 re-appears under id + 1e12 with its
    # first two bytes replaced by 'XX' = 0x5858) as later arrivals.
    import __spark_entry__ as e
    from datafusion_loki_spark.operators.multimodal import (
        MM_PHASH_HAM_MAX,
        MM_PHASH_MIN_BYTES,
        MM_PHASH_VARIANT_OFFSET,
    )

    docs = _docs_with_ts(spark, sf_dir).select(
        "ts", "doc_id", F.col("text").cast("binary").alias("payload")
    )
    src = tmp_path / "media"
    docs.coalesce(1).write.parquet(str(src / "first"))
    rows = docs.collect()
    max_ts = max(r.ts for r in rows)
    import datetime

    variants = [
        (
            max_ts + datetime.timedelta(minutes=1),
            r.doc_id + MM_PHASH_VARIANT_OFFSET,
            b"\x58\x58" + bytes(r.payload)[2:],
        )
        for r in rows
        if r.doc_id % 10 == 0
        and r.payload is not None
        and len(r.payload) >= MM_PHASH_MIN_BYTES
    ]
    assert variants
    spark.createDataFrame(
        variants, "ts timestamp_ntz, doc_id long, payload binary"
    ).coalesce(1).write.parquet(str(src / "second"))

    got: list = []
    q = (
        pipeline.phash_admission_stream_verified(
            spark.readStream.schema(
                "ts timestamp_ntz, doc_id long, payload binary"
            ).parquet(str(src) + "/*/")
        )
        .writeStream.foreachBatch(lambda df, _id: got.extend(df.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    stream_pairs: dict = {}
    for r in got:
        assert 0 <= r.hamming <= MM_PHASH_HAM_MAX
        k = (r.prior_id, r.doc_id)
        # a pair sharing several bands re-emits with the SAME hamming
        assert stream_pairs.get(k, r.hamming) == r.hamming
        stream_pairs[k] = r.hamming

    batch = {
        (r.doc_a, r.doc_b): r.hamming
        for r in e.queries()["mm_phash_neardup"](spark, sf_dir).collect()
    }
    assert stream_pairs == batch
    assert stream_pairs  # non-vacuous: every plant must surface


def test_phash_verified_stream_state_survives_restart(
    spark, sf_dir, tmp_path
):
    # A verified pair whose two payloads arrive in DIFFERENT drains
    # (fresh query object, same checkpoint) must still be detected and
    # verified: the first payload's fingerprint lives in the state
    # store alongside its id.
    import datetime

    from datafusion_loki_spark.operators.multimodal import (
        MM_PHASH_MIN_BYTES,
        MM_PHASH_VARIANT_OFFSET,
    )

    docs = _docs_with_ts(spark, sf_dir).select(
        "ts", "doc_id", F.col("text").cast("binary").alias("payload")
    )
    src = tmp_path / "media"
    ckpt = str(tmp_path / "ck")

    def _drain():
        got: list = []
        q = (
            pipeline.phash_admission_stream_verified(
                spark.readStream.schema(
                    "ts timestamp_ntz, doc_id long, payload binary"
                ).parquet(str(src) + "/*/")
            )
            .writeStream.foreachBatch(
                lambda df, _id: got.extend(df.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return got

    docs.coalesce(1).write.parquet(str(src / "first"))
    first = _drain()
    # no byte-level re-encodes in the raw corpus: nothing verifies
    assert first == []

    rows = docs.collect()
    max_ts = max(r.ts for r in rows)
    victim = min(
        (
            r
            for r in rows
            if r.doc_id % 10 == 0
            and r.payload is not None
            and len(r.payload) >= MM_PHASH_MIN_BYTES
        ),
        key=lambda r: r.doc_id,
    )
    spark.createDataFrame(
        [
            (
                max_ts + datetime.timedelta(minutes=1),
                victim.doc_id + MM_PHASH_VARIANT_OFFSET,
                b"\x58\x58" + bytes(victim.payload)[2:],
            )
        ],
        "ts timestamp_ntz, doc_id long, payload binary",
    ).coalesce(1).write.parquet(str(src / "second"))
    second = _drain()
    pairs = {(r.prior_id, r.doc_id) for r in second}
    assert pairs == {
        (victim.doc_id, victim.doc_id + MM_PHASH_VARIANT_OFFSET)
    }


def test_near_dup_stream_redelivery_emits_no_self_pair(spark, sf_dir, tmp_path):
    # An at-least-once source may re-deliver a document; a doc_id already
    # resident in its bucket must emit nothing (no self-pairs, no
    # duplicate candidates).
    docs = _docs_with_ts(spark, sf_dir).where(F.col("doc_id") < 10)
    src = tmp_path / "docs"
    docs.coalesce(1).write.parquet(str(src / "f0"))
    docs.coalesce(1).write.parquet(str(src / "f1"))  # same rows again
    got: list = []
    q = (
        pipeline.near_dup_admission_stream(
            spark.readStream.schema("ts timestamp_ntz, doc_id long, text string")
            .parquet(str(src) + "/*/")
        )
        .writeStream.foreachBatch(lambda df, _id: got.extend(df.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert all(r.doc_id != r.prior_id for r in got)
    pairs = [(r.band_idx, r.prior_id, r.doc_id) for r in got]
    assert len(pairs) == len(set(pairs))  # no duplicate candidate rows


def test_ivf_ingest_stream_appends_generations_exactly_once(spark, tmp_path):
    # Streaming index maintenance: two micro-batches land as two gen=
    # partitions via the persisted codebook; a REPLAYED batch id
    # overwrites its own generation (exactly-once), and the merged
    # member view serves streamed candidates through the standard probe
    # path.
    from datafusion_loki_spark.operators.similarity import (
        IVF_APPEND_OFFSET,
        N_QUERIES,
        _TO_DOUBLE,
        _ivf_probe_and_score,
        build_ivf_index,
    )

    index_dir = str(tmp_path / "idx")
    build_ivf_index(spark, "/root/testdata/sf0.001", index_dir)
    base_n = spark.read.parquet(f"{index_dir}/members.parquet").count()

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    src = str(tmp_path / "ingest_src")
    # batch 1: EXACT clones of the first 40 vectors (cosine 1.0 against
    # their originals — guaranteed to displace the top-k, making the
    # final probe assertion deterministic); batch 2: shifted copies
    for i, shift in enumerate((0.0, 0.5)):
        (
            emb.limit(40)
            .select(
                (F.col("vec_id") + IVF_APPEND_OFFSET * (i + 1)).alias("vec_id"),
                F.expr(
                    f"transform(embedding, (x, j) ->"
                    f" IF(j = 0, x + cast({shift} as float), x))"
                ).alias("embedding"),
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = pipeline.ivf_ingest_stream(stream, index_dir, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    merged = pipeline.ivf_members(spark, index_dir)
    assert merged.count() == base_n + 80
    gens = {
        r.gen
        for r in spark.read.parquet(
            f"{index_dir}/members_ingest.parquet"
        ).select("gen").distinct().collect()
    }
    assert len(gens) == 2

    # replay batch 0's exact frame under its original batch id: the
    # dynamic gen-partition overwrite must converge, not double-append
    replay = spark.read.parquet(src).where(
        F.col("vec_id") < IVF_APPEND_OFFSET * 2
    )
    pipeline._ivf_ingest_batch_fn(index_dir)(replay, sorted(gens)[0])
    # re-derive: the overwrite invalidated the pre-replay file listing
    merged = pipeline.ivf_members(spark, index_dir)
    assert merged.count() == base_n + 80

    # the merged view serves streamed members through the probe path
    cents = spark.read.parquet(f"{index_dir}/centroids.parquet")
    queries_d = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", F.expr(_TO_DOUBLE.format(a="embedding")).alias("e"))
        .where(F.col("vec_id") < N_QUERIES)
    )
    topk = _ivf_probe_and_score(queries_d, cents, merged)
    assert topk.where(F.col("cand_id") >= IVF_APPEND_OFFSET).count() > 0


def test_ivf_ingest_compaction_preserves_results_and_drops_files(
    spark, tmp_path
):
    # The maintenance half of the streaming index story: fold old
    # gen=<batch_id> partitions into one compacted generation behind an
    # atomic manifest pointer. Contract: (a) the merged member view and
    # the probe path return IDENTICAL results before/after, (b) the
    # parquet file count drops, (c) a replay of an already-FOLDED batch
    # id converges (the reader prunes its re-created dir; the next
    # compaction GCs it), (d) a second compaction with no new
    # generations is a no-op.
    from datafusion_loki_spark.operators.similarity import (
        IVF_APPEND_OFFSET,
        N_QUERIES,
        _TO_DOUBLE,
        _ivf_probe_and_score,
        build_ivf_index,
    )

    index_dir = str(tmp_path / "idx")
    build_ivf_index(spark, "/root/testdata/sf0.001", index_dir)
    base_n = spark.read.parquet(f"{index_dir}/members.parquet").count()

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    src = str(tmp_path / "ingest_src")
    for i, shift in enumerate((0.0, 0.25, 0.5)):
        (
            emb.limit(40)
            .select(
                (F.col("vec_id") + IVF_APPEND_OFFSET * (i + 1)).alias("vec_id"),
                F.expr(
                    f"transform(embedding, (x, j) ->"
                    f" IF(j = 0, x + cast({shift} as float), x))"
                ).alias("embedding"),
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = pipeline.ivf_ingest_stream(stream, index_dir, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    cents = spark.read.parquet(f"{index_dir}/centroids.parquet")
    queries_d = (
        emb.select(
            "vec_id", F.expr(_TO_DOUBLE.format(a="embedding")).alias("e")
        ).where(F.col("vec_id") < N_QUERIES)
    )

    def probe_rows():
        topk = _ivf_probe_and_score(
            queries_d, cents, pipeline.ivf_members(spark, index_dir)
        )
        return sorted(
            (r.query_id, r.rank, r.cand_id, round(r.cosine, 9))
            for r in topk.collect()
        )

    before = probe_rows()
    n_before = pipeline.ivf_members(spark, index_dir).count()
    assert n_before == base_n + 120

    # crashed FIRST compaction: the data write landed (orphan gen=-1
    # duplicating the folded rows) but the manifest write did not. With
    # no manifest, the reader must see ONLY real generations — the
    # round-8 review's double-count window.
    ingest_path = f"{index_dir}/members_ingest.parquet"
    orphan = (
        spark.read.parquet(ingest_path)
        .where(F.col("gen") >= 0)
        .drop("gen")
        .withColumn("gen", F.lit(-1))
        .localCheckpoint(eager=True)
    )
    from datafusion_loki_spark.functions.layout import write_partitioned

    write_partitioned(orphan, ingest_path, partition_by=["gen", "cluster_id"])
    assert pipeline.ivf_members(spark, index_dir).count() == n_before
    assert probe_rows() == before
    # ...and the rerun compaction converges: it writes a FRESH unique
    # generation (never reuses the orphan's id) and its post-commit GC
    # deletes the orphan dir

    stats = pipeline.compact_ivf_ingest(spark, index_dir, keep_last=1)
    assert stats["folded_gens"] == 2
    assert stats["rows_compacted"] == 80
    assert stats["files_after"] < stats["files_before"]
    assert pipeline.ivf_members(spark, index_dir).count() == n_before
    assert probe_rows() == before
    # the crashed attempt's orphan dir (gen=-1) was GC'd, not reused
    gens_after_first = {
        r.gen
        for r in spark.read.parquet(ingest_path)
        .select("gen")
        .distinct()
        .collect()
    }
    assert -1 not in gens_after_first
    assert stats["active_gen"] in gens_after_first and stats["active_gen"] < 0

    # replay a FOLDED batch id: the re-created gen dir must be invisible
    ingest = f"{index_dir}/members_ingest.parquet"
    live_gens = {
        r.gen
        for r in spark.read.parquet(ingest).select("gen").distinct().collect()
        if r.gen >= 0
    }
    manifest = pipeline._read_ingest_manifest(spark, index_dir)
    folded_gen = manifest["folded_upto"]
    assert folded_gen not in live_gens
    replay = spark.read.parquet(src).where(
        F.col("vec_id") < IVF_APPEND_OFFSET * 2
    )
    pipeline._ivf_ingest_batch_fn(index_dir)(replay, folded_gen)
    assert pipeline.ivf_members(spark, index_dir).count() == n_before
    assert probe_rows() == before

    # a second compaction has nothing to fold: no-op + GC of the replayed
    # orphan dir
    stats2 = pipeline.compact_ivf_ingest(spark, index_dir, keep_last=1)
    assert stats2["folded_gens"] == 0
    gens_on_disk = {
        r.gen
        for r in spark.read.parquet(ingest).select("gen").distinct().collect()
    }
    assert folded_gen not in gens_on_disk  # GC removed the replay orphan
    assert probe_rows() == before

    # multi-version path: two more micro-batches, then a SECOND real
    # fold — must merge the previous compacted generation (-1) with the
    # newly folded gens into -2, bump the manifest to version 2, and
    # leave exactly {active, newest live} on disk
    batch_fn = pipeline._ivf_ingest_batch_fn(index_dir)
    for i, bid in ((4, 10), (5, 11)):
        batch_fn(
            emb.limit(40).select(
                (F.col("vec_id") + IVF_APPEND_OFFSET * i).alias("vec_id"),
                "embedding",
            ),
            bid,
        )
    n_grown = pipeline.ivf_members(spark, index_dir).count()
    assert n_grown == n_before + 80
    grown = probe_rows()
    stats3 = pipeline.compact_ivf_ingest(spark, index_dir, keep_last=1)
    assert stats3["folded_gens"] == 2  # gen 2 (old live) + gen 10
    manifest2 = pipeline._read_ingest_manifest(spark, index_dir)
    assert manifest2["version"] == 2 and manifest2["folded_upto"] == 10
    # unique-per-attempt gen id: encodes version 2, never a bare -2
    assert stats3["active_gen"] == manifest2["active_gen"]
    assert -3_000_000_000 < stats3["active_gen"] <= -2_000_000_000
    assert pipeline.ivf_members(spark, index_dir).count() == n_grown
    assert probe_rows() == grown
    gens_final = {
        r.gen
        for r in spark.read.parquet(ingest).select("gen").distinct().collect()
    }
    assert gens_final == {stats3["active_gen"], 11}, gens_final


def test_ivf_compaction_loser_never_touches_committed_data(spark, tmp_path):
    # Round-9 ADVICE (medium): with a DETERMINISTIC compacted gen id two
    # concurrent compactions wrote into the SAME partition before the
    # manifest race resolved — the loser's dynamic overwrite could delete
    # the winner's committed files. With unique-per-attempt gen ids the
    # loser writes its own orphan partition, fails loudly at the manifest
    # rename, and committed reads are bit-identical throughout; the next
    # compaction GCs the orphan.
    from datafusion_loki_spark.functions.layout import write_partitioned
    from datafusion_loki_spark.operators.similarity import (
        IVF_APPEND_OFFSET,
        build_ivf_index,
    )

    index_dir = str(tmp_path / "idx")
    build_ivf_index(spark, "/root/testdata/sf0.001", index_dir)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    batch_fn = pipeline._ivf_ingest_batch_fn(index_dir)
    for i, bid in ((1, 0), (2, 1), (3, 2)):
        batch_fn(
            emb.limit(40).select(
                (F.col("vec_id") + IVF_APPEND_OFFSET * i).alias("vec_id"),
                "embedding",
            ),
            bid,
        )
    ingest_path = f"{index_dir}/members_ingest.parquet"

    # winner commits version 1
    stats = pipeline.compact_ivf_ingest(spark, index_dir, keep_last=1)
    assert stats["folded_gens"] == 2
    winner_gen = stats["active_gen"]
    committed = sorted(
        (r.vec_id, r.gen)
        for r in spark.read.parquet(ingest_path)
        .select("vec_id", "gen")
        .collect()
    )

    # stale loser: raced the winner, derived the SAME target version from
    # the pre-commit manifest state. Its data write must land in a dir of
    # its own, and its manifest commit must fail loudly.
    loser_gen = -(1 * 1_000_000_000 + 424242)
    assert loser_gen != winner_gen
    loser_df = (
        spark.read.parquet(ingest_path)
        .where(F.col("gen") >= 0)
        .drop("gen")
        .withColumn("gen", F.lit(loser_gen))
        .localCheckpoint(eager=True)
    )
    write_partitioned(
        loser_df, ingest_path, partition_by=["gen", "cluster_id"]
    )
    with pytest.raises(IOError, match="manifest commit failed"):
        pipeline._write_ingest_manifest(
            spark,
            index_dir,
            {"version": 1, "active_gen": loser_gen, "folded_upto": 1},
        )

    # committed rows (winner's partition included) are untouched: the
    # reader view is identical and the winner's dir still exists
    manifest = pipeline._read_ingest_manifest(spark, index_dir)
    assert manifest["version"] == 1 and manifest["active_gen"] == winner_gen
    visible = sorted(
        (r.vec_id, r.gen)
        for r in spark.read.parquet(ingest_path)
        .where(
            (F.col("gen") == winner_gen)
            | (F.col("gen") > manifest["folded_upto"])
        )
        .select("vec_id", "gen")
        .collect()
    )
    assert visible == committed

    # next maintenance run GCs the loser's orphan
    pipeline.compact_ivf_ingest(spark, index_dir, keep_last=1)
    gens = {
        r.gen
        for r in spark.read.parquet(ingest_path)
        .select("gen")
        .distinct()
        .collect()
    }
    assert loser_gen not in gens
    assert winner_gen in gens


def test_compact_tmp_sweep_is_age_gated(spark, tmp_path):
    # Round-9 ADVICE (low): the post-commit GC re-listed .manifest-*.tmp
    # files, so it could sweep a CONCURRENT in-flight attempt's temp and
    # make that attempt's rename fail with a misleading message. The
    # sweep now uses the PRE-commit snapshot AND an age gate: only temps
    # older than _TMP_SWEEP_AGE_MS (certainly-dead attempts) are
    # collected; a fresh temp — possibly a live attempt — survives.
    import os

    index_dir = str(tmp_path / "idx")
    ingest = f"{index_dir}/members_ingest.parquet"
    os.makedirs(ingest)
    old = os.path.join(ingest, ".manifest-v1.deadbeefdead.tmp")
    fresh = os.path.join(ingest, ".manifest-v1.cafef00dcafe.tmp")
    for p in (old, fresh):
        with open(p, "w") as f:
            f.write("{}")
    old_s = time.time() - 2 * (pipeline._TMP_SWEEP_AGE_MS / 1000)
    os.utime(old, (old_s, old_s))

    stats = pipeline.compact_ivf_ingest(spark, index_dir, keep_last=1)
    assert stats["folded_gens"] == 0

    names = set(os.listdir(ingest))
    assert ".manifest-v1.deadbeefdead.tmp" not in names  # dead: swept
    assert ".manifest-v1.cafef00dcafe.tmp" in names  # maybe live: kept


class _FakeGroupState:
    """Minimal stand-in for pyspark's GroupState — enough to drive
    _near_dup_fn's kernel contract without a streaming query."""

    def __init__(self):
        self._val = None
        self.hasTimedOut = False

    @property
    def exists(self):
        return self._val is not None

    @property
    def get(self):
        return self._val

    def update(self, v):
        self._val = v

    def setTimeoutTimestamp(self, ts):
        self.timeout = ts

    def remove(self):
        self._val = None


def test_near_dup_redelivery_after_eviction_is_superset_only():
    # The redelivery guard is scoped to the FIFO retention window: a
    # replay of an EVICTED doc re-admits it and re-emits candidates —
    # with capped state that is indistinguishable from a new doc. Pin
    # the absorbing contract: re-emitted rows are ordinary candidate
    # pairs against the CURRENT occupants (a recall superset for the
    # idempotent verify stages), never self-pairs, never unbounded.
    import pandas as pd

    from datafusion_loki_spark.streaming.pipeline import (
        NEAR_DUP_STATE_CAP,
        _near_dup_fn,
    )

    def feed(state, ids, t0):
        pdf = pd.DataFrame(
            {
                "ts": pd.to_datetime(
                    [t0 + i for i in range(len(ids))], unit="s", utc=True
                ),
                "doc_id": ids,
            }
        )
        return list(_near_dup_fn(("b0", "k0"), iter([pdf]), state))

    state = _FakeGroupState()
    assert feed(state, [1], 100) == []          # first sight: no priors
    # flood the bucket past the cap: doc 1 is FIFO-evicted
    feed(state, list(range(2, NEAR_DUP_STATE_CAP + 3)), 200)
    retained = list(state.get[0])
    assert 1 not in retained and len(retained) == NEAR_DUP_STATE_CAP
    # replay the evicted doc: treated as new — bounded re-emission
    out = feed(state, [1], 300)
    assert len(out) == 1
    pairs = out[0]
    assert (pairs["doc_id"] == 1).all()
    assert len(pairs) == NEAR_DUP_STATE_CAP          # one per occupant
    assert set(pairs["prior_id"]) == set(retained)   # current occupants
    assert (pairs["prior_id"] != 1).all()            # never a self-pair
    # and a replay while still retained stays silent (the in-window guard)
    assert feed(state, [1], 400) == []


def test_near_dup_replay_only_batch_rearms_ttl():
    # round-7 ADVICE: GroupState cancels any previously-set timeout on
    # each invocation, so a replay-only micro-batch that skipped the
    # max_ts update left the bucket with NO timeout — state retained
    # forever for buckets fed only redeliveries. Event time must re-arm
    # the TTL regardless of novelty.
    import pandas as pd

    from datafusion_loki_spark.streaming.pipeline import _near_dup_fn

    def feed(state, ids, t0):
        pdf = pd.DataFrame(
            {
                "ts": pd.to_datetime(
                    [t0 + i for i in range(len(ids))], unit="s", utc=True
                ),
                "doc_id": ids,
            }
        )
        return list(_near_dup_fn(("b0", "k0"), iter([pdf]), state))

    state = _FakeGroupState()
    feed(state, [1, 2], 100)
    first_timeout = state.timeout
    # model the cancel-on-invocation semantics: clear before the replay
    state.timeout = None
    out = feed(state, [1], 500)          # pure replay: no new candidates
    assert out == []
    assert state.timeout is not None     # ...but the TTL is re-armed
    assert state.timeout > first_timeout # and tracks the NEW event time


def test_semantic_pairs_compose_over_streamed_index(spark, tmp_path):
    # The maintenance lifecycle composes: build the index, stream in a
    # batch of exact clones, and the SAME within-cell pair kernel the
    # batch semantic dedup uses (_semantic_pairs) must surface each
    # clone paired with its original (cosine 1.0 >= tau) when run over
    # the MERGED member view — no refit, no special-case read path.
    from datafusion_loki_spark.operators.dedup import _semantic_pairs
    from datafusion_loki_spark.operators.similarity import (
        IVF_APPEND_OFFSET,
        build_ivf_index,
    )

    index_dir = str(tmp_path / "idx")
    build_ivf_index(spark, "/root/testdata/sf0.001", index_dir)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    src = str(tmp_path / "src")
    (
        emb.limit(20)
        .select(
            (F.col("vec_id") + IVF_APPEND_OFFSET).alias("vec_id"),
            "embedding",
        )
        .coalesce(1)
        .write.parquet(src)
    )
    stream = spark.readStream.schema(
        "vec_id long, embedding array<float>"
    ).parquet(src)
    q = pipeline.ivf_ingest_stream(stream, index_dir, str(tmp_path / "ck"))
    q.awaitTermination(120)

    pairs = {
        (r.id_a, r.id_b)
        for r in _semantic_pairs(
            pipeline.ivf_members(spark, index_dir)
        ).collect()
    }
    # every streamed clone pairs with its original: same vector, same
    # cell (identical assignment math), cosine exactly 1.0
    for vid in range(20):
        assert (vid, vid + IVF_APPEND_OFFSET) in pairs, vid


def test_running_totals_count_late_events_across_batches(spark, tmp_path):
    # round-7 review: the accumulator carried a gratuitous watermark —
    # with no timers its ONLY effect was DROPPING input rows older than
    # the watermark, so a late event arriving in a later micro-batch
    # silently vanished from totals the batch twin counts. Deliver two
    # files (maxFilesPerTrigger=1): the second carries events 30 minutes
    # OLDER than the first's — they must still be counted.
    import time as _time

    src = str(tmp_path / "ev")
    base = 1_700_000_000_000_000  # µs epoch
    recent = [(1, base + i * 1_000_000, 7, "click", 1.0, "{}") for i in range(5)]
    late = [
        (10 + i, base - 1_800_000_000, 7, "click", 1.0, "{}") for i in range(3)
    ]
    schema = (
        "event_id long, ts_us long, user_id long, event_type string,"
        " value double, props string"
    )

    def write_one(rows, name):
        (
            spark.createDataFrame(rows, schema)
            .select(
                "event_id",
                F.timestamp_micros(F.col("ts_us")).cast("timestamp_ntz").alias("ts"),
                "user_id",
                "event_type",
                "value",
                "props",
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        _time.sleep(1.1)  # distinct mtimes → deterministic file order

    write_one(recent, "f1")
    write_one(late, "f2")
    stream = (
        spark.readStream.schema(pipeline.EVENTS_SCHEMA_US)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got: list = []
    q = (
        pipeline.user_running_totals(stream)
        .writeStream.outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(lambda df, _bid: got.extend(df.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    finals = {r.user_id: (r.n_events, r.total_value) for r in got}
    # ALL 8 events counted — the 3 late ones included
    assert finals[7] == (8, 8.0), finals


def test_winnow_streamside_matches_batch_selection(spark, sf_dir):
    # the stateless per-row selection must land in the SAME buckets as
    # the batch operator's window-based selection (bit-identical md5
    # fingerprints, same clipped-window boundary rule) — and the md5
    # chain must materialize ONCE per row (the projection-barrier rule;
    # re-inlined, it would run per WINDOW x position)
    from datafusion_loki_spark.operators.dedup import (
        _winnow_selected_positions,
    )

    docs = _docs_with_ts(spark, sf_dir)
    streamside = pipeline.doc_winnow_fp_streamside(docs)
    got = {
        (r.doc_id, r.band_key)
        for r in streamside.select("doc_id", "band_key").distinct().collect()
    }
    want = {
        (r.doc_id, r.fp)
        for r in _winnow_selected_positions(
            docs.select("doc_id", "text")
        )
        .select("doc_id", "fp")
        .distinct()
        .collect()
    }
    assert got == want
    assert got  # non-vacuous
    opt = streamside._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("md5(") == 1, opt


def test_winnow_admission_stream_matches_fifo_model(spark, sf_dir, tmp_path):
    # one availableNow drain over the corpus must emit exactly the
    # per-fingerprint (prior, doc) candidates a pure-python replay of
    # the FIFO kernel predicts (same sort, same cap) — the
    # guaranteed-detection admission arm sharing _near_dup_fn verbatim
    # with the MinHash arm
    from collections import defaultdict

    docs = _docs_with_ts(spark, sf_dir)
    src = tmp_path / "docs"
    docs.coalesce(1).write.parquet(str(src / "all"))
    got: list = []
    q = (
        pipeline.winnow_admission_stream(
            spark.readStream.schema(
                "ts timestamp_ntz, doc_id long, text string"
            ).parquet(str(src) + "/*/")
        )
        .writeStream.foreachBatch(lambda df, _id: got.extend(df.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stream_rows = {(r.band_key, r.prior_id, r.doc_id) for r in got}

    rows = pipeline.doc_winnow_fp_streamside(docs).collect()
    expected = set()
    fifo: dict = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r.ts, r.doc_id, r.band_key)):
        occ = fifo[r.band_key]
        if r.doc_id in occ:
            continue
        for prior in occ:
            expected.add((r.band_key, prior, r.doc_id))
        occ.append(r.doc_id)
        if len(occ) > pipeline.NEAR_DUP_STATE_CAP:
            fifo[r.band_key] = occ[-pipeline.NEAR_DUP_STATE_CAP:]
    assert stream_rows == expected
    assert stream_rows  # non-vacuous: the corpus shares grams


def test_winnow_stream_state_survives_restart(spark, sf_dir, tmp_path):
    # a winnow pair whose two docs arrive in DIFFERENT drains (fresh
    # query object each time, same checkpoint) must still be detected:
    # the first doc's fingerprint-bucket occupancy lives in the state
    # store — the near-dup restart contract, winnowing arm
    import __spark_entry__ as e

    docs = _docs_with_ts(spark, sf_dir)
    a, b = min(
        (r.doc_a, r.doc_b)
        for r in e.queries()["dedup_winnowing"](spark, sf_dir).collect()
    )
    src = tmp_path / "docs"
    ckpt = str(tmp_path / "ck")

    def _drain():
        got: list = []
        q = (
            pipeline.winnow_admission_stream(
                spark.readStream.schema(
                    "ts timestamp_ntz, doc_id long, text string"
                ).parquet(str(src) + "/*/")
            )
            .writeStream.foreachBatch(lambda df, _id: got.extend(df.collect()))
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return got

    docs.where(F.col("doc_id") <= a).coalesce(1).write.parquet(
        str(src / "first")
    )
    first = _drain()
    assert all(r.doc_id != b for r in first)
    docs.where(F.col("doc_id") == b).coalesce(1).write.parquet(
        str(src / "second")
    )
    second = _drain()
    pairs = {(r.prior_id, r.doc_id) for r in second}
    assert (a, b) in pairs


def test_decode_admission_stream_matches_batch_gate(spark, tmp_path):
    # The streaming decode admission must give each blob the VERDICT the
    # batch dispatch gives: construct real files in all six formats plus
    # corrupted twins and unknown bytes, stream them, and compare
    # against direct decode_image calls.
    import numpy as np
    import pyspark.sql.functions as F

    from datafusion_loki_spark.operators.avi import encode_avi_mjpeg
    from datafusion_loki_spark.operators.gif import encode_gif
    from datafusion_loki_spark.operators.jpeg import encode_jpeg
    from datafusion_loki_spark.operators.multimodal import (
        decode_image,
        encode_png,
    )
    from datafusion_loki_spark.operators.tiff import encode_tiff
    from datafusion_loki_spark.operators.wav import encode_wav

    rng = np.random.RandomState(8)
    px = rng.randint(0, 256, (5, 7, 3)).astype(np.uint8)
    pal = rng.randint(0, 256, (16, 3)).astype(np.uint8)
    blobs = {
        0: b"P6 7 5 255\n" + px.tobytes(),
        1: encode_png(px),
        2: encode_jpeg(px[:, :, 0]),
        3: encode_gif(px[:, :, 0].astype(np.int64) % 16, pal),
        4: encode_tiff(px, big_endian=True, packbits=True),
        5: encode_png(px)[:-2],         # corrupt: IEND CRC gone
        6: encode_tiff(px)[:-2],        # corrupt: strip tail gone
        7: b"random garbage, no signature",
        8: encode_wav(
            rng.randint(-9, 9, (6, 2)).astype(np.int16), 8000
        ),                              # audio: admitted (round 14)
        9: encode_wav(
            rng.randint(-9, 9, (6, 2)).astype(np.int16), 8000
        )[:-3],                         # corrupt wav: data chunk cut
        10: b"RIFF\x04\x00\x00\x00AVI ",  # AVI form, no streams: loud
        # valid two-frame 64x40 MJPEG: video admits (round 15)
        11: encode_avi_mjpeg(
            [
                encode_jpeg(
                    np.repeat(
                        np.repeat(
                            rng.randint(0, 256, (5, 8)).astype(np.uint8),
                            8, 0,
                        ),
                        8, 1,
                    )
                )
            ]
            * 2
        ),
    }
    src = str(tmp_path / "media")
    spark.createDataFrame(
        [(k, bytearray(v)) for k, v in blobs.items()],
        "doc_id long, payload binary",
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, payload binary").parquet(
        src
    )
    out = pipeline.decode_admission_stream(stream)
    assert out.isStreaming
    pipeline.run_to_memory(out, "decode_admitted", spark)
    got = {
        r.doc_id: (r.fmt, r.ok, r.n_pixels)
        for r in spark.sql("SELECT * FROM decode_admitted").collect()
    }
    assert len(got) == len(blobs)
    for k, blob in blobs.items():
        if k >= 8:
            continue  # audio/RIFF rows asserted directly below
        try:
            arr = decode_image(blob)
            want = (True, arr.shape[0] * arr.shape[1])
        except ValueError:
            want = (False, None)
        except NotImplementedError:
            # the batch dispatch PIL-gates unknown signatures; the
            # stream gate sniffs first and rejects them as 'unknown'
            # (only known-but-codec-less formats propagate loud there)
            want = (False, None)
        assert (got[k][1], got[k][2]) == want, (k, got[k])
    assert got[0][0] == "ppm" and got[4][0] == "tiff"
    assert got[7] == ("unknown", False, None)
    # round 14: the audio modality — a valid WAV admits (NULL pixel
    # count: frames are not pixels), a truncated one rejects as wav,
    # and a non-WAVE RIFF form never masquerades as audio
    assert got[8] == ("wav", True, None)
    assert got[9] == ("wav", False, None)
    # round 15: the AVI form sniffs as video and rejects LOUD-LY
    # inside the real container walk (this blob has no hdrl), never
    # masquerading as audio
    assert got[10] == ("avi", False, None)
    assert got[11][0] == "avi" and got[11][1]  # valid MJPEG admits
    assert got[11][2] == 64 * 40 * 2  # n_pixels across both frames
    # admitted set: the decodable six images + valid wav + valid avi
    assert {k for k, v in got.items() if v[1]} == {0, 1, 2, 3, 4, 8, 11}


def test_decode_admission_stream_carries_passthrough_columns(
    spark, tmp_path
):
    # Round-14 ADVICE: the docstring promises '(original columns minus
    # payload, fmt, ok, n_pixels)' — non-payload columns (media_type,
    # timestamps, ...) must survive the kernel so downstream admission
    # consumers don't need a join back.
    import numpy as np

    from datafusion_loki_spark.operators.multimodal import encode_png

    rng = np.random.RandomState(14)
    px = rng.randint(0, 256, (3, 4, 3)).astype(np.uint8)
    src = str(tmp_path / "media_pt")
    spark.createDataFrame(
        [
            (1, "image/png", "s3://bucket/a.png", bytearray(encode_png(px))),
            (2, "image/png", "s3://bucket/b.png", bytearray(b"garbage")),
        ],
        "doc_id long, media_type string, uri string, payload binary",
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(
        "doc_id long, media_type string, uri string, payload binary"
    ).parquet(src)
    out = pipeline.decode_admission_stream(stream)
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "media_type", "uri", "fmt", "ok", "n_pixels",
    ]
    pipeline.run_to_memory(out, "decode_admitted_pt", spark)
    rows = {
        r.doc_id: r
        for r in spark.sql("SELECT * FROM decode_admitted_pt").collect()
    }
    assert rows[1].media_type == "image/png" and rows[1].uri.endswith("a.png")
    assert rows[1].ok and rows[1].fmt == "png" and rows[1].n_pixels == 12
    assert rows[2].uri.endswith("b.png") and not rows[2].ok


def _manifest_blobs(rng, n_per_type=4):
    """Mixed-modality blobs with planted corruption: per index i, an
    image (PNG, corrupt when i%4==3), an audio WAV (corrupt when
    i%4==2), and unknown bytes (never admitted)."""
    import numpy as np

    from datafusion_loki_spark.operators.multimodal import encode_png
    from datafusion_loki_spark.operators.wav import encode_wav

    rows = []
    for i in range(n_per_type):
        px = rng.randint(0, 256, (3 + i, 4, 3)).astype(np.uint8)
        png = encode_png(px)
        if i % 4 == 3:
            png = png[:-2]
        wav = encode_wav(
            rng.randint(-99, 99, (5 + i, 1)).astype(np.int16), 8000
        )
        if i % 4 == 2:
            wav = wav[:-3]
        rows.append((100 + i, "image", bytearray(png)))
        rows.append((200 + i, "audio", bytearray(wav)))
        rows.append((300 + i, "other", bytearray(b"junk %d" % i)))
    return rows


def _manifest_expected(rows):
    """The batch aggregate the streaming manifest must converge to,
    computed straight from the blobs via the batch decode dispatch."""
    from datafusion_loki_spark.operators.multimodal import decode_image
    from datafusion_loki_spark.operators.wav import decode_wav

    agg = {}
    for _doc, mt, blob in rows:
        blob = bytes(blob)
        ok, npx = False, 0
        if blob[:8] == b"\x89PNG\r\n\x1a\n":
            try:
                arr = decode_image(blob)
                ok, npx = True, arr.shape[0] * arr.shape[1]
            except ValueError:
                pass
        elif blob[:4] == b"RIFF":
            try:
                decode_wav(blob)
                ok = True
            except ValueError:
                pass
        cur = agg.setdefault(mt, [0, 0, 0, 0])
        cur[0] += 1
        if ok:
            cur[1] += 1
            cur[2] += len(blob)
            cur[3] += npx
    return {
        mt: (v[0], v[1], v[2], v[3], v[1] / v[0]) for mt, v in agg.items()
    }


def test_corpus_manifest_stream_batch_equivalence_and_replay(
    spark, tmp_path
):
    # Phase 1: stream files A through admission -> manifest; the landed
    # per-media_type rows must equal the batch aggregate over A. A
    # second drain of the SAME checkpoint with no new data must change
    # nothing (replay convergence). Phase 2: add files B and drain with
    # the same checkpoint — the state store recovers the running
    # totals, so the manifest equals the batch aggregate over A ∪ B.
    import numpy as np

    rng = np.random.RandomState(15)
    rows_a = _manifest_blobs(rng, n_per_type=4)
    rows_b = _manifest_blobs(np.random.RandomState(16), n_per_type=3)
    rows_b = [(d + 1000, mt, b) for d, mt, b in rows_b]
    src = str(tmp_path / "media_src")
    sink = str(tmp_path / "manifest")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, media_type string, payload binary"
    spark.createDataFrame(rows_a, schema).coalesce(2).write.parquet(src)

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)  # force multiple batches
            .parquet(src)
            .withColumn("n_bytes", F.length("payload").cast("long"))
        )
        q = pipeline.corpus_manifest_stream(
            pipeline.decode_admission_stream(stream), sink, ckpt
        )
        q.awaitTermination()

    def landed():
        return {
            r.media_type: (
                r.n_items, r.n_kept, r.kept_bytes, r.kept_pixels,
                r.kept_fraction,
            )
            for r in spark.read.parquet(sink).collect()
        }

    drain()
    assert landed() == _manifest_expected(rows_a)
    drain()  # replay with no new data: converged, not duplicated
    assert landed() == _manifest_expected(rows_a)
    spark.createDataFrame(rows_b, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    drain()  # restart picks up state: totals cover A ∪ B
    assert landed() == _manifest_expected(rows_a + rows_b)
    # exactly one row per media_type (partition == aggregation key)
    assert len(spark.read.parquet(sink).collect()) == 3
