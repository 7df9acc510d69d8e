"""Streaming wrapper: micro-batch pipeline over a file source with
exactly-once checkpointing (SURVEY §2.9 — the reference's incremental
append loop, upgraded to Structured Streaming)."""

from __future__ import annotations

import os


def test_stream_processes_backlog_and_checkpoints(spark, tmp_path):
    from dqmtools_spark.streaming.stream import stream_pages
    from dqmtools_spark.synth import synth_pages

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    synth_pages(spark, 200, seed=5).coalesce(2).write.parquet(inp)

    batches: list[int] = []
    q = stream_pages(
        spark, inp, out, ckpt,
        batch_hook=lambda df, bid: batches.append(bid),
    )
    q.awaitTermination(120)

    result = spark.read.parquet(out)
    assert result.count() == 200
    assert set(result.columns) >= {"url", "keep", "scrubbed_text", "lang_pred"}
    assert len(batches) >= 1

    # second start with the same checkpoint: backlog already committed,
    # no new files -> zero new rows appended (exactly-once)
    q2 = stream_pages(spark, inp, out, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 200

    # new files arriving -> only the delta is processed
    synth_pages(spark, 50, seed=6).coalesce(1).write.mode("append").parquet(inp)
    q3 = stream_pages(spark, inp, out, ckpt)
    q3.awaitTermination(120)
    assert spark.read.parquet(out).count() == 250
    assert os.path.isdir(ckpt)


def test_windowed_keep_counts_with_watermark(spark, tmp_path):
    """Event-time windowed agg + watermark over a stream; values must
    equal the same expression run as a plain batch groupBy."""
    import datetime as dt

    from pyspark.sql import functions as F

    from dqmtools_spark.streaming.stream import windowed_keep_counts

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    for i in range(120):
        ts = base + dt.timedelta(minutes=i)          # spans two 1h windows
        text = "word " * (20 if i % 3 else 5)
        rows.append((f"u{i}", ts, text.encode(), text, "en"))
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    inp = str(tmp_path / "in")
    df.coalesce(2).write.parquet(inp)

    stream = (
        spark.readStream.schema(df.schema).parquet(inp)
    )
    q = (
        windowed_keep_counts(stream, window="1 hour", watermark="30 minutes")
        .writeStream.format("memory")
        .queryName("winkeep")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["win_start"], r["lang"]): (r["n_docs"], r["n_min_len_ok"])
        for r in spark.sql("SELECT * FROM winkeep").collect()
    }
    want = {
        (r["win_start"], r["lang"]): (r["n_docs"], r["n_min_len_ok"])
        for r in windowed_keep_counts(df).collect()   # batch: watermark no-op
    }
    # append mode emits only windows finalized by the watermark; every
    # emitted window must match the batch ground truth, and at least
    # the first (closed) window must have been emitted
    assert got, "no window finalized"
    for k, v in got.items():
        assert want[k] == v, k
    counts = [v[0] for v in want.values()]
    assert sum(counts) == 120


def test_streaming_first_occurrence_dedups_across_batches(spark, tmp_path):
    """applyInPandasWithState dedup: duplicates within a batch AND in a
    later micro-batch are dropped; only first occurrences pass."""
    import datetime as dt

    from dqmtools_spark.streaming.stream import streaming_first_occurrence

    base = dt.datetime(2024, 1, 1)
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"

    def page(url, minute, text):
        return (url, base + dt.timedelta(minutes=minute), text.encode(), text, "en")

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # batch 1: A twice (in-batch dup), B once
    spark.createDataFrame(
        [page("a1", 0, "content A"), page("a2", 1, "content A"),
         page("b1", 2, "content B")], schema
    ).coalesce(1).write.parquet(inp)

    def run_once():
        # parquet sink (memory sink cannot recover from a checkpoint);
        # state lives in the checkpoint across restarts.  The
        # processing-time timeout asks for a micro-batch even with no new
        # data, so availableNow only terminates with no-data batches off.
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
        q = None
        try:
            stream = spark.readStream.schema(spark.read.parquet(inp).schema).parquet(inp)
            q = (
                streaming_first_occurrence(stream)
                .writeStream.format("parquet")
                .option("path", out)
                .outputMode("append")
                .trigger(availableNow=True)
                .option("checkpointLocation", ckpt)
                .start()
            )
            assert q.awaitTermination(120), "availableNow query did not drain"
        finally:
            if q is not None:
                q.stop()
            spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
        assert q.exception() is None

    run_once()
    got1 = {r["url"] for r in spark.read.parquet(out).collect()}
    assert got1 == {"a1", "b1"}          # earliest per hash; in-batch dup dropped

    # batch 2: A again (cross-batch dup) + new C — state must survive
    # the restart via the checkpoint
    spark.createDataFrame(
        [page("a3", 9, "content A"), page("c1", 10, "content C")], schema
    ).coalesce(1).write.mode("append").parquet(inp)
    run_once()
    got2 = {r["url"] for r in spark.read.parquet(out).collect()}
    assert got2 == {"a1", "b1", "c1"}, "cross-batch duplicate must be dropped"


def test_session_window_stream_matches_batch_sessionize(spark, tmp_path):
    """Native session_window on a stream == the batch lag+running-sum
    sessionizer (operators/sessions.py) on the same data: same session
    boundaries (no gap hits the exact threshold here — the two
    implementations use >= vs > at the boundary), same per-session
    event counts, sess_start == the session's first event."""
    import datetime as dt

    from pyspark.sql import functions as F

    from dqmtools_spark.operators.sessions import sessionize
    from dqmtools_spark.streaming.stream import session_metrics

    base = dt.datetime(2024, 1, 1)
    rows = []
    # two keys; bursts separated by > 30min gaps
    for k, offsets in {
        "en": [0, 5, 9, 50, 52, 120],
        "de": [0, 40, 41, 44, 200],
    }.items():
        for i, off in enumerate(offsets):
            rows.append((f"u{k}{i}", base + dt.timedelta(minutes=off), k))
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, lang string")
    inp = str(tmp_path / "in")
    df.coalesce(1).write.parquet(inp)

    q = (
        session_metrics(
            spark.readStream.schema(df.schema).parquet(inp),
            gap="30 minutes",
        )
        .writeStream.format("memory")
        .queryName("sessmet")
        # complete mode: the backlog ends before the watermark passes
        # the final open sessions, so append would withhold them
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["lang"], r["sess_start"]): r["n_events"]
        for r in spark.sql("SELECT * FROM sessmet").collect()
    }

    batch = (
        sessionize(df, "lang", "warc_ts", gap_minutes=30, tiebreak="url")
        .groupBy("lang", "session_seq")
        .agg(
            F.min("warc_ts").alias("start"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    want = {(r["lang"], r["start"]): r["n_events"] for r in batch.collect()}
    assert got == want and len(want) == 3 + 3  # en: 3 sessions, de: 3


def test_session_window_state_survives_restart(spark, tmp_path):
    """Kill-and-resume for session_window state (the discipline
    test_streaming_first_occurrence already applies to dedup state):
    an OPEN session checkpointed by run 1 must MERGE with an in-gap
    event arriving after a restart, and finalize with the combined
    count once the watermark passes — exactly-once session semantics
    across restarts.  Parquet sink + append mode (memory sink cannot
    recover from a checkpoint; append is the production mode — closed
    sessions are emitted exactly once, open ones withheld)."""
    import datetime as dt

    from dqmtools_spark.streaming.stream import session_metrics

    base = dt.datetime(2024, 1, 1)
    schema = "url string, warc_ts timestamp, lang string"
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def m(minutes):
        return base + dt.timedelta(minutes=minutes)

    def write(rows, mode="append"):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            mode
        ).parquet(inp)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(inp)
        q = (
            session_metrics(stream, gap="30 minutes", watermark="1 hour")
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination(120)

    def read_out():
        df = spark.read.parquet(out)
        return {
            (r["lang"], r["sess_start"], r["sess_end"]): r["n_events"]
            for r in df.collect()
        }

    # run 1: two open sessions — watermark (max_ts - 1h) is before both,
    # so NOTHING may be emitted; their state lives in the checkpoint
    write(
        [("e0", m(0), "en"), ("e1", m(5), "en"), ("e2", m(10), "en"),
         ("d0", m(0), "de"), ("d1", m(10), "de")],
    )
    run_once()
    assert not read_out(), "open sessions must be withheld in append mode"

    # run 2 (RESTART): d2 lands 15 min after d1 — inside the 30-min gap
    # of the checkpointed open de session, so it must merge into it
    write([("d2", m(25), "de")])
    run_once()

    # run 3 (second restart): far-future event advances the watermark
    # past both sessions' close; they finalize with merged counts
    write([("w0", m(600), "en")])
    run_once()

    got = read_out()
    assert got.get(("en", m(0), m(40))) == 3, got
    assert got.get(("de", m(0), m(55))) == 3, (
        "de session did not merge across the restart: %s" % got
    )
    # each closed session emitted exactly once, the open one withheld
    assert len(got) == 2, got


def test_stream_global_line_dedup_restart_and_replay(spark, tmp_path):
    """Incremental corpus-global line dedup (round-5 stretch): lines
    deduplicate against the durable ledger ACROSS a kill/restart, the
    final output equals the batch operator over the full corpus (ingest
    is id-ordered, so arrival order == the batch op's (id, idx) order),
    and a crash-replay of the last micro-batch is byte-idempotent."""
    import datetime as dt

    from dqmtools_spark.operators.dedup import global_line_dedup
    from dqmtools_spark.streaming.stream import (
        _global_line_dedup_batch,
        stream_global_line_dedup,
    )

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ts = dt.datetime(2024, 1, 1)
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"

    def rows(id_texts):
        return [(f"u{i:03d}", ts, None, t, "en") for i, t in id_texts]

    file_a = [
        (0, "alpha one\nshared line\nbeta two"),
        (1, "shared line\ngamma three\n\nalpha one"),
    ]
    file_b = [
        (2, "shared line\ndelta four"),
        (3, "delta four\nunique five\nshared line"),
        (4, None),  # null text -> ('', 0), the batch op's contract
    ]

    spark.createDataFrame(rows(file_a), schema).coalesce(1).write.parquet(inp)
    q = stream_global_line_dedup(spark, inp, out, ckpt)
    q.awaitTermination(120)

    # RESTART with a new file: batch 1 must see batch 0's ledger
    spark.createDataFrame(rows(file_b), schema).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    q2 = stream_global_line_dedup(spark, inp, out, ckpt)
    q2.awaitTermination(120)

    def read_docs():
        return {
            r["url"]: (r["deduped_text"], r["n_kept"])
            for r in spark.read.parquet(out + "/docs").collect()
        }

    got = read_docs()
    full = spark.createDataFrame(rows(file_a) + rows(file_b), schema)
    expected = {
        r["url"]: (r["deduped_text"], r["n_kept"])
        for r in global_line_dedup(full, "text", "url").collect()
    }
    assert got == expected
    # cross-batch dedup actually happened: batch-1 docs lost the lines
    # batch 0 already kept
    assert got["u002"] == ("delta four", 1)
    assert got["u003"] == ("unique five", 1)
    assert got["u004"] == ("", 0)

    # CRASH REPLAY: re-run the last micro-batch body with the same
    # batch_id (sink written, checkpoint commit lost).  The ledger read
    # excludes batch_id >= 1, the writes overwrite batch_id=1 — output
    # and ledger must be unchanged.
    ledger_before = sorted(
        r["_h"] for r in spark.read.parquet(out + "/seen").collect()
    )
    _global_line_dedup_batch(
        spark, spark.createDataFrame(rows(file_b), schema), 1, out
    )
    assert read_docs() == expected
    assert ledger_before == sorted(
        r["_h"] for r in spark.read.parquet(out + "/seen").collect()
    )
