"""Streaming ingestion: the batch pipeline applied per micro-batch,
plus native Structured Streaming operators for late data and custom
state.

The reference has no true streaming (SURVEY §2.9) — its display server
polls a directory and results append incrementally
(``dqm_display.py:53-56``, ``dqmtools.py:99-104``).  The idiomatic
Spark upgrades:

- ``stream_pages``: file-source ``readStream`` + ``foreachBatch``
  reusing the exact batch pipeline (one code path, two execution
  modes), checkpointed for exactly-once sink appends.
- ``windowed_keep_counts``: event-time windowed keep/drop metrics with
  a watermark — late pages beyond the watermark are dropped from the
  aggregation and state is bounded (the 100 TB/day requirement: state
  size is O(windows x langs), not O(rows)).
- ``streaming_first_occurrence``: custom stateful exact-dedup via
  ``applyInPandasWithState`` — emits only the first occurrence of each
  content hash across micro-batches; per-key state is one timestamp,
  expired by a processing-time timeout so state cannot grow without
  bound.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable, Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from dqmtools_spark.schemas import PAGES_SCHEMA


def stream_pages(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    batch_hook: Callable[[DataFrame, int], None] | None = None,
    trigger_once: bool = True,
) -> StreamingQuery:
    """Watch ``input_dir`` for new pages parquet files; run the quality
    pipeline on each micro-batch; append doc_results to ``output_dir``.

    ``trigger_once`` processes the backlog and stops (the batch-like
    mode used in tests); continuous deployments pass False.
    """
    from dqmtools_spark.pipeline import run_pipeline

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        result, _ = run_pipeline(spark, batch_df)
        (
            result.write.mode("append")
            .partitionBy("part_key")
            .parquet(output_dir)
        )
        if batch_hook is not None:
            batch_hook(result, batch_id)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# -------------------------------------------- watermarked windowed agg


def windowed_keep_counts(
    pages_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Event-time windowed quality metrics over a pages STREAM:
    per (window(warc_ts), lang) doc counts and a cheap keep heuristic
    (the full pipeline runs in foreachBatch; this is the native
    incremental-aggregation surface for dashboards).

    The watermark bounds state: a window's partial aggregate is held
    only until event time passes ``watermark`` beyond its end, then
    finalized and evicted — pages later than that are dropped, which is
    the documented late-data contract.  Works identically on a batch
    DataFrame (watermark is a no-op there) — used by tests to check
    values against a plain groupBy.
    """
    wc = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("win"), "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if(wc >= 15).alias("n_min_len_ok"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "lang",
            "n_docs",
            "n_min_len_ok",
        )
    )


def session_metrics(
    pages_stream: DataFrame,
    key: str = "lang",
    ts_col: str = "warc_ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Gap-based SESSION windows over a stream, via Spark's native
    ``session_window`` — the streaming twin of
    ``operators/sessions.sessionize`` (the batch operator numbers
    sessions with a lag+running-sum window, the stream merges them
    incrementally in state).  One boundary difference: a gap of
    EXACTLY the threshold splits here (session_window's window end is
    exclusive at prev+gap) but does NOT split in the batch operator
    (strict ``>``); away from that measure-zero boundary the two
    produce identical sessions (pinned by test_streaming).

    State is bounded by the watermark: a session finalizes once event
    time passes ``watermark`` beyond its close, so an unbounded stream
    holds only the open sessions.  ``sess_start`` equals the session's
    first event time; ``sess_end`` is last event + gap (Spark's
    closed-session convention).  Works on a batch frame too (used by
    the test to cross-check the two implementations).
    """
    return (
        pages_stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("sess"), key)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("sess.start").alias("sess_start"),
            F.col("sess.end").alias("sess_end"),
            key,
            "n_events",
        )
    )


# ---------------------------------- incremental corpus-global line dedup


def _global_line_dedup_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    output_dir: str,
    id_col: str = "url",
    text_col: str = "text",
    min_chars: int = 1,
) -> None:
    """One micro-batch of the incremental global line dedup (the
    foreachBatch body, module-level so a crash-replay can be exercised
    directly in tests).

    IDEMPOTENT by construction — Structured Streaming re-runs a batch
    whose sink write finished but whose checkpoint commit did not:

    - the seen-line LEDGER is read with ``batch_id < N`` only, so a
      replay of batch N never sees its own earlier partial write;
    - both outputs land in ``batch_id=N`` partition directories with
      mode=overwrite, so the replay REWRITES the same bytes instead of
      appending duplicates.

    Within-batch first occurrence follows the batch operator's rule
    (min (id, line_idx)); across batches, first ARRIVAL wins — on an
    id-ordered ingest the two orders coincide and the stream's final
    output equals ``dedup.global_line_dedup`` over the full corpus
    (pinned by test_streaming).  Both writes read the one ``winners``
    aggregate: the docs regroup its lines, the ledger takes its ``_h``.
    """
    from pyspark import StorageLevel
    from pyspark.errors import AnalysisException

    from dqmtools_spark.operators.dedup import global_line_dedup_frames

    seen_dir = f"{output_dir}/seen"
    docs_dir = f"{output_dir}/docs"

    try:
        seen = spark.read.parquet(seen_dir).filter(
            F.col("batch_id") < batch_id
        ).select("_h")
    except AnalysisException:  # first batch: no ledger yet
        seen = spark.createDataFrame([], "_h string")

    # the SAME derivation as the batch operator (shared core) — lines
    # already in the ledger get no winner row and drop out exactly like
    # within-corpus later occurrences
    out, winners = global_line_dedup_frames(
        batch_df, text_col, id_col, min_chars, seen_hashes=seen
    )
    # winners feeds both the docs rebuild and the ledger append; without
    # the persist the ledger scan + explode + md5 + anti-join would run
    # twice per micro-batch (once per write job)
    winners = winners.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        out.write.mode("overwrite").parquet(f"{docs_dir}/batch_id={batch_id}")
        winners.select("_h").write.mode("overwrite").parquet(
            f"{seen_dir}/batch_id={batch_id}"
        )
    finally:
        winners.unpersist()


def stream_global_line_dedup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    id_col: str = "url",
    text_col: str = "text",
    min_chars: int = 1,
    trigger_once: bool = True,
) -> StreamingQuery:
    """Incremental C4-style corpus-GLOBAL line dedup over a pages
    stream — the streaming twin of ``dedup.global_line_dedup`` for an
    incremental crawl: each micro-batch's lines are deduplicated
    against every line the stream has EVER kept (a durable md5-hash
    ledger, parquet partitioned by batch_id), then within the batch by
    the batch operator's min-(id, idx) rule.

    Exactly-once across kill/restart comes from idempotent per-batch
    partition overwrites, not sink transactions — see
    :func:`_global_line_dedup_batch`.  Outputs:
    ``<output>/docs/batch_id=N`` (id, deduped_text, n_kept) and the
    ledger under ``<output>/seen``.

    Scale notes: the per-batch cost is one anti-join of batch lines
    against the ledger (equi-join on a 32-byte hash — at 100 TB the
    ledger is bucketed/partitioned by hash prefix and the anti-join
    prunes; periodically compact the per-batch ledger partitions with
    ``sources.tables.compact_table``).  A Bloom-filter ledger
    (``operators.bloom``) is the approximate low-memory tier of the
    same design; the exact ledger keeps the oracle-checkable
    first-occurrence contract.
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        _global_line_dedup_batch(
            spark, batch_df, batch_id, output_dir,
            id_col=id_col, text_col=text_col, min_chars=min_chars,
        )

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )
    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ------------------------------------- custom stateful op (dedup-first)

_DEDUP_OUT_SCHEMA = T.StructType(
    [
        T.StructField("content_hash", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
    ]
)

_DEDUP_STATE_SCHEMA = T.StructType(
    [T.StructField("first_seen_unix", T.LongType())]
)


def _first_occurrence_fn(
    key: tuple,
    pdf_iter: Iterable[pd.DataFrame],
    state: GroupState,
):
    """Grouped-map-with-state worker: key = (content_hash,); state =
    first-seen timestamp.  Emits the group's earliest row ONCE (first
    batch in which the hash appears); later occurrences — same batch or
    any later micro-batch — emit nothing."""
    if state.hasTimedOut:
        state.remove()
        return
    rows = pd.concat(list(pdf_iter), ignore_index=True)
    if state.exists:
        out = rows.iloc[0:0]
    else:
        first = rows.sort_values(["warc_ts", "url"]).iloc[:1]
        state.update((int(dt.datetime.now(dt.timezone.utc).timestamp()),))
        out = first
    # keep state for 24h of processing time, then let it expire —
    # bounded-state contract for an unbounded stream
    state.setTimeoutDuration(24 * 3600 * 1000)
    yield out[["content_hash", "url", "warc_ts"]]


def streaming_first_occurrence(pages_stream: DataFrame) -> DataFrame:
    """Exactly-once-per-content streaming dedup: the first page with a
    given md5(text) passes, all later duplicates are dropped — across
    micro-batch boundaries, via ``applyInPandasWithState`` (per-key
    state = one long; timeout-expired so state is bounded).

    The batch analog is ``operators/dedup.exact_dedup``; this is the
    stream-native tier of the same dedup ladder.  The processing-time
    timeout asks for a micro-batch even when no data arrives, so an
    ``availableNow`` trigger never terminates on this query unless
    ``spark.sql.streaming.noDataMicroBatches.enabled`` is false.
    """
    keyed = pages_stream.select(
        F.md5(F.col("text")).alias("content_hash"), "url", "warc_ts"
    ).groupBy("content_hash")
    return keyed.applyInPandasWithState(
        _first_occurrence_fn,
        outputStructType=_DEDUP_OUT_SCHEMA,
        stateStructType=_DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
