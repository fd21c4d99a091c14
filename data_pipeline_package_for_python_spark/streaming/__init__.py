"""Structured Streaming surface (SURVEY §2.2.9).

The reference (/root/reference/dpp.py) has no streaming of any kind — its
execution is a single eager in-process loop (dpp.py:283-296).  This module is
the engine's extension for unbounded data, built directly on Structured
Streaming so that the SAME DataFrame expressions used in batch run
incrementally with state managed by Spark:

- file stream sources over the fixture schema (micro-batched via
  ``maxFilesPerTrigger``), rate + memory sources for tests;
- tumbling / sliding window aggregation (``F.window``);
- session windows (``F.session_window``) with a batch-equivalent
  sessionization (lag + cumulative-sum) used as the differential oracle;
- event-time watermarks with late-data drop;
- stateful streaming dedup (``dropDuplicates`` bounded by a watermark);
- stream-static joins;
- ``foreachBatch`` parquet sinks;
- arbitrary stateful processing via ``applyInPandasWithState``.

Scale posture: every operator here is incremental — state lives in the
executors' state store (RocksDB-compatible at cluster scale), keyed by the
grouping columns, and watermarks bound state size.  Nothing collects to the
driver.  ``run_available_now`` exists for tests and the oracle harness only:
it drains the source with ``Trigger.AvailableNow`` and returns the sink
contents as a batch DataFrame, which is how the driver hash-checks streaming
results against DuckDB.
"""

from __future__ import annotations

import ast
import os
import shutil
import tempfile
import threading
import time
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators._util import conf_session, rebind
from ..sources import read_events

__all__ = [
    "EVENTS_DDL",
    "prepare_events_stream_dir",
    "read_events_stream",
    "tumbling_agg",
    "cascade_agg",
    "sliding_agg",
    "session_agg",
    "batch_sessionize",
    "stateful_dedup",
    "stream_static_join",
    "run_available_now",
    "run_until_offset",
    "foreach_batch_parquet",
    "running_user_counters",
]

EVENTS_DDL = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double, props string"
)

_name_lock = threading.Lock()
_name_counter = 0


def _unique_name(prefix: str) -> str:
    global _name_counter
    with _name_lock:
        _name_counter += 1
        return f"{prefix}_{os.getpid()}_{_name_counter}"


# --------------------------------------------------------------------- #
# sources                                                               #
# --------------------------------------------------------------------- #

def prepare_events_stream_dir(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 4,
    base: str | None = None,
) -> str:
    """Stage ``{sf_dir}/events.parquet`` as a streamable directory.

    File stream sources need a *directory* of files; the fixture is a single
    parquet file with nanosecond timestamps (which Spark's µs event-time
    clock cannot use directly).  This batch-rewrites events once per sf_dir
    into ``n_files`` µs-timestamp parquet files — giving AvailableNow +
    ``maxFilesPerTrigger`` a deterministic multi-micro-batch replay.  The
    staging is cached across calls (marker: ``_SUCCESS``).
    """
    base = base or os.path.join(tempfile.gettempdir(), "dpp_stream_src")
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    out = os.path.join(base, f"{tag}_events_{n_files}")
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    df = read_events(spark, os.path.join(sf_dir, "events.parquet"))
    # split by event-time order so each staged file is a contiguous time
    # range -> oldest-file-first replay is a realistic arrival order
    from pyspark.sql.window import Window

    df = df.withColumn(
        "_bucket",
        F.ntile(n_files).over(Window.orderBy("ts", "event_id")),
    )
    # One contiguous time range per FILE, and lexicographic file
    # order == time order: repartitionByRange maps the n_files
    # bucket values monotonically onto n_files partitions, so
    # part-00000 is the oldest slice.  (A plain repartition(col)
    # HASHES the bucket id — at sf0.1 buckets 1 and 3 collided into
    # part-00000, the replay delivered Jan-23 data before Jan-8
    # data, and the advanced watermark silently dropped thousands
    # of genuine interval-join matches.  FileStreamSource breaks
    # equal-mtime ties by path, so partition index IS arrival
    # order.)
    (
        df.repartitionByRange(n_files, "_bucket")
        .sortWithinPartitions("ts", "event_id")
        .drop("_bucket")
        .write.mode("overwrite")
        .parquet(out)
    )
    # FileStreamSource orders ONLY by modification time — files
    # written by one job share an mtime (to the µs) and then replay
    # in arbitrary listing order (observed: file4 before file3,
    # which advanced the watermark ~7 days early and silently
    # dropped a third of the interval-join matches as late data).
    # Strictly increasing mtimes in partition order make arrival
    # order == event-time order, the property every oracle here
    # assumes.
    parts = sorted(
        f for f in os.listdir(out)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    t0 = time.time() - 60.0
    for i, fname in enumerate(parts):
        fpath = os.path.join(out, fname)
        os.utime(fpath, (t0 + 10.0 * i, t0 + 10.0 * i))
    return out


def read_events_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """``readStream`` over a staged events directory (schema pinned, no
    inference pass — mandatory posture for production file streams)."""
    reader = spark.readStream.schema(EVENTS_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


# --------------------------------------------------------------------- #
# windowed aggregation                                                  #
# --------------------------------------------------------------------- #

def tumbling_agg(
    stream: DataFrame,
    duration: str = "1 hour",
    watermark: str = "2 hours",
    keys: tuple[str, ...] = ("event_type",),
    aggs: dict[str, Column] | None = None,
) -> DataFrame:
    """Tumbling event-time window aggregation with a watermark bound.

    State per (window, keys) group is dropped once the watermark passes the
    window end — the property that keeps state finite on an unbounded
    stream.  Window starts align to epoch multiples of ``duration`` exactly
    like ``date_trunc`` for whole-unit durations (the oracle's form).
    """
    aggs = aggs or {"cnt": F.count("*")}
    w = F.window("ts", duration)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(w.alias("w"), *keys)
        .agg(*[c.alias(n) for n, c in aggs.items()])
        .select(F.col("w.start").alias("w_start"), *keys, *aggs.keys())
    )


def sliding_agg(
    stream: DataFrame,
    duration: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
    keys: tuple[str, ...] = ("event_type",),
    aggs: dict[str, Column] | None = None,
) -> DataFrame:
    """Sliding (overlapping) windows: each event lands in
    ``duration/slide`` windows; Spark expands rows window-side before the
    partial aggregation, so the shuffle carries pre-aggregated partials."""
    aggs = aggs or {"cnt": F.count("*")}
    w = F.window("ts", duration, slide)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(w.alias("w"), *keys)
        .agg(*[c.alias(n) for n, c in aggs.items()])
        .select(F.col("w.start").alias("w_start"), *keys, *aggs.keys())
    )


def session_agg(
    stream: DataFrame,
    gap: "str | Column" = "30 minutes",
    watermark: str = "2 hours",
    key: str = "user_id",
) -> DataFrame:
    """Gap-based session windows per key (``F.session_window``).

    A session absorbs an event when it arrives strictly within ``gap`` of
    the session's current end; sessions merge as micro-batches close gaps.
    ``gap`` may be a STRING (static gap) or a COLUMN evaluating to an
    interval string per event (dynamic gap — e.g. high-value event types
    hold sessions open longer), which is Spark's documented
    ``session_window`` dynamic form.  Output one row per closed session:
    (key, session start µs, event count).
    """
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), key)
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col(key),
            F.unix_micros(F.col("sw.start")).alias("session_start_us"),
            "cnt",
        )
    )


def batch_sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    key: str = "user_id",
) -> DataFrame:
    """Batch twin of :func:`session_agg` via lag + cumulative sum.

    New session when ``ts - lag(ts) >= gap`` (session windows are
    half-open ``[start, end)``).  This is both the batch-equivalence check
    and the shape of the DuckDB oracle SQL.
    """
    from pyspark.sql.window import Window

    order = Window.partitionBy(key).orderBy("ts", "event_id")
    gap_expr = F.expr(f"INTERVAL {gap}")
    marked = events.withColumn("_pts", F.lag("ts").over(order)).withColumn(
        "_new",
        F.when(
            F.col("_pts").isNull()
            | (F.col("ts") >= F.col("_pts") + gap_expr),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    sid = marked.withColumn(
        "_sid",
        F.sum("_new").over(order.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sid.groupBy(key, "_sid").agg(
        F.unix_micros(F.min("ts")).alias("session_start_us"),
        F.count("*").alias("cnt"),
    ).drop("_sid")


# --------------------------------------------------------------------- #
# stateful dedup / joins / sinks                                        #
# --------------------------------------------------------------------- #

def stateful_dedup(
    stream: DataFrame,
    keys: tuple[str, ...] = ("event_id",),
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: keeps the first arrival per key.

    Uses ``dropDuplicatesWithinWatermark`` (Spark 3.5+), which expires
    per-key state once the watermark passes the key's first-seen event
    time.  Plain ``dropDuplicates(keys)`` would NOT do that here: Spark
    only watermark-evicts its dedup state when the event-time column is
    itself one of the dedup keys, so with ``keys=('event_id',)`` state
    would grow without bound on an unbounded stream.  The *WithinWatermark
    variant makes the bounded-state contract hold for arbitrary keys —
    duplicates are only guaranteed to collapse when they arrive within
    the watermark delay of the first occurrence, which is the standard
    at-scale dedup contract (late replays beyond the watermark are
    treated as new by design)."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def stream_static_join(
    stream: DataFrame,
    static: DataFrame,
    on: Column | list[str],
    how: str = "inner",
) -> DataFrame:
    """Stream-static join: the static side is re-planned per micro-batch (so
    broadcast selection applies batch-by-batch); no state is kept."""
    return stream.join(static, on=on, how=how)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    time_col: str = "ts",
    right_time: str | None = None,
    within: str = "24 hours",
    watermark: str = "2 days",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream inner join: right events matching a left event on
    ``on`` within ``[left.ts, left.ts + within]``.

    Both sides carry a watermark and the join condition carries the
    event-time range — together these let Spark BOUND the join state:
    a buffered left row is dropped once the watermark passes
    ``left.ts + within``, a right row once it passes ``right.ts``
    (+ delay), so state is O(rate × (watermark + within)) instead of
    the whole stream.  Omit either and Spark must buffer forever.

    Matches are emitted eagerly (inner join, append mode); with an
    in-order replay whose watermark delay covers ``within``, the
    incremental answer equals the batch join exactly — which is what
    the oracle checks.

    Column scoping: pre-rename the right side's columns so only ``on``
    collides (``right_time`` defaults to ``time_col`` but may differ);
    the right copy of ``on`` is dropped from the result.

    ``how='leftOuter'``: unmatched left rows emit with right columns
    NULL — but only once the watermark passes ``left.ts + within``
    (Spark must prove no future right row can still match before it
    may emit the null), so outer results trail the inner ones by the
    watermark delay.  ``how='fullOuter'`` adds the symmetric rule for
    unmatched RIGHT rows (emitted null-extended once the watermark
    passes ``right.ts`` — no future left can have an earlier event
    time), so a batch-equivalence oracle needs BOTH horizons.  A batch-equivalence oracle therefore has to
    restrict the left side to rows whose join window provably closes
    before the stream's final watermark; rows after that horizon are
    still buffered, unemitted, when the replay ends.
    """
    if how not in ("inner", "leftOuter", "fullOuter"):
        raise ValueError(
            f"how must be 'inner', 'leftOuter' or 'fullOuter', got {how!r}"
        )
    right_time = right_time or time_col
    l = left.withWatermark(time_col, watermark)
    r = right.withWatermark(right_time, watermark)
    lt, rt = l[time_col], r[right_time]
    cond = (
        (l[on] == r[on])
        & (rt >= lt)
        & (rt <= lt + F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond, how).drop(r[on])


def _harness_session(
    spark: SparkSession, state_partitions: int | None, **conf: str
) -> SparkSession:
    """Harness-only: the session clone a drain query starts in.

    A stateful streaming op creates one state-store instance per shuffle
    partition *per micro-batch* (checkpoint delta files, store init/commit);
    at harness scale (sf≤0.01, thousands of rows) the session's default 32
    partitions are pure fixed cost — measured ~2× of the drain wall time.
    The partition count is pinned into the query's checkpoint at START, so
    a clone carrying ``state_partitions`` (None keeps the caller's value)
    right-sizes the query while the caller's session keeps its own conf.
    Production flows never pass through this helper."""
    if state_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(state_partitions)
    return conf_session(spark, **conf)


def _run_query(writer, wait: Callable) -> StreamingQuery:
    """Start ``writer`` on a fresh checkpoint dir, ``wait(query)``, then
    stop the query and delete the dir: a harness query is drained once
    and never resumed, so its checkpoint is garbage afterwards."""
    ckpt = tempfile.mkdtemp(prefix="dpp_ckpt_")
    q = None
    try:
        q = writer.option("checkpointLocation", ckpt).start()
        wait(q)
    finally:
        if q is not None and q.isActive:
            q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
    return q


def run_available_now(
    result: DataFrame,
    output_mode: str = "append",
    timeout_s: int = 300,
    state_partitions: int | None = 4,
    progress_out: list | None = None,
) -> DataFrame:
    """Drain the streaming ``result`` with Trigger.AvailableNow into an
    in-memory sink and return the sink as a batch DataFrame.

    Test/oracle harness only — production flows use real sinks
    (:func:`foreach_batch_parquet`, kafka, delta...).  ``state_partitions``
    right-sizes the state store for harness-scale inputs (None keeps the
    session default).  If ``progress_out`` is a list, the query's
    per-micro-batch progress dicts are appended to it (watermark and
    state-store metrics — lets tests assert bounded-state contracts).
    The query runs in a session clone, so the sink's view lives there
    and the caller's catalog does not grow; the returned frame is bound
    to the caller's session.
    """
    spark = result.sparkSession
    child = _harness_session(spark, state_partitions)
    name = _unique_name("dpp_mem")
    q = _run_query(
        rebind(result, child).writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True),
        lambda q: q.awaitTermination(timeout_s),
    )
    if progress_out is not None:
        progress_out.extend(q.recentProgress)
    return rebind(child.table(name), spark)


def foreach_batch_parquet(
    stream: DataFrame,
    path: str,
    timeout_s: int = 300,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    state_partitions: int | None = 4,
) -> None:
    """``foreachBatch`` parquet sink: each micro-batch is appended as a
    normal batch write (full DataFrame API available inside, unlike the
    row-level ``foreach``).  Exactly-once here relies on the checkpoint +
    idempotent overwrite-by-batch-id discipline; for the fixture-scale test
    we append.  ``state_partitions`` as in :func:`run_available_now`."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        out = transform(batch_df) if transform is not None else batch_df
        out.write.mode("append").parquet(path)

    child = _harness_session(stream.sparkSession, state_partitions)
    _run_query(
        rebind(stream, child).writeStream.foreachBatch(_write)
        .trigger(availableNow=True),
        lambda q: q.awaitTermination(timeout_s),
    )


# --------------------------------------------------------------------- #
# arbitrary stateful processing                                         #
# --------------------------------------------------------------------- #

def running_user_counters(stream: DataFrame) -> DataFrame:
    """Per-user running (events, value-sum) counters via
    ``applyInPandasWithState`` — the engine's arbitrary-state escape hatch
    when windows/dedup can't express the statefulness.

    Emits one row per user per micro-batch with the post-batch totals; with
    a single AvailableNow batch the output is the final per-user totals
    (what the oracle checks).  Value sums are accumulated in integer cents
    so the result is exactly comparable across engines.
    """
    import pandas as pd  # noqa: PLC0415 — worker-side import
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state) -> "pd.DataFrame":
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(round(pdf["value"].sum() * 100))
        state.update((n, cents))
        return iter(
            [pd.DataFrame(
                {"user_id": [key[0]], "n": [n], "value_sum": [cents / 100.0]}
            )]
        )

    return (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id bigint, n bigint, value_sum double",
            stateStructType="n bigint, cents bigint",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def cascade_agg(
    stream: DataFrame,
    *,
    small: str = "1 hour",
    large: str = "1 day",
    watermark: str = "2 hours",
    keys: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Chained stateful window-on-window rollup in ONE streaming query
    (Spark's multiple-stateful-operators support): small tumbling
    windows aggregate first, their finalized partials re-aggregate into
    large windows via ``window(window_time(w), large)`` — the streaming
    twin of the batch hourly→daily cascade (operators/timeseries.py).

    Why it matters at scale: the large-window state holds one row per
    (small-window, keys) partial instead of one per event — a day of
    state per key is 24 rows, not millions of events — and the small
    windows drop out of the store as the watermark passes them.  Value
    sums stay in exact integer units across BOTH stateful stages (the
    associativity requirement: double partials would re-order), divided
    once at emission.

    Emission contract (append mode, the only mode chained stateful
    aggregation supports): a large window emits when the final
    watermark passes its end, so the drained result equals the batch
    GROUP BY restricted to ``large_end <= max(ts) - watermark`` — the
    differential oracle used by the correctness harness.
    """
    small_agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", small).alias("w"), *keys)
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.sum(
                F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            ).alias("__units"),
        )
    )
    return (
        small_agg.groupBy(
            F.window(F.window_time("w"), large).alias("d"), *keys
        )
        .agg(
            F.sum("__cnt").alias("cnt"),
            (F.sum("__units") / F.lit(100.0)).alias("value_sum"),
        )
        .select(F.col("d.start").alias("w_start"), *keys, "cnt", "value_sum")
    )


def _drain(q, is_drained, timeout_s: float, poll_s: float) -> None:
    """Poll ``q`` until ``is_drained(last_source_progress)`` holds on a
    batch that processed 0 rows, or ``timeout_s`` passes.  Offsets arrive
    as JSON-ish strings OR dicts depending on the source, so a string
    ``endOffset`` is parsed before the predicate sees the dict."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        time.sleep(poll_s)
        if q.exception():
            raise q.exception()
        p = q.lastProgress
        if not p or not p.get("sources"):
            continue
        src = dict(p["sources"][0])
        eo = src.get("endOffset")
        if isinstance(eo, str):
            try:
                src["endOffset"] = ast.literal_eval(eo)
            except (ValueError, SyntaxError):
                pass
        if is_drained(src) and p.get("numInputRows", -1) == 0:
            return


# The drain predicate needs a PROGRESS EVENT for the final empty batch,
# but Spark throttles no-data progress reporting to one event per 10 s
# (noDataProgressEventInterval) — measured as a flat 10 s observability
# stall after the source was already exhausted.  Drain queries start in a
# clone that reports promptly.
_PROMPT_NODATA = {"spark.sql.streaming.noDataProgressEventInterval": "100ms"}


def run_until_offset(
    result: DataFrame,
    is_drained,
    output_mode: str = "complete",
    timeout_s: int = 120,
    poll_s: float = 0.3,
) -> DataFrame:
    """Drain a CONTINUOUS streaming ``result`` (processing-time trigger)
    until ``is_drained(last_source_progress)`` says the source is
    exhausted, then stop and return the in-memory sink.

    Exists for sources Trigger.AvailableNow cannot fully drain: a
    Python DataSource stream reports offsets one prefetched batch at a
    time, so AvailableNow stops after the single batch known at start.
    Polling ``lastProgress`` until the source's endOffset reaches its
    terminal value (and a batch processed 0 rows) is the general drain
    loop; offsets arrive as JSON-ish strings OR dicts depending on the
    source, so the predicate receives the raw progress dict and
    decides.
    """
    spark = result.sparkSession
    child = _harness_session(spark, 4, **_PROMPT_NODATA)
    name = _unique_name("dpp_mem")
    _run_query(
        rebind(result, child).writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(processingTime="50 milliseconds"),
        lambda q: _drain(q, is_drained, timeout_s, poll_s),
    )
    return rebind(child.table(name), spark)


def drain_to_sink(
    result: DataFrame,
    fmt: str,
    options: dict,
    is_drained,
    output_mode: str = "append",
    timeout_s: int = 120,
    poll_s: float = 0.3,
) -> None:
    """``run_until_offset``'s sibling for EXTERNAL sinks: drain the
    stream into ``writeStream.format(fmt)`` (e.g. a custom Python
    DataSourceStreamWriter) instead of the in-memory table, with the
    same offset-predicate drain loop and prompt no-data progress
    reporting.  Returns nothing — the sink's files ARE the output."""
    child = _harness_session(result.sparkSession, 4, **_PROMPT_NODATA)
    _run_query(
        rebind(result, child).writeStream.format(fmt)
        .options(**options)
        .outputMode(output_mode)
        .trigger(processingTime="50 milliseconds"),
        lambda q: _drain(q, is_drained, timeout_s, poll_s),
    )
