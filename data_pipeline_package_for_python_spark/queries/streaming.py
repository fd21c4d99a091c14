"""SURVEY §2.2.9 — streaming query catalog.

Each entry runs a REAL Structured Streaming job (file source staged from the
fixture, Trigger.AvailableNow, in-memory sink) and returns the drained sink
as a batch DataFrame; the oracle is the batch-equivalent DuckDB SQL over the
same events table.  This is the strongest check streaming admits: the
incremental, stateful execution must converge to exactly the batch answer.

The reference has no streaming (SURVEY §2.1 "does NOT implement") — this
catalog exists per the engine north star.  Watermark late-drop semantics are
micro-batch-order dependent and therefore live in tests/test_streaming.py
rather than here (a SQL oracle cannot express arrival order).

Determinism notes:
- window starts are epoch-aligned -> expressed in DuckDB as date_trunc /
  epoch bucketing;
- session starts are emitted as ``unix_micros`` (both engines hold µs);
- value sums go through the registry's exact-decimal helpers (`dsum`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming import (
    prepare_events_stream_dir,
    cascade_agg,
    read_events_stream,
    run_available_now,
    running_user_counters,
    session_agg,
    sliding_agg,
    stateful_dedup,
    stream_static_join,
    stream_stream_interval_join,
    tumbling_agg,
)
from ..operators._util import scratch_dir
from ._registry import dsum, load, query


def _stream(spark: SparkSession, sf_dir: str, **kw) -> DataFrame:
    path = prepare_events_stream_dir(spark, sf_dir)
    return read_events_stream(spark, path, **kw)


@query(
    "stream_tumbling_counts",
    oracle="""
    SELECT date_trunc('hour', ts) AS w_start,
           event_type,
           count(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows, keyed by event_type.

    1-hour epoch-aligned tumbling windows == date_trunc('hour') buckets, so
    the incremental answer is hash-identical to the batch GROUP BY.
    """
    agg = tumbling_agg(
        _stream(spark, sf_dir),
        duration="1 hour",
        watermark="2 hours",
        aggs={"cnt": F.count("*"), "value_sum": dsum("value")},
    )
    # complete mode so trailing windows (whose end the final watermark never
    # passes) are emitted too — append mode would hold them in state forever
    return run_available_now(agg, output_mode="complete")


@query(
    "stream_sliding_counts",
    oracle="""
    WITH b AS (
      -- make_timestamp(µs) keeps the bucket a naive TIMESTAMP (to_timestamp
      -- would return TIMESTAMPTZ and hash differently than Spark's output)
      SELECT make_timestamp(CAST(floor(epoch(ts) / 1800) AS BIGINT)
                            * 1800 * 1000000) AS s30, event_type
      FROM events
    ), w AS (
      SELECT s30 AS w_start, event_type FROM b
      UNION ALL
      SELECT s30 - INTERVAL 30 MINUTE AS w_start, event_type FROM b
    )
    SELECT w_start, event_type, count(*) AS cnt
    FROM w GROUP BY 1, 2
    """,
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h length, 30 min slide): every event belongs to
    exactly two windows; the oracle materializes both membership copies."""
    agg = sliding_agg(
        _stream(spark, sf_dir),
        duration="1 hour",
        slide="30 minutes",
        watermark="2 hours",
        aggs={"cnt": F.count("*")},
    )
    return run_available_now(agg, output_mode="complete")


@query(
    "stream_session_windows",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
      FROM events
    ), m AS (
      SELECT *, CASE WHEN pts IS NULL OR ts >= pts + INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS new_s
      FROM o
    ), s AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM m
    )
    SELECT user_id, epoch_us(min(ts)) AS session_start_us, count(*) AS cnt
    FROM s GROUP BY user_id, sid
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (30 min) per user via F.session_window;
    oracle is the classic lag + cumulative-sum batch sessionization."""
    agg = session_agg(_stream(spark, sf_dir), gap="30 minutes")
    return run_available_now(agg, output_mode="complete")


@query(
    "stream_dedup",
    oracle="""
    SELECT event_type, count(*) AS cnt
    FROM events GROUP BY event_type
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup: the stream unioned with itself (every
    event_id arrives twice) must collapse back to exactly the batch counts."""
    s = _stream(spark, sf_dir)
    doubled = s.unionByName(s)
    deduped = stateful_dedup(doubled, keys=("event_id",), watermark="24 hours")
    out = run_available_now(deduped, output_mode="append")
    return out.groupBy("event_type").agg(F.count("*").alias("cnt"))


@query(
    "stream_static_join_enrich",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment, count(*) AS cnt
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def stream_static_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming events enriched against the static customer dim; the small
    static side is broadcast per micro-batch (no shuffle of the stream)."""
    customer = F.broadcast(
        load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    joined = stream_static_join(
        _stream(spark, sf_dir),
        customer,
        on=F.col("user_id") == F.col("c_custkey"),
    )
    out = run_available_now(joined, output_mode="append")
    return out.groupBy(
        F.col("c_mktsegment").alias("mktsegment")
    ).agg(F.count("*").alias("cnt"))


@query(
    "stream_stream_join",
    oracle="""
    SELECT a.event_id AS view_id, b.event_id AS purchase_id,
           a.user_id AS user_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 24 HOUR
    WHERE a.event_type = 'view' AND b.event_type = 'purchase'
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: purchases within 24 h of a view by
    the same user, both sides live streams replayed in 4 event-time-
    ordered micro-batches (maxFilesPerTrigger=1) so matches genuinely
    span join-state across batches.  Watermark (2 days) > interval
    (24 h) + in-order file replay ⇒ no state eviction can lose a
    match, and the incremental answer equals the batch join — which is
    exactly what the oracle asserts.  Output keeps only int columns
    (raw ts is ns in the fixture, µs in the stream; boundary safety at
    both ends was verified to >2 µs margins)."""
    views = _stream(spark, sf_dir, max_files_per_trigger=1).filter(
        F.col("event_type") == "view"
    ).select(
        F.col("event_id").alias("view_id"), "user_id", "ts"
    )
    purchases = _stream(spark, sf_dir, max_files_per_trigger=1).filter(
        F.col("event_type") == "purchase"
    ).select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("r_ts"),
    )
    joined = stream_stream_interval_join(
        views, purchases,
        on="user_id", time_col="ts", right_time="r_ts",
        within="24 hours", watermark="2 days",
    )
    out = run_available_now(joined, output_mode="append")
    return out.select("view_id", "purchase_id", "user_id")


@query(
    "stream_stream_left_join",
    oracle="""
    SELECT a.event_id AS view_id, b.event_id AS purchase_id,
           a.user_id AS user_id
    FROM (SELECT * FROM events
          WHERE event_type = 'view'
            AND ts < TIMESTAMP '2024-01-24') a
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 24 HOUR
    """,
)
def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every view emits, with
    NULL purchase columns when no purchase followed within 24 h.

    The outer semantics are the hard part: Spark may only emit a null-
    extended row once the watermark PROVES no future purchase can still
    match (watermark > view.ts + 24 h), so the left side is restricted
    to views whose join window closes before the stream's final
    watermark (max event time − 2 d delay, minus margin).  Views past
    that horizon are still buffered when the replay ends — they belong
    to no batch-equivalent answer yet — and the oracle applies the
    identical horizon, making the incremental result equal the batch
    LEFT JOIN exactly.

    The horizon must be applied to the DRAINED OUTPUT, not the input
    stream: filtering the input would also cap the left watermark
    clock at the horizon (watermark = max seen − delay), pushing the
    'provably closed' frontier 2 days earlier and silently holding
    back the last days' nulls — the first implementation did exactly
    that and lost 15 of 154 rows."""
    views = _stream(spark, sf_dir, max_files_per_trigger=1).filter(
        F.col("event_type") == "view"
    ).select(
        F.col("event_id").alias("view_id"), "user_id", "ts"
    )
    purchases = _stream(spark, sf_dir, max_files_per_trigger=1).filter(
        F.col("event_type") == "purchase"
    ).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("r_user_id"),
        F.col("ts").alias("r_ts"),
    )
    # The generic helper drops the right copy of the shared key, which
    # is wrong for leftOuter (the null-extended right key must stay
    # distinguishable), so the condition is built on pre-renamed names.
    l = views.withWatermark("ts", "2 days")
    r = purchases.withWatermark("r_ts", "2 days")
    cond = (
        (l["user_id"] == r["r_user_id"])
        & (r["r_ts"] >= l["ts"])
        & (r["r_ts"] <= l["ts"] + F.expr("INTERVAL 24 HOURS"))
    )
    out = run_available_now(
        l.join(r, cond, "leftOuter"), output_mode="append"
    )
    return out.filter(
        F.col("ts") < F.lit("2024-01-24").cast("timestamp")
    ).select("view_id", "purchase_id", "user_id")


@query(
    "stream_foreach_batch_sink",
    oracle="""
    SELECT event_type, count(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
    FROM events WHERE value > 100 GROUP BY event_type
    """,
)
def stream_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch parquet sink: filtered stream lands as parquet batch
    writes; re-reading the sink must equal the batch pipeline's answer."""
    from ..streaming import foreach_batch_parquet

    out_dir = scratch_dir("dpp_fb_sink_")
    foreach_batch_parquet(
        _stream(spark, sf_dir).filter(F.col("value") > 100),
        out_dir,
    )
    return (
        spark.read.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
        )
        .parquet(out_dir)
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"), dsum("value").alias("value_sum"))
    )


@query(
    "stream_running_counters",
    oracle="""
    SELECT user_id, count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
    FROM events GROUP BY user_id
    """,
)
def stream_running_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful processing (applyInPandasWithState): per-user
    running counters; a single AvailableNow batch emits the final totals,
    which must equal the batch GROUP BY."""
    counters = running_user_counters(_stream(spark, sf_dir))
    return run_available_now(counters, output_mode="append")


@query(
    "stream_quantile_histogram",
    oracle="""
    SELECT make_timestamp((epoch_us(ts) // 21600000000) * 21600000000)
               AS w_start,
           CAST(FLOOR(value * 100) AS BIGINT) // 5000 AS bin,
           count(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def stream_quantile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable histogram as a STREAMING aggregate: 6-hour tumbling
    windows × integer value bins — per-group state is one counter, so
    the quantile sketch of operators/timeseries.py histogram_rollup
    maintains incrementally under watermarked eviction, and the
    converged stream state hash-equals the batch histogram.  This is
    the streaming leg of the cascade story: window histograms merge to
    any coarser grain downstream without re-reading the stream."""
    s = _stream(spark, sf_dir).withColumn(
        "bin",
        (F.floor(F.col("value") * 100).cast("long") / F.lit(5000)).cast(
            "long"
        ),
    )
    agg = tumbling_agg(
        s,
        duration="6 hours",
        watermark="2 hours",
        keys=("bin",),
        aggs={"n": F.count("*")},
    )
    return run_available_now(agg, output_mode="complete")


@query(
    "stream_window_cascade",
    oracle="""
    WITH wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS wm FROM events)
    SELECT date_trunc('day', ts) AS w_start,
           event_type,
           count(*) AS cnt,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               / 100.0 AS value_sum
    FROM events, wm
    WHERE date_trunc('day', ts) + INTERVAL 1 DAY <= wm
    GROUP BY 1, 2
    """,
)
def stream_window_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained stateful aggregation (Spark multiple-stateful-operators):
    hourly tumbling windows re-aggregated into daily windows inside ONE
    streaming query via window(window_time(w), '1 day'), exact integer
    units across both stages (streaming/__init__.py cascade_agg).
    Append-mode emission == batch GROUP BY restricted to
    day_end <= max(ts) - watermark, which is the oracle."""
    casc = cascade_agg(_stream(spark, sf_dir))
    return run_available_now(casc, output_mode="append")


@query(
    "stream_stream_full_join",
    oracle="""
    SELECT a.event_id AS view_id, b.event_id AS purchase_id,
           COALESCE(a.user_id, b.user_id) AS user_id
    FROM (SELECT * FROM events WHERE event_type = 'view') a
    FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 24 HOUR
    WHERE (a.ts IS NOT NULL AND a.ts < TIMESTAMP '2024-01-24')
       OR (a.ts IS NULL AND b.ts < TIMESTAMP '2024-01-24')
    """,
)
def stream_stream_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join: matches emit eagerly,
    unmatched views null-extend once the watermark passes
    ``view.ts + 24 h``, unmatched purchases once it passes their own
    event time (no earlier-timed view can still arrive).  Both
    null-emission frontiers trail the final watermark, so the
    batch-equivalence horizon applies PER SIDE on the drained OUTPUT
    (left-bearing rows by view ts, right-only rows by purchase ts) —
    never on the inputs, which would drag the watermark clock itself
    backwards (see stream_stream_left_join's history note)."""
    views = _stream(spark, sf_dir, max_files_per_trigger=1).filter(
        F.col("event_type") == "view"
    ).select(F.col("event_id").alias("view_id"), "user_id", "ts")
    purchases = _stream(spark, sf_dir, max_files_per_trigger=1).filter(
        F.col("event_type") == "purchase"
    ).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("r_user_id"),
        F.col("ts").alias("r_ts"),
    )
    l = views.withWatermark("ts", "2 days")
    r = purchases.withWatermark("r_ts", "2 days")
    cond = (
        (l["user_id"] == r["r_user_id"])
        & (r["r_ts"] >= l["ts"])
        & (r["r_ts"] <= l["ts"] + F.expr("INTERVAL 24 HOURS"))
    )
    out = run_available_now(
        l.join(r, cond, "fullOuter"), output_mode="append"
    )
    horizon = F.lit("2024-01-24").cast("timestamp")
    return out.filter(
        (F.col("ts").isNotNull() & (F.col("ts") < horizon))
        | (F.col("ts").isNull() & (F.col("r_ts") < horizon))
    ).select(
        "view_id",
        "purchase_id",
        F.coalesce(F.col("user_id"), F.col("r_user_id")).alias("user_id"),
    )


@query(
    "stream_python_datasource",
    oracle="""
    WITH src AS (
      SELECT i AS id, i % 8 AS bucket,
             (i * 2654435761) % 1000000007 AS val
      FROM generate_series(0, 1233) g(i)
    )
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(val) AS BIGINT) AS val_sum
    FROM src GROUP BY bucket
    """,
)
def stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING source through the Python DataSource API
    (Spark 4 SimpleDataSourceStreamReader): the deterministic synthetic
    table arrives as offset-tracked 100-row micro-batches; offsets are
    the exactly-once state (any committed offset replays
    idempotently because rows are a pure function of the row index).
    Drained by the continuous-trigger loop (run_until_offset) because
    AvailableNow only sees the one prefetched batch of a Python stream;
    the aggregate equals the closed-formula batch GROUP BY — which is
    the oracle (sources/pyds.py)."""
    from ..sources.pyds import register_synth_stream
    from ..streaming import run_until_offset

    register_synth_stream(spark)
    # 1234 rows in 300-row slices -> 5 micro-batches: enough to prove
    # multi-batch offset tracking (incl. a short final batch) while
    # each Python-source micro-batch costs ~1.5 s of worker round-trip
    # — 100-row slices spent 13 batches (~20 s) proving the same thing.
    s = (
        spark.readStream.format("synthstream")
        .option("n", 1234).option("batch_rows", 300).option("buckets", 8)
        .load()
    )
    agg = s.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("val").alias("val_sum")
    )
    return run_until_offset(
        agg,
        lambda src: isinstance(src.get("endOffset"), dict)
        and src["endOffset"].get("i") == 1234,
        output_mode="complete",
    )


@query(
    "stream_python_datasource_sink",
    oracle="""
    WITH src AS (
      SELECT i AS id, i % 8 AS bucket,
             (i * 2654435761) % 1000000007 AS val
      FROM generate_series(0, 933) g(i)
    )
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(val) AS BIGINT) AS val_sum
    FROM src GROUP BY bucket
    """,
)
def stream_python_datasource_sink(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Custom streaming SINK through the Python DataSource API (Spark
    4 DataSourceStreamWriter): the synthetic stream drains through the
    jsonl stream sink — per-epoch two-phase commit (task files rename
    only in ``commit(messages, batchId)``, abort removes them), batch
    ids stamped into file names so a recovered epoch overwrites itself
    idempotently.  The files are then read BACK and aggregated; the
    closed-formula oracle checks the round-trip, completing the custom
    source/sink matrix (batch read + write, stream read + write — all
    pure Python, no JVM code)."""
    from ..sources.pyds import (
        register_jsonl_stream_sink,
        register_synth_stream,
    )
    from ..streaming import drain_to_sink

    register_synth_stream(spark)
    register_jsonl_stream_sink(spark)
    path = scratch_dir("dpp_streamsink_") + "/out"
    s = (
        spark.readStream.format("synthstream")
        .option("n", 934).option("batch_rows", 300).option("buckets", 8)
        .load()
    )
    drain_to_sink(
        s,
        "dpp_jsonl_stream",
        {"path": path},
        lambda src: isinstance(src.get("endOffset"), dict)
        and src["endOffset"].get("i") == 934,
    )
    # a pathGlobFilter, not a "/*.jsonl" path glob: on a glob Spark's
    # FileStreamSink metadata probe logs a FileNotFoundException at WARN
    back = (
        spark.read.schema("bucket bigint, id bigint, val bigint")
        .option("pathGlobFilter", "*.jsonl")
        .json(path)
    )
    return back.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("val").alias("val_sum")
    )


@query(
    "stream_scd2_enrich",
    oracle="""
    WITH dim AS (
      SELECT c_custkey, c_mktsegment AS segment,
             TIMESTAMP '1970-01-01' AS valid_from,
             TIMESTAMP '2024-01-15' AS valid_to
      FROM customer
      UNION ALL
      SELECT c_custkey,
             CASE WHEN c_custkey % 3 = 0 THEN 'MOVED'
                  ELSE c_mktsegment END,
             TIMESTAMP '2024-01-15', TIMESTAMP '2100-01-01'
      FROM customer
    )
    SELECT d.segment, CAST(count(*) AS BIGINT) AS cnt
    FROM events e JOIN dim d
      ON e.user_id = d.c_custkey
     AND e.ts >= d.valid_from AND e.ts < d.valid_to
    GROUP BY d.segment
    """,
)
def stream_scd2_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming enrichment with POINT-IN-TIME correctness against an
    SCD-2 dimension: each event joins the dim version valid AT ITS
    EVENT TIME (half-open [valid_from, valid_to) containment as a
    residual on the broadcast key join), not the current version —
    the temporal-correctness upgrade over stream_static_join_enrich
    that prevents enrichment time-travel when dimensions change
    mid-stream.  The dim here is a two-version history split at
    2024-01-15 (segment 'MOVED' for every third customer); events
    before/after the split resolve to different versions, which the
    batch twin asserts.  Broadcast per micro-batch, no stream-side
    state, no shuffle of the stream."""
    base = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    v1 = base.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit("1970-01-01").cast("timestamp").alias("valid_from"),
        F.lit("2024-01-15").cast("timestamp").alias("valid_to"),
    )
    v2 = base.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 3 == 0, F.lit("MOVED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
        F.lit("2024-01-15").cast("timestamp").alias("valid_from"),
        F.lit("2100-01-01").cast("timestamp").alias("valid_to"),
    )
    dim = F.broadcast(v1.unionByName(v2))
    joined = stream_static_join(
        _stream(spark, sf_dir),
        dim,
        on=(F.col("user_id") == F.col("c_custkey"))
        & (F.col("ts") >= F.col("valid_from"))
        & (F.col("ts") < F.col("valid_to")),
    )
    out = run_available_now(joined, output_mode="append")
    return out.groupBy("segment").agg(F.count("*").alias("cnt"))


@query(
    "stream_session_dynamic_gap",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS t,
             CASE WHEN event_type = 'purchase'
                  THEN 3600000000 ELSE 1800000000 END AS gap_us
      FROM events
    ),
    f AS (
      SELECT user_id, t, gap_us,
             CASE WHEN t >= COALESCE(max(t + gap_us) OVER (
               PARTITION BY user_id ORDER BY t, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), -1) THEN 1 ELSE 0 END AS new_s
      FROM e
    ),
    s AS (
      SELECT user_id, t,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM f
    )
    SELECT user_id, CAST(min(t) AS BIGINT) AS session_start_us,
           count(*) AS cnt
    FROM s GROUP BY user_id, sid
    """,
)
def stream_session_dynamic_gap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DYNAMIC-gap session windows — Spark's per-event gap form of
    ``session_window``: purchases hold the session open for 60 minutes,
    other events for 30, so a purchase near the end of a browse
    session keeps it alive where the static gap would split it (the
    'checkout grace period' every commerce funnel wants).  Session
    merge semantics are interval coalescing: an event starts a new
    session iff its time reaches the running MAX of earlier events'
    (ts + per-event gap) — exactly what the batch oracle replays with
    one window.  State is watermark-bounded as with static sessions."""
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("60 minutes")
    ).otherwise(F.lit("30 minutes"))
    agg = session_agg(_stream(spark, sf_dir), gap=gap)
    return run_available_now(agg, output_mode="complete")
