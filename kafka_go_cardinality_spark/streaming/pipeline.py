"""[CORE] Structured Streaming pipeline — the reference's native mode.

The reference is a 3-stage streaming program (receive → process → send,
``/root/reference/main.go:22-27``).  This module re-expresses each stage as
Structured Streaming:

- C1  Kafka source scan (kafkaio.go:59-86)        → ``kafka_user_source``
- C2  JSON deserialize + projection (kafkaio.go:76-81) → ``parse_user_events``
- C3  malformed-record skip (kafkaio.go:77-81)    → ``parse_user_events``
- C4  1→5 grain fan-out (processor.go:60-75)      → one query per grain over
      a shared source (Spark multiplexes at the source, not per message)
- C5-C7 window assignment + HLL + flush (processor.go:36-53, 79-102)
      → ``stream_cardinality`` (watermark-driven emission replaces the
      reference's data-driven flush; divergences documented in SURVEY.md §2.4)
- C8  StatMsg projection (processor.go:90-94)     → ``stream_cardinality``
- C9  JSON serialize + Kafka sink (kafkaio.go:88-105) → ``to_stat_json`` +
      ``kafka_stats_sink``
- C10 env config resolution (kafkaio.go:13-39)    → ``kafka_config``
- C11 graceful shutdown (main.go:14, kafkaio.go:41-57) → ``stop_gracefully``
- C12 synthetic benchmark generator (processor_test.go:31-41)
      → ``synthetic_wire_frame`` (deterministic port, fixture not engine)

Broker-free replay: ``file_user_source`` reads JSONL files with the *same*
wire schema as the Kafka ``value`` column, so every downstream stage is
identical whether fed by Kafka or by files.  ``Trigger.AvailableNow`` over a
retained topic/file dump is exactly the reference's restart story
("stateless; re-run over the topic", README.md:5).

Scale notes (100 TB / 1000 executors):

- Kafka partitions map 1:1 to source tasks; unlike the reference (which
  pins to partition 0, kafkaio.go:29-32) consumption parallelizes.
- The only shuffle per grain is the windowed aggregation; partial HLL
  sketches (DataSketches, sparse below promotion) merge map-side, so the
  exchange carries at most ~16 KiB per (window) group — not uids.
- Streaming state is one HLL sketch per open window per grain — bounded by
  watermark retention, not by input size.  The exact-twin path
  (``stream_exact_cardinality``) instead keeps one state row per
  (uid, window): correct, oracle-checkable, and intentionally NOT the
  scale path.
- State partitions: a durable sink (``kafka_stats_sink``) freezes its
  state partition count in its checkpoint at the session's
  ``spark.sql.shuffle.partitions`` — size that for the largest cluster
  that will ever resume it.  A replay (``replay_to_memory``) has an
  ephemeral checkpoint, so it caps the count at the cores that run it:
  every state partition is loaded and committed every micro-batch, and
  partitions beyond the cores only add that fixed cost.
- Each wire line is parsed once (``json_fields``): a filter on a parsed
  struct is pushed below its projection and re-parses the line per field.
- A replay also lifts ``ObjectHashAggregate``'s sort-fallback threshold
  to 16384 groups per task (at most 256 MiB of dense lg_k=14 sketches)
  and writes its checkpoint through Hadoop FileSystem renames, which fork
  no process.  Both are replay-scoped: a durable sink keeps Spark's
  ``FileContext`` checkpoint manager and the session's aggregate
  threshold (see replay_to_memory).
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import LongType, StringType, StructField, StructType

from kafka_go_cardinality_spark.operators.cardinality import (
    GRAINS,
    REFERENCE_LG_K,
)


def _hll_value(col: str = "uid") -> Column:
    """DataSketches HLL estimate at the reference's register count
    (lg_k=14, processor.go:80).  Works on streaming frames: the sketch is
    the aggregation state the state store carries per open window, sparse
    until register promotion — a near-empty window costs tens of bytes,
    not HLL++'s ~21 KiB dense buffer."""
    return F.hll_sketch_estimate(
        F.hll_sketch_agg(F.col(col), F.lit(REFERENCE_LG_K))
    ).alias("value")

# Wire schema of one Kafka message value (processor.go:13-16): unknown JSON
# fields are dropped by the schema itself, matching jsoniter's behavior.
USER_MSG_SCHEMA = StructType(
    [StructField("uid", StringType()), StructField("ts", LongType())]
)

# Grains expressible as fixed-duration stream windows; calendar month/year
# need date_trunc keys (Spark's window() rejects month durations) and are
# emitted in update/complete mode — see stream_cardinality docstring.
FIXED_DURATION = {"minute": "1 minute", "day": "1 day", "week": "1 week"}


def kafka_config() -> dict[str, str]:
    """[CORE C10] Env-var config with the reference's defaults
    (kafkaio.go:13-39, README.md:19-22)."""
    return {
        "broker": os.environ.get("KAFKA_BROKER", "localhost:9092"),
        "users_topic": os.environ.get("USERS_TOPIC", "users"),
        "stats_topic": os.environ.get("STATS_TOPIC", "stats"),
    }


def kafka_user_source(
    spark: SparkSession,
    broker: str | None = None,
    topic: str | None = None,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """[CORE C1] Kafka source (kafkaio.go:59-86).  Yields the raw frame with
    a binary ``value`` column; one source task per Kafka partition (the
    reference reads partition 0 only — any partitioned topic is already a
    scale-out win, SURVEY.md §7.4)."""
    cfg = kafka_config()
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", broker or cfg["broker"])
        .option("subscribe", topic or cfg["users_topic"])
        .option("startingOffsets", starting_offsets)
        .load()
    )


def file_user_source(spark: SparkSession, path: str) -> DataFrame:
    """Broker-free replay source: JSONL files, one wire message per line.
    Produces the same single ``value`` column as the Kafka frame so the
    parse stage is source-agnostic (mirrors the reference's
    console-producer replay, README.md:24-36)."""
    return spark.readStream.text(path)


def json_fields(value: Column, schema: StructType) -> Column:
    """A generator over ``value`` parsed ONCE by ``from_json``: one output
    row per input row, the schema's fields as top-level columns (all NULL
    where PERMISSIVE parsing fails).  Use it as the only column of a
    ``select`` and filter on its output columns.

    The plain form — ``select(from_json(...).alias("m"))`` then a filter on
    ``m.field`` — parses each line several times: Catalyst pushes the
    filter below the projection and prunes each copy of ``from_json`` to a
    different schema, so subexpression elimination cannot merge them
    (four parses per line in ``parse_user_events``).  A filter cannot be
    pushed below a ``Generate`` whose output it reads, so the one-element
    ``inline`` keeps the executed plan at one ``from_json`` per line and
    returns the same rows."""
    return F.inline(F.array(F.from_json(value, schema)))


def parse_user_events(raw: DataFrame) -> DataFrame:
    """[CORE C2+C3] Wire bytes → typed events.

    ``from_json`` in PERMISSIVE mode yields NULL fields on malformed
    input; the filter is the reference's log-and-continue skip
    (kafkaio.go:77-81).  Each line is parsed once (``json_fields``): the
    parse was the replay's largest allocator, about half of the bytes a
    60k-line 5-grain replay allocates, when the pushed-down filter made
    it run four times per line.  ``ts`` is Unix *seconds* (processor.go:45)
    → proper TimestampType at the source boundary, never downstream
    (SURVEY.md §7.3).
    """
    return (
        raw.select(json_fields(F.col("value").cast("string"), USER_MSG_SCHEMA))
        .filter(F.col("uid").isNotNull() & F.col("ts").isNotNull())
        .select("uid", F.timestamp_seconds("ts").alias("ts"))
    )


def _stat_projection(window_start: Column, grain: str, value: Column) -> list[Column]:
    """[CORE C8] StatMsg envelope {type, timestamp=window start epoch-seconds,
    value} (processor.go:18-22, 90-94)."""
    return [
        F.lit(f"{grain}_count").alias("type"),
        window_start.cast("long").alias("timestamp"),
        value.alias("value"),
    ]


def stream_cardinality(
    events: DataFrame,
    grain: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """[CORE C5-C8] Per-grain approximate distinct-uid count over event-time
    windows — the reference's whole computation (processor.go:79-102), with
    watermark-driven emission instead of its data-driven flush.

    minute/day/week use ``window()`` → append-mode capable (a window emits
    once, when the watermark passes its end — the well-defined version of
    the reference's flush-on-first-late-event).  month/year use calendar
    ``date_trunc`` keys, which Spark cannot treat as event-time windows →
    run those in update/complete mode (their output cardinality is tiny, so
    complete-mode state is a handful of rows even at 100 TB).
    """
    if grain not in GRAINS:
        raise ValueError(f"unknown grain {grain!r}; expected one of {GRAINS}")
    agg = _hll_value("uid")
    wm = events.withWatermark("ts", watermark)
    if grain in FIXED_DURATION:
        grouped = wm.groupBy(F.window("ts", FIXED_DURATION[grain])).agg(agg)
        return grouped.select(
            *_stat_projection(F.unix_timestamp("window.start"), grain, F.col("value"))
        )
    grouped = wm.groupBy(F.date_trunc(grain, "ts").alias("wstart")).agg(agg)
    return grouped.select(
        *_stat_projection(F.unix_timestamp("wstart"), grain, F.col("value"))
    )


def stream_exact_cardinality(
    events: DataFrame, grain: str, watermark: str = "10 minutes"
) -> DataFrame:
    """Exact streaming twin: distinct aggregations are unsupported on
    streams, so exactness comes from streaming dedup — ``dropDuplicates``
    on (uid, window start) keeps one state row per pair, then a plain
    ``count(*)`` per window is exactly ``count(distinct uid)``.

    Oracle-checkable (unlike any sketch), at the price of state linear in
    distinct pairs — the approx twin remains the 100 TB path.
    """
    if grain not in GRAINS:
        raise ValueError(f"unknown grain {grain!r}; expected one of {GRAINS}")
    keyed = (
        events.withWatermark("ts", watermark)
        .select("uid", "ts", F.date_trunc(grain, "ts").alias("wstart"))
        .dropDuplicates(["uid", "wstart"])
    )
    return (
        keyed.groupBy("wstart")
        .agg(F.count("*").alias("value"))
        .select(*_stat_projection(F.unix_timestamp("wstart"), grain, F.col("value")))
    )


def sliding_cardinality(
    events: DataFrame,
    length: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """[EXT E18] Sliding-window distinct counts — absent from the reference
    (tumbling-ish only, SURVEY.md §2.4); each event lands in
    length/slide overlapping windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", length, slide))
        .agg(_hll_value("uid"))
        .select(
            F.unix_timestamp("window.start").alias("window_start"),
            F.unix_timestamp("window.end").alias("window_end"),
            F.col("value"),
        )
    )


def session_activity(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """[EXT E18] Per-uid session windows (gap-based, data-driven close) —
    the idiomatic version of what the reference's drifting data-driven
    windows (processor.go:89-96) were groping toward."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("uid"))
        .agg(F.count("*").alias("events"))
        .select(
            "uid",
            F.unix_timestamp("session_window.start").alias("session_start"),
            F.unix_timestamp("session_window.end").alias("session_end"),
            F.col("events"),
        )
    )


def to_stat_json(stats: DataFrame) -> DataFrame:
    """[CORE C9] StatMsg → one JSON document per record, keyless
    (kafkaio.go:92-100; keyless → round-robin partitioning).  Field names
    are snake-case by design — SURVEY.md §7.4's documented interface change
    from Go's capitalized defaults."""
    return stats.select(
        F.to_json(F.struct("type", "timestamp", "value")).alias("value")
    )


def kafka_stats_sink(
    stats: DataFrame,
    checkpoint_dir: str,
    broker: str | None = None,
    topic: str | None = None,
    output_mode: str = "append",
) -> DataStreamWriter:
    """[CORE C9] Serialize + Kafka sink (kafkaio.go:88-105).  Returns the
    configured writer; caller ``.start()``s it."""
    cfg = kafka_config()
    return (
        to_stat_json(stats)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", broker or cfg["broker"])
        .option("topic", topic or cfg["stats_topic"])
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
    )


def _ephemeral_checkpoint_dir() -> str:
    """A throwaway checkpoint location on tmpfs when available.

    A replay-to-memory query's checkpoint is pure scratch: the replay is
    re-runnable from the retained wire dump (the reference's stateless
    restart story, README.md:5), and the memory sink's rows live in
    driver memory, so nothing in the checkpoint outlives the query.  On
    disk, the per-micro-batch WAL + state-store commits are BOTH a floor
    cost and the dominant pass-to-pass variance (measured on
    q_stream_session at sf0.1: disk passes 3.0-7.7 s, tmpfs passes
    2.6-3.4 s — the r6 verdict's 1.53x spread was this I/O).  Durable
    pipelines pass a real ``checkpoint_dir`` to ``kafka_stats_sink``;
    this helper is only for the replay harness.

    tmpfs is used only when it has headroom: a host with a small
    /dev/shm would trade the old working disk default for ENOSPC
    mid-replay (r7 advice), so anything under 256 MiB free — WAL +
    state commits for the fixture replays run well under that, and a
    bigger replay should not be on tmpfs anyway — falls back to the
    default temp dir.  ``KGC_CHECKPOINT_SCRATCH`` overrides the scratch
    root outright (any path, tmpfs or not)."""
    import tempfile

    override = os.environ.get("KGC_CHECKPOINT_SCRATCH")
    if override:
        return tempfile.mkdtemp(prefix="kgc_ckpt_", dir=override)
    root = None
    if os.path.isdir("/dev/shm"):
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= 256 * 1024 * 1024:
                root = "/dev/shm"
        except OSError:
            pass
    return tempfile.mkdtemp(prefix="kgc_ckpt_", dir=root)


SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


@contextmanager
def conf_overrides(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set session confs for the body and restore each to its prior value
    (or unset it, if it was unset) on ANY exit — start-time exceptions
    included, so a failed replay never leaks its settings into the
    shared session."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def core_capped_partitions(spark: SparkSession) -> int:
    """A replay's shuffle/state partition count: the session's
    ``spark.sql.shuffle.partitions`` capped at the cores that run it
    (``defaultParallelism``).  Every state partition costs every
    micro-batch a state load, a delta/CRC commit and a task launch;
    partitions beyond the cores add that cost without adding
    parallelism.  Only for EPHEMERAL checkpoints: a durable checkpoint
    freezes its state partition count, so a durable sink keeps the
    session's count to leave room for scale-out."""
    return min(
        int(spark.conf.get(SHUFFLE_PARTITIONS)),
        spark.sparkContext.defaultParallelism,
    )


def replay_to_memory(
    stats: DataFrame,
    table_name: str,
    output_mode: str = "complete",
    timeout_s: float = 300.0,
    no_data_batch: bool = False,
) -> StreamingQuery:
    """Run a streaming result to an in-memory table with
    ``Trigger.AvailableNow`` — the reference's historical-replay mode
    (README.md:5) and the broker-free test harness.  Blocks until all
    available input is processed.  The checkpoint is ephemeral (tmpfs,
    deleted on completion — see _ephemeral_checkpoint_dir).

    ``no_data_batch=False`` (default) skips the trailing NO-DATA
    micro-batch (``spark.sql.streaming.noDataMicroBatches.enabled``)
    for the duration of the replay.  In a run-to-completion replay that
    batch exists only to advance the watermark and evict state that no
    later batch will read — measured 0.45-0.8 s of pure state-reload/
    re-commit per sf0.1 replay, ~25% of each replay's wall — and it
    emits rows ONLY for operators whose OUTPUT is watermark-gated.  No
    current replay is: complete/update-mode aggregations emit their
    full/changed result in the data batch, ``dropDuplicates`` and
    stream-stream INNER joins emit on arrival, and the ref emulator
    uses ``GroupStateTimeout.NoTimeout`` (its flush is data-driven by
    construction).  Every replayed query's rows are pinned unchanged
    by tests/test_streaming.py::test_replays_identical_without_no_data_batch.
    CAVEAT for future replays: an APPEND-mode *windowed aggregation*
    (or any watermark-timeout stateful op) emits its final windows IN
    the no-data batch — such a query must pass ``no_data_batch=True``
    or it will return an empty/truncated frame.

    The replay's shuffle/state partition count is capped at the cores
    that run it, ``min(spark.sql.shuffle.partitions, defaultParallelism)``
    (see core_capped_partitions), for the duration of the replay; a
    lower count the caller already set (the wire-byte rule in
    queries_streaming) still applies.  The cap changes no rows — only
    how many state-store instances each micro-batch loads and commits —
    and it is safe because the checkpoint is deleted on return: nothing
    ever resumes from it with a wider cluster.  Measured on the 5-grain
    replay of a 60k-line wire on 4 cores (32 → 4 instances): state
    commit 2.4 → 0.3 s per batch, 165 → 25 tasks, CPU time halved.

    Two more replay-scoped confs:

    - The checkpoint is written through Spark's
      ``FileSystemBasedCheckpointFileManager`` instead of the
      ``FileContext`` default, whose local-filesystem renames fork a
      ``readlink`` process twice per rename (hundreds per 60k-line
      replay).  FileContext's stricter rename guards against a
      second writer racing on the same checkpoint; this checkpoint is a
      fresh ``mkdtemp`` deleted on return, so there is none, and a POSIX
      rename stays atomic.  ``.crc`` files and checkpoint checksums stay
      on.  Durable sinks (``kafka_stats_sink``) keep the session's
      FileContext manager.
    - ``ObjectHashAggregate`` keeps up to 16384 groups per task in its
      hash map before it falls back to sort mode, instead of 128.  Every
      aggregate task of the 60k-line 5-grain replay had more than 128
      (minute, grain) groups, so every one sorted.  A dense lg_k=14 HLL
      buffer is 16 KiB, which bounds the map at 256 MiB per task, and the
      replay's minute sketches are sparse; above 16384 groups Spark still
      falls back.  One micro-batch of a 30-day wire touches at most about
      8.7k minutes.  The threshold can change the order in which
      partial sketches merge, which moves an estimate only within HLL
      error; no registered replay's rows move at fixture scale.

    All four confs are restored, and the checkpoint removed, on every
    exit — including a query that fails to start and a timeout."""
    spark = stats.sparkSession
    ckpt = _ephemeral_checkpoint_dir()
    confs = {
        "spark.sql.streaming.noDataMicroBatches.enabled": (
            "true" if no_data_batch else "false"
        ),
        SHUFFLE_PARTITIONS: str(core_capped_partitions(spark)),
        "spark.sql.streaming.checkpointFileManagerClass": (
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager"
        ),
        # 16384 groups × a 16 KiB dense lg_k=14 sketch = 256 MiB per task.
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": "16384",
    }
    query = None
    try:
        with conf_overrides(spark, confs):
            query = (
                stats.writeStream.format("memory")
                .queryName(table_name)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            finished = query.awaitTermination(timeout_s)
            if not finished:
                # Timeout with micro-batches still committing: stop the
                # query BEFORE deleting its checkpoint — rmtree under an
                # active query aborts it asynchronously — and RAISE: the
                # memory sink holds partial aggregates at this point, and
                # returning normally would serve them to the caller as the
                # query's complete result.  The sink's table was registered
                # at start(): drop it, so no later read serves those rows.
                query.stop()
                query.awaitTermination(30)
                spark.catalog.dropTempView(table_name)
                raise TimeoutError(
                    f"streaming replay {table_name!r} exceeded {timeout_s}s "
                    "and was stopped; the memory sink is partial and must "
                    "not be read"
                )
    finally:
        import shutil

        if query is None or not query.isActive:
            shutil.rmtree(ckpt, ignore_errors=True)
        # else: leak the scratch dir rather than yank the WAL from a
        # query that survived stop(); the raise above still fires.
    return query


def stop_gracefully(query: StreamingQuery, timeout_s: float = 30.0) -> None:
    """[CORE C11] SIGINT-style graceful stop (main.go:14, kafkaio.go:41-57):
    let in-flight work drain, then stop the query."""
    query.processAllAvailable()
    query.stop()
    query.awaitTermination(timeout_s)


def synthetic_wire_frame(
    spark: SparkSession,
    n: int,
    n_users: int = 100,
    seed: int = 7,
    start_ts: int = 1_600_000_000,
    malformed_every: int | None = None,
) -> DataFrame:
    """[CORE C12] Deterministic port of the reference's benchmark generator
    (processor_test.go:31-41): uid uniform over ``user0..user{n_users-1}``,
    event time advancing by U[0, 3600) seconds per message.  Returns a
    batch frame with a single wire-format ``value`` column, ready to be
    written as JSONL replay input.  ``malformed_every`` corrupts every k-th
    line to exercise the C3 skip path.
    """
    from pyspark.sql import Window

    base = spark.range(n).select(
        F.col("id"),
        F.concat(
            F.lit("user"), (F.rand(seed) * n_users).cast("int").cast("string")
        ).alias("uid"),
        (F.rand(seed + 1) * 3600).cast("long").alias("step"),
    )
    # Cumulative timestamp like the reference's running `ts += rand`.  The
    # unpartitioned running sum is single-task — acceptable for a test
    # fixture (the reference's generator is likewise sequential).
    ts = (
        F.lit(start_ts)
        + F.sum("step").over(Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0))
    ).alias("ts")
    wire = base.select(
        F.col("id"),
        F.to_json(F.struct(F.col("uid"), ts.cast("long").alias("ts"))).alias("value"),
    )
    if malformed_every:
        wire = wire.select(
            F.col("id"),
            F.when(
                F.col("id") % malformed_every == 0, F.substring("value", 1, 4)
            )
            .otherwise(F.col("value"))
            .alias("value"),
        )
    return wire.select("value")


def interval_join_streams(
    views: DataFrame,
    clicks: DataFrame,
    gap_seconds: int = 3600,
    watermark: str = "1 hour",
) -> DataFrame:
    """[E18] Stream-stream interval join: each view pairs with the same
    user's clicks in the following ``gap_seconds``.

    Both sides carry watermarks AND the join condition bounds event time
    in both directions — that pair is what lets Spark expire join state:
    a buffered view can be dropped once the click-side watermark passes
    ``view.ts + gap``, so state is bounded by (rate × gap) instead of
    growing forever.  Without the time bound this join is
    unplannable-at-scale (infinite state) and Spark rejects it in
    append mode.  Inner join: matches emit as soon as both sides are
    buffered; completeness of the replayed result is oracle-checked
    against the equivalent batch join.
    """
    v = views.select(
        F.col("uid").alias("v_uid"), F.col("ts").alias("view_ts")
    ).withWatermark("view_ts", watermark)
    c = clicks.select(
        F.col("uid").alias("c_uid"), F.col("ts").alias("click_ts")
    ).withWatermark("click_ts", watermark)
    return v.join(
        c,
        (F.col("v_uid") == F.col("c_uid"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (
            F.col("click_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {gap_seconds} SECONDS")
        ),
        "inner",
    ).select(
        F.col("v_uid").alias("uid"),
        F.col("view_ts").cast("long").alias("view_ts"),
        F.col("click_ts").cast("long").alias("click_ts"),
    )


def stream_grain_fanout(
    events: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """[CORE C4-C8] The reference's ENTIRE processor as one streaming
    query: every event feeds all five grain aggregators concurrently
    (processor.go:60-75 spawns 5 goroutines per message and joins a
    per-message barrier; here the fan-out is an ``explode`` over grain
    names and the "barrier" is simply that one micro-batch updates all
    grains' state transactionally).

    One shuffle keyed by (grain, window start); state is one sparse HLL
    sketch per open (grain, window) pair, dominated by minutes and
    bounded by watermark retention.  date_trunc handles all five grains
    uniformly (calendar month/year included — ``window()`` can't), which
    constrains the query to update/complete output; the fixed-duration
    grains' append-mode variants exist as the per-grain queries.
    """
    grains_arr = F.array(*[F.lit(g) for g in GRAINS])
    exploded = events.withWatermark("ts", watermark).select(
        F.explode(grains_arr).alias("grain"), "ts", "uid"
    )
    wstart = F.coalesce(
        *[
            F.when(F.col("grain") == g, F.date_trunc(g, "ts"))
            for g in GRAINS
        ]
    )
    return (
        exploded.groupBy(
            F.concat(F.col("grain"), F.lit("_count")).alias("type"),
            wstart.alias("wstart"),
        )
        .agg(_hll_value("uid"))
        .select(
            "type",
            F.unix_timestamp("wstart").cast("long").alias("timestamp"),
            F.col("value"),
        )
    )
