"""Streaming-specific behavior: wire parsing + malformed skip on a live
stream, append-mode watermark finalization, graceful shutdown, and the
deterministic synthetic generator (the port of the reference's benchmark
harness, /root/reference/processor/processor_test.go:20-50).

The five registered q_stream_* queries are covered by the oracle-parity
suite; these tests exercise the paths a batch oracle can't see.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from kafka_go_cardinality_spark.streaming import (
    USER_MSG_SCHEMA,
    file_user_source,
    parse_user_events,
    replay_to_memory,
    stop_gracefully,
    stream_cardinality,
    stream_exact_cardinality,
    synthetic_wire_frame,
    to_stat_json,
)


@pytest.fixture(scope="module")
def wire_dir(spark, tmp_path_factory):
    """2,000 synthetic wire messages, every 50th malformed (C3 path)."""
    path = str(tmp_path_factory.mktemp("wire"))
    synthetic_wire_frame(spark, 2_000, malformed_every=50).coalesce(
        2
    ).write.mode("overwrite").text(path)
    return path


def _replay(spark, df, mode="complete", **kw):
    name = f"t_{uuid.uuid4().hex[:8]}"
    replay_to_memory(df, name, output_mode=mode, **kw)
    return spark.table(name)


def test_generator_deterministic(spark):
    a = synthetic_wire_frame(spark, 500).collect()
    b = synthetic_wire_frame(spark, 500).collect()
    assert a == b
    assert all("uid" in r["value"] and "ts" in r["value"] for r in a)


def test_stream_parse_skips_malformed(spark, wire_dir):
    parsed = parse_user_events(file_user_source(spark, wire_dir))
    counted = _replay(
        spark, parsed.withWatermark("ts", "1 hour").groupBy().count()
    )
    # 2000 lines, ids 0,50,...,1950 corrupted -> 40 dropped.
    assert counted.collect()[0]["count"] == 1_960


def _optimized_plan(df) -> str:
    """The optimized logical plan as ``explain`` prints it (which, unlike
    ``queryExecution().optimizedPlan()``, also works on a stream)."""
    text = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "extended"
    )
    return text.split("== Optimized Logical Plan ==")[1].split("== Physical Plan ==")[0]


def _from_json_calls(df) -> int:
    return _optimized_plan(df).count("from_json(")


def test_wire_parsers_parse_each_line_once(spark, wire_dir, sf_dir, monkeypatch):
    """Every wire parser's optimized plan holds one ``from_json`` per
    scan of the wire.  With a filter on a parsed struct's fields, Catalyst
    pushes the filter below the projection and prunes each copy to a
    different schema, so the line is parsed once per field referenced
    (four times in parse_user_events)."""
    import __spark_entry__ as entry
    from kafka_go_cardinality_spark.streaming import pipeline as pl

    assert _from_json_calls(parse_user_events(file_user_source(spark, wire_dir))) == 1
    assert _from_json_calls(parse_user_events(spark.read.text(wire_dir))) == 1
    qs = entry.queries()
    assert _from_json_calls(qs["q_malformed_filter"](spark, sf_dir)) == 1

    # The stream-stream join reads the wire once per side; capture the
    # built join instead of replaying it.
    class Built(Exception):
        pass

    def capture(stats, *args, **kwargs):
        raise Built(stats)

    monkeypatch.setattr(pl, "replay_to_memory", capture)
    with pytest.raises(Built) as built:
        qs["q_stream_stream_join"](spark, sf_dir)
    joined = built.value.args[0]
    scans = _optimized_plan(joined).count("FileSource[")
    assert scans == 2
    assert _from_json_calls(joined) == scans


# Wire lines whose decoding is easy to get wrong; None is SQL NULL.
EDGE_LINES = [
    '{"uid":"a","ts":1600000000}',
    '{"uid":"b","ts":"1600000000"}',
    '{"uid":"c","ts":1.6e9}',
    '{"uid":"c2","ts":7.5}',
    '{"uid":"d","ts":-5}',
    '{"uid":"e","ts":99999999999999999999999}',
    '{"uid":"f","ts":true}',
    '{"uid":"g","ts":null}',
    '{"uid":7,"ts":1}',
    '{"uid":{"x":1},"ts":1}',
    '{"uid":null,"ts":1}',
    '{"ts":1}',
    '{"uid":"h","ts":2,"extra":{"n":[1,{"m":null}]}}',
    '{"uid":"i","uid":"j","ts":3}',
    '{"UID":"k","ts":4}',
    '{"uid":"l","ts":',
    "",
    "   ",
    "null",
    "[]",
    "42",
    '[{"uid":"m","ts":5}]',
    '[{"uid":"o","ts":8},{"uid":"p","ts":9}]',
    '{"uid":"ñü日本","ts":6}',
    None,
    '{"uid":"q","ts":10}',
]


def test_parse_user_events_matches_struct_filter_parse(spark):
    """The one-parse form returns exactly the rows of the struct-filter
    expression it replaced, on edge-case lines, for a string ``value``
    (file source) and a binary one (Kafka source)."""

    def struct_filter_parse(raw):
        parsed = raw.select(
            F.from_json(F.col("value").cast("string"), USER_MSG_SCHEMA).alias("msg")
        )
        return parsed.filter(
            F.col("msg").isNotNull()
            & F.col("msg.uid").isNotNull()
            & F.col("msg.ts").isNotNull()
        ).select(
            F.col("msg.uid").alias("uid"),
            F.timestamp_seconds(F.col("msg.ts")).alias("ts"),
        )

    text = spark.createDataFrame([(v,) for v in EDGE_LINES], "value string")
    binary = text.select(F.col("value").cast("binary").alias("value"))
    for raw in (text, binary):
        got = sorted(map(tuple, parse_user_events(raw).collect()))
        exp = sorted(map(tuple, struct_filter_parse(raw).collect()))
        assert got == exp
        assert len(got) >= 7


def test_stream_matches_batch_on_same_wire(spark, wire_dir):
    """The streaming day-grain HLL over the file replay must equal the
    identical batch aggregation over the identical parsed rows — HLL merge
    is order- and partitioning-insensitive."""
    streamed = _replay(
        spark,
        stream_cardinality(
            parse_user_events(file_user_source(spark, wire_dir)), "day"
        ),
    )
    batch_raw = spark.read.text(wire_dir)
    batch = (
        batch_raw.select(
            F.from_json(F.col("value"), USER_MSG_SCHEMA).alias("msg")
        )
        .filter(F.col("msg").isNotNull() & F.col("msg.uid").isNotNull())
        .select("msg.uid", F.timestamp_seconds("msg.ts").alias("ts"))
        .groupBy(F.window("ts", "1 day"))
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg(F.col("uid"), F.lit(14))).alias(
                "value"
            )
        )
        .select(
            F.lit("day_count").alias("type"),
            F.unix_timestamp("window.start").alias("timestamp"),
            F.col("value"),
        )
    )
    got = {(r["timestamp"], r["value"]) for r in streamed.collect()}
    exp = {(r["timestamp"], r["value"]) for r in batch.collect()}
    assert got == exp


def test_append_mode_emits_only_watermark_closed_windows(spark, wire_dir):
    """[EXT E19] In append mode a window emits only once the watermark
    passes its end: with a tiny delay every window but the one holding the
    max event time finalizes during AvailableNow replay."""
    parsed = parse_user_events(file_user_source(spark, wire_dir))
    # Append-mode windowed aggs emit their closed windows IN the no-data
    # batch (the replay_to_memory caveat) — this test is the one consumer
    # that needs it.
    appended = _replay(
        spark,
        stream_cardinality(parsed, "day", watermark="0 seconds"),
        mode="append",
        no_data_batch=True,
    )
    complete = _replay(spark, stream_cardinality(parsed, "day"))
    n_append, n_complete = appended.count(), complete.count()
    assert n_complete >= 1
    assert n_append == n_complete - 1  # the open tail window is withheld


def test_stat_json_wire_shape(spark, wire_dir):
    parsed = parse_user_events(file_user_source(spark, wire_dir))
    out = _replay(spark, to_stat_json(stream_cardinality(parsed, "year")))
    rows = out.collect()
    assert rows and all(
        '"type":"year_count"' in r["value"] and '"timestamp":' in r["value"]
        for r in rows
    )


def test_graceful_stop(spark, wire_dir):
    """[CORE C11] drain-then-stop on a continuously-triggered query."""
    parsed = parse_user_events(file_user_source(spark, wire_dir))
    name = f"t_{uuid.uuid4().hex[:8]}"
    query = (
        stream_cardinality(parsed, "day")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .start()
    )
    stop_gracefully(query)
    assert not query.isActive
    assert spark.table(name).count() >= 1


def test_checkpoint_resume_is_exactly_once(spark, wire_dir, tmp_path):
    """Restart-resume correctness — the capability the reference
    explicitly lacks (stateless; restart = reprocess the whole topic,
    /root/reference/README.md:5).  Phase 1 drains the first wire file
    through a checkpointed parquet sink and terminates; the second file
    then arrives; phase 2 resumes from the SAME checkpoint and must
    process ONLY the new file (offsets log), with the combined output
    equal to the one-shot batch result over both files — nothing lost,
    nothing reprocessed, exactly once.  (Both phases drain to natural
    AvailableNow termination, so the comparison is deterministic —
    a kill-at-random-point variant races on where the watermark flush
    lands.)"""
    import os

    src = str(tmp_path / "arriving")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(src)
    # Split the wire dump into two line-halves — the "already retained"
    # history and the "arrives after restart" tail.
    lines = []
    for e in sorted(os.scandir(wire_dir), key=lambda e: e.name):
        if e.name.startswith("part-"):
            with open(e.path) as fh:
                lines.extend(fh.read().splitlines())
    half = len(lines) // 2
    halves = [lines[:half], lines[half:]]
    assert all(halves)

    def run_phase():
        parsed = parse_user_events(spark.readStream.text(src))
        counts = (
            parsed.withWatermark("ts", "0 seconds")
            .groupBy(F.window("ts", "1 day"))
            .agg(F.count("*").alias("events"))
            .select(
                F.unix_timestamp("window.start").alias("timestamp"), "events"
            )
        )
        q = (
            counts.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return q

    with open(os.path.join(src, "wire-0.txt"), "w") as fh:
        fh.write("\n".join(halves[0]) + "\n")
    q1 = run_phase()
    n_phase1_batches = len(q1.recentProgress)
    with open(os.path.join(src, "wire-1.txt"), "w") as fh:
        fh.write("\n".join(halves[1]) + "\n")
    q2 = run_phase()
    # Resume really resumed: phase 2 read only the NEW file's rows.
    phase2_rows = sum(p["numInputRows"] for p in q2.recentProgress)
    batch_all = (
        parse_user_events(spark.read.text(src))
        .groupBy(F.window("ts", "1 day"))
        .agg(F.count("*").alias("events"))
        .select(F.unix_timestamp("window.start").alias("timestamp"), "events")
    )
    # numInputRows counts RAW source lines (malformed ones included —
    # the C3 skip happens downstream of the source metric).
    assert phase2_rows == len(halves[1]), (phase2_rows, len(halves[1]))
    assert n_phase1_batches >= 1

    got_rows = spark.read.parquet(out).collect()
    got = {(r["timestamp"], r["events"]) for r in got_rows}
    # Exactly once: each window appears at most once in the sink.
    assert len(got_rows) == len({r["timestamp"] for r in got_rows})
    # Append mode never finalizes the last open window (watermark stops
    # at max event time), so compare against the batch result minus it.
    max_ts = max(t for t, _ in got)
    expected = {
        (r["timestamp"], r["events"])
        for r in batch_all.collect()
        if r["timestamp"] <= max_ts
    }
    assert got == expected


def test_kafka_source_and_sink_build_without_broker(spark, tmp_path):
    """[CORE C1+C9] The Kafka source frame and stats-sink writer must
    CONSTRUCT (schema resolved, options bound) with no broker running —
    Structured Streaming connects at query start, not at plan time.  This
    pins the full Kafka wiring path even though tests run broker-free;
    the downstream stages are source-agnostic (file_user_source shares
    the `value` column contract)."""
    from pyspark.errors.exceptions.captured import AnalysisException

    from kafka_go_cardinality_spark.streaming.pipeline import (
        kafka_stats_sink,
        kafka_user_source,
        parse_user_events,
        stream_cardinality,
    )

    try:
        raw = kafka_user_source(spark, broker="localhost:9092", topic="users")
    except AnalysisException as ex:
        if "Failed to find data source: kafka" in str(ex):
            pytest.skip("spark-sql-kafka connector not on the classpath")
        raise
    assert "value" in raw.columns and "topic" in raw.columns
    parsed = parse_user_events(raw.select(F.col("value")))
    stats = stream_cardinality(parsed, "day")
    writer = kafka_stats_sink(
        stats, checkpoint_dir=str(tmp_path / "ck"), topic="stats"
    )
    # The writer is fully configured; starting it would need a broker.
    assert writer is not None


def test_stream_grain_fanout_matches_batch_sketches(spark, sf_dir):
    """The all-grains streaming query must produce every window of every
    grain, with estimates BIT-IDENTICAL to the batch sketch twins (same
    DataSketches aggregate, same lg_k — streaming changes scheduling,
    never the sketch math)."""
    import __spark_entry__ as m

    rows = m.queries()["q_stream_grain_fanout"](spark, sf_dir).collect()
    types = {r["type"] for r in rows}
    assert types == {f"{g}_count" for g in ("minute", "day", "week", "month", "year")}
    stream_day = {
        r["timestamp"]: r["value"] for r in rows if r["type"] == "day_count"
    }
    batch_day = {
        r["timestamp"]: r["value"]
        for r in m.queries()["q_card_day_approx"](spark, sf_dir).collect()
    }
    assert stream_day == batch_day


def test_vec_neardup_distinct_parity_under_duplicate_vec_ids(spark, tmp_path):
    """The full-row dedup key's reason to exist (r10 review find): a
    re-crawled corpus can carry TWO physical rows for one vec_id with
    different payloads, so one (vec_id, dup_of) pair yields two cos
    values — the oracle's DISTINCT keeps both, and a (vec_id, dup_of)
    dedup key would emit an arrival-order-dependent single row.  Runs
    the streaming engine AND the replay SQL over a corpus with planted
    duplicate-id rows and demands a hash match (the fixture-bound
    parity sweep can never exercise this: every sf* table has unique
    vec_ids)."""
    import shutil

    import duckdb

    from kafka_go_cardinality_spark.queries import QUERIES
    from kafka_go_cardinality_spark.queries_streaming import (
        _LAST_REPLAY_TABLE,
        _VEC_INDEX_DIRS,
        _VEC_WIRE_DIRS,
        _vec_neardup_distinct_oracle,
    )
    from kafka_go_cardinality_spark.sources import load_table
    from tests.conftest import SF_DIR, assert_frames_match

    sf = str(tmp_path / "dup_sf")
    shutil.copytree(SF_DIR, sf)
    con = duckdb.connect()
    # Duplicate the first 40 ids with a rotated payload: same vec_id,
    # different vector — two physical rows per id on BOTH the wire and
    # the index side.
    con.execute(
        f"""COPY (
            SELECT vec_id, embedding, label
            FROM read_parquet('{SF_DIR}/embeddings.parquet')
            UNION ALL
            SELECT vec_id,
                   embedding[2:] || [embedding[1]] AS embedding,
                   label
            FROM read_parquet('{SF_DIR}/embeddings.parquet')
            WHERE vec_id < 40
        ) TO '{sf}/embeddings.parquet' (FORMAT PARQUET)"""
    )
    try:
        got = QUERIES["q_stream_vec_neardup_distinct"](spark, sf).toPandas()
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{sf}/embeddings.parquet')"
        )
        want = con.execute(_vec_neardup_distinct_oracle()).fetchdf()
        assert_frames_match(got, want)
    finally:
        # Drop the per-sf_dir caches so later tests against the real
        # fixture don't reuse this corpus's wire/index.
        _VEC_WIRE_DIRS.pop(sf, None)
        _VEC_INDEX_DIRS.pop(sf, None)


def test_vec_neardup_poisoned_corpus_parity(spark, tmp_path):
    """R10 ADVICE (medium) adjudication pin: the claim was that a
    malformed embedding row (NULL vector / wrong dim / NULL element)
    reaches the static LSH index unfiltered, sketches to 0, meets
    stream rows in zero-valued bands, and crashes dot64_seq's
    np.vstack on the ragged batch.  The premise is false —
    with_planted_neighbors filters `vec_finite & size == 64` on the
    index side before _vec_index_dir ever sketches (and its SQL twin
    carries the same WHERE) — but the invariant deserves a pin: this
    test plants exactly the ADVICE's malformed rows (NULL vector,
    32-dim vector, NaN-element vector, NULL-element vector) and
    demands both near-dup replays complete AND hash-match their
    oracles.  If the upstream filter is ever relaxed, this fails
    loudly instead of crashing a production ingest gate."""
    import shutil

    import duckdb

    from kafka_go_cardinality_spark.queries import ORACLE_SQL, QUERIES
    from kafka_go_cardinality_spark.queries_streaming import (
        _VEC_INDEX_DIRS,
        _VEC_WIRE_DIRS,
    )
    from tests.conftest import SF_DIR, assert_frames_match

    sf = str(tmp_path / "poison_sf")
    shutil.copytree(SF_DIR, sf)
    con = duckdb.connect()
    con.execute(
        f"""COPY (
            SELECT * FROM read_parquet('{SF_DIR}/embeddings.parquet')
            UNION ALL SELECT 920001, NULL, NULL
            UNION ALL SELECT 920002,
                CAST(list_transform(range(32), x -> 0.5) AS FLOAT[]), 2
            UNION ALL SELECT 920003,
                CAST(list_transform(range(64),
                     x -> CASE WHEN x = 0 THEN CAST('nan' AS FLOAT)
                               ELSE 0.5 END) AS FLOAT[]), 3
            UNION ALL SELECT 920004,
                CAST(list_transform(range(64),
                     x -> CASE WHEN x = 0 THEN NULL
                               ELSE 0.5 END) AS FLOAT[]), 3
        ) TO '{sf}/embeddings.parquet' (FORMAT PARQUET)"""
    )
    try:
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{sf}/embeddings.parquet')"
        )
        for name in ("q_stream_vec_neardup", "q_stream_vec_neardup_distinct"):
            got = QUERIES[name](spark, sf).toPandas()
            want = con.execute(ORACLE_SQL[name]).fetchdf()
            assert_frames_match(got, want)
    finally:
        con.close()
        _VEC_WIRE_DIRS.pop(sf, None)
        _VEC_INDEX_DIRS.pop(sf, None)


def test_neardup_band_width_ladder_matches_oracle_sql():
    """The scale-aware band width (the r10 streaming probe's named
    dial, now implemented): engine ladder and oracle SQL must emit the
    same integer at every N — swept across each step boundary (±1) and
    primes, DuckDB evaluating the exact expression the oracle embeds
    (count bound to a literal)."""
    import duckdb

    from kafka_go_cardinality_spark.operators import similarity as sim
    from kafka_go_cardinality_spark.queries_streaming import (
        _VEC_NEARDUP_BITS_STEPS,
        _neardup_band_bits,
        _neardup_band_bits_sql,
        VEC_NEARDUP_MAX_BAND_BITS,
    )

    from kafka_go_cardinality_spark.queries_streaming import (
        _neardup_bands,
        _neardup_bands_sql,
    )

    con = duckdb.connect()
    sql = _neardup_band_bits_sql().replace(
        "(SELECT count(*) AS n FROM embeddings)", "(SELECT {n} AS n)"
    )
    bsql = _neardup_bands_sql().replace(
        "(SELECT count(*) AS n FROM embeddings)", "(SELECT {n} AS n)"
    )
    probe = [0, 1, 499, 500, 2000, 99991]
    for t in _VEC_NEARDUP_BITS_STEPS:
        probe += [t - 1, t, t + 1]
    for n in probe:
        got = con.execute(f"SELECT {sql.format(n=n)}").fetchone()[0]
        assert got == _neardup_band_bits(n), n
        got = con.execute(f"SELECT {bsql.format(n=n)}").fetchone()[0]
        assert got == _neardup_bands(n), n
    # shipped fixtures stay on the 3×4-bit layout; the ladder caps at
    # the (MAX bits, last band rung) ceiling
    assert _neardup_band_bits(500) == sim.ANN_BAND_BITS
    assert _neardup_bands(500) == sim.ANN_BANDS
    assert _neardup_band_bits(10**9) == VEC_NEARDUP_MAX_BAND_BITS
    assert _neardup_bands(10**9) == 8
    con.close()


def test_vec_neardup_scaled_width_parity_and_planted_recall(spark):
    """Above the first ladder step (8× fixture = 4000 rows → width 5)
    both near-dup replays must still hash-match their oracles — the
    guard that engine and oracle derive the SAME width from the same
    raw count — and the guard must still catch what it exists to
    catch: every planted near-identical twin (cos ≈ 0.997, per-band
    collision ≈ 0.998 at width 5) flags its original.  Width trades
    MARGINAL-pair recall for the N^1.5 candidate bound; this pins that
    true duplicates are not the pairs being traded."""
    import shutil

    import duckdb

    from kafka_go_cardinality_spark.queries import ORACLE_SQL, QUERIES
    from kafka_go_cardinality_spark.queries_streaming import (
        _VEC_INDEX_DIRS,
        _VEC_WIRE_DIRS,
        _neardup_bits_for,
    )
    from scripts_scale_probe import build_scaled_vectors_dir
    from tests.conftest import assert_frames_match

    d = build_scaled_vectors_dir(8, "/root/testdata/sf0.001")
    try:
        assert _neardup_bits_for(spark, d) == 5
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{d}/embeddings.parquet')"
        )
        pairs = None
        for name in ("q_stream_vec_neardup", "q_stream_vec_neardup_distinct"):
            got = QUERIES[name](spark, d).toPandas()
            want = con.execute(ORACLE_SQL[name]).fetchdf()
            assert_frames_match(got, want)
            if pairs is None:
                pairs = {
                    (int(r.vec_id), int(r.dup_of))
                    for r in got.itertuples()
                }
        con.close()
        # every planted index twin (id + 1_000_000, planted for
        # vec_id % 11 == 0 over the 64-dim-finite corpus) must flag its
        # original stream row
        planted = {
            int(r[0])
            for r in duckdb.sql(
                f"""SELECT vec_id FROM read_parquet('{d}/embeddings.parquet')
                    WHERE vec_id % 11 = 0 AND len(embedding) = 64"""
            ).fetchall()
        }
        assert planted
        caught = {v for v in planted if (v, v + 1_000_000) in pairs}
        assert len(caught) >= 0.95 * len(planted), (
            len(caught), len(planted)
        )
    finally:
        _VEC_WIRE_DIRS.pop(d, None)
        _VEC_INDEX_DIRS.pop(d, None)
        shutil.rmtree(d, ignore_errors=True)


def test_vec_neardup_parity_at_nine_bit_width(spark, monkeypatch):
    """R11 verdict item 3: the ladder's post-cap rungs — 9-bit bands ×
    7 bands, planes the r11 24-plane sketch did not have — must keep
    full engine↔oracle hash parity AND the ≥95% planted-twin floor
    (the recall the rung's band-count growth exists to hold: 3 bands
    at 9 bits measured 0.82).  Corpus size and (width, bands) are
    independent dials of the SAME law (both = f(raw count) on both
    sides), so the post-cap rung is exercised by FORCING the count a
    600k-row corpus would have — engine via _neardup_raw_count
    patched, oracle by binding the count subquery to the same literal
    (the ladder-test device) — on an 8× corpus both engines can
    afford to replay end-to-end."""
    import shutil

    import duckdb

    from kafka_go_cardinality_spark import queries_streaming as qs
    from kafka_go_cardinality_spark.queries import ORACLE_SQL, QUERIES
    from scripts_scale_probe import build_scaled_vectors_dir
    from tests.conftest import assert_frames_match

    assert qs._neardup_band_bits(600_000) == 9
    assert qs._neardup_bands(600_000) == 7
    monkeypatch.setattr(qs, "_neardup_raw_count", lambda s, d: 600_000)

    d = build_scaled_vectors_dir(8, "/root/testdata/sf0.001")
    try:
        assert qs._neardup_dims_for(spark, d) == (9, 7)
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{d}/embeddings.parquet')"
        )
        pairs = None
        for name in ("q_stream_vec_neardup", "q_stream_vec_neardup_distinct"):
            sql = ORACLE_SQL[name].replace(
                "(SELECT count(*) AS n FROM embeddings)",
                "(SELECT 600000 AS n)",
            )
            assert sql != ORACLE_SQL[name]
            got = QUERIES[name](spark, d).toPandas()
            want = con.execute(sql).fetchdf()
            assert_frames_match(got, want)
            if pairs is None:
                pairs = {
                    (int(r.vec_id), int(r.dup_of)) for r in got.itertuples()
                }
        planted = {
            int(r[0])
            for r in con.execute(
                """SELECT vec_id FROM embeddings
                   WHERE vec_id % 11 = 0 AND len(embedding) = 64"""
            ).fetchall()
        }
        con.close()
        assert planted
        caught = {v for v in planted if (v, v + 1_000_000) in pairs}
        assert len(caught) >= 0.95 * len(planted), (
            len(caught), len(planted)
        )
    finally:
        qs._VEC_WIRE_DIRS.pop(d, None)
        qs._VEC_INDEX_DIRS.pop(d, None)
        shutil.rmtree(d, ignore_errors=True)


def test_replays_identical_without_no_data_batch(spark, monkeypatch):
    """The r13 replay optimization: replay_to_memory skips the trailing
    no-data micro-batch (pure watermark-advance/state-evict work in a
    run-to-completion replay — 0.45-0.8 s per sf0.1 replay).  Pin that
    EVERY registered streaming replay's rows are bit-identical with and
    without it: if a future replay gains a watermark-GATED emitter
    (append-mode windowed agg, event-time timeout), that query must opt
    back in with no_data_batch=True and this test is what catches the
    silent truncation.  q_stream_upsert_sink manages the conf inside its
    own foreachBatch writer (no replay_to_memory seam); its merged table
    equals the batch aggregate by oracle parity either way."""
    import __spark_entry__ as entry
    from kafka_go_cardinality_spark.streaming import pipeline as pl
    import kafka_go_cardinality_spark.queries_streaming as qsm

    sf = "/root/testdata/sf0.001"
    qs = entry.queries()
    orig = pl.replay_to_memory

    def force_no_data_batch(
        stats, table_name, output_mode="complete", timeout_s=300.0,
        no_data_batch=False,
    ):
        return orig(
            stats, table_name, output_mode, timeout_s, no_data_batch=True
        )

    names = [
        n for n in qs
        if n.startswith("q_stream") and n != "q_stream_upsert_sink"
    ]
    assert len(names) >= 13
    for name in names:
        monkeypatch.setattr(pl, "replay_to_memory", force_no_data_batch)
        monkeypatch.setattr(qsm, "replay_to_memory", force_no_data_batch)
        with_ndb = sorted(map(tuple, qs[name](spark, sf).collect()))
        monkeypatch.setattr(pl, "replay_to_memory", orig)
        monkeypatch.setattr(qsm, "replay_to_memory", orig)
        without = sorted(map(tuple, qs[name](spark, sf).collect()))
        assert with_ndb == without, name


def _state_instances(query) -> int:
    return query.lastProgress.stateOperators[0].numStateStoreInstances


# Every session conf replay_to_memory overrides for the replay's duration.
REPLAY_CONF_KEYS = (
    "spark.sql.streaming.noDataMicroBatches.enabled",
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.checkpointFileManagerClass",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
)


def _replay_confs(spark) -> dict:
    """The session's explicit value of each replay conf; a key that is
    unset (Spark's default applies) is absent."""
    return {k: v for k, v in spark.conf.getAll.items() if k in REPLAY_CONF_KEYS}


def test_replay_caps_state_partitions_at_cores(spark, wire_dir, monkeypatch):
    """replay_to_memory runs a replay at min(shuffle.partitions,
    defaultParallelism) state partitions — partitions beyond the cores
    only add per-batch state loads and commits — for the replay alone:
    the session's count is unchanged afterwards.  The cap moves no
    rows: the exact twin replayed capped and uncapped is identical."""
    from kafka_go_cardinality_spark.streaming import pipeline as pl

    key = "spark.sql.shuffle.partitions"
    cores = spark.sparkContext.defaultParallelism
    prev = spark.conf.get(key)
    spark.conf.set(key, str(2 * cores))
    try:
        name = f"t_{uuid.uuid4().hex[:8]}"
        parsed = parse_user_events(file_user_source(spark, wire_dir))
        before = _replay_confs(spark)
        query = replay_to_memory(pl.stream_grain_fanout(parsed), name)
        assert _state_instances(query) == cores
        assert spark.conf.get(key) == str(2 * cores)
        assert _replay_confs(spark) == before

        def exact_day():
            name = f"t_{uuid.uuid4().hex[:8]}"
            query = replay_to_memory(
                stream_exact_cardinality(parsed, "day"), name
            )
            rows = sorted(map(tuple, spark.table(name).collect()))
            return _state_instances(query), rows

        capped_n, capped = exact_day()
        monkeypatch.setattr(
            pl, "core_capped_partitions", lambda s: int(s.conf.get(key))
        )
        uncapped_n, uncapped = exact_day()
        assert (capped_n, uncapped_n) == (cores, 2 * cores)
        assert capped and capped == uncapped
    finally:
        spark.conf.set(key, prev)


def test_replay_start_failure_leaves_session_clean(
    spark, wire_dir, tmp_path, monkeypatch
):
    """A replay whose query fails at start() (append-mode aggregation
    without a watermark is rejected there) must propagate the error,
    restore both confs it overrides and remove its checkpoint dir."""
    from pyspark.errors import AnalysisException

    monkeypatch.setenv("KGC_CHECKPOINT_SCRATCH", str(tmp_path))
    key = "spark.sql.shuffle.partitions"
    prev_parts = spark.conf.get(key)
    # Above the core count, so a leaked cap would show.
    spark.conf.set(key, str(2 * spark.sparkContext.defaultParallelism))
    try:
        before = _replay_confs(spark)
        parsed = parse_user_events(file_user_source(spark, wire_dir))
        with pytest.raises(AnalysisException):
            replay_to_memory(
                parsed.groupBy("uid").count(),
                f"t_{uuid.uuid4().hex[:8]}",
                output_mode="append",
            )
        assert _replay_confs(spark) == before
        assert not list(tmp_path.glob("kgc_ckpt_*"))
    finally:
        spark.conf.set(key, prev_parts)


def test_replay_timeout_leaves_session_clean(spark, wire_dir, tmp_path, monkeypatch):
    """A replay that cannot finish within ``timeout_s`` (every row of the
    wire sleeps) must raise TimeoutError, leave no query active, restore
    every conf it overrides — an explicitly set conf to its value, an
    unset one to unset — and serve no sink table: the memory sink holds
    partial aggregates at that point."""
    monkeypatch.setenv("KGC_CHECKPOINT_SCRATCH", str(tmp_path))
    cores = spark.sparkContext.defaultParallelism
    prior = {k: spark.conf.get(k, None) for k in REPLAY_CONF_KEYS}
    explicit = {REPLAY_CONF_KEYS[0]: "true", REPLAY_CONF_KEYS[1]: str(2 * cores)}
    try:
        for k in REPLAY_CONF_KEYS:
            spark.conf.unset(k)
        for k, v in explicit.items():
            spark.conf.set(k, v)
        assert _replay_confs(spark) == explicit
        # 2,000 lines × 20 ms over the cores: seconds of work per replay.
        slow = parse_user_events(file_user_source(spark, wire_dir)).select(
            "uid", F.expr("reflect('java.lang.Thread', 'sleep', 20L)").alias("z")
        )
        name = f"t_{uuid.uuid4().hex[:8]}"
        with pytest.raises(TimeoutError):
            replay_to_memory(
                slow.groupBy("uid").agg(F.count("z")), name, timeout_s=0.5
            )
        assert not [q for q in spark.streams.active if q.name == name]
        assert _replay_confs(spark) == explicit
        assert not spark.catalog.tableExists(name)
        assert not list(tmp_path.glob("kgc_ckpt_*"))
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
