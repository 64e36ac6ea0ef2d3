"""[CORE] query registrations: the reference's cardinality family plus the
wire-format operators (SURVEY.md §2.1 C2-C6, §2.2).

Every exact grain gets a DuckDB oracle; approx twins are rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from kafka_go_cardinality_spark.operators.cardinality import (
    GRAINS,
    KLL_QUANTILE_ORACLE_SQL,
    SEGMENT_OVERLAP_ORACLE_SQL,
    THETA_RETENTION_ORACLE_SQL,
    bloom_membership,
    bloom_membership_oracle_sql,
    bitmap_exact_cardinality,
    cardinality,
    cms_heavy_hitters,
    cms_heavy_hitters_oracle_sql,
    grain_fanout,
    pcsa_cardinality,
    pcsa_oracle_sql,
    quantile_hist_oracle_sql,
    quantile_hist_rollup,
    kll_quantile_rollup,
    salted_exact_cardinality,
    segment_overlap_exact,
    segment_overlap_sketch,
    segment_overlap_theta,
    sketch_rollup,
    stats_shape,
    theta_day_retention,
)
from kafka_go_cardinality_spark.queries import query
from kafka_go_cardinality_spark.sources import load_table
from kafka_go_cardinality_spark.streaming.pipeline import USER_MSG_SCHEMA, json_fields


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def _card_oracle(grain: str) -> str:
    return f"""
        SELECT '{grain}_count' AS type,
               CAST(epoch(date_trunc('{grain}', ts)) AS BIGINT) AS timestamp,
               count(DISTINCT user_id) AS value
        FROM events
        GROUP BY 2
    """


def _register_grain(grain: str) -> None:
    @query(f"q_card_{grain}_exact", _card_oracle(grain))
    def _exact(spark: SparkSession, sf_dir: str, grain: str = grain) -> DataFrame:
        """Exact twin of the reference's {grain} HLL window
        (/root/reference/processor/processor.go:36-53, 87)."""
        return cardinality(_events(spark, sf_dir), grain, exact=True)

    @query(f"q_card_{grain}_approx", oracle=None)  # approx: rows-only by design
    def _approx(spark: SparkSession, sf_dir: str, grain: str = grain) -> DataFrame:
        """DataSketches HLL estimate at lg_k=14, the reference's exact
        sketch size (/root/reference/processor/processor.go:80); sparse
        below promotion, so fine grains don't pay dense-buffer state."""
        return cardinality(_events(spark, sf_dir), grain, exact=False)


for _g in GRAINS:
    _register_grain(_g)


@query(
    "q_grain_fanout",
    """
    SELECT g.grain || '_count' AS type,
           CAST(epoch(date_trunc(g.grain, e.ts)) AS BIGINT) AS timestamp,
           count(DISTINCT e.user_id) AS value
    FROM events e
    CROSS JOIN (SELECT unnest(['minute','day','week','month','year']) AS grain) g
    GROUP BY 1, 2
    """,
)
def q_grain_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[CORE C4] 1→5 grain multiplex as ONE shuffle via explode
    (/root/reference/processor/processor.go:60-75)."""
    return grain_fanout(_events(spark, sf_dir), exact=True)


@query("q_card_day_exact_salted", _card_oracle("day"))
def q_card_day_exact_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[CORE C6 skew path] Exact day-grain distinct counts via two-phase
    salted aggregation — hash-of-uid salt keeps count(distinct)
    decomposable, spreading a hot window over 16 reducers.  Same oracle as
    q_card_day_exact: the salt changes the plan, never the answer."""
    return salted_exact_cardinality(_events(spark, sf_dir), "day")


@query("q_card_day_exact_bitmap", _card_oracle("day"))
def q_card_day_exact_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[CORE C6 / E27 integer-key path] Exact day-grain distinct counts via
    two-level bitmap aggregation: (window, bucket-of-32768-ids) bitmaps
    OR-merged map-side, then per-window sum of bitmap_counts.  Exact like
    count(distinct) — same oracle — but the exchange carries 4 KB bitmaps
    instead of raw uids, and per-bucket bitmap tables are re-aggregable
    (OR) into coarser windows, the exact-count analogue of the sketch
    rollup."""
    return bitmap_exact_cardinality(_events(spark, sf_dir), "day")


@query("q_card_sketch_rollup", oracle=None)  # sketch estimates: rows-only
def q_card_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[CORE C6 scale path] Month counts by MERGING persisted day sketches
    (hll_sketch_agg → hll_union_agg) — re-aggregable sketch tables, the
    capability the reference's closure-held sketches lack
    (/root/reference/processor/processor.go:80-82).  Accuracy vs the exact
    month counts is pinned in tests/test_accuracy.py."""
    return sketch_rollup(_events(spark, sf_dir))


@query(
    "q_stats_shape",
    """
    SELECT 'day_count' AS type,
           CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS timestamp,
           count(DISTINCT user_id) AS value
    FROM events
    GROUP BY 2
    ORDER BY 2
    """,
)
def q_stats_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[CORE C8] StatMsg envelope {type, timestamp, value}
    (/root/reference/processor/processor.go:90-94)."""
    return stats_shape(_events(spark, sf_dir))


def _as_wire(events: DataFrame) -> DataFrame:
    """Re-encode events as the reference's wire format — one JSON object
    ``{"uid": ..., "ts": <unix seconds>}`` per record
    (/root/reference/processor/processor.go:13-16, kafkaio.go:77)."""
    return events.select(
        F.col("event_id"),
        F.to_json(
            F.struct(
                F.col("user_id").cast("string").alias("uid"),
                F.col("ts").cast("long").alias("ts"),
            )
        ).alias("raw"),
    )


@query(
    "q_json_project",
    """
    SELECT CAST(user_id AS VARCHAR) AS uid, CAST(floor(epoch(ts)) AS BIGINT) AS ts
    FROM events
    """,
)
def q_json_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[CORE C2] JSON deserialize + implicit projection
    (/root/reference/kafkaio/kafkaio.go:76-81): parse the wire format into
    the fixed UserMsg schema; unknown fields dropped by the schema itself."""
    wire = _as_wire(_events(spark, sf_dir))
    parsed = wire.select(F.from_json(F.col("raw"), USER_MSG_SCHEMA).alias("msg"))
    return parsed.select("msg.uid", "msg.ts")


@query(
    "q_malformed_filter",
    """
    SELECT CAST(user_id AS VARCHAR) AS uid, CAST(floor(epoch(ts)) AS BIGINT) AS ts
    FROM events
    WHERE event_id % 97 <> 0 AND user_id IS NOT NULL
    """,
)
def q_malformed_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[CORE C3] Malformed-record skip (/root/reference/kafkaio/kafkaio.go:77-81):
    deterministically corrupt every 97th record, parse PERMISSIVE (null on
    error), and keep only well-formed rows — the log-and-continue policy."""
    wire = _as_wire(_events(spark, sf_dir))
    corrupted = wire.select(
        F.when(F.col("event_id") % 97 == 0, F.substring("raw", 1, 5))
        .otherwise(F.col("raw"))
        .alias("raw")
    )
    # Malformed input parses to NULL fields, so null-uid is exactly the
    # parse-failure signal — which ALSO classifies a well-formed record
    # missing its uid as malformed (deliberate: a uid-less record is
    # useless to a cardinality engine; the oracle's user_id IS NOT NULL
    # spells the same policy).
    parsed = corrupted.select(json_fields(F.col("raw"), USER_MSG_SCHEMA))
    return parsed.filter(F.col("uid").isNotNull())


@query("q_grain_fanout_rollup", oracle=None)  # sketch estimates: rows-only
def q_grain_fanout_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[CORE C4 scale path] All five grains by SKETCH ALGEBRA: one
    minute-sketch pass over raw events, then day/week/month/year derived
    by hll_union_agg over the minutes-sized sketch table — no 5× row
    explosion, rollup cost proportional to #minutes not #events
    (operators/cardinality.grain_fanout_rollup; accuracy vs the exact
    fan-out pinned in tests/test_accuracy.py)."""
    from kafka_go_cardinality_spark.operators.cardinality import (
        grain_fanout_rollup,
    )

    return grain_fanout_rollup(_events(spark, sf_dir))


# One persisted day-sketch table per (process, sf_dir): the stand-in for
# yesterday's production sketch table.  Built once — at 100 TB this is
# last night's job output, not part of today's query cost.
_SKETCH_TABLES: dict[str, tuple[str, str]] = {}


def _stored_sketches(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize day sketches for all but the final 7 days to parquet;
    returns (path, cutoff_day_iso)."""
    import os as _os

    existing = _SKETCH_TABLES.get(sf_dir)
    if existing and _os.path.isdir(existing[0]):
        return existing
    import tempfile

    from kafka_go_cardinality_spark.operators.cardinality import day_sketches

    events = _events(spark, sf_dir)
    cutoff = events.select(
        F.date_format(
            F.date_sub(F.max(F.date_trunc("day", "ts")), 6), "yyyy-MM-dd"
        ).alias("c")
    ).first()["c"]
    path = tempfile.mkdtemp(prefix="kgc_day_sketches_")
    (
        day_sketches(
            events.filter(F.date_trunc("day", "ts") < F.lit(cutoff).cast("timestamp"))
        )
        .write.mode("overwrite")
        .parquet(path)
    )
    _SKETCH_TABLES[sf_dir] = (path, cutoff)
    return path, cutoff


@query("q_card_sketch_incremental", oracle=None)  # sketch estimates: rows-only
def q_card_sketch_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[CORE C6 scale path] Incremental sketch-table maintenance: month
    totals from the PERSISTED day-sketch parquet plus raw events of only
    the last 7 days — history is merged as ~16 KiB sketches, never
    rescanned.  Bit-identical to the full recompute (HLL union is
    register-wise max; equality pinned in tests/test_accuracy.py)."""
    from kafka_go_cardinality_spark.operators.cardinality import (
        incremental_sketch_rollup,
    )

    path, cutoff = _stored_sketches(spark, sf_dir)
    stored = spark.read.parquet(path)
    return incremental_sketch_rollup(
        _events(spark, sf_dir), stored, F.lit(cutoff).cast("timestamp")
    )


@query("q_freq_cms", cms_heavy_hitters_oracle_sql())
def q_freq_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E27] Count-min-sketch heavy hitters over events.user_id: the
    mergeable FREQUENCY sketch table beside the HLL (cardinality) and
    bitmap (membership) ones — md5-derived hashing makes the whole
    sketch, unlike the HLL estimators, exactly oracle-checkable; the
    readout carries exact counts so cms_est >= exact is visible in the
    result (operators/cardinality.cms_heavy_hitters)."""
    return cms_heavy_hitters(_events(spark, sf_dir))


@query("q_seg_overlap_exact", SEGMENT_OVERLAP_ORACLE_SQL)
def q_seg_overlap_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[CORE extension] Exact pairwise audience overlap between
    event-type segments: sizes, intersection, union (inclusion-
    exclusion) and Jaccard.  Distinct-first, then a user-keyed
    self-join on the collapsed segments×users frame — never on raw
    events (operators/cardinality.segment_overlap_exact)."""
    return segment_overlap_exact(_events(spark, sf_dir))


@query("q_seg_overlap_sketch", oracle=None)  # estimator: rows-only
def q_seg_overlap_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[CORE extension] Sketch twin of q_seg_overlap_exact: per-segment
    HLL sketches (lg_k=14, the reference's size) built in ONE fact
    scan, pairwise |A∪B| via hll_union_agg over sketch values,
    intersections by inclusion-exclusion — the fact table is never
    self-joined (operators/cardinality.segment_overlap_sketch);
    accuracy vs the exact twin pinned in tests/test_accuracy.py."""
    return segment_overlap_sketch(_events(spark, sf_dir))


@query("q_seg_overlap_theta", SEGMENT_OVERLAP_ORACLE_SQL)
def q_seg_overlap_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E27] Theta-sketch twin of q_seg_overlap_exact (Spark 4.1
    DataSketches Theta): per-segment sketches from ONE fact scan,
    pairwise intersection and union taken DIRECTLY on sketch values —
    the set algebra HLL cannot do without compounding
    inclusion-exclusion terms.  Every fixture segment sits below the
    2^12 nominal entries, so the sketches are in exact mode and the
    whole frame, Jaccard included, hash-matches the exact oracle; at
    100 TB the same plan degrades gracefully to ~1/sqrt(k) error
    (operators/cardinality.segment_overlap_theta)."""
    return segment_overlap_theta(_events(spark, sf_dir))


@query("q_retention_theta", THETA_RETENTION_ORACLE_SQL)
def q_retention_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E27] Day-over-day retention/churn from per-day Theta sketches:
    |active|, |retained| = |D∩D₋₁|, |new| = |D\\D₋₁| computed from two
    kilobyte sketch values per day pair via theta_intersection /
    theta_difference — the fact table is scanned once and never
    self-joined, where the exact twin shuffles every distinct
    (day, uid) pair twice.  Exact mode at fixture scale → fully
    oracle-checked (operators/cardinality.theta_day_retention)."""
    return theta_day_retention(_events(spark, sf_dir))


@query("q_quantile_kll_rollup", KLL_QUANTILE_ORACLE_SQL)
def q_quantile_kll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E27] Mergeable KLL quantile-sketch table (Spark 4.1
    DataSketches KLL): one sketch of `value` per day, months answered
    by folding day sketches with kll_sketch_merge_double (higher-order
    aggregate expression, no UDF), p50/p90/p99 read from the merged
    sketch.  Unlike q_quantile_hist_rollup's fixed buckets, KLL's rank
    error is PROVEN under arbitrary merges and needs no up-front
    boundary choice; at fixture scale (k=16,384 > month rows) the
    sketch is in exact mode and DataSketches' inclusive-rank quantile
    equals SQL quantile_disc, so the readout hash-matches the oracle
    (operators/cardinality.kll_quantile_rollup)."""
    return kll_quantile_rollup(_events(spark, sf_dir))


@query("q_card_pcsa_day", pcsa_oracle_sql("day"))
def q_card_pcsa_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E27] PCSA (Flajolet-Martin stochastic averaging, 64 buckets,
    md5-derived hashes) day-grain cardinality: the estimator family of
    "Better Cardinality Estimators for HyperLogLog, PCSA, and Beyond"
    (PODS 2023), and — unlike the DataSketches HLL twins — BIT-
    DETERMINISTIC, so sketch, ΣR, and the rounded estimate all
    hash-match the DuckDB oracle.  Same scale shape as HLL: one
    (window, bucket)-keyed shuffle of 8-byte OR-merged bitmaps
    (operators/cardinality.pcsa_cardinality)."""
    return pcsa_cardinality(_events(spark, sf_dir), "day")


@query("q_quantile_hist_rollup", quantile_hist_oracle_sql())
def q_quantile_hist_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E27] The fourth mergeable sketch table — quantiles: fixed-
    boundary day-grain histograms (250×2.0 buckets, additive under
    count-sum like the HLL/bitmap/CMS tables) merged to month grain,
    with rank-interpolated p50/p90/p99 readout.  Error ≤ bucket width
    by construction; every step deterministic, so the estimates
    hash-match the oracle (operators/cardinality.quantile_hist_rollup)."""
    return quantile_hist_rollup(_events(spark, sf_dir))


# Probe list for the Bloom membership table: 25 ids that exist in every
# fixture (the generator's uid domain is dense from 0) and 25 that
# never will (offset 9M) — exercising both the no-false-negative
# guarantee and the false-positive surface.
BLOOM_PROBES = list(range(25)) + [9_000_000 + i for i in range(25)]


@query("q_bloom_membership", bloom_membership_oracle_sql(BLOOM_PROBES))
def q_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[E27] Bloom-filter membership table — the fifth mergeable sketch
    table: day-grain (day, word, bits) rows (16 longs/day, k=4 md5
    hashes) OR-merged to month, probed by a broadcast candidate list.
    Zero false negatives by construction; ~1% false positives at this
    fill; every bit deterministic, so the whole probe result
    hash-matches the oracle (operators/cardinality.bloom_membership)."""
    return bloom_membership(_events(spark, sf_dir), BLOOM_PROBES)
