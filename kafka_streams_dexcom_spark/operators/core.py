"""Core parity operators (SURVEY.md §2), expressed as declarative
DataFrame transforms so Catalyst supplies pushdown/pruning/codegen.

Every function is ``DataFrame -> DataFrame`` (the reference's topologies are
injectable functions over streams, tested headlessly — the same shape works
under batch and Structured Streaming here).

Scale notes (100 TB):
- filter/project/categorize are narrow (no shuffle); the predicates are
  Catalyst expressions so they push into the parquet/Kafka scan.
- the interval lookup runs scan-side wherever the ranges dimension fits
  on the driver (interval_lookup_categorize_scan: ranges inlined as a
  literal, first match picked per record inside the projection — no
  join, no shuffle, one output per input). The batch flagship query and
  the P5 streaming topology (streaming.jobs.ktable_lookup_topology,
  which collects the reloaded dimension each micro-batch) both use it.
- the interval JOIN variants are for dimensions too big to inline:
  interval_join_categorize broadcasts the ranges into a
  BroadcastNestedLoopJoin, whose first-match election IS one hash
  shuffle + sort of the joined stream on __event_pk (the row_number
  window); interval_join_bucketized turns the lookup into a
  shuffle-partitionable equi-join.
- latest_per_key / dedup shuffle once on the key — unavoidable (it is the
  groupBy key) — and AQE handles skew. For repeated use, bucket the table
  by the key to amortize the shuffle across queries.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_streams_dexcom_spark.functions.json import json_int_or_zero
from kafka_streams_dexcom_spark.schemas import RANGE_SCHEMA

_RANGES_TYPE = T.ArrayType(RANGE_SCHEMA)


def filter_at_least(df: DataFrame, value_col: str, threshold: float) -> DataFrame:
    """Keep rows with value >= threshold (inclusive, reference
    StreamsFilterEgvs.java:30)."""
    return df.filter(F.col(value_col) >= F.lit(threshold))


def filter_at_least_json(
    df: DataFrame, json_col: str, path: str, threshold: int
) -> DataFrame:
    """Schema-on-read filter over a raw JSON string column; a missing or
    unparseable field counts as 0 (reference StreamsFilterEgvs.java:43-52)."""
    return df.filter(json_int_or_zero(json_col, path) >= F.lit(threshold))


def categorize(value: Column, lower: int, upper: int) -> Column:
    """Inclusive-bounds in-range flag, as the *string* "true"/"false" the
    reference emits (CategorizeWithSimpleRule.java:67-68 — string output,
    SURVEY.md §2.6 #1)."""
    return F.when(value.between(lower, upper), F.lit("true")).otherwise(
        F.lit("false")
    )


def categorize_simple(
    df: DataFrame, value_col: str, lower: int = 75, upper: int = 180
) -> DataFrame:
    """P4 semantics: constant-rule categorization, 75 <= x <= 180
    (CategorizeWithSimpleRule.java:67-68)."""
    return df.withColumn("in_range", categorize(F.col(value_col), lower, upper))


def latest_per_key(
    df: DataFrame, key_cols: Sequence[str], order_col: str | Column
) -> DataFrame:
    """KTable upsert view: latest record per key
    (reference: CategorizeWithKTableLookup.java:60-62, Materialized store).

    One shuffle on the key; ties broken by ``order_col`` descending. On a
    changelog source, ``order_col`` is the Kafka offset — strictly
    monotonic per partition, so the result is the true upsert state.
    ``order_col`` may be a column name or an arbitrary Column expression
    (e.g. a composite (ts, seq) struct) — this is the single upsert
    election; variants like CDC tombstones compose on top of it.
    """
    order = F.col(order_col) if isinstance(order_col, str) else order_col
    w = Window.partitionBy(*key_cols).orderBy(order.desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_first_per_id(
    df: DataFrame, id_cols: Sequence[str], order_col: str
) -> DataFrame:
    """Keep the first record per stable id — deterministic version of the
    reference's idempotent-sink dedup (ES doc id = topic_partition_offset,
    ElasticSearchConsumer.java:45): re-deliveries of the same id collapse
    to one row."""
    w = Window.partitionBy(*id_cols).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def interval_join(
    events: DataFrame,
    ranges: DataFrame,
    tod_col: Column,
    how: str = "left",
) -> DataFrame:
    """Stream-table interval lookup join on time-of-day
    (reference: EgvTransformer.java:38-84 — full scan of the ranges store
    per record, inclusive bounds, first match in store order, no match →
    null enrichment).

    Spark-first: a non-equi join with an explicit ``broadcast`` on the
    dimension → BroadcastNestedLoopJoin, the vectorized analog of the
    reference's per-record store scan. First-match semantics are made
    deterministic by keeping the lowest ``range_id`` per event
    (SURVEY.md §2.6 #6); unmatched events keep null bounds (left join,
    §2.6 #4).

    ``tod_col`` must be a fixed-width "HH:mm:ss" string so the range
    predicate is a plain string comparison.
    """
    e = events.withColumn("__tod", tod_col)
    cond = (F.col("__tod") >= F.col("start_time")) & (
        F.col("__tod") <= F.col("end_time")
    )
    joined = e.join(F.broadcast(ranges), cond, how)
    # first-match: at most one range per event, lowest range_id wins
    w = Window.partitionBy("__event_pk").orderBy(
        F.col("range_id").asc_nulls_last()
    )
    if "__event_pk" not in e.columns:
        # caller supplies a pk column name; default to a best-effort pk
        raise ValueError("events must carry an __event_pk column")
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__tod")
    )


def interval_join_categorize(
    events: DataFrame,
    ranges: DataFrame,
    tod_col: Column,
    value_col: str,
) -> DataFrame:
    """P5 pipeline: interval lookup join, then per-row-bounds
    categorization ``lower_bound <= value <= upper_bound`` → "true"/"false"
    (reference: CategorizeWithKTableLookup.java:69-75). Unmatched rows get
    in_range = null (left-join policy, documented §2.6 #4)."""
    joined = interval_join(events, ranges, tod_col, how="left")
    return joined.withColumn(
        "in_range",
        in_range_or_null(
            F.col(value_col), F.col("lower_bound"), F.col("upper_bound")
        ),
    )


def interval_lookup_categorize_scan(
    events: DataFrame,
    ranges_rows: Sequence[tuple],
    tod_col: Column,
    value_col: str,
) -> DataFrame:
    """Scan-side variant of :func:`interval_join_categorize` for a small,
    driver-known ranges dimension: the ranges are inlined as an
    array<struct> literal and the first match is found with
    array_min(filter(...)), once per record — a pure narrow projection
    that emits exactly one row per input row.

    Zero shuffle, zero join: at 100 TB the fact side streams through the
    scan untouched. This is exactly the reference's execution strategy
    (per-record scan of a tiny in-memory store, EgvTransformer.java:51-81)
    vectorized — and struct order starts at range_id, so the minimum
    match is the deterministic lowest-range_id first-match (§2.6 #6).
    ``ranges_rows`` are (range_id, start_time, end_time, lower_bound,
    upper_bound) tuples; an empty dimension matches nothing. Use the join
    variant when the dimension is too big to inline/broadcast.
    """
    ranges_lit = F.array(
        *[F.struct(*[F.lit(v) for v in r]) for r in ranges_rows]
    ).cast(_RANGES_TYPE)  # typed, so an empty dimension still resolves
    tod = F.col("__tod")
    first = F.array_min(
        F.filter(
            ranges_lit,
            lambda r: (tod >= r.start_time) & (tod <= r.end_time),
        )
    )
    return (
        events.withColumn("__tod", tod_col)
        .withColumn("__match", first)
        .withColumns(
            {f: F.col("__match").getField(f) for f in RANGE_SCHEMA.names}
        )
        .withColumn(
            "in_range",
            in_range_or_null(
                F.col(value_col),
                F.col("lower_bound"),
                F.col("upper_bound"),
            ),
        )
        .drop("__tod", "__match")
    )


def categorize_from_bounds(
    value: Column, lower: Column, upper: Column
) -> Column:
    """Per-row-bounds inclusive categorize (CategorizeWithKTableLookup.java:74)."""
    return F.when((value >= lower) & (value <= upper), F.lit("true")).otherwise(
        F.lit("false")
    )


def in_range_or_null(
    value: Column, lower: Column, upper: Column
) -> Column:
    """The matched/unmatched categorization policy (§2.6 #4) in ONE
    place: null bounds (no matching range) → null in_range; otherwise
    the inclusive-bounds "true"/"false" string. Every interval-lookup
    variant (join, scan, bucketized) uses this, so the no-match
    semantics cannot silently diverge between them."""
    return F.when(
        lower.isNull(), F.lit(None).cast("string")
    ).otherwise(categorize_from_bounds(value, lower, upper))


def envelope_explode(env_df: DataFrame, egvs_col: str = "egvs") -> DataFrame:
    """Flatten the REST envelope's array-of-struct into per-EGV rows
    (reference iterates response.egvs, ProducerDexcom.java:37-41). Narrow
    op — no shuffle; generator output stays inside whole-stage codegen."""
    other = [c for c in env_df.columns if c != egvs_col]
    return env_df.select(*other, F.explode(F.col(egvs_col)).alias("egv")).select(
        *other, "egv.*"
    )


def _tod_seconds(c: Column) -> Column:
    """Seconds-of-day of a fixed-width 'HH:mm:ss' string."""
    p = F.split(c, ":")
    return (
        p.getItem(0).cast("int") * 3600
        + p.getItem(1).cast("int") * 60
        + p.getItem(2).cast("int")
    )


def interval_join_bucketized(
    events: DataFrame,
    ranges: DataFrame,
    tod_col: Column,
    bucket_seconds: int = 3600,
    how: str = "left",
) -> DataFrame:
    """Equi-join scale path for :func:`interval_join` — the knob SCALE.md
    names for a ranges dimension too large to broadcast: each range
    explodes into every time bucket it overlaps (dimension-side blowup
    only: #ranges × covered buckets), each event maps to ONE bucket, and
    the join becomes a plain equi-join on the bucket key with the
    interval containment as a residual predicate — shuffle-partitionable
    on both sides, no BroadcastNestedLoopJoin, no per-record dimension
    scan. Same first-match/left-join semantics as interval_join
    (reference: EgvTransformer.java:38-84).

    ``bucket_seconds`` trades dimension replication (ranges spanning
    many buckets) against per-bucket range fan-in; at 100 TB pick it
    near the median range width so each probe meets O(1) candidates."""
    if "__event_pk" not in events.columns:
        raise ValueError("events must carry an __event_pk column")
    e = events.withColumn("__tod", tod_col).withColumn(
        "__bkt", F.floor(_tod_seconds(F.col("__tod")) / bucket_seconds)
    )
    r = ranges.withColumn(
        "__rbkt",
        F.explode(
            F.sequence(
                F.floor(_tod_seconds(F.col("start_time")) / bucket_seconds),
                F.floor(_tod_seconds(F.col("end_time")) / bucket_seconds),
            )
        ),
    )
    cond = (
        (F.col("__bkt") == F.col("__rbkt"))
        & (F.col("__tod") >= F.col("start_time"))
        & (F.col("__tod") <= F.col("end_time"))
    )
    joined = e.join(r, cond, how)
    w = Window.partitionBy("__event_pk").orderBy(
        F.col("range_id").asc_nulls_last()
    )
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__tod", "__bkt", "__rbkt")
    )
