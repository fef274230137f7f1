"""Batch/stream equivalence + sink semantics tests (SURVEY.md §7 Phase 3).

The reference's test strategy — fixed inputs through the real topology,
exact expected outputs — applied to the streaming path: the same transform
functions that pass the batch oracle must produce identical results under
micro-batched execution, and replayed batches must not duplicate output.
"""

from __future__ import annotations

import glob
import tempfile

from pyspark.sql import functions as F

from kafka_streams_dexcom_spark.operators import core as ops
from kafka_streams_dexcom_spark.queries.core import ranges_df
from kafka_streams_dexcom_spark.streaming import jobs
from kafka_streams_dexcom_spark.streaming.harness import (
    assert_batch_stream_equivalent,
    run_stream,
    run_stream_foreach_batch,
)
from kafka_streams_dexcom_spark.streaming.sinks import (
    EsBulkFileSink,
    IdempotentParquetSink,
    fan_out,
    with_stable_id,
)


def _egv_json_stream_df(spark):
    rows = [
        ("robert", '{"value": 65}'),
        ("robert", '{"value": 100}'),
        ("robert", '{"value": 265}'),
        ("robert", '{"value": 250}'),
        ("robert", '{"other": 1}'),  # missing value → 0 → dropped by filter
        ("robert", "not json"),
    ]
    return spark.createDataFrame(rows, "key string, value string")


def test_filter_topology_batch_stream_equivalent(spark):
    assert_batch_stream_equivalent(
        spark, _egv_json_stream_df(spark), jobs.filter_high_topology
    )


def test_categorize_topology_batch_stream_equivalent(spark):
    branches = jobs.categorize_simple_branches()
    assert_batch_stream_equivalent(
        spark, _egv_json_stream_df(spark), branches["are-values-in-range"]
    )


def test_interval_join_batch_stream_equivalent(spark):
    egvs = spark.createDataFrame(
        [
            ("robert", "2020-11-02T02:00:00", 75),
            ("robert", "2020-11-02T12:00:00", 100),
            ("robert", "2020-11-02T19:00:00", 265),
        ],
        "key string, systemTime string, value int",
    )
    run_batch = jobs.ktable_lookup_topology(lambda: ranges_df(spark))
    batch_rows = run_batch(egvs, 0).collect()
    stream_rows = run_stream_foreach_batch(spark, egvs, run_batch)
    key = lambda r: tuple(str(v) for v in r)  # noqa: E731
    assert sorted(batch_rows, key=key) == sorted(stream_rows, key=key)


def test_ktable_lookup_emits_one_row_per_record(spark):
    """The reference emits one output per input record
    (EgvTransformer.java:51): duplicate (key, systemTime) records,
    same-second records of different users and records on every range
    boundary all come out once, in batch and micro-batched alike."""
    stamps = [
        "00:00:00", "05:59:59", "05:59:59.5", "06:00:00", "06:00:00.5",
        "21:59:59", "21:59:59.5", "22:00:00", "23:59:59", "23:59:59.5Z",
    ]
    rows = [(user, f"2020-11-02T{t}", 100) for t in stamps for user in ("a", "b")]
    rows += [("a", "2020-11-02T12:00:00", 100)] * 3  # exact duplicates
    egvs = spark.createDataFrame(rows, "key string, systemTime string, value int")
    run_batch = jobs.ktable_lookup_topology(lambda: ranges_df(spark))
    batch_rows = run_batch(egvs, 0).collect()
    stream_rows = run_stream_foreach_batch(spark, egvs, run_batch)
    key = lambda r: tuple(str(v) for v in r)  # noqa: E731
    assert len(batch_rows) == len(stream_rows) == len(rows)
    assert sorted(batch_rows, key=key) == sorted(stream_rows, key=key)
    assert sorted((r.key, r.systemTime, r.value) for r in batch_rows) == sorted(
        rows
    )
    assert all(r.in_range == "true" for r in batch_rows)  # every second is covered


def test_fan_out_single_pass_two_sinks(spark):
    """P4: one source batch feeds both output 'topics'."""
    outs: dict[str, list] = {"integer-values": [], "are-values-in-range": []}
    branches = jobs.categorize_simple_branches()
    writers = {
        name: (lambda n: lambda df, bid: outs[n].extend(df.collect()))(name)
        for name in branches
    }
    with tempfile.TemporaryDirectory() as d:
        src = _egv_json_stream_df(spark)
        src.coalesce(1).write.mode("append").parquet(f"{d}/in")
        stream = (
            spark.readStream.schema(src.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/in")
        )
        q = (
            fan_out(stream, branches, writers, f"{d}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    assert len(outs["integer-values"]) == 6
    assert len(outs["are-values-in-range"]) == 6
    in_range = [r.in_range for r in outs["are-values-in-range"]]
    assert in_range.count("true") == 1  # only value=100 is in 75..180


def test_idempotent_sink_replay_no_duplicates(spark):
    with tempfile.TemporaryDirectory() as d:
        sink = IdempotentParquetSink(f"{d}/out")
        batch = spark.createDataFrame(
            [(1, "a"), (2, "b")], "id long, v string"
        )
        sink(batch, 7)
        sink(batch, 7)  # replay of the same epoch (failure recovery)
        got = spark.read.parquet(f"{d}/out")
        assert got.count() == 2  # not 4: replay overwrote its partition
        sink(batch, 8)  # a new epoch appends
        assert spark.read.parquet(f"{d}/out").count() == 4


def test_stable_id_matches_reference_recipe(spark):
    # ElasticSearchConsumer.java:45: id = topic + "_" + partition + "_" + offset
    df = spark.createDataFrame(
        [("egvs", 3, 42, "x")], "topic string, partition int, offset long, v string"
    )
    assert with_stable_id(df).collect()[0].doc_id == "egvs_3_42"


def test_es_bulk_file_sink_writes_bulk_ndjson(spark):
    with tempfile.TemporaryDirectory() as d:
        sink = EsBulkFileSink(f"{d}/bulk")
        batch = spark.createDataFrame(
            [("egvs", 0, 1, 250), ("egvs", 0, 2, 100)],
            "topic string, partition int, offset long, value int",
        )
        sink(batch, 0)
        lines = []
        for f in glob.glob(f"{d}/bulk/**/*.txt", recursive=True):
            with open(f) as fh:
                lines.extend(l for l in fh.read().splitlines() if l)
        assert len(lines) == 4  # 2 records × (action + doc)
        assert any('"_id": "egvs_0_1"' in l or '"_id":"egvs_0_1"' in l for l in lines)


def test_observe_metrics_per_batch(spark):
    """One-pass pipeline monitoring via Dataset.observe: per-micro-batch
    aggregates (row count, out-of-range count) surface in the query
    progress WITHOUT a second pass or a separate metrics job — the
    streaming ops dashboard feed (the reference logs every record
    instead; observe is the scale-safe equivalent)."""
    import tempfile

    from pyspark.sql import functions as F

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(i, float(i * 10)) for i in range(20)],
            "id long, value double",
        ).write.mode("overwrite").parquet(f"{d}/in")
        s = spark.readStream.schema("id long, value double").parquet(
            f"{d}/in"
        )
        obs = s.observe(
            "egv_metrics",
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((F.col("value") >= 100).cast("long")).alias("n_high"),
        )
        q = (
            obs.writeStream.format("noop")
            .option("checkpointLocation", f"{d}/ck")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        metrics = [
            p["observedMetrics"]["egv_metrics"]
            for p in q.recentProgress
            if "egv_metrics" in (p.get("observedMetrics") or {})
        ]
    assert sum(m["n_rows"] for m in metrics) == 20
    assert sum(m["n_high"] for m in metrics) == 10


def test_fan_out_rejects_mismatched_writer_keys(spark):
    import pytest

    from kafka_streams_dexcom_spark.streaming.sinks import fan_out

    with pytest.raises(ValueError, match="key mismatch"):
        fan_out(
            None,
            {"hot": lambda d: d, "cold": lambda d: d},
            {"hot": lambda d, b: None},
            "/tmp/unused_ckpt",
        )


def test_es_bulk_document_excludes_kafka_transport_columns(spark):
    import json

    from pyspark.sql import functions as F

    from kafka_streams_dexcom_spark.streaming.sinks import (
        es_bulk_lines,
        with_stable_id,
    )

    df = spark.createDataFrame(
        [("k1", '{"value": 212}', "egvs", 0, 42, "2024-01-01 00:00:00")],
        "key string, value string, topic string, partition int, "
        "offset long, kafka_ts string",
    ).withColumn("kafka_ts", F.col("kafka_ts").cast("timestamp"))
    lines = es_bulk_lines(with_stable_id(df)).collect()[0]["bulk_lines"]
    action, doc = lines.split("\n")
    assert json.loads(action)["index"]["_id"] == "egvs_0_42"
    body = json.loads(doc)
    # the reference indexes only the record value (+ key); transport
    # coordinates must not leak into the document
    assert set(body) <= {"key", "value"}
    assert body["value"] == '{"value": 212}'
