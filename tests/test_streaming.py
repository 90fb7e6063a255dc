"""Streaming surface: file-stream CDC runner (exactly-once restart),
event-time windowed aggregation batch/stream parity, session windows.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pytest
from pyspark.sql import functions as F

from data_migration_etl_scripts_spark.catalog import Catalog
from data_migration_etl_scripts_spark.streaming import (
    stream_pipeline,
    stream_sessionize,
    windowed_event_aggregate,
)

TS = dt.datetime(2026, 1, 1)
EVENTS_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _mk_events(spark, rows):
    return spark.createDataFrame(rows, EVENTS_SCHEMA)


@pytest.fixture()
def cat(spark, tmp_path):
    return Catalog(spark, base_dir=str(tmp_path), scratch_dir=str(tmp_path / "out"))


def _event(i, minute, user=1, etype="view", value=1.0):
    return (i, dt.datetime(2026, 1, 1, 10, minute), user, etype, value)


def test_stream_pipeline_drains_and_is_exactly_once(spark, cat, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    _mk_events(spark, [_event(1, 0), _event(2, 1)]).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    def xform(df, ts):
        return df.withColumn("loaded_at", F.lit(ts))

    stream_pipeline(
        spark, cat, name="ev", source_dir=src, schema=EVENTS_SCHEMA,
        sink_table="EventsV2", transform=xform, batch_ts=TS,
    )
    assert cat.read("EventsV2").count() == 2

    # restart with NO new files: checkpoint makes it a no-op
    stream_pipeline(
        spark, cat, name="ev", source_dir=src, schema=EVENTS_SCHEMA,
        sink_table="EventsV2", transform=xform, batch_ts=TS,
    )
    assert cat.read("EventsV2").count() == 2

    # new file arrives -> only its rows are processed
    _mk_events(spark, [_event(3, 2)]).coalesce(1).write.mode("append").parquet(src)
    stream_pipeline(
        spark, cat, name="ev", source_dir=src, schema=EVENTS_SCHEMA,
        sink_table="EventsV2", transform=xform, batch_ts=TS,
    )
    out = cat.read("EventsV2")
    assert out.count() == 3
    assert out.where(F.col("loaded_at") == TS).count() == 3


def test_windowed_aggregate_stream_matches_batch(spark, cat, tmp_path):
    rows = [
        _event(1, 5, etype="view", value=2.0),
        _event(2, 10, etype="view", value=3.0),
        _event(3, 40, etype="buy", value=7.0),
        (4, dt.datetime(2026, 1, 1, 11, 5), 2, "view", 1.0),
    ]
    batch = _mk_events(spark, rows)
    expected = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in windowed_event_aggregate(batch, window_duration="30 minutes").collect()
    }
    assert expected[(dt.datetime(2026, 1, 1, 10, 0), "view")] == (2, 5.0)
    assert expected[(dt.datetime(2026, 1, 1, 10, 30), "buy")] == (1, 7.0)
    assert expected[(dt.datetime(2026, 1, 1, 11, 0), "view")] == (1, 1.0)

    # same aggregation through the streaming engine (availableNow drain,
    # complete mode into memory sink)
    src = str(tmp_path / "wsrc")
    batch.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
    agg = windowed_event_aggregate(stream, window_duration="30 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("wagg")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM wagg").collect()
    }
    assert got == expected


def test_stream_sessionize_batch_semantics(spark):
    rows = [
        _event(1, 0, user=1),
        _event(2, 10, user=1),   # same session (gap < 30m)
        _event(3, 59, user=1),   # new session
        _event(4, 0, user=2),
    ]
    out = stream_sessionize(_mk_events(spark, rows), gap="30 minutes").collect()
    per_user = {}
    for r in out:
        per_user.setdefault(r.user_id, []).append(r.n_events)
    assert sorted(per_user[1]) == [1, 2]
    assert per_user[2] == [1]


def test_stream_pipeline_gate_failure_blocks_commit(spark, cat, tmp_path):
    from data_migration_etl_scripts_spark.gates import require_no_nulls

    src = str(tmp_path / "gsrc")
    os.makedirs(src)
    _mk_events(spark, [_event(1, 0)]).coalesce(1).write.mode("append").parquet(src)

    def bad(df, ts):
        out = df.withColumn("fk", F.lit(None).cast("long"))
        return require_no_nulls(out, "fk", context="stream->dim")

    with pytest.raises(Exception):
        stream_pipeline(
            spark, cat, name="gated", source_dir=src, schema=EVENTS_SCHEMA,
            sink_table="GatedV2", transform=bad, batch_ts=TS,
        )
    assert not cat.exists("GatedV2")

    # after fixing the transform, the SAME batch replays (offsets were
    # not committed) — the streaming form of gate-abort-then-resume
    stream_pipeline(
        spark, cat, name="gated", source_dir=src, schema=EVENTS_SCHEMA,
        sink_table="GatedV2", transform=lambda df, ts: df, batch_ts=TS,
    )
    assert cat.read("GatedV2").count() == 1


def test_stateful_running_totals_across_restarts(spark, tmp_path):
    """applyInPandasWithState: per-user totals accumulate across
    micro-batches AND across query restarts (state checkpointed)."""
    from data_migration_etl_scripts_spark.streaming.stateful import (
        running_user_totals,
    )

    src = str(tmp_path / "ssrc")
    ckpt = str(tmp_path / "sckpt")
    out_dir = str(tmp_path / "sout")
    os.makedirs(src)

    def drain(qname):
        # foreachBatch parquet sink: supports checkpoint recovery
        # (the memory sink does not)
        stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out_dir)

        q = (
            running_user_totals(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = spark.read.parquet(out_dir).collect()
        latest = {}
        for r in rows:  # update mode: keep the most-advanced row per user
            cur = latest.get(r.user_id)
            if cur is None or r.n_events > cur[0]:
                latest[r.user_id] = (r.n_events, r.total_value)
        return latest

    _mk_events(spark, [_event(1, 0, user=1, value=2.0),
                       _event(2, 1, user=1, value=3.0),
                       _event(3, 2, user=2, value=5.0)]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    got = drain("stateful1")
    assert got[1] == (2, 5.0) and got[2] == (1, 5.0)

    # restart: new file, state carries over through the checkpoint
    _mk_events(spark, [_event(4, 3, user=1, value=10.0)]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    got = drain("stateful2")
    assert got[1] == (3, 15.0)  # 2 prior events + 1 new, totals accumulated


def test_stream_dedup_within_watermark(spark, tmp_path):
    from data_migration_etl_scripts_spark.streaming.windows import (
        stream_dedup_within_watermark,
    )

    src = str(tmp_path / "dsrc")
    out_dir = str(tmp_path / "dout")
    ckpt = str(tmp_path / "dckpt")
    os.makedirs(src)
    # event 1 appears twice (same id) within the watermark window
    _mk_events(spark, [_event(1, 0), _event(1, 1), _event(2, 2)]).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
    deduped = stream_dedup_within_watermark(stream, keys=("event_id",))

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out_dir)

    q = (
        deduped.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.read.parquet(out_dir).collect()
    assert sorted(r.event_id for r in rows) == [1, 2]  # duplicate dropped


def test_stream_pipeline_expectations_block_commit_then_resume(spark, cat, tmp_path):
    from data_migration_etl_scripts_spark.operators import expectations as ex

    src = str(tmp_path / "xsrc")
    os.makedirs(src)
    _mk_events(spark, [_event(1, 0, etype="weird")]).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    checks = lambda df: ex.expectation_report(  # noqa: E731
        df, row_checks={"etype_domain": ex.accepted_values("event_type", ["view", "buy"])}
    )
    with pytest.raises(Exception, match="etype_domain"):
        stream_pipeline(
            spark, cat, name="xgated", source_dir=src, schema=EVENTS_SCHEMA,
            sink_table="XGatedV2", batch_ts=TS, expectations=checks,
        )
    assert not cat.exists("XGatedV2")

    # relaxing the expectation replays the same uncommitted batch
    stream_pipeline(
        spark, cat, name="xgated", source_dir=src, schema=EVENTS_SCHEMA,
        sink_table="XGatedV2", batch_ts=TS,
        expectations=lambda df: ex.expectation_report(
            df, row_checks={"id_not_null": ex.not_null("event_id")}
        ),
    )
    assert cat.read("XGatedV2").count() == 1


# ----------------------------------- registry pipelines as streams (r4)

MODEL_SCHEMA = ("ModelID long, MakeID long, Name string, Year string,"
                " RecommendedLitres string, ImagePath string")


def test_registry_dimension_streams_end_to_end(spark, cat, tmp_path):
    """A registry config runs UNCHANGED as a file stream: same
    transform, same sink, file arrival instead of pk > watermark —
    output identical to the batch pipeline on the same rows."""
    from data_migration_etl_scripts_spark.pipelines import registry as rg
    from data_migration_etl_scripts_spark.streaming import (
        stream_incremental_pipeline,
    )

    src = str(tmp_path / "src_models")
    os.makedirs(src)
    wave1 = [(1, 1, " Corolla ", "2020", "4.5", "-1"),
             (2, 1, "Civic", "x", None, "c.png")]
    wave2 = [(3, 2, "NULL", None, "3.0", None)]
    spark.createDataFrame(wave1, MODEL_SCHEMA).coalesce(1).write.mode(
        "append").parquet(src)

    pipe = rg.build_dimension(cat, "models")
    stream_incremental_pipeline(spark, cat, pipe, src, MODEL_SCHEMA, batch_ts=TS)
    got = {r.OldModelID: r for r in cat.read("ModelsV2").collect()}
    assert set(got) == {1, 2}
    assert got[1].Name == "Corolla" and got[1].Year == 2020.0
    assert got[1].ImagePath is None and got[2].Year is None

    # second wave drains incrementally; restart with no files is a no-op
    spark.createDataFrame(wave2, MODEL_SCHEMA).coalesce(1).write.mode(
        "append").parquet(src)
    stream_incremental_pipeline(spark, cat, pipe, src, MODEL_SCHEMA, batch_ts=TS)
    stream_incremental_pipeline(spark, cat, pipe, src, MODEL_SCHEMA, batch_ts=TS)
    assert cat.read("ModelsV2").count() == 3

    # batch twin on the same rows -> identical cleaned values
    from data_migration_etl_scripts_spark.cdc import run_incremental

    batch_cat = Catalog(spark, base_dir=str(tmp_path / "b"),
                        scratch_dir=str(tmp_path / "b"))
    batch_cat.write(spark.createDataFrame(wave1 + wave2, MODEL_SCHEMA), "Model")
    run_incremental(batch_cat, rg.build_dimension(batch_cat, "models"),
                    batch_size=None, batch_ts=TS)
    want = {tuple(r) for r in batch_cat.read("ModelsV2").collect()}
    assert {tuple(r) for r in cat.read("ModelsV2").collect()} == want


def test_registry_gated_entity_stream_gate_blocks_then_resumes(spark, cat, tmp_path):
    """A GATED registry entity streamed: a dangling FK fails the query
    BEFORE the batch commits; after the lookup is fixed the rerun
    resumes from the checkpoint and loads the same wave."""
    from data_migration_etl_scripts_spark.pipelines import registry as rg
    from data_migration_etl_scripts_spark.streaming import (
        stream_incremental_pipeline,
    )
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import StreamingQueryException

    src = str(tmp_path / "src_bays")
    os.makedirs(src)
    bay_schema = "BayID long, BayName string, LocationID long"
    cat.write(
        spark.createDataFrame([(10, 5010)], "OldLocationID long, LocationID long"),
        "LocationsV2Lookup",
    )
    spark.createDataFrame(
        [(1, "Bay 1", 10), (2, "Bay 2", 99)], bay_schema
    ).coalesce(1).write.mode("append").parquet(src)

    pipe = rg.build_gated_entity(cat, "bays")
    with pytest.raises((StreamingQueryException, Py4JJavaError)):
        stream_incremental_pipeline(spark, cat, pipe, src, bay_schema, batch_ts=TS)
    assert not cat.exists("BaysV2")  # nothing committed

    # fix the lookup, rerun: checkpoint replays the uncommitted wave
    cat.write(
        spark.createDataFrame(
            [(10, 5010), (99, 5099)], "OldLocationID long, LocationID long"
        ),
        "LocationsV2Lookup",
        mode="overwrite",
    )
    stream_incremental_pipeline(spark, cat, pipe, src, bay_schema, batch_ts=TS)
    got = {r.BayID: r.NewLocationID for r in cat.read("BaysV2").collect()}
    assert got == {1: 5010, 2: 5099}


def test_stream_pipeline_checkpoint_loss_replay_does_not_duplicate(spark, cat, tmp_path):
    """Per-batch-dir sinks: replaying a committed wave (checkpoint lost
    — the worst stand-in for a crash between sink write and commit)
    must find the wave's commit record and skip it, never append
    duplicates, for the main AND extra sinks."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    _mk_events(spark, [_event(1, 0), _event(2, 1)]).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    extras = (("EventsMirror", lambda df: df.select("event_id", "user_id")),)
    kw = dict(name="evr", source_dir=src, schema=EVENTS_SCHEMA,
              sink_table="EventsV2R", batch_ts=TS, extra_sinks=extras)
    stream_pipeline(spark, cat, **kw)
    assert cat.read("EventsV2R").count() == 2
    assert cat.read("EventsMirror").count() == 2

    shutil.rmtree(os.path.join(cat.scratch_dir, "_checkpoints/evr"))
    stream_pipeline(spark, cat, **kw)
    assert cat.read("EventsV2R").count() == 2  # skipped, not appended
    assert cat.read("EventsMirror").count() == 2
