"""Incremental materialized-aggregate maintenance + the streaming MERGE
sink: incremental results must equal full recomputation, and replays must
not change observable table content."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datalake_brief_spark.catalog import load_table
from datalake_brief_spark.operators import incremental
from datalake_brief_spark.sources import txlog
from datalake_brief_spark.streaming import merge_stream_to_txlog, stream_events

from tests.conftest import SF_SMOKE


def _full_agg(spark, src):
    return {
        (r.event_type,): (r.n, round(r.value, 4))
        for r in txlog.read(spark, src)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("value"))
        .collect()
    }


def _mv_agg(spark, mv):
    return {
        (r.event_type,): (r.n, round(r.value, 4))
        for r in incremental.read_aggregate(spark, mv, ["value"]).collect()
    }


class TestIncrementalAggregate:
    def test_incremental_refresh_equals_full_recompute(self, spark, tmp_path):
        src, mv = str(tmp_path / "src"), str(tmp_path / "mv")
        ev = load_table(spark, SF_SMOKE, "events").select(
            "event_id", "ts", "event_type", "value"
        )
        first, second = ev.filter("event_id % 2 = 0"), ev.filter("event_id % 2 = 1")

        txlog.append(first, src)
        v = incremental.refresh(spark, src, mv, ["event_type"], ["value"])
        assert v == txlog.current_version(src)
        assert _mv_agg(spark, mv) == _full_agg(spark, src)

        # append + latest-wins merge (some updated rows) → one delta refresh
        txlog.append(second, src)
        updates = first.limit(50).withColumn("value", F.col("value") + 1000.0)
        txlog.merge(spark, src, updates, ["event_id"], "value")
        incremental.refresh(spark, src, mv, ["event_type"], ["value"])
        assert _mv_agg(spark, mv) == _full_agg(spark, src)

    def test_refresh_is_noop_when_source_unmoved(self, spark, tmp_path):
        src, mv = str(tmp_path / "src"), str(tmp_path / "mv")
        ev = load_table(spark, SF_SMOKE, "events").select("event_id", "event_type", "value")
        txlog.append(ev, src)
        incremental.refresh(spark, src, mv, ["event_type"], ["value"])
        mv_v = txlog.current_version(mv)
        incremental.refresh(spark, src, mv, ["event_type"], ["value"])
        assert txlog.current_version(mv) == mv_v  # no new commit

    def test_keys_vanish_when_all_rows_deleted(self, spark, tmp_path):
        src, mv = str(tmp_path / "src"), str(tmp_path / "mv")
        rows = spark.createDataFrame(
            [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0)], ["id", "k", "v"]
        )
        txlog.append(rows, src)
        incremental.refresh(spark, src, mv, ["k"], ["v"])
        # overwrite drops key "b" entirely — its aggregate row must vanish
        txlog.overwrite(rows.filter("k = 'a'"), src)
        incremental.refresh(spark, src, mv, ["k"], ["v"])
        got = {
            r.k: (r.n, r.v)
            for r in incremental.read_aggregate(spark, mv, ["v"]).collect()
        }
        assert got == {"a": (2, 3.0)}

    def test_first_refresh_of_dv_source_skips_deleted_rows(self, spark, tmp_path):
        src, mv = str(tmp_path / "src"), str(tmp_path / "mv")
        rows = spark.range(10).select(
            "id", (F.col("id") % 2).alias("k"), F.lit(4.0).alias("v")
        )
        txlog.append(rows, src)
        txlog.delete_where_dv(spark, src, "id = 0")
        incremental.refresh(spark, src, mv, ["k"], ["v"])
        got = {
            r.k: (r.n, r.v)
            for r in incremental.read_aggregate(spark, mv, ["v"]).collect()
        }
        assert got == {0: (4, 16.0), 1: (5, 20.0)}


class TestStreamingMergeSink:
    @pytest.fixture()
    def events_dir(self, spark, tmp_path):
        out = str(tmp_path / "events_stream")
        load_table(spark, SF_SMOKE, "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        ).repartition(4).write.parquet(out)
        return out

    def test_stream_merge_matches_batch_latest_wins(self, spark, events_dir, tmp_path):
        table, ckpt = str(tmp_path / "tbl"), str(tmp_path / "ckpt")
        q = merge_stream_to_txlog(
            stream_events(spark, events_dir),
            table,
            keys=["user_id"],
            order_col="ts",
            checkpoint_dir=ckpt,
        )
        q.awaitTermination(120)

        batch = spark.read.parquet(events_dir)
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy(F.col("ts").desc())
        want = {
            (r.user_id, r.ts, r.event_id)
            for r in batch.withColumn("__rn", F.row_number().over(w))
            .filter("__rn = 1")
            .collect()
        }
        got = {
            (r.user_id, r.ts, r.event_id)
            for r in txlog.read(spark, table).collect()
        }
        # latest-wins keyed on user_id: same per-user latest ts; event_id can
        # differ only on exact-ts ties, so compare (user, ts) projections
        assert {g[:2] for g in got} == {wn[:2] for wn in want}

    def test_replay_with_fresh_checkpoint_is_content_idempotent(
        self, spark, events_dir, tmp_path
    ):
        table = str(tmp_path / "tbl")
        for ckpt in ("ckpt1", "ckpt2"):  # second run replays every file
            q = merge_stream_to_txlog(
                stream_events(spark, events_dir),
                table,
                keys=["user_id"],
                order_col="ts",
                checkpoint_dir=str(tmp_path / ckpt),
            )
            q.awaitTermination(120)
            if ckpt == "ckpt1":
                first = {(r.user_id, r.ts) for r in txlog.read(spark, table).collect()}
        second = {(r.user_id, r.ts) for r in txlog.read(spark, table).collect()}
        assert second == first  # replayed merges re-assert, never duplicate


class TestEndToEndPipeline:
    def test_stream_to_table_to_materialized_aggregate(self, spark, tmp_path):
        """The full lakehouse loop: files stream in → atomic MERGE commits
        onto the txlog table → incremental MV refresh off the change feed.
        The MV must equal a from-scratch aggregate of the final table after
        each landing wave."""
        src_dir = str(tmp_path / "landing")
        table, mv = str(tmp_path / "tbl"), str(tmp_path / "mv")
        ev = load_table(spark, SF_SMOKE, "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        ev.filter("event_id % 2 = 0").repartition(2).write.parquet(src_dir)

        def drain(ckpt):
            q = merge_stream_to_txlog(
                stream_events(spark, src_dir),
                table,
                keys=["event_id"],
                order_col="ts",
                checkpoint_dir=str(tmp_path / ckpt),
            )
            q.awaitTermination(120)

        drain("ckpt")
        incremental.refresh(spark, table, mv, ["event_type"], ["value"])
        assert _mv_agg(spark, mv) == _full_agg(spark, table)

        # second wave of files lands into the same stream directory
        ev.filter("event_id % 2 = 1").repartition(2).write.mode("append").parquet(
            src_dir
        )
        drain("ckpt")  # same checkpoint: only the new files process
        incremental.refresh(spark, table, mv, ["event_type"], ["value"])
        assert _mv_agg(spark, mv) == _full_agg(spark, table)


class TestStreamingAggregateUpsert:
    def test_windowed_counts_upsert_into_txlog_matches_batch(self, spark, tmp_path):
        """The streaming-materialized-view shape with no extra operator:
        windowed counts in update mode emit a row each time a window's
        count grows; merge_stream_to_txlog keyed on the window with
        order_col=n keeps the max (= latest) count per window, so after the
        drain the table equals the batch aggregate. Works because counts
        are monotone per key — latest-wins and max-wins coincide."""
        from datalake_brief_spark.streaming import windowed_counts

        src = str(tmp_path / "events_stream")
        load_table(spark, SF_SMOKE, "events").select(
            "event_id", "ts", "event_type", "value"
        ).repartition(4).write.parquet(src)
        table = str(tmp_path / "wintbl")

        agg = windowed_counts(stream_events(spark, src), window="1 hour")
        q = merge_stream_to_txlog(
            agg.drop("total_value"),  # keep the monotone measure only
            table,
            keys=["window_start", "event_type"],
            order_col="n",
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)

        got = {
            (str(r.window_start), r.event_type): r.n
            for r in txlog.read(spark, table).collect()
        }
        batch = (
            spark.read.parquet(src)
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        want = {(str(r.w.start), r.event_type): r.n for r in batch.collect()}
        assert got == want


class TestStreamingAppendSink:
    """Exactly-once APPEND via the epoch-in-commit-meta watermark (the
    txnAppId/txnVersion idempotent-writer contract)."""

    def test_replayed_epoch_is_skipped(self, spark, tmp_path):
        from datalake_brief_spark.streaming import apply_append_batch

        table = str(tmp_path / "tbl")
        b0 = spark.range(0, 5).withColumnRenamed("id", "k")
        b1 = spark.range(5, 8).withColumnRenamed("id", "k")
        assert apply_append_batch(b0, table, "appA", 0) is True
        # crash-between-sink-and-checkpoint: the SAME epoch replays
        assert apply_append_batch(b0, table, "appA", 0) is False
        assert apply_append_batch(b1, table, "appA", 1) is True
        got = sorted(r.k for r in txlog.read(spark, table).collect())
        assert got == list(range(8))  # no duplicates from the replay

    def test_app_ids_are_tracked_independently(self, spark, tmp_path):
        from datalake_brief_spark.streaming import apply_append_batch

        table = str(tmp_path / "tbl")
        a = spark.range(0, 3).withColumnRenamed("id", "k")
        b = spark.range(10, 13).withColumnRenamed("id", "k")
        assert apply_append_batch(a, table, "appA", 0) is True
        # a DIFFERENT writer's epoch 0 must still land
        assert apply_append_batch(b, table, "appB", 0) is True
        assert apply_append_batch(a, table, "appA", 0) is False
        assert txlog.read(spark, table).count() == 6

    def test_stream_appends_exactly_once_across_restart(
        self, spark, tmp_path
    ):
        """Live availableNow stream, then a restart with a FRESH checkpoint
        (forcing a full source replay): the epoch watermark alone must stop
        the duplicates a plain append sink would produce."""
        from datalake_brief_spark.streaming import append_stream_to_txlog

        src = str(tmp_path / "src")
        load_table(spark, SF_SMOKE, "events").select(
            "event_id", "ts", "event_type", "value"
        ).limit(200).repartition(2).write.parquet(src)
        schema = spark.read.parquet(src).schema
        table = str(tmp_path / "tbl")
        for ckpt in ("c1", "c2"):
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            q = append_stream_to_txlog(
                stream, table, str(tmp_path / ckpt), txn_app_id="ingest"
            )
            q.awaitTermination(120)
        got = txlog.read(spark, table)
        assert got.count() == 200
        assert got.select("event_id").distinct().count() == 200
