"""txlog as a Spark data source (streaming/source.py): batch/time-travel
parity with txlog.read, incremental streaming over the commit log, the
Delta-shaped change-commit semantics, the change-feed stream's parity with
table_changes, rate caps, schema tracking and the expired-log floor."""

from __future__ import annotations

import collections
import os

import pytest
from pyspark.sql import functions as F

from datalake_brief_spark.sources import txlog
from datalake_brief_spark.streaming.source import register_txlog_source


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, v string")


def _batch(spark, n=10, tag=0):
    return (
        spark.range(n)
        .withColumnRenamed("id", "k")
        .withColumn("batch", F.lit(tag).cast("int"))
    )


@pytest.fixture()
def table(spark, tmp_path):
    register_txlog_source(spark)
    path = str(tmp_path / "t")
    txlog.append(_df(spark, [(1, "a"), (2, "b")]), path)
    txlog.append(_df(spark, [(3, "c")]), path)
    return path


class TestBatchSource:
    def test_batch_read_equals_snapshot_read(self, spark, table):
        via_source = spark.read.format("txlog").option("path", table).load()
        via_api = txlog.read(spark, table)
        assert sorted(map(tuple, via_source.collect())) == sorted(
            map(tuple, via_api.collect())
        )
        assert via_source.schema.simpleString() == "struct<id:bigint,v:string>"

    def test_time_travel_option(self, spark, table):
        v1 = spark.read.format("txlog").options(path=table, version="1").load()
        assert sorted(r.id for r in v1.collect()) == [1, 2]

    @pytest.mark.parametrize(
        "evolve", ["add_column", "widen_column_type", "drop_column"]
    )
    def test_time_travel_renders_that_versions_schema(
        self, spark, tmp_path, evolve
    ):
        """option("version") resolves the schema, the column mapping and
        the initial defaults AT that version: a later add_column (with a
        default), widening or drop must not leak into the old snapshot."""
        register_txlog_source(spark)
        path = str(tmp_path / "t")
        txlog.append(
            spark.createDataFrame([(1, 2, "a")], "id long, n int, v string"),
            path,
        )
        if evolve == "add_column":
            txlog.add_column(spark, path, "c", "string", default="'dflt'")
        elif evolve == "widen_column_type":
            txlog.widen_column_type(path, "n", "bigint")
        else:
            txlog.drop_column(path, "v")
        via_source = spark.read.format("txlog").options(path=path, version="1").load()
        via_api = txlog.read(spark, path, version=1)
        assert via_source.dtypes == via_api.dtypes
        assert sorted(map(tuple, via_source.collect())) == sorted(
            map(tuple, via_api.collect())
        )

    def test_evolved_column_reads_null_for_old_files(self, spark, tmp_path):
        register_txlog_source(spark)
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "a")]), path)
        txlog.append(
            spark.createDataFrame([(2, "b", 9)], "id long, v string, n long"),
            path,
            merge_schema=True,
        )
        got = {
            r.id: r.n
            for r in spark.read.format("txlog").option("path", path).load().collect()
        }
        assert got == {1: None, 2: 9}


class TestStreamSource:
    def test_stream_delivers_commits_incrementally(self, spark, table, tmp_path):
        stream = spark.readStream.format("txlog").option("path", table).load()
        q = (
            stream.writeStream.format("memory")
            .queryName("txsrc1")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        try:
            q.processAllAvailable()
            got = {r.id for r in spark.sql("SELECT * FROM txsrc1").collect()}
            assert got == {1, 2, 3}  # the backlog
            txlog.append(_df(spark, [(4, "d")]), table)
            q.processAllAvailable()
            got = {r.id for r in spark.sql("SELECT * FROM txsrc1").collect()}
            assert got == {1, 2, 3, 4}  # exactly the new commit's rows
        finally:
            q.stop()

    def test_optimize_is_invisible_to_the_stream(self, spark, table, tmp_path):
        """Compaction rewrites rows the stream already delivered — its adds
        must not re-emit (dataChange=false semantics)."""
        stream = spark.readStream.format("txlog").option("path", table).load()
        q = (
            stream.writeStream.format("memory")
            .queryName("txsrc2")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        try:
            q.processAllAvailable()
            txlog.optimize(spark, table, target_file_bytes=1 << 30)
            q.processAllAvailable()
            rows = spark.sql("SELECT * FROM txsrc2").collect()
            assert len(rows) == 3  # no duplicates from the rewrite
        finally:
            q.stop()

    def test_change_commit_fails_unless_skipped(self, spark, table, tmp_path):
        txlog.delete_where(spark, table, "id = 2")
        stream = spark.readStream.format("txlog").option("path", table).load()
        q = (
            stream.writeStream.format("memory")
            .queryName("txsrc3")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        try:
            with pytest.raises(Exception, match="skipChangeCommits"):
                q.processAllAvailable()
        finally:
            q.stop()
        # with the flag: the DELETE commit is skipped wholesale, later
        # appends still flow
        txlog.append(_df(spark, [(9, "z")]), table)
        stream2 = (
            spark.readStream.format("txlog")
            .options(path=table, skipChangeCommits="true")
            .load()
        )
        q2 = (
            stream2.writeStream.format("memory")
            .queryName("txsrc4")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck2"))
            .start()
        )
        try:
            q2.processAllAvailable()
            got = {r.id for r in spark.sql("SELECT * FROM txsrc4").collect()}
            # inserts-only view: original appends + the new one; the DELETE
            # commit (rewrite of the survivor file) is skipped entirely
            assert got == {1, 2, 3, 9}
        finally:
            q2.stop()


    def test_schema_commit_fails_even_with_skip_change(self, spark, table, tmp_path):
        """ADVICE r8 (medium): rename/drop commits carry no adds/removes/
        dv state, so the change-commit guard let them pass mid-stream —
        and after DROP COLUMN + a merge-schema append re-introducing the
        same logical name, later micro-batches select the stale physical
        name and emit NULLs for real values. Schema-layer commits must
        fail the stream UNCONDITIONALLY (skipChangeCommits skips rows,
        not layout changes)."""
        stream = (
            spark.readStream.format("txlog")
            .options(path=table, skipChangeCommits="true")
            .load()
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("txsrc_schema")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck_schema"))
            .start()
        )
        try:
            q.processAllAvailable()  # drain the pre-existing appends
            txlog.drop_column(table, "v")
            txlog.append(
                spark.createDataFrame([(7, "fresh")], "id long, v string"),
                table,
                merge_schema=True,
            )
            with pytest.raises(Exception, match="column mapping"):
                q.processAllAvailable()
        finally:
            q.stop()

    def test_cdf_stream_rejects_schema_commit(self, spark, table, tmp_path):
        """The CDF reader shares the guard: a rename mid-stream (after the
        start-time _table_ddl mapping check passed) must fail the stream,
        skipChangeCommits notwithstanding."""
        stream = (
            spark.readStream.format("txlog")
            .options(path=table, readChangeFeed="true", skipChangeCommits="true")
            .load()
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("txsrc_cdf_schema")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck_cdf_schema"))
            .start()
        )
        try:
            q.processAllAvailable()
            txlog.rename_column(table, "v", "w")
            with pytest.raises(Exception, match="column mapping"):
                q.processAllAvailable()
        finally:
            q.stop()


class TestTableToTablePipeline:
    def test_stream_from_one_txlog_table_into_another(self, spark, tmp_path):
        """The full lakehouse loop with the new source: table A streams
        through a transformation into table B via the exactly-once append
        sink; appending to A propagates to B incrementally, and B never
        holds duplicates."""
        from datalake_brief_spark.streaming import append_stream_to_txlog

        register_txlog_source(spark)
        a, b = str(tmp_path / "a"), str(tmp_path / "b")
        txlog.append(_df(spark, [(1, "a"), (2, "b")]), a)

        def run_pipeline(ckpt):
            stream = spark.readStream.format("txlog").option("path", a).load()
            doubled = stream.selectExpr("id * 2 AS id2", "upper(v) AS vu")
            q = append_stream_to_txlog(
                doubled, b, str(tmp_path / ckpt), txn_app_id="a_to_b"
            )
            q.awaitTermination(120)

        run_pipeline("ck1")
        got = {(r.id2, r.vu) for r in txlog.read(spark, b).collect()}
        assert got == {(2, "A"), (4, "B")}
        # new commit on A flows through on the next incremental run
        txlog.append(_df(spark, [(5, "e")]), a)
        run_pipeline("ck1")
        got = {(r.id2, r.vu) for r in txlog.read(spark, b).collect()}
        assert got == {(2, "A"), (4, "B"), (10, "E")}
        # a fresh-checkpoint replay re-reads A from version 0, but the epoch
        # watermark in B's commit meta rejects the replayed batches
        run_pipeline("ck_fresh")
        assert txlog.read(spark, b).count() == 3

    def test_starting_version_skips_the_earlier_backlog(self, spark, table, tmp_path):
        """startingVersion=2 streams commit 2 onward — version 1's rows
        never enter the stream (Delta's startingVersion contract)."""
        stream = (
            spark.readStream.format("txlog")
            .options(path=table, startingVersion="2")
            .load()
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("txsrc5")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        try:
            q.processAllAvailable()
            got = {r.id for r in spark.sql("SELECT * FROM txsrc5").collect()}
            assert got == {3}  # commit 2 only; commit 1's {1, 2} skipped
        finally:
            q.stop()

    def test_max_versions_per_trigger_bounds_each_batch(self, spark, tmp_path):
        """A 4-commit backlog with maxVersionsPerTrigger=1 drains in ≥4
        micro-batches, each covering one commit — bounded batches for
        long backlogs (the maxFilesPerTrigger analog)."""
        register_txlog_source(spark)
        path = str(tmp_path / "t")
        for i in range(4):
            txlog.append(_df(spark, [(i, f"v{i}")]), path)
        stream = (
            spark.readStream.format("txlog")
            .options(path=path, maxVersionsPerTrigger="1")
            .load()
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("txsrc6")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        try:
            q.processAllAvailable()
            got = {r.id for r in spark.sql("SELECT * FROM txsrc6").collect()}
            assert got == {0, 1, 2, 3}  # all rows arrive...
            batches = [
                p for p in q.recentProgress if p["numInputRows"] > 0
            ]
            assert len(batches) >= 4  # ...but never more than 1 commit/batch
            assert max(p["numInputRows"] for p in batches) == 1
        finally:
            q.stop()


class TestCdfStream:
    """Streaming change data feed (readChangeFeed=true): appends as
    inserts, DV deletes as position-exact deletes, update_dv as its
    delete+insert pair; file-rewriting commits fail with a clear error."""

    def test_appends_and_dv_deletes_stream_as_changes(self, spark, table, tmp_path):
        stream = (
            spark.readStream.format("txlog")
            .option("path", table)
            .option("readChangeFeed", "true")
            .load()
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("cdf1")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck_cdf1"))
            .start()
        )
        try:
            q.processAllAvailable()
            got = [
                (r.id, r._change_type)
                for r in spark.sql("SELECT * FROM cdf1").collect()
            ]
            assert sorted(got) == [(1, "insert"), (2, "insert"), (3, "insert")]
            txlog.delete_where_dv(spark, table, "id = 2")
            q.processAllAvailable()
            rows = spark.sql("SELECT * FROM cdf1").collect()
            dels = [(r.id, r._commit_version) for r in rows if r._change_type == "delete"]
            assert dels == [(2, 3)]
        finally:
            q.stop()

    def test_update_dv_streams_delete_insert_pair(self, spark, table, tmp_path):
        stream = (
            spark.readStream.format("txlog")
            .option("path", table)
            .option("readChangeFeed", "true")
            .load()
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("cdf2")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck_cdf2"))
            .start()
        )
        try:
            q.processAllAvailable()
            txlog.update_where_dv(spark, table, "id = 3", {"v": txlog.F.lit("Z")})
            q.processAllAvailable()
            rows = [
                (r.id, r.v, r._change_type)
                for r in spark.sql(
                    "SELECT * FROM cdf2 WHERE _commit_version = 3"
                ).collect()
            ]
            assert sorted(rows) == [(3, "Z", "insert"), (3, "c", "delete")]
        finally:
            q.stop()

    def test_cow_delete_streams_its_change_record(self, spark, table, tmp_path):
        """A CoW DELETE commit now lands _change_data files alongside the
        rewrite, so the CDF stream drains it WITHOUT skipChangeCommits —
        the pre-change-record reader had to fail here."""
        v = txlog.delete_where(spark, table, "id = 1")  # CoW rewrite commit
        q = (
            spark.readStream.format("txlog")
            .option("path", table)
            .option("readChangeFeed", "true")
            .load()
            .writeStream.format("memory")
            .queryName("cdf3")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck_cdf3"))
            .start()
        )
        try:
            q.processAllAvailable()
            rows = [
                (r.id, r._change_type, r._commit_version)
                for r in spark.sql("SELECT * FROM cdf3").collect()
            ]
            assert sorted(rows) == [
                (1, "delete", v),
                (1, "insert", 1),
                (2, "insert", 1),
                (3, "insert", 2),
            ], rows
        finally:
            q.stop()

    def test_legacy_rewrite_commit_fails_unless_skipped(self, spark, table, tmp_path):
        """A rewrite commit WITHOUT a stored change record (written before
        change files existed) keeps the old contract: fail with a clear
        error unless skipChangeCommits=true."""
        import json
        import os

        v = txlog.delete_where(spark, table, "id = 1")
        cpath = txlog._commit_path(table, v)  # noqa: SLF001
        with open(cpath) as f:
            commit = json.load(f)
        for rel in commit.pop("change_data", []):
            os.remove(os.path.join(table, rel))
        with open(cpath, "w") as f:
            json.dump(commit, f)
        q = (
            spark.readStream.format("txlog")
            .option("path", table)
            .option("readChangeFeed", "true")
            .load()
            .writeStream.format("memory")
            .queryName("cdf3b")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck_cdf3b"))
            .start()
        )
        with pytest.raises(Exception, match="REWRITES files"):
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        # skipChangeCommits drains past the legacy rewrite
        q2 = (
            spark.readStream.format("txlog")
            .option("path", table)
            .option("readChangeFeed", "true")
            .option("skipChangeCommits", "true")
            .load()
            .writeStream.format("memory")
            .queryName("cdf4")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck_cdf4"))
            .start()
        )
        try:
            q2.processAllAvailable()
            got = {r.id for r in spark.sql("SELECT * FROM cdf4").collect()}
            assert got == {1, 2, 3}  # the two appends; the rewrite skipped
        finally:
            q2.stop()

    def test_merge_streams_without_skip(self, spark, table, tmp_path):
        """VERDICT r8 ask #2 done-criterion: the streaming CDF drains a
        MERGE without skipChangeCommits — the updated key emits its
        delete+insert pair, the new key its insert, and the rows the
        merge rewrote byte-identically emit NOTHING (they cancelled in
        the stored change record, not at read time)."""
        q = (
            spark.readStream.format("txlog")
            .option("path", table)
            .option("readChangeFeed", "true")
            .load()
            .writeStream.format("memory")
            .queryName("cdf_merge")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck_cdf_merge"))
            .start()
        )
        try:
            q.processAllAvailable()  # the two appends
            v = txlog.merge(
                spark,
                table,
                spark.createDataFrame([(2, "b2"), (9, "new")], "id long, v string"),
                keys=["id"],
                order_col="v",  # 'b2' > 'b' desc: the update wins its key
            )
            q.processAllAvailable()
            rows = [
                (r.id, r.v, r._change_type)
                for r in spark.sql(
                    f"SELECT * FROM cdf_merge WHERE _commit_version = {v}"
                ).collect()
            ]
            assert sorted(rows) == [
                (2, "b", "delete"),
                (2, "b2", "insert"),
                (9, "new", "insert"),
            ], rows
        finally:
            q.stop()

    def test_cdf_stream_equals_table_changes(self, spark, tmp_path):
        """The stream and the batch feed share one row-change decision:
        over appends, CoW and DV DML, MERGE (CoW, and delete-only on DVs)
        and an OPTIMIZE, the drained change rows equal table_changes as a
        multiset."""
        register_txlog_source(spark)
        path = str(tmp_path / "t")
        rows = [(i, f"v{i}") for i in range(60)]
        txlog.append(_df(spark, rows[:40]).repartition(3), path)
        txlog.append(_df(spark, rows[40:]).repartition(2), path)
        txlog.update_where(spark, path, "id % 7 = 0", {"v": F.lit("u")})
        txlog.delete_where_dv(spark, path, "id % 5 = 1")
        txlog.merge_into(
            spark,
            path,
            _df(spark, [(3, "m3"), (44, "m44"), (99, "new")]),
            ["id"],
            when_matched=[("update", {"v": "s.v"})],
            use_dvs=False,
        )
        txlog.update_where_dv(spark, path, "id % 9 = 2", {"v": F.lit("w")})
        txlog.merge_into(
            spark,
            path,
            _df(spark, [(8, "x"), (50, "x")]),
            ["id"],
            when_matched=[("delete",)],
            when_not_matched=False,
            use_dvs=True,
        )
        v = txlog.optimize(spark, path, target_file_bytes=1 << 30)
        assert v == 8
        q = (
            spark.readStream.format("txlog")
            .options(path=path, readChangeFeed="true")
            .load()
            .writeStream.format("memory")
            .queryName("cdf_parity")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        try:
            q.processAllAvailable()
            cols = ["id", "v", "_change_type", "_commit_version"]
            streamed = spark.sql("SELECT * FROM cdf_parity").select(cols)
            batch = txlog.table_changes(spark, path, 0, v).select(cols)
            got = collections.Counter(map(tuple, streamed.collect()))
            want = collections.Counter(map(tuple, batch.collect()))
            assert got == want
            assert {k[2] for k in want} == {"insert", "delete"}
        finally:
            q.stop()

    def test_append_stream_now_rejects_dv_commits(self, spark, table, tmp_path):
        """The plain (inserts-only) stream must FAIL on a DV delete — a
        silent skip would hand downstream a table that still contains the
        deleted rows with no signal anything changed."""
        txlog.delete_where_dv(spark, table, "id = 2")
        q = (
            spark.readStream.format("txlog")
            .option("path", table)
            .load()
            .writeStream.format("memory")
            .queryName("cdf5")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck_cdf5"))
            .start()
        )
        with pytest.raises(Exception, match="changes existing rows"):
            try:
                q.processAllAvailable()
            finally:
                q.stop()


class TestCdfStreamRestore:
    def test_spark_assisted_restore_streams_its_change_record(
        self, spark, table, tmp_path
    ):
        """restore(..., spark=...) lands the rollback's row-level diff as
        _change_data, so the streaming CDF drains the restore commit
        without skipChangeCommits — resurrections arrive as inserts."""
        txlog.delete_where_dv(spark, table, "id = 2")  # v3
        q = (
            spark.readStream.format("txlog")
            .option("path", table)
            .option("readChangeFeed", "true")
            .load()
            .writeStream.format("memory")
            .queryName("cdf_restore")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck_cdf_restore"))
            .start()
        )
        try:
            q.processAllAvailable()  # appends + the DV delete
            v = txlog.restore(table, 2, spark=spark)  # resurrect id=2
            q.processAllAvailable()
            rows = [
                (r.id, r._change_type)
                for r in spark.sql(
                    f"SELECT * FROM cdf_restore WHERE _commit_version = {v}"
                ).collect()
            ]
            assert rows == [(2, "insert")], rows
        finally:
            q.stop()

    def test_bare_restore_still_fails_unless_skipped(self, spark, table, tmp_path):
        """A restore WITHOUT a session (no change record) keeps the old
        contract: the stream fails with the skipChangeCommits hint."""
        txlog.delete_where_dv(spark, table, "id = 2")
        txlog.restore(table, 2)
        q = (
            spark.readStream.format("txlog")
            .option("path", table)
            .option("readChangeFeed", "true")
            .load()
            .writeStream.format("memory")
            .queryName("cdf_restore_bare")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck_cdf_rb"))
            .start()
        )
        with pytest.raises(Exception, match="skipChangeCommits"):
            try:
                q.processAllAvailable()
            finally:
                q.stop()


class TestRowIdStream:
    def test_append_stream_emits_stable_row_ids(self, spark, table, tmp_path):
        """rowIds=true: each micro-batch row carries the same stable id
        txlog.read_with_row_ids resolves — backlog (backfilled bases) and
        live appends (per-commit allocation) alike."""
        txlog.enable_row_tracking(table)
        q = (
            spark.readStream.format("txlog")
            .options(path=table, rowIds="true")
            .load()
            .writeStream.format("memory")
            .queryName("rid_stream")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck_rid"))
            .start()
        )
        try:
            q.processAllAvailable()
            txlog.append(_df(spark, [(4, "d")]), table)
            q.processAllAvailable()
            got = {
                r.id: r.row_id
                for r in spark.sql("SELECT * FROM rid_stream").collect()
            }
            want = {
                r.id: r.row_id
                for r in txlog.read_with_row_ids(spark, table).collect()
            }
            assert got == want and len(set(got.values())) == 4
        finally:
            q.stop()

    def test_row_ids_require_tracking_and_plain_stream(self, spark, table):
        with pytest.raises(Exception, match="row tracking"):
            (
                spark.readStream.format("txlog")
                .options(path=table, rowIds="true")
                .load()
            )
        txlog.enable_row_tracking(table)
        with pytest.raises(Exception, match="table_changes"):
            (
                spark.readStream.format("txlog")
                .options(path=table, rowIds="true", readChangeFeed="true")
                .load()
            )
        with pytest.raises(Exception, match="read_with_row_ids"):
            (
                spark.read.format("txlog")
                .options(path=table, rowIds="true")
                .load()
                .collect()
            )

    def test_batch_spanning_append_and_optimize_keeps_ids(
        self, spark, table, tmp_path
    ):
        """Review finding: bases were resolved at the batch END version, so
        a batch spanning an append AND a later compaction of those files
        spuriously failed ('pre-feature writer'). The registry lookup
        survives the rewrite."""
        txlog.enable_row_tracking(table)
        want = {
            r.id: r.row_id
            for r in txlog.read_with_row_ids(spark, table).collect()
        }
        # the rewrite lands BEFORE the stream ever starts: one batch spans
        # the appends AND the optimize of their files
        txlog.optimize(spark, table, target_file_bytes=1 << 30)
        q = (
            spark.readStream.format("txlog")
            .options(path=table, rowIds="true")
            .load()
            .writeStream.format("memory")
            .queryName("rid_span")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck_span"))
            .start()
        )
        try:
            q.processAllAvailable()
            got = {
                r.id: r.row_id
                for r in spark.sql("SELECT * FROM rid_span").collect()
            }
            assert got == want
        finally:
            q.stop()

    def test_stream_survives_mapping_reset_boundary(self, spark, table, tmp_path):
        """Review finding: an overwrite that RESETS the mapping to identity
        writes column_mapping {} in its meta, and the schema-commit guard
        killed the stream UNCONDITIONALLY on the benign marker —
        skipChangeCommits notwithstanding. The guard now keys on a
        NON-EMPTY mapping: the overwrite is still a change commit (its
        removes trip the normal skippable refusal), but with
        skipChangeCommits=true a fresh stream drains past the reset and
        later appends flow."""
        txlog.rename_column(table, "v", "w")
        v_reset = txlog.overwrite(txlog.read(spark, table), table)
        q = (
            spark.readStream.format("txlog")
            .options(
                path=table,
                startingVersion=str(v_reset),
                skipChangeCommits="true",
            )
            .load()
            .writeStream.format("memory")
            .queryName("reset_stream")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck_reset"))
            .start()
        )
        try:
            q.processAllAvailable()  # previously: unconditional ValueError
            txlog.append(  # the table's column is 'w' since the rename
                spark.createDataFrame([(9, "z")], "id long, w string"), table
            )
            q.processAllAvailable()
            got = {r.id for r in spark.sql("SELECT * FROM reset_stream").collect()}
            assert got == {9}
        finally:
            q.stop()


class TestRowIdStreamRateLimited:
    def test_pre_enable_backlog_drains_under_max_versions_per_trigger(
        self, spark, table, tmp_path
    ):
        """ADVICE r9: with maxVersionsPerTrigger=1 a micro-batch can cover
        an append commit OLDER than the enable_row_tracking commit; those
        appends carry no row_bases and the registry — when capped at the
        batch END version — misses the enable commit's backfill, so the
        stream failed permanently on a perfectly covered file. The
        registry is now resolved uncapped (bases are immutable per file)."""
        txlog.enable_row_tracking(table)  # table fixture: 2 pre-enable appends
        q = (
            spark.readStream.format("txlog")
            .options(path=table, rowIds="true", maxVersionsPerTrigger="1")
            .load()
            .writeStream.format("memory")
            .queryName("rid_rate")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck_rid_rate"))
            .start()
        )
        try:
            q.processAllAvailable()
            got = {
                r.id: r.row_id
                for r in spark.sql("SELECT * FROM rid_rate").collect()
            }
            want = {
                r.id: r.row_id
                for r in txlog.read_with_row_ids(spark, table).collect()
            }
            assert got == want and len(got) == 3
            batches = [
                p for p in q.recentProgress if p["numInputRows"] > 0
            ]
            assert len(batches) >= 2, "rate limit must split the backlog"
        finally:
            q.stop()


class TestSchemaTrackingRestart:
    """The Delta ``schemaTrackingLocation`` analog — a mid-stream
    rename/drop fails the stream (correct default), but a plain RESTART
    with the option resumes from the failure offset rendering the backlog
    under the new logical schema."""

    #: foreachBatch sink store — the memory sink cannot RECOVER from a
    #: checkpoint, and recovery is exactly what these tests exercise
    _SINK: dict = {}

    def _drain(self, spark, path, loc, ck, name, cdf=False):
        rows = self._SINK.setdefault(name, [])
        reader = (
            spark.readStream.format("txlog")
            .option("path", path)
            .option("schemaTrackingLocation", loc)
        )
        if cdf:
            reader = reader.option("readChangeFeed", "true")
        got = reader.load()
        q = (
            got.writeStream.foreachBatch(
                lambda df, _eid: rows.extend(df.collect())
            )
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        # contention-proof drain: poll until the availableNow trigger
        # terminates instead of a single wall-time budget — a loaded box
        # can stretch micro-batches well past a fixed 180 s, and a silent
        # timeout returns a PARTIAL sink that fails the assertions
        # downstream. A still-active query after the (generous) ceiling
        # fails LOUDLY here instead.
        import time as _time

        deadline = _time.monotonic() + 600
        while q.isActive and _time.monotonic() < deadline:
            try:
                q.awaitTermination(5)
            except Exception:
                break  # stream failed: exception() below reports it
        if q.isActive:
            q.stop()
            raise AssertionError(
                "availableNow stream did not drain within the 600 s ceiling"
            )
        exc = q.exception()
        q.stop()
        return exc

    @staticmethod
    def _dirs(tmp_path):
        return str(tmp_path / "t"), str(tmp_path / "loc"), str(tmp_path / "ck")

    def test_restart_resumes_under_new_schema(self, spark, tmp_path):
        register_txlog_source(spark)
        path, loc, ck = self._dirs(tmp_path)
        txlog.append(
            spark.createDataFrame([(1, "a"), (2, "b")], "k int, val string"), path
        )
        # run 1: drains the backlog at the original schema
        assert self._drain(spark, path, loc, ck, "r11_track1") is None
        pre = self._SINK["r11_track1"]
        assert {(r.k, r.val) for r in pre} == {(1, "a"), (2, "b")}
        # mid-stream (stream stopped, offset checkpointed): rename + more data
        txlog.rename_column(path, "val", "v2")
        txlog.append(
            spark.createDataFrame([(3, "c")], "k int, v2 string"), path
        )
        # run 2: FAILS at the mapping commit, records the new schema
        exc = self._drain(spark, path, loc, ck, "r11_track2")
        assert exc is not None and "schemaTrackingLocation" in str(exc)
        assert self._SINK["r11_track2"] == []  # the failed batch emitted nothing
        # run 3: plain restart, same checkpoint — drains the backlog at
        # the NEW logical schema; nothing re-emitted, nothing lost
        assert self._drain(spark, path, loc, ck, "r11_track3") is None
        post = self._SINK["r11_track3"]
        assert {(r.k, r.v2) for r in post} == {(3, "c")}

    def test_without_tracking_still_fails_unconditionally(self, spark, tmp_path):
        register_txlog_source(spark)
        path = str(tmp_path / "t")
        txlog.append(
            spark.createDataFrame([(1, "a")], "k int, val string"), path
        )
        txlog.rename_column(path, "val", "v2")
        with pytest.raises(Exception, match="column mapping"):
            (
                spark.readStream.format("txlog")
                .option("path", path)
                .load()
            )

    def test_drop_column_tracks_and_resumes(self, spark, tmp_path):
        register_txlog_source(spark)
        path, loc, ck = self._dirs(tmp_path)
        txlog.append(
            spark.createDataFrame([(1, "a", 5)], "k int, val string, n int"), path
        )
        assert self._drain(spark, path, loc, ck, "r11_drop1") is None
        txlog.drop_column(path, "n")
        txlog.append(
            spark.createDataFrame([(2, "b")], "k int, val string"), path
        )
        exc = self._drain(spark, path, loc, ck, "r11_drop2")
        assert exc is not None
        assert self._drain(spark, path, loc, ck, "r11_drop3") is None
        post = self._SINK["r11_drop3"]
        assert {tuple(r) for r in post} == {(2, "b")}
        assert "n" not in post[0].asDict()

    def test_cdf_stream_tracks_and_resumes(self, spark, tmp_path):
        register_txlog_source(spark)
        path, loc, ck = self._dirs(tmp_path)
        txlog.append(
            spark.createDataFrame([(1, "a"), (2, "b")], "k int, val string"), path
        )

        assert self._drain(spark, path, loc, ck, "r11_cdf1", cdf=True) is None
        txlog.rename_column(path, "val", "v2")
        txlog.delete_where(spark, path, F.col("k") == 1)
        assert self._drain(spark, path, loc, ck, "r11_cdf2", cdf=True) is not None
        assert self._drain(spark, path, loc, ck, "r11_cdf3", cdf=True) is None
        rows = self._SINK["r11_cdf3"]
        # the CoW delete renders under the NEW schema: pre-image of k=1
        assert {(r.k, r.v2, r._change_type) for r in rows} == {(1, "a", "delete")}


class TestStreamBelowHorizon:
    def test_stream_offset_below_expiry_horizon_names_floor(self, spark, tmp_path):
        """A consumer down longer than the log retention: its checkpointed
        offset points below the expire_log horizon — the stream must fail
        with the named floor + recovery guidance, never a raw missing-file
        error."""
        register_txlog_source(spark)
        path = str(tmp_path / "t")
        for i in range(25):
            txlog.append(_batch(spark, tag=i), path)
        txlog.expire_log(path, retain_versions=10)
        got = (
            spark.readStream.format("txlog")
            .option("path", path)
            .option("startingVersion", 3)  # below the horizon (floor=10)
            .load()
        )
        q = (
            got.writeStream.format("memory")
            .queryName("r11_below_horizon")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        except Exception:
            pass
        exc = q.exception()
        q.stop()
        assert exc is not None
        assert "earliest readable version is 10" in str(exc)
        assert "startingVersion" in str(exc)


def _drain_memory(spark, path, ck, name, **options):
    """Drain every commit of ``path`` into memory table ``name``; returns
    the sizes (rows) of the non-empty micro-batches, in order."""
    stream = spark.readStream.format("txlog").options(path=path, **options).load()
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ck)
        .start()
    )
    try:
        q.processAllAvailable()
        return [p["numInputRows"] for p in q.recentProgress if p["numInputRows"] > 0]
    finally:
        q.stop()


class TestMaxFilesPerTrigger:
    @pytest.mark.parametrize("feed", ["append", "cdf"])
    def test_backlog_drains_in_file_bounded_batches(self, spark, tmp_path, feed):
        """maxFilesPerTrigger (the Delta knob): a backlog of 6 commits x 3
        files drains in batches of at most ~4 files (>= 1 commit per batch
        for progress) — bounding DATA per trigger, not just commit count;
        the change feed rides the same cap."""
        register_txlog_source(spark)
        path = str(tmp_path / "t")
        for i in range(6):
            txlog.append(_batch(spark, n=9, tag=i).repartition(3), path)
        extra = {"readChangeFeed": "true"} if feed == "cdf" else {}
        batches = _drain_memory(
            spark, path, str(tmp_path / "ck"), f"mft_{feed}",
            maxFilesPerTrigger="4", **extra,
        )
        got = spark.sql(f"SELECT count(*) c FROM mft_{feed}").collect()[0]["c"]
        assert got == 54  # nothing lost
        # 6 commits / 2-commit cap (3 files + next commit reaches 4)
        assert len(batches) >= 3
        assert max(batches) <= 18  # <= 2 commits

    @pytest.mark.parametrize("tighter", ["files", "bytes"])
    def test_both_caps_stop_at_the_tighter(self, spark, tmp_path, tighter):
        """maxFilesPerTrigger and maxBytesPerTrigger together: the offer
        stops at whichever cap a commit reaches first. 6 commits x 3 files
        of 9 rows: a 4-file cap offers 2 commits per batch, a 1.5-file
        byte cap 1 commit."""
        register_txlog_source(spark)
        path = str(tmp_path / "t")
        for i in range(6):
            txlog.append(_batch(spark, n=9, tag=i).repartition(3), path)
        one = max(os.path.getsize(f) for f in txlog.visible_files(path))
        caps = {
            "files": {"maxFilesPerTrigger": "4", "maxBytesPerTrigger": str(100 * one)},
            "bytes": {"maxFilesPerTrigger": "4", "maxBytesPerTrigger": str(int(one * 1.5))},
        }[tighter]
        batches = _drain_memory(
            spark, path, str(tmp_path / "ck"), f"caps_{tighter}", **caps
        )
        assert batches == ([18] * 3 if tighter == "files" else [9] * 6)


class TestMaxBytesPerTrigger:
    """The third Delta rate knob: micro-batches bounded by the BYTES their
    commits' files carry — the knob that maps to executor memory when
    commit sizes vary 1000x. >=1 commit per batch for progress; composes
    with restart recovery and the expired-log floor error."""

    def _setup(self, spark, tmp_path, n_commits=6):
        register_txlog_source(spark)
        path = str(tmp_path / "t")
        for i in range(n_commits):
            txlog.append(
                spark.range(i * 10, (i + 1) * 10)
                .select(F.col("id").alias("k"), F.lit(i).cast("int").alias("b"))
                .coalesce(1),
                path,
            )
        return path

    def test_byte_capped_drain(self, spark, tmp_path):
        path = self._setup(spark, tmp_path)
        ck = str(tmp_path / "ck")
        one = os.path.getsize(txlog.visible_files(path)[0])
        stream = (
            spark.readStream.format("txlog")
            .options(path=path, maxBytesPerTrigger=str(int(one * 1.5)))
            .load()
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("r13_mbt")
            .outputMode("append")
            .option("checkpointLocation", ck)
            .start()
        )
        try:
            q.processAllAvailable()
            assert (
                spark.sql("SELECT count(*) c FROM r13_mbt").collect()[0]["c"]
                == 60
            )
            batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
            assert len(batches) >= 3  # capped: never one giant batch
            assert max(p["numInputRows"] for p in batches) <= 20  # <= 2 commits
        finally:
            q.stop()

    def test_oversized_commit_still_progresses(self, spark, tmp_path):
        path = self._setup(spark, tmp_path, n_commits=3)
        ck = str(tmp_path / "ck")
        stream = (
            spark.readStream.format("txlog")
            .options(path=path, maxBytesPerTrigger="1")  # every commit exceeds it
            .load()
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("r13_mbt1")
            .outputMode("append")
            .option("checkpointLocation", ck)
            .start()
        )
        try:
            q.processAllAvailable()
            assert (
                spark.sql("SELECT count(*) c FROM r13_mbt1").collect()[0]["c"]
                == 30
            )
            batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
            assert len(batches) == 3  # exactly one commit per batch
            assert max(p["numInputRows"] for p in batches) == 10
        finally:
            q.stop()

    def _drain(self, spark, path, ck, rows, cap):
        # processAllAvailable, not availableNow: the rate cap bounds each
        # TRIGGER, and processAllAvailable keeps triggering until the
        # backlog is gone (availableNow through the Python DataSource API
        # stops at the first capped offer)
        q = (
            spark.readStream.format("txlog")
            .options(path=path, maxBytesPerTrigger=str(cap))
            .load()
            .writeStream.foreachBatch(lambda df, _eid: rows.extend(df.collect()))
            .option("checkpointLocation", ck)
            .start()
        )
        try:
            q.processAllAvailable()
        except Exception:
            pass
        exc = q.exception()
        q.stop()
        return exc

    def test_restart_resyncs_cursor_no_loss_no_dup(self, spark, tmp_path):
        path = self._setup(spark, tmp_path, n_commits=4)
        ck = str(tmp_path / "ck")
        one = os.path.getsize(txlog.visible_files(path)[0])
        rows: list = []
        assert self._drain(spark, path, ck, rows, int(one * 1.2)) is None
        assert len(rows) == 40
        # new commits after the stop: the restarted reader re-seeds its
        # rate-limit cursor from the CHECKPOINT offset, so the backlog
        # resumes exactly where it left off — nothing lost, nothing twice
        for i in (4, 5):
            txlog.append(
                spark.range(i * 10, (i + 1) * 10)
                .select(F.col("id").alias("k"), F.lit(i).cast("int").alias("b"))
                .coalesce(1),
                path,
            )
        rows2: list = []
        assert self._drain(spark, path, ck, rows2, int(one * 1.2)) is None
        assert sorted(r.k for r in rows2) == list(range(40, 60))

    def test_floor_error_composes_with_expire_log(self, spark, tmp_path):
        path = self._setup(spark, tmp_path, n_commits=4)
        ck = str(tmp_path / "ck")
        rows: list = []
        assert self._drain(spark, path, ck, rows, 1) is None
        assert len(rows) == 40  # checkpoint offset now 4
        for i in (4, 5, 6):
            txlog.append(
                spark.range(i * 10, (i + 1) * 10)
                .select(F.col("id").alias("k"), F.lit(i).cast("int").alias("b"))
                .coalesce(1),
                path,
            )
        txlog.checkpoint_now(path)
        assert txlog.expire_log(path, retain_versions=1)
        # the checkpointed offset (4) is below the reclaimed horizon: the
        # byte-cap walk hits the reclaimed commit and must surface the
        # NAMED floor error, never a silent skip
        rows3: list = []
        exc = self._drain(spark, path, ck, rows3, 1)
        assert exc is not None
        assert "expired-log horizon" in str(exc) or "earliest readable" in str(exc)
        assert rows3 == []
