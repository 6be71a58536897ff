"""Transaction-log parquet table: atomicity, snapshot isolation, time
travel, optimistic concurrency, merge, vacuum (sources/txlog.py)."""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from datalake_brief_spark.sources import logstore, txlog


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, v string, version int")


def _batch(spark, n=10, tag=0):
    return (
        spark.range(n)
        .withColumnRenamed("id", "k")
        .withColumn("batch", F.lit(tag).cast("int"))
    )


def _orphans(path):
    """Files outside the log in no group a visible file belongs to: what
    a writer that lost its commit failed to sweep."""
    committed = {os.path.dirname(f) for f in txlog.visible_files(path)}
    return [
        os.path.join(root, f)
        for root, _, files in os.walk(path)
        if not os.path.relpath(root, path).startswith("_txlog")
        and root not in committed
        for f in files
    ]


def _executed_plans(spark, fn):
    """The physical plans of the SQL executions ``fn()`` starts, read from
    the SQL status store, i.e. what actually ran."""
    jss = spark._jsparkSession  # noqa: SLF001
    store = jss.sharedState().statusStore()
    bus = jss.sparkContext().listenerBus()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters  # noqa: SLF001

    def newest(n):
        # the store keeps a bounded window of executions, so its count
        # stops growing in a long session: select by execution id
        bus.waitUntilEmpty(30_000)
        count = store.executionsCount()
        if not count:
            return []
        runs = store.executionsList(max(0, count - n), min(n, count))
        return list(conv.asJava(runs))

    seen = max((e.executionId() for e in newest(1)), default=-1)
    fn()
    return [
        e.physicalPlanDescription() for e in newest(100) if e.executionId() > seen
    ]


class TestTxLog:
    def test_append_and_read(self, spark, tmp_path):
        path = str(tmp_path / "t")
        v1 = txlog.append(_df(spark, [(1, "a", 1), (2, "b", 1)]), path)
        v2 = txlog.append(_df(spark, [(3, "c", 1)]), path)
        assert (v1, v2) == (1, 2)
        got = {r.id for r in txlog.read(spark, path).collect()}
        assert got == {1, 2, 3}

    def test_time_travel_and_overwrite(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "a", 1)]), path)
        txlog.overwrite(_df(spark, [(9, "z", 2)]), path)
        assert {r.id for r in txlog.read(spark, path).collect()} == {9}
        assert {r.id for r in txlog.read(spark, path, version=1).collect()} == {1}
        assert txlog.current_version(path) == 2

    def test_uncommitted_files_are_invisible(self, spark, tmp_path):
        """Atomicity: data files landed without a commit (a writer that died
        mid-transaction) must not appear in any read."""
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "a", 1)]), path)
        # simulate a torn write: data group exists, no commit references it
        txlog._write_data_files(_df(spark, [(666, "junk", 1)]), path)
        got = {r.id for r in txlog.read(spark, path).collect()}
        assert got == {1}

    def test_commit_conflict_detected_and_appends_retry(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "a", 1)]), path)
        # another writer steals version 2 out from under an overwrite
        txlog._try_commit(path, 2, [], [])
        with pytest.raises(txlog.CommitConflict):
            txlog._try_commit(path, 2, [], [])
        # blind append retries past the stolen version
        v = txlog.append(_df(spark, [(2, "b", 1)]), path)
        assert v == 3
        assert {r.id for r in txlog.read(spark, path).collect()} == {1, 2}

    def test_merge_latest_wins_is_one_commit(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "a", 1), (2, "b", 1)]), path)
        pre = txlog.current_version(path)
        txlog.merge(
            spark,
            path,
            _df(spark, [(2, "b2", 2), (3, "c", 1)]),
            keys=["id"],
            order_col="version",
        )
        assert txlog.current_version(path) == pre + 1
        got = {r.id: r.v for r in txlog.read(spark, path).collect()}
        assert got == {1: "a", 2: "b2", 3: "c"}
        # snapshot isolation: pre-merge version still readable
        old = {r.id: r.v for r in txlog.read(spark, path, version=pre).collect()}
        assert old == {1: "a", 2: "b"}

    def test_optimize_compacts_atomically_and_preserves_time_travel(self, spark, tmp_path):
        path = str(tmp_path / "t")
        for i in range(5):
            txlog.append(_df(spark, [(i, f"v{i}", 1)]), path)
        pre = txlog.current_version(path)
        files_pre = txlog.visible_files(path)
        assert len(files_pre) >= 5
        v = txlog.optimize(spark, path)  # every file is tiny → all compact
        assert v == pre + 1
        files_post = txlog.visible_files(path)
        assert len(files_post) == 1, files_post
        # identical contents, one commit
        assert {r.id for r in txlog.read(spark, path).collect()} == set(range(5))
        # pre-optimize snapshot still readable (old files on disk until vacuum)
        assert {r.id for r in txlog.read(spark, path, version=pre).collect()} == set(range(5))
        # vacuum reclaims the superseded small files
        deleted = txlog.vacuum(path, retain_versions=1)
        assert len(deleted) == len(files_pre)
        # idempotent: nothing left to compact
        assert txlog.optimize(spark, path) == v

    def test_optimize_leaves_right_sized_files_alone(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(i, "x" * 50, 1) for i in range(2000)]).coalesce(1), path)
        big = set(txlog.visible_files(path))
        for i in range(3):
            txlog.append(_df(spark, [(10_000 + i, "s", 1)]), path)
        # threshold below the big file's size: only the three small appends move
        big_bytes = os.path.getsize(next(iter(big)))
        txlog.optimize(spark, path, target_file_bytes=2 * big_bytes, small_file_bytes=big_bytes)
        post = set(txlog.visible_files(path))
        assert big <= post, "right-sized file must stay referenced, untouched"
        assert len(post) == len(big) + 1
        n = txlog.read(spark, path).count()
        assert n == 2003

    def test_table_changes_tracks_inserts_deletes_and_skips_rewrites(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "a", 1), (2, "b", 1)]), path)  # v1
        txlog.append(_df(spark, [(3, "c", 1)]), path)  # v2
        txlog.merge(
            spark, path, _df(spark, [(2, "b2", 2), (4, "d", 1)]), keys=["id"], order_col="version"
        )  # v3: updates 2, inserts 4, rewrites 1 and 3 unchanged
        changes = {
            (r.id, r._change_type, r._commit_version)
            for r in txlog.table_changes(spark, path, from_version=2).collect()
        }
        assert changes == {(2, "delete", 3), (2, "insert", 3), (4, "insert", 3)}, changes
        # the full-history feed emits PER COMMIT (the Delta CDF contract):
        # v3's merge shows id=2's delete+insert pair even though the window
        # spans it — intermediate changes are reported, not netted away
        txlog.append(_df(spark, [(5, "e", 1)]), path)  # v4: second small file
        v_opt = txlog.optimize(spark, path)  # rewrite-only commit (v5)
        assert v_opt == 5, "optimize must have compacted (≥2 small files)"
        full = txlog.table_changes(spark, path, from_version=0, to_version=v_opt)
        got = {(r.id, r._change_type, r._commit_version) for r in full.collect()}
        assert got == {
            (1, "insert", 1),
            (2, "insert", 1),
            (3, "insert", 2),
            (2, "delete", 3),
            (2, "insert", 3),
            (4, "insert", 3),
            (5, "insert", 4),
        }, got
        assert full.count() == 7  # exactly once per (row, commit)
        # a rewrite-only window has no row-level changes
        rows = txlog.table_changes(spark, path, from_version=v_opt - 1, to_version=v_opt)
        assert rows.count() == 0

    def test_update_window_emits_delete_insert_pairs_exactly_once(
        self, spark, tmp_path
    ):
        """VERDICT r8 ask #2: a CoW UPDATE window reads its stored change
        record — each updated row exactly one delete (pre-image) + one
        insert (post-image), untouched rows of the rewritten file absent."""
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(i, f"v{i}", 1) for i in range(1, 6)]), path)
        v = txlog.update_where(
            spark, path, "id >= 4", {"v": F.upper(F.col("v"))}
        )
        assert v == 2
        rows = [
            (r.id, r.v, r._change_type, r._commit_version)
            for r in txlog.table_changes(spark, path, 1, 2).collect()
        ]
        assert sorted(rows) == [
            (4, "V4", "insert", 2),
            (4, "v4", "delete", 2),
            (5, "V5", "insert", 2),
            (5, "v5", "delete", 2),
        ], rows
        # replaceWhere in the same feed: band pre-images delete, new rows insert
        txlog.overwrite_where(
            spark, path, _df(spark, [(0, "zero", 1)]), "id <= 1"
        )  # v3
        rows = [
            (r.id, r._change_type, r._commit_version)
            for r in txlog.table_changes(spark, path, 2, 3).collect()
        ]
        assert sorted(rows) == [(0, "insert", 3), (1, "delete", 3)], rows
        # the multi-commit window is the per-commit union — exactly once each
        assert txlog.table_changes(spark, path, 1, 3).count() == 6

    def test_vacuum_reclaims_aged_change_files(self, spark, tmp_path):
        """Change-data files age out with their commit: once the commit
        leaves the retained window they reclaim; retained commits keep
        theirs and their CDC window still answers from stored records."""
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "a", 1), (2, "b", 1)]), path)  # v1
        txlog.delete_where(spark, path, "id = 1")  # v2: change record
        txlog.update_where(spark, path, "id = 2", {"v": F.lit("B")})  # v3
        cdc_files = lambda: {  # noqa: E731
            os.path.relpath(os.path.join(r, f), path)
            for r, _, fs in os.walk(os.path.join(path, "_change_data"))
            for f in fs
            if f.endswith(".parquet")
        }
        before = cdc_files()
        assert before, "rewrite commits must have landed change files"
        deleted = txlog.vacuum(path, retain_versions=1)
        after = cdc_files()
        # v2's record aged out with its commit; v3's (retained) survives
        assert after < before
        gone = {d for d in deleted if d.startswith("_change_data")}
        assert gone == before - after and gone
        rows = [
            (r.id, r._change_type)
            for r in txlog.table_changes(spark, path, 2, 3).collect()
        ]
        assert sorted(rows) == [(2, "delete"), (2, "insert")]

    def test_restore_with_spark_materializes_change_record(self, spark, tmp_path):
        """restore(..., spark=...) lands the rollback's row-level diff as
        _change_data, so CDC over the restore commit reads the stored
        record (and the streaming CDF could drain it)."""
        import json

        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "a", 1), (2, "b", 1)]), path)  # v1
        txlog.delete_where(spark, path, "id = 2")  # v2
        v = txlog.restore(path, 1, spark=spark)  # v3: resurrects id=2
        with open(txlog._commit_path(path, v)) as f:  # noqa: SLF001
            commit = json.load(f)
        assert commit.get("change_data"), "restore must store its change record"
        rows = [
            (r.id, r._change_type, r._commit_version)
            for r in txlog.table_changes(spark, path, 2, v).collect()
        ]
        assert rows == [(2, "insert", v)]

    def test_vacuum_drops_only_unreferenced_files(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "a", 1)]), path)
        txlog.overwrite(_df(spark, [(2, "b", 1)]), path)
        live_before = set(txlog.visible_files(path))
        deleted = txlog.vacuum(path, retain_versions=1)
        assert deleted, "the overwritten v1 files should be vacuumed"
        assert set(txlog.visible_files(path)) == live_before
        assert {r.id for r in txlog.read(spark, path).collect()} == {2}
        for rel in deleted:
            assert not os.path.exists(os.path.join(path, rel))
        # time travel to the vacuumed version is gone — documented behavior
        with pytest.raises(Exception):
            txlog.read(spark, path, version=1).collect()


class TestStatsPruning:
    @staticmethod
    def _ranged(spark, lo, hi):
        return spark.range(lo, hi).selectExpr("id", "cast(id as double) AS v")

    def test_read_pruned_skips_nonoverlapping_files(self, spark, tmp_path):
        path = str(tmp_path / "t")
        # three appends with disjoint id ranges -> per-file stats in the log
        for lo, hi in [(0, 100), (100, 200), (200, 300)]:
            txlog.append(
                self._ranged(spark, lo, hi).coalesce(1), path, stats_cols=["id"]
            )
        all_files = set(txlog.read(spark, path).inputFiles())
        pruned = txlog.read_pruned(spark, path, "id", lo=120, hi=150)
        assert len(pruned.inputFiles()) < len(all_files)
        assert set(pruned.inputFiles()) <= all_files
        want = sorted(
            r.id for r in txlog.read(spark, path).filter("id BETWEEN 120 AND 150").collect()
        )
        assert sorted(r.id for r in pruned.collect()) == want

    def test_files_without_stats_are_kept(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(self._ranged(spark, 0, 100).coalesce(1), path)  # no stats
        txlog.append(self._ranged(spark, 100, 200).coalesce(1), path, stats_cols=["id"])
        pruned = txlog.read_pruned(spark, path, "id", lo=500, hi=600)
        # stats file pruned; statless file conservatively read, rows filtered
        assert len(pruned.inputFiles()) == 1
        assert pruned.count() == 0

    def test_empty_intersection_returns_empty_df_with_schema(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(self._ranged(spark, 0, 100).coalesce(1), path, stats_cols=["id"])
        pruned = txlog.read_pruned(spark, path, "id", lo=1000)
        assert pruned.count() == 0
        assert set(pruned.columns) == {"id", "v"}

    def test_string_stats_prune(self, spark, tmp_path):
        path = str(tmp_path / "t")
        a = spark.createDataFrame([("apple", 1), ("banana", 2)], ["name", "x"])
        z = spark.createDataFrame([("yak", 3), ("zebra", 4)], ["name", "x"])
        txlog.append(a.coalesce(1), path, stats_cols=["name"])
        txlog.append(z.coalesce(1), path, stats_cols=["name"])
        pruned = txlog.read_pruned(spark, path, "name", lo="x", hi="zz")
        assert len(pruned.inputFiles()) == 1
        assert {r.name for r in pruned.collect()} == {"yak", "zebra"}

    def test_optimize_recollects_stats_for_compacted_files(self, spark, tmp_path):
        path = str(tmp_path / "t")
        for lo, hi in [(0, 50), (50, 100), (500, 600)]:
            txlog.append(
                self._ranged(spark, lo, hi).coalesce(1), path, stats_cols=["id"]
            )
        txlog.optimize(spark, path)  # tiny files all compact into one group
        stats = txlog.visible_stats(path)
        assert stats, "compacted files must carry recollected stats"
        assert all("id" in s for s in stats.values())
        # pruning still works post-compaction (single file now spans all)
        pruned = txlog.read_pruned(spark, path, "id", lo=550, hi=560)
        got = sorted(r.id for r in pruned.collect())
        assert got == list(range(550, 561))


class TestDeleteWhere:
    @staticmethod
    def _ranged(spark, lo, hi):
        return spark.range(lo, hi).selectExpr("id", "cast(id as double) AS v")

    def test_delete_rewrites_only_matched_files(self, spark, tmp_path):
        from pyspark.sql import functions as F

        path = str(tmp_path / "t")
        for lo, hi in [(0, 100), (100, 200), (200, 300)]:
            txlog.append(
                self._ranged(spark, lo, hi).coalesce(1), path, stats_cols=["id"]
            )
        before = set(txlog.read(spark, path).inputFiles())
        v = txlog.delete_where(
            spark, path, F.col("id").between(120, 150), prune_col="id", lo=120, hi=150
        )
        after = set(txlog.read(spark, path).inputFiles())
        # the two untouched range files keep their exact paths (CoW at file
        # granularity); only the middle file was rewritten
        assert len(before & after) == 2
        got = sorted(r.id for r in txlog.read(spark, path).collect())
        assert got == [i for i in range(300) if not (120 <= i <= 150)]
        # deletion is visible in the change feed as deletes of those rows
        ch = txlog.table_changes(spark, path, v - 1, v)
        deleted = sorted(r.id for r in ch.filter("_change_type = 'delete'").collect())
        assert deleted == list(range(120, 151))

    def test_delete_with_no_matches_is_a_noop_commit_free(self, spark, tmp_path):
        from pyspark.sql import functions as F

        path = str(tmp_path / "t")
        txlog.append(self._ranged(spark, 0, 100).coalesce(1), path, stats_cols=["id"])
        v0 = txlog.current_version(path)
        assert txlog.delete_where(spark, path, F.col("id") > 1000) == v0
        assert txlog.current_version(path) == v0

    def test_delete_preserves_stats_for_pruned_reads(self, spark, tmp_path):
        from pyspark.sql import functions as F

        path = str(tmp_path / "t")
        for lo, hi in [(0, 100), (100, 200)]:
            txlog.append(
                self._ranged(spark, lo, hi).coalesce(1), path, stats_cols=["id"]
            )
        txlog.delete_where(spark, path, F.col("id") < 10, prune_col="id", lo=None, hi=10)
        pruned = txlog.read_pruned(spark, path, "id", lo=150)
        assert len(pruned.inputFiles()) == 1  # rewritten file still skips
        assert pruned.count() == 50


class TestSchemaEvolution:
    def test_additive_column_reads_null_for_old_rows(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(spark.createDataFrame([(1, "a")], ["id", "v"]), path)
        txlog.append(
            spark.createDataFrame([(2, "b", 9.5)], ["id", "v", "score"]),
            path,
            merge_schema=True,
        )
        df = txlog.read(spark, path, merge_schema=True)
        assert set(df.columns) == {"id", "v", "score"}
        rows = {r.id: r.score for r in df.collect()}
        assert rows == {1: None, 2: 9.5}


class TestClusteredAppend:
    def test_zorder_stats_prune_on_both_dimensions(self, spark, tmp_path):
        path = str(tmp_path / "t")
        df = (
            spark.range(4096)
            .selectExpr("id % 64 AS x", "cast(id / 64 as long) AS y", "id AS payload")
        )
        txlog.append_clustered(df, path, ["x", "y"], n_files=16)
        total = len(txlog.read(spark, path).inputFiles())
        assert total == 16
        for col, lo, hi, expect in [("x", 10, 13, 256), ("y", 50, 53, 256)]:
            pruned = txlog.read_pruned(spark, path, col, lo=lo, hi=hi)
            # Z-order bounds BOTH dimensions per file: a narrow range on
            # either column must skip most files
            assert len(pruned.inputFiles()) < total / 2, (col, len(pruned.inputFiles()))
            assert pruned.count() == expect


class TestBloomPointSkipping:
    def test_point_lookup_skips_files_ranges_cannot(self, spark, tmp_path):
        path = str(tmp_path / "t")
        # UNCLUSTERED ids: every file's [min,max] range covers nearly the
        # full id space, so min/max stats cannot skip a point probe —
        # exactly the case the bloom covers.
        for residue in range(4):
            df = (
                spark.range(1000)
                .selectExpr(f"id * 4 + {residue} AS id", "cast(id as double) AS v")
            )
            txlog.append(
                df.coalesce(1), path, stats_cols=["id"], bloom_cols=["id"]
            )
        total = len(txlog.read(spark, path).inputFiles())
        assert total == 4
        probe = txlog.read_point(spark, path, "id", 4 * 123 + 2)  # residue-2 file
        assert len(probe.inputFiles()) < total
        rows = probe.collect()
        assert len(rows) == 1 and rows[0].id == 4 * 123 + 2
        # range pruning genuinely cannot help here (sanity check)
        ranged = txlog.read_pruned(spark, path, "id", lo=4 * 123 + 2, hi=4 * 123 + 2)
        assert len(ranged.inputFiles()) == total

    def test_absent_value_reads_no_matching_rows(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(
            spark.range(100).selectExpr("id", "id AS v").coalesce(1),
            path,
            bloom_cols=["id"],
        )
        probe = txlog.read_point(spark, path, "id", 10_000)
        assert probe.count() == 0

    def test_string_keys_supported(self, spark, tmp_path):
        path = str(tmp_path / "t")
        a = spark.createDataFrame([("alpha", 1), ("beta", 2)], ["k", "x"])
        b = spark.createDataFrame([("gamma", 3), ("delta", 4)], ["k", "x"])
        txlog.append(a.coalesce(1), path, bloom_cols=["k"])
        txlog.append(b.coalesce(1), path, bloom_cols=["k"])
        probe = txlog.read_point(spark, path, "k", "gamma")
        assert len(probe.inputFiles()) == 1
        assert [r.x for r in probe.collect()] == [3]

    def test_files_without_blooms_are_kept(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(
            spark.range(50).selectExpr("id", "id AS v").coalesce(1), path
        )  # no bloom
        txlog.append(
            spark.range(50, 100).selectExpr("id", "id AS v").coalesce(1),
            path,
            bloom_cols=["id"],
        )
        probe = txlog.read_point(spark, path, "id", 25)
        assert len(probe.inputFiles()) == 1  # bloomed file skipped, bare kept
        assert [r.id for r in probe.collect()] == [25]

    def test_point_delete_uses_blooms_to_avoid_scanning(self, spark, tmp_path):
        from pyspark.sql import functions as F

        path = str(tmp_path / "t")
        for residue in range(4):
            df = spark.range(100).selectExpr(
                f"id * 4 + {residue} AS id", "cast(id as double) AS v"
            )
            txlog.append(df.coalesce(1), path, bloom_cols=["id"])
        before = set(txlog.read(spark, path).inputFiles())
        target = 4 * 42 + 3
        txlog.delete_where(
            spark, path, F.col("id") == target, prune_col="id", lo=target, hi=target
        )
        after = set(txlog.read(spark, path).inputFiles())
        assert len(before & after) == 3  # only the residue-3 file rewritten
        assert txlog.read(spark, path).filter(F.col("id") == target).count() == 0
        assert txlog.read(spark, path).count() == 399


class TestMultiRangePruning:
    def test_two_dim_ranges_prune_tighter_than_either_alone(self, spark, tmp_path):
        path = str(tmp_path / "t")
        df = spark.range(4096).selectExpr(
            "id % 64 AS x", "cast(id / 64 as long) AS y", "id AS payload"
        )
        txlog.append_clustered(df, path, ["x", "y"], n_files=16)
        one_x = txlog.read_pruned(spark, path, "x", lo=10, hi=13)
        one_y = txlog.read_pruned(spark, path, "y", lo=50, hi=53)
        both = txlog.read_pruned_multi(
            spark, path, {"x": (10, 13), "y": (50, 53)}
        )
        n_both = len(both.inputFiles())
        assert n_both <= min(len(one_x.inputFiles()), len(one_y.inputFiles()))
        want = df.filter("x BETWEEN 10 AND 13 AND y BETWEEN 50 AND 53").count()
        assert both.count() == want


class TestAdviceFixes:
    """Regression tests for the round-3 ADVICE findings (txlog semantics)."""

    def test_delete_where_null_predicate_rows_survive(self, spark, tmp_path):
        """SQL DELETE three-valued logic: rows where the predicate is NULL
        are NOT deleted, even when they sit in a file that gets rewritten."""
        path = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(1, 10), (2, None), (3, 99)], "id long, v long"
        )
        txlog.append(df, path)
        txlog.delete_where(spark, path, "v > 50")  # NULL for id=2
        got = {r.id for r in txlog.read(spark, path).collect()}
        assert got == {1, 2}  # id=3 deleted; NULL-predicate id=2 survives

    def test_delete_where_column_predicate_null_semantics(self, spark, tmp_path):
        from pyspark.sql import functions as F

        path = str(tmp_path / "t")
        df = spark.createDataFrame([(1, "x"), (2, None), (3, "y")], "id long, s string")
        txlog.append(df, path)
        txlog.delete_where(spark, path, F.col("s") == "y")
        got = {r.id for r in txlog.read(spark, path).collect()}
        assert got == {1, 2}

    def test_optimize_preserves_evolved_schema(self, spark, tmp_path):
        """Compaction across additive schema evolution keeps the new column
        (narrower-footer rewrite would lose it permanently post-vacuum)."""
        path = str(tmp_path / "t")
        txlog.append(spark.createDataFrame([(1, "a")], "id long, v string"), path)
        txlog.append(
            spark.createDataFrame([(2, "b", 7)], "id long, v string, extra long"),
            path,
            merge_schema=True,
        )
        v = txlog.optimize(spark, path, target_file_bytes=1 << 30)
        assert v == 3
        got = txlog.read(spark, path, merge_schema=True)
        assert "extra" in got.columns
        rows = {r.id: r.extra for r in got.collect()}
        assert rows == {1: None, 2: 7}

    def test_delete_where_preserves_evolved_schema(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(spark.createDataFrame([(1, "a")], "id long, v string"), path)
        txlog.append(
            spark.createDataFrame(
                [(2, "b", 7), (3, "c", 8)], "id long, v string, extra long"
            ),
            path,
            merge_schema=True,
        )
        txlog.delete_where(spark, path, "id = 3")
        got = txlog.read(spark, path, merge_schema=True)
        assert "extra" in got.columns
        assert {r.id: r.extra for r in got.collect()} == {1: None, 2: 7}

    @pytest.mark.parametrize("op", ["delete_where", "delete_where_dv", "merge_into"])
    def test_mutation_path_with_spaces(self, spark, tmp_path, op):
        """Scanned file paths are percent-encoded URIs; a mutation must map
        each tagged file back to the log's path for it, or the remove-list
        (or the DV's file) never matches."""
        path = str(tmp_path / "ta ble dir")
        txlog.append(
            spark.createDataFrame([(1, 1), (2, 2)], "id long, v long"), path
        )
        if op == "delete_where":
            v = txlog.delete_where(spark, path, "id = 2")
        elif op == "delete_where_dv":
            v = txlog.delete_where_dv(spark, path, "id = 2")
        else:
            src = spark.createDataFrame([(2, 0)], "id long, v long")
            v = txlog.merge_into(
                spark, path, src, keys=["id"], when_matched=[("delete",)],
                when_not_matched=None,
            )
        assert v == 2
        assert {r.id for r in txlog.read_mor(spark, path).collect()} == {1}
        if op != "delete_where_dv":
            assert {r.id for r in txlog.read(spark, path).collect()} == {1}

    def test_temporal_and_decimal_stats_round_trip(self, spark, tmp_path):
        """stats_cols on timestamp/date/decimal columns must not crash at
        commit (json.dumps) and must prune correctly via canonical forms."""
        import datetime

        path = str(tmp_path / "t")
        rows_old = [
            (1, datetime.datetime(2020, 1, 1), datetime.date(2020, 1, 1)),
            (2, datetime.datetime(2020, 6, 1), datetime.date(2020, 6, 1)),
        ]
        rows_new = [
            (3, datetime.datetime(2021, 1, 1), datetime.date(2021, 1, 1)),
            (4, datetime.datetime(2021, 6, 1), datetime.date(2021, 6, 1)),
        ]
        schema = "id long, ts timestamp, d date"
        txlog.append(
            spark.createDataFrame(rows_old, schema), path, stats_cols=["ts", "d"]
        )
        txlog.append(
            spark.createDataFrame(rows_new, schema), path, stats_cols=["ts", "d"]
        )
        got = txlog.read_pruned(
            spark, path, "ts", lo=datetime.datetime(2021, 1, 1)
        )
        assert {r.id for r in got.collect()} == {3, 4}
        # the 2020 file was skipped at plan build, not just filtered
        assert len(got.inputFiles()) < len(txlog.read(spark, path).inputFiles())
        got_d = txlog.read_pruned(
            spark, path, "d", hi=datetime.date(2020, 12, 31)
        )
        assert {r.id for r in got_d.collect()} == {1, 2}

    def test_decimal_stats_prune_conservatively(self, spark, tmp_path):
        from decimal import Decimal

        path = str(tmp_path / "t")
        schema = "id long, amt decimal(10,2)"
        txlog.append(
            spark.createDataFrame([(1, Decimal("10.00")), (2, Decimal("20.00"))], schema),
            path,
            stats_cols=["amt"],
        )
        txlog.append(
            spark.createDataFrame([(3, Decimal("90.00")), (4, Decimal("99.99"))], schema),
            path,
            stats_cols=["amt"],
        )
        got = txlog.read_pruned(spark, path, "amt", lo=Decimal("50"))
        assert {r.id for r in got.collect()} == {3, 4}
        assert len(got.inputFiles()) < len(txlog.read(spark, path).inputFiles())

    def test_bloom_cols_reject_float_columns(self, spark, tmp_path):
        """Representation-sensitive hashing: float bloom columns are refused
        up front (before any data file lands) instead of false-skipping."""
        path = str(tmp_path / "t")
        df = spark.createDataFrame([(1, 5.0)], "id long, x double")
        with pytest.raises(TypeError, match="bloom_cols"):
            txlog.append(df, path, bloom_cols=["x"])
        assert txlog.current_version(path) == 0  # nothing committed

    def test_commit_meta_is_atomic_with_data(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "a", 1)]), path)
        txlog.overwrite(_df(spark, [(2, "b", 2)]), path, meta={"source_version": 7})
        assert txlog.latest_meta(path, "source_version") == 7
        # meta resolves per-version: version 1 predates it
        assert txlog.latest_meta(path, "source_version", version=1) is None


class TestComposedPruning:
    """Round-4 hardening: the pruning layers (multi-range stats, blooms)
    and additive schema evolution composed in ONE table lifecycle, the way
    a real table accretes features — previously each was tested alone."""

    def test_multirange_blooms_and_evolution_compose(self, spark, tmp_path):
        path = str(tmp_path / "t")
        # epoch 1: narrow schema, clustered on (a, b) with stats + blooms
        df1 = spark.createDataFrame(
            [(i, i * 10, f"u{i}") for i in range(0, 50)], "a long, b long, k string"
        ).coalesce(1)
        df2 = spark.createDataFrame(
            [(i, i * 10, f"u{i}") for i in range(50, 100)], "a long, b long, k string"
        ).coalesce(1)
        txlog.append(df1, path, stats_cols=["a", "b"], bloom_cols=["k"])
        txlog.append(df2, path, stats_cols=["a", "b"], bloom_cols=["k"])
        # epoch 2: schema evolves (adds column c), still stats on (a, b)
        df3 = spark.createDataFrame(
            [(i, i * 10, f"u{i}", "new") for i in range(100, 150)],
            "a long, b long, k string, c string",
        ).coalesce(1)
        txlog.append(
            df3, path, stats_cols=["a", "b"], bloom_cols=["k"], merge_schema=True
        )

        # multi-range prune intersects BOTH dimensions and skips files 2+3
        got = txlog.read_pruned_multi(spark, path, {"a": (0, 40), "b": (0, 300)})
        assert {r.a for r in got.collect()} == set(range(0, 31))
        assert len(got.inputFiles()) == 1

        # bloom point-read still zero-false-skips across the evolved commit
        got_pt = txlog.read_point(spark, path, "k", "u120")
        assert [r.a for r in got_pt.collect()] == [120]
        assert len(got_pt.inputFiles()) == 1

        # DELETE in the old-schema band, then OPTIMIZE across the evolution
        # boundary: evolved column survives, NULL for pre-evolution rows
        txlog.delete_where(spark, path, "a >= 140", prune_col="a", lo=140)
        txlog.optimize(spark, path, target_file_bytes=1 << 30)
        final = txlog.read(spark, path, merge_schema=True)
        rows = {r.a: r.c for r in final.collect()}
        assert set(rows) == set(range(0, 140))
        assert rows[0] is None and rows[120] == "new"

        # stats survived delete+optimize: the multi-range prune still skips
        pruned = txlog.read_pruned_multi(spark, path, {"a": (100, 139), "b": (1000, 1390)})
        assert {r.a for r in pruned.collect()} == set(range(100, 140))


class TestUpdateRestoreHistory:
    def test_update_where_rewrites_only_matched_files(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(
            spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, v double")
            .coalesce(1),
            path,
        )
        txlog.append(
            spark.createDataFrame([(3, 30.0), (4, 40.0)], "id long, v double")
            .coalesce(1),
            path,
        )
        before = set(txlog.visible_files(path))
        v = txlog.update_where(spark, path, "id = 3", {"v": "v * 10"})
        assert v == 3
        after = set(txlog.visible_files(path))
        # the untouched file (ids 1,2) is still referenced byte-identical
        assert len(before & after) == len(before) - 1
        got = {r.id: r.v for r in txlog.read(spark, path).collect()}
        assert got == {1: 10.0, 2: 20.0, 3: 300.0, 4: 40.0}

    def test_update_where_null_predicate_rows_unchanged(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(
            spark.createDataFrame(
                [(1, 5.0, "x"), (2, None, "y"), (3, 50.0, "z")],
                "id long, thresh double, s string",
            ),
            path,
        )
        txlog.update_where(spark, path, "thresh > 10", {"s": F.lit("hit")})
        got = {r.id: r.s for r in txlog.read(spark, path).collect()}
        assert got == {1: "x", 2: "y", 3: "hit"}

    def test_update_keeps_column_type(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(
            spark.createDataFrame([(1, 10)], "id long, v int"), path
        )
        txlog.update_where(spark, path, "id = 1", {"v": "v + 1.5"})
        df = txlog.read(spark, path)
        assert dict(df.dtypes)["v"] == "int"
        assert df.collect()[0].v == 11

    @pytest.mark.parametrize("op", ["update_where", "update_where_dv", "merge_into"])
    def test_update_unknown_column_raises(self, spark, tmp_path, op):
        """A SET column the table lacks errors before any scan — also when
        the mutation would match nothing (the merge source's key is absent
        from the table) and no commit lands."""
        path = str(tmp_path / "t")
        txlog.append(spark.createDataFrame([(1,)], "id long"), path)
        mutate = {
            "update_where": lambda: txlog.update_where(
                spark, path, "id = 1", {"nope": F.lit(0)}
            ),
            "update_where_dv": lambda: txlog.update_where_dv(
                spark, path, "id = 1", {"nope": F.lit(0)}
            ),
            "merge_into": lambda: txlog.merge_into(
                spark,
                path,
                spark.createDataFrame([(2,)], "id long"),
                keys=["id"],
                when_matched=[("update", {"nope": "s.id"})],
            ),
        }[op]
        with pytest.raises(ValueError, match="unknown columns"):
            mutate()
        assert txlog.current_version(path) == 1

    def test_restore_flips_visibility_without_rewrite(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "a", 1), (2, "b", 1)]), path)
        txlog.delete_where(spark, path, "id = 2")
        assert {r.id for r in txlog.read(spark, path).collect()} == {1}
        n_data_files = len(txlog.visible_files(path))
        v = txlog.restore(path, 1)
        assert v == 3
        assert {r.id for r in txlog.read(spark, path).collect()} == {1, 2}
        # nothing was rewritten: restored snapshot = version 1's exact files
        assert set(txlog.visible_files(path, 3)) == set(txlog.visible_files(path, 1))
        # and the rollback is itself history: version 2 still readable
        assert {r.id for r in txlog.read(spark, path, version=2).collect()} == {1}
        del n_data_files

    def test_restore_carries_stats_and_blooms_forward(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(
            spark.createDataFrame([(i, f"k{i}") for i in range(10)], "id long, k string")
            .coalesce(1),
            path,
            stats_cols=["id"],
            bloom_cols=["k"],
        )
        txlog.overwrite(
            spark.createDataFrame([(99, "zz")], "id long, k string"), path
        )
        txlog.restore(path, 1)
        assert txlog.visible_stats(path), "stats lost across restore"
        assert txlog.visible_blooms(path), "blooms lost across restore"
        got = txlog.read_pruned(spark, path, "id", lo=0, hi=5)
        assert {r.id for r in got.collect()} == set(range(6))

    def test_restore_refuses_vacuumed_target(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "a", 1)]), path)
        txlog.overwrite(_df(spark, [(2, "b", 2)]), path)
        txlog.vacuum(path, retain_versions=1)
        with pytest.raises(FileNotFoundError, match="vacuumed"):
            txlog.restore(path, 1)

    def test_history_records_operations(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "a", 1), (2, "b", 1)]), path)
        txlog.delete_where(spark, path, "id = 2")
        txlog.merge(
            spark, path, _df(spark, [(1, "a2", 2)]), keys=["id"], order_col="version"
        )
        txlog.restore(path, 1)
        h = txlog.history(path)
        assert [d["version"] for d in h] == [4, 3, 2, 1]
        assert [d["op"] for d in h] == ["restore", "merge", "delete", "append"]
        assert h[0]["restored_version"] == 1


class TestBloomSizing:
    def test_blooms_stay_effective_at_high_file_cardinality(self, spark, tmp_path):
        """A FIXED-size bloom saturates as per-file key counts grow (8 Kib
        at ~4k keys ≈ 75% false-keep — skipping stops working exactly when
        files reach realistic sizes). The filter must scale with the value
        count: at 4k keys/file a point probe still skips ~99% of non-owner
        files."""
        path = str(tmp_path / "t")
        for g in range(4):
            df = spark.createDataFrame(
                [(i,) for i in range(16000) if i % 4 == g], "k long"
            ).coalesce(1)
            txlog.append(df, path, bloom_cols=["k"])
        got = txlog.read_point(spark, path, "k", 7)  # lives in group 3
        assert [r.k for r in got.collect()] == [7]
        assert len(got.inputFiles()) <= 2, got.inputFiles()


class TestConcurrency:
    def test_racing_appends_all_land(self, spark, tmp_path):
        """Optimistic concurrency under a real thread race: N writers
        blind-append simultaneously; every append must land in SOME version
        (retry past stolen versions), the log must be gap-free, and the
        final snapshot must hold all rows exactly once."""
        import threading

        path = str(tmp_path / "t")
        n_writers, errors = 8, []

        def writer(i: int) -> None:
            try:
                df = spark.createDataFrame([(i, j) for j in range(10)], "w long, j long")
                txlog.append(df, path)
            except Exception as e:  # pragma: no cover - failure reporting
                errors.append((i, e))

        threads = [threading.Thread(target=writer, args=(i,)) for i in range(n_writers)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors, errors
        assert txlog.current_version(path) == n_writers  # gap-free log
        got = txlog.read(spark, path).groupBy("w").count().collect()
        assert {r.w: r["count"] for r in got} == {i: 10 for i in range(n_writers)}


class TestMergeInto:
    """Clause-based, file-pruned MERGE INTO (the Delta/SQL:2003 contract):
    whenMatched UPDATE/DELETE with conditions, whenNotMatched INSERT,
    untouched-file byte-identity, the multiple-source-rows error, and the
    CDF update pairs."""

    def _table(self, spark, tmp_path, n_bands=4):
        """A table landed in n_bands disjoint id-range bands (one file
        group each, per-file id stats) so a key-bounded merge provably
        prunes the other bands."""
        path = str(tmp_path / "t")
        for b in range(n_bands):
            rows = [(b * 10 + i, f"v{b * 10 + i}", 1) for i in range(10)]
            txlog.append(_df(spark, rows).coalesce(1), path, stats_cols=["id"])
        return path

    def test_update_and_insert_prune_unmatched_bands(self, spark, tmp_path):
        path = self._table(spark, tmp_path)
        pre = set(txlog.visible_files(path))
        src = spark.createDataFrame(
            [(3, "U3"), (7, "U7"), (100, "NEW")], "id long, v string"
        )
        txlog.merge_into(
            spark, path, src, ["id"],
            when_matched=[("update", {"v": "s.v"})],
            when_not_matched=True,
        )
        post = set(txlog.visible_files(path))
        # bands 1..3 (ids 10..39) contain no source keys: byte-identical
        assert len(pre & post) == 3
        got = {r.id: r.v for r in txlog.read(spark, path).collect()}
        assert got[3] == "U3" and got[7] == "U7"
        assert got[100] == "NEW"
        assert got[5] == "v5" and got[15] == "v15"
        assert len(got) == 41

    def test_matched_delete_with_condition(self, spark, tmp_path):
        path = self._table(spark, tmp_path)
        src = spark.createDataFrame(
            [(1, True), (2, False), (11, True)], "id long, purge boolean"
        )
        txlog.merge_into(
            spark, path, src, ["id"],
            when_matched=[("delete", "s.purge")],
            when_not_matched=False,
        )
        ids = {r.id for r in txlog.read(spark, path).collect()}
        assert 1 not in ids and 11 not in ids
        assert 2 in ids and len(ids) == 38

    def test_clause_order_first_true_wins(self, spark, tmp_path):
        path = self._table(spark, tmp_path, n_bands=1)
        src = spark.createDataFrame(
            [(1, "stale", 0), (2, "fresh", 9)], "id long, v string, version int"
        )
        txlog.merge_into(
            spark, path, src, ["id"],
            when_matched=[
                ("delete", "s.version < t.version"),
                ("update", "*"),
            ],
            when_not_matched=False,
        )
        got = {r.id: (r.v, r.version) for r in txlog.read(spark, path).collect()}
        assert 1 not in got  # first clause (conditioned delete) won
        assert got[2] == ("fresh", 9)  # fell through to the update

    def test_unconditioned_nonfinal_clause_rejected(self, spark, tmp_path):
        path = self._table(spark, tmp_path, n_bands=1)
        src = spark.createDataFrame([(1, "x")], "id long, v string")
        with pytest.raises(ValueError, match="unreachable"):
            txlog.merge_into(
                spark, path, src, ["id"],
                when_matched=[("update", "*"), ("delete",)],
            )

    def test_multiple_source_rows_matching_one_target_raise(
        self, spark, tmp_path
    ):
        path = self._table(spark, tmp_path, n_bands=1)
        src = spark.createDataFrame(
            [(1, "a"), (1, "b")], "id long, v string"
        )
        with pytest.raises(ValueError, match="multiple source rows"):
            txlog.merge_into(
                spark, path, src, ["id"], when_matched=[("update", "*")]
            )
        # insert-only merges tolerate source dupes (both land, as in SQL)
        src2 = spark.createDataFrame(
            [(100, "a", 1), (100, "b", 1)], "id long, v string, version int"
        )
        txlog.merge_into(spark, path, src2, ["id"], when_not_matched=True)
        assert txlog.read(spark, path).filter("id = 100").count() == 2

    def test_insert_only_merge_skips_key_uniqueness_count(self, spark, tmp_path):
        """Only matched clauses need the source keys' uniqueness, so an
        insert-only merge runs no distinct count (a multi-level aggregate)
        in any of its executions."""
        path = self._table(spark, tmp_path, n_bands=1)
        src = _df(spark, [(3, "dup", 1), (100, "new", 1)])
        plans = _executed_plans(
            spark,
            lambda: txlog.merge_into(spark, path, src, ["id"], when_not_matched=True),
        )
        assert plans, "the merge ran no SQL execution"
        assert not [p for p in plans if "Expand" in p or "count(distinct" in p]
        got = {r.id: r.v for r in txlog.read(spark, path).collect()}
        assert got[3] == "v3" and got[100] == "new" and len(got) == 11

    def test_insert_condition_and_explicit_values(self, spark, tmp_path):
        path = self._table(spark, tmp_path, n_bands=1)
        src = spark.createDataFrame(
            [(100, "yes", 5), (101, "no", 5)], "id long, v string, version int"
        )
        txlog.merge_into(
            spark, path, src, ["id"],
            when_not_matched=(
                "insert",
                {"id": "s.id", "v": F.upper("s.v"), "version": "s.version + 1"},
                "s.v = 'yes'",
            ),
        )
        got = {r.id: (r.v, r.version) for r in txlog.read(spark, path).collect()}
        assert got[100] == ("YES", 6)
        assert 101 not in got

    def test_null_keys_never_match(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(
            spark.createDataFrame([(None, "t-null"), (1, "one")], "id long, v string"),
            path,
        )
        src = spark.createDataFrame([(None, "s-null")], "id long, v string")
        txlog.merge_into(
            spark, path, src, ["id"],
            when_matched=[("update", "*")], when_not_matched=True,
        )
        vs = sorted(
            r.v for r in txlog.read(spark, path).filter("id IS NULL").collect()
        )
        assert vs == ["s-null", "t-null"]  # NULL inserts, never updates

    def test_latest_wins_replay_commits_nothing(self, spark, tmp_path):
        """The wrapper's strictly-newer condition makes an at-least-once
        re-delivery a TRUE no-op: same batch, same order values → zero
        files rewritten, zero commits, empty CDF window — the streaming
        MERGE sink's replay story without a dedup layer."""
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "a", 1), (2, "b", 1)]), path)
        upd = _df(spark, [(2, "b2", 5), (3, "c", 5)])
        v1 = txlog.merge(spark, path, upd, keys=["id"], order_col="version")
        files = set(txlog.visible_files(path))
        v2 = txlog.merge(spark, path, upd, keys=["id"], order_col="version")
        assert v2 == v1
        assert set(txlog.visible_files(path)) == files
        got = {r.id: r.v for r in txlog.read(spark, path).collect()}
        assert got == {1: "a", 2: "b2", 3: "c"}
        # a same-order update with different values deterministically
        # KEEPS the existing row (order columns totally order versions;
        # equal order = re-delivery by contract)
        txlog.merge(
            spark, path, _df(spark, [(2, "SHOULD_LOSE", 5)]),
            keys=["id"], order_col="version",
        )
        assert {r.v for r in txlog.read(spark, path).filter("id = 2").collect()} == {"b2"}

    def test_when_not_matched_by_source_delete_and_update(
        self, spark, tmp_path
    ):
        """The Delta whenNotMatchedBySource surface: the source snapshot
        names the rows to KEEP (updated); unmatched target rows age out —
        delete stale ones, tombstone the rest — in the SAME atomic merge.
        All three clause families compose: matched update, by-source
        delete (conditioned), by-source update (fallback)."""
        path = self._table(spark, tmp_path, n_bands=1)  # ids 0..9
        src = spark.createDataFrame(
            [(1, "keep1"), (2, "keep2")], "id long, v string"
        )
        txlog.merge_into(
            spark, path, src, ["id"],
            when_matched=[("update", {"v": "s.v"})],
            when_not_matched_by_source=[
                ("delete", "t.id >= 8"),
                ("update", {"v": F.lit("tombstone")}),
            ],
        )
        got = {r.id: r.v for r in txlog.read(spark, path).collect()}
        assert got[1] == "keep1" and got[2] == "keep2"
        assert 8 not in got and 9 not in got  # aged out
        assert got[0] == got[5] == "tombstone"
        assert len(got) == 8

    def test_by_source_cdf_and_row_ids(self, spark, tmp_path):
        path = self._table(spark, tmp_path, n_bands=1)
        txlog.enable_row_tracking(path)
        ids = {r.id: r.row_id for r in txlog.read_with_row_ids(spark, path).collect()}
        v0 = txlog.current_version(path)
        src = spark.createDataFrame([(1, "k")], "id long, v string")
        txlog.merge_into(
            spark, path, src, ["id"],
            when_matched=[("update", {"v": "s.v"})],
            when_not_matched_by_source=[("delete", "t.id > 7")],
        )
        ch = txlog.table_changes(spark, path, v0, include_row_ids=True).collect()
        by = {(r.id, r._change_type): r.row_id for r in ch}
        assert by[(8, "delete")] == ids[8] and by[(9, "delete")] == ids[9]
        assert by[(1, "delete")] == by[(1, "insert")] == ids[1]
        assert len(ch) == 4  # one update pair + two aged-out deletes
        post = {r.id: r.row_id for r in txlog.read_with_row_ids(spark, path).collect()}
        assert post[1] == ids[1] and post[5] == ids[5]  # survivors stable

    def test_by_source_update_star_rejected(self, spark, tmp_path):
        path = self._table(spark, tmp_path, n_bands=1)
        src = spark.createDataFrame([(1, "x")], "id long, v string")
        with pytest.raises(ValueError, match="no source row"):
            txlog.merge_into(
                spark, path, src, ["id"],
                when_not_matched_by_source=[("update", "*")],
            )

    def test_by_source_condition_prunes_files(self, spark, tmp_path):
        """Even the whole-snapshot by-source scan keeps condition-aware
        pruning: files where no target row satisfies the by-source
        condition (and no matched clause fires) stay byte-identical."""
        path = self._table(spark, tmp_path)  # 4 bands, ids 0..39
        pre = set(txlog.visible_files(path))
        src = spark.createDataFrame(
            [(i, f"v{i}") for i in range(10, 40)], "id long, v string"
        )  # bands 1..3 fully matched; band 0 unmatched
        txlog.merge_into(
            spark, path, src, ["id"],
            when_not_matched_by_source=[("delete", "t.id < 5")],
        )
        post = set(txlog.visible_files(path))
        # bands 1..3: matched rows, but NO when_matched clause → spared
        assert len(pre & post) == 3
        got = {r.id for r in txlog.read(spark, path).collect()}
        assert got == set(range(5, 40))

    def test_redelivered_batch_is_a_no_op(self, spark, tmp_path):
        """Condition-aware file pruning: a CDC batch whose changes were
        already applied (every key matches, NO clause condition fires)
        must rewrite ZERO files and commit NOTHING — at-least-once
        upstream delivery becomes exactly-once observable state without
        a dedup layer. A key-matched-but-spared file must still block
        re-insertion of its keys through the insert clause."""
        path = self._table(spark, tmp_path)
        src = spark.createDataFrame(
            [(3, "U3", 9), (100, "NEW", 9)], "id long, v string, version int"
        )
        clauses = [("update", "*", "s.version > t.version")]
        v1 = txlog.merge_into(
            spark, path, src, ["id"], when_matched=clauses,
            when_not_matched=True,
        )
        files_after = set(txlog.visible_files(path))
        # replay the SAME batch: versions are no longer newer, key 100
        # now exists → no rewrite, no insert, no commit, no file churn
        v2 = txlog.merge_into(
            spark, path, src, ["id"], when_matched=clauses,
            when_not_matched=True,
        )
        assert v2 == v1
        assert set(txlog.visible_files(path)) == files_after
        got = {r.id: r.v for r in txlog.read(spark, path).collect()}
        assert got[3] == "U3" and got[100] == "NEW" and len(got) == 41

    def test_condition_spared_files_stay_byte_identical(self, spark, tmp_path):
        """A file whose key-matched rows ALL fail the clause conditions is
        key-matched but not rewritten (it stays referenced byte-identical),
        while a file with at least one firing row rewrites."""
        path = self._table(spark, tmp_path)  # 4 band files, ids 0..39
        pre = set(txlog.visible_files(path))
        src = spark.createDataFrame(
            [(3, "hit", 9), (15, "stale", 0)], "id long, v string, version int"
        )
        txlog.merge_into(
            spark, path, src, ["id"],
            when_matched=[("update", "*", "s.version > t.version")],
        )
        post = set(txlog.visible_files(path))
        assert len(pre & post) == 3  # band 1 (id 15) spared, band 0 rewrote
        got = {r.id: r.v for r in txlog.read(spark, path).collect()}
        assert got[3] == "hit" and got[15] == "v15"

    def test_no_change_is_no_commit(self, spark, tmp_path):
        path = self._table(spark, tmp_path, n_bands=1)
        v = txlog.current_version(path)
        src = spark.createDataFrame([(999, "x", 1)], "id long, v string, version int")
        out = txlog.merge_into(
            spark, path, src, ["id"], when_matched=[("update", "*")],
            when_not_matched=False,
        )
        assert out == v

    def test_cdf_emits_update_pairs_and_inserts(self, spark, tmp_path):
        path = self._table(spark, tmp_path, n_bands=2)
        v0 = txlog.current_version(path)
        src = spark.createDataFrame(
            [(3, "U3", 2), (100, "NEW", 2)], "id long, v string, version int"
        )
        txlog.merge_into(
            spark, path, src, ["id"],
            when_matched=[("update", "*")], when_not_matched=True,
        )
        ch = txlog.table_changes(spark, path, v0).collect()
        by = {(r.id, r._change_type): r.v for r in ch}
        assert by[(3, "delete")] == "v3"   # pre-image
        assert by[(3, "insert")] == "U3"   # post-image
        assert by[(100, "insert")] == "NEW"
        assert len(ch) == 3  # pass-through rows are NOT changes

    def test_cdf_update_pair_shares_row_id(self, spark, tmp_path):
        path = self._table(spark, tmp_path, n_bands=2)
        txlog.enable_row_tracking(path)
        v0 = txlog.current_version(path)
        ids = {
            r.id: r.row_id
            for r in txlog.read_with_row_ids(spark, path).collect()
        }
        src = spark.createDataFrame(
            [(3, "U3", 2), (100, "NEW", 2)], "id long, v string, version int"
        )
        txlog.merge_into(
            spark, path, src, ["id"],
            when_matched=[("update", "*")], when_not_matched=True,
        )
        ch = txlog.table_changes(spark, path, v0, include_row_ids=True).collect()
        pair = {r._change_type: r.row_id for r in ch if r.id == 3}
        assert pair["delete"] == pair["insert"] == ids[3]
        ins = [r for r in ch if r.id == 100]
        assert ins[0].row_id is None  # insert identity allocated at commit

    def test_schema_evolution_requires_opt_in(self, spark, tmp_path):
        path = self._table(spark, tmp_path, n_bands=1)
        src = spark.createDataFrame([(1, "x", "extra")], "id long, v string, note string")
        with pytest.raises(ValueError, match="merge_schema"):
            txlog.merge_into(
                spark, path, src, ["id"], when_matched=[("update", "*")]
            )
        txlog.merge_into(
            spark, path, src, ["id"],
            when_matched=[("update", "*")], merge_schema=True,
        )
        got = {r.id: r.note for r in txlog.read(spark, path).collect()}
        assert got[1] == "extra" and got[2] is None

    def test_merge_evolution_never_resurrects_dropped_column(
        self, spark, tmp_path
    ):
        """Evolution through MERGE after a DROP + name recycle: the new
        logical column must land under a FRESH generated physical name
        (append's rule), or the retired bytes still sitting in UNTOUCHED
        files would identity-map back in as the new column's values."""
        path = self._table(spark, tmp_path, n_bands=2)  # files carry v bytes
        txlog.drop_column(path, "v")
        src = spark.createDataFrame([(1, "fresh")], "id long, v string")
        txlog.merge_into(
            spark, path, src, ["id"],
            when_matched=[("update", "*")], merge_schema=True,
        )
        got = {r.id: r.v for r in txlog.read(spark, path).collect()}
        assert got[1] == "fresh"
        # band-1 files were never rewritten and still hold retired "v"
        # bytes — they must read NULL, never "v15"
        assert got[15] is None and got[5] is None
        mapping = txlog._column_mapping(path)  # noqa: SLF001
        assert mapping.get("v", "v") != "v", "fresh physical name expected"

    def test_update_condition_references_both_sides(self, spark, tmp_path):
        path = self._table(spark, tmp_path, n_bands=1)
        src = spark.createDataFrame(
            [(1, "new", 5), (2, "old", 0)], "id long, v string, version int"
        )
        txlog.merge_into(
            spark, path, src, ["id"],
            when_matched=[("update", "*", "s.version > t.version")],
        )
        got = {r.id: r.v for r in txlog.read(spark, path).collect()}
        assert got[1] == "new" and got[2] == "v2"


class TestGeneratedAndIdentityColumns:
    """GENERATED ALWAYS AS expressions (compute-or-validate on every
    write path) and GENERATED ALWAYS AS IDENTITY (watermark-allocated,
    unique, gaps allowed — the Delta contracts)."""

    def _base(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(
            spark.createDataFrame(
                [(1, 10, 20), (2, 5, 7)], "id long, a long, total long"
            ),
            path,
        )
        return path

    def test_generated_computes_when_absent_validates_when_supplied(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "t")
        txlog.append(
            spark.createDataFrame([(1, 10, 11)], "id long, a long, total long"),
            path,
        )
        txlog.add_generated_column(path, "total", "a + id", "bigint", spark=spark)
        txlog.append(
            spark.createDataFrame([(2, 5)], "id long, a long"), path
        )  # omitted → computed
        got = {r.id: r.total for r in txlog.read(spark, path).collect()}
        assert got == {1: 11, 2: 7}
        d = txlog.describe_detail(path)
        assert d["generated_columns"] == {"total": {"expr": "a + id", "type": "bigint"}}
        assert d["identity_columns"] == {} and d["row_tracking"] is False
        txlog.append(
            spark.createDataFrame([(3, 1, 4)], "id long, a long, total long"),
            path,
        )  # supplied and correct
        with pytest.raises(ValueError, match="generation expression"):
            txlog.append(
                spark.createDataFrame(
                    [(4, 1, 999)], "id long, a long, total long"
                ),
                path,
            )

    def test_generated_declaration_validates_existing_rows(
        self, spark, tmp_path
    ):
        path = self._base(spark, tmp_path)  # totals do NOT equal a+id
        with pytest.raises(ValueError, match="existing rows violate"):
            txlog.add_generated_column(path, "total", "a + id", "bigint", spark=spark)
        with pytest.raises(ValueError, match="pass spark="):
            txlog.add_generated_column(path, "total", "a + id", "bigint")
        with pytest.raises(ValueError, match="absent column"):
            txlog.add_generated_column(path, "nope", "a + id", "bigint", spark=spark)

    def test_update_and_merge_keep_the_derivation_true(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(
            spark.createDataFrame([(1, 10, 11), (2, 5, 7)], "id long, a long, total long"),
            path,
        )
        txlog.add_generated_column(path, "total", "a + id", "bigint", spark=spark)
        with pytest.raises(ValueError, match="generation expression"):
            txlog.update_where(spark, path, "id = 1", {"a": F.lit(99)})
        txlog.update_where(
            spark, path, "id = 1", {"a": F.lit(99), "total": F.lit(100)}
        )  # consistent pair passes
        src = spark.createDataFrame([(3, 30)], "id long, a long")
        txlog.merge_into(
            spark, path, src, ["id"],
            when_matched=[("update", {"a": "s.a", "total": "s.a + t.id"})],
            when_not_matched=True,
        )
        got = {r.id: (r.a, r.total) for r in txlog.read(spark, path).collect()}
        assert got[1] == (99, 100)
        assert got[3] == (30, 33)  # merge INSERT computed the derivation

    def test_identity_unique_and_increasing_across_appends(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "t")
        txlog.add_identity_column(path, "rid", start=100, step=2)
        txlog.append(
            spark.createDataFrame([("a",), ("b",), ("c",)], "v string").repartition(2),
            path,
        )
        first = [r.rid for r in txlog.read(spark, path).collect()]
        assert len(set(first)) == 3 and min(first) >= 100
        assert all((r - 100) % 2 == 0 for r in first)
        txlog.append(
            spark.createDataFrame([("d",), ("e",)], "v string"), path
        )
        rows = {r.v: r.rid for r in txlog.read(spark, path).collect()}
        assert len(set(rows.values())) == 5
        assert min(rows[v] for v in "de") > max(first)  # watermark advanced
        with pytest.raises(ValueError, match="ALWAYS AS IDENTITY"):
            txlog.append(
                spark.createDataFrame([("x", 1)], "v string, rid long"), path
            )

    def test_rename_drop_guard_derivations(self, spark, tmp_path):
        """Renaming/dropping a generated column, an input its expression
        names, or an identity column breaks every later write's contract
        — refused like constraint-referenced columns."""
        path = str(tmp_path / "t")
        txlog.append(
            spark.createDataFrame([(1, 2, 3)], "id long, a long, total long"),
            path,
        )
        txlog.add_generated_column(path, "total", "a + id", "bigint", spark=spark)
        for col in ("total", "a", "id"):
            with pytest.raises(ValueError, match="generated"):
                txlog.rename_column(path, col, "zzz")
            with pytest.raises(ValueError, match="generated"):
                txlog.drop_column(path, col)
        ident = str(tmp_path / "i")
        txlog.add_identity_column(ident, "rid")
        txlog.append(spark.createDataFrame([("a",)], "v string"), ident)
        with pytest.raises(ValueError, match="identity"):
            txlog.rename_column(ident, "rid", "zzz")
        with pytest.raises(ValueError, match="identity"):
            txlog.drop_column(ident, "rid")

    def test_identity_declaration_is_creation_time(self, spark, tmp_path):
        path = self._base(spark, tmp_path)
        with pytest.raises(ValueError, match="table creation"):
            txlog.add_identity_column(path, "rid")
        fresh = str(tmp_path / "t2")
        txlog.add_identity_column(fresh, "rid")
        with pytest.raises(ValueError, match="already exists"):
            txlog.add_identity_column(fresh, "rid")

    def test_clone_carries_identity_and_generated(self, spark, tmp_path):
        """A shallow clone losing the identity watermark would silently
        stop assigning; losing generation expressions would stop
        enforcing them — both ride in the clone commit."""
        src = str(tmp_path / "src")
        txlog.add_identity_column(src, "rid", start=10)
        txlog.append(spark.createDataFrame([("a",), ("b",)], "v string"), src)
        dst = str(tmp_path / "dst")
        txlog.clone(src, dst)
        txlog.append(spark.createDataFrame([("c",)], "v string"), dst)
        rows = {r.v: r.rid for r in txlog.read(spark, dst).collect()}
        assert rows["c"] is not None and rows["c"] > max(rows["a"], rows["b"])
        g_src = str(tmp_path / "gsrc")
        txlog.append(
            spark.createDataFrame([(1, 2, 3)], "id long, a long, total long"),
            g_src,
        )
        txlog.add_generated_column(g_src, "total", "a + id", "bigint", spark=spark)
        g_dst = str(tmp_path / "gdst")
        txlog.clone(g_src, g_dst)
        txlog.append(spark.createDataFrame([(4, 5)], "id long, a long"), g_dst)
        got = {r.id: r.total for r in txlog.read(spark, g_dst).collect()}
        assert got[4] == 9  # clone computed the derivation
        with pytest.raises(ValueError, match="generation expression"):
            txlog.append(
                spark.createDataFrame([(6, 1, 99)], "id long, a long, total long"),
                g_dst,
            )

    def test_restore_prunes_generated_for_reverted_schema(
        self, spark, tmp_path
    ):
        """RESTORE below a generated-column declaration whose column the
        restored schema lacks must drop the expression — keeping it would
        auto-compute a column every later append then fails schema
        validation on."""
        path = str(tmp_path / "t")
        txlog.append(spark.createDataFrame([(1, 2)], "id long, a long"), path)
        v1 = txlog.current_version(path)
        txlog.overwrite(
            spark.createDataFrame([(3, 4, 7)], "id long, a long, total long"),
            path,
        )
        txlog.add_generated_column(path, "total", "a + id", "bigint", spark=spark)
        txlog.restore(path, v1, spark=spark)
        assert (txlog.latest_meta(path, "generated") or {}) == {}
        txlog.append(spark.createDataFrame([(5, 6)], "id long, a long"), path)
        got = {r.id for r in txlog.read(spark, path).collect()}
        assert got == {1, 5}

    def test_identity_overwrite_never_recycles(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.add_identity_column(path, "rid")
        txlog.append(spark.createDataFrame([("a",), ("b",)], "v string"), path)
        old = {r.rid for r in txlog.read(spark, path).collect()}
        txlog.overwrite(spark.createDataFrame([("z",)], "v string"), path)
        new = {r.rid for r in txlog.read(spark, path).collect()}
        assert new and not (new & old)
        # MERGE INSERT participates in the same never-recycle watermark
        # (r10 ask #3 lifted the old refusal): the inserted row's id is
        # fresh above everything ever allocated, old ids never reused
        src = spark.createDataFrame([("q",)], "v string")
        txlog.merge_into(spark, path, src, ["v"], when_not_matched=True)
        rows = {r.v: r.rid for r in txlog.read(spark, path).collect()}
        assert rows["q"] not in old | new
        assert len(set(rows.values())) == len(rows)


class TestIdentityMergeInsert:
    """VERDICT r10 ask #3: MERGE INSERT into identity tables via the
    per-attempt watermark reservation inside _commit_serializable."""

    def _table(self, spark, tmp_path, start=100, step=3):
        path = str(tmp_path / "t")
        txlog.add_identity_column(path, "rid", start=start, step=step)
        txlog.append(
            spark.createDataFrame(
                [(1, "a"), (2, "b"), (3, "c")], "k int, val string"
            ).repartition(2),
            path,
            stats_cols=["k"],
        )
        return path

    def test_insert_allocates_unique_on_lattice_fresh_ids(self, spark, tmp_path):
        path = self._table(spark, tmp_path)
        wm_pre = txlog.latest_meta(path, "identity")["rid"]["next"]
        pre = {r.k: r.rid for r in txlog.read(spark, path).collect()}
        src = spark.createDataFrame(
            [(2, "B"), (4, "d"), (5, "e")], "k int, val string"
        )
        v = txlog.merge_into(
            spark,
            path,
            src,
            keys=["k"],
            when_matched=[("update", {"val": "s.val"})],
            when_not_matched=True,
        )
        rows = {r.k: (r.val, r.rid) for r in txlog.read(spark, path).collect()}
        assert rows[2] == ("B", pre[2])  # matched row KEEPS its id
        ids = [rid for _, rid in rows.values()]
        assert len(set(ids)) == 5
        for k in (4, 5):
            rid = rows[k][1]
            assert rid >= wm_pre  # fresh above the pre-merge watermark
            assert (rid - 100) % 3 == 0  # on the start/step lattice
        assert txlog.latest_meta(path, "identity")["rid"]["next"] > max(ids)
        # the merge commit's change feed carries the inserted ids
        ch = {(r.k, r._change_type): r.rid for r in txlog.table_changes(spark, path, v - 1, v).collect()}
        assert ch[(4, "insert")] == rows[4][1]

    def test_two_writer_race_relands_with_fresh_ids(self, spark, tmp_path):
        """A concurrent identity append between the merge's file land and
        its commit must advance the watermark; the merge's retry re-lands
        the insert files with fresh ids — never duplicates, never refusal."""
        path = self._table(spark, tmp_path)
        orig = txlog._try_commit
        state = {"raced": False}

        def racing(path_, version, *a, **kw):
            if not state["raced"] and kw.get("meta", {}).get("op") == "merge":
                state["raced"] = True
                txlog._try_commit = orig
                try:
                    txlog.append(
                        spark.createDataFrame([(9, "z")], "k int, val string"),
                        path,
                    )
                finally:
                    txlog._try_commit = racing
            return orig(path_, version, *a, **kw)

        txlog._try_commit = racing
        try:
            txlog.merge_into(
                spark,
                path,
                spark.createDataFrame([(7, "g"), (8, "h")], "k int, val string"),
                keys=["k"],
                when_not_matched=True,
            )
        finally:
            txlog._try_commit = orig
        assert state["raced"]
        rows = {r.k: r.rid for r in txlog.read(spark, path).collect()}
        assert len(rows) == 6 and len(set(rows.values())) == 6
        assert all((rid - 100) % 3 == 0 for rid in rows.values())

    def test_always_mode_rejections(self, spark, tmp_path):
        path = self._table(spark, tmp_path)
        with_id = txlog.read(spark, path).limit(1)
        with pytest.raises(ValueError, match="ALWAYS AS IDENTITY"):
            txlog.merge_into(spark, path, with_id, keys=["k"], when_not_matched=True)
        src = spark.createDataFrame([(2, "B")], "k int, val string")
        with pytest.raises(ValueError, match="must not assign"):
            txlog.merge_into(
                spark, path, src, keys=["k"],
                when_matched=[("update", {"rid": "t.rid + 1"})],
            )
        with pytest.raises(ValueError, match="must not supply"):
            txlog.merge_into(
                spark, path, src, keys=["k"],
                when_not_matched=("insert", {"k": "s.k", "rid": "s.k"}),
            )

    def test_insert_only_merge_and_replay_noop(self, spark, tmp_path):
        path = self._table(spark, tmp_path)
        src = spark.createDataFrame([(6, "f")], "k int, val string")
        txlog.merge_into(spark, path, src, keys=["k"], when_not_matched=True)
        v0 = txlog.current_version(path)
        # re-delivered batch: all keys present, conditioned update fires
        # nowhere -> provably-empty merge commits NOTHING (replay no-op)
        v1 = txlog.merge_into(
            spark,
            path,
            src,
            keys=["k"],
            when_matched=[("update", {"val": "s.val"}, "t.val <> s.val")],
            when_not_matched=True,
        )
        assert v1 == v0
        rows = {r.k: r.rid for r in txlog.read(spark, path).collect()}
        assert len(set(rows.values())) == 4

    def test_identity_with_generated_column_insert(self, spark, tmp_path):
        """A generated column whose expression references the identity
        column must compute AFTER the per-attempt assignment (the factory
        orders identity → generated → constraints)."""
        path = str(tmp_path / "t")
        txlog.add_identity_column(path, "rid", start=10, step=1)
        txlog.add_generated_column(
            path, "rid2", "rid * CAST(2 AS BIGINT)", "bigint"
        )
        txlog.append(
            spark.createDataFrame([(1, "a")], "k int, val string"), path
        )
        txlog.merge_into(
            spark,
            path,
            spark.createDataFrame([(5, "e")], "k int, val string"),
            keys=["k"],
            when_not_matched=True,
        )
        rows = {r.k: r for r in txlog.read(spark, path).collect()}
        assert rows[5].rid2 == rows[5].rid * 2
        assert rows[1].rid2 == rows[1].rid * 2
        assert rows[1].rid != rows[5].rid


class TestIdentityMergeCrossFeatures:
    def test_identity_insert_on_row_tracking_table(self, spark, tmp_path):
        """ins_factory + row tracking: the factory's per-attempt insert
        files must get row-base allocations (fresh stable ids) alongside
        their identity values, and matched rows keep BOTH identities."""
        path = str(tmp_path / "t")
        txlog.add_identity_column(path, "rid", start=5, step=2)
        txlog.append(
            spark.createDataFrame([(1, "a"), (2, "b")], "k int, val string"), path
        )
        txlog.enable_row_tracking(path)
        pre = {
            r.k: (r.rid, r.row_id)
            for r in txlog.read_with_row_ids(spark, path).collect()
        }
        txlog.merge_into(
            spark,
            path,
            spark.createDataFrame([(2, "B"), (3, "c")], "k int, val string"),
            keys=["k"],
            when_matched=[("update", {"val": "s.val"})],
            when_not_matched=True,
        )
        post = {
            r.k: (r.rid, r.row_id, r.val)
            for r in txlog.read_with_row_ids(spark, path).collect()
        }
        assert post[2][:2] == pre[2][:2] and post[2][2] == "B"  # both ids stable
        assert post[1][:2] == pre[1][:2]
        rids = [v[0] for v in post.values()]
        rowids = [v[1] for v in post.values()]
        assert len(set(rids)) == 3 and len(set(rowids)) == 3
        assert post[3][0] not in {v[0] for v in pre.values()}
        assert post[3][1] not in {v[1] for v in pre.values()}
        assert (post[3][0] - 5) % 2 == 0  # identity lattice holds

    def test_restore_above_expiry_floor_still_works(self, spark, tmp_path):
        path = str(tmp_path / "t")
        for i in range(25):
            txlog.append(_batch(spark, tag=i), path)
        txlog.expire_log(path, retain_versions=10)
        # 25 appends + the feature-declaring commit (26) + restore (27)
        v = txlog.restore(path, 12, spark)
        assert v == 27
        assert txlog.read(spark, path).count() == 120


class TestMergeSchemaEvolution:
    def test_merge_accepts_updates_with_new_columns(self, spark, tmp_path):
        """Additive evolution on MERGE: the updates batch carries a column
        the table predates; pre-merge rows read NULL for it."""
        path = str(tmp_path / "t")
        txlog.append(
            spark.createDataFrame([(1, "a", 1), (2, "b", 1)], "id long, v string, rev long"),
            path,
        )
        upd = spark.createDataFrame(
            [(2, "b2", 2, "extra")], "id long, v string, rev long, note string"
        )
        txlog.merge(spark, path, upd, keys=["id"], order_col="rev")
        got = {r.id: (r.v, r.note) for r in txlog.read(spark, path).collect()}
        assert got == {1: ("a", None), 2: ("b2", "extra")}

    def test_merge_updates_missing_table_columns_read_null(self, spark, tmp_path):
        """Latest-wins is FULL-ROW replacement: an updates row that omits a
        table column wins with NULL there (documented contract — partial
        column patching is not what latest-wins means)."""
        path = str(tmp_path / "t")
        txlog.append(
            spark.createDataFrame([(1, "a", 1)], "id long, v string, rev long"), path
        )
        upd = spark.createDataFrame([(1, 2)], "id long, rev long")
        txlog.merge(spark, path, upd, keys=["id"], order_col="rev")
        row = txlog.read(spark, path).collect()[0]
        assert (row.id, row.v, row.rev) == (1, None, 2)


class TestSmallSurface:
    def test_vacuum_dry_run_deletes_nothing(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "a", 1)]), path)
        txlog.overwrite(_df(spark, [(2, "b", 2)]), path)
        would = txlog.vacuum(path, retain_versions=1, dry_run=True)
        assert would, "superseded files should be reported"
        assert {r.id for r in txlog.read(spark, path, version=1).collect()} == {1}
        assert txlog.vacuum(path, retain_versions=1) == would

    def test_vacuum_reader_race_protection(self, spark, tmp_path):
        """The reader-race guard (checkpoint-age retention floor): a
        version-pinned read resolved inside the newest checkpoint's window
        SURVIVES a concurrent vacuum(retain_versions=1) — the floor clamps
        retention to every version at/after the checkpoint — while a read
        pinned below the vacuumed horizon fails deterministically with a
        clear error naming the earliest readable version."""
        path = str(tmp_path / "t")
        for i in range(12):  # checkpoint lands at v10
            txlog.overwrite(_df(spark, [(i, "a", i)]), path)
        assert txlog.current_version(path) == 12
        floor = txlog.vacuum_retention_floor(path)
        assert floor == 3  # versions 10, 11, 12
        assert txlog.describe_detail(path)["vacuum_retention_floor"] == 3
        # reader resolves its plan at the checkpoint version BEFORE the vacuum
        pinned = txlog.read(spark, path, version=10)
        deleted = txlog.vacuum(path, retain_versions=1)
        assert deleted, "pre-checkpoint overwrites should be reclaimed"
        # the pinned read survives: its files sit inside the floor window
        assert {r.id for r in pinned.collect()} == {9}
        assert {r.id for r in txlog.read(spark, path, version=11).collect()} == {10}
        # below the horizon: deterministic, descriptive failure
        with pytest.raises(FileNotFoundError, match="vacuumed.*earliest fully-readable version is 10"):
            txlog.read(spark, path, version=5)
        assert txlog.earliest_readable_version(path) == 10
        # the floor applies even to retain_versions=0: the current version
        # (and the whole checkpoint window) must survive
        assert txlog.vacuum(path, retain_versions=0) == []
        assert {r.id for r in txlog.read(spark, path).collect()} == {11}

    def test_append_clustered_carries_blooms(self, spark, tmp_path):
        path = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(i, i % 7, f"u{i}") for i in range(64)], "a long, b long, k string"
        )
        txlog.append_clustered(
            df, path, cluster_cols=["a", "b"], n_files=4, bloom_cols=["k"]
        )
        assert txlog.visible_blooms(path), "clustered append lost bloom_cols"
        got = txlog.read_point(spark, path, "k", "u9")
        assert [r.a for r in got.collect()] == [9]


class TestLogCheckpoints:
    def test_checkpoint_resolution_equals_full_replay(self, spark, tmp_path):
        """Every 10th commit consolidates the live state; resolution through
        the checkpoint must be indistinguishable from replaying the whole
        log — files, stats, and blooms alike, at the tip AND time-traveled."""
        import glob
        import json
        import os as _os

        path = str(tmp_path / "t")
        for i in range(23):
            txlog.append(
                spark.createDataFrame([(i, f"k{i}")], "id long, k string").coalesce(1),
                path,
                stats_cols=["id"],
                bloom_cols=["k"],
            )
        cps = glob.glob(_os.path.join(path, "_txlog", "*.checkpoint.json"))
        assert sorted(int(_os.path.basename(p).split(".")[0]) for p in cps) == [10, 20]

        # ground truth: replay every commit by hand (no checkpoint involved)
        live = {}
        for cf in sorted(glob.glob(_os.path.join(path, "_txlog", "*.json"))):
            if ".checkpoint." in cf:
                continue
            c = json.load(open(cf))
            for rel in c.get("adds", []):
                live[rel] = True
            for rel in c.get("removes", []):
                live.pop(rel, None)
        expect_files = sorted(_os.path.join(path, r) for r in live)
        assert txlog.visible_files(path) == expect_files
        assert len(txlog.visible_stats(path)) == 23
        assert len(txlog.visible_blooms(path)) == 23
        # time travel below, at, and above a checkpoint
        for v in (9, 10, 15, 20, 23):
            assert len(txlog.visible_files(path, v)) == v
        got = {r.id for r in txlog.read(spark, path, version=15).collect()}
        assert got == set(range(15))

    def test_reads_survive_archived_pre_checkpoint_commits(self, spark, tmp_path):
        """The point of checkpointing at scale: once a checkpoint exists,
        current-snapshot resolution never touches the commits it covers —
        proven by ARCHIVING (moving away) every pre-checkpoint commit file
        and reading anyway."""
        import os as _os
        import shutil as _sh

        path = str(tmp_path / "t")
        for i in range(12):
            txlog.append(
                spark.createDataFrame([(i,)], "id long").coalesce(1), path
            )
        archive = str(tmp_path / "archive")
        _os.makedirs(archive)
        for v in range(1, 10):
            src = _os.path.join(path, "_txlog", f"{v:020d}.json")
            _sh.move(src, archive)
        assert txlog.current_version(path) == 12
        got = {r.id for r in txlog.read(spark, path).collect()}
        assert got == set(range(12))

    def test_checkpoint_respects_removes(self, spark, tmp_path):
        """A delete/optimize inside the checkpoint window must not resurrect
        removed files through the consolidated state."""
        path = str(tmp_path / "t")
        for i in range(9):
            txlog.append(
                spark.createDataFrame([(i, i * 1.0)], "id long, v double").coalesce(1),
                path,
            )
        txlog.delete_where(spark, path, "id < 3")  # version 10 → checkpoint
        import glob
        import os as _os

        assert glob.glob(_os.path.join(path, "_txlog", "*.checkpoint.json"))
        got = {r.id for r in txlog.read(spark, path).collect()}
        assert got == set(range(3, 9))


class TestExpireLog:
    def _table(self, spark, tmp_path, n_commits=25):
        path = str(tmp_path / "t")
        for i in range(n_commits):
            txlog.append(_batch(spark, tag=i), path, stats_cols=["k"])
        return path

    def test_expire_reclaims_below_horizon_and_reads_unaffected(self, spark, tmp_path):
        path = self._table(spark, tmp_path)
        pre = txlog.read(spark, path).count()
        dry = txlog.expire_log(path, retain_versions=10, dry_run=True)
        assert dry  # preview names the reclaimable files
        assert all(os.path.exists(os.path.join(path, "_txlog", b)) for b in dry)
        rec = txlog.expire_log(path, retain_versions=10)
        assert rec == dry
        assert txlog._versions(path)[0] == 10  # horizon = checkpoint ≤ tip-9
        assert txlog.read(spark, path).count() == pre
        assert txlog.fast_count(path) == pre
        assert txlog.read(spark, path, version=10).count() == 100
        assert txlog.table_changes(spark, path, 10, 12).count() == 20
        assert min(h["version"] for h in txlog.history(path)) == 10

    def test_below_horizon_fails_with_named_floor(self, spark, tmp_path):
        path = self._table(spark, tmp_path)
        txlog.expire_log(path, retain_versions=10)
        with pytest.raises(FileNotFoundError, match="earliest readable version is 10"):
            txlog.read(spark, path, version=3)
        with pytest.raises(FileNotFoundError, match="earliest readable"):
            txlog.fast_count(path, version=9)
        with pytest.raises(FileNotFoundError, match="earliest readable"):
            txlog.table_changes(spark, path, 2, 5)
        with pytest.raises(FileNotFoundError, match="earliest readable"):
            txlog.restore(path, 3, spark)

    def test_expire_is_idempotent_and_age_constraint_holds(self, spark, tmp_path):
        path = self._table(spark, tmp_path)
        assert txlog.expire_log(path, retain_versions=10)
        assert txlog.expire_log(path, retain_versions=10) == []
        # everything is seconds old: an age floor of 1h expires nothing
        assert (
            txlog.expire_log(path, retain_versions=1, retain_age=dt.timedelta(hours=1))
            == []
        )
        # age 0 + retain 1: horizon advances to the newest checkpoint
        assert txlog.expire_log(path, retain_versions=1, retain_age=dt.timedelta(0))
        assert txlog._versions(path)[0] == 20

    def test_expire_and_vacuum_compose(self, spark, tmp_path):
        path = str(tmp_path / "t")
        for i in range(25):
            txlog.append(_batch(spark, tag=i), path, stats_cols=["k"])
        txlog.delete_where(spark, path, F.col("batch") < 3)
        txlog.optimize(spark, path, target_file_bytes=1 << 30)
        expect = txlog.read(spark, path).count()
        txlog.expire_log(path, retain_versions=5)
        txlog.vacuum(path, retain_versions=1)
        assert txlog.read(spark, path).count() == expect
        # and the other order on a fresh table
        path2 = str(tmp_path / "t2")
        for i in range(25):
            txlog.append(_batch(spark, tag=i), path2, stats_cols=["k"])
        txlog.vacuum(path2, retain_versions=1)
        txlog.expire_log(path2, retain_versions=5)
        assert txlog.read(spark, path2).count() == 250

    def test_first_expiry_declares_log_retention_reader_feature(
        self, spark, monkeypatch, tmp_path
    ):
        """ADVICE r11: expiry is an irreversible layout change — gate it
        with a reader feature like DVs/column-mapping so pre-floor-check
        builds refuse the table instead of replaying a partial prefix."""
        path = self._table(spark, tmp_path)
        assert "log-retention" not in set(
            txlog.table_protocol(path).get("reader_features", [])
        )
        tip = txlog.current_version(path)
        assert txlog.expire_log(path, retain_versions=10)
        feats = set(txlog.table_protocol(path).get("reader_features", []))
        assert "log-retention" in feats
        assert txlog.current_version(path) == tip + 1  # one declaring commit
        # idempotent: a second effective expiry adds no protocol commit
        assert txlog.expire_log(path, retain_versions=5)
        assert txlog.current_version(path) == tip + 1
        assert txlog.read(spark, path).count() == 250
        # an "old build" (feature absent from its supported set) refuses
        # the whole table rather than mis-reading the reclaimed log
        monkeypatch.setattr(
            txlog,
            "_READER_FEATURES",
            txlog._READER_FEATURES - {"log-retention"},
        )
        with pytest.raises(ValueError, match="log-retention"):
            txlog.read(spark, path)

    def test_dry_run_and_noop_expiry_declare_nothing(self, spark, tmp_path):
        path = self._table(spark, tmp_path)
        tip = txlog.current_version(path)
        txlog.expire_log(path, retain_versions=10, dry_run=True)
        assert txlog.expire_log(path, retain_versions=25) == []  # no-op
        assert txlog.current_version(path) == tip
        assert "log-retention" not in set(
            txlog.table_protocol(path).get("reader_features", [])
        )

    def test_young_table_without_checkpoint_is_noop(self, spark, tmp_path):
        path = str(tmp_path / "t")
        for i in range(4):
            txlog.append(_batch(spark, tag=i), path)
        assert txlog.expire_log(path, retain_versions=1) == []
        assert txlog.read(spark, path).count() == 40

    def test_needs_constraint(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(_batch(spark), path)
        with pytest.raises(ValueError, match="retain_versions and/or retain_age"):
            txlog.expire_log(path)
        with pytest.raises(ValueError, match=">= 1"):
            txlog.expire_log(path, retain_versions=0)

    def test_crash_mid_expire_fails_loudly_not_stale(self, spark, tmp_path):
        """A crashed expire_log leaves an ascending PREFIX of deleted
        commits (it reclaims commits in ascending order). A read inside
        the surviving un-anchored band — above the first surviving
        commit but below every surviving checkpoint — must raise the
        floor error, never silently replay from empty state at vs[0]
        (the round-11 advisor reproduced exactly that partial snapshot:
        commits 1-5 gone, checkpoint at 10, read(version=8) returned 3
        files instead of 8)."""
        path = self._table(spark, tmp_path, n_commits=15)
        for v in range(1, 6):
            os.remove(txlog._commit_path(path, v))
        # un-anchored band: no checkpoint at-or-below 6..9
        with pytest.raises(FileNotFoundError, match="expired-log horizon"):
            txlog.read(spark, path, version=8)
        with pytest.raises(FileNotFoundError, match="expired-log horizon"):
            txlog.read(spark, path, version=6)
        # anchored reads are unaffected: checkpoint 10 covers >= 10
        assert txlog.read(spark, path, version=10).count() == 100
        assert txlog.read(spark, path).count() == 150
        # crash even earlier — before any checkpoint anchor survives:
        # a LATEST read must also fail loudly, not return 10 commits of
        # state as if they were the whole table
        os.remove(txlog._last_checkpoint_path(path))
        os.remove(txlog._checkpoint_path(path, 10))
        with pytest.raises(FileNotFoundError, match="expired-log horizon"):
            txlog.read(spark, path)

    def test_interior_hole_still_fails_loudly(self, spark, tmp_path):
        """Defense in depth: an interior hole (not a shape expire_log
        produces, but e.g. manual tampering) keeps raising too."""
        path = self._table(spark, tmp_path, n_commits=15)
        os.remove(txlog._commit_path(path, 3))
        os.remove(txlog._last_checkpoint_path(path))
        os.remove(txlog._checkpoint_path(path, 10))
        with pytest.raises(FileNotFoundError, match="expired-log horizon"):
            txlog.read(spark, path, version=7)

    def test_streaming_source_unaffected_above_horizon(self, spark, tmp_path):
        from datalake_brief_spark.streaming.source import register_txlog_source

        path = self._table(spark, tmp_path)
        txlog.expire_log(path, retain_versions=10)
        register_txlog_source(spark)
        got = (
            spark.readStream.format("txlog")
            .option("path", path)
            .option("startingVersion", 10)
            .load()
        )
        q = (
            got.writeStream.format("memory")
            .queryName("r11_exp_stream")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        n = spark.sql("SELECT count(*) c FROM r11_exp_stream").collect()[0]["c"]
        # versions 10..25 inclusive = 16 commits x 10 rows
        assert n == 160


class TestLastCheckpointPointer:
    def test_pointer_written_with_each_checkpoint_and_monotonic(self, spark, tmp_path):
        path = str(tmp_path / "t")
        for i in range(25):
            txlog.append(_batch(spark, tag=i), path)
        assert txlog._pointer_version(path) == 20
        # pointer resolves the tip without listing: poison list_dir and
        # verify current_version still answers through probe-only reads
        store = logstore.for_path(path)
        real_list = store.list_dir
        calls = []

        def spy(d):
            calls.append(d)
            return real_list(d)

        store.list_dir = spy
        try:
            assert txlog.current_version(path) == 25
            assert txlog.visible_files(path)  # _replay pointer path
            assert calls == [], "pointer-accelerated resolution listed the log dir"
        finally:
            store.list_dir = real_list

    def test_torn_pointer_falls_back_to_listing(self, spark, tmp_path):
        path = str(tmp_path / "t")
        for i in range(12):
            txlog.append(_batch(spark, tag=i), path)
        with open(txlog._last_checkpoint_path(path), "w") as f:
            f.write("{not json")
        assert txlog.current_version(path) == 12
        assert txlog.read(spark, path).count() == 120

    def test_stale_pointer_to_reclaimed_checkpoint_falls_back(self, spark, tmp_path):
        path = str(tmp_path / "t")
        for i in range(25):
            txlog.append(_batch(spark, tag=i), path)
        # hand-regress the pointer to a checkpoint, then delete that
        # checkpoint marker (simulates a crashed expire + stale pointer)
        with open(txlog._last_checkpoint_path(path), "w") as f:
            json.dump({"version": 10}, f)
        os.remove(txlog._checkpoint_path(path, 10))
        assert txlog.read(spark, path).count() == 250

    def test_time_travel_below_pointer_uses_older_checkpoint(self, spark, tmp_path):
        path = str(tmp_path / "t")
        for i in range(25):
            txlog.append(_batch(spark, tag=i), path)
        assert txlog.read(spark, path, version=15).count() == 150


class TestPointerHotPath:
    def test_latest_meta_rides_pointer_without_listing(self, spark, tmp_path):
        """latest_meta runs on every logical-view build; with a valid
        pointer it must resolve meta (tail walk + marker fold) with ZERO
        log-directory listings."""
        path = str(tmp_path / "t")
        for i in range(23):
            txlog.append(_batch(spark, tag=i), path)
        store = logstore.for_path(path)
        real_list = store.list_dir
        calls = []
        store.list_dir = lambda d: (calls.append(d), real_list(d))[1]
        try:
            schema = txlog.latest_meta(path, "schema")
            assert schema and "k" in schema
            assert calls == [], "latest_meta listed the log dir under a pointer"
        finally:
            store.list_dir = real_list

    def test_describe_detail_reports_log_lifecycle(self, spark, tmp_path):
        path = str(tmp_path / "t")
        for i in range(25):
            txlog.append(_batch(spark, tag=i), path)
        d = txlog.describe_detail(path)
        assert d["last_checkpoint_version"] == 20
        assert d["log_earliest_version"] == 1
        txlog.expire_log(path, retain_versions=10)
        d2 = txlog.describe_detail(path)
        assert d2["log_earliest_version"] == 10
        assert d2["num_rows"] == d["num_rows"]


class TestCheckpointNow:
    def test_manual_checkpoint_enables_expiry_anywhere(self, spark, tmp_path):
        """checkpoint_now: the retention horizon can only be a checkpoint;
        a forced one at the tip lets expire_log reclaim a long
        un-checkpointed tail on demand."""
        path = str(tmp_path / "t")
        for i in range(17):  # cadence checkpoint at 10 only
            txlog.append(_batch(spark, tag=i), path)
        assert txlog.checkpoint_now(path) == 17
        assert txlog._pointer_version(path) == 17
        assert txlog.checkpoint_now(path) == 17  # idempotent
        txlog.expire_log(path, retain_versions=1)
        assert txlog._versions(path)[0] == 17
        assert txlog.read(spark, path).count() == 170
        assert txlog.checkpoint_now(str(tmp_path / "empty")) == 0  # empty log

    def test_pointer_resolves_multipart_checkpoint(self, spark, tmp_path):
        """The pointer fast path must load a MULTI-PART checkpoint (marker
        + parquet parts) exactly like the listing path."""
        path = str(tmp_path / "t")
        for i in range(3):
            txlog.append(_batch(spark, n=50, tag=i).repartition(2), path)
        old = txlog._CHECKPOINT_MULTIPART_MIN_FILES
        txlog._CHECKPOINT_MULTIPART_MIN_FILES = 1  # force parts
        try:
            assert txlog.checkpoint_now(path) == 3
        finally:
            txlog._CHECKPOINT_MULTIPART_MIN_FILES = old
        store = logstore.for_path(path)
        real_list = store.list_dir
        calls = []
        store.list_dir = lambda d: (calls.append(d), real_list(d))[1]
        try:
            assert txlog.read(spark, path).count() == 150
            assert txlog.fast_count(path) == 150
            assert calls == []
        finally:
            store.list_dir = real_list


def _walked_meta(path, key, version):
    """``meta[key]`` at ``version`` by hand: the commit JSONs newest-first."""
    for v in range(version, 0, -1):
        with open(txlog._commit_path(path, v)) as f:
            meta = json.load(f).get("meta", {})
        if key in meta:
            return meta[key]
    return None


class TestMetaParity:
    """latest_meta resolves through the same log walk as the file list
    (checkpoint meta_latest + tail). Over every log shape it must equal a
    newest-first walk of the commit JSONs, for every key at every version
    — across two checkpoints, renames, a widen, properties, constraints
    and txn: keys."""

    @pytest.fixture(scope="class")
    def table(self, spark, tmp_path_factory):
        path = str(tmp_path_factory.mktemp("meta_parity") / "t")

        def put(col, txn):
            def step(i):
                df = spark.createDataFrame(
                    [(i, i * 10, f"k{i}")], f"id int, {col} long, k string"
                )
                return txlog.append(df.coalesce(1), path, meta={txn: i})
            return step

        steps = [
            put("v", "txn:a"),
            put("v", "txn:a"),
            lambda i: txlog.set_table_properties(path, {"p": "1"}),
            lambda i: txlog.add_constraint(spark, path, "pos", "id >= 0"),
            *[put("v", "txn:b")] * 5,
            lambda i: txlog.rename_column(path, "v", "w"),  # checkpoint 10
            lambda i: txlog.widen_column_type(path, "id", "bigint"),
            *[put("w", "txn:a")] * 4,
            lambda i: txlog.set_table_properties(path, {"p": "2", "q": "x"}),
            lambda i: txlog.drop_constraint(path, "pos"),
            *[put("w", "txn:b")] * 3,  # checkpoint 20
            lambda i: txlog.unset_table_properties(path, ["q"]),
            put("w", "txn:a"),
            lambda i: txlog.add_constraint(spark, path, "small", "id < 1000"),
        ]
        for i, step in enumerate(steps, start=1):
            assert step(i) == i
        return path

    def _shaped(self, table, dst, shape, monkeypatch):
        shutil.copytree(table, dst)
        log = os.path.join(dst, "_txlog")
        if shape == "no_checkpoint":
            for f in os.listdir(log):
                if ".checkpoint." in f or f == "_last_checkpoint":
                    os.remove(os.path.join(log, f))
        elif shape == "torn_pointer":
            with open(txlog._last_checkpoint_path(dst), "w") as f:
                f.write("{not json")
        elif shape == "multipart":
            monkeypatch.setattr(txlog, "_CHECKPOINT_MULTIPART_MIN_FILES", 1)
            for v in (10, 20):
                os.remove(txlog._checkpoint_path(dst, v))
            for v in (10, 20):
                txlog._write_checkpoint(dst, v)
                with open(txlog._checkpoint_path(dst, v)) as f:
                    assert "parts" in json.load(f)
        elif shape == "legacy":
            for v in (10, 20):
                with open(txlog._checkpoint_path(dst, v)) as f:
                    cp = json.load(f)
                del cp["meta_latest"]
                with open(txlog._checkpoint_path(dst, v), "w") as f:
                    json.dump(cp, f)
        return dst

    @pytest.mark.parametrize(
        "shape", ["no_checkpoint", "pointer", "torn_pointer", "multipart", "legacy"]
    )
    def test_latest_meta_equals_commit_walk(self, table, tmp_path, monkeypatch, shape):
        path = self._shaped(table, str(tmp_path / "t"), shape, monkeypatch)
        tip = txlog.current_version(path)
        assert tip == 23
        keys = set()
        for v in range(1, tip + 1):
            with open(txlog._commit_path(path, v)) as f:
                keys |= set(json.load(f).get("meta", {}))
        assert {"schema", "column_mapping", "properties", "constraints"} <= keys
        assert {"txn:a", "txn:b", "protocol"} <= keys
        # meta never loads the parts of a multi-part checkpoint
        store = logstore.for_path(path)
        monkeypatch.setattr(
            store, "read_bytes", lambda p: pytest.fail(f"meta read {p}")
        )
        for v in [*range(1, tip + 1), None]:
            want = {k: _walked_meta(path, k, v or tip) for k in sorted(keys)}
            got = {k: txlog.latest_meta(path, k, v) for k in sorted(keys)}
            assert got == want, (shape, v)

    def test_below_expiry_horizon_raises_floor_error(self, table, tmp_path):
        path = str(tmp_path / "t")
        shutil.copytree(table, path)
        assert txlog.expire_log(path, retain_versions=4)  # horizon: 20
        with pytest.raises(FileNotFoundError, match="earliest readable version is 20"):
            txlog.latest_meta(path, "schema", 15)
        assert txlog.latest_meta(path, "properties", 20) == {"p": "2", "q": "x"}
        assert txlog.latest_meta(path, "properties") == {"p": "2"}
        assert set(txlog.latest_meta(path, "constraints")) == {"small"}


class TestMultipartCheckpoints:
    """Past _CHECKPOINT_MULTIPART_MIN_FILES live files a checkpoint spills
    to parquet parts with the JSON reduced to a completion marker — the
    Delta multi-part checkpoint design (driver never parses one giant
    JSON blob of a million files)."""

    def _build(self, spark, path, monkeypatch, n_commits=12):
        monkeypatch.setattr(txlog, "_CHECKPOINT_MULTIPART_MIN_FILES", 4)
        monkeypatch.setattr(txlog, "_CHECKPOINT_PART_ENTRIES", 3)
        for i in range(n_commits):
            txlog.append(
                spark.createDataFrame([(i, f"k{i}")], "id long, k string").coalesce(1),
                path,
                stats_cols=["id"],
                bloom_cols=["k"],
            )

    def test_multipart_checkpoint_equals_full_replay(
        self, spark, tmp_path, monkeypatch
    ):
        import glob
        import json as _json
        import os as _os

        path = str(tmp_path / "t")
        self._build(spark, path, monkeypatch)
        marker = _os.path.join(path, "_txlog", f"{10:020d}.checkpoint.json")
        cp = _json.load(open(marker))
        assert cp["parts"] == 4 and cp["n_files"] == 10  # ceil(10/3)
        parts = glob.glob(
            _os.path.join(path, "_txlog", "*.checkpoint.*.parquet")
        )
        assert len(parts) == 4
        # resolution THROUGH the parts == full replay (checkpoint hidden)
        via_cp = txlog._replay(path)  # noqa: SLF001
        monkeypatch.setattr(txlog, "_checkpoint_versions", lambda p: [])
        via_log = txlog._replay(path)  # noqa: SLF001
        assert via_cp == via_log
        assert len(txlog.visible_stats(path)) == 12
        assert len(txlog.visible_blooms(path)) == 12

    def test_multipart_survives_archived_commits_and_time_travel(
        self, spark, tmp_path, monkeypatch
    ):
        import os as _os
        import shutil as _sh

        path = str(tmp_path / "t")
        self._build(spark, path, monkeypatch)
        archive = str(tmp_path / "archive")
        _os.makedirs(archive)
        for v in range(1, 10):
            _sh.move(_os.path.join(path, "_txlog", f"{v:020d}.json"), archive)
        got = {r.id for r in txlog.read(spark, path).collect()}
        assert got == set(range(12))
        # the bloom channel survives the parquet round-trip: point read
        # still skips from the checkpoint-resolved blooms
        assert [r.id for r in txlog.read_point(spark, path, "k", "k3").collect()] == [3]

    def test_torn_multipart_checkpoint_is_invisible(
        self, spark, tmp_path, monkeypatch
    ):
        """Parts land FIRST, the marker LAST: deleting the marker (a
        writer that died mid-checkpoint never wrote it) must leave the
        table fully readable via plain log replay."""
        import os as _os

        path = str(tmp_path / "t")
        self._build(spark, path, monkeypatch)
        _os.remove(_os.path.join(path, "_txlog", f"{10:020d}.checkpoint.json"))
        assert {r.id for r in txlog.read(spark, path).collect()} == set(range(12))

    def test_meta_resolves_from_checkpoint_fold_after_archival(
        self, spark, tmp_path
    ):
        """Checkpoints carry the latest-wins META fold (the Delta
        checkpoints-carry-metadata design): a key recorded ONCE early
        (row_tracking at v2) and never re-recorded must resolve O(tail)
        from the marker — proven by archiving every pre-checkpoint
        commit, which would make the legacy full-log walk fail."""
        import os as _os
        import shutil as _sh

        path = str(tmp_path / "t")
        txlog.append(
            spark.createDataFrame([(0,)], "id long").coalesce(1), path
        )
        txlog.enable_row_tracking(path)  # v2: the only commit carrying it
        for i in range(1, 10):
            txlog.append(
                spark.createDataFrame([(i,)], "id long").coalesce(1), path
            )  # v3..v11, checkpoint at v10
        archive = str(tmp_path / "archive")
        _os.makedirs(archive)
        for v in range(1, 10):
            _sh.move(_os.path.join(path, "_txlog", f"{v:020d}.json"), archive)
        assert txlog.row_tracking_enabled(path)
        assert txlog.latest_meta(path, "schema") == {"id": "bigint"}
        got = {r.id for r in txlog.read_with_row_ids(spark, path).collect()}
        assert got == set(range(10))

    def test_below_threshold_stays_json(self, spark, tmp_path, monkeypatch):
        import json as _json
        import os as _os

        path = str(tmp_path / "t")
        monkeypatch.setattr(txlog, "_CHECKPOINT_MULTIPART_MIN_FILES", 1000)
        for i in range(10):
            txlog.append(
                spark.createDataFrame([(i,)], "id long").coalesce(1), path
            )
        cp = _json.load(
            open(_os.path.join(path, "_txlog", f"{10:020d}.checkpoint.json"))
        )
        assert "files" in cp and "parts" not in cp

    def test_checkpoint_as_dataframe_both_formats(
        self, spark, tmp_path, monkeypatch
    ):
        """The checkpoint is readable AS A TABLE in both formats, with one
        row per live file and identical content."""
        path = str(tmp_path / "t")
        self._build(spark, path, monkeypatch)
        multi = txlog.checkpoint_as_dataframe(spark, path)
        assert multi.count() == 10
        j = str(tmp_path / "j")
        monkeypatch.setattr(txlog, "_CHECKPOINT_MULTIPART_MIN_FILES", 1000)
        for i in range(10):
            txlog.append(
                spark.createDataFrame([(i, f"k{i}")], "id long, k string").coalesce(1),
                j,
                stats_cols=["id"],
                bloom_cols=["k"],
            )
        single = txlog.checkpoint_as_dataframe(spark, j)
        assert single.count() == 10
        assert single.schema == multi.schema
        rows = single.orderBy("rel").collect()
        assert all(r.rows == 1 and r.stats and r.blooms for r in rows)

    def test_dvs_and_row_bases_round_trip_parquet_parts(
        self, spark, tmp_path, monkeypatch
    ):
        """The two nested channels (deletion-vector sidecars, row-id
        bases) must survive the parquet round-trip exactly — a dropped DV
        resurrects rows, a dropped base breaks read_with_row_ids."""
        path = str(tmp_path / "t")
        monkeypatch.setattr(txlog, "_CHECKPOINT_MULTIPART_MIN_FILES", 2)
        monkeypatch.setattr(txlog, "_CHECKPOINT_PART_ENTRIES", 2)
        for i in range(6):
            txlog.append(
                spark.createDataFrame(
                    [(i * 2, "a"), (i * 2 + 1, "b")], "id long, k string"
                ).coalesce(1),
                path,
            )
        txlog.enable_row_tracking(path)  # v7
        ids_before = {
            r.id: r.row_id
            for r in txlog.read_with_row_ids(spark, path).collect()
        }
        txlog.delete_where_dv(spark, path, "k = 'b' and id < 4")  # v8
        txlog.append(
            spark.createDataFrame([(100, "z")], "id long, k string").coalesce(1),
            path,
        )  # v9
        txlog.append(
            spark.createDataFrame([(101, "z")], "id long, k string").coalesce(1),
            path,
        )  # v10 → multi-part checkpoint with dvs + bases
        import glob
        import os as _os

        assert glob.glob(_os.path.join(path, "_txlog", "*.checkpoint.*.parquet"))
        via_cp = txlog._replay(path)  # noqa: SLF001
        monkeypatch.setattr(txlog, "_checkpoint_versions", lambda p: [])
        assert via_cp == txlog._replay(path)  # noqa: SLF001
        monkeypatch.undo()
        got = {r.id: r.row_id for r in txlog.read_with_row_ids(spark, path).collect()}
        for i, rid in ids_before.items():
            if i in got:
                assert got[i] == rid
        assert {1, 3} & set(got) == set(), "DV list dropped by checkpoint"


class TestOptimizeZorder:
    def test_rezorder_makes_unclustered_table_prunable(self, spark, tmp_path):
        """A table built from unclustered appends prunes nothing; after
        OPTIMIZE ZORDER the same two-dimension range read skips most files,
        content is unchanged, and the pre-optimize version still time-
        travels."""
        path = str(tmp_path / "t")
        # 4 unclustered appends: every file spans the full (a, b) range
        for s in range(4):
            rows = [(i, (i * 7 + s) % 64, i % 8) for i in range(s, 256, 4)]
            txlog.append(
                spark.createDataFrame(rows, "id long, a long, b long").coalesce(1),
                path,
                stats_cols=["a", "b"],
            )
        before = txlog.read_pruned_multi(spark, path, {"a": (0, 7), "b": (0, 1)})
        n_before = len(before.inputFiles())
        v = txlog.optimize_zorder(spark, path, ["a", "b"], n_files=8)
        assert v == 5
        after = txlog.read_pruned_multi(spark, path, {"a": (0, 7), "b": (0, 1)})
        assert len(after.inputFiles()) < n_before
        assert sorted(r.id for r in after.collect()) == sorted(
            r.id for r in before.collect()
        )
        # full content identical, and time travel to the unclustered state
        assert txlog.read(spark, path).count() == 256
        assert txlog.read(spark, path, version=4).count() == 256
        assert txlog.history(path)[0]["op"] == "optimize_zorder"


class TestScopedZorderWhere:
    """VERDICT r10 ask #5: OPTIMIZE ZORDER ... WHERE — re-cluster one hot
    band without rewriting cold history."""

    def _table(self, spark, tmp_path):
        path = str(tmp_path / "t")
        import random

        rng = random.Random(11)
        for band in range(4):
            rows = [
                (band * 1000 + rng.randrange(1000), rng.randrange(1000), i)
                for i in range(400)
            ]
            txlog.append(
                spark.createDataFrame(rows, "x long, y long, i long").repartition(3),
                path,
                stats_cols=["x", "y"],
            )
        return path

    def test_band_rewritten_cold_files_byte_identical(self, spark, tmp_path):
        path = self._table(spark, tmp_path)
        pre = {
            p: os.path.getmtime(p) for p in txlog.visible_files(path)
        }
        expect = sorted(txlog.read(spark, path).collect())
        v = txlog.optimize_zorder(
            spark, path, ["x", "y"], n_files=4, prune_col="x", lo=3000, hi=3999
        )
        assert v == txlog.current_version(path)
        post = txlog.visible_files(path)
        survivors = [p for p in post if p in pre]
        fresh = [p for p in post if p not in pre]
        # three cold bands' files survive untouched (same paths, same mtime)
        assert len(survivors) == 9
        assert all(os.path.getmtime(p) == pre[p] for p in survivors)
        assert len(fresh) == 4
        # content identical
        assert sorted(txlog.read(spark, path).collect()) == expect

    def test_scoped_rewrite_improves_pruning_on_both_dims_in_band(self, spark, tmp_path):
        path = self._table(spark, tmp_path)
        n_all = len(txlog.visible_files(path))
        txlog.optimize_zorder(
            spark, path, ["x", "y"], n_files=4, prune_col="x", lo=3000, hi=3999
        )
        # point-ish reads inside the band prune on BOTH clustered dims
        stats = txlog.visible_stats(path)
        in_band = [
            rel for rel, s in stats.items() if s.get("x") and s["x"][0] >= 3000
        ]
        assert len(in_band) == 4
        # y-stats exist on the fresh band files -> a y-range scopes to a
        # strict subset of the band (Morton clustering makes y selective)
        import datalake_brief_spark.sources.txlog as t

        kept = [
            rel
            for rel in in_band
            if not t._range_excludes(stats[rel].get("y"), 0, 99)
        ]
        assert 0 < len(kept) < 4
        got = txlog.read_pruned_multi(
            spark, path, {"x": (3000, 3999), "y": (0, 99)}
        )
        expect = [
            r
            for r in txlog.read(spark, path).collect()
            if 3000 <= r.x <= 3999 and 0 <= r.y <= 99
        ]
        assert sorted(
            (r.x, r.y, r.i)
            for r in got.filter("x >= 3000 and x <= 3999 and y <= 99").collect()
        ) == sorted((r.x, r.y, r.i) for r in expect)

    def test_empty_band_is_noop(self, spark, tmp_path):
        path = self._table(spark, tmp_path)
        v0 = txlog.current_version(path)
        assert (
            txlog.optimize_zorder(
                spark, path, ["x", "y"], n_files=2, prune_col="x", lo=99000, hi=99999
            )
            == v0
        )

    def test_scoped_zorder_applies_deletion_vectors(self, spark, tmp_path):
        path = self._table(spark, tmp_path)
        txlog.delete_where_dv(spark, path, F.col("x").between(3000, 3099))
        expect = sorted(txlog.read_mor(spark, path).collect())
        txlog.optimize_zorder(
            spark, path, ["x", "y"], n_files=4, prune_col="x", lo=3000, hi=3999
        )
        assert sorted(txlog.read(spark, path).collect()) == expect


class TestReviewFixes:
    """Round-4 self-review regressions: mixed-width temporal prune bounds,
    skipping-metadata preservation across every rewrite commit, UPDATE
    validation timing, and bloom sizing by distinct count."""

    def test_date_bound_on_timestamp_column_does_not_false_skip(self, spark, tmp_path):
        """hi = a DATE, column = TIMESTAMP, file min exactly midnight of
        that date: Spark's residual filter (date casts to midnight) keeps
        the row, so the stats skip must too — a bare lexicographic compare
        of the 10-char date form against the 26-char timestamp form would
        skip the file and lose the row."""
        import datetime

        path = str(tmp_path / "t")
        rows = [(1, datetime.datetime(2024, 12, 31, 0, 0, 0))]
        txlog.append(
            spark.createDataFrame(rows, "id long, ts timestamp").coalesce(1),
            path,
            stats_cols=["ts"],
        )
        got = txlog.read_pruned(
            spark, path, "ts", hi=datetime.date(2024, 12, 31)
        )
        assert [r.id for r in got.collect()] == [1]

    def test_timestamp_bound_on_date_column_prunes_consistently(self, spark, tmp_path):
        import datetime

        path = str(tmp_path / "t")
        txlog.append(
            spark.createDataFrame(
                [(1, datetime.date(2024, 12, 31))], "id long, d date"
            ).coalesce(1),
            path,
            stats_cols=["d"],
        )
        # lo = midnight datetime of the same day: the date row (midnight)
        # satisfies d >= lo, so the file must be kept
        got = txlog.read_pruned(
            spark, path, "d", lo=datetime.datetime(2024, 12, 31, 0, 0, 0)
        )
        assert [r.id for r in got.collect()] == [1]

    def test_merge_preserves_stats_and_blooms(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(
            spark.createDataFrame(
                [(i, f"k{i}", 1) for i in range(20)], "id long, k string, rev int"
            ).coalesce(1),
            path,
            stats_cols=["id"],
            bloom_cols=["k"],
        )
        upd = spark.createDataFrame([(3, "k3b", 2)], "id long, k string, rev int")
        txlog.merge(spark, path, upd, keys=["id"], order_col="rev")
        assert txlog.visible_stats(path), "merge dropped logged stats"
        assert txlog.visible_blooms(path), "merge dropped logged blooms"

    def test_delete_preserves_blooms(self, spark, tmp_path):
        path = str(tmp_path / "t")
        for g in range(2):
            txlog.append(
                spark.createDataFrame(
                    [(i, f"k{i}") for i in range(g * 10, g * 10 + 10)],
                    "id long, k string",
                ).coalesce(1),
                path,
                bloom_cols=["k"],
            )
        txlog.delete_where(spark, path, "id = 15")
        blooms = txlog.visible_blooms(path)
        assert len(blooms) == 2, blooms  # untouched file + rewrite both covered
        got = txlog.read_point(spark, path, "k", "k3")
        assert len(got.inputFiles()) == 1

    def test_update_unknown_column_errors_even_without_matches(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(spark.createDataFrame([(1,)], "id long"), path)
        with pytest.raises(ValueError, match="unknown columns"):
            txlog.update_where(spark, path, "id = 999", {"tpyo": F.lit(0)})

    def test_update_evolved_column_on_pre_evolution_files(self, spark, tmp_path):
        """SET on a column the matched files predate: validation passes
        (the TABLE has it) and the rewrite materializes it."""
        path = str(tmp_path / "t")
        txlog.append(spark.createDataFrame([(1, "a")], "id long, v string"), path)
        txlog.append(
            spark.createDataFrame([(2, "b", 7)], "id long, v string, extra long"),
            path,
            merge_schema=True,
        )
        txlog.update_where(spark, path, "id = 1", {"extra": F.lit(99)})
        got = {r.id: r.extra for r in txlog.read(spark, path, merge_schema=True).collect()}
        assert got == {1: 99, 2: 7}

    def test_refresh_survives_restore_to_same_file_set(self, spark, tmp_path):
        from datalake_brief_spark.operators import incremental

        src = str(tmp_path / "src")
        mv = str(tmp_path / "mv")
        txlog.append(
            spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double"), src
        )
        incremental.refresh(spark, src, mv, keys=["k"], sum_cols=["v"])
        txlog.restore(src, 1)  # version bumps, file set identical
        v = incremental.refresh(spark, src, mv, keys=["k"], sum_cols=["v"])
        assert v == txlog.current_version(src)
        # and refresh is now a no-op again (version recorded)
        assert incremental.refresh(spark, src, mv, keys=["k"], sum_cols=["v"]) == v
        got = {r.k: r.v for r in incremental.read_aggregate(spark, mv, ["v"]).collect()}
        assert got == {1: 10.0, 2: 20.0}

    def test_bloom_sized_by_distinct_not_rows(self, spark, tmp_path):
        """A low-cardinality, many-row file must not produce a giant bloom:
        100k rows over 100 distinct keys stays at the minimum filter size."""
        import base64
        import json
        import os as _os

        path = str(tmp_path / "t")
        df = spark.range(100_000).select(
            (F.col("id") % 100).cast("long").alias("k")
        ).coalesce(1)
        txlog.append(df, path, bloom_cols=["k"])
        blooms = txlog.visible_blooms(path)
        (entry,) = blooms.values()
        n_bits = len(base64.b64decode(entry["k"])) * 8
        assert n_bits == 8 * 1024, n_bits  # the floor, not 2^20
        got = txlog.read_point(spark, path, "k", 42)
        assert got.count() == 1000
        del json, _os


class TestOverwriteWhere:
    """replaceWhere backfill: predicate-scoped atomic overwrite."""

    def test_replaces_band_in_one_commit(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(i, "old", 1) for i in range(10)]), path)
        pre = txlog.current_version(path)
        new = _df(spark, [(i, "new", 2) for i in range(3, 7)])
        v = txlog.overwrite_where(spark, path, new, F.col("id").between(3, 6))
        assert v == pre + 1  # one atomic commit
        rows = {(r.id, r.v) for r in txlog.read(spark, path).collect()}
        assert rows == {(i, "new" if 3 <= i <= 6 else "old") for i in range(10)}
        # time travel still shows the pre-replace table
        old = {r.v for r in txlog.read(spark, path, version=pre).collect()}
        assert old == {"old"}

    def test_enforce_rejects_out_of_scope_rows(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "a", 1)]), path)
        stray = _df(spark, [(99, "leak", 2)])
        with pytest.raises(ValueError, match="do not satisfy"):
            txlog.overwrite_where(spark, path, stray, F.col("id") <= 10)
        # nothing committed
        assert txlog.current_version(path) == 1
        # enforce=False allows the caller to take responsibility
        v = txlog.overwrite_where(
            spark, path, stray, F.col("id") <= 10, enforce=False
        )
        assert v == 2

    def test_null_predicate_rows_survive_rewrite(self, spark, tmp_path):
        """Three-valued logic: rows where the predicate is NULL are outside
        the replace scope and must survive the rewritten files."""
        path = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(1, "x"), (2, None), (3, "y")], "id long, tag string"
        )
        txlog.append(df, path)
        new = spark.createDataFrame([(9, "x")], "id long, tag string")
        txlog.overwrite_where(spark, path, new, F.col("tag") == "x")
        got = {(r.id, r.tag) for r in txlog.read(spark, path).collect()}
        assert got == {(9, "x"), (2, None), (3, "y")}

    def test_stats_prune_bounds_rewrite_set(self, spark, tmp_path):
        """Files outside the replaced band stay referenced byte-identical
        (never rewritten) when stats can prove they cannot match."""
        path = str(tmp_path / "t")
        lo = _df(spark, [(i, "lo", 1) for i in range(100)]).coalesce(1)
        hi = _df(spark, [(i, "hi", 1) for i in range(500, 600)]).coalesce(1)
        txlog.append(lo, path, stats_cols=["id"])
        txlog.append(hi, path, stats_cols=["id"])
        pre_files = set(txlog.visible_files(path))
        new = _df(spark, [(i, "new", 2) for i in range(0, 50)])
        txlog.overwrite_where(
            spark, path, new, F.col("id") < 50, prune_col="id", hi=49
        )
        post_files = set(txlog.visible_files(path))
        # the hi-band file group survives untouched in the new snapshot
        kept = pre_files & post_files
        assert kept, "pruned-out file group must stay referenced"
        kept_rows = {r.v for r in spark.read.parquet(*kept).collect()}
        assert kept_rows == {"hi"}

    def test_no_match_still_lands_insert(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "a", 1)]), path)
        new = _df(spark, [(50, "b", 1)])
        v = txlog.overwrite_where(spark, path, new, F.col("id").between(50, 60))
        assert v == 2
        assert {r.id for r in txlog.read(spark, path).collect()} == {1, 50}

    def test_replace_preserves_skipping_metadata(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(
            _df(spark, [(i, "a", 1) for i in range(20)]),
            path,
            stats_cols=["id"],
            bloom_cols=["v"],
        )
        new = _df(spark, [(i, "b", 2) for i in range(5)])
        txlog.overwrite_where(spark, path, new, F.col("id") < 5)
        assert txlog.visible_stats(path), "stats recollected on rewrite"
        assert txlog.visible_blooms(path), "blooms recollected on rewrite"


class TestSchemaEnforcement:
    """Writer-side schema checks (the Delta append contract): type changes
    always rejected; additive/missing columns need merge_schema=True."""

    def test_type_change_rejected(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(spark.createDataFrame([(1, "a")], "id long, v string"), path)
        with pytest.raises(TypeError, match="conflicts"):
            txlog.append(
                spark.createDataFrame([(2.5, "b")], "id double, v string"), path
            )
        # merge_schema does NOT excuse a type conflict
        with pytest.raises(TypeError, match="conflicts"):
            txlog.append(
                spark.createDataFrame([(2.5, "b")], "id double, v string"),
                path,
                merge_schema=True,
            )
        assert txlog.current_version(path) == 1  # nothing landed

    def test_added_column_needs_explicit_flag(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(spark.createDataFrame([(1, "a")], "id long, v string"), path)
        evolved = spark.createDataFrame([(2, "b", 7)], "id long, v string, n long")
        with pytest.raises(ValueError, match="merge_schema=True"):
            txlog.append(evolved, path)
        v = txlog.append(evolved, path, merge_schema=True)
        assert v == 2
        # the log now records the evolved schema; a third writer using it
        # needs no flag
        assert txlog.latest_meta(path, "schema") == {
            "id": "bigint", "v": "string", "n": "bigint"
        }
        txlog.append(
            spark.createDataFrame([(3, "c", 8)], "id long, v string, n long"), path
        )

    def test_missing_columns_are_race_safe(self, spark, tmp_path):
        """A writer may omit columns the table has (its rows read NULL
        there) WITHOUT any flag — otherwise a concurrent additive
        evolution would break every validated-but-not-yet-committed
        writer. The logged schema keeps the union."""
        path = str(tmp_path / "t")
        txlog.append(
            spark.createDataFrame([(1, "a", 7)], "id long, v string, n long"), path
        )
        narrow = spark.createDataFrame([(2, "b")], "id long, v string")
        txlog.append(narrow, path)  # no flag needed
        assert set(txlog.latest_meta(path, "schema")) == {"id", "v", "n"}
        got = {r.id: r.n for r in txlog.read(spark, path, merge_schema=True).collect()}
        assert got == {1: 7, 2: None}

    def test_pre_schema_tables_enforce_nothing(self, spark, tmp_path):
        """Tables whose commits predate schema recording (no 'schema' meta)
        accept any append — backward compatibility."""
        path = str(tmp_path / "t")
        df = spark.createDataFrame([(1, "a")], "id long, v string")
        adds = txlog._write_data_files(df, path)
        txlog._try_commit(path, 1, adds, [], meta={"op": "append"})  # no schema
        txlog.append(
            spark.createDataFrame([(2, "b", 9)], "id long, v string, n long"), path
        )
        assert txlog.read(spark, path, merge_schema=True).count() == 2

    def test_pre_schema_change_feed_into_empty_snapshot(self, spark, tmp_path):
        """Only footers type a scan of a table without a logged schema. A
        window that changes no row and ends on an empty snapshot has an
        empty change feed, typed by the footers of the last snapshot that
        held files, and a commit that empties the table feeds its deletes."""
        path = str(tmp_path / "t")
        full = txlog._write_data_files(_df(spark, [(1, "a", 1)]), path)
        empty = txlog._write_data_files(_df(spark, [(1, "a", 1)]).limit(0), path)
        txlog._try_commit(path, 1, full, [], meta={"op": "append"})  # no schema
        txlog._try_commit(path, 2, empty, full, meta={"op": "delete"})
        txlog._try_commit(path, 3, [], empty, meta={"op": "delete"})
        feed = txlog.table_changes(spark, path, 2)
        assert feed.collect() == [] and "id" in feed.columns
        feed = txlog.table_changes(spark, path, 1, 2).collect()
        assert [(r.id, r._change_type) for r in feed] == [(1, "delete")]

    def test_overwrite_resets_schema(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(spark.createDataFrame([(1, "a")], "id long, v string"), path)
        txlog.overwrite(spark.createDataFrame([(1,)], "k long"), path)
        assert txlog.latest_meta(path, "schema") == {"k": "bigint"}
        # appends now validate against the replacement schema
        with pytest.raises(ValueError, match="merge_schema"):
            txlog.append(spark.createDataFrame([(1, "a")], "id long, v string"), path)

    def test_merge_records_unified_schema(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "a", 1)]), path)
        upd = spark.createDataFrame(
            [(1, "a2", 2, "x")], "id long, v string, version int, note string"
        )
        txlog.merge(spark, path, upd, keys=["id"], order_col="version")
        assert "note" in txlog.latest_meta(path, "schema")


class TestFastCount:
    def test_count_tracks_mutations_without_scans(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(i, "a", 1) for i in range(100)]), path)
        txlog.append(_df(spark, [(i, "b", 1) for i in range(100, 150)]), path)
        assert txlog.fast_count(path) == 150
        txlog.delete_where(spark, path, "id < 20")
        assert txlog.fast_count(path) == 130
        txlog.optimize(spark, path, target_file_bytes=1 << 30)
        assert txlog.fast_count(path) == 130
        # time travel counts resolve per version
        assert txlog.fast_count(path, version=1) == 100
        assert txlog.fast_count(path) == txlog.read(spark, path).count()

    def test_count_survives_checkpoint_and_legacy_commits(self, spark, tmp_path):
        path = str(tmp_path / "t")
        # legacy commit without row counts: fast_count falls back to footers
        adds = txlog._write_data_files(_df(spark, [(1, "a", 1), (2, "b", 1)]), path)
        import json as _json
        import os as _os
        # strip the rows key to simulate a pre-upgrade commit
        cp = txlog._commit_path(path, 1)
        _os.makedirs(txlog._log_dir(path), exist_ok=True)
        with open(cp, "x") as f:
            f.write(_json.dumps({"version": 1, "adds": adds, "removes": []}))
        assert txlog.fast_count(path) == 2
        # enough commits to cross a checkpoint boundary: counts still exact
        for i in range(12):
            txlog.append(_df(spark, [(10 + i, "x", 1)]), path)
        assert txlog.fast_count(path) == 14
        assert txlog.fast_count(path) == txlog.read(spark, path).count()


class TestNullCountSkipping:
    def test_is_null_probe_skips_null_free_files(self, spark, tmp_path):
        path = str(tmp_path / "t")
        clean = spark.createDataFrame(
            [(i, float(i)) for i in range(100)], "id long, v double"
        ).coalesce(1)
        holey = spark.createDataFrame(
            [(100 + i, None if i % 3 == 0 else float(i)) for i in range(100)],
            "id long, v double",
        ).coalesce(1)
        txlog.append(clean, path, stats_cols=["v"])
        txlog.append(holey, path, stats_cols=["v"])
        got = txlog.read_pruned_nulls(spark, path, "v", is_null=True)
        assert len(got.inputFiles()) == 1  # the null-free file never scans
        want = txlog.read(spark, path).filter("v IS NULL")
        assert {r.id for r in got.collect()} == {r.id for r in want.collect()}
        assert got.count() == 34

    def test_statless_files_are_kept_conservatively(self, spark, tmp_path):
        path = str(tmp_path / "t")
        # committed WITHOUT stats_cols: no null counts -> every file kept
        txlog.append(
            spark.createDataFrame([(1, None), (2, 5.0)], "id long, v double"), path
        )
        got = txlog.read_pruned_nulls(spark, path, "v", is_null=True)
        assert {r.id for r in got.collect()} == {1}
        got2 = txlog.read_pruned_nulls(spark, path, "v", is_null=False)
        assert {r.id for r in got2.collect()} == {2}

    def test_null_counts_survive_rewrites(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(
            spark.createDataFrame(
                [(i, None if i < 10 else float(i)) for i in range(100)],
                "id long, v double",
            ).coalesce(1),
            path,
            stats_cols=["id", "v"],
        )
        txlog.append(
            spark.createDataFrame(
                [(100 + i, float(i)) for i in range(100)], "id long, v double"
            ).coalesce(1),
            path,
            stats_cols=["id", "v"],
        )
        txlog.delete_where(spark, path, "id >= 190", prune_col="id", lo=190)
        got = txlog.read_pruned_nulls(spark, path, "v", is_null=True)
        # the rewritten null-free file still skips: stats (incl. null count)
        # were recollected on the rewrite
        assert len(got.inputFiles()) == 1
        assert got.count() == 10


class TestDescribeDetail:
    def test_detail_reflects_table_state(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(
            _df(spark, [(i, "a", 1) for i in range(50)]).coalesce(2),
            path,
            stats_cols=["id"],
            bloom_cols=["v"],
        )
        d = txlog.describe_detail(path)
        assert d["version"] == 1
        assert d["num_files"] == 2
        assert d["num_rows"] == 50
        assert d["size_bytes"] > 0
        assert d["schema"] == {"id": "bigint", "v": "string", "version": "int"}
        assert d["stats_cols"] == ["id"]
        assert d["bloom_cols"] == ["v"]
        # time-travel detail: version pinned, row count per snapshot
        txlog.delete_where(spark, path, "id < 10")
        assert txlog.describe_detail(path)["num_rows"] == 40
        assert txlog.describe_detail(path, version=1)["num_rows"] == 50


class TestSchemaRaceRevalidation:
    def test_retry_records_schema_against_the_new_tip(self, spark, monkeypatch, tmp_path):
        """A racing writer evolves the schema between our validation and
        our commit: the retry must re-resolve against the new tip, so our
        commit's schema meta carries the racer's column instead of
        clobbering it back to the narrow schema."""
        path = str(tmp_path / "t")
        txlog.append(spark.createDataFrame([(1, "a")], "id long, v string"), path)

        real_try_commit = txlog._try_commit
        fired = {"done": False}

        def racing_try_commit(p, version, adds, removes, *args, **kwargs):
            if not fired["done"]:
                fired["done"] = True
                # the racer lands an evolution commit at OUR target version
                evo = spark.createDataFrame(
                    [(9, "z", 1)], "id long, v string, extra long"
                )
                evo_adds = txlog._write_data_files(evo, p)
                real_try_commit(
                    p,
                    version,
                    evo_adds,
                    [],
                    meta={
                        "op": "append",
                        "schema": {"id": "bigint", "v": "string", "extra": "bigint"},
                    },
                )
                # our original attempt now collides and retries
            return real_try_commit(p, version, adds, removes, *args, **kwargs)

        monkeypatch.setattr(txlog, "_try_commit", racing_try_commit)
        v = txlog.append(spark.createDataFrame([(2, "b")], "id long, v string"), path)
        monkeypatch.undo()
        assert v == 3  # lost one race, landed on retry
        # the final logged schema keeps the racer's evolved column
        assert txlog.latest_meta(path, "schema") == {
            "id": "bigint",
            "v": "string",
            "extra": "bigint",
        }
        assert txlog.read(spark, path, merge_schema=True).count() == 3


class TestMutationRace:
    @staticmethod
    def _race_append(spark, monkeypatch, rows):
        """Arm a one-shot concurrent append that lands AFTER the mutation
        chose its read version but BEFORE its commit."""
        real_write = txlog._write_data_files

        def racing_write(df, p):
            out = real_write(df, p)
            if getattr(racing_write, "armed", True):
                racing_write.armed = False
                adds = real_write(
                    spark.createDataFrame(rows, "id long, v string, version int"),
                    p,
                )
                txlog._try_commit(  # noqa: SLF001
                    p, txlog.current_version(p) + 1, adds, [], meta={"op": "append"}
                )
            return out

        racing_write.armed = True
        monkeypatch.setattr(txlog, "_write_data_files", racing_write)

    def test_delete_conflicts_when_concurrent_append_matches_predicate(
        self, spark, monkeypatch, tmp_path
    ):
        """WriteSerializable phantom conflict: the racing append lands a row
        the DELETE's predicate MATCHES — a serial execution would have
        deleted it, so the conflict must surface and the table stays
        exactly as the concurrent history wrote it (the losing delete
        sweeps the survivor and change-record groups it landed)."""
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(i, "a", 1) for i in range(10)]), path)
        self._race_append(spark, monkeypatch, [(2, "late", 1)])
        with pytest.raises(txlog.CommitConflict, match="phantom"):
            txlog.delete_where(spark, path, "id < 5")
        monkeypatch.undo()
        got = sorted(r.id for r in txlog.read(spark, path).collect())
        assert got == sorted(list(range(10)) + [2])  # nothing deleted
        # every file outside _txlog/ belongs to a committed group (the
        # initial append's or the racing append's)
        left = _orphans(path)
        assert not left, f"the aborted delete left files behind: {left}"

    def test_delete_resolves_disjoint_concurrent_append(
        self, spark, monkeypatch, tmp_path
    ):
        """Conflict RESOLUTION (the Delta WriteSerializable rules): a racing
        append whose rows do NOT match the DELETE's predicate is provably
        disjoint — the delete re-targets the new tip and commits; both
        effects land."""
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(i, "a", 1) for i in range(10)]), path)
        self._race_append(spark, monkeypatch, [(99, "late", 1)])
        v = txlog.delete_where(spark, path, "id < 5")
        monkeypatch.undo()
        assert v == 3  # append stole v2; delete re-targeted v3
        got = sorted(r.id for r in txlog.read(spark, path).collect())
        assert got == [5, 6, 7, 8, 9, 99]
        assert txlog.history(path)[0]["op"] == "delete"

    def test_dv_delete_resolves_disjoint_append(
        self, spark, monkeypatch, tmp_path
    ):
        """The DV delete writes no data files, so the race lands via a
        commit-steal: an append wins the target version, the DV delete's
        serializability retry re-targets (the appended rows don't match)."""
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(i, "a", 1) for i in range(10)]), path)
        real_try = txlog._try_commit

        def stealing_try(p, version, *a, **kw):
            if getattr(stealing_try, "armed", True):
                stealing_try.armed = False
                adds = txlog._write_data_files(  # noqa: SLF001
                    spark.createDataFrame(
                        [(99, "late", 1)], "id long, v string, version int"
                    ),
                    p,
                )
                real_try(p, version, adds, [], meta={"op": "append"})
            return real_try(p, version, *a, **kw)

        stealing_try.armed = True
        monkeypatch.setattr(txlog, "_try_commit", stealing_try)
        v = txlog.delete_where_dv(spark, path, "id < 5")
        monkeypatch.undo()
        assert v == 3
        got = sorted(r.id for r in txlog.read_mor(spark, path).collect())
        assert got == [5, 6, 7, 8, 9, 99]

    @pytest.mark.parametrize("op", ["optimize", "optimize_zorder", "reorg_purge"])
    def test_maintenance_resolves_disjoint_concurrent_append(
        self, spark, monkeypatch, tmp_path, op
    ):
        """A maintenance rewrite changes no row, so a blind append landing
        between its write and its commit is disjoint: the rewrite
        re-targets the new tip and commits, and both effects land."""
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(i, "a", 1) for i in range(10)]).repartition(3), path)
        if op == "reorg_purge":
            txlog.delete_where_dv(spark, path, "id = 4")  # a file to purge
        before = sorted(map(tuple, txlog.read_mor(spark, path).collect()))
        tip = txlog.current_version(path)
        self._race_append(spark, monkeypatch, [(99, "late", 1)])
        v = {
            "optimize": lambda: txlog.optimize(spark, path),
            "optimize_zorder": lambda: txlog.optimize_zorder(
                spark, path, ["id"], n_files=2
            ),
            "reorg_purge": lambda: txlog.reorg_purge(spark, path),
        }[op]()
        monkeypatch.undo()
        assert v == tip + 2  # the append stole tip + 1
        assert txlog.history(path)[0]["op"] == op
        got = sorted(map(tuple, txlog.read_mor(spark, path).collect()))
        assert got == sorted(before + [(99, "late", 1)])

    @staticmethod
    def _race_metadata_op(monkeypatch, racer):
        """Arm a one-shot concurrent metadata-only commit ``racer(path)``
        that lands after the rewrite wrote its files, before its commit."""
        real_write = txlog._write_data_files

        def racing_write(df, p):
            out = real_write(df, p)
            if getattr(racing_write, "armed", True):
                racing_write.armed = False
                racer(p)
            return out

        racing_write.armed = True
        monkeypatch.setattr(txlog, "_write_data_files", racing_write)

    @staticmethod
    def _rewrite(spark, path, op):
        if op == "optimize":
            return txlog.optimize(spark, path)
        return txlog.delete_where(spark, path, "id < 5")

    @pytest.mark.parametrize("op", ["optimize", "delete_where"])
    @pytest.mark.parametrize("racer", ["add_column_default", "enable_row_tracking"])
    def test_rewrite_conflicts_with_concurrent_file_metadata(
        self, spark, monkeypatch, tmp_path, op, racer
    ):
        """Files a rewrite lands after a racing ``add_column(default=...)``
        would read NULL where their rows predate the column, and files it
        lands after a racing ``enable_row_tracking`` would carry no row
        ids. Either race must surface as a conflict and leave the table
        readable as the racer left it."""
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(i, "a", 1) for i in range(10)]).repartition(3), path)
        self._race_metadata_op(
            monkeypatch,
            {
                "add_column_default": lambda p: txlog.add_column(
                    spark, p, "d", "int", default="7"
                ),
                "enable_row_tracking": txlog.enable_row_tracking,
            }[racer],
        )
        with pytest.raises(txlog.CommitConflict, match="snapshot-level"):
            self._rewrite(spark, path, op)
        monkeypatch.undo()
        if racer == "add_column_default":
            got = txlog.read(spark, path)
            assert got.count() == 10 and got.filter("d = 7").count() == 10
        else:
            ids = [r.row_id for r in txlog.read_with_row_ids(spark, path).collect()]
            assert sorted(ids) == list(range(10))

    @pytest.mark.parametrize("op", ["optimize", "delete_where"])
    def test_rewrite_resolves_past_concurrent_write_default(
        self, spark, monkeypatch, tmp_path, op
    ):
        """A write default only fills later writes, so a racing
        ``set_column_default`` is disjoint from a rewrite: it re-targets
        the new tip and commits."""
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(i, "a", 1) for i in range(10)]).repartition(3), path)
        tip = txlog.current_version(path)
        self._race_metadata_op(
            monkeypatch, lambda p: txlog.set_column_default(spark, p, "v", "'w'")
        )
        v = self._rewrite(spark, path, op)
        monkeypatch.undo()
        assert v == tip + 2  # set_column_default stole tip + 1
        got = sorted(r.id for r in txlog.read(spark, path).collect())
        assert got == (list(range(10)) if op == "optimize" else list(range(5, 10)))

    @pytest.mark.parametrize("racer", ["add_constraint", "add_generated_column"])
    @pytest.mark.parametrize("op", ["append", "update_where", "merge_into"])
    def test_write_conflicts_with_concurrent_contract_ddl(
        self, spark, monkeypatch, tmp_path, op, racer
    ):
        """A CHECK constraint or generation expression declared after a
        writer checked its rows against its pinned meta, but before it
        commits, makes the commit conflict: every row the write lands (the
        appended row, the update output, the merge's update and insert)
        violates the racing rule. The table keeps its rows and the
        racer's rule, and the loser sweeps every group it landed."""
        path = str(tmp_path / "t")
        schema = "id long, v long, g long"
        txlog.append(spark.createDataFrame([(1, 1, 2), (3, 3, 6)], schema), path)
        write = {
            "append": lambda: txlog.append(
                spark.createDataFrame([(2, 50, 0)], schema), path
            ),
            "update_where": lambda: txlog.update_where(
                spark, path, "id = 1", {"v": F.col("v") + 50}
            ),
            "merge_into": lambda: txlog.merge_into(
                spark,
                path,
                spark.createDataFrame([(1, 51, 2), (2, 50, 0)], schema),
                ["id"],
                when_matched=[("update", "*")],
            ),
        }[op]
        ddl = {
            "add_constraint": lambda p: txlog.add_constraint(
                spark, p, "small", "v < 10"
            ),
            "add_generated_column": lambda p: txlog.add_generated_column(
                p, "g", "v * 2", "bigint", spark=spark
            ),
        }[racer]
        real_try = txlog._try_commit

        def racing_try(p, version, *a, **kw):
            if racing_try.armed:  # the writer's first attempt: checks done
                racing_try.armed = False
                ddl(p)  # lands ``version`` first
            return real_try(p, version, *a, **kw)

        racing_try.armed = True
        monkeypatch.setattr(txlog, "_try_commit", racing_try)
        with pytest.raises(txlog.CommitConflict, match="CHECK constraints"):
            write()
        monkeypatch.undo()
        assert txlog.history(path)[0]["op"] == racer
        got = sorted(map(tuple, txlog.read(spark, path).collect()))
        assert got == [(1, 1, 2), (3, 3, 6)]
        assert not _orphans(path)

    def test_update_conflicts_with_concurrent_snapshot_op(
        self, spark, monkeypatch, tmp_path
    ):
        """A racing snapshot-level op (OPTIMIZE here) admits no
        disjointness argument — the mutation must surface the conflict."""
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(i, "a", 1) for i in range(10)]).repartition(3), path)

        real_write = txlog._write_data_files

        def racing_write(df, p):
            out = real_write(df, p)
            if getattr(racing_write, "armed", True):
                racing_write.armed = False
                monkeypatch.setattr(txlog, "_write_data_files", real_write)
                txlog.optimize(spark, p, target_file_bytes=1 << 30)
                monkeypatch.setattr(txlog, "_write_data_files", racing_write)
            return out

        racing_write.armed = True
        monkeypatch.setattr(txlog, "_write_data_files", racing_write)
        with pytest.raises(txlog.CommitConflict, match="snapshot-level"):
            txlog.update_where(spark, path, "id < 5", {"version": F.lit(2)})
        monkeypatch.undo()
        assert txlog.read(spark, path).filter("version = 2").count() == 0

    def test_concurrent_delete_of_same_files_conflicts(
        self, spark, monkeypatch, tmp_path
    ):
        """Write-write: the racer REMOVES a file our delete also rewrites."""
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(i, "a", 1) for i in range(10)]).coalesce(1), path)

        real_write = txlog._write_data_files

        def racing_write(df, p):
            out = real_write(df, p)
            if getattr(racing_write, "armed", True):
                racing_write.armed = False
                monkeypatch.setattr(txlog, "_write_data_files", real_write)
                txlog.delete_where(spark, p, "id = 9")  # rewrites THE file
                monkeypatch.setattr(txlog, "_write_data_files", racing_write)
            return out

        racing_write.armed = True
        monkeypatch.setattr(txlog, "_write_data_files", racing_write)
        with pytest.raises(txlog.CommitConflict, match="write-write"):
            txlog.delete_where(spark, path, "id < 5")
        monkeypatch.undo()
        got = sorted(r.id for r in txlog.read(spark, path).collect())
        assert got == list(range(9))  # only the racer's delete landed


class TestCheckConstraints:
    def test_violating_append_rejected_before_commit(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "a", 1)]), path)
        txlog.add_constraint(spark, path, "id_positive", "id > 0")
        pre = txlog.current_version(path)
        with pytest.raises(ValueError, match="id_positive"):
            txlog.append(_df(spark, [(-5, "bad", 1)]), path)
        assert txlog.current_version(path) == pre  # nothing landed
        txlog.append(_df(spark, [(2, "ok", 1)]), path)  # clean rows pass
        assert {r.id for r in txlog.read(spark, path).collect()} == {1, 2}

    def test_null_passes_sql_check_semantics(self, spark, tmp_path):
        """SQL CHECK: only FALSE violates — NULL passes, as in every SQL
        engine."""
        path = str(tmp_path / "t")
        df = spark.createDataFrame([(1, 5.0)], "id long, v double")
        txlog.append(df, path)
        txlog.add_constraint(spark, path, "v_pos", "v > 0")
        txlog.append(
            spark.createDataFrame([(2, None)], "id long, v double"), path
        )  # NULL v passes
        with pytest.raises(ValueError, match="v_pos"):
            txlog.append(
                spark.createDataFrame([(3, -1.0)], "id long, v double"), path
            )

    def test_add_constraint_validates_existing_rows(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(-1, "a", 1)]), path)
        with pytest.raises(ValueError, match="existing rows violate"):
            txlog.add_constraint(spark, path, "id_positive", "id > 0")

    def test_update_cannot_write_violations(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "a", 1)]), path)
        txlog.add_constraint(spark, path, "ver_pos", "version > 0")
        with pytest.raises(ValueError, match="ver_pos"):
            txlog.update_where(spark, path, "id = 1", {"version": F.lit(-9)})

    def test_merge_and_replace_enforce_on_incoming(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "a", 1)]), path)
        txlog.add_constraint(spark, path, "id_positive", "id > 0")
        with pytest.raises(ValueError, match="id_positive"):
            txlog.merge(
                spark, path, _df(spark, [(-2, "x", 2)]), keys=["id"], order_col="version"
            )
        with pytest.raises(ValueError, match="id_positive"):
            txlog.overwrite_where(
                spark, path, _df(spark, [(-3, "y", 1)]), "id < 0"
            )

    def test_drop_constraint_stops_enforcement(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "a", 1)]), path)
        txlog.add_constraint(spark, path, "id_positive", "id > 0")
        txlog.drop_constraint(path, "id_positive")
        txlog.append(_df(spark, [(-5, "now ok", 1)]), path)
        assert {r.id for r in txlog.read(spark, path).collect()} == {1, -5}
        # history records both metadata commits
        ops = [h["op"] for h in txlog.history(path)]
        assert "add_constraint" in ops and "drop_constraint" in ops


class TestNeedsOptimize:
    def test_advisor_trips_on_small_files_and_clears_after_optimize(self, spark, tmp_path):
        """Metadata-only compaction advisor: many small append commits trip
        the recommendation; one OPTIMIZE clears it."""
        path = str(tmp_path / "t")
        df = spark.range(100).withColumnRenamed("id", "k")
        for _ in range(9):
            txlog.append(df.coalesce(1), path)
        before = txlog.needs_optimize(path, target_file_bytes=1 << 30, min_small_files=8)
        assert before["recommended"] and before["n_small"] >= 9
        txlog.optimize(spark, path, target_file_bytes=1 << 30)
        after = txlog.needs_optimize(path, target_file_bytes=1 << 30, min_small_files=8)
        assert not after["recommended"]
        assert after["n_files"] < before["n_files"]
        # content unchanged
        assert txlog.read(spark, path).count() == 900


class TestTimestampTimeTravel:
    def test_timestamp_as_of_resolves_between_commits(self, spark, tmp_path):
        """timestampAsOf contract: a reader at instant T sees the newest
        commit at or before T; before the first commit is a clear error;
        the future resolves to the tip. Mid-commit instants are derived
        from the recorded commit timestamps, no sleeps."""
        import datetime as dt

        path = str(tmp_path / "t")
        txlog.overwrite(_df(spark, [(1, "a", 1)]), path)
        txlog.overwrite(_df(spark, [(2, "b", 2)]), path)
        txlog.overwrite(_df(spark, [(3, "c", 3)]), path)
        hist = {h["version"]: dt.datetime.fromisoformat(h["ts"]) for h in txlog.history(path)}
        assert set(hist) == {1, 2, 3} and all(hist.values())
        # exactly at v2's commit instant -> v2
        assert txlog.version_at_timestamp(path, hist[2]) == 2
        # a hair before v1 -> error naming the earliest readable instant
        with pytest.raises(ValueError, match="predates the table's first commit"):
            txlog.version_at_timestamp(path, hist[1] - dt.timedelta(microseconds=1))
        # far future -> tip
        assert txlog.version_at_timestamp(path, hist[3] + dt.timedelta(days=1)) == 3
        got = {r.id for r in txlog.read_at_timestamp(spark, path, hist[2]).collect()}
        assert got == {2}
        # ISO-string input, naive = UTC
        iso = hist[3].replace(tzinfo=None).isoformat()
        assert txlog.version_at_timestamp(path, iso) == 3

    def test_pre_timestamp_commits_fall_back_to_mtime(self, spark, tmp_path):
        """A log written before commit timestamps existed still resolves:
        strip the ts field from a commit and the file mtime takes over."""
        import datetime as dt
        import json as _json
        import os as _os

        path = str(tmp_path / "t")
        txlog.overwrite(_df(spark, [(1, "a", 1)]), path)
        cpath = txlog._commit_path(path, 1)  # noqa: SLF001
        with open(cpath) as f:
            c = _json.load(f)
        del c["ts"]
        with open(cpath, "w") as f:
            _json.dump(c, f)
        now = dt.datetime.now(dt.timezone.utc)
        assert txlog.version_at_timestamp(path, now + dt.timedelta(days=1)) == 1
        mtime = dt.datetime.fromtimestamp(_os.path.getmtime(cpath), dt.timezone.utc)
        with pytest.raises(ValueError):
            txlog.version_at_timestamp(path, mtime - dt.timedelta(seconds=1))

    def test_skewed_commit_clock_resolves_monotonic(self, spark, tmp_path):
        """Writer clock skew (or the mtime fallback) can make raw commit
        timestamps dip below an earlier commit's. Resolution must follow
        the Delta-clamped monotonic clock: a dipped commit is treated as
        happening at the running max, so the instant→version mapping is
        non-decreasing and never surfaces v_{n+1} data at an instant
        before v_n's commit."""
        import datetime as dt
        import json as _json

        path = str(tmp_path / "t")
        txlog.overwrite(_df(spark, [(1, "a", 1)]), path)
        txlog.overwrite(_df(spark, [(2, "b", 2)]), path)
        txlog.overwrite(_df(spark, [(3, "c", 3)]), path)
        base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
        # v1 at T, v2 at T+10s, v3 skewed BACK to T+2s
        for v, off in [(1, 0), (2, 10), (3, 2)]:
            cpath = txlog._commit_path(path, v)  # noqa: SLF001
            with open(cpath) as f:
                c = _json.load(f)
            c["ts"] = (base + dt.timedelta(seconds=off)).isoformat()
            with open(cpath, "w") as f:
                _json.dump(c, f)
        # At T+2s the monotonic clock says only v1 exists (v3 clamps to
        # v2's T+10s) — returning v3 here would expose post-v2 data at a
        # pre-v2 instant.
        assert txlog.version_at_timestamp(path, base + dt.timedelta(seconds=2)) == 1
        assert txlog.version_at_timestamp(path, base + dt.timedelta(seconds=9)) == 1
        # At T+10s both v2 and clamped-v3 qualify -> newest wins
        assert txlog.version_at_timestamp(path, base + dt.timedelta(seconds=10)) == 3
        got = {r.id for r in txlog.read_at_timestamp(spark, path, base + dt.timedelta(seconds=10)).collect()}
        assert got == {3}

    def test_cdf_between_timestamps(self, spark, tmp_path):
        """table_changes by wall-clock: changes since v1's instant are
        exactly v2's delta, no version bookkeeping caller-side."""
        import datetime as dt

        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "a", 1)]), path)
        txlog.append(_df(spark, [(2, "b", 2)]), path)
        hist = {h["version"]: dt.datetime.fromisoformat(h["ts"]) for h in txlog.history(path)}
        got = txlog.table_changes_between_timestamps(spark, path, hist[1]).collect()
        assert [(r.id, r._change_type) for r in got] == [(2, "insert")]


class TestShallowClone:
    def test_clone_is_zero_copy_and_independent(self, spark, tmp_path):
        """A shallow clone reads the source snapshot without copying a
        byte; afterwards the two tables evolve independently, and the
        clone's vacuum never touches source files."""
        import os as _os

        src = str(tmp_path / "src")
        dst = str(tmp_path / "dst")
        txlog.append(_df(spark, [(1, "a", 1), (2, "b", 1)]), src)
        assert txlog.clone(src, dst) == 1
        # zero copy: the clone's own data dir holds nothing
        assert not _os.path.isdir(_os.path.join(dst, "data")) or not any(
            files for _, _, files in _os.walk(_os.path.join(dst, "data"))
        )
        assert {r.id for r in txlog.read(spark, dst).collect()} == {1, 2}
        assert txlog.fast_count(dst) == 2
        # independence: source append invisible to clone; clone append
        # invisible to source
        txlog.append(_df(spark, [(3, "c", 2)]), src)
        txlog.append(_df(spark, [(9, "z", 2)]), dst)
        assert {r.id for r in txlog.read(spark, dst).collect()} == {1, 2, 9}
        assert {r.id for r in txlog.read(spark, src).collect()} == {1, 2, 3}
        # the clone's vacuum reclaims only CLONE-local files
        src_files = set(txlog.visible_files(src))
        txlog.overwrite(_df(spark, [(7, "q", 3)]), dst)
        deleted = txlog.vacuum(dst, retain_versions=1)
        assert deleted, "the clone's superseded local files should go"
        for f in src_files:
            assert _os.path.exists(f), "clone vacuum must never touch source files"
        assert {r.id for r in txlog.read(spark, src).collect()} == {1, 2, 3}

    def test_clone_carries_stats_and_refuses_existing_target(self, spark, tmp_path):
        src = str(tmp_path / "src")
        dst = str(tmp_path / "dst")
        df = spark.range(0, 100).selectExpr("id", "cast(id as double) AS v")
        txlog.append(df.filter("id < 50").coalesce(1), src, stats_cols=["id"])
        txlog.append(df.filter("id >= 50").coalesce(1), src, stats_cols=["id"])
        txlog.clone(src, dst)
        assert len(txlog.visible_stats(dst)) == 2, "clone must carry stats"
        pruned = txlog.read_pruned(spark, dst, "id", 10, 20)
        assert len(pruned.inputFiles()) == 1, "clone must inherit skipping stats"
        assert {r.id for r in pruned.collect()} == set(range(10, 21))
        with pytest.raises(FileExistsError):
            txlog.clone(src, dst)


class TestDeletionVectors:
    """Merge-on-read DELETE: positions in sidecars, no data-file rewrites,
    full composition with the copy-on-write mutation family."""

    @pytest.fixture()
    def table(self, spark, tmp_path):
        t = str(tmp_path / "dv_tbl")
        df = spark.range(100).select(F.col("id"), (F.col("id") % 7).alias("k"))
        txlog.append(df.repartition(3), t)
        return t

    def test_no_files_rewritten_and_rows_hidden(self, spark, table):
        before = txlog.visible_files(table)
        v = txlog.delete_where_dv(spark, table, "k = 3")
        assert v == 2
        assert txlog.visible_files(table) == before  # metadata-only commit
        mor = txlog.read_mor(spark, table)
        assert mor.filter("k = 3").count() == 0
        assert mor.count() == 100 - 14
        # the raw bytes still hold the deleted rows: nothing was rewritten
        assert txlog._read_data(spark, table, txlog.visible_files(table)).count() == 100

    def test_time_travel_below_delete(self, spark, table):
        txlog.delete_where_dv(spark, table, "k = 3")
        assert txlog.read_mor(spark, table, version=1).count() == 100

    def test_dvs_accumulate_and_repeat_is_noop(self, spark, table):
        txlog.delete_where_dv(spark, table, "k = 3")
        v2 = txlog.delete_where_dv(spark, table, "k = 5")
        assert txlog.read_mor(spark, table).count() == 100 - 14 - 14
        assert txlog.delete_where_dv(spark, table, "k = 5") == v2  # no-op
        assert txlog.current_version(table) == v2

    def test_dv_equals_cow_result(self, spark, table, tmp_path):
        t2 = str(tmp_path / "cow_tbl")
        txlog.append(txlog.read(spark, table), t2)
        txlog.delete_where_dv(spark, table, "k = 3")
        txlog.delete_where(spark, t2, "k = 3")
        a = sorted(r.id for r in txlog.read_mor(spark, table).collect())
        b = sorted(r.id for r in txlog.read(spark, t2).collect())
        assert a == b

    def test_null_predicate_rows_survive(self, spark, tmp_path):
        t = str(tmp_path / "dv_null")
        df = spark.createDataFrame([(1, 1.0), (2, None), (3, 5.0)], "id int, v double")
        txlog.append(df, t)
        txlog.delete_where_dv(spark, t, "v > 2")
        got = sorted(r.id for r in txlog.read_mor(spark, t).collect())
        assert got == [1, 2]  # NULL-predicate row 2 survives (3-valued logic)

    def test_cow_rewrite_does_not_resurrect_dv_rows(self, spark, table):
        txlog.delete_where_dv(spark, table, "k = 3")
        txlog.delete_where(spark, table, "k = 0")  # CoW touches every file
        mor = txlog.read_mor(spark, table)
        assert mor.filter("k = 3").count() == 0
        assert mor.count() == 100 - 14 - 15

    def test_update_and_optimize_respect_dvs(self, spark, table):
        txlog.delete_where_dv(spark, table, "k = 3")
        txlog.update_where(spark, table, "k = 1", {"k": F.lit(99)})
        mor = txlog.read_mor(spark, table)
        assert mor.filter("k = 3").count() == 0
        assert mor.filter("k = 99").count() == 15
        # optimize materializes the DVs away: raw bytes == MOR afterwards
        txlog.optimize(spark, table, target_file_bytes=10**9, small_file_bytes=10**9)
        raw = txlog._read_data(spark, table, txlog.visible_files(table))
        assert raw.count() == txlog.read_mor(spark, table).count() == 86

    def test_checkpoint_carries_dvs(self, spark, tmp_path):
        t = str(tmp_path / "dv_ckpt")
        df = spark.range(50).select(F.col("id"), (F.col("id") % 5).alias("k"))
        txlog.append(df, t)
        txlog.delete_where_dv(spark, t, "k = 2")  # v2
        for _ in range(9):  # push past the every-10 checkpoint
            txlog.append(spark.range(1).select(F.col("id"), F.lit(0).cast("long").alias("k")), t)
        assert any(v >= 10 for v in txlog._checkpoint_versions(t))
        mor = txlog.read_mor(spark, t)
        assert mor.filter("k = 2").count() == 0  # DV survived checkpoint replay

    @pytest.mark.parametrize("op", ["delete_where_dv", "merge_into"])
    def test_cdf_reports_dv_deletes(self, spark, table, op):
        """A commit whose only change is DV positions stores no change
        record; the feed reads its deletes from the DV state."""
        v1 = txlog.current_version(table)
        if op == "delete_where_dv":
            txlog.delete_where_dv(spark, table, "k = 3")
        else:
            src = spark.range(100).filter("id % 7 = 3").select("id")
            txlog.merge_into(
                spark, table, src, keys=["id"], when_matched=[("delete",)],
                when_not_matched=None, use_dvs=True,
            )
        assert "change_data" not in txlog._load_commit(table, v1 + 1)  # noqa: SLF001
        cdf = txlog.table_changes(spark, table, v1)
        rows = cdf.collect()
        assert all(r._change_type == "delete" for r in rows)
        assert sorted(r.id for r in rows) == [i for i in range(100) if i % 7 == 3]

    def test_cdf_does_not_rereport_dv_dead_rows_on_rewrite(self, spark, table):
        txlog.delete_where_dv(spark, table, "k = 3")
        v2 = txlog.current_version(table)
        txlog.delete_where(spark, table, "k = 0")  # CoW rewrites every file
        cdf = txlog.table_changes(spark, table, v2)
        deletes = sorted(r.id for r in cdf.filter("_change_type = 'delete'").collect())
        # only the k=0 rows — the k=3 rows were already logically gone at v2
        assert deletes == [i for i in range(100) if i % 7 == 0]
        assert cdf.filter("_change_type = 'insert'").count() == 0

    def test_cdf_window_spanning_dv_and_cow(self, spark, table):
        v1 = txlog.current_version(table)
        txlog.delete_where_dv(spark, table, "k = 3")
        txlog.delete_where(spark, table, "k = 0")
        cdf = txlog.table_changes(spark, table, v1)
        deletes = sorted(r.id for r in cdf.filter("_change_type = 'delete'").collect())
        assert deletes == sorted(
            [i for i in range(100) if i % 7 == 3] + [i for i in range(100) if i % 7 == 0]
        )

    def test_vacuum_reclaims_orphaned_dv_sidecars(self, spark, table):
        import glob as _glob
        import os as _os

        txlog.delete_where_dv(spark, table, "k = 3")
        assert _glob.glob(_os.path.join(table, "_dv", "*", "*.parquet"))
        # CoW rewrite of every file orphans the DV group; vacuum to the
        # latest version reclaims it together with the superseded data.
        txlog.delete_where(spark, table, "k >= 0")  # rewrites all files
        dry = txlog.vacuum(table, retain_versions=1, dry_run=True)
        assert any(r.startswith("_dv/") for r in dry)
        removed = txlog.vacuum(table, retain_versions=1)
        assert any(r.startswith("_dv/") for r in removed)
        assert not _glob.glob(_os.path.join(table, "_dv", "*", "*.parquet"))
        # live table still reads fine (MOR == raw bytes, no DVs left)
        raw = txlog._read_data(spark, table, txlog.visible_files(table))
        assert txlog.read_mor(spark, table).count() == raw.count()

    def test_vacuum_keeps_referenced_dv_sidecars(self, spark, table):
        import glob as _glob
        import os as _os

        txlog.delete_where_dv(spark, table, "k = 3")
        txlog.vacuum(table, retain_versions=1)
        # the DV is still referenced by the latest version: must survive
        assert _glob.glob(_os.path.join(table, "_dv", "*", "*.parquet"))
        assert txlog.read_mor(spark, table).filter("k = 3").count() == 0

    def test_basename_keyed_sidecars_still_apply(self, spark, table):
        """Sidecars landed while DV positions were keyed by the data file's
        basename keep hiding their rows: in read_mor, dv_metrics, the
        change feed and reorg_purge."""
        import glob as _glob

        import pyarrow as pa
        import pyarrow.parquet as pq

        txlog.delete_where_dv(spark, table, "k = 3")
        metrics = txlog.dv_metrics(spark, table).first()
        for f in _glob.glob(os.path.join(table, "_dv", "*", "*.parquet")):
            t = pq.read_table(f)
            i = t.schema.get_field_index("file_name")
            names = [os.path.basename(n) for n in t.column(i).to_pylist()]
            pq.write_table(t.set_column(i, "file_name", pa.array(names)), f)
            crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
            if os.path.exists(crc):
                os.remove(crc)
        mor = txlog.read_mor(spark, table)
        assert mor.count() == 86 and mor.filter("k = 3").count() == 0
        assert txlog.dv_metrics(spark, table).first() == metrics
        feed = txlog.table_changes(spark, table, 1)
        assert feed.filter("_change_type = 'delete'").count() == 14
        txlog.reorg_purge(spark, table)
        assert txlog._read_data(spark, table, txlog.visible_files(table)).count() == 86


class TestDeletionVectorsRound8:
    """DV composition with the whole-snapshot/metadata operations (merge,
    restore, clone), the merge-on-read UPDATE, and the MOR broadcast-size
    guard."""

    @pytest.fixture()
    def table(self, spark, tmp_path):
        t = str(tmp_path / "dv8_tbl")
        df = spark.range(100).select(F.col("id"), (F.col("id") % 7).alias("k"))
        txlog.append(df.repartition(3), t)
        return t

    def test_merge_does_not_resurrect_dv_rows(self, spark, table):
        """The file-pruned merge rewrites only matched files — their input
        must be the DV-applied view (a raw-bytes rewrite would resurrect
        the rewritten files' DV-deleted rows), while UNTOUCHED files keep
        their DVs mapped (the Delta contract: merge-on-read still applies
        to files the merge never rewrote)."""
        txlog.delete_where_dv(spark, table, "k = 3")
        updates = spark.createDataFrame([(1, 99)], "id long, k long")
        txlog.merge(spark, table, updates, keys=["id"], order_col="k")
        got = txlog.read_mor(spark, table)
        assert got.filter("k = 3").count() == 0, "DV-deleted rows resurrected"
        assert got.filter("id = 1 AND k = 99").count() == 1
        assert got.count() == 100 - 14 + 0  # 14 DV'd (k=3), id=1 upserted
        # the rewritten (matched) files' DVs were APPLIED, not remapped:
        # even a plain read of those files never re-shows their dead rows
        rewritten = txlog.read(spark, table).filter("id = 1")
        assert rewritten.count() == 1

    def test_restore_drops_post_target_dvs(self, spark, table):
        v2 = txlog.delete_where_dv(spark, table, "k = 3")
        txlog.delete_where_dv(spark, table, "k = 5")
        assert txlog.read_mor(spark, table).count() == 100 - 28
        txlog.restore(table, v2)
        mor = txlog.read_mor(spark, table)
        assert mor.count() == 100 - 14
        assert mor.filter("k = 3").count() == 0  # at-target DV still applies
        assert mor.filter("k = 5").count() == 14  # post-target DV dropped

    def test_restore_to_pre_dv_version_clears_all_dvs(self, spark, table):
        txlog.delete_where_dv(spark, table, "k = 3")
        txlog.restore(table, 1)
        assert txlog.read_mor(spark, table).count() == 100
        assert not txlog.visible_dvs(table)

    def test_restore_reapplies_dvs_on_readded_files(self, spark, table):
        """Files removed after the target (CoW rewrite) re-add with their
        AT-TARGET DV lists — replay's add gives dvs=[], dv_set restores."""
        v2 = txlog.delete_where_dv(spark, table, "k = 3")
        txlog.delete_where(spark, table, "k = 5")  # CoW: rewrites files
        txlog.restore(table, v2)
        mor = txlog.read_mor(spark, table)
        assert mor.count() == 100 - 14
        assert mor.filter("k = 3").count() == 0
        assert mor.filter("k = 5").count() == 14

    def test_restore_fails_when_target_sidecar_vacuumed(self, spark, table):
        import glob as _glob
        import shutil as _shutil

        v2 = txlog.delete_where_dv(spark, table, "k = 3")
        # orphan the DV via a CoW rewrite of the files carrying it (the
        # k = 3 rows are DV-dead, so only the live k = 4 rows match)
        txlog.delete_where(spark, table, "k = 3 OR k = 4")
        for g in _glob.glob(os.path.join(table, "_dv", "*")):
            _shutil.rmtree(g)
        with pytest.raises(FileNotFoundError, match="deletion-?\\s?vector"):
            txlog.restore(table, v2)

    def test_restore_cdf_reports_resurrections_as_inserts(self, spark, table):
        v2 = txlog.delete_where_dv(spark, table, "k = 3")
        v3 = txlog.restore(table, 1)
        cdf = txlog.table_changes(spark, table, v2, v3)
        ins = cdf.filter("_change_type = 'insert'")
        assert sorted(r.id for r in ins.collect()) == [
            i for i in range(100) if i % 7 == 3
        ]
        assert cdf.filter("_change_type = 'delete'").count() == 0

    def test_clone_carries_dvs(self, spark, table, tmp_path):
        txlog.delete_where_dv(spark, table, "k = 3")
        dst = str(tmp_path / "dv8_clone")
        txlog.clone(table, dst)
        src_ids = sorted(r.id for r in txlog.read_mor(spark, table).collect())
        dst_ids = sorted(r.id for r in txlog.read_mor(spark, dst).collect())
        assert src_ids == dst_ids
        m = txlog.dv_metrics(spark, dst).collect()[0]
        assert m.n_dv_rows == 14 and m.n_files_with_dv > 0

    def test_update_dv_rewrites_no_files_and_equals_cow(self, spark, table, tmp_path):
        before = set(txlog.visible_files(table))
        v = txlog.update_where_dv(
            spark, table, "k = 3", {"k": F.col("k") + 100}
        )
        assert v == 2
        after = set(txlog.visible_files(table))
        assert before <= after, "update_dv must not remove any file"
        assert len(after) > len(before), "rewritten rows must append"
        # the raw bytes hold BOTH row versions (MOR contract)
        assert txlog._read_data(spark, table, txlog.visible_files(table)).count() == 100 + 14
        # MOR view equals the CoW twin's result on an identical table
        twin = str(tmp_path / "dv8_twin")
        df = spark.range(100).select(F.col("id"), (F.col("id") % 7).alias("k"))
        txlog.append(df.repartition(3), twin)
        txlog.update_where(spark, twin, "k = 3", {"k": F.col("k") + 100})
        got = sorted((r.id, r.k) for r in txlog.read_mor(spark, table).collect())
        want = sorted((r.id, r.k) for r in txlog.read(spark, twin).collect())
        assert got == want

    def test_update_dv_null_predicate_rows_untouched(self, spark, tmp_path):
        t = str(tmp_path / "dv8_null")
        df = spark.createDataFrame(
            [(1, 1), (2, None), (3, 3)], "id long, v long"
        )
        txlog.append(df, t)
        txlog.update_where_dv(spark, t, F.col("v") > 1, {"v": F.lit(0)})
        got = {r.id: r.v for r in txlog.read_mor(spark, t).collect()}
        assert got == {1: 1, 2: None, 3: 0}

    def test_update_dv_no_match_is_noop_and_unknown_column_errors(
        self, spark, table
    ):
        v = txlog.current_version(table)
        assert txlog.update_where_dv(spark, table, "k = 999", {"k": F.lit(0)}) == v
        with pytest.raises(ValueError, match="unknown columns"):
            txlog.update_where_dv(spark, table, "k = 999", {"nope": F.lit(0)})

    def test_update_dv_skips_already_dv_dead_rows(self, spark, table):
        txlog.delete_where_dv(spark, table, "k = 3")
        txlog.update_where_dv(spark, table, "k = 3", {"k": F.lit(0)})
        mor = txlog.read_mor(spark, table)
        assert mor.count() == 100 - 14, "deleted rows must not resurrect as updates"
        assert mor.filter("k = 0").count() == 100 // 7 + 1  # only the real k=0 rows

    def test_update_dv_cdf_reports_delete_insert_pair(self, spark, table):
        v = txlog.update_where_dv(spark, table, "k = 3", {"k": F.lit(42)})
        cdf = txlog.table_changes(spark, table, v - 1, v)
        dels = cdf.filter("_change_type = 'delete'")
        ins = cdf.filter("_change_type = 'insert'")
        want_ids = [i for i in range(100) if i % 7 == 3]
        assert sorted(r.id for r in dels.collect()) == want_ids
        assert sorted(r.id for r in ins.collect()) == want_ids
        assert {r.k for r in ins.collect()} == {42}

    def test_update_dv_then_optimize_materializes(self, spark, table):
        txlog.update_where_dv(spark, table, "k = 3", {"k": F.lit(42)})
        txlog.optimize(spark, table, target_file_bytes=1 << 30)
        assert not txlog.visible_dvs(table)
        got = txlog.read(spark, table)
        assert got.count() == 100
        assert got.filter("k = 42").count() == 14
        assert got.filter("k = 3").count() == 0

    def test_mor_broadcast_guard_switches_strategy(self, spark, table, monkeypatch):
        """Past the threshold the hint must be ABSENT — Catalyst then
        chooses by its own size estimate (auto-broadcast disabled here to
        make the difference observable on a toy DV set): hinted plan
        broadcasts unconditionally, unhinted falls back to a shuffle
        anti-join. Results identical either way."""
        txlog.delete_where_dv(spark, table, "k = 3")
        saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            bc = txlog.read_mor(spark, table)
            monkeypatch.setattr(txlog, "DV_BROADCAST_MAX_ROWS", 0)
            sh = txlog.read_mor(spark, table)
            bc_plan = bc._jdf.queryExecution().sparkPlan().toString()  # noqa: SLF001
            sh_plan = sh._jdf.queryExecution().sparkPlan().toString()  # noqa: SLF001
            assert "BroadcastHashJoin" in bc_plan
            assert "BroadcastHashJoin" not in sh_plan
            assert sorted(r.id for r in bc.collect()) == sorted(
                r.id for r in sh.collect()
            )
        finally:
            if saved is None:
                spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            else:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)

    def test_delete_dv_prior_positions_respect_broadcast_cap(
        self, spark, table, monkeypatch
    ):
        """delete_where_dv anti-joins the DV positions already on its
        candidate files like every MOR read: past DV_BROADCAST_MAX_ROWS no
        execution it starts may broadcast them (auto-broadcast disabled so
        only an explicit hint could). Plans come from the SQL status store,
        i.e. what actually ran."""
        txlog.delete_where_dv(spark, table, "k = 3")  # every file gets a DV
        monkeypatch.setattr(txlog, "DV_BROADCAST_MAX_ROWS", 0)
        saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plans = _executed_plans(
                spark, lambda: txlog.delete_where_dv(spark, table, "k = 5")
            )
        finally:
            if saved is None:
                spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            else:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        assert any("LeftAnti" in p for p in plans), "no prior-DV anti-join ran"
        assert not [p for p in plans if "BroadcastHashJoin" in p]
        assert txlog.read_mor(spark, table).count() == 100 - 2 * 14

    def test_dv_metrics_surfaces_strategy(self, spark, table):
        assert (
            txlog.dv_metrics(spark, table).collect()[0].mor_join_strategy == "none"
        )
        txlog.delete_where_dv(spark, table, "k = 3")
        m = txlog.dv_metrics(spark, table).collect()[0]
        assert m.mor_join_strategy == "broadcast"
        assert m.n_dv_rows == 14

    @pytest.mark.parametrize(
        "op",
        [
            "delete_where_dv",
            "update_where_dv",
            "merge_into",
            "delete_where",
            "update_where",
            "overwrite_where",
            "merge_into_cow",
            "merge_into_identity",
            "overwrite",
            "optimize",
            "optimize_zorder",
            "reorg_purge",
        ],
    )
    def test_delete_dv_conflict_sweeps_sidecar(self, spark, table, monkeypatch, op):
        """A mutation — DV or copy-on-write — or a maintenance rewrite
        losing the commit race to an UNRESOLVABLE concurrent commit (a
        snapshot-level op — a disjoint append would now auto-resolve)
        must remove every group it pre-landed — DV sidecar, data files,
        change record, an identity insert's last attempt — no lingering
        orphan until vacuum, and the snapshot reads as before."""
        import glob as _glob

        def merge(use_dvs):
            return lambda: txlog.merge_into(
                spark,
                table,
                spark.createDataFrame([(3, 42), (1000, 1)], "id long, k long"),
                keys=["id"],
                when_matched=[("update", "*")],
                use_dvs=use_dvs,
            )

        if op == "merge_into_identity":
            # identity columns are declared on an empty table
            table = os.path.join(os.path.dirname(table), "ident_tbl")
            txlog.add_identity_column(table, "sk")
            txlog.append(
                spark.range(100).select(F.col("id"), (F.col("id") % 7).alias("k")),
                table,
            )
        if op == "reorg_purge":
            txlog.delete_where_dv(spark, table, "k = 3")  # a file to purge
        mutate = {
            "delete_where_dv": lambda: txlog.delete_where_dv(spark, table, "k = 3"),
            "update_where_dv": lambda: txlog.update_where_dv(
                spark, table, "k = 3", {"k": F.lit(42)}
            ),
            "merge_into": merge(True),
            "delete_where": lambda: txlog.delete_where(spark, table, "k = 3"),
            "update_where": lambda: txlog.update_where(
                spark, table, "k = 3", {"k": F.lit(42)}
            ),
            "overwrite_where": lambda: txlog.overwrite_where(
                spark,
                table,
                spark.createDataFrame([(1000, 3)], "id long, k long"),
                "k = 3",
            ),
            "merge_into_cow": merge(False),
            "merge_into_identity": lambda: txlog.merge_into(
                spark,
                table,
                spark.createDataFrame([(1000, 1)], "id long, k long"),
                keys=["id"],
                when_matched=None,
            ),
            "overwrite": lambda: txlog.overwrite(
                spark.createDataFrame([(1000, 3)], "id long, k long"), table
            ),
            "optimize": lambda: txlog.optimize(spark, table),
            "optimize_zorder": lambda: txlog.optimize_zorder(
                spark, table, ["id"], n_files=2
            ),
            "reorg_purge": lambda: txlog.reorg_purge(spark, table),
        }[op]

        def landed():  # every file outside the log
            return sorted(
                os.path.join(root, f)
                for root, _, files in os.walk(table)
                if not os.path.relpath(root, table).startswith("_txlog")
                for f in files
            )

        before_files = landed()
        before_dvs = _glob.glob(os.path.join(table, "_dv", "*"))
        before_rows = sorted(map(tuple, txlog.read_mor(spark, table).collect()))
        real_try = txlog._try_commit

        def stealing_try(path, version, *a, **kw):
            if getattr(stealing_try, "armed", True):
                stealing_try.armed = False
                real_try(path, version, [], [], meta={"op": "optimize"})
            return real_try(path, version, *a, **kw)

        stealing_try.armed = True
        monkeypatch.setattr(txlog, "_try_commit", stealing_try)
        with pytest.raises(txlog.CommitConflict):
            mutate()
        monkeypatch.undo()
        assert _glob.glob(os.path.join(table, "_dv", "*")) == before_dvs, "orphan sidecar"
        assert landed() == before_files, "orphan data or change-file group"
        after_rows = sorted(map(tuple, txlog.read_mor(spark, table).collect()))
        assert after_rows == before_rows

    @pytest.mark.parametrize("race", ["mapping_drift", "identity_watermark"])
    def test_append_conflict_sweeps_group(self, spark, table, monkeypatch, race):
        """An append whose landed files a racing commit made invalid — a
        rename that drifts its column mapping, an identity append that
        moves the watermark its values were assigned from — raises
        CommitConflict and sweeps the data group it landed."""
        if race == "identity_watermark":
            table = os.path.join(os.path.dirname(table), "ident_tbl")
            txlog.add_identity_column(table, "sk")
            txlog.append(
                spark.range(100).select(F.col("id"), (F.col("id") % 7).alias("k")),
                table,
            )
        racer = {
            "mapping_drift": lambda: txlog.rename_column(table, "k", "bucket"),
            "identity_watermark": lambda: txlog.append(
                spark.createDataFrame([(1000, 1)], "id long, k long"), table
            ),
        }[race]
        real = txlog._validate_append_schema
        calls = {"n": 0}

        def hook(logged, df, merge_schema, **kw):
            calls["n"] += 1
            if calls["n"] == 2:  # first in-loop call: the group has landed
                racer()
            return real(logged, df, merge_schema, **kw)

        monkeypatch.setattr(txlog, "_validate_append_schema", hook)
        with pytest.raises(txlog.CommitConflict, match="race"):
            txlog.append(
                spark.createDataFrame([(2000, 2)], "id long, k long"),
                table,
                merge_schema=True,
            )
        monkeypatch.undo()
        assert not _orphans(table)


_DV_EDITS = {
    # name → (DV edit, its copy-on-write twin, partition_by)
    "delete": (
        lambda spark, t: txlog.delete_where_dv(spark, t, "id IN (5, 6, 13)"),
        lambda spark, t: txlog.delete_where(spark, t, "id IN (5, 6, 13)"),
        None,
    ),
    "update": (
        lambda spark, t: txlog.update_where_dv(
            spark, t, "id IN (5, 6, 13)", {"v": F.col("v") + 100}
        ),
        lambda spark, t: txlog.update_where(
            spark, t, "id IN (5, 6, 13)", {"v": F.col("v") + 100}
        ),
        None,
    ),
    "merge": (
        lambda spark, t: _live_merge(spark, t, use_dvs=True),
        lambda spark, t: _live_merge(spark, t, use_dvs=False),
        None,
    ),
    "partitioned_delete": (
        lambda spark, t: txlog.delete_where_dv(spark, t, "id IN (5, 6, 13)"),
        lambda spark, t: txlog.delete_where(spark, t, "id IN (5, 6, 13)"),
        ["k"],
    ),
}


def _live_merge(spark, t, use_dvs):
    src = spark.createDataFrame(
        [(6, 2, 106.0, 6), (13, 1, 113.0, 13), (100, 0, 100.0, 100)],
        "id long, k long, v double, n long",
    )
    return txlog.merge_into(
        spark, t, src, ["id"], when_matched=[("update", "*")], use_dvs=use_dvs
    )


_LIVE_READERS = {
    "read": lambda spark, t, v: txlog.read(spark, t),
    "read_version": lambda spark, t, v: txlog.read(spark, t, version=v),
    "read_at_timestamp": lambda spark, t, v: txlog.read_at_timestamp(
        spark, t, txlog._commit_ts(t, v)
    ),
    "read_pruned": lambda spark, t, v: txlog.read_pruned(spark, t, "id", 0, 20),
    "read_pruned_multi": lambda spark, t, v: txlog.read_pruned_multi(
        spark, t, {"id": (0, 20), "n": (0, 30)}
    ),
    "read_point": lambda spark, t, v: txlog.read_point(spark, t, "id", 6),
    "read_pruned_nulls": lambda spark, t, v: txlog.read_pruned_nulls(
        spark, t, "n", is_null=False
    ),
    "format": lambda spark, t, v: spark.read.format("txlog").option("path", t).load(),
}


class TestLiveRowReaders:
    """Every txlog reader shows live rows only: on a table a deletion
    vector edited, each returns what it returns on the same table edited
    copy-on-write, where no deletion vector exists."""

    @pytest.fixture(scope="class")
    def tables(self, spark, tmp_path_factory):
        from datalake_brief_spark.streaming.source import register_txlog_source

        register_txlog_source(spark)
        base = spark.range(40).select(
            "id",
            (F.col("id") % 3).alias("k"),
            F.col("id").cast("double").alias("v"),
            F.when(F.col("id") % 5 != 0, F.col("id")).alias("n"),
        ).repartitionByRange(4, "id")
        out = {}
        for name, (dv_edit, cow_edit, part) in _DV_EDITS.items():
            pair = []
            for edit in (dv_edit, cow_edit):
                t = str(tmp_path_factory.mktemp(f"live_{name}") / "t")
                txlog.append(
                    base, t, stats_cols=["id", "n"], bloom_cols=["id"],
                    partition_by=part,
                )
                pair.append((t, edit(spark, t)))
            assert txlog.visible_dvs(pair[0][0]) and not txlog.visible_dvs(pair[1][0])
            out[name] = pair
        return out

    @pytest.mark.parametrize("table", list(_DV_EDITS))
    @pytest.mark.parametrize("reader", list(_LIVE_READERS))
    def test_reader_equals_cow_twin(self, spark, tables, table, reader):
        (dv, dv_v), (cow, cow_v) = tables[table]
        rows = [
            sorted(map(tuple, _LIVE_READERS[reader](spark, t, v).collect()), key=repr)
            for t, v in ((dv, dv_v), (cow, cow_v))
        ]
        assert rows[0] == rows[1]

    @pytest.mark.parametrize("table", list(_DV_EDITS))
    def test_pruned_read_of_dv_free_files_plans_no_join(self, spark, tables, table):
        (dv, dv_v), _ = tables[table]
        scanned = txlog._prune_candidates(dv, dv_v, {"id": (30, 39)})
        assert scanned and not {os.path.relpath(f, dv) for f in scanned} & set(
            txlog.visible_dvs(dv)
        )
        df = txlog.read_pruned(spark, dv, "id", 30, 39)
        assert "Join" not in df._jdf.queryExecution().optimizedPlan().toString()
        assert sorted(r.id for r in df.collect()) == list(range(30, 40))

    def test_counts_skip_dv_deleted_rows(self, spark, tmp_path):
        t = str(tmp_path / "dv_count")
        txlog.append(spark.range(1, 7).coalesce(1), t)
        txlog.delete_where_dv(spark, t, "id = 2")
        assert txlog.fast_count(t) == txlog.describe_detail(t)["num_rows"] == 5
        assert txlog.fast_count(t, version=1) == 6

    def test_dv_metrics_count_visible_files_only(self, spark, tmp_path):
        """Two files share one sidecar group; a copy-on-write rewrite of
        one of them leaves the group in the log, but only the surviving
        file's positions still delete anything."""
        t = str(tmp_path / "dv_metrics_cow")
        txlog.append(spark.range(100).repartitionByRange(2, "id"), t)
        txlog.delete_where_dv(spark, t, "id % 10 = 5")
        txlog.delete_where(spark, t, "id = 0")
        m = txlog.dv_metrics(spark, t).first()
        assert (m.n_files_with_dv, m.n_dv_rows, m.max_file_dv_rows) == (1, 5, 5)
        assert txlog.fast_count(t) == txlog.read(spark, t).count() == 89


class TestColumnMapping:
    """RENAME/DROP COLUMN as metadata-only commits (Delta column-mapping
    name mode): no data file rewritten, physical names immutable and
    reserved forever, logical view resolved per version."""

    @pytest.fixture()
    def table(self, spark, tmp_path):
        t = str(tmp_path / "cm_tbl")
        df = spark.range(100).select(
            F.col("id"),
            (F.col("id") % 7).alias("k"),
            (F.col("id") * 2.0).alias("v"),
        )
        txlog.append(df.repartition(3), t, stats_cols=["k"])
        return t

    def test_rename_is_metadata_only_and_time_travels(self, spark, table):
        before = txlog.visible_files(table)
        v = txlog.rename_column(table, "k", "bucket")
        assert txlog.visible_files(table) == before, "rename must move no files"
        got = txlog.read(spark, table)
        assert "bucket" in got.columns and "k" not in got.columns
        assert got.filter("bucket = 3").count() == 14
        old = txlog.read(spark, table, version=v - 1)
        assert "k" in old.columns and "bucket" not in old.columns

    def test_rename_guards(self, spark, table):
        with pytest.raises(ValueError, match="no column"):
            txlog.rename_column(table, "nope", "x")
        with pytest.raises(ValueError, match="already exists"):
            txlog.rename_column(table, "k", "v")
        txlog.add_constraint(spark, table, "k_pos", "k >= 0")
        with pytest.raises(ValueError, match="CHECK constraint"):
            txlog.rename_column(table, "k", "bucket")
        txlog.drop_constraint(table, "k_pos")
        txlog.rename_column(table, "k", "bucket")
        # "k" stays reserved (old files carry it): renaming v onto it would
        # resurrect the old bytes under the new name
        with pytest.raises(ValueError, match="reserved physical"):
            txlog.rename_column(table, "v", "k")
        # renaming BACK to the column's own original physical name is legal
        txlog.rename_column(table, "bucket", "k")
        assert txlog.read(spark, table).filter("k = 3").count() == 14
        assert not txlog._column_mapping(table)  # noqa: SLF001 (identity again)

    def test_drop_is_metadata_only_lazy_purged_on_rewrite(self, spark, table):
        import pyarrow.parquet as pq

        before = set(txlog.visible_files(table))
        txlog.drop_column(table, "v")
        assert set(txlog.visible_files(table)) == before
        got = txlog.read(spark, table)
        assert "v" not in got.columns and got.count() == 100
        # physical bytes still in the old files
        assert "v" in {c for f in before for c in pq.ParquetFile(f).schema_arrow.names}
        # any rewrite purges them (REORG PURGE effect)
        txlog.optimize(spark, table, target_file_bytes=1 << 30)
        live = txlog.visible_files(table)
        assert before.isdisjoint(live)
        assert "v" not in {
            c for f in live for c in pq.ParquetFile(f).schema_arrow.names
        }
        with pytest.raises(ValueError, match="no column"):
            txlog.drop_column(table, "v")

    def test_drop_guards(self, spark, tmp_path):
        t = str(tmp_path / "cm_one")
        txlog.append(spark.range(5), t)
        with pytest.raises(ValueError, match="last column"):
            txlog.drop_column(t, "id")

    def test_append_after_rename_lands_logical_names(self, spark, table):
        txlog.rename_column(table, "k", "bucket")
        more = spark.range(100, 120).select(
            F.col("id"), (F.col("id") % 7).alias("bucket"), (F.col("id") * 2.0).alias("v")
        )
        txlog.append(more, table)
        got = txlog.read(spark, table, merge_schema=True)
        assert got.count() == 120
        assert got.filter("bucket = 0").count() == got.filter("id % 7 = 0").count()

    def test_recycled_name_gets_fresh_physical(self, spark, table):
        """rename k->bucket, then additively append a NEW column named k:
        the new logical k must NOT read the old physical k bytes."""
        txlog.rename_column(table, "k", "bucket")
        more = spark.range(100, 110).select(
            F.col("id"),
            (F.col("id") % 7).alias("bucket"),
            (F.col("id") * 2.0).alias("v"),
            F.lit(999).alias("k"),
        )
        txlog.append(more, table, merge_schema=True)
        got = txlog.read(spark, table, merge_schema=True)
        # old rows: new k is NULL (never the resurrected old bytes);
        # bucket still reads the original physical k data
        assert got.filter("id < 100 AND k IS NOT NULL").count() == 0
        assert got.filter("id < 100 AND bucket = 3").count() == 14
        assert got.filter("k = 999").count() == 10

    def test_append_fails_on_concurrent_mapping_change(
        self, spark, table, monkeypatch
    ):
        """ADVICE r8 (medium): append resolves column_mapping BEFORE the
        commit retry loop; a rename_column landing between file-landing
        and commit used to let the stale mapping commit as the newest
        meta (silently undoing the rename) or resurrect reserved
        physical bytes under a re-introduced logical name. The retry
        loop must detect metadata drift and fail the transaction."""
        real = txlog._validate_append_schema
        calls = {"n": 0}

        def hook(path, df, merge_schema, **kw):
            calls["n"] += 1
            if calls["n"] == 2:  # first IN-LOOP call: files already landed
                txlog.rename_column(table, "v", "w")
            return real(path, df, merge_schema, **kw)

        monkeypatch.setattr(txlog, "_validate_append_schema", hook)
        more = spark.range(100, 110).select(
            F.col("id"), (F.col("id") % 7).alias("k"), (F.col("id") * 2.0).alias("v")
        )
        with pytest.raises(txlog.CommitConflict, match="metadata race"):
            txlog.append(more, table, merge_schema=True)
        # the rename survives untouched and no phantom data committed
        got = txlog.read(spark, table)
        assert "w" in got.columns and "v" not in got.columns
        assert got.count() == 100

    def test_mutations_on_renamed_column(self, spark, table):
        txlog.rename_column(table, "k", "bucket")
        txlog.delete_where(spark, table, "bucket = 3")
        assert txlog.read(spark, table).count() == 86
        txlog.update_where(
            spark, table, "bucket = 5", {"v": F.lit(-1.0)}
        )
        got = txlog.read(spark, table)
        assert got.filter("v = -1.0").count() == got.filter("bucket = 5").count()
        v = txlog.update_where_dv(spark, table, "bucket = 1", {"v": F.lit(-2.0)})
        mor = txlog.read_mor(spark, table)
        assert mor.count() == 86
        assert mor.filter("v = -2.0").count() == mor.filter("bucket = 1").count()
        txlog.delete_where_dv(spark, table, "bucket = 2")
        assert txlog.read_mor(spark, table).filter("bucket = 2").count() == 0

    def test_pruned_reads_translate_to_physical_stats(self, spark, table):
        """Stats recorded under the physical name keep skipping after a
        rename — the logical prune column translates."""
        txlog.rename_column(table, "k", "bucket")
        pruned = txlog.read_pruned(spark, table, "bucket", 100, 200)
        assert pruned.count() == 0
        assert len(pruned.inputFiles()) == 0, "stats skip must survive rename"
        hit = txlog.read_pruned(spark, table, "bucket", 3, 3)
        assert hit.count() == 14

    def test_merge_and_replace_where_on_mapped_table(self, spark, table):
        txlog.rename_column(table, "k", "bucket")
        updates = spark.createDataFrame(
            [(1, 99, 0.0)], "id long, bucket long, v double"
        )
        txlog.merge(spark, table, updates, keys=["id"], order_col="bucket")
        got = txlog.read(spark, table)
        assert got.filter("id = 1 AND bucket = 99").count() == 1
        assert got.count() == 100
        repl = spark.createDataFrame([(500, 99, 1.0)], "id long, bucket long, v double")
        txlog.overwrite_where(spark, table, repl, "bucket = 99")
        got = txlog.read(spark, table)
        assert got.filter("bucket = 99").count() == 1
        assert got.filter("id = 500").count() == 1

    def test_cdf_across_rename_renders_at_to_version_schema(self, spark, table):
        """VERDICT r8 ask #8: batch CDF across a rename boundary no longer
        refuses — the whole feed renders in the TO-version's logical
        schema (physical names are immutable, so pre-rename rows carry
        the NEW name over the same bytes)."""
        v1 = txlog.current_version(table)
        v2 = txlog.rename_column(table, "k", "bucket")
        txlog.delete_where(spark, table, "bucket = 3")
        cdf = txlog.table_changes(spark, table, v2)
        assert cdf.filter("_change_type = 'delete'").count() == 14
        assert "bucket" in cdf.columns
        # across the boundary: the pre-rename appends emit as inserts
        # under the post-rename logical name, values intact
        full = txlog.table_changes(spark, table, v1 - 1 if v1 > 1 else 0)
        assert "bucket" in full.columns and "k" not in full.columns
        ins = full.filter("_change_type = 'insert' AND bucket = 3")
        assert ins.count() >= 14  # the pre-rename rows, renamed in the feed
        assert full.filter("_change_type = 'delete' AND bucket = 3").count() == 14

    def test_read_after_drop_and_recycle_has_one_column_no_resurrection(
        self, spark, tmp_path
    ):
        """Regression (round 9): a RETIRED physical name identity-mapped
        back into the logical view after DROP + merge-schema re-add —
        read() returned TWO `v` columns, one carrying the dropped bytes.
        The logical view must emit a physical column only when it is the
        CURRENT physical name of its logical column."""
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "old", 1)]), path)
        txlog.drop_column(path, "v")
        txlog.append(
            spark.createDataFrame([(2, "new", 1)], "id long, v string, version int"),
            path,
            merge_schema=True,
        )
        got = txlog.read(spark, path, merge_schema=True)
        assert got.columns.count("v") == 1, got.columns
        rows = {(r.id, r.v) for r in got.collect()}
        assert rows == {(1, None), (2, "new")}, rows

    def test_cdf_across_drop_and_recycle_never_resurrects(self, spark, tmp_path):
        """Across a DROP + same-name re-add window the feed renders at
        to_v: pre-drop rows read NULL in the recycled column (the fresh
        physical name never matches the retired one)."""
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "old", 1)]), path)  # v1
        txlog.drop_column(path, "v")  # v2
        txlog.append(  # v3: recycled logical name, fresh physical column
            spark.createDataFrame([(2, "new", 1)], "id long, v string, version int"),
            path,
            merge_schema=True,
        )
        rows = {
            (r.id, r.v, r._change_type, r._commit_version)
            for r in txlog.table_changes(spark, path, 0).collect()
        }
        assert rows == {
            (1, None, "insert", 1),  # pre-drop bytes never resurrect
            (2, "new", "insert", 3),
        }, rows

    def test_clone_and_restore_preserve_mapping(self, spark, table, tmp_path):
        v_pre = txlog.current_version(table)
        txlog.rename_column(table, "k", "bucket")
        dst = str(tmp_path / "cm_clone")
        txlog.clone(table, dst)
        assert "bucket" in txlog.read(spark, dst).columns
        assert txlog.read(spark, dst).filter("bucket = 3").count() == 14
        # restore below the rename reverts the logical schema with the data
        txlog.restore(table, v_pre)
        got = txlog.read(spark, table)
        assert "k" in got.columns and "bucket" not in got.columns
        assert got.filter("k = 3").count() == 14

    def test_overwrite_resets_mapping(self, spark, table):
        txlog.rename_column(table, "k", "bucket")
        fresh = spark.range(10).select(F.col("id"), F.lit(1).alias("bucket"))
        txlog.overwrite(fresh, table)
        assert not txlog._column_mapping(table)  # noqa: SLF001
        assert txlog.read(spark, table).count() == 10
        # the retired physical name stays reserved across the reset
        with pytest.raises(ValueError, match="reserved physical"):
            txlog.rename_column(table, "id", "k")

    def test_describe_detail_and_streaming_guard(self, spark, table):
        txlog.rename_column(table, "k", "bucket")
        d = txlog.describe_detail(table)
        assert d["column_mapping"] == {"bucket": "k"}
        assert "bucket" in d["schema"] and "k" not in d["schema"]
        from datalake_brief_spark.streaming.source import _table_ddl

        with pytest.raises(ValueError, match="column mapping"):
            _table_ddl(table)

    @pytest.mark.parametrize(
        "op",
        [
            "optimize",
            "optimize_zorder",
            "delete_where",
            "update_where",
            "update_where_dv",
            "merge_into_cow",
        ],
    )
    def test_rewrite_after_dropping_bloom_column(self, spark, tmp_path, op):
        """A rewrite lands the logical view, so a dropped column's bytes
        are gone from its new files: it must recollect the stats and
        blooms of live columns only, not fail on the dropped one."""
        t = str(tmp_path / "drop_bloom")
        df = spark.range(60).select(
            F.col("id"), (F.col("id") % 7).alias("k"), (F.col("id") * 10).alias("b")
        )
        txlog.append(df.repartition(3), t, stats_cols=["id", "b"], bloom_cols=["b"])
        v0 = txlog.drop_column(t, "b")
        rows = {i: i % 7 for i in range(60)}
        set42 = {"k": F.lit(42)}
        run, want = {
            "optimize": (lambda: txlog.optimize(spark, t), rows),
            "optimize_zorder": (
                lambda: txlog.optimize_zorder(spark, t, ["id"], n_files=2),
                rows,
            ),
            "delete_where": (
                lambda: txlog.delete_where(spark, t, "k = 3"),
                {i: k for i, k in rows.items() if k != 3},
            ),
            "update_where": (
                lambda: txlog.update_where(spark, t, "k = 3", set42),
                {i: 42 if k == 3 else k for i, k in rows.items()},
            ),
            "update_where_dv": (
                lambda: txlog.update_where_dv(spark, t, "k = 3", set42),
                {i: 42 if k == 3 else k for i, k in rows.items()},
            ),
            "merge_into_cow": (
                lambda: txlog.merge_into(
                    spark,
                    t,
                    spark.createDataFrame([(3, 42)], "id long, k long"),
                    keys=["id"],
                    when_matched=[("update", "*")],
                ),
                {**rows, 3: 42},
            ),
        }[op]
        v = run()
        assert v == v0 + 1
        assert {r.id: r.k for r in txlog.read_mor(spark, t).collect()} == want
        c = txlog._load_commit(t, v)  # noqa: SLF001
        assert c["adds"]
        for rel in c["adds"]:
            assert "id" in c["stats"][rel], "live stats must be recollected"
            assert "b" not in c["stats"][rel]
            assert "b" not in c.get("blooms", {}).get(rel, {})


class TestReorgPurge:
    """REORG ... APPLY (PURGE): rewrite exactly the partially-dead files
    (DV-carrying or retired-column-carrying); fully-live files untouched."""

    @pytest.fixture()
    def table(self, spark, tmp_path):
        t = str(tmp_path / "reorg_tbl")
        df = spark.range(100).select(
            F.col("id"), (F.col("id") % 7).alias("k"), (F.col("id") * 2.0).alias("v")
        )
        txlog.append(df.repartition(4), t)
        return t

    def test_purges_only_dv_carrying_files(self, spark, table):
        # delete rows that live only in SOME files (id < 25 spans a subset
        # of the 4 hash partitions? hash-partitioned — use a per-file key).
        txlog.delete_where_dv(spark, table, "id < 10")
        before = set(txlog.visible_files(table))
        carrying = {
            os.path.basename(p)
            for p in txlog.visible_dvs(table)
        }
        v = txlog.reorg_purge(spark, table)
        assert v == 3
        after = set(txlog.visible_files(table))
        untouched = {p for p in before if os.path.basename(os.path.relpath(p, table)) not in carrying}
        # files that carried no DV survive byte-identical
        kept = before & after
        assert all(os.path.relpath(p, table) not in carrying for p in kept)
        assert not txlog.visible_dvs(table), "purge must clear all DVs"
        got = txlog.read(spark, table)  # PLAIN read is exact post-purge
        assert got.count() == 90
        assert got.filter("id < 10").count() == 0
        assert txlog.reorg_purge(spark, table) == v, "no-op when fully live"

    def test_purges_retired_column_bytes(self, spark, table):
        import pyarrow.parquet as pq

        txlog.drop_column(table, "v")
        v = txlog.reorg_purge(spark, table)
        assert v == 3
        live = txlog.visible_files(table)
        assert all(
            "v" not in pq.ParquetFile(p).schema_arrow.names for p in live
        )
        assert txlog.read(spark, table).count() == 100

    def test_advisor_reorg_channel(self, spark, table):
        adv = txlog.needs_optimize(table)
        assert adv["n_dv_rows"] == 0 and adv["mor_join_strategy"] == "none"
        assert adv["reorg_recommended"] is False
        txlog.delete_where_dv(spark, table, "k = 3")
        adv = txlog.needs_optimize(table)
        assert adv["n_dv_rows"] == 14 and adv["mor_join_strategy"] == "broadcast"
        # force the shuffle-regime threshold down: monkeypatching the module
        # constant is the documented knob for tests
        saved = txlog.DV_BROADCAST_MAX_ROWS
        txlog.DV_BROADCAST_MAX_ROWS = 5
        try:
            adv = txlog.needs_optimize(table)
            assert adv["mor_join_strategy"] == "shuffle"
            assert adv["reorg_recommended"] is True
        finally:
            txlog.DV_BROADCAST_MAX_ROWS = saved
        txlog.reorg_purge(spark, table)
        adv = txlog.needs_optimize(table)
        assert adv["n_dv_rows"] == 0 and adv["reorg_recommended"] is False


class TestProtocolFeatures:
    """Delta-style reader-feature gating: tables depending on DVs or
    column mapping declare it; a reader that lacks a declared feature
    refuses with the feature named instead of silently mis-reading."""

    def test_dv_and_mapping_declare_features(self, spark, tmp_path):
        t = str(tmp_path / "proto")
        txlog.append(
            spark.range(10).selectExpr("id", "id % 3 AS k"), t
        )
        assert txlog.table_protocol(t) == {}
        txlog.delete_where_dv(spark, t, "k = 1")
        assert txlog.table_protocol(t)["reader_features"] == ["deletion-vectors"]
        txlog.rename_column(t, "k", "bucket")
        assert txlog.table_protocol(t)["reader_features"] == [
            "column-mapping",
            "deletion-vectors",
        ]
        # declaration is idempotent: a second DV delete adds no new protocol
        v = txlog.delete_where_dv(spark, t, "bucket = 2")
        import json as _json

        with open(txlog._commit_path(t, v)) as f:  # noqa: SLF001
            assert "protocol" not in _json.load(f).get("meta", {})
        # version-resolved: below the first declaration nothing is required
        assert txlog.table_protocol(t, version=1) == {}

    def test_add_column_declares_mapping_and_defaults_together(
        self, spark, tmp_path
    ):
        """Re-adding a dropped (still reserved) name with a default, after
        column-mapping was dropped, declares BOTH reader features in its
        one commit: the generated physical name and the backfill each
        need one."""
        t = str(tmp_path / "proto")
        txlog.append(spark.range(10).selectExpr("id", "id % 3 AS k"), t)
        txlog.drop_column(t, "k")
        txlog.reorg_purge(spark, t)
        txlog.drop_feature(t, "column-mapping")
        txlog.add_column(spark, t, "k", "int", default="5")
        assert txlog.table_protocol(t)["reader_features"] == [
            "column-defaults",
            "column-mapping",
        ]
        assert txlog.read(spark, t).filter("k = 5").count() == 10

    def test_unknown_feature_refuses_reads_with_name(self, spark, tmp_path):
        t = str(tmp_path / "proto2")
        txlog.append(spark.range(10).selectExpr("id", "id % 3 AS k"), t)
        txlog._try_commit(  # noqa: SLF001 (forge a future-feature table)
            t,
            2,
            [],
            [],
            meta={"op": "upgrade", "protocol": {"reader_features": ["v9-widgets"]}},
        )
        for fn in (
            lambda: txlog.read(spark, t),
            lambda: txlog.read_mor(spark, t),
            lambda: txlog.fast_count(t),
            lambda: txlog.read_pruned(spark, t, "k", 0, 1),
            lambda: txlog.read_point(spark, t, "k", 1),
            lambda: txlog.table_changes(spark, t, 1),
        ):
            with pytest.raises(ValueError, match="v9-widgets"):
                fn()
        # time travel BELOW the upgrade still reads fine
        assert txlog.read(spark, t, version=1).count() == 10

    def test_clone_carries_protocol(self, spark, tmp_path):
        src = str(tmp_path / "proto_src")
        dst = str(tmp_path / "proto_dst")
        txlog.append(spark.range(10).selectExpr("id", "id % 3 AS k"), src)
        txlog.delete_where_dv(spark, src, "k = 1")
        txlog.clone(src, dst)
        assert txlog.table_protocol(dst)["reader_features"] == ["deletion-vectors"]
        d = txlog.describe_detail(dst)
        assert d["protocol"]["reader_features"] == ["deletion-vectors"]


class TestPartitionedAppend:
    """Hive-style partitioned appends: __part_<col>=v directory layout
    with the real columns inline, partition values as per-file min==max
    stats — partition pruning IS stats pruning."""

    @pytest.fixture()
    def table(self, spark, tmp_path):
        t = str(tmp_path / "part_tbl")
        df = spark.range(100).select(
            F.col("id"), (F.col("id") % 4).alias("k"), (F.col("id") * 2.0).alias("v")
        )
        txlog.append(df, t, partition_by=["k"])
        return t

    def test_layout_and_full_read(self, spark, table):
        import glob as _glob

        dirs = _glob.glob(os.path.join(table, "data", "*", "__part_k=*"))
        assert len(dirs) == 4, "one directory per partition value"
        got = txlog.read(spark, table)
        assert got.count() == 100
        assert dict(got.dtypes)["k"] == "bigint"  # inline column, exact type
        assert got.filter("k = 2").count() == 25

    def test_partition_pruning_via_stats(self, spark, table):
        pruned = txlog.read_pruned(spark, table, "k", 2, 2)
        assert pruned.count() == 25
        assert len(pruned.inputFiles()) < len(txlog.visible_files(table)), (
            "partition-value stats must skip other partitions' files"
        )
        nothing = txlog.read_pruned(spark, table, "k", 9, 9)
        assert nothing.count() == 0 and len(nothing.inputFiles()) == 0

    def test_mutations_prune_to_matched_partitions(self, spark, table):
        before = set(txlog.visible_files(table))
        txlog.delete_where(spark, table, "k = 1", prune_col="k", lo=1, hi=1)
        after = set(txlog.visible_files(table))
        untouched = before & after
        assert untouched, "other partitions' files must survive byte-identical"
        got = txlog.read(spark, table)
        assert got.count() == 75 and got.filter("k = 1").count() == 0

    @pytest.mark.parametrize("op", ["delete_where", "delete_where_dv", "merge_into"])
    def test_mutation_hits_two_partitions_of_one_task(self, spark, table, op):
        """Ids 5 (k=1) and 6 (k=2) come from one write task, so their files
        share a basename with each other and with k=0/k=3 files: the
        mutation must land on exactly those two rows, with no pruning."""
        names = [os.path.basename(f) for f in txlog.visible_files(table)]
        assert len(set(names)) < len(names), "a task names its partition files alike"
        if op == "delete_where":
            txlog.delete_where(spark, table, "id IN (5, 6)")
        elif op == "delete_where_dv":
            txlog.delete_where_dv(spark, table, "id IN (5, 6)")
        else:
            src = spark.createDataFrame([(5, -1.0), (6, -1.0)], "id long, v double")
            txlog.merge_into(
                spark, table, src, keys=["id"],
                when_matched=[("update", {"v": "s.v"})], when_not_matched=None,
            )
        got = {r.id: r.v for r in txlog.read_mor(spark, table).collect()}
        want = {i: i * 2.0 for i in range(100)}
        if op == "merge_into":
            want.update({5: -1.0, 6: -1.0})
        else:
            del want[5], want[6]
        assert got == want

    def test_position_keys_survive_exotic_partition_values(self, spark, tmp_path):
        """Position tags come from the scan's percent-encoded file URIs;
        _pos_key must encode the log's paths the same way for every
        character a partition directory (or the table path) can hold."""
        t = str(tmp_path / "t x%é+y")
        vals = [
            "a b", "c+d", "e%f", "gé", "h/i", "j:k", "l#m", "n?o", "p[q]", "日 本",
            "ü\u00a0",
        ]
        df = spark.createDataFrame(
            [(i, vals[i % len(vals)]) for i in range(44)], "id long, s string"
        )
        txlog.append(df.repartition(2), t, partition_by=["s"])
        files = txlog.visible_files(t)
        scan = txlog._read_data(spark, t, files, tags=True)
        assert {r["__fn"] for r in scan.select("__fn").distinct().collect()} == {
            txlog._pos_key(f) for f in files
        }
        txlog.delete_where_dv(spark, t, "id % 4 = 0")
        txlog.delete_where(spark, t, "id % 4 = 1")
        got = sorted(r.id for r in txlog.read_mor(spark, t).collect())
        assert got == [i for i in range(44) if i % 4 > 1]

    def test_mixed_partitioned_and_plain_appends_read_together(self, spark, table):
        more = spark.range(100, 120).select(
            F.col("id"), (F.col("id") % 4).alias("k"), (F.col("id") * 2.0).alias("v")
        )
        txlog.append(more, table)  # unpartitioned group in the same snapshot
        got = txlog.read(spark, table)
        assert got.count() == 120
        assert got.filter("k = 0").count() == 30
        # DV delete and MOR read across the mixed layout
        txlog.delete_where_dv(spark, table, "k = 3")
        assert txlog.read_mor(spark, table).filter("k = 3").count() == 0

    def test_partitioned_append_composes_with_column_mapping(self, spark, table):
        txlog.rename_column(table, "k", "bucket")
        more = spark.range(100, 110).select(
            F.col("id"),
            (F.col("id") % 4).alias("bucket"),
            (F.col("id") * 2.0).alias("v"),
        )
        txlog.append(more, table, partition_by=["bucket"])
        import glob as _glob

        # physical layout uses the immutable physical name
        assert _glob.glob(os.path.join(table, "data", "*", "__part_k=*"))
        got = txlog.read(spark, table)
        assert got.count() == 110
        pruned = txlog.read_pruned(spark, table, "bucket", 2, 2)
        assert pruned.count() == 110 // 4  # 25 + 2 (102, 106) = 27? compute below
        assert pruned.count() == got.filter("bucket = 2").count()

    def test_timestamp_partition_pruning_matches_filter(self, spark, tmp_path):
        """ADVICE r8 (high): timestamp partition values recorded as raw
        19-char directory strings mis-compared against the 26-char
        canonicalized probe bound, false-skipping the partition equal to
        the lo bound (read_pruned(ts >= lo) returned [2] where
        read().filter() returns [1, 2])."""
        import datetime as dt

        t = str(tmp_path / "ts_part")
        df = spark.createDataFrame(
            [(1, dt.datetime(2021, 1, 1)), (2, dt.datetime(2021, 6, 1))],
            "id long, ts timestamp",
        )
        txlog.append(df, t, partition_by=["ts"])
        pruned = txlog.read_pruned(spark, t, "ts", dt.datetime(2021, 1, 1), None)
        assert sorted(r.id for r in pruned.collect()) == [1, 2], (
            "pruned read must equal read().filter() — the boundary "
            "partition was silently skipped"
        )
        # pruning still effective: a hi bound below the second partition
        # must skip that partition's file entirely
        only1 = txlog.read_pruned(spark, t, "ts", None, dt.datetime(2021, 2, 1))
        assert sorted(r.id for r in only1.collect()) == [1]
        assert len(only1.inputFiles()) == 1

    def test_legacy_second_precision_stat_strings_unify(self):
        """Commits written before the timestamp-partition fix carry 19-char
        second-precision stat strings; _unify_stat_strs must pad them to
        the 26-char canonical width instead of mixed-width comparing."""
        from datalake_brief_spark.sources.txlog import _unify_stat_strs

        a, b = _unify_stat_strs("2021-01-01 00:00:00", "2021-01-01 00:00:00.000000")
        assert a == b
        a, b = _unify_stat_strs("2021-06-01 00:00:00.000000", "2021-06-01 00:00:00")
        assert a == b

    def test_unknown_partition_column_rejected(self, spark, tmp_path):
        t = str(tmp_path / "part_bad")
        with pytest.raises(ValueError, match="unknown columns"):
            txlog.append(spark.range(5), t, partition_by=["nope"])

    def test_null_and_string_partitions(self, spark, tmp_path):
        t = str(tmp_path / "part_null")
        df = spark.createDataFrame(
            [(1, "us"), (2, None), (3, "de"), (4, "us")], "id long, region string"
        )
        txlog.append(df, t, partition_by=["region"])
        got = txlog.read(spark, t)
        assert got.count() == 4
        assert got.filter("region IS NULL").count() == 1
        pruned = txlog.read_pruned(spark, t, "region", "us", "us")
        # the NULL partition has no range stats -> conservatively kept,
        # the residual filter still makes the result exact
        assert sorted(r.id for r in pruned.collect()) == [1, 4]


class TestOptimizeWhere:
    def test_scoped_compaction_touches_only_matching_partition(self, spark, tmp_path):
        """OPTIMIZE ... WHERE via the stats ladder: many small files per
        partition; the scoped compaction rewrites ONE partition's files
        and leaves every other partition byte-identical."""
        t = str(tmp_path / "optw")
        for i in range(4):  # 4 commits x 2 partitions = small files everywhere
            df = spark.range(i * 10, (i + 1) * 10).select(
                F.col("id"), (F.col("id") % 2).alias("k")
            )
            txlog.append(df, t, partition_by=["k"])
        before = set(txlog.visible_files(t))
        v = txlog.optimize(
            spark, t, target_file_bytes=1 << 30, prune_col="k", lo=1, hi=1
        )
        assert v == 5
        after = set(txlog.visible_files(t))
        untouched = before & after
        # every k=0 file survives; the k=1 files were compacted away
        assert all("__part_k=1" not in p for p in untouched - (after - before))
        assert any("__part_k=0" in p for p in untouched)
        assert not any("__part_k=1" in p for p in after), "k=1 band compacted"
        got = txlog.read(spark, t)
        assert got.count() == 40 and got.filter("k = 1").count() == 20
        # compacted files carry recollected partition-column stats
        pruned = txlog.read_pruned(spark, t, "k", 1, 1)
        assert pruned.count() == 20
        assert len(pruned.inputFiles()) < len(txlog.visible_files(t))


class TestCdcFoldInvariant:
    """THE change-feed invariant: folding the per-commit CDC feed from v0
    (multiset of inserts minus deletes, per full row value) must
    reconstruct EVERY snapshot exactly — across every mutation family
    (CoW delete/update, DV delete/update, merge, replaceWhere, OPTIMIZE,
    restore) and regardless of which resolution rung served each commit
    (stored change record, pure-append fast path, snapshot-diff
    fallback). An incremental consumer is exactly this fold; any
    double-emitted, netted-away, or mis-signed row breaks it."""

    @staticmethod
    def _fold(spark, path, to_v):
        cdf = txlog.table_changes(spark, path, 0, to_v)
        signed = cdf.withColumn(
            "__sign",
            F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
                F.lit(-1)
            ),
        )
        cols = [c for c in cdf.columns if c not in ("_change_type", "_commit_version")]
        return {
            tuple(r[c] for c in cols): r["__n"]
            for r in signed.groupBy(*cols)
            .agg(F.sum("__sign").alias("__n"))
            .filter("__n != 0")
            .collect()
        }

    def test_fold_reconstructs_every_snapshot(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(i, f"v{i}", 1) for i in range(1, 9)]), path)  # v1
        txlog.append(_df(spark, [(9, "v9", 1), (10, "v10", 1)]), path)  # v2
        txlog.delete_where(spark, path, "id = 3")  # v3 (CoW, stored record)
        txlog.update_where(spark, path, "id = 4", {"v": F.lit("V4")})  # v4
        txlog.merge(  # v5: update 5, insert 11
            spark,
            path,
            _df(spark, [(5, "v5b", 2), (11, "v11", 1)]),
            keys=["id"],
            order_col="version",
        )
        txlog.overwrite_where(  # v6: replace the id<=1 band
            spark, path, _df(spark, [(0, "v0", 1)]), "id <= 1"
        )
        txlog.delete_where_dv(spark, path, "id = 6")  # v7 (DV, diff fallback)
        txlog.update_where_dv(spark, path, "id = 7", {"v": F.lit("V7")})  # v8
        v_opt = txlog.optimize(spark, path)  # v9: dataChange=false
        txlog.restore(path, 5, spark=spark)  # v10: stored restore record
        final_v = txlog.current_version(path)
        for v in range(1, final_v + 1):
            want = {}
            rows = txlog.read_mor(spark, path, v, merge_schema=True).collect()
            for r in rows:
                k = tuple(r)
                want[k] = want.get(k, 0) + 1
            got = self._fold(spark, path, v)
            assert got == want, f"fold != snapshot at v{v}"
        assert v_opt == 9 and final_v == 10

    def test_fold_survives_rename_drop_and_recycle(self, spark, tmp_path):
        """The fold invariant holds ACROSS schema-layer commits: with the
        feed rendered at the to-version's logical schema, folding from v0
        over a rename + drop + recycled re-add still reconstructs the
        final snapshot (columns compared by NAME — the feed and the
        snapshot agree on the logical schema, not on field order)."""
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(i, f"v{i}", i) for i in range(1, 6)]), path)
        txlog.rename_column(path, "version", "rev")  # v2
        txlog.delete_where(spark, path, "rev = 3")  # v3 (physical name 'version')
        txlog.drop_column(path, "v")  # v4
        txlog.append(  # v5: recycled 'v' under a fresh physical name
            spark.createDataFrame([(9, "new", 9)], "id long, v string, rev int"),
            path,
            merge_schema=True,
        )
        final_v = txlog.current_version(path)
        snap = txlog.read_mor(spark, path, final_v, merge_schema=True)
        cols = sorted(snap.columns)
        want = {}
        for r in snap.collect():
            k = tuple(r[c] for c in cols)
            want[k] = want.get(k, 0) + 1
        cdf = txlog.table_changes(spark, path, 0, final_v)
        assert sorted(
            c for c in cdf.columns if not c.startswith("_c")
        ) == cols, cdf.columns
        signed = cdf.withColumn(
            "__sign",
            F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(F.lit(-1)),
        )
        got = {
            tuple(r[c] for c in cols): r["__n"]
            for r in signed.groupBy(*cols)
            .agg(F.sum("__sign").alias("__n"))
            .filter("__n != 0")
            .collect()
        }
        assert got == want


class TestConvertAndManifest:
    """Interop pair: convert_to_txlog (in-place import, zero rewrite) and
    generate_symlink_manifest (external-reader export)."""

    def test_convert_imports_in_place_and_table_is_full_citizen(
        self, spark, tmp_path
    ):
        plain = str(tmp_path / "plain")
        src = _df(spark, [(i, f"v{i}", 1) for i in range(1, 9)])
        src.repartition(3).write.parquet(plain)
        before = {
            os.path.join(r, f)
            for r, _, fs in os.walk(plain)
            for f in fs
        }
        v = txlog.convert_to_txlog(spark, plain, stats_cols=["id"])
        assert v == 1
        # zero rewrite: exactly the same data files, plus only the log
        after = {
            os.path.join(r, f)
            for r, _, fs in os.walk(plain)
            for f in fs
            if "_txlog" not in r
        }
        assert {f for f in after if f.endswith(".parquet")} == {
            f for f in before if f.endswith(".parquet")
        }
        got = txlog.read(spark, plain)
        assert sorted(r.id for r in got.collect()) == list(range(1, 9))
        # the imported snapshot is version 1 forever (time travel target)
        txlog.delete_where(spark, plain, "id <= 2")  # v2, CoW
        assert txlog.read(spark, plain).count() == 6
        assert txlog.read(spark, plain, version=1).count() == 8
        # stats recorded at convert actually skip files
        pruned = txlog.read_pruned(spark, plain, "id", lo=1, hi=1)
        assert len(pruned.inputFiles()) <= 1 or pruned.count() == 0
        # CDC works from the import onward
        rows = {
            (r.id, r._change_type)
            for r in txlog.table_changes(spark, plain, 1, 2).collect()
        }
        assert rows == {(1, "delete"), (2, "delete")}
        # schema was logged: a type change refuses like any append
        with pytest.raises(Exception, match="type"):
            txlog.append(
                spark.createDataFrame([(1, 2, 1)], "id long, v int, version int"),
                plain,
            )

    def test_convert_refuses_double_convert_and_hive_layout(self, spark, tmp_path):
        plain = str(tmp_path / "p2")
        _df(spark, [(1, "a", 1)]).write.parquet(plain)
        txlog.convert_to_txlog(spark, plain)
        with pytest.raises(ValueError, match="already has a commit log"):
            txlog.convert_to_txlog(spark, plain)
        hive = str(tmp_path / "hive")
        _df(spark, [(1, "a", 1), (2, "b", 2)]).write.partitionBy(
            "version"
        ).parquet(hive)
        with pytest.raises(ValueError, match="hive-partitioned"):
            txlog.convert_to_txlog(spark, hive)

    def test_vacuum_reclaims_superseded_converted_files(self, spark, tmp_path):
        plain = str(tmp_path / "p3")
        _df(spark, [(i, "x", 1) for i in range(20)]).coalesce(2).write.parquet(plain)
        txlog.convert_to_txlog(spark, plain)
        txlog.optimize(spark, plain, target_file_bytes=1 << 30)  # v2 rewrite
        deleted = txlog.vacuum(plain, retain_versions=1)
        # the imported files live OUTSIDE data/ — the sweep must still
        # reclaim them once superseded
        assert deleted and all(not d.startswith("data/") for d in deleted)
        assert txlog.read(spark, plain).count() == 20

    def test_manifest_exports_exact_snapshot_and_refreshes(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "a", 1), (2, "b", 1)]), path)
        m = txlog.generate_symlink_manifest(path)
        uris = open(m).read().splitlines()
        assert uris and all(u.startswith("file://") for u in uris)
        files = [u[len("file://"):] for u in uris]
        assert sorted(files) == sorted(txlog.visible_files(path))
        # an engine with no txlog connector reads exactly the snapshot
        ext = spark.read.parquet(*files)
        assert sorted((r.id, r.v) for r in ext.collect()) == [(1, "a"), (2, "b")]
        # static export: refresh picks up later commits
        txlog.delete_where(spark, path, "id = 1")
        txlog.generate_symlink_manifest(path)
        files2 = [
            u[len("file://"):] for u in open(m).read().splitlines()
        ]
        assert sorted(files2) == sorted(txlog.visible_files(path))
        assert spark.read.parquet(*files2).count() == 1

    def test_manifest_refuses_live_deletion_vectors(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "a", 1), (2, "b", 1)]), path)
        txlog.delete_where_dv(spark, path, "id = 1")
        with pytest.raises(ValueError, match="deletion vectors"):
            txlog.generate_symlink_manifest(path)
        # purge materializes the DVs; the export then succeeds
        txlog.reorg_purge(spark, path)
        m = txlog.generate_symlink_manifest(path)
        files = [u[len("file://"):] for u in open(m).read().splitlines()]
        assert spark.read.parquet(*files).count() == 1


class TestRowTracking:
    """Stable row IDs (the Delta row-tracking feature, opt-in per table):
    allocation from the logged watermark, preservation across every
    file-scoped rewrite, fresh ranges from restructuring writes, and the
    uniqueness invariant throughout."""

    @staticmethod
    def _ids(spark, path, version=None):
        return {
            r.id: r.row_id
            for r in txlog.read_with_row_ids(spark, path, version).collect()
        }

    def test_enable_backfills_and_appends_allocate(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "a", 1), (2, "b", 1)]), path)
        with pytest.raises(ValueError, match="not enabled"):
            txlog.read_with_row_ids(spark, path)
        txlog.enable_row_tracking(path)
        ids = self._ids(spark, path)
        assert sorted(ids.values()) == [0, 1]  # backfill covers everything
        txlog.append(_df(spark, [(3, "c", 1), (4, "d", 1)]), path)
        ids2 = self._ids(spark, path)
        assert {ids2[1], ids2[2]} == set(ids.values())  # old rows stable
        assert sorted(ids2.values()) == [0, 1, 2, 3]  # fresh range appended
        with pytest.raises(ValueError, match="already enabled"):
            txlog.enable_row_tracking(path)

    def test_cow_delete_and_update_preserve_ids(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(i, f"v{i}", 1) for i in range(1, 6)]), path)
        txlog.enable_row_tracking(path)
        before = self._ids(spark, path)
        txlog.delete_where(spark, path, "id = 2")
        after = self._ids(spark, path)
        assert after == {k: v for k, v in before.items() if k != 2}
        txlog.update_where(spark, path, "id = 4", {"v": F.lit("X")})
        after2 = self._ids(spark, path)
        assert after2 == after  # an UPDATE keeps the row's identity
        got = {
            r.id: r.v for r in txlog.read_with_row_ids(spark, path).collect()
        }
        assert got[4] == "X"

    def test_dv_delete_and_update_preserve_ids(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(i, f"v{i}", 1) for i in range(1, 6)]), path)
        txlog.enable_row_tracking(path)
        before = self._ids(spark, path)
        txlog.delete_where_dv(spark, path, "id = 2")
        assert self._ids(spark, path) == {
            k: v for k, v in before.items() if k != 2
        }
        txlog.update_where_dv(spark, path, "id = 4", {"v": F.lit("Y")})
        after = self._ids(spark, path)
        assert after == {k: v for k, v in before.items() if k != 2}
        rows = {
            r.id: (r.v, r.row_id)
            for r in txlog.read_with_row_ids(spark, path).collect()
        }
        assert rows[4] == ("Y", before[4])

    def test_optimize_and_zorder_preserve_ids(self, spark, tmp_path):
        path = str(tmp_path / "t")
        for i in range(4):
            txlog.append(_df(spark, [(i, f"v{i}", 1)]), path)
        txlog.enable_row_tracking(path)
        before = self._ids(spark, path)
        txlog.optimize(spark, path, target_file_bytes=1 << 30)
        assert self._ids(spark, path) == before
        txlog.optimize_zorder(spark, path, ["id"], n_files=2)
        assert self._ids(spark, path) == before

    def test_merge_preserves_matched_ids_overwrite_rekeys(self, spark, tmp_path):
        """The clause-based merge preserves row lineage: updated AND
        pass-through rows of rewritten files keep their stable ids
        (materialized by _read_files_with_dvs), only the not-matched
        INSERT file group allocates fresh ranges. OVERWRITE remains a
        snapshot-restructuring re-key."""
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "a", 1), (2, "b", 1)]), path)
        txlog.enable_row_tracking(path)
        before = self._ids(spark, path)
        wm_before = txlog._row_id_watermark(path)  # noqa: SLF001
        txlog.merge(
            spark, path, _df(spark, [(2, "b2", 2), (3, "c", 1)]),
            keys=["id"], order_col="version",
        )
        ids = self._ids(spark, path)
        assert len(set(ids.values())) == 3
        assert ids[1] == before[1]  # pass-through row: id stable
        assert ids[2] == before[2]  # UPDATED row: id stable across merge
        assert ids[3] >= wm_before  # insert: fresh, never recycled
        assert ids[3] not in before.values()
        txlog.overwrite(_df(spark, [(9, "z", 1)]), path)
        ids2 = self._ids(spark, path)
        assert list(ids2) == [9] and min(ids2.values()) > max(ids.values())

    def test_replace_where_fresh_inserts_survivors_stable(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(i, "x", 1) for i in range(1, 6)]), path)
        txlog.enable_row_tracking(path)
        before = self._ids(spark, path)
        txlog.overwrite_where(
            spark, path, _df(spark, [(0, "new", 1)]), "id <= 2"
        )
        after = self._ids(spark, path)
        # survivors of the rewritten files keep their ids exactly
        for k in (3, 4, 5):
            assert after[k] == before[k]
        # the replacement row got a FRESH id (never a recycled one)
        assert after[0] not in before.values()

    def test_restore_and_clone_carry_ids(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "a", 1), (2, "b", 1)]), path)
        txlog.enable_row_tracking(path)
        v2 = txlog.current_version(path)
        at_v2 = self._ids(spark, path, v2)
        txlog.delete_where(spark, path, "id = 1")
        dst = str(tmp_path / "c")
        txlog.clone(path, dst)
        assert self._ids(spark, dst) == {2: at_v2[2]}
        txlog.restore(path, v2)
        assert self._ids(spark, path) == at_v2
        # the clone allocates its OWN fresh ids from the carried watermark
        txlog.append(_df(spark, [(7, "g", 1)]), dst)
        cids = self._ids(spark, dst)
        assert cids[7] not in at_v2.values()

    def test_ids_survive_checkpoint_and_vacuum(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(0, "seed", 1)]), path)
        txlog.enable_row_tracking(path)
        before = {0: self._ids(spark, path)[0]}
        for i in range(1, 12):  # crosses the 10-commit checkpoint
            txlog.append(_df(spark, [(i, "x", 1)]), path)
            before[i] = self._ids(spark, path)[i]
        assert self._ids(spark, path) == before
        assert len(set(before.values())) == 12
        txlog.optimize(spark, path, target_file_bytes=1 << 30)
        txlog.vacuum(path)
        assert self._ids(spark, path) == before

    def test_reserved_column_and_schema_guards(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "a", 1)]), path)
        txlog.enable_row_tracking(path)
        bad = spark.createDataFrame(
            [(2, "b", 1, 99)], "id long, v string, version int, __row_id long"
        )
        with pytest.raises(Exception, match="__row_id"):
            txlog.append(bad, path, merge_schema=True)
        with pytest.raises(Exception, match="__row_id"):
            txlog.overwrite(bad, path)

    def test_cdc_include_row_ids(self, spark, tmp_path):
        """include_row_ids attributes every attributable change row to its
        stable identity: an UPDATE's delete+insert pair shares ONE id
        (the consumer joins the pair on it), appends carry their
        allocation, DV deletes resolve position-exactly, and the re-key
        ops' images are NULL by contract."""
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "a", 1), (2, "b", 1)]), path)  # v1
        with pytest.raises(ValueError, match="row tracking"):
            txlog.table_changes(spark, path, 0, include_row_ids=True)
        txlog.enable_row_tracking(path)  # v2
        ids = self._ids(spark, path)
        txlog.append(_df(spark, [(3, "c", 1)]), path)  # v3
        ids3 = self._ids(spark, path)
        txlog.update_where(spark, path, "id = 2", {"v": F.lit("B")})  # v4
        txlog.delete_where_dv(spark, path, "id = 1")  # v5
        cdf = txlog.table_changes(spark, path, 2, include_row_ids=True)
        rows = {
            (r.id, r._change_type, r._commit_version): r.row_id
            for r in cdf.collect()
        }
        assert rows[(3, "insert", 3)] == ids3[3]  # append leg
        # the update pair shares the row's ONE stable id
        assert rows[(2, "delete", 4)] == ids[2]
        assert rows[(2, "insert", 4)] == ids[2]
        assert rows[(1, "delete", 5)] == ids[1]  # DV leg, position-exact
        # merge re-keys: its images carry NULL ids by contract
        txlog.merge(
            spark, path, _df(spark, [(9, "z", 9)]), keys=["id"], order_col="version"
        )  # v6
        m = txlog.table_changes(spark, path, 5, 6, include_row_ids=True)
        assert all(r.row_id is None for r in m.collect())
        # and without the flag the schema is unchanged
        assert "row_id" not in txlog.table_changes(spark, path, 2).columns

    def test_read_with_row_ids_plan_is_jvm_side_broadcast(self, spark, tmp_path):
        """The id resolution is metadata-shaped: the base map broadcasts
        (n_files rows, like the DV anti-join) and the coalesce is a pure
        JVM expression — no Python in the plan, no shuffle added to the
        scan."""
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "a", 1), (2, "b", 1)]), path)
        txlog.enable_row_tracking(path)
        df = txlog.read_with_row_ids(spark, path)
        plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        assert "BroadcastHashJoin" in plan, plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan

    def test_append_racing_enable_still_gets_bases(self, spark, tmp_path, monkeypatch):
        """Review finding: append resolved row tracking once before its
        retry loop — an enable_row_tracking landing between file-landing
        and commit produced files with neither a base nor materialized
        ids. The loop now re-resolves per attempt and allocates."""
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "a", 1)]), path)
        real = txlog._validate_append_schema  # noqa: SLF001
        calls = {"n": 0}

        def hook(p, df, merge_schema, **kw):
            calls["n"] += 1
            if calls["n"] == 2:  # first IN-LOOP call: files already landed
                txlog.enable_row_tracking(path)
            return real(p, df, merge_schema, **kw)

        monkeypatch.setattr(txlog, "_validate_append_schema", hook)
        txlog.append(_df(spark, [(2, "b", 1)]), path)
        ids = self._ids(spark, path)
        assert sorted(ids) == [1, 2] and len(set(ids.values())) == 2

    def test_cdc_ids_for_pre_enable_appends(self, spark, tmp_path):
        """Review finding: the pure-append CDC leg only looked at the
        append commit's own row_bases, NULLing ids for appends that
        PRECEDE the enable commit even though the backfill holds them."""
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "a", 1), (2, "b", 1)]), path)  # v1
        txlog.enable_row_tracking(path)  # v2 backfills v1's file
        ids = self._ids(spark, path)
        rows = {
            r.id: r.row_id
            for r in txlog.table_changes(
                spark, path, 0, include_row_ids=True
            ).collect()
        }
        assert rows == ids and None not in rows.values()

    def test_cdc_ids_for_dv_update_window(self, spark, tmp_path):
        """Review finding: a DV UPDATE's added files fell to the
        snapshot-diff exceptAll leg where row_id was blanket-NULL. The
        commit now stores its change record, so both images carry the
        row's ONE id."""
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "a", 1), (2, "b", 1)]), path)
        txlog.enable_row_tracking(path)
        ids = self._ids(spark, path)
        v = txlog.update_where_dv(spark, path, "id = 2", {"v": F.lit("B")})
        rows = {
            (r.id, r.v, r._change_type): r.row_id
            for r in txlog.table_changes(
                spark, path, v - 1, v, include_row_ids=True
            ).collect()
        }
        assert rows == {
            (2, "b", "delete"): ids[2],
            (2, "B", "insert"): ids[2],
        }, rows


class TestAdviceFixesRound10:
    """Regression tests for the round-9 ADVICE findings."""

    def test_table_changes_commit_version_is_bigint_in_every_leg(
        self, spark, tmp_path
    ):
        """ADVICE r9: live legs emitted _commit_version as INT
        (F.lit default) while the empty-window frame and the streaming
        CDF emit BIGINT — the same API returned different schemas
        depending on window contents. All legs must agree on bigint."""
        from pyspark.sql.types import LongType

        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "a", 1), (2, "b", 1)]), path)  # v1 append leg
        txlog.update_where(
            spark, path, "id = 2", {"version": F.lit(7)}
        )  # v2: rewrite/CDC leg
        def cv_type(df):
            return df.schema["_commit_version"].dataType

        live = txlog.table_changes(spark, path, from_version=0)
        assert cv_type(live) == LongType(), live.schema
        # per-leg: a pure-append-only window and an update-only window
        assert cv_type(
            txlog.table_changes(spark, path, from_version=0, to_version=1)
        ) == LongType()
        assert cv_type(
            txlog.table_changes(spark, path, from_version=1, to_version=2)
        ) == LongType()
        # empty-window frame (rewrite-only commit): optimize after a second
        # small append so there is something to compact
        txlog.append(_df(spark, [(3, "c", 1)]), path)  # v3
        v_opt = txlog.optimize(spark, path)  # v4 rewrite-only
        empty = txlog.table_changes(
            spark, path, from_version=v_opt - 1, to_version=v_opt
        )
        assert cv_type(empty) == LongType(), empty.schema
        # the legs must union cleanly with the empty frame (typed-sink case)
        assert cv_type(live.unionByName(empty)) == LongType()

    def test_reorg_purge_is_noop_on_fully_live_row_tracking_table(
        self, spark, tmp_path
    ):
        """ADVICE r9: enable_row_tracking reserves '__row_id', which is
        never in the logical schema — the purge's retired-column scan
        treated it as retired and rewrote every id-carrying file on EVERY
        call (each rewrite re-materializes __row_id, so it never
        converged). On a tracking table with no DVs and no genuinely
        retired columns, reorg_purge must keep its no-op contract."""
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "a", 1), (2, "b", 1), (3, "c", 1)]), path)
        txlog.enable_row_tracking(path)
        # CoW delete rewrites the file, materializing __row_id into it
        txlog.delete_where(spark, path, "id = 2")
        import pyarrow.parquet as pq

        assert any(
            "__row_id" in pq.ParquetFile(f).schema_arrow.names
            for f in txlog.visible_files(path)
        ), "precondition: a visible file must carry materialized ids"
        v = txlog.current_version(path)
        files = set(txlog.visible_files(path))
        assert txlog.reorg_purge(spark, path) == v
        assert set(txlog.visible_files(path)) == files
        # and again — convergence, not oscillation
        assert txlog.reorg_purge(spark, path) == v
        # ids still resolve after the (non-)purge
        ids = {
            r.id: r.row_id
            for r in txlog.read_with_row_ids(spark, path).collect()
        }
        assert set(ids) == {1, 3}

    def test_symlink_manifest_refuses_materialized_row_ids_by_default(
        self, spark, tmp_path
    ):
        """ADVICE r9: exported data files carrying the internal __row_id
        physical column would surface an undocumented extra column to
        plain parquet readers — refuse like the DV guard unless the
        caller opts in with allow_row_ids=True."""
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "a", 1), (2, "b", 1)]), path)
        txlog.enable_row_tracking(path)
        # no file materializes ids yet -> export is fine
        txlog.generate_symlink_manifest(path)
        txlog.delete_where(spark, path, "id = 2")  # CoW rewrite -> carrier
        with pytest.raises(ValueError, match="__row_id"):
            txlog.generate_symlink_manifest(path)
        m = txlog.generate_symlink_manifest(path, allow_row_ids=True)
        lines = [ln for ln in open(m).read().splitlines() if ln]
        assert len(lines) == len(txlog.visible_files(path))


class TestStraddlingInitialDefault:
    """A table whose live files straddle an ``add_column(..., default=)``
    scans as one scan per file group (pre-add files render the default);
    every position-tagged path must work across both groups."""

    @pytest.fixture()
    def straddle(self, spark, tmp_path):
        """Build: append ids 1-3, [enable row tracking], [DV-delete id 2],
        add ``src`` with initial default 'legacy', append ids 4-6 with
        src 'new'. Each append is one file, so row ids are ``id - 1``."""

        def build(dv=False, tracking=False):
            path = str(tmp_path / "straddle")
            txlog.append(
                spark.createDataFrame(
                    [(1, "a"), (2, "a"), (3, "a")], "id long, v string"
                ).coalesce(1),
                path,
            )
            if tracking:
                txlog.enable_row_tracking(path)
            if dv:
                txlog.delete_where_dv(spark, path, "id = 2")
            txlog.add_column(spark, path, "src", "string", default="'legacy'")
            txlog.append(
                spark.createDataFrame(
                    [(4, "b", "new"), (5, "b", "new"), (6, "b", "new")],
                    "id long, v string, src string",
                ).coalesce(1),
                path,
            )
            return path

        return build

    @staticmethod
    def _rows(df):
        return {r.id: (r.v, r.src) for r in df.collect()}

    _ALL = {
        1: ("a", "legacy"), 2: ("a", "legacy"), 3: ("a", "legacy"),
        4: ("b", "new"), 5: ("b", "new"), 6: ("b", "new"),
    }

    def test_read_mor_with_pre_add_dv(self, spark, straddle):
        path = straddle(dv=True)
        want = {k: v for k, v in self._ALL.items() if k != 2}
        assert self._rows(txlog.read_mor(spark, path)) == want

    def test_delete_where_dv_across_groups(self, spark, straddle):
        path = straddle()
        txlog.delete_where_dv(spark, path, "id IN (1, 5)")
        want = {k: v for k, v in self._ALL.items() if k not in (1, 5)}
        assert self._rows(txlog.read_mor(spark, path)) == want

    def test_update_where_dv_across_groups(self, spark, straddle):
        path = straddle()
        txlog.update_where_dv(spark, path, "id IN (2, 4)", {"v": "'u'"})
        want = {**self._ALL, 2: ("u", "legacy"), 4: ("u", "new")}
        assert self._rows(txlog.read_mor(spark, path)) == want

    def test_dv_merge_touching_both_groups(self, spark, straddle):
        path = straddle()
        src = spark.createDataFrame(
            [(1, "m", "x"), (5, "m", "x"), (7, "i", "ins")],
            "id long, v string, src string",
        )
        txlog.merge_into(
            spark, path, src, keys=["id"],
            when_matched=[("update", {"v": "s.v"})], use_dvs=True,
        )
        want = {
            **self._ALL, 1: ("m", "legacy"), 5: ("m", "new"), 7: ("i", "ins"),
        }
        assert self._rows(txlog.read_mor(spark, path)) == want

    def test_optimize_with_pre_add_dv(self, spark, straddle):
        path = straddle(dv=True)
        txlog.optimize(
            spark, path, target_file_bytes=10**9, small_file_bytes=10**9
        )
        assert len(txlog.visible_files(path)) == 1
        assert not txlog.visible_dvs(path)
        want = {k: v for k, v in self._ALL.items() if k != 2}
        assert self._rows(txlog.read(spark, path)) == want

    def test_read_with_row_ids(self, spark, straddle):
        path = straddle(tracking=True)
        got = {
            r.id: (r.v, r.src, r.row_id)
            for r in txlog.read_with_row_ids(spark, path).collect()
        }
        assert got == {k: (*v, k - 1) for k, v in self._ALL.items()}

    def test_cow_update_keeps_row_ids(self, spark, straddle):
        path = straddle(tracking=True)
        txlog.update_where(spark, path, "id IN (1, 4)", {"v": "'u'"})
        got = {
            r.id: (r.v, r.src, r.row_id)
            for r in txlog.read_with_row_ids(spark, path).collect()
        }
        want = {**self._ALL, 1: ("u", "legacy"), 4: ("u", "new")}
        assert got == {k: (*v, k - 1) for k, v in want.items()}

    def test_table_changes_row_ids_across_dv_commit(self, spark, straddle):
        path = straddle(dv=True, tracking=True)
        # v1 append, v2 enable row tracking, v3 DV delete, v4 add, v5 append
        got = {
            (r.id, r._change_type, r._commit_version): (r.v, r.src, r.row_id)
            for r in txlog.table_changes(
                spark, path, 2, include_row_ids=True
            ).collect()
        }
        assert got == {
            (2, "delete", 3): ("a", "legacy", 1),
            (4, "insert", 5): ("b", "new", 3),
            (5, "insert", 5): ("b", "new", 4),
            (6, "insert", 5): ("b", "new", 5),
        }


class TestCowSkipsDvDeadRows:
    """A copy-on-write mutation whose predicate matches only rows a
    deletion vector already deleted changes nothing: the file tag scan
    sees live rows only, so no file is rewritten and no version lands."""

    def _table(self, spark, tmp_path):
        path = str(tmp_path / "t")
        txlog.append(
            spark.createDataFrame(
                [(i, i * 10) for i in range(1, 7)], "id long, v long"
            ).coalesce(1),
            path,
        )
        txlog.delete_where_dv(spark, path, "id = 2")
        return path, txlog.visible_files(path)

    def _assert_untouched(self, spark, path, files):
        assert txlog.current_version(path) == 2
        assert txlog.visible_files(path) == files
        assert sorted(r.id for r in txlog.read(spark, path).collect()) == [1, 3, 4, 5, 6]

    def test_delete_where(self, spark, tmp_path):
        path, files = self._table(spark, tmp_path)
        txlog.delete_where(spark, path, "id = 2")
        self._assert_untouched(spark, path, files)

    def test_update_where(self, spark, tmp_path):
        path, files = self._table(spark, tmp_path)
        txlog.update_where(spark, path, "id = 2", {"v": F.col("v") + 1})
        self._assert_untouched(spark, path, files)

    def test_merge_update_only(self, spark, tmp_path):
        path, files = self._table(spark, tmp_path)
        src = spark.createDataFrame([(2, 99)], "id long, v long")
        txlog.merge_into(
            spark, path, src, ["id"],
            when_matched=[("update", "*")], when_not_matched=False,
        )
        self._assert_untouched(spark, path, files)


def _race_inside(monkeypatch, fn_name, racer, after=False):
    """Run ``racer`` once inside the next call of ``txlog.<fn_name>``:
    before the real function answers, or just after with ``after``."""
    real = getattr(txlog, fn_name)
    pending = [racer]

    def raced(*args, **kwargs):
        if pending and not after:
            pending.pop()()
        out = real(*args, **kwargs)
        if pending:
            pending.pop()()
        return out

    monkeypatch.setattr(txlog, fn_name, raced)


class TestDdlPinnedToReadVersion:
    """A metadata-only DDL reads its inputs at the version it commits
    after: a commit racing in before that read is folded in, never
    overwritten by a stale copy of the same meta key."""

    def test_add_constraint_keeps_racing_add(self, spark, tmp_path, monkeypatch):
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "a", 1)]), path)
        _race_inside(
            monkeypatch, "current_version",
            lambda: txlog.add_constraint(spark, path, "theirs", "id > 0"),
        )
        assert txlog.add_constraint(spark, path, "mine", "id < 100") == 3
        assert set(txlog.latest_meta(path, "constraints")) == {"theirs", "mine"}

    def test_drop_constraint_keeps_racing_drop(self, spark, tmp_path, monkeypatch):
        path = str(tmp_path / "t")
        txlog.append(_df(spark, [(1, "a", 1)]), path)
        txlog.add_constraint(spark, path, "a", "id > 0")
        txlog.add_constraint(spark, path, "b", "id < 100")
        _race_inside(
            monkeypatch, "current_version", lambda: txlog.drop_constraint(path, "b")
        )
        assert txlog.drop_constraint(path, "a") == 5
        assert txlog.latest_meta(path, "constraints") == {}


class TestReadPinsOneSnapshot:
    def test_files_and_dvs_from_one_version(self, spark, tmp_path, monkeypatch):
        """read at the tip resolves the file list and the deletion vectors
        from one snapshot: a compaction landing between two resolutions
        must not pair the old files with the new (DV-less) state, which
        would resurrect deleted rows."""
        path = str(tmp_path / "t")
        for i in range(2):
            txlog.append(
                spark.createDataFrame(
                    [(3 * i + j,) for j in range(3)], "id long"
                ).coalesce(1),
                path,
            )
        txlog.delete_where_dv(spark, path, "id = 1")
        _race_inside(
            monkeypatch, "_replay",
            lambda: txlog.optimize(spark, path, target_file_bytes=1 << 30),
            after=True,
        )
        got = sorted(r.id for r in txlog.read(spark, path).collect())
        assert got == [0, 2, 3, 4, 5]
