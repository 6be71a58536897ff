"""Round-11 additions (VERDICT r10 asks): log retention (ask #1; the
``_last_checkpoint`` pointer tests live in test_txlog.py), identity-column MERGE INSERT via
per-attempt watermark reservation (ask #3), the persisted merge rewrite
frame (ask #4) and scoped ``OPTIMIZE ZORDER ... WHERE`` (ask #5). The
streaming ``schemaTrackingLocation`` restart (ask #6) is tested with the
rest of the data source in test_txlog_source.py."""

from __future__ import annotations

import datetime as dt
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from datalake_brief_spark.sources import txlog


def _fresh(prefix="r11_"):
    return os.path.join(tempfile.mkdtemp(prefix=prefix), "t")


def _batch(spark, n=10, tag=0):
    return (
        spark.range(n)
        .withColumnRenamed("id", "k")
        .withColumn("batch", F.lit(tag).cast("int"))
    )


class TestExpireLog:
    def _table(self, spark, n_commits=25):
        path = _fresh("r11exp_")
        for i in range(n_commits):
            txlog.append(_batch(spark, tag=i), path, stats_cols=["k"])
        return path

    def test_expire_reclaims_below_horizon_and_reads_unaffected(self, spark):
        path = self._table(spark)
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

    def test_below_horizon_fails_with_named_floor(self, spark):
        path = self._table(spark)
        txlog.expire_log(path, retain_versions=10)
        with pytest.raises(FileNotFoundError, match="earliest readable version is 10"):
            txlog.read(spark, path, version=3)
        with pytest.raises(FileNotFoundError, match="earliest readable"):
            txlog.fast_count(path, version=9)
        with pytest.raises(FileNotFoundError, match="earliest readable"):
            txlog.table_changes(spark, path, 2, 5)
        with pytest.raises(FileNotFoundError, match="earliest readable"):
            txlog.restore(path, 3, spark)

    def test_expire_is_idempotent_and_age_constraint_holds(self, spark):
        path = self._table(spark)
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

    def test_expire_and_vacuum_compose(self, spark):
        path = _fresh("r11expvac_")
        for i in range(25):
            txlog.append(_batch(spark, tag=i), path, stats_cols=["k"])
        txlog.delete_where(spark, path, F.col("batch") < 3)
        txlog.optimize(spark, path, target_file_bytes=1 << 30)
        expect = txlog.read(spark, path).count()
        txlog.expire_log(path, retain_versions=5)
        txlog.vacuum(path, retain_versions=1)
        assert txlog.read(spark, path).count() == expect
        # and the other order on a fresh table
        path2 = _fresh("r11vacexp_")
        for i in range(25):
            txlog.append(_batch(spark, tag=i), path2, stats_cols=["k"])
        txlog.vacuum(path2, retain_versions=1)
        txlog.expire_log(path2, retain_versions=5)
        assert txlog.read(spark, path2).count() == 250

    def test_first_expiry_declares_log_retention_reader_feature(
        self, spark, monkeypatch
    ):
        """ADVICE r11: expiry is an irreversible layout change — gate it
        with a reader feature like DVs/column-mapping so pre-floor-check
        builds refuse the table instead of replaying a partial prefix."""
        path = self._table(spark)
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

    def test_dry_run_and_noop_expiry_declare_nothing(self, spark):
        path = self._table(spark)
        tip = txlog.current_version(path)
        txlog.expire_log(path, retain_versions=10, dry_run=True)
        assert txlog.expire_log(path, retain_versions=25) == []  # no-op
        assert txlog.current_version(path) == tip
        assert "log-retention" not in set(
            txlog.table_protocol(path).get("reader_features", [])
        )

    def test_young_table_without_checkpoint_is_noop(self, spark):
        path = _fresh("r11young_")
        for i in range(4):
            txlog.append(_batch(spark, tag=i), path)
        assert txlog.expire_log(path, retain_versions=1) == []
        assert txlog.read(spark, path).count() == 40

    def test_needs_constraint(self, spark):
        path = _fresh("r11arg_")
        txlog.append(_batch(spark), path)
        with pytest.raises(ValueError, match="retain_versions and/or retain_age"):
            txlog.expire_log(path)
        with pytest.raises(ValueError, match=">= 1"):
            txlog.expire_log(path, retain_versions=0)

    def test_crash_mid_expire_fails_loudly_not_stale(self, spark):
        """A crashed expire_log leaves an ascending PREFIX of deleted
        commits (it reclaims commits in ascending order). A read inside
        the surviving un-anchored band — above the first surviving
        commit but below every surviving checkpoint — must raise the
        floor error, never silently replay from empty state at vs[0]
        (the round-11 advisor reproduced exactly that partial snapshot:
        commits 1-5 gone, checkpoint at 10, read(version=8) returned 3
        files instead of 8)."""
        path = self._table(spark, n_commits=15)
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

    def test_interior_hole_still_fails_loudly(self, spark):
        """Defense in depth: an interior hole (not a shape expire_log
        produces, but e.g. manual tampering) keeps raising too."""
        path = self._table(spark, n_commits=15)
        os.remove(txlog._commit_path(path, 3))
        os.remove(txlog._last_checkpoint_path(path))
        os.remove(txlog._checkpoint_path(path, 10))
        with pytest.raises(FileNotFoundError, match="expired-log horizon"):
            txlog.read(spark, path, version=7)

    def test_streaming_source_unaffected_above_horizon(self, spark):
        from datalake_brief_spark.streaming.source import register_txlog_source

        path = self._table(spark)
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


class TestIdentityMergeInsert:
    """VERDICT r10 ask #3: MERGE INSERT into identity tables via the
    per-attempt watermark reservation inside _commit_serializable."""

    def _table(self, spark, start=100, step=3):
        path = _fresh("r11idm_")
        txlog.add_identity_column(path, "rid", start=start, step=step)
        txlog.append(
            spark.createDataFrame(
                [(1, "a"), (2, "b"), (3, "c")], "k int, val string"
            ).repartition(2),
            path,
            stats_cols=["k"],
        )
        return path

    def test_insert_allocates_unique_on_lattice_fresh_ids(self, spark):
        path = self._table(spark)
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

    def test_two_writer_race_relands_with_fresh_ids(self, spark):
        """A concurrent identity append between the merge's file land and
        its commit must advance the watermark; the merge's retry re-lands
        the insert files with fresh ids — never duplicates, never refusal."""
        path = self._table(spark)
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

    def test_always_mode_rejections(self, spark):
        path = self._table(spark)
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

    def test_insert_only_merge_and_replay_noop(self, spark):
        path = self._table(spark)
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

    def test_identity_with_generated_column_insert(self, spark):
        """A generated column whose expression references the identity
        column must compute AFTER the per-attempt assignment (the factory
        orders identity → generated → constraints)."""
        path = _fresh("r11idg_")
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


class TestScopedZorderWhere:
    """VERDICT r10 ask #5: OPTIMIZE ZORDER ... WHERE — re-cluster one hot
    band without rewriting cold history."""

    def _table(self, spark):
        path = _fresh("r11zw_")
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

    def test_band_rewritten_cold_files_byte_identical(self, spark):
        path = self._table(spark)
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

    def test_scoped_rewrite_improves_pruning_on_both_dims_in_band(self, spark):
        path = self._table(spark)
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

    def test_empty_band_is_noop(self, spark):
        path = self._table(spark)
        v0 = txlog.current_version(path)
        assert (
            txlog.optimize_zorder(
                spark, path, ["x", "y"], n_files=2, prune_col="x", lo=99000, hi=99999
            )
            == v0
        )

    def test_scoped_zorder_applies_deletion_vectors(self, spark):
        path = self._table(spark)
        txlog.delete_where_dv(spark, path, F.col("x").between(3000, 3099))
        expect = sorted(txlog.read_mor(spark, path).collect())
        txlog.optimize_zorder(
            spark, path, ["x", "y"], n_files=4, prune_col="x", lo=3000, hi=3999
        )
        assert sorted(txlog.read(spark, path).collect()) == expect


class TestIdentityMergeCrossFeatures:
    def test_identity_insert_on_row_tracking_table(self, spark):
        """ins_factory + row tracking: the factory's per-attempt insert
        files must get row-base allocations (fresh stable ids) alongside
        their identity values, and matched rows keep BOTH identities."""
        path = _fresh("r11idrt_")
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

    def test_restore_above_expiry_floor_still_works(self, spark):
        path = _fresh("r11rst_")
        for i in range(25):
            txlog.append(_batch(spark, tag=i), path)
        txlog.expire_log(path, retain_versions=10)
        # 25 appends + the feature-declaring commit (26) + restore (27)
        v = txlog.restore(path, 12, spark)
        assert v == 27
        assert txlog.read(spark, path).count() == 120
