"""Round-13 regressions for the round-12 ADVICE items: bm25 empty-query
guard, checkpoint-anchored floor in the expired-read error, bounded
feature-declaration retries in expire_log, and bloom-retirement reset on
full overwrite."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from datalake_brief_spark.operators import text as T
from datalake_brief_spark.sources import txlog


def _fresh(prefix="r13_"):
    return os.path.join(tempfile.mkdtemp(prefix=prefix), "t")


class TestBm25EmptyQuery:
    def test_empty_query_terms_raise_the_contract_error(self, spark):
        df = spark.createDataFrame(
            [(1, "alpha beta"), (2, "beta gamma")], ["doc_id", "text"]
        )
        # previously failed opaquely downstream: score stayed None so
        # F.round(None, 6) raised, and matched became the Python int 0
        # passed to DataFrame.filter
        with pytest.raises(ValueError, match="query_terms must be non-empty"):
            T.bm25_topk(df, [], k=5)


class TestExpiredFloorNamesCheckpointVersions:
    def test_floor_includes_directly_readable_checkpoint(self, spark):
        """Crash-mid-expiry shape: commits reclaim ascending BEFORE old
        checkpoints, so a surviving checkpoint can outlive its own commit
        record. That version is readable straight from the checkpoint
        (empty replay tail) — the floor message must name IT, not the
        first surviving commit record."""
        path = _fresh("r13floor_")
        for i in range(3):
            txlog.append(spark.range(5).withColumn("b", F.lit(i)), path)
        txlog.checkpoint_now(path)  # checkpoint @3
        for i in range(3, 6):
            txlog.append(spark.range(5).withColumn("b", F.lit(i)), path)
        txlog.checkpoint_now(path)  # checkpoint @6
        txlog.append(spark.range(5).withColumn("b", F.lit(6)), path)  # v7
        # expire_log deletes commit records ascending toward the horizon
        # (6) first, checkpoints after; crash right before checkpoint 3's
        # deletion leaves checkpoint 3 alive with commits 1..5 gone
        for v in range(1, 6):
            os.remove(txlog._commit_path(path, v))
        # version 3 == a surviving checkpoint: readable directly
        assert txlog.read(spark, path, version=3).count() == 15
        # version 4 is genuinely gone; the error names 3 as the floor
        with pytest.raises(FileNotFoundError, match="earliest readable version is 3"):
            txlog.read(spark, path, version=4).count()
        # versions at/above the horizon resolve normally
        assert txlog.read(spark, path, version=7).count() == 35


class TestExpireLogBoundedRetry:
    def test_sustained_conflict_surfaces_instead_of_spinning(self, spark, monkeypatch):
        """The feature-declaring commit now matches every other DDL's
        loser's-retry-is-the-caller's-re-run contract: a bounded handful
        of retries, then CommitConflict surfaces."""
        path = _fresh("r13retry_")
        for i in range(6):
            txlog.append(spark.range(3).withColumn("b", F.lit(i)), path)
        txlog.checkpoint_now(path)
        txlog.append(spark.range(3).withColumn("b", F.lit(9)), path)

        real = txlog._try_commit
        calls = {"n": 0}

        def contended(path_, version, *a, **kw):
            meta = kw.get("meta") or (a[4] if len(a) > 4 else None) or {}
            if isinstance(meta, dict) and meta.get("op") == "expire_log":
                calls["n"] += 1
                raise txlog.CommitConflict(
                    f"version {version} already committed (simulated appender)"
                )
            return real(path_, version, *a, **kw)

        monkeypatch.setattr(txlog, "_try_commit", contended)
        before = sorted(os.listdir(txlog._log_dir(path)))
        with pytest.raises(txlog.CommitConflict):
            txlog.expire_log(path, retain_versions=1)
        assert calls["n"] == 5  # bounded, not infinite
        # the declare happens BEFORE any reclaim: nothing was deleted
        assert sorted(os.listdir(txlog._log_dir(path))) == before
        monkeypatch.setattr(txlog, "_try_commit", real)
        # the caller's re-run (uncontended) succeeds
        assert txlog.expire_log(path, retain_versions=1)


class TestBloomRetirementClearedByOverwrite:
    def test_fresh_blooms_serve_after_overwrite(self, spark):
        path = _fresh("r13bloom_")
        df = spark.range(100).select(F.col("id").cast("int").alias("k")).coalesce(1)
        txlog.append(df, path, bloom_cols=["k"])
        assert txlog.visible_blooms(path)
        # chain-leaving widen (int chain -> double) retires k's blooms
        txlog.widen_column_type(path, "k", "double")
        assert txlog.latest_meta(path, "bloom_retired") == ["k"]
        assert not txlog.visible_blooms(path)
        # full overwrite replaces every retired-bloom carrier; the new
        # files' blooms hash the current representation and must serve
        new = (
            spark.range(50)
            .select(F.col("id").cast("int").alias("k"))
            .coalesce(1)
        )
        txlog.overwrite(new, path)
        txlog.append(
            spark.range(50, 60).select(F.col("id").cast("int").alias("k")).coalesce(1),
            path,
            bloom_cols=["k"],
        )
        assert txlog.latest_meta(path, "bloom_retired") == []
        blooms = txlog.visible_blooms(path)
        assert blooms, "post-overwrite blooms were silently filtered out"
        # and point reads actually skip on them
        probe = txlog.read_point(spark, path, "k", 55)
        assert probe.count() == 1

    def test_time_travel_below_overwrite_still_retired(self, spark):
        """The clear is version-resolved like every meta key: reads below
        the overwrite still see the retirement (their visible files are
        the old-representation carriers)."""
        path = _fresh("r13bloomtt_")
        txlog.append(
            spark.range(20).select(F.col("id").cast("int").alias("k")).coalesce(1),
            path,
            bloom_cols=["k"],
        )
        v_widen = txlog.widen_column_type(path, "k", "double")
        txlog.overwrite(
            spark.range(5).select(F.col("id").cast("double").alias("k")), path
        )
        assert txlog.latest_meta(path, "bloom_retired", v_widen) == ["k"]
        assert not txlog.visible_blooms(path, v_widen)


def _banded(spark, n=400, bands=4, files_per_band=1):
    """n rows keyed 1..n in `bands` stat-ruled file groups."""
    return [
        spark.range(lo + 1, lo + n // bands + 1)
        .select(
            F.col("id").alias("k"),
            (F.col("id") * 10.0).alias("v"),
            F.lit(i).cast("int").alias("band"),
        )
        .coalesce(files_per_band)
        for i, lo in enumerate(range(0, n, n // bands))
    ]


def _twin(spark, prefix, n=400, tracking=False):
    """Two identical banded tables: (cow_path, dv_path)."""
    out = []
    for side in ("cow", "dv"):
        path = _fresh(f"{prefix}{side}_")
        for band in _banded(spark, n):
            txlog.append(band, path, stats_cols=["k"])
        if tracking:
            txlog.enable_row_tracking(path)
        out.append(path)
    return out


def _rows(df, cols=("k", "v", "band")):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


class TestMergeDV:
    """DV-backed MERGE: matched clauses land deletion-vector positions +
    append only the rewritten rows — ZERO candidate files rewritten, cost
    tracks touched rows. Every clause shape must equal its CoW twin."""

    def _run_both(self, spark, cow, dv, source, **kw):
        v1 = txlog.merge_into(spark, cow, source, ["k"], use_dvs=False, **kw)
        pre = set(txlog.visible_files(dv))
        v2 = txlog.merge_into(spark, dv, source, ["k"], use_dvs=True, **kw)
        post = set(txlog.visible_files(dv))
        # the DV contract: no file the merge touched was rewritten —
        # every pre-merge file stays referenced byte-identical
        assert pre <= post, "DV merge removed files (CoW leak)"
        return v1, v2, post - pre

    def test_update_insert_equals_cow_zero_rewrites(self, spark):
        cow, dv = _twin(spark, "r13updins_")
        src = spark.createDataFrame(
            [(k, float(k), 99) for k in (5, 105, 205, 401, 402)],
            "k long, v double, band int",
        )
        _, v2, new = self._run_both(
            spark, cow, dv, src,
            when_matched=[("update", "*")], when_not_matched=True,
        )
        assert txlog.visible_dvs(dv, v2), "no DV sidecar landed"
        # new files: ONE update-output group + ONE insert group
        assert _rows(txlog.read_mor(spark, dv)) == _rows(txlog.read(spark, cow))

    def test_matched_delete_with_condition(self, spark):
        cow, dv = _twin(spark, "r13del_")
        src = spark.createDataFrame(
            [(k,) for k in (1, 2, 3, 101, 102)], "k long"
        )
        kw = dict(
            when_matched=[("delete", "t.k % 2 = 1")], when_not_matched=False
        )
        self._run_both(spark, cow, dv, src, **kw)
        assert _rows(txlog.read_mor(spark, dv)) == _rows(txlog.read(spark, cow))
        # deletes-only DV merge appends NO data file group: the commit is
        # sidecar + change record only
        last = txlog._load_commit(dv, txlog.current_version(dv))
        assert last.get("meta", {}).get("op") == "merge"
        assert not last.get("adds") and not last.get("removes")
        assert last.get("dv_adds")

    def test_clause_order_first_true_wins(self, spark):
        cow, dv = _twin(spark, "r13order_")
        src = spark.createDataFrame(
            [(k, -1.0, 7) for k in range(1, 50)], "k long, v double, band int"
        )
        kw = dict(
            when_matched=[
                ("delete", "t.k <= 10"),
                ("update", {"v": "t.v + s.v"}, "t.k <= 30"),
                ("update", {"band": F.lit(77).cast("int")}),
            ],
            when_not_matched=False,
        )
        self._run_both(spark, cow, dv, src, **kw)
        assert _rows(txlog.read_mor(spark, dv)) == _rows(txlog.read(spark, cow))

    def test_by_source_clauses(self, spark):
        cow, dv = _twin(spark, "r13bys_")
        src = spark.createDataFrame(
            [(k, 0.5, 1) for k in range(1, 201)], "k long, v double, band int"
        )
        kw = dict(
            when_matched=[("update", {"v": "t.v * 2"})],
            when_not_matched=False,
            when_not_matched_by_source=[
                ("delete", "t.k > 380"),
                ("update", {"band": F.lit(-5).cast("int")}, "t.k > 360"),
            ],
        )
        self._run_both(spark, cow, dv, src, **kw)
        assert _rows(txlog.read_mor(spark, dv)) == _rows(txlog.read(spark, cow))

    def test_redelivered_batch_is_noop(self, spark):
        _, dv = _twin(spark, "r13redel_")
        src = spark.createDataFrame(
            [(k, 123.0, 9) for k in (7, 8, 9)], "k long, v double, band int"
        )
        kw = dict(
            when_matched=[("update", "*", "t.v <> s.v")], when_not_matched=True
        )
        v1 = txlog.merge_into(spark, dv, src, ["k"], use_dvs=True, **kw)
        # phase 1 sees the DV-dead pre-images in the raw files, but the
        # DV-applied phase-2 join finds no live clause hit: no commit
        v2 = txlog.merge_into(spark, dv, src, ["k"], use_dvs=True, **kw)
        assert v2 == v1
        assert (
            txlog.read_mor(spark, dv).filter(F.col("k") == 7).collect()[0]["v"]
            == 123.0
        )

    def test_cdf_update_pair_shares_row_id(self, spark):
        cow, dv = _twin(spark, "r13rid_", tracking=True)
        src = spark.createDataFrame(
            [(k, -2.0, 3) for k in (11, 12)], "k long, v double, band int"
        )
        kw = dict(when_matched=[("update", {"v": "s.v"})], when_not_matched=False)
        _, v2, _ = self._run_both(spark, cow, dv, src, **kw)
        ch = txlog.table_changes(spark, dv, v2 - 1, v2, include_row_ids=True)
        pairs = ch.filter(F.col("k").isin([11, 12])).collect()
        by_k = {}
        for r in pairs:
            by_k.setdefault(r["k"], {})[r["_change_type"]] = r["row_id"]
        for k, d in by_k.items():
            assert d["delete"] == d["insert"], f"row id broke for k={k}"
        # ids preserved on the MOR read too
        ids = txlog.read_with_row_ids(spark, dv)
        assert ids.filter(F.col("k") == 11).count() == 1

    def test_optimize_materializes_dv_merge(self, spark):
        _, dv = _twin(spark, "r13mat_")
        src = spark.createDataFrame(
            [(k, 0.0, 0) for k in range(1, 100, 7)], "k long, v double, band int"
        )
        txlog.merge_into(
            spark, dv, src, ["k"], use_dvs=True,
            when_matched=[("update", {"v": "s.v"})], when_not_matched=False,
        )
        before = _rows(txlog.read_mor(spark, dv))
        txlog.reorg_purge(spark, dv)
        assert not txlog.visible_dvs(dv)
        raw = txlog._read_data(spark, dv, txlog.visible_files(dv))
        assert _rows(raw) == before  # the raw bytes now equal it

    def test_table_property_enables_dv_merge(self, spark):
        _, dv = _twin(spark, "r13prop_")
        txlog.set_table_properties(dv, {"deletionVectors": "true"})
        pre = set(txlog.visible_files(dv))
        txlog.merge_into(
            spark, dv,
            spark.createDataFrame([(3, 1.0, 1)], "k long, v double, band int"),
            ["k"],
            when_matched=[("update", "*")], when_not_matched=False,
        )
        assert pre <= set(txlog.visible_files(dv))
        assert txlog.visible_dvs(dv)

    def test_multiple_source_rows_matching_still_raise(self, spark):
        _, dv = _twin(spark, "r13dup_")
        src = spark.createDataFrame(
            [(5, 1.0, 1), (5, 2.0, 1)], "k long, v double, band int"
        )
        with pytest.raises(ValueError, match="multiple source rows"):
            txlog.merge_into(
                spark, dv, src, ["k"], use_dvs=True,
                when_matched=[("update", "*")], when_not_matched=False,
            )

    def test_schema_evolution_dv(self, spark):
        cow, dv = _twin(spark, "r13evo_")
        src = spark.createDataFrame(
            [(2, 5.0, 1, "x"), (999, 6.0, 9, "y")],
            "k long, v double, band int, tag string",
        )
        kw = dict(
            when_matched=[("update", "*")], when_not_matched=True,
            merge_schema=True,
        )
        self._run_both(spark, cow, dv, src, **kw)
        assert _rows(
            txlog.read_mor(spark, dv), ("k", "v", "band", "tag")
        ) == _rows(txlog.read(spark, cow), ("k", "v", "band", "tag"))

    def test_dv_merge_on_already_dvd_table(self, spark):
        """Composition: a delete_where_dv'd table then DV-merged — prior
        positions are never re-added, resurrected, or double-counted."""
        cow, dv = _twin(spark, "r13compose_")
        txlog.delete_where(spark, cow, "k <= 20")
        txlog.delete_where_dv(spark, dv, "k <= 20")
        src = spark.createDataFrame(
            [(k, 7.0, 2) for k in range(15, 31)], "k long, v double, band int"
        )
        kw = dict(when_matched=[("update", "*")], when_not_matched=True)
        self._run_both(spark, cow, dv, src, **kw)
        assert _rows(txlog.read_mor(spark, dv)) == _rows(txlog.read(spark, cow))


class TestClusteringMaintenance:
    """Property-driven clustering maintenance (VERDICT r12 ask #4):
    `clustering.columns` + `clustering.auto` TBLPROPERTIES, the
    metadata-only clustering_decay advisor, and maintain()'s scoped
    re-cluster of exactly the decayed band."""

    def _decayed_table(self, spark):
        path = _fresh("r13clust_")
        # cold, well-clustered history: disjoint a-bands 100.. upward
        for i in range(1, 5):
            txlog.append(
                spark.range(i * 100, (i + 1) * 100)
                .select(
                    F.col("id").alias("a"),
                    F.pmod(F.col("id") * 7, F.lit(1000)).alias("b"),
                )
                .coalesce(1),
                path,
                stats_cols=["a", "b"],
            )
        txlog.set_table_properties(
            path,
            {
                "clustering.columns": "a,b",
                "clustering.auto": "true",
                "clustering.minFiles": "4",
                "clustering.nFiles": "4",
            },
        )
        return path

    def test_healthy_layout_not_recommended(self, spark):
        path = self._decayed_table(spark)
        d = txlog.clustering_decay(path)
        assert d["n_files"] == 4 and d["n_decayed"] == 0
        assert not d["recommended"]
        assert txlog.maintain(spark, path)["reclustered_to"] is None

    def test_unclustered_tail_trips_and_maintain_reclusters_band_only(
        self, spark
    ):
        path = self._decayed_table(spark)
        # the CDC tail: 7 unsorted appends confined to the hot band
        # a in [0, 100) but each spanning it fully (and all of b) — 7 of
        # 11 files makes the min-across-dims overlap fraction 6/10 > 0.5
        for i in range(7):
            txlog.append(
                spark.range(0, 100)
                .select(
                    F.col("id").alias("a"),
                    F.pmod(F.col("id") * 13 + i, F.lit(1000)).alias("b"),
                )
                .coalesce(1),
                path,
                stats_cols=["a", "b"],
            )
        d = txlog.clustering_decay(path)
        assert d["recommended"] and d["n_decayed"] == 7
        lo, hi = d["band"]
        assert lo >= 0 and hi <= 99
        cold = {
            p: os.path.getmtime(p)
            for p in txlog.visible_files(path)
            if txlog.visible_stats(path)[os.path.relpath(p, path)]["a"][0] >= 100
        }
        before_rows = sorted(
            tuple(r) for r in txlog.read(spark, path).collect()
        )
        report = txlog.maintain(spark, path)
        assert report["reclustered_to"] is not None
        # cold files stay referenced AND byte-identical
        post = set(txlog.visible_files(path))
        assert set(cold) <= post
        assert all(os.path.getmtime(p) == cold[p] for p in cold)
        # content identical; band now prunable on BOTH dims
        assert (
            sorted(tuple(r) for r in txlog.read(spark, path).collect())
            == before_rows
        )
        pruned = txlog.read_pruned_multi(
            spark, path, {"a": (0, 40), "b": (0, 300)}
        )
        assert len(pruned.inputFiles()) < len(post)
        # second run: the just-clustered band no longer decays
        assert txlog.clustering_decay(path)["recommended"] is False
        assert txlog.maintain(spark, path)["reclustered_to"] is None

    def test_decay_requires_columns(self, spark):
        path = _fresh("r13clustnone_")
        txlog.append(spark.range(5).withColumnRenamed("id", "a"), path)
        with pytest.raises(ValueError, match="clustering.columns"):
            txlog.clustering_decay(path)

    def test_statless_files_score_decayed(self, spark):
        path = _fresh("r13clustnostat_")
        for i in range(2):
            txlog.append(
                spark.range(i * 50, (i + 1) * 50)
                .select(F.col("id").alias("a"), F.lit(i).alias("b"))
                .coalesce(1),
                path,
                stats_cols=["a", "b"],
            )
        for _ in range(4):  # statless appends defeat pruning by construction
            txlog.append(
                spark.range(10)
                .select(F.col("id").alias("a"), F.lit(9).alias("b"))
                .coalesce(1),
                path,
            )
        d = txlog.clustering_decay(path, ["a", "b"])
        assert d["n_decayed"] >= 4 and d["recommended"]


class TestDropFeature:
    """drop_feature — the protocol ladder DOWN (Delta's ALTER TABLE ...
    DROP FEATURE): verified non-use, one metadata-only downgrade commit,
    version-resolved history on both sides, automatic re-declaration by
    any later operation that re-needs the feature."""

    def _dv_table(self, spark, prefix="r13df_"):
        path = _fresh(prefix)
        for i in range(3):
            txlog.append(
                spark.range(i * 10, (i + 1) * 10)
                .select(F.col("id").alias("k"), F.lit(i).cast("int").alias("b"))
                .coalesce(1),
                path,
                stats_cols=["k"],
            )
        txlog.delete_where_dv(spark, path, F.col("k") % 10 == 3)
        return path

    def test_unknown_and_undeclared_features_refuse(self, spark):
        path = _fresh("r13dfu_")
        txlog.append(spark.range(5).coalesce(1), path)
        with pytest.raises(ValueError, match="unknown feature"):
            txlog.drop_feature(path, "no-such-feature")
        with pytest.raises(ValueError, match="not declared"):
            txlog.drop_feature(path, "deletion-vectors")

    def test_dv_drop_refuses_live_dvs_then_succeeds_after_purge(self, spark):
        path = self._dv_table(spark)
        assert "deletion-vectors" in txlog.table_protocol(path)[
            "reader_features"
        ]
        with pytest.raises(ValueError, match="reorg_purge"):
            txlog.drop_feature(path, "deletion-vectors")
        txlog.reorg_purge(spark, path)
        pre_drop_v = txlog.current_version(path)
        v = txlog.drop_feature(path, "deletion-vectors")
        assert v == pre_drop_v + 1
        # tip protocol no longer demands the feature; history below the
        # drop still does (version-resolved — old readers of old
        # versions stay locked out)
        assert "deletion-vectors" not in txlog.table_protocol(path).get(
            "reader_features", []
        )
        assert "deletion-vectors" in txlog.table_protocol(path, pre_drop_v)[
            "reader_features"
        ]
        # data unchanged through the ladder
        assert sorted(r.k for r in txlog.read(spark, path).collect()) == [
            k for k in range(30) if k % 10 != 3
        ]
        # history records the downgrade
        ops = [h["op"] for h in txlog.history(path)]
        assert "drop_feature" in ops

    def test_dv_drop_refuses_while_property_demands_dvs(self, spark):
        path = self._dv_table(spark, "r13dfp_")
        txlog.reorg_purge(spark, path)
        txlog.set_table_properties(path, {"deletionVectors": "true"})
        with pytest.raises(ValueError, match="TBLPROPERTY"):
            txlog.drop_feature(path, "deletion-vectors")
        txlog.unset_table_properties(path, ["deletionVectors"])
        txlog.drop_feature(path, "deletion-vectors")

    def test_later_dv_mutation_redeclares(self, spark):
        path = self._dv_table(spark, "r13dfr_")
        txlog.reorg_purge(spark, path)
        txlog.drop_feature(path, "deletion-vectors")
        txlog.update_where_dv(
            spark, path, F.col("k") == 5, {"b": F.lit(99)}
        )
        assert "deletion-vectors" in txlog.table_protocol(path)[
            "reader_features"
        ]
        assert (
            txlog.read_mor(spark, path).filter("k = 5").collect()[0].b == 99
        )

    def test_restore_below_drop_redeclares(self, spark):
        path = self._dv_table(spark, "r13dfre_")
        dv_v = txlog.current_version(path)
        txlog.reorg_purge(spark, path)
        txlog.drop_feature(path, "deletion-vectors")
        txlog.restore(path, dv_v)
        # the restored snapshot carries live DVs again — the restore
        # commit must re-declare the feature or old readers resurrect
        # the deleted rows
        assert "deletion-vectors" in txlog.table_protocol(path)[
            "reader_features"
        ]
        assert sorted(r.k for r in txlog.read_mor(spark, path).collect()) == [
            k for k in range(30) if k % 10 != 3
        ]

    def test_widening_drop_refuses_narrow_files_then_succeeds(self, spark):
        path = _fresh("r13dfw_")
        txlog.append(
            spark.range(10)
            .select(F.col("id").cast("int").alias("k"))
            .coalesce(1),
            path,
        )
        txlog.widen_column_type(path, "k", "bigint")
        with pytest.raises(ValueError, match="pre-widen type"):
            txlog.drop_feature(path, "type-widening")
        # a full rewrite lands every file at the declared (wide) type
        txlog.overwrite(
            txlog.read(spark, path).select(F.col("k").cast("bigint")), path
        )
        # the protocol never auto-drops — the rewrite only makes the
        # explicit downgrade legal
        txlog.drop_feature(path, "type-widening")
        assert "type-widening" not in txlog.table_protocol(path).get(
            "reader_features", []
        )

    def test_narrow_append_after_drop_redeclares(self, spark):
        path = _fresh("r13dfn_")
        txlog.append(
            spark.range(10)
            .select(F.col("id").cast("int").alias("k"))
            .coalesce(1),
            path,
        )
        txlog.widen_column_type(path, "k", "bigint")
        txlog.overwrite(
            txlog.read(spark, path).select(F.col("k").cast("bigint")), path
        )
        txlog.drop_feature(path, "type-widening")
        # a narrow producer whose schema froze before the widen appends
        # int files onto the bigint column — the scan must upcast, so
        # the append itself must put the feature back
        txlog.append(
            spark.range(100, 105)
            .select(F.col("id").cast("int").alias("k"))
            .coalesce(1),
            path,
        )
        assert "type-widening" in txlog.table_protocol(path)[
            "reader_features"
        ]
        got = sorted(r.k for r in txlog.read(spark, path).collect())
        assert got == list(range(10)) + list(range(100, 105))

    def test_mapping_drop_refuses_rename_then_succeeds_when_identity(
        self, spark
    ):
        path = _fresh("r13dfm_")
        txlog.append(
            spark.range(10).select(F.col("id").alias("a")).coalesce(1), path
        )
        txlog.rename_column(path, "a", "b")
        with pytest.raises(ValueError, match="different physical name"):
            txlog.drop_feature(path, "column-mapping")
        # renaming back restores the identity mapping (physical name was
        # 'a' all along), making the feature droppable
        txlog.rename_column(path, "b", "a")
        txlog.drop_feature(path, "column-mapping")
        assert "column-mapping" not in txlog.table_protocol(path).get(
            "reader_features", []
        )
        assert txlog.read(spark, path).columns == ["a"]

    def test_mapping_drop_refuses_dropped_column_residue(self, spark):
        path = _fresh("r13dfd_")
        txlog.append(
            spark.range(10)
            .select(F.col("id").alias("a"), (F.col("id") * 2).alias("c"))
            .coalesce(1),
            path,
        )
        txlog.drop_column(path, "c")
        with pytest.raises(ValueError, match="dropped-column bytes"):
            txlog.drop_feature(path, "column-mapping")
        txlog.reorg_purge(spark, path)
        txlog.drop_feature(path, "column-mapping")
        assert txlog.read(spark, path).columns == ["a"]

    def test_log_retention_drop_always_refuses_after_expiry(self, spark):
        path = _fresh("r13dfl_")
        for i in range(12):
            txlog.append(spark.range(3).coalesce(1), path)
        txlog.checkpoint_now(path)
        assert txlog.expire_log(path, retain_versions=2)
        with pytest.raises(ValueError, match="load-bearing"):
            txlog.drop_feature(path, "log-retention")

    def test_racing_mutation_surfaces_conflict_not_silent_retarget(
        self, spark
    ):
        """A mutation whose commit races a drop_feature must surface
        CommitConflict (drop_feature is a snapshot-level op): its feature
        fold was computed against the pre-drop protocol."""
        path = self._dv_table(spark, "r13dfc_")
        txlog.reorg_purge(spark, path)
        real_try = txlog._try_commit
        state = {"fired": False}

        def racing(p, version, *a, **kw):
            if not state["fired"] and kw.get("meta", {}).get("op") == "delete_dv":
                state["fired"] = True
                txlog.drop_feature(path, "deletion-vectors")
            return real_try(p, version, *a, **kw)

        txlog._try_commit = racing
        try:
            with pytest.raises(txlog.CommitConflict, match="drop_feature"):
                txlog.delete_where_dv(spark, path, F.col("k") == 7)
        finally:
            txlog._try_commit = real_try
        # the loser's re-run lands and re-declares
        txlog.delete_where_dv(spark, path, F.col("k") == 7)
        assert "deletion-vectors" in txlog.table_protocol(path)[
            "reader_features"
        ]


class TestColumnDefaults:
    """ADD COLUMN with Iceberg-v3 default values: initial default =
    metadata-only backfill for pre-add files (per-file resolution, never
    coalesce-over-NULL), write default = filled when a write omits the
    column; the column-defaults reader feature gates it all."""

    def _base(self, spark, prefix="r13cd_", n=5):
        path = _fresh(prefix)
        txlog.append(
            spark.range(n).select(F.col("id").alias("k")).repartition(1),
            path,
        )
        return path

    def test_initial_default_backfills_pre_add_rows_metadata_only(
        self, spark
    ):
        path = self._base(spark)
        files_before = set(txlog.visible_files(path))
        txlog.add_column(spark, path, "src", "string", default="'legacy'")
        assert set(txlog.visible_files(path)) == files_before  # zero rewrites
        got = {r.k: r.src for r in txlog.read(spark, path).collect()}
        assert got == {i: "legacy" for i in range(5)}
        assert "column-defaults" in txlog.table_protocol(path)[
            "reader_features"
        ]

    def test_write_default_fills_omissions_null_and_values_preserved(
        self, spark
    ):
        path = self._base(spark)
        txlog.add_column(spark, path, "n", "int", default="7")
        txlog.append(
            spark.range(5, 7).select(F.col("id").alias("k")).repartition(1),
            path,
        )
        txlog.append(
            spark.range(7, 9)
            .select(F.col("id").alias("k"), F.lit(None).cast("int").alias("n"))
            .repartition(1),
            path,
        )
        txlog.append(
            spark.range(9, 10)
            .select(F.col("id").alias("k"), F.lit(42).alias("n"))
            .repartition(1),
            path,
        )
        got = {r.k: r.n for r in txlog.read(spark, path).collect()}
        assert got == {0: 7, 1: 7, 2: 7, 3: 7, 4: 7, 5: 7, 6: 7,
                       7: None, 8: None, 9: 42}

    def test_time_travel_below_add_sees_no_column(self, spark):
        path = self._base(spark)
        txlog.add_column(spark, path, "src", "string", default="'x'")
        assert txlog.read(spark, path, version=1).columns == ["k"]
        assert "column-defaults" not in txlog.table_protocol(path, 1).get(
            "reader_features", []
        )

    def test_set_column_default_changes_but_never_clears_under_initial(
        self, spark
    ):
        path = self._base(spark)
        txlog.add_column(spark, path, "src", "string", default="'a'")
        txlog.set_column_default(spark, path, "src", "'b'")
        txlog.append(
            spark.range(5, 6).select(F.col("id").alias("k")).repartition(1),
            path,
        )
        got = {r.k: r.src for r in txlog.read(spark, path).collect()}
        assert got[0] == "a" and got[5] == "b"  # initial immutable
        with pytest.raises(ValueError, match="cannot clear"):
            txlog.set_column_default(spark, path, "src", None)
        # a plain (no-initial) column CAN set and clear a write default
        txlog.add_column(spark, path, "m", "int")
        txlog.set_column_default(spark, path, "m", "3")
        txlog.set_column_default(spark, path, "m", None)

    def test_add_column_validations(self, spark):
        path = self._base(spark)
        with pytest.raises(ValueError, match="already exists"):
            txlog.add_column(spark, path, "k", "int")
        with pytest.raises(ValueError, match="not a constant"):
            txlog.add_column(spark, path, "b", "int", default="k + 1")
        with pytest.raises(ValueError, match="NULL default"):
            txlog.add_column(spark, path, "b", "int", default="NULL")
        with pytest.raises(ValueError, match="invalid column type"):
            txlog.add_column(spark, path, "b", "intt")

    def test_predicates_see_the_default(self, spark):
        """A DELETE keyed on the defaulted column must hit pre-add rows
        through the backfill — the read path IS the mutation scan."""
        path = self._base(spark)
        txlog.add_column(spark, path, "src", "string", default="'old'")
        txlog.append(
            spark.range(5, 8)
            .select(F.col("id").alias("k"), F.lit("new").alias("src"))
            .repartition(1),
            path,
        )
        txlog.delete_where(spark, path, F.col("src") == "old")
        got = sorted(r.k for r in txlog.read(spark, path).collect())
        assert got == [5, 6, 7]

    def test_merge_insert_leg_fills_write_default(self, spark):
        path = self._base(spark)
        txlog.add_column(spark, path, "src", "string", default="'old'")
        src = spark.createDataFrame(
            [(3, ), (99, )], "k bigint"
        ).repartition(1)
        txlog.merge_into(
            spark, path, src, keys=["k"],
            when_matched=False, when_not_matched=True,
        )
        got = {r.k: r.src for r in txlog.read(spark, path).collect()}
        assert got[99] == "old" and got[3] == "old"

    def test_reorg_purge_materializes_then_feature_drops(self, spark):
        path = self._base(spark)
        txlog.add_column(spark, path, "src", "string", default="'x'")
        with pytest.raises(ValueError, match="predate"):
            txlog.drop_feature(path, "column-defaults")
        txlog.reorg_purge(spark, path)
        txlog.drop_feature(path, "column-defaults")
        assert "column-defaults" not in txlog.table_protocol(path).get(
            "reader_features", []
        )
        got = {r.k: r.src for r in txlog.read(spark, path).collect()}
        assert got == {i: "x" for i in range(5)}  # values now IN the files

    def test_restore_below_add_reverts_defaults(self, spark):
        path = self._base(spark)
        v1 = txlog.current_version(path)
        txlog.add_column(spark, path, "src", "string", default="'x'")
        txlog.restore(path, v1)
        assert txlog.read(spark, path).columns == ["k"]
        # re-adding after the restore starts a fresh default epoch
        txlog.add_column(spark, path, "src", "string", default="'y'")
        got = {r.k: r.src for r in txlog.read(spark, path).collect()}
        assert got == {i: "y" for i in range(5)}

    def test_clone_carries_backfill_with_explicit_pre_files(self, spark):
        path = self._base(spark)
        txlog.add_column(spark, path, "src", "string", default="'old'")
        txlog.append(
            spark.range(5, 7)
            .select(F.col("id").alias("k"), F.lit("new").alias("src"))
            .repartition(1),
            path,
        )
        c1 = _fresh("r13cdc1_")
        txlog.clone(path, c1)
        got = {r.k: r.src for r in txlog.read(spark, c1).collect()}
        assert got == {0: "old", 1: "old", 2: "old", 3: "old", 4: "old",
                       5: "new", 6: "new"}
        # clone-of-clone re-keys the recorded pre-add list
        c2 = _fresh("r13cdc2_")
        txlog.clone(c1, c2)
        got2 = {r.k: r.src for r in txlog.read(spark, c2).collect()}
        assert got2 == got

    def test_rename_and_drop_rekey_the_defaults(self, spark):
        path = self._base(spark)
        txlog.add_column(spark, path, "src", "string", default="'x'")
        txlog.rename_column(path, "src", "origin")
        got = {r.k: r.origin for r in txlog.read(spark, path).collect()}
        assert got == {i: "x" for i in range(5)}
        txlog.drop_column(path, "origin")
        assert txlog.read(spark, path).columns == ["k"]
        assert not (txlog.latest_meta(path, "column_defaults") or {})

    def test_constraint_validation_sees_the_default(self, spark):
        """add_constraint's existing-row scan reads through the backfill,
        and an append omitting the column passes the CHECK via the write
        default — the defaults participate in every contract scan."""
        path = self._base(spark)
        txlog.add_column(spark, path, "rate", "double", default="2.0")
        txlog.add_constraint(spark, path, "rate_pos", "rate > 0")
        txlog.append(
            spark.range(5, 7).select(F.col("id").alias("k")).repartition(1),
            path,
        )
        with pytest.raises(ValueError, match="rate_pos"):
            txlog.append(
                spark.range(7, 8)
                .select(F.col("id").alias("k"), F.lit(-1.0).alias("rate"))
                .repartition(1),
                path,
            )
        got = {r.k: r.rate for r in txlog.read(spark, path).collect()}
        assert got == {i: 2.0 for i in range(7)}

    def test_batch_cdf_change_files_across_the_boundary(self, spark):
        """A CoW delete BEFORE the add wrote change files lacking the
        column; a batch CDF window crossing the boundary renders them
        with the default (footer-truth fallback for _change_data)."""
        path = self._base(spark, n=6)
        txlog.delete_where(spark, path, F.col("k") >= 4)
        txlog.add_column(spark, path, "src", "string", default="'old'")
        ch = txlog.table_changes(spark, path, 1, 3)  # (1,3] = the delete
        rows = {(r.k, r._change_type): r.src for r in ch.collect()}
        assert rows[(4, "delete")] == "old" and rows[(5, "delete")] == "old"

    def test_stream_renders_backfill_for_pre_add_commits(
        self, spark, tmp_path
    ):
        from datalake_brief_spark.streaming.source import (
            register_txlog_source,
        )

        register_txlog_source(spark)
        path = self._base(spark, "r13cds_")
        txlog.add_column(spark, path, "src", "string", default="'old'")
        txlog.append(
            spark.range(5, 7)
            .select(F.col("id").alias("k"), F.lit("new").alias("src"))
            .repartition(1),
            path,
        )
        stream = spark.readStream.format("txlog").option("path", path).load()
        q = (
            stream.writeStream.format("memory")
            .queryName("cds1")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        try:
            q.processAllAvailable()
            got = {
                r.k: r.src
                for r in spark.sql("SELECT * FROM cds1").collect()
            }
        finally:
            q.stop()
        assert got == {0: "old", 1: "old", 2: "old", 3: "old", 4: "old",
                       5: "new", 6: "new"}

    def test_date_and_decimal_defaults_roundtrip(self, spark):
        path = self._base(spark)
        txlog.add_column(
            spark, path, "d", "date", default="DATE'2020-06-01'"
        )
        txlog.add_column(
            spark, path, "amt", "decimal(12,2)", default="12.30"
        )
        row = txlog.read(spark, path).filter("k = 0").collect()[0]
        import datetime
        from decimal import Decimal

        assert row.d == datetime.date(2020, 6, 1)
        assert row.amt == Decimal("12.30")
