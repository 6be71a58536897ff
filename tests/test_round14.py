"""Round-14 optimization regression tests.

Covers the bytes-aware ``spread_scan`` split estimate (VERDICT r13 #3) and
the min/max duplicate-gram aggregate in ``repeated_spans`` (equivalence of
the no-count_distinct fast path at the default ``min_docs=2``).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datalake_brief_spark.functions import spread_scan
from datalake_brief_spark.operators import dedup

from tests.conftest import SF_SMOKE


class TestSpreadScanBytesAware:
    def test_single_small_file_still_spreads(self, spark):
        df = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        out = spread_scan(df)
        assert out is not df
        plan = out._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        assert "RoundRobinPartitioning" in plan

    def test_few_large_splittable_files_noop(self, spark, tmp_path):
        """A layout of FEW files whose bytes already yield ≥ parallelism
        scan splits via maxPartitionBytes must NOT be shuffled: the scan
        parallelizes for free (the r13 estimate compared file COUNT only
        and would have round-robin-shuffled the raw payload)."""
        p = str(tmp_path / "big")
        # small row groups (dozens of them, ≥ 2·parallelism): the split
        # estimate is capped by the footers' row-group count
        spark.range(0, 200_000).select(
            F.col("id"), F.sha2(F.col("id").cast("string"), 256).alias("pad")
        ).coalesce(1).write.option("parquet.block.size", 128 * 1024).parquet(p)
        df = spark.read.parquet(p)
        [f] = df.inputFiles()
        import os
        from urllib.parse import urlparse

        size = os.path.getsize(urlparse(f).path)
        par = spark.sparkContext.defaultParallelism
        old = spark.conf.get("spark.sql.files.maxPartitionBytes")
        try:
            # one file, but bytes/mpb ≥ 2·parallelism splits → no-op
            spark.conf.set(
                "spark.sql.files.maxPartitionBytes", str(max(size // (2 * par), 1))
            )
            assert spread_scan(df) is df
            # and the inverse: mpb larger than the file → 1 split → spread
            spark.conf.set("spark.sql.files.maxPartitionBytes", str(size * 10))
            assert spread_scan(df) is not df
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", old)

    def test_single_row_group_file_spreads(self, spark, tmp_path):
        """Bytes alone say ≥ 2·parallelism splits, but the file is ONE row
        group, so the scan has one non-empty task: it must spread."""
        p = str(tmp_path / "one_rg")
        spark.range(0, 200_000).select(
            F.col("id"), F.sha2(F.col("id").cast("string"), 256).alias("pad")
        ).coalesce(1).write.parquet(p)
        df = spark.read.parquet(p)
        [f] = df.inputFiles()
        import os
        from urllib.parse import urlparse

        import pyarrow.parquet as pq

        local = urlparse(f).path
        assert pq.ParquetFile(local).num_row_groups == 1
        par = spark.sparkContext.defaultParallelism
        old = spark.conf.get("spark.sql.files.maxPartitionBytes")
        try:
            spark.conf.set(
                "spark.sql.files.maxPartitionBytes",
                str(max(os.path.getsize(local) // (2 * par), 1)),
            )
            out = spread_scan(df)
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", old)
        assert out is not df
        plan = out._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        assert "RoundRobinPartitioning" in plan

    def test_many_files_short_circuit(self, spark, tmp_path):
        """≥ parallelism files never stat sizes and never spread."""
        p = str(tmp_path / "many")
        par = spark.sparkContext.defaultParallelism
        spark.range(0, 1000).repartition(par + 1).write.parquet(p)
        df = spark.read.parquet(p)
        assert len(df.inputFiles()) >= par
        assert spread_scan(df) is df


class TestRepeatedSpansMinMax:
    def test_min_docs_2_equals_count_distinct_path(self, spark):
        """The min≠max fast path (min_docs=2) must return row-identical
        spans to the general count_distinct path (min_docs≥2 semantics are
        the oracle contract)."""
        d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        fast = dedup.repeated_spans(d, k=5, min_docs=2)
        # the general path, forced by a non-default threshold, then checked
        # at threshold 2 via its own aggregate: build it inline
        from datalake_brief_spark.functions import tokens, word_ngram_array

        grams = (
            spread_scan(d.select("doc_id", "text"))
            .select(
                F.col("doc_id"),
                F.posexplode_outer(word_ngram_array(tokens("text"), 5)).alias(
                    "pos", "__g"
                ),
            )
            .filter(F.col("__g").isNotNull())
            .select(F.col("doc_id"), "pos", F.xxhash64("__g").alias("__gh"))
        )
        plan_fast = fast._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
        assert "count(distinct" not in plan_fast.lower()
        dup = (
            grams.groupBy("__gh")
            .agg(F.count_distinct(F.col("doc_id")).alias("__df"))
            .filter(F.col("__df") >= 2)
            .select("__gh")
        )
        hits = grams.join(dup, "__gh").select("doc_id", "pos")
        from pyspark.sql import Window

        w = Window.partitionBy("doc_id").orderBy("pos")
        brk = F.when(F.col("pos") > F.lag("pos").over(w) + 5, F.lit(1)).otherwise(
            F.lit(0)
        )
        ref = (
            hits.withColumn("__brk", brk)
            .withColumn(
                "__sid",
                F.sum("__brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
            )
            .groupBy("doc_id", "__sid")
            .agg(
                F.min("pos").cast("long").alias("span_start"),
                (F.max("pos") + 4).cast("long").alias("span_end"),
                (F.max("pos") - F.min("pos") + 5).cast("long").alias("span_tokens"),
            )
            .drop("__sid")
        )
        assert sorted(map(tuple, fast.collect())) == sorted(
            map(tuple, ref.collect())
        )

    def test_min_docs_3_keeps_count_distinct(self, spark):
        d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        df3 = dedup.repeated_spans(d, k=5, min_docs=3)
        plan = df3._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
        assert "count(" in plan.lower()


class TestMergeDupGuardSkip:
    """r14: the dup-keys guard job is skipped when the candidate-pruning
    agg proves every non-null source key tuple distinct. The guard must
    still fire on real duplicates (covered in test_txlog/test_round13);
    these pin the uniqueness-detection edges."""

    def test_duplicate_null_keys_do_not_trip_the_guard(self, spark, tmp_path):
        from datalake_brief_spark.sources import txlog

        path = str(tmp_path / "t")
        txlog.append(
            spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
            path,
            stats_cols=["id"],
        )
        # two NULL-key rows: non-unique as raw tuples, but NULL never
        # equi-matches — the merge must succeed and insert nothing/match
        # nothing (SQL MERGE semantics), not raise the dup-source error
        src = spark.createDataFrame(
            [(None, "x"), (None, "y"), (1, "u")], "id long, v string"
        )
        txlog.merge_into(
            spark, path, src, ["id"],
            when_matched=[("update", "*")], when_not_matched=False,
        )
        got = {r.id: r.v for r in txlog.read(spark, path).collect()}
        assert got == {1: "u", 2: "b"}

    def test_unique_keys_merge_matches_and_commits(self, spark, tmp_path):
        from datalake_brief_spark.sources import txlog

        path = str(tmp_path / "t")
        txlog.append(
            spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
            path,
            stats_cols=["id"],
        )
        src = spark.createDataFrame([(1, "u1"), (2, "u2")], "id long, v string")
        v = txlog.merge_into(
            spark, path, src, ["id"],
            when_matched=[("update", "*")], when_not_matched=False,
        )
        assert v == 2
        got = {r.id: r.v for r in txlog.read(spark, path).collect()}
        assert got == {1: "u1", 2: "u2"}
        # CDF recorded the update pair for both rows (the overlapped
        # change-feed write landed before the commit referenced it)
        ch = txlog.table_changes(spark, path, 1, 2)
        kinds = sorted(r["_change_type"] for r in ch.collect())
        assert kinds == ["delete", "delete", "insert", "insert"]
