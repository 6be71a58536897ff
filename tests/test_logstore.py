"""LogStore seam (sources/logstore.py): the storage contract the txlog
commit protocol rides on — put_if_absent mutual exclusion, torn-write-safe
checkpoint puts, idempotent reclamation — pinned both at the interface and
END-TO-END (a double commit of the same version must fail THROUGH the
seam, and every commit-protocol byte must route through it)."""

from __future__ import annotations

import json
import os

import pytest

from datalake_brief_spark.sources import logstore, txlog
from datalake_brief_spark.sources.logstore import LocalLogStore, LogStore


class TestLocalContract:
    def test_put_if_absent_is_exclusive(self, tmp_path):
        store = LocalLogStore()
        p = str(tmp_path / "d" / "00001.json")
        store.put_if_absent(p, "first")
        with pytest.raises(FileExistsError):
            store.put_if_absent(p, "second")
        # the loser must not have clobbered the winner's payload
        assert store.read_text(p) == "first"

    def test_put_atomic_overwrites_and_leaves_no_residue(self, tmp_path):
        store = LocalLogStore()
        p = str(tmp_path / "d" / "cp.json")
        store.put_atomic(p, "v1")
        store.put_atomic(p, "v2")
        assert store.read_text(p) == "v2"
        assert os.listdir(tmp_path / "d") == ["cp.json"]  # no .tmp orphans

    def test_list_dir_and_idempotent_deletes(self, tmp_path):
        store = LocalLogStore()
        assert store.list_dir(str(tmp_path / "absent")) == []
        d = tmp_path / "d"
        store.put_if_absent(str(d / "b.json"), "x")
        store.put_if_absent(str(d / "a.json"), "y")
        assert store.list_dir(str(d)) == ["a.json", "b.json"]
        store.delete(str(d / "a.json"))
        store.delete(str(d / "a.json"))  # second delete: no error
        assert store.list_dir(str(d)) == ["b.json"]
        store.delete_tree(str(d))
        store.delete_tree(str(d))
        assert store.list_dir(str(d)) == []


class TestResolution:
    def test_plain_path_resolves_local(self, tmp_path):
        assert isinstance(logstore.for_path(str(tmp_path)), LocalLogStore)

    def test_object_store_scheme_names_its_strategy(self):
        with pytest.raises(NotImplementedError, match="If-None-Match"):
            logstore.for_path("s3://bucket/table")
        with pytest.raises(NotImplementedError, match="set_log_store"):
            logstore.for_path("abfss://c@acct.dfs.core.windows.net/t")

    def test_unknown_scheme_rejected(self):
        with pytest.raises(ValueError, match="no LogStore"):
            logstore.for_path("weird://x/y")

    def test_injection_registers_and_unregisters(self, tmp_path):
        marker = LocalLogStore()
        logstore.set_log_store("s3", marker)
        try:
            assert logstore.for_path("s3://bucket/t") is marker
        finally:
            logstore.set_log_store("s3", None)
        with pytest.raises(NotImplementedError):
            logstore.for_path("s3://bucket/t")


class _CountingStore(LogStore):
    """Delegating store that records every commit-protocol call — proof the
    protocol routes through the seam, not around it."""

    def __init__(self):
        self.inner = LocalLogStore()
        self.calls: list[tuple[str, str]] = []

    def put_if_absent(self, p, payload):
        self.calls.append(("put_if_absent", os.path.basename(p)))
        self.inner.put_if_absent(p, payload)

    def put_atomic(self, p, payload):
        self.calls.append(("put_atomic", os.path.basename(p)))
        self.inner.put_atomic(p, payload)

    def read_text(self, p):
        return self.inner.read_text(p)

    def list_dir(self, d):
        return self.inner.list_dir(d)

    def delete(self, p):
        self.calls.append(("delete", os.path.basename(p)))
        self.inner.delete(p)

    def delete_tree(self, d):
        self.calls.append(("delete_tree", os.path.basename(d)))
        self.inner.delete_tree(d)


@pytest.fixture()
def counting_store():
    store = _CountingStore()
    logstore.set_log_store("", store)
    try:
        yield store
    finally:
        logstore.set_log_store("", LocalLogStore())


class TestProtocolThroughSeam:
    def test_double_commit_of_same_version_fails_through_seam(
        self, spark, tmp_path, counting_store
    ):
        """The done-criterion: two writers racing to one version must be
        decided BY the store's put_if_absent — exactly two attempts
        recorded, exactly one winner, CommitConflict for the loser."""
        path = str(tmp_path / "t")
        df = spark.createDataFrame([(1, "a")], "id long, v string")
        txlog.append(df, path)  # v1 through the seam
        adds = [
            os.path.relpath(p, path) for p in txlog.visible_files(path, 1)
        ]
        with pytest.raises(txlog.CommitConflict, match="already committed"):
            txlog._try_commit(path, 1, adds, [])  # noqa: SLF001
        attempts = [c for c in counting_store.calls if c[0] == "put_if_absent"]
        assert len(attempts) == 2  # both the winner and the loser routed here
        assert attempts[0] == attempts[1]
        # the winning commit's payload is intact and readable through the seam
        commit = json.loads(
            counting_store.read_text(txlog._commit_path(path, 1))  # noqa: SLF001
        )
        assert commit["version"] == 1 and commit["adds"] == adds

    def test_append_retry_resolves_race_through_seam(self, spark, tmp_path, counting_store):
        """A lost race retried by append lands as the NEXT version — the
        loser's second put_if_absent targets v+1, all through the seam."""
        path = str(tmp_path / "t")
        df = spark.createDataFrame([(1, "a")], "id long, v string")
        txlog.append(df, path)
        txlog.append(df, path)
        names = [n for op, n in counting_store.calls if op == "put_if_absent"]
        assert names == [
            f"{1:020d}.json",
            f"{2:020d}.json",
        ]
        assert txlog.read(spark, path).count() == 2

    def test_checkpoint_and_vacuum_route_through_seam(
        self, spark, tmp_path, counting_store
    ):
        path = str(tmp_path / "t")
        df = spark.createDataFrame([(1, "a")], "id long, v string")
        for _ in range(10):  # _CHECKPOINT_EVERY = 10
            txlog.append(df, path)
        assert ("put_atomic", f"{10:020d}.checkpoint.json") in counting_store.calls
        # vacuum on a checkpoint-free table (retention floor 1, so the
        # superseded v1 files actually reclaim) — deletes route through
        path2 = str(tmp_path / "t2")
        txlog.append(df, path2)
        txlog.overwrite(df, path2)
        deleted = txlog.vacuum(path2, retain_versions=1)
        assert deleted
        assert any(op == "delete" for op, _ in counting_store.calls)

    def test_table_lifecycle_identical_through_counting_seam(
        self, spark, tmp_path, counting_store
    ):
        """No behavior change through the seam: append → delete → update →
        read/CDC all produce the same results as the direct-store suite."""
        path = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(i, f"v{i}") for i in range(1, 5)], "id long, v string"
        )
        txlog.append(df, path)
        txlog.delete_where(spark, path, "id = 1")
        txlog.update_where(spark, path, "id = 2", {"v": txlog.F.lit("X")})
        got = sorted(
            (r.id, r.v) for r in txlog.read(spark, path).collect()
        )
        assert got == [(2, "X"), (3, "v3"), (4, "v4")]
        rows = sorted(
            (r.id, r._change_type, r._commit_version)
            for r in txlog.table_changes(spark, path, 1, 3).collect()
        )
        assert rows == [
            (1, "delete", 2),
            (2, "delete", 3),
            (2, "insert", 3),
        ]


class _MarkerCountingStore(LocalLogStore):
    """Local store counting reads of checkpoint markers (each one parses
    the whole live-file JSON) and commit existence probes."""

    def __init__(self):
        self.markers = 0
        self.probes = 0

    def read_text(self, p):
        self.markers += p.endswith(".checkpoint.json")
        return super().read_text(p)

    def exists(self, p):
        self.probes += 1
        return super().exists(p)


class TestLogTraffic:
    def test_one_walk_per_snapshot_question(self, spark, tmp_path):
        """Pin the log traffic of the one log walk on a table whose tip sits
        four commits above a checkpoint (23 appends, then a DV delete):
        planning a read resolves the protocol, the snapshot (files and
        DVs together) and the scan's meta once each; a metadata-only DDL
        reads its inputs from one meta resolution at its read version."""
        path = str(tmp_path / "t")
        for i in range(23):
            txlog.append(
                spark.createDataFrame([(i, i * 10)], "id long, v long").coalesce(1),
                path,
                stats_cols=["id"],
            )
        txlog.delete_where_dv(spark, path, "id = 2")
        store = _MarkerCountingStore()
        logstore.set_log_store("", store)
        try:
            txlog.read(spark, path)
            assert (store.markers, store.probes) == (3, 0)
            store.markers = store.probes = 0
            txlog.rename_column(path, "v", "w")
            assert store.markers == 1
        finally:
            logstore.set_log_store("", LocalLogStore())
        assert txlog.latest_meta(path, "column_mapping") == {"w": "v"}

    def test_append_reads_pinned_meta_once(self, spark, tmp_path):
        """An append into a table with a CHECK constraint, a generated
        column and a write default resolves its pinned meta once before
        it lands (the write contract and the schema check read it); its
        first commit attempt lands after the pinned meta and reads no
        tip: 1 marker read."""
        path = str(tmp_path / "t")
        for i in range(23):
            txlog.append(
                spark.createDataFrame(
                    [(i, i * 10, i * 20)], "id long, v long, w long"
                ).coalesce(1),
                path,
                stats_cols=["id"],
            )
        txlog.add_constraint(spark, path, "pos", "v >= 0")
        txlog.add_generated_column(path, "w", "v * 2", "bigint", spark=spark)
        txlog.set_column_default(spark, path, "v", "7")
        store = _MarkerCountingStore()
        logstore.set_log_store("", store)
        try:
            v = txlog.append(spark.createDataFrame([(23,)], "id long"), path)
            assert store.markers == 1
        finally:
            logstore.set_log_store("", LocalLogStore())
        row = txlog.read(spark, path, version=v).filter("id = 23").collect()[0]
        assert (row.v, row.w) == (7, 14)


class TestS3ConditionalContract:
    """The shipped object-store LogStore (round-13 VERDICT ask #2):
    mutual exclusion rides the server-side conditional write (S3
    If-None-Match:* / ABFS etag / GCS generation-match), never LIST or
    client locks — proven against the in-memory fake with forced lost
    races, torn puts, and stale-list anomalies."""

    def _store(self):
        client = logstore.InMemoryObjectClient()
        return logstore.S3ConditionalLogStore(client), client

    def test_put_if_absent_maps_412_to_exists(self):
        store, _ = self._store()
        store.put_if_absent("s3://b/t/_txlog/00001.json", "winner")
        with pytest.raises(FileExistsError, match="If-None-Match"):
            store.put_if_absent("s3://b/t/_txlog/00001.json", "loser")
        assert store.read_text("s3://b/t/_txlog/00001.json") == "winner"

    def test_gcs_generation_match_twin(self):
        client = logstore.InMemoryObjectClient()
        store = logstore.GcsGenerationLogStore(client)
        store.put_if_absent("gs://b/t/_txlog/00001.json", "winner")
        with pytest.raises(FileExistsError, match="generation"):
            store.put_if_absent("gs://b/t/_txlog/00001.json", "loser")
        assert store.read_text("gs://b/t/_txlog/00001.json") == "winner"
        # non-zero generation CAS: deletes reset the generation to absent
        store.delete("gs://b/t/_txlog/00001.json")
        store.put_if_absent("gs://b/t/_txlog/00001.json", "fresh")

    def test_lost_race_at_the_worst_instant(self):
        """race_hook fires BEFORE the precondition evaluates — the
        adversarial interleaving a check-then-write client would lose
        silently. The conditional put loses LOUDLY instead."""
        store, client = self._store()
        key = "s3://b/t/_txlog/00007.json"
        client.race_hook = lambda: client.put_object(key, b"sneaky-winner")
        with pytest.raises(FileExistsError):
            store.put_if_absent(key, "late-loser")
        assert store.read_text(key) == "sneaky-winner"

    def test_torn_put_leaves_no_partial_object(self):
        store, client = self._store()
        key = "s3://b/t/_txlog/00002.json"
        client.tear_next_put()
        with pytest.raises(ConnectionError):
            store.put_if_absent(key, "half-uploaded")
        # single-key PUT atomicity: the failed upload is invisible
        assert not store.exists(key)
        store.put_if_absent(key, "retried")  # the retry wins cleanly
        assert store.read_text(key) == "retried"

    def test_stale_list_cannot_break_mutual_exclusion(self):
        """Eventual-list anomaly: both writers resolve the tip from a
        STALE listing (missing the newest commit), so both target the
        same version — the conditional write still yields exactly one
        winner. ACID never rides LIST."""
        store, client = self._store()
        path = "s3://bucket/table"
        logstore.set_log_store("s3", store)
        try:
            # metadata-only commits: the in-memory client holds no real
            # parquet, and the LOG protocol is what is under test
            txlog._try_commit(path, 1, [], [], meta={"op": "write", "n": 1})
            txlog._try_commit(path, 2, [], [], meta={"op": "write", "n": 2})
            client.freeze_listing()
            txlog._try_commit(path, 3, [], [], meta={"op": "write", "n": 3})
            # stale LIST hides commit 3 from both writers
            assert txlog.current_version(path) == 2
            with pytest.raises(txlog.CommitConflict):
                txlog._try_commit(path, 3, [], [], meta={"op": "write", "n": 99})
            client.thaw_listing()
            assert txlog.current_version(path) == 3
            assert txlog._load_commit(path, 3)["meta"]["n"] == 3
        finally:
            logstore.set_log_store("s3", None)

    def test_list_dir_returns_direct_children(self):
        store, _ = self._store()
        store.put_if_absent("s3://b/t/_txlog/00001.json", "x")
        store.put_if_absent("s3://b/t/_txlog/00002.json", "y")
        store.put_if_absent("s3://b/t/_dv/g1/part-0.parquet", "z")
        assert store.list_dir("s3://b/t/_txlog") == ["00001.json", "00002.json"]
        assert store.list_dir("s3://b/t/_dv") == ["g1"]
        assert store.list_dir("s3://b/t/absent") == []
        store.delete_tree("s3://b/t/_txlog")
        assert store.list_dir("s3://b/t/_txlog") == []


@pytest.fixture()
def s3_routed():
    """Route the local scheme through the shipped conditional-write store
    (filesystem-backed client: Spark still reads/writes the parquet at
    the same paths natively, the LOG rides pure object semantics)."""
    client = logstore.FilesystemObjectClient()
    store = logstore.S3ConditionalLogStore(client)
    logstore.set_log_store("", store)
    try:
        yield client
    finally:
        logstore.set_log_store("", LocalLogStore())


class TestLifecycleThroughS3Store:
    def test_full_txlog_lifecycle(self, spark, tmp_path, s3_routed):
        """End-to-end through the object-store seam: append → checkpoint
        → DV merge → delete → time travel → expire → vacuum all work with
        commits landed by conditional writes only."""
        from pyspark.sql import functions as F

        path = str(tmp_path / "t")
        for i in range(4):
            txlog.append(
                spark.range(i * 10, (i + 1) * 10)
                .select(F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")),
                path,
                stats_cols=["k"],
            )
        txlog.checkpoint_now(path)
        src = spark.createDataFrame([(5, -1.0), (99, 9.0)], "k long, v double")
        txlog.merge_into(
            spark, path, src, ["k"],
            when_matched=[("update", "*")], when_not_matched=True,
            use_dvs=True,
        )
        assert txlog.visible_dvs(path)
        assert txlog.read_mor(spark, path).filter("k = 5").collect()[0]["v"] == -1.0
        assert txlog.read_mor(spark, path).count() == 41
        txlog.delete_where(spark, path, "k >= 30 and k < 40")
        assert txlog.read_mor(spark, path).count() == 31
        # time travel below the merge still resolves
        assert txlog.read(spark, path, version=4).count() == 40
        txlog.checkpoint_now(path)
        reclaimed = txlog.expire_log(path, retain_versions=2)
        assert reclaimed
        txlog.vacuum(path, retain_versions=1)
        assert txlog.read_mor(spark, path).count() == 31

    def test_append_retries_through_conditional_conflict(
        self, spark, tmp_path, s3_routed
    ):
        path = str(tmp_path / "t")
        txlog.append(spark.range(5), path)
        v = txlog.current_version(path)
        # adversary steals our exact target version at the worst instant
        s3_routed.race_hook = lambda: logstore.for_path(path).put_if_absent(
            txlog._commit_path(path, v + 1),
            '{"version": %d, "adds": [], "removes": [], '
            '"ts": "2026-08-16T00:00:00+00:00"}' % (v + 1),
        )
        txlog.append(spark.range(5, 10), path)  # blind append retries past it
        assert txlog.current_version(path) == v + 2
        assert txlog.read(spark, path).count() == 10

    def test_torn_commit_is_invisible_and_retryable(
        self, spark, tmp_path, s3_routed, monkeypatch
    ):
        path = str(tmp_path / "t")
        txlog.append(spark.range(5), path)
        client = s3_routed
        orig = client.put_object
        state = {"torn": False}

        def tearing(key, body, **kw):
            if kw.get("if_none_match") and not state["torn"]:
                state["torn"] = True
                raise ConnectionError("simulated torn upload")
            return orig(key, body, **kw)

        monkeypatch.setattr(client, "put_object", tearing)
        with pytest.raises(ConnectionError):
            txlog.append(spark.range(5, 10), path)
        assert txlog.current_version(path) == 1  # nothing half-visible
        assert txlog.read(spark, path).count() == 5
        txlog.append(spark.range(5, 10), path)  # clean retry
        assert txlog.read(spark, path).count() == 10
