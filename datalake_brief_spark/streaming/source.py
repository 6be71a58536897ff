"""txlog as a Spark DATA SOURCE: ``spark.read.format("txlog")`` and
``spark.readStream.format("txlog")`` via the PySpark 4 Python Data Source
API — the Delta-streaming-source story for the commit-log table.

Batch read plans over the log-resolved snapshot (same contract as
txlog.read). The STREAMING read treats the log as the offset axis: each
micro-batch covers the commits in ``(startVersion, endVersion]`` and emits
the rows of files those commits ADDED — so a downstream pipeline consumes
the table incrementally, commit by commit, with Structured Streaming
tracking the version offset in its checkpoint.

Change-commit semantics (mirrors Delta's source):

- ``append`` commits stream their added files' rows.
- Maintenance commits that only rewrite existing bytes (``optimize``,
  ``optimize_zorder``, ``reorg_purge``, constraint DDL) are
  data-change-free and are skipped entirely — their adds must NOT
  re-emit rows the stream already delivered.
- Commits that change rows (``merge``/``delete``/``update``/``overwrite``/
  ``replace_where``/``restore``, and the deletion-vector mutations
  ``delete_dv``/``update_dv``/``dv_set``) make the source
  non-append-only: the stream FAILS with a clear error unless
  ``skipChangeCommits=true`` (then the whole commit is skipped;
  downstream sees inserts-only, Delta's ``skipChangeCommits`` contract).
- Schema-layer commits (``rename_column``/``drop_column``/
  ``widen_column_type``, or any commit that rewrites the column mapping)
  FAIL the stream UNCONDITIONALLY —
  ``skipChangeCommits`` skips one commit's rows, but a mapping change
  poisons every later file's column resolution; restart from a fresh
  checkpoint (Delta's stream-fails-on-schema-change behavior). With
  ``option("schemaTrackingLocation", dir)`` (the Delta analog, VERDICT
  r10 ask #6) the failure records the post-change schema + mapping in a
  sidecar first, and a plain RESTART with the SAME checkpoint resumes
  from the failure offset rendering the backlog under the new logical
  schema — exactly-once preserved, no fresh checkpoint needed.

CHANGE DATA FEED streaming (``option("readChangeFeed", "true")``): each
micro-batch emits row-level changes with ``_change_type`` /
``_commit_version`` columns — appends as inserts, deletion-vector
deletes as position-exact deletes (the sidecar names the rows), an
``update_dv`` as its delete+insert pair, and rewrite commits WITH a
stored ``_change_data`` record (CoW delete/update, clause-based MERGE,
replaceWhere, spark-assisted RESTORE) stream their change files — cost
tracks the changed rows. Only LEGACY rewrite commits lacking a stored
record (or a session-less restore) fail the stream — reconstructing
them needs a cross-file diff no per-partition reader can do (Delta's
CDC needs stored change files for exactly the same reason) — unless
``skipChangeCommits=true``.

Scale shape: offsets are version numbers (tiny JSON), planning reads only
the commit files in the window (never a directory listing), and each input
partition is one parquet file read Arrow-batch-wise on the executor —
per-batch cost tracks the NEW data, never the table. Local-mode note: the
reader class is pickled to workers, which share this repo's Python
environment; a cluster deployment ships the package like any other dep.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from datalake_brief_spark.sources import txlog

#: meta ops that rewrite existing rows without changing table content —
#: invisible to the stream (Delta's dataChange=false actions)
_NO_DATA_CHANGE_OPS = {
    "optimize",
    "optimize_zorder",
    # reorg_purge materializes ALREADY-COMMITTED DV deletes / column drops
    # into fresh files — the change was the DV/DDL commit, not the purge
    "reorg_purge",
    "add_constraint",
    "drop_constraint",
}

_ARROW_TO_DDL = {
    "int8": "tinyint",
    "int16": "smallint",
    "int32": "int",
    "int64": "bigint",
    "float": "float",
    "double": "double",
    "string": "string",
    "large_string": "string",
    "bool": "boolean",
    "date32[day]": "date",
}


def _table_ddl(path: str) -> str:
    """Schema DDL for the table: the logged schema (exact Spark type
    names) when present; otherwise derived from one visible parquet
    footer (pre-schema-logging tables). Tables with a live column mapping
    (renamed/dropped columns) are rejected — the executor-side pyarrow
    reads select by PHYSICAL name while this DDL carries logical names,
    and streaming across a rename boundary is unsupported anyway (the
    same restriction Delta places on CDF/streaming under column-mapping
    changes); ``overwrite(read(...), path)`` resets the mapping to
    identity if streaming the table matters more than the rewrite.
    Dropped-only tables (empty mapping, narrower logical schema) stream
    fine — the per-file column selection simply skips the dead bytes."""
    if txlog._column_mapping(path):  # noqa: SLF001
        raise ValueError(
            f"streaming source does not support tables with a live column "
            f"mapping (renamed columns): {path!r}"
        )
    logged = txlog.latest_meta(path, "schema")
    if logged:
        return ", ".join(f"{c} {t}" for c, t in logged.items())
    import pyarrow.parquet as pq

    files = txlog.visible_files(path)
    if not files:
        raise FileNotFoundError(f"no table at {path!r} (empty log)")
    fields = []
    for f in pq.ParquetFile(files[0]).schema_arrow:
        t = str(f.type)
        if t.startswith("timestamp"):
            ddl = "timestamp"
        elif t.startswith("decimal"):
            ddl = t  # decimal(p, s) is valid DDL
        else:
            ddl = _ARROW_TO_DDL.get(t)
        if ddl is None:
            raise TypeError(f"cannot map arrow type {t!r} of column {f.name!r}")
        fields.append(f"{f.name} {ddl}")
    return ", ".join(fields)


def _tracking_file(loc: str) -> str:
    return os.path.join(loc, "txlog_schema.json")


def _load_tracking(loc: str) -> dict | None:
    """The schema-tracking state previously recorded at ``loc`` (None if
    absent/torn — a fresh stream start snapshots the current schema)."""
    try:
        with open(_tracking_file(loc)) as f:
            d = json.load(f)
        return d if isinstance(d.get("schema"), dict) else None
    except (FileNotFoundError, ValueError):
        return None


def _store_tracking(loc: str, state: dict) -> None:
    os.makedirs(loc, exist_ok=True)
    tmp = _tracking_file(loc) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(state, f)
    os.replace(tmp, _tracking_file(loc))


def _tracked_state(path: str, loc: str) -> dict:
    """Resolve (or initialize) the stream's schema-tracking state — the
    Delta ``schemaTrackingLocation`` analog (VERDICT r10 ask #6): the
    stream's logical schema and column mapping are pinned in a sidecar
    file instead of being re-derived (and mapping-rejected) at every
    start. First start records the table's CURRENT logical schema +
    mapping + version; after a mid-stream rename/drop fails the stream,
    the updated state is already on file, so a plain RESTART resumes from
    the checkpointed offset rendering every commit — including the
    pre-change backlog — under the new logical schema (physical column
    names are immutable under the mapping, so old files resolve
    correctly by physical name)."""
    st = _load_tracking(loc)
    if st is not None:
        return st
    logged = txlog.latest_meta(path, "schema")
    if not logged:
        raise ValueError(
            "schemaTrackingLocation needs a table with a logged schema "
            "(any append by this engine records one); legacy tables "
            "stream without tracking"
        )
    st = {
        "version": txlog.current_version(path),
        "schema": dict(logged),
        "mapping": dict(txlog._column_mapping(path)),  # noqa: SLF001
    }
    _store_tracking(loc, st)
    return st


def _schema_covered(new_schema: dict, declared: dict) -> bool:
    """True iff every column type in ``new_schema`` is equal to or
    NARROWER (on the widening lattice) than the stream's declared type —
    i.e. the declared schema already renders it. Historical
    ``widen_column_type`` commits below the stream's start schema are
    covered; a widen BEYOND the declared types is not (its later files
    may carry values the frozen schema cannot hold)."""
    for c, t in new_schema.items():
        d = declared.get(c)
        if d is None:
            continue  # column this stream does not project
        if d != t and not txlog._widens_to(t, d):  # noqa: SLF001
            return False
    return True


def _reject_schema_commit(
    commit: dict, op: str, v: int, declared: dict | None = None
) -> None:
    """Fail the stream on a mid-stream column-mapping change (ADVICE r8):
    rename_column/drop_column commits carry no adds/removes/dv state, so
    the change-commit guards let them pass silently — but every LATER
    file resolves columns under the new physical layout, and this
    reader's column list was fixed at stream start. After DROP COLUMN
    plus a merge-schema append re-introducing the same logical name,
    per-file logical-name selection misses the fresh physical name and
    emits NULLs for real values. Unlike row-change commits this is NOT
    skippable — ``skipChangeCommits`` skips one commit's ROWS, while a
    mapping change poisons all subsequent reads — so the stream fails
    unconditionally (Delta's stream-fails-on-schema-change behavior);
    restart from a fresh checkpoint (the source re-validates the
    mapping at start)."""
    if op == "widen_column_type" and declared:
        # a widen at-or-below the stream's declared types is benign —
        # the stream already renders the wide type (executor reads cast
        # narrow pages up); only a widen BEYOND the declared schema is
        # poison for this stream
        if _schema_covered(
            commit.get("meta", {}).get("schema") or {}, declared
        ):
            return
    if op in (
        "rename_column",
        "drop_column",
        "widen_column_type",
    ) or commit.get("meta", {}).get("column_mapping"):
        # (truthiness, not presence: an overwrite RESETS the mapping by
        # writing column_mapping {} — from that commit on every file
        # resolves logical == physical, so a stream STARTED at/after the
        # reset is sound and must not be killed by the benign marker)
        raise ValueError(
            f"txlog stream source: version {v} is a {op!r} commit that "
            f"changes the table's schema/column mapping mid-stream; later "
            f"files land under the new layout (a widened table's appends "
            f"may carry the WIDER physical type this stream's frozen "
            f"schema cannot hold), so skipping it would silently corrupt "
            f"the stream. Restart the stream "
            f"from a fresh checkpoint (skipChangeCommits does not apply "
            f"to schema-layer commits); for a HISTORICAL mapping change "
            f"already undone by a later overwrite, startingVersion past "
            f"version {v} skips the boundary."
        )


def _guard_schema_commit(
    commit: dict, op: str, v: int, path, tracking, declared: dict | None = None
) -> None:
    """Tracking-aware wrapper over :func:`_reject_schema_commit`: without
    a ``schemaTrackingLocation`` the legacy unconditional failure stands;
    with one, a schema-layer commit the TRACKED state has already adopted
    passes silently (the restart path replaying its offset), while a NEW
    change first persists the post-commit schema + mapping to the
    tracking sidecar and then fails the stream — so a plain restart
    (same checkpoint) resumes from this exact offset rendering the
    backlog under the new logical schema. Exactly-once is preserved: the
    failed batch never committed its offset."""
    if tracking is None:
        _reject_schema_commit(commit, op, v, declared)
        return
    meta = commit.get("meta", {})
    if op not in (
        "rename_column",
        "drop_column",
        "widen_column_type",
    ) and not meta.get("column_mapping"):
        return  # not a schema-layer commit (see the truthiness note above)
    loc, st = tracking
    # a widen commit carries no column_mapping key — the mapping is
    # unchanged, only the schema widened; keep the tracked mapping
    new_map = (
        dict(meta["column_mapping"])
        if "column_mapping" in meta
        else dict(st["mapping"])
    )
    new_schema = dict(txlog.latest_meta(path, "schema", v) or {})
    if new_map == st["mapping"] and (
        new_schema == st["schema"]
        or (
            op == "widen_column_type"
            and _schema_covered(new_schema, st["schema"])
        )
    ):
        return  # already adopted/covered — the restart drains past it
    _store_tracking(loc, {"version": v, "schema": new_schema, "mapping": new_map})
    raise ValueError(
        f"txlog stream source: version {v} is a {op!r} commit that changes "
        f"the table's schema/column mapping mid-stream. The post-change "
        f"schema has been recorded at the schemaTrackingLocation — restart "
        f"the stream with the SAME checkpoint and option to resume from "
        f"this offset under the new schema."
    )


#: DDL → arrow alias for the widenable numeric types: a file may carry any
#: NARROWER physical type on the widening chain than the stream's declared
#: schema (pre-widen history, or post-widen narrow-producer appends — see
#: txlog.widen_column_type), so executor reads cast to the DECLARED type.
#: Other types pass through untouched.
_DDL_TO_ARROW = {
    "tinyint": "int8",
    "smallint": "int16",
    "int": "int32",
    "bigint": "int64",
    "float": "float",
    "double": "double",
}


def _cast_declared(col, ddl: str | None):
    """Cast one arrow column to its DECLARED numeric type (no-op for
    non-widenable types or when the file already matches). Upcasts only
    in practice — wider-than-declared files cannot exist, because the
    stream fails at the widening commit before any wide file lands.
    Decimal targets parse their (precision, scale) from the DDL (the
    integer→decimal and decimal-growth widening moves)."""
    import re

    import pyarrow as pa

    want = _DDL_TO_ARROW.get(ddl or "")
    if want is not None:
        t = pa.type_for_alias(want)
        return col if col.type == t else col.cast(t)
    m = re.match(r"^decimal\((\d+),(\d+)\)$", ddl or "")
    if m:
        t = pa.decimal128(int(m.group(1)), int(m.group(2)))
        return col if col.type == t else col.cast(t)
    return col


def _arrow_target(ddl: str | None):
    """Arrow type for a Spark DDL string — the default-materialization
    resolver (wider coverage than the widening-cast map). None when the
    DDL has no arrow mapping here (caller falls back to inference)."""
    import re

    import pyarrow as pa

    base = _DDL_TO_ARROW.get(ddl or "")
    if base is not None:
        return pa.type_for_alias(base)
    if ddl == "string":
        return pa.string()
    if ddl == "boolean":
        return pa.bool_()
    if ddl == "date":
        return pa.date32()
    if ddl == "timestamp":
        return pa.timestamp("us")
    m = re.match(r"^decimal\((\d+),(\d+)\)$", ddl or "")
    if m:
        return pa.decimal128(int(m.group(1)), int(m.group(2)))
    return None


def _default_column(value, ddl: str | None, n: int):
    """Materialize one initial-default column for ``n`` rows: the stored
    canonical value (JSON primitive; temporal/decimal canonicalize to
    strings) parsed into the column's declared arrow type."""
    import pyarrow as pa
    import pyarrow.compute as pc

    t = _arrow_target(ddl)
    if t is None:
        return pa.array([value] * n)
    if isinstance(value, str) and not pa.types.is_string(t):
        # canonical string forms (date/timestamp/decimal) parse via a
        # string array cast; numeric strings too
        return pa.array([value] * n, pa.string()).cast(t)
    arr = pa.array([value] * n)
    return arr if arr.type == t else pc.cast(arr, t)


def _initial_default_values(path: str, columns: list[str]) -> list | None:
    """Per-column INITIAL default values aligned to ``columns`` (None
    where a column has none) — what a stream partition ships so a file
    that predates the column renders the default instead of NULL. The
    write-default invariant (add_column) guarantees every post-add file
    carries its defaulted columns, so column ABSENCE in a file footer is
    exactly "predates the column". Returns None when the table has no
    initial defaults (the zero-overhead common path)."""
    cds = txlog.latest_meta(path, "column_defaults") or {}
    vals = [
        cds.get(c, {}).get("initial_value")
        if cds.get(c, {}).get("initial") is not None
        else None
        for c in columns
    ]
    return vals if any(v is not None for v in vals) else None


class _FilePartition(InputPartition):
    def __init__(
        self,
        abs_path: str,
        columns: list[str],
        row_base=None,
        physical=None,
        ddl_types=None,
        defaults=None,
    ):
        self.abs_path = abs_path
        self.columns = columns
        #: base row id for this file (row-tracking streams): executor-side
        #: row_id = base + position, no lookup table shipped per row
        self.row_base = row_base
        #: physical column names parallel to ``columns`` (schema-tracked
        #: streams over a live column mapping); None → logical == physical
        self.physical = physical
        #: declared DDL type per column (parallel to ``columns``); files
        #: narrower on the widening chain cast up to it executor-side
        self.ddl_types = ddl_types
        #: initial default value per column (parallel to ``columns``);
        #: a file MISSING the column materializes this instead of NULL
        self.defaults = defaults


def _read_file_batches(partition: _FilePartition):
    """Executor-side read of one data file → Arrow RecordBatches in the
    source's column order; columns a file predates materialize as NULL
    (additive evolution). A partition carrying ``row_base`` appends the
    stable ``row_id`` column (base + file position — the same identity
    txlog.read_with_row_ids resolves). A partition carrying ``physical``
    selects file bytes by PHYSICAL name and emits them under the logical
    name (schema-tracked streams across a rename boundary). Every column
    casts to its DECLARED type (``ddl_types``) so widened tables' mixed
    physical types render uniformly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(partition.abs_path)
    cols = []
    phys = partition.physical or partition.columns
    types = partition.ddl_types or [None] * len(phys)
    dflts = partition.defaults or [None] * len(phys)
    for name, ddl, dv in zip(phys, types, dflts):
        if name in table.column_names:
            cols.append(_cast_declared(table.column(name), ddl))
        elif dv is not None:
            # the file predates this column's initial default (post-add
            # files always carry defaulted columns — the write-default
            # invariant), so the backfill renders here
            cols.append(_default_column(dv, ddl, table.num_rows))
        else:
            cols.append(pa.nulls(table.num_rows))
    out = pa.table(dict(zip(partition.columns, cols)))
    if partition.row_base is not None:
        ids = pa.array(
            range(partition.row_base, partition.row_base + out.num_rows),
            pa.int64(),
        )
        out = out.append_column("row_id", ids)
    yield from out.to_batches()


class _TxlogBatchReader(DataSourceReader):
    def __init__(self, options, columns, ddl_types=None):
        self.path = options["path"]
        self.columns = columns
        self.version = options.get("version")
        self.ddl_types = ddl_types
        self.defaults = _initial_default_values(self.path, columns)

    def partitions(self):
        v = int(self.version) if self.version is not None else None
        files = txlog.visible_files(self.path, v)
        return [
            _FilePartition(
                f, self.columns, ddl_types=self.ddl_types,
                defaults=self.defaults,
            )
            for f in files
        ] or [_FilePartition("", self.columns)]

    def read(self, partition):
        if not partition.abs_path:
            return iter(())
        return _read_file_batches(partition)


def _load_commit_or_horizon_error(path: str, v: int) -> dict:
    """One stream-planning commit read, with the expired-log contract: a
    checkpointed offset that fell below an ``expire_log`` horizon (a
    consumer down longer than the log retention) must fail with the
    named floor and recovery guidance, not a raw missing-file error —
    the same determinism the batch readers give below the horizon."""
    try:
        return txlog._load_commit(path, v)  # noqa: SLF001
    except FileNotFoundError as e:
        vs = txlog._versions(path)  # noqa: SLF001
        if vs and vs[0] > 1 and v < vs[0]:
            raise ValueError(
                f"txlog stream source: offset version {v} is below the "
                f"expired-log horizon (expire_log reclaimed its commit "
                f"records); earliest readable version is {vs[0]}. Reset "
                f"the checkpoint or restart with startingVersion="
                f"{vs[0]} — the skipped changes are unrecoverable, as "
                f"for any log retention."
            ) from e
        raise


def _cap_offset_by_files(path: str, last_offered: int, cur: int, max_files: int) -> int:
    """Bound the offered end-offset so the next micro-batch's commits add
    at most ``max_files`` files — the Delta ``maxFilesPerTrigger``
    contract on the version-offset axis (``maxVersionsPerTrigger`` bounds
    commits; this bounds the DATA those commits carry, the knob that
    matters when commit sizes vary 1000×). Always offers at least one
    commit so the stream makes progress; change-data files count too (a
    CDF batch reads them). O(offered window) tiny commit-JSON reads."""
    files = 0
    v = last_offered
    while v < cur:
        c = _load_commit_or_horizon_error(path, v + 1)
        files += len(c.get("adds", [])) + len(c.get("change_data") or [])
        v += 1
        if files >= max_files:
            break
    return v


def _cap_offset_by_bytes(path: str, last_offered: int, cur: int, max_bytes: int) -> int:
    """``maxBytesPerTrigger`` twin of :func:`_cap_offset_by_files`
    (closing Delta's rate-limit knob trio): bound the next micro-batch by
    the BYTES its commits' files carry — added data files plus change-
    record files, the IO the batch will actually schedule. File counts
    under-rate-limit when file sizes vary 1000× (one 1 GB compaction
    output vs a thousand 1 MB CDC appends); bytes is the knob that maps
    to executor memory and batch latency. Always offers at least one
    commit so the stream makes progress even when a single commit
    exceeds the cap (the Delta contract). Cost: one fstat per file over
    the offered window — metadata only, never a data page; a file
    already reclaimed by vacuum (possible for aged change records)
    contributes nothing rather than failing the poll."""
    total = 0
    v = last_offered
    while v < cur:
        c = _load_commit_or_horizon_error(path, v + 1)
        for rel in list(c.get("adds", [])) + list(c.get("change_data") or []):
            try:
                total += os.path.getsize(os.path.join(path, rel))
            except OSError:
                pass
        v += 1
        if total >= max_bytes:
            break
    return v


def _reader_tracking(path: str, options, columns):
    """Resolve a stream reader's schema-tracking pair: ``(tracking,
    physical)`` where ``tracking = (location, state)`` (None without the
    option) and ``physical`` is the per-column physical-name list under
    the tracked mapping (None when logical == physical)."""
    loc = options.get("schemaTrackingLocation")
    if not loc:
        return None, None
    st = _tracked_state(path, loc)
    physical = [st["mapping"].get(c, c) for c in columns]
    return (loc, st), (physical if physical != columns else None)


class _TxlogStreamReader(DataSourceStreamReader):
    def __init__(self, options, columns, row_ids=False, ddl_types=None):
        self.path = options["path"]
        self.columns = columns
        self.row_ids = row_ids
        self.ddl_types = ddl_types
        self.skip_change = str(
            options.get("skipChangeCommits", "false")
        ).lower() in ("true", "1")
        self.starting_version = int(options.get("startingVersion", 1))
        self.max_versions = int(options.get("maxVersionsPerTrigger", 0))
        self.max_files = int(options.get("maxFilesPerTrigger", 0))
        self.max_bytes = int(options.get("maxBytesPerTrigger", 0))
        self._last_offered = max(0, self.starting_version - 1)
        self.tracking, self.physical = _reader_tracking(
            self.path, options, columns
        )
        self.declared = dict(zip(columns, ddl_types or []))
        self.defaults = _initial_default_values(self.path, columns)

    def initialOffset(self):
        # startingVersion=N streams commit N onward (Delta's semantics:
        # the named version's changes are included); the default streams
        # the full history from version 1.
        return {"version": max(0, self.starting_version - 1)}

    def latestOffset(self):
        # maxVersionsPerTrigger=N bounds each micro-batch to N commits (the
        # maxFilesPerTrigger analog): a consumer attaching to a long
        # backlog drains it in bounded steps instead of one giant batch.
        # 0 (default) = unbounded. The cap advances from the last offset
        # this reader OFFERED — restart recovery re-seeds from the
        # checkpoint via initialOffset/partitions, so under-offering after
        # a restart only costs an extra micro-batch, never data.
        cur = txlog.current_version(self.path)
        if self.max_versions > 0:
            cur = min(cur, self._last_offered + self.max_versions)
        if self.max_files > 0:
            cur = _cap_offset_by_files(
                self.path, self._last_offered, cur, self.max_files
            )
        if self.max_bytes > 0:
            # caps compose monotonically: each can only tighten the offer
            cur = _cap_offset_by_bytes(
                self.path, self._last_offered, cur, self.max_bytes
            )
        self._last_offered = max(self._last_offered, cur)
        return {"version": cur}

    def partitions(self, start, end):
        # re-sync the rate-limit cursor after a checkpoint restart: the
        # real start offset comes from the checkpoint, not this instance
        self._last_offered = max(self._last_offered, int(start["version"]))
        parts = []
        for v in range(int(start["version"]) + 1, int(end["version"]) + 1):
            commit = _load_commit_or_horizon_error(self.path, v)
            op = commit.get("meta", {}).get("op", "write")
            _guard_schema_commit(
                commit, op, v, self.path, self.tracking, self.declared
            )
            if op in _NO_DATA_CHANGE_OPS:
                # op label is the authority for byte-rewriting maintenance
                # (optimize/zorder/constraint DDL): their removes re-land
                # identical rows — Delta's dataChange=false
                continue
            # everything else carrying removes, deletion vectors, or a
            # dv_set replacement CHANGES rows — including a RESTORE's
            # visibility flip and a DV delete with zero adds/removes
            if (
                op == "restore"
                or commit.get("removes")
                or commit.get("dv_adds")
                or commit.get("dv_set")
            ):
                if self.skip_change:
                    continue
                raise ValueError(
                    f"txlog stream source: version {v} is a {op!r} commit "
                    f"that changes existing rows; set skipChangeCommits=true "
                    f"to ignore change commits (inserts-only stream), or "
                    f"read with readChangeFeed=true to consume the changes"
                )
            backfill = None  # lazy: one registry scan per batch
            for rel in commit.get("adds", []):
                base = None
                if self.row_ids:
                    # the commit's own allocation first; a pre-enable
                    # append's base lives in the ENABLE commit's backfill,
                    # resolved at v — never at the batch END (a later
                    # rewrite inside the same batch removes the file from
                    # the end-version replay and would falsely fail here)
                    base = commit.get("row_bases", {}).get(rel)
                    if base is None:
                        if backfill is None:
                            # bases are immutable per file; the registry
                            # union finds a pre-enable append's base in the
                            # LATER enable commit, and survives the file
                            # being rewritten later in the same batch.
                            # UNCAPPED on purpose: a rate-limited batch
                            # (maxVersionsPerTrigger) can end BEFORE the
                            # enable commit while covering pre-enable
                            # appends whose bases only the enable commit's
                            # backfill records — capping at the batch end
                            # would fail those forever (ADVICE r9 #2).
                            backfill = txlog._row_base_registry(  # noqa: SLF001
                                self.path
                            )
                        base = backfill.get(rel)
                if self.row_ids and base is None:
                    raise ValueError(
                        f"rowIds stream: file {rel!r} (version {v}) has no "
                        f"base row id — written by a pre-feature writer? "
                        f"(enable_row_tracking backfills only VISIBLE files)"
                    )
                parts.append(
                    _FilePartition(
                        os.path.join(self.path, rel),
                        self.columns,
                        base,
                        self.physical,
                        self.ddl_types,
                        defaults=self.defaults,
                    )
                )
        return parts or [_FilePartition("", self.columns)]

    def read(self, partition):
        if not partition.abs_path:
            return iter(())
        return _read_file_batches(partition)

    def commit(self, end):
        self._last_offered = max(self._last_offered, int(end["version"]))


class _CdfPartition(InputPartition):
    def __init__(
        self,
        abs_path,
        columns,
        change_type,
        version,
        dv_group=None,
        physical=None,
        ddl_types=None,
    ):
        self.abs_path = abs_path
        self.columns = columns
        self.change_type = change_type
        self.version = version
        self.dv_group = dv_group
        self.physical = physical  # see _FilePartition.physical
        self.ddl_types = ddl_types  # see _FilePartition.ddl_types
        self.defaults = None  # see _FilePartition.defaults (set post-init)


def _read_cdf_batches(p: _CdfPartition):
    """Executor-side change-row materialization: an insert partition is a
    whole added file; a delete partition is a data file TAKEN at the
    row positions its deletion-vector sidecar group names for it —
    position-exact, no diffing, cost proportional to the change. A
    partition with ``change_type=None`` is a stored CHANGE-DATA file
    (rewrite commits — CoW delete/update, merge, replaceWhere, restore):
    its rows carry their own ``_change_type`` column."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    table = pq.read_table(p.abs_path)
    if p.dv_group is not None:
        dv = pq.read_table(p.dv_group)
        # a sidecar names its files by position key; older ones by basename
        keys = pa.array(
            [txlog._pos_key(p.abs_path), os.path.basename(p.abs_path)]  # noqa: SLF001
        )
        idx = (
            dv.filter(pc.is_in(dv.column("file_name"), value_set=keys))
            .column("row_index")
            .to_pylist()
        )
        table = table.take(sorted(idx))
    cols = []
    phys = p.physical or p.columns
    types = p.ddl_types or [None] * len(phys)
    dflts = p.defaults or [None] * len(phys)
    for name, ddl, dv in zip(phys, types, dflts):
        if name in table.column_names:
            cols.append(_cast_declared(table.column(name), ddl))
        elif dv is not None:
            cols.append(_default_column(dv, ddl, table.num_rows))
        else:
            cols.append(pa.nulls(table.num_rows))
    out = pa.table(dict(zip(p.columns, cols)))
    if p.change_type is None:
        ct = table.column("_change_type").cast(pa.string())
    else:
        ct = pa.array([p.change_type] * out.num_rows, pa.string())
    out = out.append_column("_change_type", ct)
    out = out.append_column(
        "_commit_version", pa.array([p.version] * out.num_rows, pa.int64())
    )
    yield from out.to_batches()


class _TxlogCdfStreamReader(DataSourceStreamReader):
    """Streaming change data feed over the commit log — same version-offset
    axis as the append reader, but every micro-batch emits ROW-LEVEL
    changes instead of failing on them (for the commit shapes the log can
    answer position-exactly)."""

    def __init__(self, options, columns, ddl_types=None):
        self.path = options["path"]
        self.columns = columns  # data columns only (no _change_type pair)
        self.ddl_types = ddl_types
        self.skip_change = str(
            options.get("skipChangeCommits", "false")
        ).lower() in ("true", "1")
        self.starting_version = int(options.get("startingVersion", 1))
        self.max_versions = int(options.get("maxVersionsPerTrigger", 0))
        self.max_files = int(options.get("maxFilesPerTrigger", 0))
        self.max_bytes = int(options.get("maxBytesPerTrigger", 0))
        self._last_offered = max(0, self.starting_version - 1)
        self.tracking, self.physical = _reader_tracking(
            self.path, options, columns
        )
        self.declared = dict(zip(columns, ddl_types or []))

    def initialOffset(self):
        return {"version": max(0, self.starting_version - 1)}

    def latestOffset(self):
        cur = txlog.current_version(self.path)
        if self.max_versions > 0:
            cur = min(cur, self._last_offered + self.max_versions)
        if self.max_files > 0:
            cur = _cap_offset_by_files(
                self.path, self._last_offered, cur, self.max_files
            )
        if self.max_bytes > 0:
            # caps compose monotonically: each can only tighten the offer
            cur = _cap_offset_by_bytes(
                self.path, self._last_offered, cur, self.max_bytes
            )
        self._last_offered = max(self._last_offered, cur)
        return {"version": cur}

    def partitions(self, start, end):
        self._last_offered = max(self._last_offered, int(start["version"]))
        parts = []
        for v in range(int(start["version"]) + 1, int(end["version"]) + 1):
            commit = _load_commit_or_horizon_error(self.path, v)
            op = commit.get("meta", {}).get("op", "write")
            _guard_schema_commit(
                commit, op, v, self.path, self.tracking, self.declared
            )
            if op in _NO_DATA_CHANGE_OPS:
                continue
            if "change_data" in commit:
                # rewrite commit WITH a stored change record (CoW delete/
                # update, merge, replaceWhere, spark-assisted restore):
                # stream the change files — each row carries its own
                # _change_type; cost tracks the changed rows
                parts += [
                    _CdfPartition(
                        os.path.join(self.path, rel),
                        self.columns,
                        None,
                        v,
                        physical=self.physical,
                        ddl_types=self.ddl_types,
                    )
                    for rel in commit["change_data"]
                ]
                continue
            if op == "restore" or commit.get("removes") or commit.get("dv_set"):
                if self.skip_change:
                    continue
                raise ValueError(
                    f"txlog CDF stream: version {v} is a {op!r} commit that "
                    f"REWRITES files — the log carries no row-level change "
                    f"record for it (reconstruction needs a cross-file diff; "
                    f"use batch table_changes), so the stream cannot emit "
                    f"it; set skipChangeCommits=true to skip such commits"
                )
            # deletion-vector positions → position-exact delete rows; an
            # update_dv commit ALSO carries adds (its rewritten rows), so
            # the insert half falls through to the generic adds below
            for rel, group in commit.get("dv_adds", {}).items():
                parts.append(
                    _CdfPartition(
                        os.path.join(self.path, rel),
                        self.columns,
                        "delete",
                        v,
                        dv_group=os.path.join(self.path, group),
                        physical=self.physical,
                        ddl_types=self.ddl_types,
                    )
                )
            for rel in commit.get("adds", []):
                parts.append(
                    _CdfPartition(
                        os.path.join(self.path, rel),
                        self.columns,
                        "insert",
                        v,
                        physical=self.physical,
                        ddl_types=self.ddl_types,
                    )
                )
        dflts = _initial_default_values(self.path, self.columns)
        for prt in parts:
            prt.defaults = dflts
        return parts or [_CdfPartition("", self.columns, "insert", 0)]

    def read(self, partition):
        if not partition.abs_path:
            return iter(())
        return _read_cdf_batches(partition)

    def commit(self, end):
        self._last_offered = max(self._last_offered, int(end["version"]))


class TxlogDataSource(DataSource):
    """``format("txlog")`` — register once per session with
    :func:`register_txlog_source`. Required option: ``path``. Batch also
    honors ``version`` (time travel); streaming honors
    ``skipChangeCommits``."""

    @classmethod
    def name(cls):
        return "txlog"

    def _cdf(self) -> bool:
        return str(self.options.get("readChangeFeed", "false")).lower() in (
            "true",
            "1",
        )

    def _row_ids(self) -> bool:
        return str(self.options.get("rowIds", "false")).lower() in ("true", "1")

    def schema(self):
        loc = self.options.get("schemaTrackingLocation")
        if loc:
            # schema tracking pins the stream's logical schema in the
            # sidecar (and allows live column mappings — partitions read
            # by physical name); streaming-only, like the other options
            st = _tracked_state(self.options["path"], loc)
            ddl = ", ".join(f"{c} {t}" for c, t in st["schema"].items())
        else:
            ddl = _table_ddl(self.options["path"])
        if self._row_ids():
            if self._cdf():
                raise ValueError(
                    "rowIds applies to the plain append stream; the change "
                    "feed's identity surface is the BATCH "
                    "table_changes(include_row_ids=True)"
                )
            if not txlog.row_tracking_enabled(self.options["path"]):
                raise ValueError(
                    "rowIds needs row tracking enabled on the table "
                    "(txlog.enable_row_tracking)"
                )
            ddl += ", row_id bigint"
        if self._cdf():
            ddl += ", _change_type string, _commit_version bigint"
        return ddl

    def _columns(self, schema) -> list[str]:
        return [
            f.name
            for f in schema.fields
            if f.name not in ("_change_type", "_commit_version", "row_id")
        ]

    def _ddl_types(self, schema) -> list[str]:
        """Declared DDL type per data column (parallel to _columns):
        executor reads cast every file to these, so widened tables'
        mixed narrow/wide physical pages render uniformly."""
        return [
            f.dataType.simpleString()
            for f in schema.fields
            if f.name not in ("_change_type", "_commit_version", "row_id")
        ]

    def reader(self, schema):
        if self._cdf():
            raise ValueError(
                "readChangeFeed is a STREAMING option; batch change reads "
                "are txlog.table_changes(spark, path, from_v, to_v)"
            )
        if self._row_ids():
            raise ValueError(
                "rowIds is a STREAMING option; batch id reads are "
                "txlog.read_with_row_ids(spark, path)"
            )
        return _TxlogBatchReader(
            self.options, self._columns(schema), self._ddl_types(schema)
        )

    def streamReader(self, schema):
        cols = self._columns(schema)
        types = self._ddl_types(schema)
        if self._cdf():
            return _TxlogCdfStreamReader(self.options, cols, ddl_types=types)
        return _TxlogStreamReader(
            self.options, cols, row_ids=self._row_ids(), ddl_types=types
        )


def register_txlog_source(spark) -> None:
    """Register the txlog data source on this session (idempotent)."""
    spark.dataSource.register(TxlogDataSource)
