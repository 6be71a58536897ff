"""txlog as a Spark DATA SOURCE: ``spark.read.format("txlog")`` and
``spark.readStream.format("txlog")`` via the PySpark 4 Python Data Source
API — the Delta-streaming-source story for the commit-log table.

Batch read plans over the log-resolved snapshot at ``option("version")``
(the tip by default): schema, column-mapping check, initial defaults and
deletion vectors all resolve at that version, the same contract as
``txlog.read`` — each file's partition carries its sidecar groups and
drops the rows they delete, so the format shows live rows only.

The STREAMING read is ONE reader (:class:`_TxlogStreamReader`) that
treats the log as the offset axis: each micro-batch covers the commits in
``(startVersion, endVersion]``, and Structured Streaming tracks the
version offset in its checkpoint. Every commit is first classified by
``txlog._row_change`` — the same dataChange decision ``table_changes``
uses — and data-change-free maintenance commits (``optimize``,
``optimize_zorder``, ``reorg_purge``, constraint DDL) are skipped: their
adds must NOT re-emit rows the stream already delivered. The reader then
plans the commit in one of two modes:

- **append** (default): a commit's ADDED files stream as rows. Commits
  that change existing rows (removes, deletion vectors, a ``dv_set``
  replacement, a restore) make the source non-append-only: the stream
  FAILS with a clear error unless ``skipChangeCommits=true`` (then the
  whole commit is skipped; downstream sees inserts-only, Delta's
  ``skipChangeCommits`` contract). ``rowIds=true`` adds the stable
  ``row_id`` (row-tracking tables).
- **change feed** (``readChangeFeed=true``): rows gain ``_change_type``
  / ``_commit_version`` — appends as inserts, deletion-vector deletes as
  position-exact deletes (the sidecar names the rows), an ``update_dv``
  as its delete+insert pair, and commits WITH a stored ``_change_data``
  record (CoW delete/update, clause-based MERGE, replaceWhere,
  spark-assisted RESTORE) stream their change files — cost tracks the
  changed rows. Only rewrite commits lacking a stored record (legacy, or
  a session-less restore) fail — reconstructing them needs a cross-file
  diff no per-partition reader can do (Delta's CDC needs stored change
  files for the same reason) — unless ``skipChangeCommits=true``.

Schema-layer commits (``rename_column``/``drop_column``, a
``widen_column_type`` beyond the stream's declared types, or any commit
that rewrites the column mapping) are not skippable — a mapping change
poisons every later file's column resolution. Without
``schemaTrackingLocation`` they fail the stream (restart from a fresh
checkpoint); with ``option("schemaTrackingLocation", dir)`` the failure
first records the post-change schema + mapping in a sidecar, and a plain
RESTART with the SAME checkpoint resumes from the failure offset
rendering the backlog under the new logical schema. A widening the
declared schema already covers passes.

Rate limits: ``maxVersionsPerTrigger``, ``maxFilesPerTrigger`` and
``maxBytesPerTrigger`` bound each micro-batch (>= 1 commit for progress).

Scale shape: offsets are version numbers (tiny JSON), planning reads only
the commit files in the window (never a directory listing), and each input
partition is one parquet file read Arrow-batch-wise on the executor —
per-batch cost tracks the NEW data, never the table. Local-mode note: the
reader and partition classes are pickled to workers, which share this
repo's Python environment; a cluster deployment ships the package like
any other dep.
"""

from __future__ import annotations

import functools
import json
import os
import re

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from datalake_brief_spark.sources import txlog

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


def _flag(options, key: str) -> bool:
    """A boolean option: ``"true"``/``"1"`` (any case) switch it on."""
    return str(options.get(key, "false")).lower() in ("true", "1")


def _table_ddl(path: str, version: int | None = None) -> str:
    """Schema DDL for the table at ``version`` (the tip by default): the
    logged schema (exact Spark type names) when present; otherwise
    derived from one visible parquet footer (pre-schema-logging tables).
    Tables with a live column mapping (renamed/dropped columns) are
    rejected — the executor-side pyarrow reads select by PHYSICAL name
    while this DDL carries logical names, and streaming across a rename
    boundary is unsupported anyway (the same restriction Delta places on
    CDF/streaming under column-mapping changes);
    ``overwrite(read(...), path)`` resets the mapping to identity if
    streaming the table matters more than the rewrite. Dropped-only
    tables (empty mapping, narrower logical schema) stream fine — the
    per-file column selection simply skips the dead bytes."""
    if txlog._column_mapping(path, version):  # noqa: SLF001
        raise ValueError(
            f"streaming source does not support tables with a live column "
            f"mapping (renamed columns): {path!r}"
        )
    logged = txlog.latest_meta(path, "schema", version)
    if logged:
        return ", ".join(f"{c} {t}" for c, t in logged.items())
    import pyarrow.parquet as pq

    files = txlog.visible_files(path, version)
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


_SCHEMA_OPS = ("rename_column", "drop_column", "widen_column_type")


def _guard_schema_commit(
    commit: dict, op: str, v: int, path: str, tracking, declared: dict
) -> None:
    """Fail the stream on a mid-stream column-mapping change (ADVICE r8):
    rename_column/drop_column commits carry no adds/removes/dv state, so
    the row-change decision lets them pass silently — but every LATER
    file resolves columns under the new physical layout, and this
    reader's column list was fixed at stream start. After DROP COLUMN
    plus a merge-schema append re-introducing the same logical name,
    per-file logical-name selection misses the fresh physical name and
    emits NULLs for real values. Unlike row-change commits this is NOT
    skippable — ``skipChangeCommits`` skips one commit's ROWS, while a
    mapping change poisons all subsequent reads (Delta's
    stream-fails-on-schema-change behavior).

    Without a ``schemaTrackingLocation`` (``tracking is None``) the
    stream fails unless the commit is a widening the declared types
    already render (the executor reads cast narrow pages up). With one,
    a schema-layer commit the TRACKED state has already adopted passes
    silently (the restart path replaying its offset), while a NEW change
    first persists the post-commit schema + mapping to the sidecar and
    then fails the stream — so a plain restart (same checkpoint) resumes
    from this exact offset rendering the backlog under the new logical
    schema. Exactly-once is preserved: the failed batch never committed
    its offset."""
    meta = commit.get("meta", {})
    # (truthiness, not presence: an overwrite RESETS the mapping by
    # writing column_mapping {} — from that commit on every file resolves
    # logical == physical, so a stream STARTED at/after the reset is
    # sound and must not be killed by the benign marker)
    if op not in _SCHEMA_OPS and not meta.get("column_mapping"):
        return
    if tracking is None:
        if op == "widen_column_type" and _schema_covered(
            meta.get("schema") or {}, declared
        ):
            return
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


#: DDL → arrow alias for the widenable numeric types (the widening chain)
_DDL_TO_ARROW = {
    "tinyint": "int8",
    "smallint": "int16",
    "int": "int32",
    "bigint": "int64",
    "float": "float",
    "double": "double",
}

_DECIMAL_DDL = re.compile(r"^decimal\((\d+),(\d+)\)$")


def _arrow_target(ddl: str | None):
    """Arrow type for a Spark DDL string. None when the DDL has no arrow
    mapping here (caller falls back to inference)."""
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
    m = _DECIMAL_DDL.match(ddl or "")
    if m:
        return pa.decimal128(int(m.group(1)), int(m.group(2)))
    return None


def _cast_declared(col, ddl: str | None):
    """Cast one arrow column to its DECLARED type when that type is on the
    numeric widening chain or a decimal: a file may carry any NARROWER
    physical type than the stream's declared schema (pre-widen history,
    or post-widen narrow-producer appends — see txlog.widen_column_type).
    Upcasts only in practice — wider-than-declared files cannot exist,
    because the stream fails at the widening commit before any wide file
    lands. Other types pass through untouched."""
    import pyarrow as pa

    t = _arrow_target(ddl)
    if t is None or not (
        pa.types.is_integer(t) or pa.types.is_floating(t) or pa.types.is_decimal(t)
    ):
        return col
    return col if col.type == t else col.cast(t)


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


def _initial_default_values(
    path: str, columns: list[str], version: int | None = None
) -> list | None:
    """Per-column INITIAL default values at ``version`` aligned to
    ``columns`` (None where a column has none) — what a partition ships
    so a file that predates the column renders the default instead of
    NULL. The write-default invariant (add_column) guarantees every
    post-add file carries its defaulted columns, so column ABSENCE in a
    file footer is exactly "predates the column". Returns None when the
    table has no initial defaults (the zero-overhead common path)."""
    cds = txlog.latest_meta(path, "column_defaults", version) or {}
    vals = [
        cds.get(c, {}).get("initial_value")
        if cds.get(c, {}).get("initial") is not None
        else None
        for c in columns
    ]
    return vals if any(v is not None for v in vals) else None


class _FilePartition(InputPartition):
    """One data or change file to read on an executor. ``abs_path=""``
    is the placeholder of an empty plan (reads no rows)."""

    def __init__(
        self,
        abs_path: str,
        columns: list[str],
        physical=None,
        ddl_types=None,
        defaults=None,
        row_base=None,
        dv_groups=None,
        change_type=None,
        version=None,
    ):
        self.abs_path = abs_path
        self.columns = columns
        #: physical column names parallel to ``columns`` (schema-tracked
        #: streams over a live column mapping); None → logical == physical
        self.physical = physical
        #: declared DDL type per column (parallel to ``columns``); files
        #: narrower on the widening chain cast up to it executor-side
        self.ddl_types = ddl_types
        #: initial default value per column (parallel to ``columns``);
        #: a file MISSING the column materializes this instead of NULL
        self.defaults = defaults
        #: base row id for this file (row-tracking streams): executor-side
        #: row_id = base + position, no lookup table shipped per row
        self.row_base = row_base
        #: deletion-vector sidecar groups naming positions of this file:
        #: a change-feed delete partition reads only those rows (the
        #: deleted ones), any other partition drops them
        self.dv_groups = dv_groups
        #: change-feed partitions only: the commit version, and the
        #: ``_change_type`` of every row (None → a stored change file,
        #: whose rows carry their own)
        self.change_type = change_type
        self.version = version


def _read_partition(p: _FilePartition):
    """Executor-side read of one partition → Arrow RecordBatches in the
    source's column order, in four steps:

    1. ``dv_groups`` name row positions of the file: a change-feed delete
       partition keeps those rows (position-exact, no diffing), any other
       partition the rest;
    2. every column selects file bytes by PHYSICAL name, emits under the
       logical name and casts to its DECLARED type (widened tables' mixed
       physical types render uniformly); a column the file predates
       renders its initial default, else NULL (additive evolution);
    3. ``row_base`` appends the stable ``row_id`` (base + file position —
       the identity txlog.read_with_row_ids resolves);
    4. a change-feed partition appends ``_change_type`` and
       ``_commit_version``."""
    if not p.abs_path:
        return
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    table = pq.read_table(p.abs_path)
    if p.dv_groups:
        names = pa.array(txlog._sidecar_names(p.abs_path))  # noqa: SLF001
        hit = [
            dv.filter(pc.is_in(dv["file_name"], value_set=names))["row_index"]
            for dv in map(pq.read_table, p.dv_groups)
        ]
        dead = pc.is_in(
            pa.array(range(table.num_rows), pa.int64()),
            value_set=pa.chunked_array(hit, pa.int64()).combine_chunks(),
        )
        table = table.filter(dead if p.change_type == "delete" else pc.invert(dead))
    n = table.num_rows
    phys = p.physical or p.columns
    types = p.ddl_types or [None] * len(phys)
    dflts = p.defaults or [None] * len(phys)
    cols = []
    for name, ddl, dflt in zip(phys, types, dflts):
        if name in table.column_names:
            cols.append(_cast_declared(table.column(name), ddl))
        elif dflt is not None:
            # the file predates this column's initial default (post-add
            # files always carry defaulted columns — the write-default
            # invariant), so the backfill renders here
            cols.append(_default_column(dflt, ddl, n))
        else:
            cols.append(pa.nulls(n))
    out = pa.table(dict(zip(p.columns, cols)))
    if p.row_base is not None:
        out = out.append_column(
            "row_id", pa.array(range(p.row_base, p.row_base + n), pa.int64())
        )
    if p.version is not None:
        if p.change_type is None:
            ct = table.column("_change_type").cast(pa.string())
        else:
            ct = pa.array([p.change_type] * n, pa.string())
        out = out.append_column("_change_type", ct)
        out = out.append_column(
            "_commit_version", pa.array([p.version] * n, pa.int64())
        )
    yield from out.to_batches()


class _TxlogBatchReader(DataSourceReader):
    def __init__(self, options, columns, ddl_types, version):
        self.path = options["path"]
        self.columns = columns
        self.ddl_types = ddl_types
        self.version = version
        self.defaults = _initial_default_values(self.path, columns, version)

    def partitions(self):
        files = txlog.visible_files(self.path, self.version)
        dvs = txlog.visible_dvs(self.path, self.version)
        return [
            _FilePartition(
                f, self.columns, ddl_types=self.ddl_types, defaults=self.defaults,
                dv_groups=dvs.get(os.path.relpath(f, self.path)),
            )
            for f in files
        ] or [_FilePartition("", self.columns)]

    def read(self, partition):
        return _read_partition(partition)


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


def _cap_offset(
    path: str, last_offered: int, cur: int, max_files: int, max_bytes: int
) -> int:
    """Bound the offered end-offset so the next micro-batch's commits carry
    at most ``max_files`` files and ``max_bytes`` bytes (0 = no cap) —
    Delta's ``maxFilesPerTrigger`` / ``maxBytesPerTrigger`` on the
    version-offset axis (``maxVersionsPerTrigger`` bounds commits; these
    bound the DATA those commits carry, the knobs that matter when commit
    sizes vary 1000×; bytes is the one that maps to executor memory).
    Added data files and change-record files both count — the IO the
    batch will schedule. One walk reads each commit record once and stops
    at whichever cap it hits first; it always offers at least one commit,
    so the stream makes progress even when one commit exceeds a cap. The
    byte cap costs one fstat per file (metadata only); a file already
    reclaimed by vacuum (possible for aged change records) contributes
    nothing rather than failing the poll."""
    files = size = 0
    v = last_offered
    while v < cur:
        c = _load_commit_or_horizon_error(path, v + 1)
        rels = list(c.get("adds", [])) + list(c.get("change_data") or [])
        files += len(rels)
        if max_bytes > 0:
            for rel in rels:
                try:
                    size += os.path.getsize(os.path.join(path, rel))
                except OSError:
                    pass
        v += 1
        if 0 < max_files <= files or 0 < max_bytes <= size:
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
    """The one stream reader: version offsets, rate caps, the schema guard
    and the row-change decision are shared; ``cdf`` picks how a commit is
    planned (:meth:`_plan_append` or :meth:`_plan_cdf`)."""

    def __init__(self, options, columns, ddl_types, cdf=False, row_ids=False):
        self.path = options["path"]
        self.columns = columns  # data columns only (no row_id / feed pair)
        self.ddl_types = ddl_types
        self.cdf = cdf
        self.row_ids = row_ids
        self.skip_change = _flag(options, "skipChangeCommits")
        self.starting_version = int(options.get("startingVersion", 1))
        self.max_versions = int(options.get("maxVersionsPerTrigger", 0))
        self.max_files = int(options.get("maxFilesPerTrigger", 0))
        self.max_bytes = int(options.get("maxBytesPerTrigger", 0))
        self._last_offered = max(0, self.starting_version - 1)
        self.tracking, self.physical = _reader_tracking(
            self.path, options, columns
        )
        self.declared = dict(zip(columns, ddl_types))
        self.defaults = _initial_default_values(self.path, columns)

    def initialOffset(self):
        # startingVersion=N streams commit N onward (Delta's semantics:
        # the named version's changes are included); the default streams
        # the full history from version 1.
        return {"version": max(0, self.starting_version - 1)}

    def latestOffset(self):
        # maxVersionsPerTrigger=N bounds each micro-batch to N commits, the
        # file/byte caps bound the data those commits carry: a consumer
        # attaching to a long backlog drains it in bounded steps instead
        # of one giant batch. 0 (default) = unbounded. The caps advance
        # from the last offset this reader OFFERED — restart recovery
        # re-seeds from the checkpoint via initialOffset/partitions, so
        # under-offering after a restart only costs an extra micro-batch,
        # never data.
        cur = txlog.current_version(self.path)
        if self.max_versions > 0:
            cur = min(cur, self._last_offered + self.max_versions)
        if self.max_files > 0 or self.max_bytes > 0:
            cur = _cap_offset(
                self.path, self._last_offered, cur, self.max_files, self.max_bytes
            )
        self._last_offered = max(self._last_offered, cur)
        return {"version": cur}

    def _part(self, rel: str, **kw) -> _FilePartition:
        return _FilePartition(
            os.path.join(self.path, rel),
            self.columns,
            physical=self.physical,
            ddl_types=self.ddl_types,
            defaults=self.defaults,
            **kw,
        )

    def _skip_or_fail(self, message: str) -> list:
        """A commit this mode cannot emit: skipped wholesale under
        ``skipChangeCommits=true``, else the stream fails."""
        if self.skip_change:
            return []
        raise ValueError(message)

    def partitions(self, start, end):
        # re-sync the rate-limit cursor after a checkpoint restart: the
        # real start offset comes from the checkpoint, not this instance
        self._last_offered = max(self._last_offered, int(start["version"]))
        # bases are immutable per file; the registry union finds a
        # pre-enable append's base in the LATER enable commit, and survives
        # the file being rewritten later in the same batch. Lazy (one scan
        # per batch) and UNCAPPED on purpose: a rate-limited batch can end
        # BEFORE the enable commit while covering pre-enable appends whose
        # bases only the enable commit's backfill records — capping at the
        # batch end would fail those forever (ADVICE r9 #2).
        registry = functools.cache(
            lambda: txlog._row_base_registry(self.path)  # noqa: SLF001
        )
        parts = []
        for v in range(int(start["version"]) + 1, int(end["version"]) + 1):
            commit = _load_commit_or_horizon_error(self.path, v)
            op = commit.get("meta", {}).get("op", "write")
            _guard_schema_commit(
                commit, op, v, self.path, self.tracking, self.declared
            )
            kind = txlog._row_change(commit)  # noqa: SLF001
            if kind == "none":
                continue  # dataChange=false: its adds re-land delivered rows
            if self.cdf:
                parts += self._plan_cdf(commit, kind, op, v)
            else:
                parts += self._plan_append(commit, kind, op, v, registry)
        return parts or [_FilePartition("", self.columns)]

    def _plan_append(self, commit, kind, op, v, registry) -> list:
        if kind in ("dv", "rewrite"):
            return self._skip_or_fail(
                f"txlog stream source: version {v} is a {op!r} commit "
                f"that changes existing rows; set skipChangeCommits=true "
                f"to ignore change commits (inserts-only stream), or "
                f"read with readChangeFeed=true to consume the changes"
            )
        parts = []
        for rel in commit.get("adds", []):
            base = None
            if self.row_ids:
                # the commit's own allocation first; a pre-enable append's
                # base lives in the ENABLE commit's backfill — never
                # resolved at the batch END (a later rewrite inside the
                # same batch removes the file from the end-version replay)
                base = commit.get("row_bases", {}).get(rel)
                if base is None:
                    base = registry().get(rel)
                if base is None:
                    raise ValueError(
                        f"rowIds stream: file {rel!r} (version {v}) has no "
                        f"base row id — written by a pre-feature writer? "
                        f"(enable_row_tracking backfills only VISIBLE files)"
                    )
            parts.append(self._part(rel, row_base=base))
        return parts

    def _plan_cdf(self, commit, kind, op, v) -> list:
        if "change_data" in commit:
            # a commit WITH a stored change record (CoW delete/update,
            # merge, replaceWhere, spark-assisted restore): stream the
            # change files — each row carries its own _change_type
            return [self._part(rel, version=v) for rel in commit["change_data"]]
        if kind == "rewrite":
            return self._skip_or_fail(
                f"txlog CDF stream: version {v} is a {op!r} commit that "
                f"REWRITES files — the log carries no row-level change "
                f"record for it (reconstruction needs a cross-file diff; "
                f"use batch table_changes), so the stream cannot emit "
                f"it; set skipChangeCommits=true to skip such commits"
            )
        # deletion-vector positions → position-exact delete rows; an
        # update_dv commit ALSO carries adds (its rewritten rows) → inserts
        return [
            self._part(
                rel,
                dv_groups=[os.path.join(self.path, group)],
                change_type="delete",
                version=v,
            )
            for rel, group in commit.get("dv_adds", {}).items()
        ] + [
            self._part(rel, change_type="insert", version=v)
            for rel in commit.get("adds", [])
        ]

    def read(self, partition):
        return _read_partition(partition)

    def commit(self, end):
        self._last_offered = max(self._last_offered, int(end["version"]))


class TxlogDataSource(DataSource):
    """``format("txlog")`` — register once per session with
    :func:`register_txlog_source`. Required option: ``path``. Batch also
    honors ``version`` (time travel); streaming honors the options the
    module docstring lists."""

    @classmethod
    def name(cls):
        return "txlog"

    def schema(self):
        loc = self.options.get("schemaTrackingLocation")
        if loc:
            # schema tracking pins the stream's logical schema in the
            # sidecar (and allows live column mappings — partitions read
            # by physical name); streaming-only, like the other options
            st = _tracked_state(self.options["path"], loc)
            ddl = ", ".join(f"{c} {t}" for c, t in st["schema"].items())
        else:
            ddl = _table_ddl(self.options["path"], self._version())
        cdf = _flag(self.options, "readChangeFeed")
        if _flag(self.options, "rowIds"):
            if cdf:
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
        if cdf:
            ddl += ", _change_type string, _commit_version bigint"
        return ddl

    def _version(self) -> int | None:
        v = self.options.get("version")
        return None if v is None else int(v)

    def _data_columns(self, schema) -> tuple[list[str], list[str]]:
        """Names and declared DDL types of the data columns (the feed's
        ``row_id`` / ``_change_type`` / ``_commit_version`` excluded):
        executor reads cast every file to these types, so widened tables'
        mixed narrow/wide physical pages render uniformly."""
        fields = [
            f
            for f in schema.fields
            if f.name not in ("_change_type", "_commit_version", "row_id")
        ]
        return [f.name for f in fields], [f.dataType.simpleString() for f in fields]

    def reader(self, schema):
        if _flag(self.options, "readChangeFeed"):
            raise ValueError(
                "readChangeFeed is a STREAMING option; batch change reads "
                "are txlog.table_changes(spark, path, from_v, to_v)"
            )
        if _flag(self.options, "rowIds"):
            raise ValueError(
                "rowIds is a STREAMING option; batch id reads are "
                "txlog.read_with_row_ids(spark, path)"
            )
        return _TxlogBatchReader(
            self.options, *self._data_columns(schema), self._version()
        )

    def streamReader(self, schema):
        return _TxlogStreamReader(
            self.options,
            *self._data_columns(schema),
            cdf=_flag(self.options, "readChangeFeed"),
            row_ids=_flag(self.options, "rowIds"),
        )


def register_txlog_source(spark) -> None:
    """Register the txlog data source on this session (idempotent)."""
    spark.dataSource.register(TxlogDataSource)
