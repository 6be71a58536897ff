"""Readers / writers for the lake (SURVEY §2.1 S1-S3, §2.2 K1-K3).

The reference reads CSV with header+inference everywhere (e.g. option style
at reference pyspark-1.ipynb:68, kwarg style at pyspark-2.ipynb:66) and lands
raw CSV/Parquet blobs into a container laid out as ``<source>/<region>_<file>``
(ingestion-datalake.py:105). This engine:

- supports both reader styles through one function, schema-first;
  inference is allowed but explicit (``infer=True``) and intended only for
  bronze/ad-hoc — registered tables go through catalog.load_table.
- writes Parquet (zstd) as the canonical at-rest format, optionally
  partitioned by low-cardinality columns so static + dynamic partition
  pruning have something to prune.
- storage credentials/endpoints (the reference's SAS/Key Vault surface) are
  Spark conf (``fs.azure.*`` / ``fs.s3a.*``), never code: any ``abfss://`` /
  ``s3a://`` URI works through the same two functions.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
    infer: bool = False,
    **options,
) -> DataFrame:
    """S1/S2. Pass ``schema`` for production paths; ``infer=True`` replicates
    the reference's behavior (costs an eager extra scan of the data)."""
    reader = spark.read.options(header=str(header).lower(), **options)
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_csv_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    corrupt_col: str = "_corrupt_record",
    **options,
) -> DataFrame:
    """PERMISSIVE CSV scan with malformed-row quarantine — the ingestion
    robustness contract raw landings need: rows that fail the schema
    (uncastable field, wrong token count) do NOT fail the job and are not
    silently dropped; they surface with ``corrupt_col`` holding the raw
    line (non-corrupt rows have it null). Callers split:

        df = read_csv_quarantine(spark, path, schema)
        good = df.filter(df[corrupt_col].isNull()).drop(corrupt_col)
        bad  = df.filter(df[corrupt_col].isNotNull())  # -> quarantine sink

    ``mode=DROPMALFORMED`` / ``FAILFAST`` remain available through plain
    ``read_csv(..., mode=...)`` when dropping or failing is the intent;
    quarantine is the default posture because at 100 TB a 1e-6 bad-row
    rate is still thousands of rows you want to see, not lose. Spark only
    populates the corrupt column for REFERENCED columns (lazy parse), so
    keep ``corrupt_col`` selected through the pipeline until the split.
    """
    full = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType())]
    )
    return (
        spark.read.options(header=str(header).lower(), **options)
        .schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .csv(path)
    )


def read_parquet(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """S3: columnar scan with pushdown + pruning."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    **options,
) -> DataFrame:
    """JSON-Lines scan — the interchange format most raw LLM training
    corpora arrive in (one JSON doc per line, splittable, append-friendly).

    Pass ``schema`` in production: schema inference on JSON is a FULL text
    parse of the dataset before the real read — at 100 TB that is two
    complete scans. With an explicit schema Spark parses each line once and
    prunes unreferenced fields at parse time. Rows that fail to parse land
    in ``_corrupt_record`` (PERMISSIVE default) rather than failing the
    job — add the column to the schema to quarantine them. JSONL is the
    LANDING format; convert to parquet (``write_table``) before repeated
    queries — text scans can't push predicates or skip columns the way the
    columnar path can."""
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite", **options) -> None:
    """JSON-Lines sink for interchange with non-Spark consumers (each
    partition writes independent .json part files — still splittable and
    parallel). Keep parquet for anything re-read by this engine."""
    df.write.mode(mode).options(**options).json(path)


def read_orc(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """ORC scan — the other columnar format Spark supports natively, for
    interchange with Hive/Trino estates. Same pushdown/pruning contract as
    parquet (predicate pushdown + column pruning reach the ORC reader);
    this engine standardizes on parquet at rest, ORC is a compatibility
    edge."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite", **options) -> None:
    df.write.mode(mode).options(**options).orc(path)


def write_csv(
    df: DataFrame, path: str, mode: str = "overwrite", header: bool = True, **options
) -> None:
    """CSV sink (K-band) — interchange with the reference's landing format.
    Header on by default to round-trip through ``read_csv``; keep parquet
    for anything this engine re-reads."""
    df.write.mode(mode).options(header=str(header).lower(), **options).csv(path)


def write_table(df: DataFrame, path: str, mode: str = "overwrite", fmt: str = "parquet") -> None:
    """K1-K3: canonical sink. ``mode='overwrite'`` mirrors the reference's
    ``overwrite=True`` blob upload (ingestion-datalake.py:135-158)."""
    df.write.mode(mode).format(fmt).save(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int,
    path: str | None = None,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed Parquet table: rows hash-distributed into ``n_buckets``
    files per partition by ``bucket_cols``, optionally sorted within each
    bucket.

    This is the pre-shuffle contract for repeated fact⋈fact joins: two
    tables bucketed on the join key with the same bucket count join with NO
    exchange on either side (and no sort, if sorted) — at 100 TB that's the
    difference between re-shuffling terabytes per query and a pure
    map-side join. Bucketing metadata lives in the catalog, hence
    ``saveAsTable`` (a plain ``save`` writes files but loses the contract).
    """
    writer = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    mode: str = "overwrite",
    target_file_partitions: int | None = None,
) -> None:
    """Partitioned Parquet write — the lake's pruning contract.

    ``repartition(partition_by)`` before the write gives one task per
    partition-dir (no small-file explosion: without it every input task
    writes a file into every partition dir). ``target_file_partitions``
    overrides the task count for very large partitions.
    """
    out = df.repartition(target_file_partitions, *partition_by) if target_file_partitions else df.repartition(*partition_by)
    out.write.mode(mode).partitionBy(*partition_by).parquet(path)


def cloud_conf(
    scheme: str,
    *,
    account: str | None = None,
    sas_token: str | None = None,
    account_key: str | None = None,
    access_key: str | None = None,
    secret_key: str | None = None,
    endpoint: str | None = None,
) -> dict[str, str]:
    """S5: credentials/endpoints as Spark conf, never code — the mapping the
    reference drives through SAS tokens + Key Vault (SURVEY §1.5) expressed
    as the standard Hadoop-FS keys. Returns a dict to apply with
    ``for k, v in cloud_conf(...).items(): spark.conf.set(k, v)`` (or via
    SparkSession.builder.config); after that any ``abfss://`` / ``s3a://``
    URI works through the ordinary read/write functions above.

    - ``scheme='abfss'`` + ``sas_token``: fixed-SAS auth against
      ``<account>.dfs.core.windows.net`` (fs.azure.sas.fixed.token path).
    - ``scheme='abfss'`` + ``account_key``: account-key auth.
    - ``scheme='s3a'``: access/secret key pair, optional custom endpoint.

    Secrets should come from the caller's vault/env at runtime; this helper
    deliberately stores nothing.
    """
    conf: dict[str, str] = {}
    if scheme == "abfss":
        if account is None:
            raise ValueError("abfss requires account=")
        host = f"{account}.dfs.core.windows.net"
        if sas_token is not None:
            conf[f"fs.azure.account.auth.type.{host}"] = "SAS"
            conf[f"fs.azure.sas.token.provider.type.{host}"] = (
                "org.apache.hadoop.fs.azurebfs.sas.FixedSASTokenProvider"
            )
            conf[f"fs.azure.sas.fixed.token.{host}"] = sas_token
        elif account_key is not None:
            conf[f"fs.azure.account.auth.type.{host}"] = "SharedKey"
            conf[f"fs.azure.account.key.{host}"] = account_key
        else:
            raise ValueError("abfss requires sas_token= or account_key=")
    elif scheme == "s3a":
        if access_key is None or secret_key is None:
            raise ValueError("s3a requires access_key= and secret_key=")
        conf["fs.s3a.access.key"] = access_key
        conf["fs.s3a.secret.key"] = secret_key
        if endpoint is not None:
            conf["fs.s3a.endpoint"] = endpoint
    else:
        raise ValueError(f"unsupported scheme {scheme!r} (abfss or s3a)")
    return conf


def upsert_parquet(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    order_col: str,
) -> None:
    """Latest-wins upsert (MERGE) into a parquet directory: rows in
    ``updates`` replace existing rows with the same key; the survivor per
    key is the one with the greatest ``order_col`` (a version/event-time
    column — REQUIRED, because "latest file wins" is not a deterministic
    rule on a distributed writer).

    Dataflow: union existing + updates → one window per key → keep rank 1.
    The rewrite lands in a staging dir first and swaps in afterwards — a
    parquet source cannot be overwritten while a plan is reading it
    (self-overwrite truncates inputs mid-job).

    Plain parquet has no transaction log, so the swap is atomic only on a
    POSIX filesystem; on an object store back this with a transactional
    table format (Delta/Iceberg MERGE INTO) — same logical dataflow, log-
    managed commit. Partition-level variant: filter ``updates`` to touched
    partitions and swap only those directories.
    """
    if os.path.exists(path):
        existing = spark.read.schema(updates.schema).parquet(path)
        merged = existing.unionByName(updates)
    else:
        merged = updates
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
    latest = (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    staging = path.rstrip("/") + ".__staging__"
    latest.write.mode("overwrite").parquet(staging)
    if os.path.exists(path):
        shutil.rmtree(path)
    os.rename(staging, path)


def upsert_parquet_partitioned(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    order_col: str,
    partition_by: list[str],
) -> None:
    """Partition-level latest-wins upsert: only partition directories that
    appear in ``updates`` are read, merged, and swapped — untouched
    partitions are never opened, so their files stay byte-identical (the
    property a 100 TB table needs: cost scales with the delta's partitions,
    not the table).

    Dataflow: collect the touched partition tuples (driver-side but bounded
    by |touched partitions|, not rows), prune the existing read to exactly
    those partitions (one OR-of-AND predicate → static partition pruning),
    merge latest-wins per key, write to a staging dir partitioned the same
    way, then swap each touched directory. Same POSIX-atomicity caveat as
    ``upsert_parquet``; a transactional format (Delta/Iceberg MERGE) is the
    object-store answer with the identical logical plan. Null partition
    values are not supported (Hive default-partition naming is ambiguous).
    """
    pcols = list(partition_by)
    if not os.path.exists(path):
        write_partitioned(updates, path, pcols)
        return
    touched = [tuple(r) for r in updates.select(*pcols).distinct().collect()]
    if not touched:
        return
    if any(v is None for t in touched for v in t):
        raise ValueError("null partition values are not supported")
    pred = None
    for t in touched:
        clause = None
        for c, v in zip(pcols, t):
            eq = F.col(c) == F.lit(v)
            clause = eq if clause is None else (clause & eq)
        pred = clause if pred is None else (pred | clause)
    # Partition-column type inference can read e.g. 'day' back as a date
    # while the update batch carries a string — cast existing columns to the
    # update schema so the union is type-stable.
    existing = (
        spark.read.parquet(path)
        .filter(pred)
        .select(*[F.col(c).cast(updates.schema[c].dataType).alias(c) for c in updates.columns])
    )
    merged = existing.unionByName(updates)
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
    latest = (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    staging = path.rstrip("/") + ".__staging__"
    write_partitioned(latest, staging, pcols)
    for t in touched:
        rel = [f"{c}={v}" for c, v in zip(pcols, t)]
        src = os.path.join(staging, *rel)
        dst = os.path.join(path, *rel)
        if os.path.exists(dst):
            shutil.rmtree(dst)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(src, dst)
    shutil.rmtree(staging)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    small_file_bytes: int | None = None,
) -> dict[str, int]:
    """Small-file compaction for a (possibly partitioned) parquet directory
    — the maintenance op every incrementally-written lake table needs.

    Streaming sinks, micro-batch appends, and per-task partitioned writes
    leave directories with thousands of KB-sized files; at 100 TB the scan
    then pays a per-file open/footer-read and the driver pays listing +
    split planning proportional to FILE COUNT, not data size. Compaction
    restores scan efficiency.

    Shape (and why it scales):

    - Only files smaller than ``small_file_bytes`` (default: half the
      target) are rewritten. Already-right-sized files are NEVER read or
      touched — rewrite amplification is bounded by the small-file bytes,
      not the table size.
    - Each leaf directory (= hive partition for partitioned tables)
      compacts independently: its small files are read as an explicit file
      list and coalesced to ``ceil(small_bytes / target_file_bytes)``
      output files. ``coalesce`` (not ``repartition``): merging files is
      IO-bound concatenation, a shuffle would double the IO for nothing.
    - Listing is driver-side metadata — the same file index Spark builds
      for any scan of the directory.

    Swap caveat (same family as ``upsert_parquet``): new files move in
    before the old ones are removed, so a concurrent reader can see
    duplicate rows during the swap window. Plain parquet directories have
    no commit protocol to do better; ``txlog.optimize`` is the atomic
    version of this operation (one log commit flips visibility).

    Returns ``{"files_before": n, "files_after": m, "dirs_compacted": k}``.
    """
    if small_file_bytes is None:
        small_file_bytes = target_file_bytes // 2
    import math
    import uuid

    files_before = files_after = dirs_compacted = 0
    for root, _dirs, files in os.walk(path):
        parts = [f for f in files if f.endswith(".parquet")]
        files_before += len(parts)
        files_after += len(parts)
        small = [
            f
            for f in parts
            if os.path.getsize(os.path.join(root, f)) < small_file_bytes
        ]
        if len(small) < 2:
            continue
        small_paths = [os.path.join(root, f) for f in small]
        total = sum(os.path.getsize(p) for p in small_paths)
        n_out = max(1, math.ceil(total / target_file_bytes))
        staging = os.path.join(path, f".__compact_staging__{uuid.uuid4().hex}")
        spark.read.parquet(*small_paths).coalesce(n_out).write.mode("error").parquet(staging)
        moved = 0
        for f in os.listdir(staging):
            if f.endswith(".parquet"):
                os.rename(
                    os.path.join(staging, f),
                    os.path.join(root, f"compact-{uuid.uuid4().hex}-{f}"),
                )
                moved += 1
        shutil.rmtree(staging)
        for p in small_paths:
            os.remove(p)
        files_after += moved - len(small)
        dirs_compacted += 1
    return {
        "files_before": files_before,
        "files_after": files_after,
        "dirs_compacted": dirs_compacted,
    }


def write_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Range-partitioned, sorted Parquet: rows range-partitioned on
    ``sort_cols`` (one contiguous key range per file) and sorted within
    each file.

    This is the data-skipping contract: parquet row-group min/max stats on
    a sorted column are tight and disjoint, so a selective filter prunes
    whole files + row groups instead of reading everything (the poor man's
    Z-order for a single sort dimension). Use for the columns queries
    actually filter on — time, tenant, id range.
    """
    cols = [F.col(c) for c in sort_cols]
    out = (
        df.repartitionByRange(n_files, *cols) if n_files else df.repartitionByRange(*cols)
    ).sortWithinPartitions(*cols)
    out.write.mode(mode).parquet(path)


def zorder_value(
    df: DataFrame,
    cluster_cols: list[str],
    bits: int = 8,
    out_col: str = "__zval",
    rel_err: float = 0.01,
) -> DataFrame:
    """Append a Z-order (Morton) key interleaving the bit patterns of
    rank-bucketed ``cluster_cols``.

    Each column is first mapped to a ``2^bits``-bucket index via its
    APPROX-QUANTILE boundaries (one pass, a 2^bits-value list on the
    driver) — rank-based bucketing, so skewed value distributions still
    fill the z-space evenly, where naive min/max linearization would
    collapse. Bucket assignment and bit interleaving are pure scan-stage
    JVM expressions (a filtered literal-array count, then shift/or terms):
    no shuffle, no UDF. ``2^bits`` per-column buckets bound the driver
    list, not the data scale.
    """
    n_buckets = 1 << bits
    qs = [i / n_buckets for i in range(1, n_buckets)]
    zval = F.lit(0).cast("long")
    k = len(cluster_cols)
    for j, c in enumerate(cluster_cols):
        bnds = df.approxQuantile(c, qs, rel_err)
        # bucket index = #boundaries <= value; boundaries are a literal array
        bucket = F.size(
            F.filter(
                F.array(*[F.lit(b) for b in bnds]),
                lambda b: b <= F.col(c).cast("double"),
            )
        ).cast("long")
        for i in range(bits):
            # bit i of column j lands at interleaved position i*k + j
            zval = zval.bitwiseOR(
                F.shiftleft(F.shiftrightunsigned(bucket, i).bitwiseAND(F.lit(1)), i * k + j)
            )
    return df.withColumn(out_col, zval)


def zorder_arrange(
    df: DataFrame, cluster_cols: list[str], n_files: int, bits: int = 8
) -> DataFrame:
    """``df`` laid out for Z-order clustering: range-partitioned into
    ``n_files`` partitions on the interleaved Morton key
    (:func:`zorder_value`), sorted on it within each, the key dropped.
    Writing one file per partition keeps every clustered column
    range-bounded per file — the layout behind :func:`write_zorder`,
    ``txlog.append_clustered`` and ``txlog.optimize_zorder``."""
    z = zorder_value(df, cluster_cols, bits=bits)
    return (
        z.repartitionByRange(n_files, F.col("__zval"))
        .sortWithinPartitions("__zval")
        .drop("__zval")
    )


def write_zorder(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    n_files: int,
    bits: int = 8,
    mode: str = "overwrite",
) -> None:
    """Z-order clustered Parquet: range-partition + sort on the interleaved
    Morton key, then drop it — multi-dimensional data skipping.

    Where ``write_sorted`` gives tight min/max stats on ONE leading column
    (the second column spans its full range in every file), Z-ordering
    keeps every clustered column range-bounded per file, so selective
    filters on ANY of them prune files/row-groups from the parquet stats.
    The lakehouse table-layout standard (cf. Delta/Iceberg OPTIMIZE ZORDER
    BY); one extra shuffle at write time buys scan-fraction reads forever.
    """
    zorder_arrange(df, cluster_cols, n_files, bits=bits).write.mode(mode).parquet(path)


def parquet_metadata_profile(spark, path: str) -> "DataFrame":
    """Footer-level health profile of a parquet table: (n_files,
    n_row_groups, n_rows_meta) read from file FOOTERS only — zero data
    pages touched, so the op is O(files) metadata IO at any table size.
    This is the pre-flight check before sizing a 100 TB scan: too few row
    groups per file kills row-group pruning, too many means tiny pages
    and seek-bound reads; n_rows_meta ≠ the engine's count(*) means a
    torn write. pyarrow reads the footers driver-side (files at metadata
    scale; push into mapInPandas over a file list if a table has millions
    of files)."""
    import os

    import pyarrow.parquet as pq

    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    else:
        files = [path]
    n_groups = 0
    n_rows = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        n_groups += md.num_row_groups
        n_rows += md.num_rows
    return spark.createDataFrame(
        [(len(files), n_groups, n_rows)],
        "n_files long, n_row_groups long, n_rows_meta long",
    )
