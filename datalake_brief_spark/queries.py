"""Query registry: every SURVEY §2 operator as a (Spark callable, DuckDB
oracle SQL) pair.

Contract (driver's CORRECTNESS gate): the Spark callable and the oracle SQL
produce identical results at sf=0.01 — same column names, same types, same
values after order-insensitive hashing. Rules applied throughout:

- every computed column is aliased identically on both sides;
- aggregate doubles are ``round()``ed on both sides (sum→2dp, avg→4dp,
  ratios/scores→6dp) so floating-point summation-order noise can't flip a
  hash; counts/sizes are cast to long/BIGINT on both sides;
- nondeterministic ordering is avoided (tie-breakers on unique keys);
- hash-based ops (MinHash/SimHash/SRP-LSH) have NO oracle — different
  engines can't share xxhash64 — so they're registered oracle-free
  (driver records a rows-only check) and verified in pytest against exact
  ground truth instead.

The null-handling family (the reference's signature domain, SURVEY §2.6)
derives a nulled view from ``customer`` identically on both sides, since
TESTDATA has no physical nulls.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datalake_brief_spark.catalog import load_table, register_views
from datalake_brief_spark.functions import cosine  # noqa: F401 (re-export for users)
from datalake_brief_spark.functions import spread_scan
from datalake_brief_spark.operators import (
    dedup,
    multimodal,
    similarity,
    text,
    timeseries,
    windows,
)
from datalake_brief_spark.operators.joins import anti_join, join_dim, join_fact, semi_join
from datalake_brief_spark.operators.nulls import (
    drop_nulls,
    fill_nulls,
    impute_mean,
    impute_median,
    impute_mode,
)
from datalake_brief_spark.operators.relational import (
    aggregate,
    count_alert,
    derive,
    describe_all,
    filter_rows,
    project,
    sample_stratified,
    summary_stats,
)
from datalake_brief_spark.operators.windows import (
    running_agg,
    sessionize,
    top_k,
    top_k_per_group,
)
from datalake_brief_spark.sources import txlog

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    fn: QueryFn
    oracle: str | None  # None → non-SQL-expressible / hash-family op
    headline: bool = False  # included in bench.py


QUERIES: dict[str, Query] = {}


def _register(name: str, oracle: str | None, headline: bool = False):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = Query(fn=fn, oracle=oracle, headline=headline)
        return fn

    return deco


class _BuildOnce(dict):
    """Per-process memo of driver-side builds (lakehouse tables, k-means
    codebooks, catalog tables) that concurrent query construction shares,
    e.g. the registry-wide plan lint fanning queries across driver threads.
    A key is built once, by its first caller, and stored ONLY after the
    build completes — a build that throws is not poisoned into later
    callers; the next call retries. Builds of one key serialize on a
    per-key lock, different keys still build concurrently, and the memo
    fast path stays lock-free."""

    def __init__(self) -> None:
        super().__init__()
        self._locks: dict = {}
        self._lock = threading.Lock()

    def get_or_build(self, key, build):
        if key in self:
            return self[key]
        with self._lock:
            lock = self._locks.setdefault(key, threading.Lock())
        with lock:
            if key not in self:
                self[key] = build()
            return self[key]


_LAKEHOUSE_TABLES = _BuildOnce()  # (kind, abs sf_dir) → txlog table root
_IVF_CENTROIDS = _BuildOnce()  # abs sf_dir → IVF centroids
_PQ_CODEBOOKS = _BuildOnce()  # abs sf_dir → PQ codebooks
_BUCKETED_PAIRS = _BuildOnce()  # (applicationId, abs sf_dir) → table names


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# Shared oracle for the two HLL distinct-count gates (builtin HLL++ and the
# mergeable Datasketches path): exact counts + a pinned-TRUE bound boolean.
_EXACT_PARTS_PER_FLAG_SQL = """
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS in_bound
    FROM lineitem GROUP BY l_returnflag
    """


# --------------------------------------------------------------------------
# Flagship: TPC-H Q1-shaped pricing summary (SURVEY §2.5 aggregation band).
# --------------------------------------------------------------------------


@_register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(l_extendedprice), 2)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           round(avg(l_quantity), 4)                                        AS avg_qty,
           round(avg(l_extendedprice), 4)                                   AS avg_price,
           round(avg(l_discount), 6)                                        AS avg_disc,
           CAST(count(*) AS BIGINT)                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    headline=True,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One shuffle: partial+final hash aggregate over the filtered scan; the
    shipdate filter pushes to parquet row-group stats."""
    l = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return aggregate(
        filter_rows(l, F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")),
        ["l_returnflag", "l_linestatus"],
        [
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        ],
    )


# --------------------------------------------------------------------------
# Source band (SURVEY §2.2, S1/S2): CSV landing + schema inference, at the
# driver gate — the reference's single most-used op (pyspark-1.ipynb:68).
# --------------------------------------------------------------------------


@_register(
    "csv_infer_roundtrip",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders
    """,
)
def csv_infer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S2 at the driver gate: land the orders table as a real CSV file
    set (header on), read it back with ``read_csv(infer=True)`` — the
    reference's `header`+`inferSchema` idiom — and hash-match the parquet
    truth. Inference divergences are normalized per SURVEY §7.4.3 by
    casting each inferred column to the parquet schema (e.g. int32 vs
    int64 widths, timestamp text parsed back): the VALUES must round-trip
    exactly, the inferred physical types are allowed to differ in width
    only. Exercises the CSV writer's quoting, the inference extra scan,
    and the reader's type coercion end-to-end. The CSV landing is built
    once per (process, sf_dir) via the shared memoizer — repeated
    invocations (driver gate, bench warm+timed runs) re-read, never
    re-write."""
    from datalake_brief_spark.sources import io as dio

    src = _t(spark, sf_dir, "orders")
    path = _lakehouse_table("orders_csv", sf_dir, lambda p: dio.write_csv(src, p))
    got = dio.read_csv(spark, path, infer=True)
    assert set(got.columns) == set(src.columns), "CSV header round-trip lost columns"
    return got.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in src.schema.fields]
    )


@_register(
    "csv_quoted_roundtrip",
    """
    SELECT doc_id,
           substr(text, 1, 20) || ', "' || source || '"' || chr(10) || lang
             AS tricky
    FROM documents
    """,
)
def csv_quoted_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hard CSV cases at the driver gate: a derived column packed with
    embedded commas, double quotes, AND a newline is landed as CSV (the
    writer must quote the field and escape the inner quotes) and read
    back with ``multiLine=true`` (without it, Spark's CSV reader splits
    records at the embedded newline). The oracle recomputes the derived
    value from the parquet truth, so any quoting/escaping/record-split
    defect in the round-trip hash-mismatches. This is the reference's
    actual landing regime — scraped CSVs with free-text columns."""
    from datalake_brief_spark.sources import io as dio

    src = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 20),
            F.lit(', "'),
            F.col("source"),
            F.lit('"\n'),
            F.col("lang"),
        ).alias("tricky"),
    )
    path = _lakehouse_table(
        "docs_csv_quoted", sf_dir, lambda p: dio.write_csv(src, p)
    )
    got = dio.read_csv(spark, path, infer=True, multiLine="true")
    return got.select(F.col("doc_id").cast("long"), F.col("tricky").cast("string"))


@_register(
    "csv_malformed_quarantine",
    """
    SELECT CAST(count(*) FILTER (o_orderkey % 10 <> 0) AS BIGINT) AS n_good,
           CAST(count(*) FILTER (o_orderkey % 10 = 0)  AS BIGINT) AS n_bad,
           CAST(count(*) FILTER (o_orderkey % 10 <> 0) AS BIGINT)
             AS n_price_parsed,
           CAST(sum(o_orderkey) FILTER (o_orderkey % 10 <> 0) AS BIGINT)
             AS good_key_sum
    FROM orders
    """,
)
def csv_malformed_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-row quarantine at the driver gate: orders lands as CSV
    with every 10th row deliberately corrupted (uncastable text in the
    double column), then reads back through ``read_csv_quarantine``
    (PERMISSIVE + columnNameOfCorruptRecord). The gate pins the exact
    good/bad split and the key-sum of the surviving rows against the
    parquet truth — a reader that drops good rows, passes bad ones, or
    fails the job on the first malformed line mismatches. Integer sums
    keep the comparison order-independent and float-free. The agg
    deliberately references the CORRUPTED column (n_price_parsed):
    Spark's CSV parser prunes unreferenced columns and would otherwise
    never attempt the failing cast, silently marking nothing corrupt —
    the exact foot-gun the quarantine docstring warns about, pinned here
    so it can't regress."""
    from datalake_brief_spark.sources import io as dio

    src = _t(spark, sf_dir, "orders")

    def build(path: str) -> None:
        corrupted = src.select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 10 == 0, F.lit("BROKEN"))
            .otherwise(F.col("o_totalprice").cast("string"))
            .alias("o_totalprice"),
            "o_orderstatus",
        )
        dio.write_csv(corrupted, path)

    path = _lakehouse_table("orders_csv_malformed", sf_dir, build)
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderstatus", T.StringType()),
        ]
    )
    got = dio.read_csv_quarantine(spark, path, schema)
    bad = F.col("_corrupt_record").isNotNull()
    return got.agg(
        F.count_if(~bad).cast("long").alias("n_good"),
        F.count_if(bad).cast("long").alias("n_bad"),
        F.count(F.when(~bad, F.col("o_totalprice"))).cast("long").alias("n_price_parsed"),
        F.sum(F.when(~bad, F.col("o_orderkey"))).cast("long").alias("good_key_sum"),
    )


@_register(
    "jsonl_roundtrip",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders
    """,
)
def jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL (the raw-corpus landing format) at the driver gate: orders
    lands as JSON-Lines — timestamps serialize to ISO text, doubles to
    shortest-repr decimal — and reads back under the explicit catalog
    schema (the production contract; inference on JSON is a second full
    text scan). Every value must round-trip exactly against the parquet
    truth: a writer that loses timestamp precision or a reader that
    mis-parses a double mismatches here. Landing built once per
    (process, sf_dir) via the shared memoizer."""
    from datalake_brief_spark.sources import io as dio

    src = _t(spark, sf_dir, "orders")
    path = _lakehouse_table("orders_jsonl", sf_dir, lambda p: dio.write_jsonl(src, p))
    return dio.read_jsonl(spark, path, schema=src.schema).select(*src.columns)


@_register(
    "jsonl_malformed_quarantine",
    """
    SELECT CAST(count(*) FILTER (o_orderkey % 10 <> 0) AS BIGINT) AS n_good,
           CAST(count(*) FILTER (o_orderkey % 10 = 0)  AS BIGINT) AS n_bad,
           CAST(sum(o_orderkey) FILTER (o_orderkey % 10 <> 0) AS BIGINT)
             AS good_key_sum
    FROM orders
    """,
)
def jsonl_malformed_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JSONL twin of csv_malformed_quarantine: orders lands as
    JSON-Lines with every 10th line made unparseable (a brace-broken
    prefix), read back under the explicit schema with ``_corrupt_record``
    in it — Spark's PERMISSIVE JSON default quarantines the raw line.
    Unlike CSV there is no column-pruning foot-gun: a JSON line that
    fails tokenization is corrupt no matter which fields are referenced.
    Same integer good/bad/key-sum pins against parquet truth."""
    from datalake_brief_spark.sources import io as dio

    src = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )

    def build(path: str) -> None:
        line = F.to_json(F.struct("o_orderkey", "o_totalprice", "o_orderstatus"))
        src.select(
            F.when(
                F.col("o_orderkey") % 10 == 0, F.concat(F.lit("{BROKEN "), line)
            )
            .otherwise(line)
            .alias("value")
        ).write.mode("overwrite").text(path)

    path = _lakehouse_table("orders_jsonl_malformed", sf_dir, build)
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    got = dio.read_jsonl(spark, path, schema=schema)
    bad = F.col("_corrupt_record").isNotNull()
    return got.agg(
        F.count_if(~bad).cast("long").alias("n_good"),
        F.count_if(bad).cast("long").alias("n_bad"),
        F.sum(F.when(~bad, F.col("o_orderkey"))).cast("long").alias("good_key_sum"),
    )


@_register(
    "orc_roundtrip",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders
    """,
)
def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC (the Hive/Trino interchange edge) at the driver gate: orders
    lands as ORC and reads back under the catalog schema — the columnar
    cousin must preserve exactly what parquet holds, including timestamp
    semantics across the two formats' different epoch handling. Same
    memoized-landing regime as the CSV/JSONL gates."""
    from datalake_brief_spark.sources import io as dio

    src = _t(spark, sf_dir, "orders")
    path = _lakehouse_table("orders_orc", sf_dir, lambda p: dio.write_orc(src, p))
    return dio.read_orc(spark, path, schema=src.schema).select(*src.columns)


# --------------------------------------------------------------------------
# Projection band (SURVEY §2.3, P1-P7)
# --------------------------------------------------------------------------


@_register(
    "proj_select",
    "SELECT c_custkey, c_name, c_mktsegment FROM customer",
)
def proj_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P3: ReadSchema should show exactly these 3 of 5 columns."""
    return project(_t(spark, sf_dir, "customer"), "c_custkey", "c_name", "c_mktsegment")


@_register(
    "proj_derive",
    """
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount), 4) AS revenue
    FROM lineitem WHERE l_orderkey < 1000
    """,
)
def proj_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: derived arithmetic column (reference df['Experience']+2,
    pyspark-1.ipynb:305).

    round(·,4) not 2: products of 2-decimal inputs are exact 4-decimal
    values, so no rounding midpoint exists — Spark (decimal-repr HALF_UP)
    and DuckDB (binary round) then agree bit-for-bit. Rounding per-row
    values at the data's own resolution is midpoint-prone across engines.
    """
    l = filter_rows(_t(spark, sf_dir, "lineitem"), F.col("l_orderkey") < 1000)
    l = derive(l, "revenue", F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4))
    return project(l, "l_orderkey", "l_linenumber", "revenue")


@_register(
    "proj_rename_drop",
    """
    SELECT p_partkey, p_name, p_type, p_size, p_retailprice AS price
    FROM part WHERE p_size > 40
    """,
)
def proj_rename_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6/P7: rename + drop (reference pyspark-1.ipynb:343,381)."""
    p = filter_rows(_t(spark, sf_dir, "part"), F.col("p_size") > 40)
    p = p.withColumnsRenamed({"p_retailprice": "price"}).drop("p_brand")
    return p


# --------------------------------------------------------------------------
# Filter band (SURVEY §2.4, F1-F7)
# --------------------------------------------------------------------------


@_register(
    "filter_sql_string",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_totalprice <= 20000.0 AND o_orderstatus = 'O'
    """,
)
def filter_sql_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: SQL-string predicate through the Catalyst parser (reference
    df.filter("Salary<=20000"), pyspark-2.ipynb:360)."""
    o = filter_rows(
        _t(spark, sf_dir, "orders"), "o_totalprice <= 20000.0 AND o_orderstatus = 'O'"
    )
    return project(o, "o_orderkey", "o_custkey", "o_totalprice")


@_register(
    "filter_column_expr",
    "SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal < 0",
)
def filter_column_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: Column-object predicate (reference pyspark-2.ipynb:411)."""
    return project(
        filter_rows(_t(spark, sf_dir, "customer"), F.col("c_acctbal") < 0),
        "c_custkey",
        "c_acctbal",
    )


@_register(
    "filter_conjunction",
    """
    SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
    WHERE l_quantity >= 10 AND l_quantity <= 20 AND l_returnflag = 'R'
    """,
)
def filter_conjunction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: & conjunction (reference pyspark-2.ipynb:436)."""
    l = _t(spark, sf_dir, "lineitem")
    cond = (
        (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 20) & (F.col("l_returnflag") == "R")
    )
    return project(filter_rows(l, cond), "l_orderkey", "l_linenumber", "l_quantity")


@_register(
    "filter_negation",
    "SELECT o_orderkey, o_orderstatus FROM orders WHERE NOT (o_orderstatus = 'F')",
)
def filter_negation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: ~ negation (reference pyspark-2.ipynb:459)."""
    o = filter_rows(_t(spark, sf_dir, "orders"), ~(F.col("o_orderstatus") == "F"))
    return project(o, "o_orderkey", "o_orderstatus")


@_register(
    "filter_contains",
    "SELECT p_partkey, p_name FROM part WHERE contains(p_name, 'widget')",
)
def filter_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: KQL-style substring filter (reference README.md:239-242
    ``contains "regeneratekey"``)."""
    p = filter_rows(_t(spark, sf_dir, "part"), F.col("p_name").contains("widget"))
    return project(p, "p_partkey", "p_name")


@_register(
    "filter_project_pipeline",
    """
    SELECT c_name, c_acctbal FROM customer
    WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 5000
    """,
)
def filter_project_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: filter→select chain collapses to one scan-stage (reference
    pyspark-2.ipynb:386)."""
    c = _t(spark, sf_dir, "customer")
    return project(
        filter_rows(c, (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 5000)),
        "c_name",
        "c_acctbal",
    )


# --------------------------------------------------------------------------
# Aggregation band (SURVEY §2.5, A1-A7)
# --------------------------------------------------------------------------


@_register(
    "agg_groupby_sum",
    """
    SELECT o_orderpriority,
           round(sum(o_totalprice), 2) AS total_price,
           CAST(count(*) AS BIGINT)    AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_groupby_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 (reference groupBy().sum(), pyspark-2.ipynb:547)."""
    return aggregate(
        _t(spark, sf_dir, "orders"),
        ["o_orderpriority"],
        [
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            F.count(F.lit(1)).alias("n_orders"),
        ],
    )


@_register(
    "agg_groupby_mean",
    """
    SELECT c_mktsegment, round(avg(c_acctbal), 4) AS avg_bal
    FROM customer GROUP BY c_mktsegment
    """,
)
def agg_groupby_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 (reference groupBy().mean(), pyspark-2.ipynb:571)."""
    return aggregate(
        _t(spark, sf_dir, "customer"),
        ["c_mktsegment"],
        [F.round(F.avg("c_acctbal"), 4).alias("avg_bal")],
    )


@_register(
    "agg_groupby_count",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
)
def agg_groupby_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 (reference groupBy().count(), pyspark-2.ipynb:595)."""
    return aggregate(
        _t(spark, sf_dir, "events"), ["event_type"], [F.count(F.lit(1)).alias("n")]
    )


@_register(
    "agg_global",
    """
    SELECT round(sum(l_quantity), 2)      AS sum_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(min(l_extendedprice), 2) AS min_price,
           round(max(l_extendedprice), 2) AS max_price,
           CAST(count(*) AS BIGINT)       AS n_rows
    FROM lineitem
    """,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: grand-total aggregate, no keys (reference df.agg({'Salary':'sum'}),
    pyspark-2.ipynb:617)."""
    return aggregate(
        _t(spark, sf_dir, "lineitem"),
        [],
        [
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.min("l_extendedprice"), 2).alias("min_price"),
            F.round(F.max("l_extendedprice"), 2).alias("max_price"),
            F.count(F.lit(1)).alias("n_rows"),
        ],
    )


@_register(
    "summary_stats",
    """
    SELECT CAST(count(o_totalprice) AS BIGINT) AS n,
           round(avg(o_totalprice), 4)         AS mean,
           round(stddev_samp(o_totalprice), 4) AS stddev,
           min(o_totalprice)                   AS min,
           max(o_totalprice)                   AS max
    FROM orders
    """,
)
def q_summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: typed describe() (reference pyspark-1.ipynb:294; sample stddev
    matches the golden 4.1793... convention)."""
    return summary_stats(_t(spark, sf_dir, "orders"), "o_totalprice")


def _describe_oracle(table: str, numeric: list[str], strings: list[str], order: list[str]) -> str:
    """Whole-table describe() oracle: one UNION ALL branch per column, same
    typed long form as operators.relational.describe_all."""
    branches = []
    for c in order:
        if c in numeric:
            branches.append(
                f"SELECT '{c}' AS col_name, CAST(count({c}) AS BIGINT) AS n,"
                f" round(avg({c}), 4) AS mean, round(stddev_samp({c}), 4) AS stddev,"
                f" CAST(min({c}) AS DOUBLE) AS min_num, CAST(max({c}) AS DOUBLE) AS max_num,"
                f" CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str"
                f" FROM {table}"
            )
        else:
            branches.append(
                f"SELECT '{c}', CAST(count({c}) AS BIGINT),"
                f" CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),"
                f" CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),"
                f" min({c}), max({c}) FROM {table}"
            )
    return " UNION ALL ".join(branches)


@_register(
    "describe_table",
    _describe_oracle(
        "customer",
        numeric=["c_custkey", "c_nationkey", "c_acctbal"],
        strings=["c_name", "c_mktsegment"],
        order=["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    ),
)
def describe_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 whole-table: the reference's one-call ``df.describe().show()``
    (golden pyspark-1.ipynb:280-288 — every column at once, string min/max
    lexicographic, NULL mean/stddev for strings), as ONE aggregate pass in
    typed long form (see operators.relational.describe_all)."""
    return describe_all(_t(spark, sf_dir, "customer"))


@_register(
    "count_alert",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_matches,
           count(*) >= 1            AS fired
    FROM events WHERE event_type = 'error'
    """,
)
def q_count_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/F5: the reference's KQL row-count alert in batch form
    (README.md:239-244, threshold 1)."""
    return count_alert(_t(spark, sf_dir, "events"), F.col("event_type") == "error", threshold=1)


# --------------------------------------------------------------------------
# Null-handling band (SURVEY §2.6, N1-N7) over a derived nulled view
# --------------------------------------------------------------------------

_NULLED_SQL = """
    WITH nulled AS (
      SELECT c_custkey,
             CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END          AS bal,
             CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN NULL ELSE c_mktsegment END AS seg
      FROM customer
    )
"""


def _nulled_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, None).otherwise(F.col("c_acctbal")).alias("bal"),
        F.when(F.col("c_mktsegment") == "AUTOMOBILE", None)
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
    )


@_register(
    "na_drop_any",
    _NULLED_SQL + "SELECT * FROM nulled WHERE bal IS NOT NULL AND seg IS NOT NULL",
)
def na_drop_any(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N1/N2 (reference na.drop(how='any'), pyspark-2.ipynb:125,154)."""
    return drop_nulls(_nulled_customer(spark, sf_dir), how="any")


@_register(
    "na_drop_all",
    _NULLED_SQL
    + "SELECT bal, seg FROM nulled WHERE bal IS NOT NULL OR seg IS NOT NULL",
)
def na_drop_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3 (reference na.drop(how='all'), pyspark-2.ipynb:186): drop only rows
    where EVERY column is null — projected to the two nullable columns so the
    mode is exercised for real (with the never-null key included no row can
    be all-null and how='all' is vacuous)."""
    return drop_nulls(_nulled_customer(spark, sf_dir).select("bal", "seg"), how="all")


@_register(
    "na_drop_thresh",
    _NULLED_SQL
    + """
    SELECT * FROM nulled
    WHERE 1 + (CASE WHEN bal IS NOT NULL THEN 1 ELSE 0 END)
            + (CASE WHEN seg IS NOT NULL THEN 1 ELSE 0 END) >= 2
    """,
)
def na_drop_thresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4: keep rows with ≥2 non-null cells (reference thresh=2 edge,
    pyspark-2.ipynb:216)."""
    return drop_nulls(_nulled_customer(spark, sf_dir), thresh=2)


@_register(
    "na_drop_subset",
    _NULLED_SQL + "SELECT * FROM nulled WHERE bal IS NOT NULL",
)
def na_drop_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N5 (reference na.drop(subset='Experience'), pyspark-2.ipynb:245)."""
    return drop_nulls(_nulled_customer(spark, sf_dir), subset=["bal"])


@_register(
    "na_fill",
    _NULLED_SQL
    + """
    SELECT c_custkey,
           COALESCE(bal, 0.0)       AS bal,
           COALESCE(seg, 'UNKNOWN') AS seg
    FROM nulled
    """,
)
def na_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N6: typed fill — the double fills only ``bal``, the string only
    ``seg`` (reference type-matching golden, pyspark-2.ipynb:258-269)."""
    nc = _nulled_customer(spark, sf_dir)
    return fill_nulls(fill_nulls(nc, 0.0, subset=["bal"]), "UNKNOWN", subset=["seg"])


@_register(
    "impute_mean",
    _NULLED_SQL
    + """
    SELECT c_custkey,
           round(COALESCE(bal, (SELECT avg(bal) FROM nulled)), 2) AS bal_imputed
    FROM nulled
    """,
)
def q_impute_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N7: mean impute as a declarative plan (reference Imputer mean strategy,
    pyspark-2.ipynb:286-324) — one stats aggregate broadcast back over the
    scan, no pyspark.ml fit job."""
    imp = impute_mean(_nulled_customer(spark, sf_dir), ["bal"])
    return imp.select("c_custkey", F.round(F.col("bal_imputed"), 2).alias("bal_imputed"))


@_register(
    "impute_median",
    _NULLED_SQL
    + """
    SELECT c_custkey,
           round(COALESCE(bal, (SELECT quantile_cont(bal, 0.5) FROM nulled)), 2) AS bal_imputed
    FROM nulled
    """,
)
def q_impute_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N7 median strategy (reference Imputer names mean/median/mode,
    pyspark-2.ipynb cell-10): exact interpolated percentile broadcast back
    over the scan — see operators.nulls.impute_median."""
    imp = impute_median(_nulled_customer(spark, sf_dir), ["bal"])
    return imp.select("c_custkey", F.round(F.col("bal_imputed"), 2).alias("bal_imputed"))


@_register(
    "null_profile",
    _NULLED_SQL
    + """
    SELECT CAST(count(*) AS BIGINT)                                   AS n_rows,
           CAST(sum(CASE WHEN bal IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_bal,
           CAST(sum(CASE WHEN seg IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_seg
    FROM nulled
    """,
)
def q_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profiling: per-column null counts in ONE aggregate pass
    (never one job per column — at 100 TB a per-column loop is N full
    scans). See operators.nulls.null_profile."""
    from datalake_brief_spark.operators.nulls import null_profile

    return null_profile(_nulled_customer(spark, sf_dir), ["bal", "seg"])


@_register(
    "impute_mode",
    _NULLED_SQL
    + """
    SELECT c_custkey,
           COALESCE(seg, (
             SELECT seg FROM nulled WHERE seg IS NOT NULL
             GROUP BY seg ORDER BY count(*) DESC, seg LIMIT 1
           )) AS seg_imputed
    FROM nulled
    """,
)
def q_impute_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N7 mode strategy: most frequent non-null value, smallest on ties
    (pyspark.ml Imputer's tie rule) — the only strategy that imputes
    strings. See operators.nulls.impute_mode."""
    imp = impute_mode(_nulled_customer(spark, sf_dir), "seg")
    return imp.select("c_custkey", F.col("seg_imputed"))


# --------------------------------------------------------------------------
# Join band (SURVEY §2.7 extension)
# --------------------------------------------------------------------------


@_register(
    "join_dim_chain",
    """
    SELECT r_name, n_name,
           CAST(count(*) AS BIGINT)  AS n_customers,
           round(sum(c_acctbal), 2)  AS total_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
    headline=True,
)
def join_dim_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema dim chain: both dims broadcast — the fact side never
    shuffles for the joins; the only exchange is the final group-by."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = join_dim(
        join_dim(c, n, on=c.c_nationkey == n.n_nationkey),
        r,
        on=F.col("n_regionkey") == r.r_regionkey,
    )
    return aggregate(
        joined,
        ["r_name", "n_name"],
        [
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        ],
    )


@_register(
    "join_fact_revenue",
    """
    SELECT o_orderpriority,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT)                          AS n_lines
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderstatus <> 'P'
    GROUP BY o_orderpriority
    """,
    headline=True,
)
def join_fact_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact×fact equi-join on the order key: shuffle join (AQE decides SMJ vs
    shuffled-hash and splits skewed partitions)."""
    o = filter_rows(_t(spark, sf_dir, "orders"), F.col("o_orderstatus") != "P")
    l = _t(spark, sf_dir, "lineitem")
    j = join_fact(o, l, on=o.o_orderkey == l.l_orderkey)
    return aggregate(
        j,
        ["o_orderpriority"],
        [
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        ],
    )


@_register(
    "join_semi",
    """
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_big_spenders
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000)
    GROUP BY c_mktsegment
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS via left-semi: the probe side never widens rows."""
    c = _t(spark, sf_dir, "customer")
    o = filter_rows(_t(spark, sf_dir, "orders"), F.col("o_totalprice") > 100000)
    s = semi_join(c, o, on=c.c_custkey == o.o_custkey)
    return aggregate(s, ["c_mktsegment"], [F.count(F.lit(1)).alias("n_big_spenders")])


@_register(
    "join_anti",
    """
    SELECT c_custkey FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS via left-anti: customers who never ordered."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return project(anti_join(c, o, on=c.c_custkey == o.o_custkey), "c_custkey")


@_register(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d')                 AS orderdate,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
    headline=True,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join, two pushed-down date filters, aggregate,
    global top-10. The segment-filtered customer side is scale-proportional
    (1/5 of a SF-sized table), so orders⋈customer is declared as a shuffle
    join and AQE elects the runtime broadcast at gate scale;
    orders⋈lineitem shuffles on the order key; the final top-10 is
    TakeOrderedAndProject — no total sort."""
    c = filter_rows(_t(spark, sf_dir, "customer"), F.col("c_mktsegment") == "BUILDING")
    o = filter_rows(
        _t(spark, sf_dir, "orders"),
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp"),
    )
    l = filter_rows(
        _t(spark, sf_dir, "lineitem"),
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp"),
    )
    j = join_fact(join_fact(o, c.select("c_custkey"), on=o.o_custkey == c.c_custkey), l,
                  on=F.col("o_orderkey") == l.l_orderkey)
    agg = aggregate(
        j.withColumn("orderdate", F.date_format("o_orderdate", "yyyy-MM-dd")),
        ["l_orderkey", "orderdate", "o_orderpriority"],
        [F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")],
    )
    out = top_k(agg, [F.col("revenue").desc(), F.col("l_orderkey")], 10)
    return out.select("l_orderkey", "revenue", "orderdate", "o_orderpriority")


@_register(
    "q5_nation_revenue",
    """
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT)                          AS n_lines
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    JOIN orders   ON l_orderkey = o_orderkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY n_name
    """,
    headline=True,
)
def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way star join. Nation and region (fixed-size
    dims) broadcast into supplier; the ASIA-supplier result is
    scale-proportional, so lineitem⋈suppliers is declared as a shuffle
    join — AQE elects the runtime broadcast at gate scale — and
    orders⋈lineitem shuffles on the order key, then one aggregate."""
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = filter_rows(_t(spark, sf_dir, "region"), F.col("r_name") == "ASIA")
    o = filter_rows(
        _t(spark, sf_dir, "orders"),
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01 00:00:00").cast("timestamp")),
    )
    dims = join_dim(
        join_dim(s, n, on=s.s_nationkey == n.n_nationkey),
        r,
        on=F.col("n_regionkey") == r.r_regionkey,
    ).select("s_suppkey", "n_name")
    j = join_fact(
        join_fact(l, dims, on=l.l_suppkey == F.col("s_suppkey")),
        o.select("o_orderkey"),
        on=F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return aggregate(
        j,
        ["n_name"],
        [
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        ],
    )


@_register(
    "dq_report",
    """
    WITH agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN NOT (o_totalprice > 5000) THEN 1 ELSE 0 END) AS BIGINT) AS v_price,
             CAST(sum(CASE WHEN NOT (o_orderstatus IN ('O','F')) THEN 1 ELSE 0 END) AS BIGINT) AS v_status,
             CAST(sum(CASE WHEN NOT (o_orderdate >= TIMESTAMP '1996-01-01 00:00:00') THEN 1 ELSE 0 END) AS BIGINT) AS v_date,
             CAST(sum(CASE WHEN NOT (o_custkey IS NOT NULL) THEN 1 ELSE 0 END) AS BIGINT) AS v_cust
      FROM orders
    )
    SELECT 'positive_price' AS rule, v_price AS n_violations,
           round(v_price * 1.0 / greatest(n, 1), 6) AS violation_rate FROM agg
    UNION ALL
    SELECT 'known_status', v_status, round(v_status * 1.0 / greatest(n, 1), 6) FROM agg
    UNION ALL
    SELECT 'date_in_range', v_date, round(v_date * 1.0 / greatest(n, 1), 6) FROM agg
    UNION ALL
    SELECT 'custkey_present', v_cust, round(v_cust * 1.0 / greatest(n, 1), 6) FROM agg
    """,
)
def dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality report over orders: four CHECK-semantics rules counted
    in one partial+final aggregate pass (each rule a map-side-combined
    conditional count — one scan, a 1-row exchange, any table size; the
    write-path twin is txlog add_constraint, which REJECTS violations at
    commit time, while this read-path report MEASURES them). Thresholds
    chosen so three of the four rules FIRE on TESTDATA (125 / 5088 / 2286
    violations at sf0.01) — an all-zero report would be vacuous
    evidence."""
    from datalake_brief_spark.operators.relational import dq_report as _dq

    return _dq(
        _t(spark, sf_dir, "orders"),
        {
            "positive_price": "o_totalprice > 5000",
            "known_status": "o_orderstatus IN ('O','F')",
            "date_in_range": "o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'",
            "custkey_present": "o_custkey IS NOT NULL",
        },
    )


@_register(
    "dq_fk_integrity",
    """
    WITH edge1 AS (
      SELECT 'lineitem.l_orderkey->orders' AS relationship,
             CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_child,
             CAST((SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL) AS BIGINT) AS n_null_fk,
             CAST((SELECT count(*) FROM lineitem l WHERE l_orderkey IS NOT NULL
                   AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT) AS n_orphans,
             CAST((SELECT count(DISTINCT o_orderkey) FROM orders) AS BIGINT) AS n_parent,
             CAST((SELECT count(DISTINCT o_orderkey) FROM orders o
                   WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)) AS BIGINT) AS n_referenced
    ), edge2 AS (
      SELECT 'orders.o_custkey->customer' AS relationship,
             CAST((SELECT count(*) FROM orders) AS BIGINT),
             CAST((SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS BIGINT),
             CAST((SELECT count(*) FROM orders o WHERE o_custkey IS NOT NULL
                   AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
             CAST((SELECT count(DISTINCT c_custkey) FROM customer) AS BIGINT),
             CAST((SELECT count(DISTINCT c_custkey) FROM customer c
                   WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS BIGINT)
    ), u AS (
      SELECT * FROM edge1 UNION ALL SELECT * FROM edge2
    )
    SELECT relationship, n_child, n_null_fk, n_orphans,
           round(n_orphans * 1.0 / greatest(n_child, 1), 6) AS orphan_rate,
           n_parent, n_referenced,
           round(n_referenced * 1.0 / greatest(n_parent, 1), 6) AS parent_coverage
    FROM u
    """,
)
def dq_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity profile of the star schema's two core FK
    edges (operators.relational.fk_integrity). Both sides pre-aggregate
    to key sets before ONE full-outer join per edge — the fact table is
    never probed row-by-row. TESTDATA is consistent, so orphan counts
    are 0 — but the totals and coverage ratios (e.g. not every customer
    has orders at every SF) are non-trivial hash-checked values."""
    from datalake_brief_spark.operators.relational import fk_integrity

    e1 = fk_integrity(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        "l_orderkey",
        "o_orderkey",
        "lineitem.l_orderkey->orders",
    )
    e2 = fk_integrity(
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        "o_custkey",
        "c_custkey",
        "orders.o_custkey->customer",
    )
    return e1.unionByName(e2)


@_register(
    "profile_join_skew",
    """
    WITH counts AS (
      SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS n_rows
      FROM events GROUP BY 1
    ), stats AS (
      SELECT sum(n_rows) AS total, count(*) AS nkeys FROM counts
    )
    SELECT key, CAST(n_rows AS BIGINT) AS n_rows,
           round(n_rows * 1.0 / total, 6) AS share,
           round(n_rows * nkeys * 1.0 / total, 6) AS skew_factor
    FROM counts, stats
    ORDER BY n_rows DESC, key LIMIT 5
    """,
)
def profile_join_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile for events.user_id (operators.relational
    join_key_skew): the 5 heaviest keys with their share and skew factor
    (count over mean-per-key) — the number that decides between a plain
    shuffle join, salting (joins.salted_join), and AQE skew-split
    tuning. One partial+final count per key, a 1-row stats broadcast,
    TakeOrdered top-5 with the key as tiebreak."""
    from datalake_brief_spark.operators.relational import join_key_skew

    return join_key_skew(_t(spark, sf_dir, "events"), "user_id", top_k=5)


@_register(
    "profile_drift",
    """
    WITH ref AS (SELECT CAST(n_chars AS DOUBLE) AS n_chars,
                        CAST(doc_id AS DOUBLE) AS doc_id
                 FROM documents WHERE lang = 'en'),
    cur AS (SELECT CAST(n_chars AS DOUBLE) AS n_chars,
                   CAST(doc_id AS DOUBLE) AS doc_id
            FROM documents WHERE lang = 'fr'),
    refl AS (
      SELECT 'n_chars' AS col, n_chars AS x FROM ref
      UNION ALL SELECT 'doc_id', doc_id FROM ref
    ),
    curl AS (
      SELECT 'n_chars' AS col, n_chars AS x FROM cur
      UNION ALL SELECT 'doc_id', doc_id FROM cur
    ),
    edges AS (SELECT col, min(x) AS mn, max(x) AS mx FROM refl GROUP BY col),
    rb AS (
      SELECT r.col,
             CAST(CASE WHEN mx = mn THEN 0
                  ELSE least(greatest(floor((x - mn) * 10 / (mx - mn)), 0), 9)
                  END AS BIGINT) AS bucket,
             count(*) AS n_ref
      FROM refl r JOIN edges e ON r.col = e.col GROUP BY 1, 2
    ),
    cb AS (
      SELECT c.col,
             CAST(CASE WHEN mx = mn THEN 0
                  ELSE least(greatest(floor((x - mn) * 10 / (mx - mn)), 0), 9)
                  END AS BIGINT) AS bucket,
             count(*) AS n_cur
      FROM curl c JOIN edges e ON c.col = e.col GROUP BY 1, 2
    ),
    j AS (
      SELECT coalesce(rb.col, cb.col) AS col,
             coalesce(rb.bucket, cb.bucket) AS bucket,
             coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
      FROM rb FULL OUTER JOIN cb ON rb.col = cb.col AND rb.bucket = cb.bucket
    ),
    tot AS (SELECT col, sum(n_ref) AS tr, sum(n_cur) AS tc FROM j GROUP BY col)
    SELECT j.col AS "column",
           round(sum((n_cur / greatest(tc, 1) + 1e-6 - (n_ref / greatest(tr, 1) + 1e-6))
                     * ln((n_cur / greatest(tc, 1) + 1e-6)
                          / (n_ref / greatest(tr, 1) + 1e-6))), 6) AS psi,
           CAST(max(tr) AS BIGINT) AS n_ref,
           CAST(max(tc) AS BIGINT) AS n_cur
    FROM j JOIN tot ON j.col = tot.col
    GROUP BY 1
    """,
)
def profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift (PSI over reference-binned fixed-width
    histograms, operators.relational.distribution_drift) between the
    English and French document populations: n_chars genuinely shifts
    (PSI ≈ 0.43 at sf0.01 — document lengths differ by language in
    TESTDATA) while doc_id stays in the stable band (PSI ≈ 0.12, the
    small-sample noise floor for 64 docs over 10 buckets), so the
    report shows a drifting column AND a control — not a vacuous
    all-zero report. All bucket/PSI arithmetic is the identical
    IEEE double expression on both engines, so the oracle matches
    exactly; one scan per side, never a row-to-row join."""
    from datalake_brief_spark.operators.relational import distribution_drift

    d = _t(spark, sf_dir, "documents")
    ref = filter_rows(d, F.col("lang") == "en")
    cur = filter_rows(d, F.col("lang") == "fr")
    return distribution_drift(ref, cur, ["n_chars", "doc_id"], n_buckets=10)


@_register(
    "leakage_safe_split",
    """
    WITH RECURSIVE tok AS (
      SELECT doc_id, source,
             regexp_split_to_array(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
      FROM documents
    ),
    sh AS (
      SELECT doc_id, source,
             list_distinct([array_to_string(t[i:i+2], ' ')
                            for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS sh
      FROM tok
    ),
    pairs AS (
      SELECT a.doc_id AS src, b.doc_id AS dst
      FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh)) * 1.0
            / len(list_distinct(a.sh || b.sh)) >= 0.8
    ),
    edges AS (SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs),
    walk(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.r
    ),
    clusters AS (
      SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
      FROM walk GROUP BY id
    )
    SELECT doc_id, cluster_id,
           CASE
             WHEN ('0x' || substring(md5(CAST(cluster_id AS VARCHAR)), 1, 8))::BIGINT % 10 < 8 THEN 'train'
             WHEN ('0x' || substring(md5(CAST(cluster_id AS VARCHAR)), 1, 8))::BIGINT % 10 < 9 THEN 'val'
             ELSE 'test'
           END AS split
    FROM clusters
    """,
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-leakage-safe 80/10/10 split: near-dup clusters (trigram Jaccard
    ≥0.8, LSH candidates, connected components) are the split unit, so no
    near-duplicate pair straddles the train/eval boundary. The assignment
    is the md5-bucket hash of the cluster id — deterministic, stable under
    corpus growth, portable (the oracle recomputes the identical md5
    bucket in DuckDB and walks the identical cluster relation, so a
    cluster split across sides or a drifting bucket both mismatch)."""
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, block_col="source", k=3, threshold=0.8)
    return dedup.leakage_safe_split(
        d, pairs, {"train": 8, "val": 1, "test": 1}
    ).select("doc_id", "cluster_id", "split")


@_register(
    "profile_histogram",
    """
    SELECT CASE WHEN l_extendedprice < 0 THEN 0
                WHEN l_extendedprice >= 60000 THEN 21
                ELSE least(CAST(floor((l_extendedprice - 0) / 3000.0) + 1 AS BIGINT), 20)
           END AS bucket,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    WHERE l_extendedprice IS NOT NULL
    GROUP BY bucket
    """,
)
def profile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of l_extendedprice (20 buckets over [0, 60k],
    width_bucket under/overflow semantics): one partial+final aggregate
    keyed on the bucket index — map-side combine bounds the shuffle at
    n_bins+2 rows per partition, so the profile costs one scan at any
    table size. The oracle replays the same floor arithmetic."""
    from datalake_brief_spark.operators.relational import histogram

    return histogram(
        _t(spark, sf_dir, "lineitem"), "l_extendedprice", 20, 0.0, 60000.0
    )


@_register(
    "profile_correlations",
    """
    SELECT col_a, col_b, round(corr_v, 6) AS corr
    FROM (
      SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
             corr(l_quantity, l_extendedprice) AS corr_v FROM lineitem
      UNION ALL
      SELECT 'l_quantity', 'l_discount', corr(l_quantity, l_discount) FROM lineitem
      UNION ALL
      SELECT 'l_quantity', 'l_tax', corr(l_quantity, l_tax) FROM lineitem
      UNION ALL
      SELECT 'l_extendedprice', 'l_discount', corr(l_extendedprice, l_discount) FROM lineitem
      UNION ALL
      SELECT 'l_extendedprice', 'l_tax', corr(l_extendedprice, l_tax) FROM lineitem
      UNION ALL
      SELECT 'l_discount', 'l_tax', corr(l_discount, l_tax) FROM lineitem
    )
    """,
)
def profile_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations of the four lineitem measures in ONE
    aggregate pass — all six corr accumulators combine map-side, so the
    full matrix is one scan + a 1-row exchange at any scale (the oracle's
    six separate scans are the luxury of a 60k-row gate; the Spark plan is
    the shape you'd run at 100 TB)."""
    from datalake_brief_spark.operators.relational import correlations

    return correlations(
        _t(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )


@_register(
    "q6_forecast_revenue",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           CAST(count(*) AS BIGINT)                    AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan → global aggregate, zero joins. The whole
    point at 100 TB is the scan: all four predicates push to the parquet
    reader (PushedFilters on shipdate/discount/quantity — row groups
    outside the year or discount band never decompress), ReadSchema
    carries only the four referenced columns, and the single-row result
    comes from a partial+final aggregate with no keyed shuffle at all."""
    l = _t(spark, sf_dir, "lineitem")
    f = filter_rows(
        l,
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24),
    )
    return f.agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


@_register(
    "q18_large_orders",
    """
    WITH big AS (
      SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300
    )
    SELECT c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           round(o_totalprice, 2)            AS totalprice,
           total_qty
    FROM big
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate the fact FIRST (one keyed shuffle with
    map-side combine collapses lineitem to one row per order), filter with
    HAVING to a tiny key set, and only then join orders and customer — the
    aggregate-then-join pattern that keeps the join build side proportional
    to qualifying orders, not the fact table. The filtered aggregate
    broadcasts into orders under AQE (its size is known at runtime), so the
    6B-row fact is never re-shuffled for the join."""
    l = _t(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__qty"))
        .filter(F.col("__qty") > 300)
        .select("l_orderkey", F.round("__qty", 2).alias("total_qty"))
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    # both joins broadcast the SMALL side: `big` (HAVING-filtered keys)
    # into orders, then the qualified-orders result into customer — the
    # customer table itself is never a broadcast candidate at scale
    qualified = join_dim(o, big, on=o.o_orderkey == big.l_orderkey)
    j = join_dim(
        c.select("c_custkey", "c_name"),
        qualified,
        on=F.col("o_custkey") == F.col("c_custkey"),
    )
    return j.select(
        "c_name",
        "c_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        F.round("o_totalprice", 2).alias("totalprice"),
        "total_qty",
    )


@_register(
    "q4_order_priority",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (adapted to this schema's columns: EXISTS a line
    shipped after the order date): the EXISTS is a LEFT SEMI join with a
    compound equi+range condition — the fact side never widens the row and
    duplicate lines never double-count an order, exactly the plan shape a
    correlated EXISTS must compile to at scale (never distinct+inner)."""
    o = filter_rows(
        _t(spark, sf_dir, "orders"),
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp")),
    )
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    sj = semi_join(
        o,
        l,
        on=(o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
    )
    return aggregate(
        sj, ["o_orderpriority"], [F.count(F.lit(1)).alias("n_orders")]
    )


@_register(
    "q7_volume_shipping",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS BIGINT)                  AS ship_year,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT)                          AS n_lines
    FROM lineitem l
    JOIN supplier s ON s_suppkey = l_suppkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN orders o   ON o_orderkey = l_orderkey
    JOIN customer c ON c_custkey = o_custkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE n1.n_name IN ('NATION_4', 'NATION_13')
      AND n2.n_name IN ('NATION_4', 'NATION_13')
      AND n1.n_name <> n2.n_name
    GROUP BY supp_nation, cust_nation, ship_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by year.
    Only NATION broadcasts (25 rows, the one true dimension); supplier and
    customer — scale-proportional tables even after the two-nation filter —
    join their fact sides as shuffle joins, and AQE may still elect a
    runtime broadcast at gate scale where the filtered slices are tiny.
    The asymmetric pair filter (n1 ≠ n2, both in the set) applies before
    the aggregate."""
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    nations = F.col("n_name").isin("NATION_4", "NATION_13")
    n1 = filter_rows(n, nations).select(
        F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation")
    )
    n2 = filter_rows(n, nations).select(
        F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("cust_nation")
    )
    sup = join_dim(s, n1, on=F.col("s_nationkey") == F.col("nk1")).select(
        "s_suppkey", "supp_nation"
    )
    cust = join_dim(c, n2, on=F.col("c_nationkey") == F.col("nk2")).select(
        "c_custkey", "cust_nation"
    )
    ords = join_fact(o, cust, on=F.col("o_custkey") == F.col("c_custkey")).select(
        "o_orderkey", "cust_nation"
    )
    j = join_fact(
        join_fact(l, sup, on=F.col("l_suppkey") == F.col("s_suppkey")),
        ords,
        on=F.col("l_orderkey") == F.col("o_orderkey"),
    ).filter(F.col("supp_nation") != F.col("cust_nation"))
    return aggregate(
        j.withColumn("ship_year", F.year("l_shipdate").cast("long")),
        ["supp_nation", "cust_nation", "ship_year"],
        [
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        ],
    )


@_register(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name, n_name,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                          * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2)
                AS DOUBLE) AS revenue
    FROM customer c
    JOIN nation n  ON c.c_nationkey = n.n_nationkey
    JOIN orders o  ON o_custkey = c_custkey
    JOIN lineitem l ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned-item revenue in a
    quarter. The returnflag filter pushes to the lineitem scan, the date
    filter to orders; only NATION broadcasts — customer is scale-
    proportional, so orders⋈customer is a shuffle join (AQE may still
    elect a runtime broadcast at gate scale); the top-20 is
    TakeOrderedAndProject after the aggregate — no total sort."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = filter_rows(
        _t(spark, sf_dir, "orders"),
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp")),
    )
    l = filter_rows(_t(spark, sf_dir, "lineitem"), F.col("l_returnflag") == "R")
    cn = join_dim(c, n, on=F.col("c_nationkey") == F.col("n_nationkey")).select(
        "c_custkey", "c_name", "n_name"
    )
    j = join_fact(
        join_fact(o, cn, on=F.col("o_custkey") == F.col("c_custkey")),
        l,
        on=F.col("o_orderkey") == F.col("l_orderkey"),
    )
    agg = aggregate(
        j,
        ["c_custkey", "c_name", "n_name"],
        [
            # exact DECIMAL arithmetic: double round() diverges between
            # engines on half-cent values (Spark rounds the shortest
            # decimal repr, DuckDB multiplies in fp), so the sum runs in
            # decimals — exact, order-independent — and only the final
            # 2dp value casts back to double
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(12,2)")
                    * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        ],
    )
    return top_k(agg, [F.col("revenue").desc(), F.col("c_custkey")], 20).select(
        "c_custkey", "c_name", "n_name", "revenue"
    )


@_register(
    "q14_promo_revenue",
    """
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct,
           CAST(count(*) AS BIGINT)                            AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-02-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share for one month. Part is
    scale-proportional (SF×200k rows), so lineitem⋈part is declared as a
    shuffle join (AQE elects the runtime broadcast at gate scale);
    numerator and denominator are conditional sums in the SAME
    partial+final aggregate — one scan, one 1-row exchange, never two
    jobs for a ratio."""
    l = filter_rows(
        _t(spark, sf_dir, "lineitem"),
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-02-01 00:00:00").cast("timestamp")),
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = join_fact(l, p, on=F.col("l_partkey") == F.col("p_partkey"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
            / F.sum(rev),
            4,
        ).alias("promo_pct"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@_register(
    "q19_disjunctive_predicates",
    """
    SELECT CAST(count(*) AS BIGINT)                          AS n_lines,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1'  AND p_size BETWEEN 1  AND 15 AND l_quantity BETWEEN 1  AND 20)
       OR (p_brand = 'Brand#7'  AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 40)
    """,
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (adapted to this schema's columns): a disjunction of
    conjunctive bands spanning BOTH join sides. Catalyst pushes the
    per-side implied filters (the OR of brands/sizes to the part scan, the
    OR of quantity bands to lineitem) below the join and keeps
    the cross-side residual above it — the predicate-decomposition shape
    that makes disjunctive joins scan-bounded instead of join-bounded."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = join_fact(l, p, on=F.col("l_partkey") == F.col("p_partkey"))
    band = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    ) | (
        (F.col("p_brand") == "Brand#7")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 30)
    ) | (
        (F.col("p_brand") == "Brand#13")
        & F.col("p_size").between(20, 50)
        & F.col("l_quantity").between(20, 40)
    )
    return j.filter(band).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


# --------------------------------------------------------------------------
# TPC-H completion band: the 12 remaining official query shapes (Q2, Q8, Q9,
# Q11, Q12, Q13, Q15, Q16, Q17, Q20, Q21, Q22), adapted to this schema.
# TESTDATA has no partsupp table, so the part-supplier relation is derived
# from lineitem where the original uses partsupp — the plan SHAPES under
# test (correlated-min join-back, scalar subqueries, EXISTS/NOT EXISTS
# self-joins, NOT IN anti joins, market-share ratios) are unchanged.
# Wherever a float aggregate feeds an equality or threshold comparison, the
# sum runs in DECIMAL (exact, order-independent) so Spark's partition
# summation order can never flip a row in or out vs the oracle.
# --------------------------------------------------------------------------


@_register(
    "q2_min_cost_supplier",
    """
    WITH costs AS (
      SELECT l_partkey, l_suppkey,
             min(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ), eu AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    )
    SELECT p_partkey, s_name, round(s_acctbal, 2) AS acctbal, n_name,
           round(unit_cost, 6) AS unit_cost
    FROM part
    JOIN costs ON l_partkey = p_partkey
    JOIN eu ON l_suppkey = s_suppkey
    WHERE p_size = 15 AND p_type = 'STANDARD'
      AND unit_cost = (
        SELECT min(c2.unit_cost)
        FROM costs c2 JOIN eu e2 ON c2.l_suppkey = e2.s_suppkey
        WHERE c2.l_partkey = p_partkey)
    """,
    headline=True,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (partsupp derived from lineitem): for each part in the
    size/type band, the EUROPE supplier(s) offering the minimum unit price.
    The correlated MIN compiles to aggregate + join-back on the group key —
    computed ONCE, never re-evaluated per row — and the selective part
    filter pushes THROUGH the aggregate: unit costs are derived from
    lineitem already joined to the ~1/300-selectivity part band (the
    filter drops whole parts, so each surviving part's per-supplier min is
    unchanged), exactly the partsupp⋈filtered-part-first ordering every
    production Q2 plan uses. The min is a selection (no summation), so
    double equality is engine-stable. nation/region broadcast; supplier is
    scale-proportional and shuffles."""
    l = _t(spark, sf_dir, "lineitem")
    psel = filter_rows(
        _t(spark, sf_dir, "part"),
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD"),
    ).select("p_partkey")
    costs = aggregate(
        join_fact(l, psel, on=F.col("l_partkey") == F.col("p_partkey")),
        ["l_partkey", "l_suppkey"],
        [F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")],
    )
    n = _t(spark, sf_dir, "nation")
    r = filter_rows(_t(spark, sf_dir, "region"), F.col("r_name") == "EUROPE")
    eu = join_dim(
        join_dim(
            _t(spark, sf_dir, "supplier"), n, on=F.col("s_nationkey") == F.col("n_nationkey")
        ),
        r,
        on=F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    eu_costs = join_fact(costs, eu, on=F.col("l_suppkey") == F.col("s_suppkey"))
    best = aggregate(
        eu_costs.select(F.col("l_partkey").alias("bk"), "unit_cost"),
        ["bk"],
        [F.min("unit_cost").alias("min_cost")],
    )
    winners = join_fact(
        eu_costs,
        best,
        on=(F.col("l_partkey") == F.col("bk")) & (F.col("unit_cost") == F.col("min_cost")),
    )
    return winners.select(
        F.col("l_partkey").alias("p_partkey"),
        "s_name",
        F.round("s_acctbal", 2).alias("acctbal"),
        "n_name",
        F.round("unit_cost", 6).alias("unit_cost"),
    )


@_register(
    "q8_market_share",
    """
    SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
           round(CAST(sum(CASE WHEN n1.n_name = 'NATION_7'
                               THEN CAST(l_extendedprice AS DECIMAL(12,2))
                                    * (1 - CAST(l_discount AS DECIMAL(4,2)))
                               ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
                 / CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                            * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE),
                 6) AS mkt_share
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    JOIN region ON n2.n_regionkey = r_regionkey
    WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
      AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY o_year
    """,
    headline=True,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_7's share of ECONOMY-part revenue sold to
    AMERICA customers, by year. Numerator and denominator are conditional
    sums in ONE partial+final aggregate (one scan, one exchange); both run
    in DECIMAL so the 6dp ratio is summation-order-proof. nation/region
    broadcast; supplier/customer/part shuffle (scale-proportional)."""
    l = _t(spark, sf_dir, "lineitem")
    p = filter_rows(_t(spark, sf_dir, "part"), F.col("p_type") == "ECONOMY").select("p_partkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation")
    )
    o = filter_rows(
        _t(spark, sf_dir, "orders"),
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp")),
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk2"), F.col("n_regionkey").alias("rk2")
    )
    r = filter_rows(_t(spark, sf_dir, "region"), F.col("r_name") == "AMERICA").select(
        "r_regionkey"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    cust = join_dim(
        join_dim(c, n2, on=F.col("c_nationkey") == F.col("nk2")),
        r,
        on=F.col("rk2") == F.col("r_regionkey"),
    ).select("c_custkey")
    sup = join_dim(s, n1, on=F.col("s_nationkey") == F.col("nk1")).select(
        "s_suppkey", "supp_nation"
    )
    ords = join_fact(o, cust, on=F.col("o_custkey") == F.col("c_custkey")).select(
        "o_orderkey", "o_orderdate"
    )
    j = join_fact(
        join_fact(
            join_fact(l, p, on=F.col("l_partkey") == F.col("p_partkey")),
            sup,
            on=F.col("l_suppkey") == F.col("s_suppkey"),
        ),
        ords,
        on=F.col("l_orderkey") == F.col("o_orderkey"),
    )
    dec_rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    return aggregate(
        j.withColumn("o_year", F.year("o_orderdate").cast("long")),
        ["o_year"],
        [
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_7", dec_rev).otherwise(
                        F.lit(0).cast("decimal(12,2)")
                    )
                ).cast("double")
                / F.sum(dec_rev).cast("double"),
                6,
            ).alias("mkt_share")
        ],
    )


@_register(
    "q9_product_profit",
    """
    SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                          * (1 - CAST(l_discount AS DECIMAL(4,2)))
                          - CAST(p_retailprice AS DECIMAL(12,2))
                            * CAST(l_quantity AS DECIMAL(12,2))
                            * CAST(0.1 AS DECIMAL(3,1))), 2) AS DOUBLE) AS profit
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN orders ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%blue%'
    GROUP BY n_name, year(o_orderdate)
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (supply cost modeled as 10% of retail price — no
    partsupp in this schema): profit on 'blue' product lines by supplier
    nation and order year. The p_name LIKE filter pushes to the part scan
    (StartsWith/Contains reach parquet); profit runs in exact DECIMAL.
    nation broadcasts; part/supplier/orders shuffle."""
    l = _t(spark, sf_dir, "lineitem")
    p = filter_rows(_t(spark, sf_dir, "part"), F.col("p_name").like("%blue%")).select(
        "p_partkey", "p_retailprice"
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    sup = join_dim(s, n, on=F.col("s_nationkey") == F.col("n_nationkey")).select(
        "s_suppkey", F.col("n_name").alias("nation")
    )
    j = join_fact(
        join_fact(
            join_fact(l, p, on=F.col("l_partkey") == F.col("p_partkey")),
            sup,
            on=F.col("l_suppkey") == F.col("s_suppkey"),
        ),
        o,
        on=F.col("l_orderkey") == F.col("o_orderkey"),
    )
    profit = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    ) - F.col("p_retailprice").cast("decimal(12,2)") * F.col("l_quantity").cast(
        "decimal(12,2)"
    ) * F.lit(0.1).cast("decimal(3,1)")
    return aggregate(
        j.withColumn("o_year", F.year("o_orderdate").cast("long")),
        ["nation", "o_year"],
        [F.round(F.sum(profit), 2).cast("double").alias("profit")],
    )


@_register(
    "q11_important_parts",
    """
    WITH pv AS (
      SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS value_dec
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
      GROUP BY l_partkey
    )
    SELECT l_partkey AS p_partkey,
           CAST(round(value_dec, 2) AS DOUBLE) AS part_value
    FROM pv
    WHERE CAST(value_dec AS DOUBLE) >
          (SELECT CAST(sum(value_dec) AS DOUBLE) * 0.001 FROM pv)
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (stock value derived from lineitem of ASIA-region
    suppliers): parts whose value exceeds 0.1% of the group total. The
    scalar subquery is a 1-row re-aggregate of the SAME grouped relation,
    broadcast back — two aggregates, one scan lineage, never a rescan.
    Sums run in DECIMAL so the threshold comparison is order-proof."""
    l = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")
    r = filter_rows(_t(spark, sf_dir, "region"), F.col("r_name") == "ASIA")
    sup = join_dim(
        join_dim(
            _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey"),
            n,
            on=F.col("s_nationkey") == F.col("n_nationkey"),
        ),
        r,
        on=F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("s_suppkey")
    pv = aggregate(
        join_fact(l, sup, on=F.col("l_suppkey") == F.col("s_suppkey")),
        ["l_partkey"],
        [F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).alias("value_dec")],
    )
    total = pv.agg((F.sum("value_dec").cast("double") * F.lit(0.001)).alias("threshold"))
    return (
        pv.crossJoin(F.broadcast(total))
        .filter(F.col("value_dec").cast("double") > F.col("threshold"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.round("value_dec", 2).cast("double").alias("part_value"),
        )
    )


@_register(
    "q12_late_lines",
    """
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    WHERE l_shipdate >= o_orderdate + INTERVAL 90 DAY
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_linestatus
    """,
)
def q12_late_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipmode → linestatus; late = shipped ≥90 days
    after ordering): priority mix of late lines. The cross-table date
    predicate stays as a join residual; the shipdate year-range pushes to
    the lineitem scan. One conditional partial+final aggregate."""
    l = filter_rows(
        _t(spark, sf_dir, "lineitem"),
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp")),
    ).select("l_orderkey", "l_linestatus", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    j = join_fact(l, o, on=F.col("l_orderkey") == F.col("o_orderkey")).filter(
        F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return aggregate(
        j,
        ["l_linestatus"],
        [
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        ],
    )


@_register(
    "q13_customer_distribution",
    """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey
    ) t
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of per-customer order counts, keeping
    zero-order customers via LEFT OUTER. The ON-clause filter references
    only the right side, so it pushes below the join (filter-then-join is
    semantics-preserving for left outer); count(o_orderkey) counts matches
    only — nulls from unmatched customers don't count. Two aggregates."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = filter_rows(
        _t(spark, sf_dir, "orders"), F.col("o_orderpriority") != "5-LOW"
    ).select("o_orderkey", "o_custkey")
    j = join_fact(c, o, on=F.col("c_custkey") == F.col("o_custkey"), how="left_outer")
    per_cust = aggregate(
        j, ["c_custkey"], [F.count("o_orderkey").cast("long").alias("c_count")]
    )
    return aggregate(per_cust, ["c_count"], [F.count(F.lit(1)).alias("custdist")])


@_register(
    "q15_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey, sum(CAST(l_extendedprice AS DECIMAL(12,2))
                            * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           CAST(round(total_rev, 2) AS DOUBLE) AS supplier_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT max(total_rev) FROM rev)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (the view becomes a named subplan): supplier(s)
    whose quarterly revenue equals the maximum. Revenue sums run in exact
    DECIMAL — the equality against max() can never be broken by double
    summation order. The max is a 1-row broadcast back onto the SAME
    aggregate: the explicit l_suppkey not-null filter keeps both branches'
    exchange subtrees canonically identical (the later supplier join would
    otherwise infer it into only one side), so AQE materializes the rev
    shuffle ONCE and the max branch reads it as a ReusedExchange — one
    lineitem scan, asserted at runtime in test_plans.py."""
    l = filter_rows(
        _t(spark, sf_dir, "lineitem"),
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
        & F.col("l_suppkey").isNotNull(),
    )
    dec_rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    rev = aggregate(l, ["l_suppkey"], [F.sum(dec_rev).alias("total_rev")])
    mx = rev.agg(F.max("total_rev").alias("max_rev"))
    top = rev.crossJoin(F.broadcast(mx)).filter(F.col("total_rev") == F.col("max_rev"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return join_fact(top, s, on=F.col("l_suppkey") == F.col("s_suppkey")).select(
        "s_suppkey",
        "s_name",
        F.round("total_rev", 2).cast("double").alias("supplier_revenue"),
    )


@_register(
    "q16_supplier_cnt",
    """
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#3' AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 9, 15, 23)
      AND l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier counts per part attribute bucket,
    excluding blacklisted suppliers. NOT IN becomes LEFT ANTI only with an
    explicit ``l_suppkey IS NOT NULL`` alignment filter (SQL NOT IN drops
    NULL probes, an anti join keeps them — same not-null alignment as
    q21); count(DISTINCT) expands to the two-phase partial-distinct
    aggregate. The brand/type/size filters push to the part scan."""
    bad = filter_rows(
        _t(spark, sf_dir, "supplier"), F.col("s_acctbal") < 0.0
    ).select("s_suppkey")
    l = anti_join(
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .filter(F.col("l_suppkey").isNotNull()),
        bad,
        on=F.col("l_suppkey") == F.col("s_suppkey"),
    )
    p = filter_rows(
        _t(spark, sf_dir, "part"),
        (F.col("p_brand") != "Brand#3")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 15, 23),
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    j = join_fact(l, p, on=F.col("l_partkey") == F.col("p_partkey"))
    return aggregate(
        j,
        ["p_brand", "p_type", "p_size"],
        [F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt")],
    )


@_register(
    "q17_small_quantity",
    """
    WITH pq AS (
      SELECT l_partkey AS pk,
             CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
               / count(*) AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)))
                           AS DOUBLE) / 7.0, 2) AS DOUBLE) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pq ON pk = l_partkey
    WHERE p_brand = 'Brand#5' AND p_type = 'SMALL'
      AND l_quantity < 0.2 * avg_qty
    """,
)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue lost to small-quantity orders. The
    correlated per-part average compiles to aggregate + join-back on
    l_partkey (never a per-row subquery) — and the selective part filter
    pushes THROUGH the aggregate: the per-part average is computed from
    lineitem already joined to the filtered part set (the filter drops
    whole parts, never lines within a part, so each surviving part's
    average is unchanged), shrinking the aggregate input ~150× — at
    100 TB the difference between aggregating the whole fact table and
    aggregating one brand's slice. The average derives from a DECIMAL
    sum over integral quantities, so the 0.2×avg threshold is
    bit-identical across engines."""
    l = _t(spark, sf_dir, "lineitem")
    p = filter_rows(
        _t(spark, sf_dir, "part"),
        (F.col("p_brand") == "Brand#5") & (F.col("p_type") == "SMALL"),
    ).select("p_partkey")
    lp = join_fact(l, p, on=F.col("l_partkey") == F.col("p_partkey"))
    pq = aggregate(
        lp.select(F.col("l_partkey").alias("pk"), "l_quantity"),
        ["pk"],
        [
            (
                F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_qty")
        ],
    )
    j = join_fact(lp, pq, on=F.col("pk") == F.col("l_partkey")).filter(
        F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty")
    )
    return j.agg(
        F.round(
            F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).cast("double") / 7.0, 2
        )
        .cast("double")
        .alias("avg_yearly")
    )


@_register(
    "q20_excess_suppliers",
    """
    WITH shipped AS (
      SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE 'blue%'
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l_suppkey, l_partkey
    )
    SELECT s_name, CAST(round(s_acctbal, 2) AS DOUBLE) AS acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
      AND s_suppkey IN (SELECT l_suppkey FROM shipped WHERE qty > 50.0)
    """,
)
def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (availqty derived from shipped volume): EUROPE
    suppliers who moved >50 units of some 'blue' part in 1996. The IN
    compiles to LEFT SEMI against the aggregated subplan; quantities are
    integral doubles so their sum is exact in any order. The p_name prefix
    filter pushes to the part scan as StringStartsWith."""
    l = filter_rows(
        _t(spark, sf_dir, "lineitem"),
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp")),
    ).select("l_partkey", "l_suppkey", "l_quantity")
    p = filter_rows(_t(spark, sf_dir, "part"), F.col("p_name").like("blue%")).select(
        "p_partkey"
    )
    shipped = aggregate(
        join_fact(l, p, on=F.col("l_partkey") == F.col("p_partkey")),
        ["l_suppkey", "l_partkey"],
        [F.sum("l_quantity").alias("qty")],
    )
    movers = filter_rows(shipped, F.col("qty") > 50.0).select("l_suppkey")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = filter_rows(_t(spark, sf_dir, "region"), F.col("r_name") == "EUROPE")
    eu = join_dim(
        join_dim(s, n, on=F.col("s_nationkey") == F.col("n_nationkey")),
        r,
        on=F.col("n_regionkey") == F.col("r_regionkey"),
    )
    return semi_join(eu, movers, on=F.col("s_suppkey") == F.col("l_suppkey")).select(
        "s_name", F.round("s_acctbal", 2).cast("double").alias("acctbal")
    )


@_register(
    "q21_waiting_suppliers",
    """
    WITH late AS (
      SELECT l_orderkey, l_suppkey
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE o_orderstatus = 'F'
        AND l_shipdate >= o_orderdate + INTERVAL 60 DAY
    )
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM late l1
    JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name LIMIT 20
    """,
    headline=True,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on
    finished multi-supplier orders. The EXISTS is a LEFT SEMI self-join on
    l_orderkey with a suppkey-inequality residual; the NOT EXISTS a LEFT
    ANTI over the same late relation — never distinct+join. Top-20 is
    TakeOrderedAndProject with s_name as the deterministic tiebreak."""
    # explicit not-null filters on the join keys: `late` is consumed twice
    # (as l1 and as the NOT-EXISTS side l3); the supplier/semi joins below
    # would infer these constraints into only the l1 branch, de-canonicalizing
    # the shared subtree — aligned, AQE reuses the l⋈o shuffles instead of
    # recomputing the late relation (asserted at runtime in test_plans.py)
    l = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .filter(F.col("l_orderkey").isNotNull() & F.col("l_suppkey").isNotNull())
    )
    o = filter_rows(
        _t(spark, sf_dir, "orders"),
        (F.col("o_orderstatus") == "F") & F.col("o_orderkey").isNotNull(),
    ).select("o_orderkey", "o_orderdate")
    late = (
        join_fact(l, o, on=F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    # both self-join sides are scale-proportional (full lineitem / the late
    # quarter of it): declare them sort-merge so the static plan never
    # builds a fact-sized broadcast hash relation. Un-hinted, Catalyst's
    # compressed-file-size estimate elects a static broadcast at small SF
    # and the cost explodes superlinearly as data grows (measured 22.9×
    # wall at 8× data in tools/tpch_scale_check.py); with the hint the 8×
    # point is ~linear.
    l2 = (
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("sk2"))
        .hint("merge")
    )
    l3 = late.select(
        F.col("l_orderkey").alias("ok3"), F.col("l_suppkey").alias("sk3")
    ).hint("merge")
    sole_late = anti_join(
        semi_join(
            late,
            l2,
            on=(F.col("l_orderkey") == F.col("ok2")) & (F.col("l_suppkey") != F.col("sk2")),
        ),
        l3,
        on=(F.col("l_orderkey") == F.col("ok3")) & (F.col("l_suppkey") != F.col("sk3")),
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    agg = aggregate(
        join_fact(sole_late, s, on=F.col("l_suppkey") == F.col("s_suppkey")),
        ["s_name"],
        [F.count(F.lit(1)).alias("numwait")],
    )
    return top_k(agg, [F.col("numwait").desc(), F.col("s_name")], 20).select(
        "s_name", "numwait"
    )


@_register(
    "q22_dormant_customers",
    """
    WITH thr AS (
      SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
               / count(*) AS avg_bal
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
           CAST(round(sum(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS totacctbal
    FROM customer, thr
    WHERE c_acctbal > avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
    GROUP BY c_nationkey
    """,
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no RECENT
    orders (none since 1999 — in TESTDATA every customer has lifetime
    orders, so the unfiltered anti join would be vacuously empty), by
    nation. The scalar average broadcasts (DECIMAL-derived, order-proof);
    the NOT EXISTS is a LEFT ANTI against a date-filtered orders key
    column only — at 100 TB the anti side carries one long per order."""
    c = _t(spark, sf_dir, "customer")
    thr = filter_rows(c, F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(12,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    rich = c.crossJoin(F.broadcast(thr)).filter(F.col("c_acctbal") > F.col("avg_bal"))
    o = filter_rows(
        _t(spark, sf_dir, "orders"),
        F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp"),
    ).select("o_custkey")
    dormant = anti_join(rich, o, on=F.col("c_custkey") == F.col("o_custkey"))
    return aggregate(
        dormant,
        ["c_nationkey"],
        [
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(12,2)")), 2)
            .cast("double")
            .alias("totacctbal"),
        ],
    )


@_register(
    "join_left_outer",
    """
    SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS n_orders
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join preserving customers with zero orders (count of the
    nullable key counts only matches)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    j = join_fact(c, o, on=c.c_custkey == o.o_custkey, how="left")
    return aggregate(j, ["c_custkey"], [F.count("o_orderkey").alias("n_orders")])


@_register(
    "join_full_outer",
    """
    WITH cc AS (
      SELECT c_nationkey AS k, CAST(count(*) AS BIGINT) AS n_cust
      FROM customer GROUP BY c_nationkey
    ),
    ss AS (
      SELECT s_nationkey AS k, CAST(count(*) AS BIGINT) AS n_supp
      FROM supplier GROUP BY s_nationkey
    )
    SELECT coalesce(cc.k, ss.k) AS nationkey,
           coalesce(n_cust, 0)  AS n_cust,
           coalesce(n_supp, 0)  AS n_supp
    FROM cc FULL OUTER JOIN ss ON cc.k = ss.k
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two aggregates (nations having only customers or
    only suppliers survive with zero-filled counts)."""
    cc = aggregate(
        _t(spark, sf_dir, "customer"),
        [F.col("c_nationkey").alias("k")],
        [F.count(F.lit(1)).alias("n_cust")],
    )
    ss = aggregate(
        _t(spark, sf_dir, "supplier"),
        [F.col("s_nationkey").alias("k")],
        [F.count(F.lit(1)).alias("n_supp")],
    )
    j = cc.withColumnRenamed("k", "ck").join(
        ss.withColumnRenamed("k", "sk"), F.col("ck") == F.col("sk"), "full_outer"
    )
    return j.select(
        F.coalesce(F.col("ck"), F.col("sk")).alias("nationkey"),
        F.coalesce(F.col("n_cust"), F.lit(0)).alias("n_cust"),
        F.coalesce(F.col("n_supp"), F.lit(0)).alias("n_supp"),
    )


@_register(
    "agg_statistics",
    """
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6)       AS qty_price_corr,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_covar,
           round(var_samp(l_discount), 6)                    AS disc_var,
           round(stddev_samp(l_tax), 6)                      AS tax_stddev
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate suite (correlation / covariance / variance):
    all single-pass partial+final aggregates, no extra scan per statistic."""
    return aggregate(
        _t(spark, sf_dir, "lineitem"),
        ["l_returnflag"],
        [
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("qty_price_covar"),
            F.round(F.var_samp("l_discount"), 6).alias("disc_var"),
            F.round(F.stddev_samp("l_tax"), 6).alias("tax_stddev"),
        ],
    )


@_register(
    "window_rank_suite",
    """
    SELECT o_orderkey, o_orderstatus,
           CAST(rank()       OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           round(percent_rank() OVER w, 6)     AS prnk,
           CAST(ntile(4)     OVER w AS BIGINT) AS quartile,
           round(cume_dist() OVER w, 6)        AS cdist
    FROM orders
    WHERE o_orderkey < 2000
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function suite over one shared window (single shuffle+sort
    serves all five functions). The unique-key tie-break makes ntile and
    the rank family deterministic."""
    from pyspark.sql import Window

    o = filter_rows(_t(spark, sf_dir, "orders"), F.col("o_orderkey") < 2000)
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


@_register(
    "array_agg_segments",
    """
    SELECT c_nationkey,
           array_to_string(list_sort(list_distinct(list(c_mktsegment))), ',') AS segments,
           CAST(count(*) AS BIGINT)                                           AS n_customers
    FROM customer GROUP BY c_nationkey
    """,
)
def array_agg_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation with a DETERMINISTIC canonical form: collect_set
    order is engine/partition-dependent, so always sort_array before
    comparing or persisting collected arrays. Emitted as a ','-joined STRING
    (not array<string>) so order-insensitive hashers — the driver's
    canonicalizer included — see a scalar on both engines."""
    return aggregate(
        _t(spark, sf_dir, "customer"),
        ["c_nationkey"],
        [
            F.concat_ws(",", F.sort_array(F.collect_set("c_mktsegment"))).alias("segments"),
            F.count(F.lit(1)).alias("n_customers"),
        ],
    )


# --------------------------------------------------------------------------
# Window / sort / set band (SURVEY §2.8 extension)
# --------------------------------------------------------------------------


@_register(
    "topk_global",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k → TakeOrderedAndProject (per-partition heap, no total
    sort). Tie-break on the unique key keeps it deterministic."""
    o = project(_t(spark, sf_dir, "orders"), "o_orderkey", "o_custkey", "o_totalprice")
    return top_k(o, [F.col("o_totalprice").desc(), F.col("o_orderkey")], 10)


@_register(
    "topk_per_group",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(row_number() OVER (
               PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
             ) AS BIGINT) AS rn
      FROM orders
    ) WHERE rn <= 2
    """,
    headline=True,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 orders per customer: one shuffle on the partition key."""
    o = project(_t(spark, sf_dir, "orders"), "o_custkey", "o_orderkey", "o_totalprice")
    out = top_k_per_group(
        o, ["o_custkey"], [F.col("o_totalprice").desc(), F.col("o_orderkey")], 2
    )
    return out.withColumn("rn", F.col("rn").cast("long"))


@_register(
    "window_running",
    """
    SELECT o_orderkey, o_custkey,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 2) AS running_total
    FROM orders
    """,
)
def window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative per-customer spend ordered by date (unique-key tiebreak)."""
    o = _t(spark, sf_dir, "orders")
    out = running_agg(
        o,
        ["o_custkey"],
        [F.col("o_orderdate"), F.col("o_orderkey")],
        F.sum("o_totalprice"),
        "running_total",
    )
    return out.select(
        "o_orderkey", "o_custkey", F.round("running_total", 2).alias("running_total")
    )


@_register(
    "sessionize",
    """
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 600 * 1000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    )
    SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions FROM g GROUP BY user_id
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (10-min gap): lag + cumsum windows sharing one
    partitioning → single shuffle; then per-user session counts."""
    e = _t(spark, sf_dir, "events")
    s = sessionize(e, "user_id", "ts", gap_seconds=600)
    return aggregate(s, ["user_id"], [F.max("session_id").cast("long").alias("n_sessions")])


@_register(
    "setop_union",
    """
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey FROM supplier
    """,
)
def setop_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION DISTINCT across two key sets."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


@_register(
    "setop_except",
    """
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier
    """,
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT DISTINCT: nations with customers but no suppliers."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s)


@_register(
    "events_sliding",
    """
    SELECT strftime(start, '%Y-%m-%d %H:%M') AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n
    FROM (
      SELECT ts, event_type,
             time_bucket(INTERVAL 30 MINUTES, ts) - o.off * INTERVAL 30 MINUTES AS start
      FROM events CROSS JOIN (VALUES (0), (1)) o(off)
    )
    WHERE ts >= start AND ts < start + INTERVAL 60 MINUTES
    GROUP BY 1, 2
    """,
)
def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) windows in batch: 1 h windows every 30 min — each
    event lands in 2 overlapping windows (Spark's window() explodes
    window-assignment in the scan stage; map-side partial agg absorbs the
    2× blow-up before the shuffle). The streaming twin is
    streaming.windowed_counts(slide=...)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm").alias("window_start"),
            "event_type",
            "n",
        )
    )


@_register(
    "events_funnel",
    """
    WITH s0 AS (SELECT user_id, min(ts) AS t FROM events
                WHERE event_type = 'view' GROUP BY user_id),
         s1 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
                JOIN s0 ON e.user_id = s0.user_id
                WHERE e.event_type = 'click' AND e.ts > s0.t
                GROUP BY e.user_id),
         s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
                JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'purchase' AND e.ts > s1.t
                GROUP BY e.user_id)
    SELECT 'view' AS step, CAST(0 AS BIGINT) AS step_order,
           (SELECT CAST(count(*) AS BIGINT) FROM s0) AS n_users
    UNION ALL SELECT 'click', CAST(1 AS BIGINT),
           (SELECT CAST(count(*) AS BIGINT) FROM s1)
    UNION ALL SELECT 'purchase', CAST(2 AS BIGINT),
           (SELECT CAST(count(*) AS BIGINT) FROM s2)
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view→click→purchase (operators.windows.
    funnel): step k counts a user only if the event came STRICTLY AFTER
    their completion of step k-1 (earliest-qualifying-time semantics, so
    out-of-order events can't fake a conversion). One keyed agg per step,
    all shuffling on the same user key with monotonically shrinking
    survivor sets — no full-stream windows, no per-user event collection.
    The oracle replays the same sequential-min recurrence in SQL."""
    from datalake_brief_spark.operators.windows import funnel

    return funnel(
        _t(spark, sf_dir, "events"), ["view", "click", "purchase"]
    )


@_register(
    "events_retention",
    """
    WITH first AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort
                   FROM events GROUP BY user_id)
    SELECT CAST(first.cohort AS DATE) AS cohort_week,
           CAST(date_diff('day', first.cohort, date_trunc('week', e.ts)) / 7
                AS BIGINT)                          AS week_offset,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
    FROM events e JOIN first ON e.user_id = first.user_id
    GROUP BY 1, 2
    """,
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts (operators.windows.retention_cohorts):
    users cohorted by first-event week, each (cohort, offset) cell
    counting distinct users active that many weeks later. Two shuffles on
    the user key (first-seen agg + join back, partitioning reused), then a
    count-distinct over the small cohort×offset grid. Week truncation is
    Monday-start in both engines; offsets are exact multiples of 7 days
    by construction so the /7 is lossless."""
    from datalake_brief_spark.operators.windows import retention_cohorts

    return retention_cohorts(_t(spark, sf_dir, "events"))


@_register(
    "graph_pagerank_copurchase",
    """
    SELECT CAST(count(DISTINCT p) AS BIGINT) AS n_nodes,
           TRUE AS mass_conserved,
           TRUE AS all_positive
    FROM (SELECT l1.l_partkey AS p FROM lineitem l1 JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey <> l2.l_partkey)
    """,
)
def graph_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (operators.graph.pagerank) over the part co-purchase graph
    (parts sharing an order, symmetric by construction so no dangling
    nodes). Per-rank values are iterative float and not cross-engine
    hashable, so the gate pins what IS exact: the node set must equal the
    SQL count of parts with at least one co-purchase partner, total rank
    mass must be conserved at n_nodes (the no-dangling invariant of the
    rank-mass formulation — a lost or double-shipped contribution breaks
    it), and every rank must be strictly positive. The rank VALUES are
    pinned against a driver-side power-iteration model in pytest. Ten
    fixed rounds, three same-key shuffles per round, per-round
    localCheckpoint — the plan is O(1) in iteration count."""
    from datalake_brief_spark.operators.graph import pagerank

    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    r = l.withColumnRenamed("l_partkey", "dst_part")
    edges = (
        l.join(r, "l_orderkey")
        .filter(F.col("l_partkey") != F.col("dst_part"))
        .select(F.col("l_partkey").alias("src"), F.col("dst_part").alias("dst"))
        .distinct()
    )
    ranks = pagerank(edges, iterations=10)
    return ranks.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("rank").alias("__s"),
        F.min("rank").alias("__m"),
    ).select(
        F.col("__n").alias("n_nodes"),
        (F.abs(F.col("__s") - F.col("__n")) / F.col("__n") < 1e-6).alias(
            "mass_conserved"
        ),
        (F.col("__m") > 0).alias("all_positive"),
    )


@_register(
    "events_hourly",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2)     AS total_value
    FROM events GROUP BY 1, 2
    """,
    headline=True,
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the streaming windowed count (streaming.windowed_counts
    is the continuous twin): tumbling 1h windows × event_type."""
    e = _t(spark, sf_dir, "events")
    return aggregate(
        e.withColumn("hour", F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm")),
        ["hour", "event_type"],
        [
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        ],
    )


@_register(
    "events_resample_fill",
    """
    WITH b AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket, value FROM events
    ),
    c AS (
      SELECT event_type, bucket,
             CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS tv
      FROM b GROUP BY 1, 2
    ),
    bounds AS (
      SELECT event_type, min(bucket) AS b0, max(bucket) AS b1 FROM b GROUP BY 1
    ),
    s AS (
      SELECT event_type, unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
      FROM bounds
    )
    SELECT s.event_type,
           strftime(s.bucket, '%Y-%m-%d %H:%M') AS hour,
           CAST(coalesce(c.n, 0) AS BIGINT)     AS n_events,
           last_value(c.tv IGNORE NULLS) OVER (
             PARTITION BY s.event_type ORDER BY s.bucket
           )                                    AS total_value
    FROM s LEFT JOIN c ON c.event_type = s.event_type AND c.bucket = s.bucket
    """,
)
def events_resample_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly resample with gap filling: EVERY hour between each
    event_type's first and last event appears — empty hours zero-fill the
    count and forward-fill the running total (operators.timeseries
    resample_fill + forward_fill). The plain grouped aggregate
    (events_hourly) silently omits empty buckets; charting/rate math needs
    this dense form."""
    ev = _t(spark, sf_dir, "events")
    dense = timeseries.resample_fill(
        ev,
        "ts",
        ["event_type"],
        [
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        ],
        step="1 hour",
        fill={"n_events": 0},
    )
    filled = timeseries.forward_fill(dense, "bucket", ["event_type"], ["total_value"])
    return filled.select(
        "event_type",
        F.date_format("bucket", "yyyy-MM-dd HH:mm").alias("hour"),
        F.col("n_events").cast("long").alias("n_events"),
        "total_value",
    )


@_register(
    "events_rolling_stats",
    """
    SELECT event_id, user_id,
           round(avg(value) OVER w, 4) AS roll_avg,
           round(max(value) OVER w, 2) AS roll_max
    FROM events
    WHERE event_type = 'click'
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def events_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing row-frame features (operators.timeseries.rolling_stats):
    per-user rolling mean/max of the last 7 click values — the standard
    trailing-window feature shape for ML pipelines. One shuffle on
    user_id; the sliding frame evaluates in ORDER BY order (event_id
    tiebreak keeps the frame deterministic under timestamp ties)."""
    ev = filter_rows(_t(spark, sf_dir, "events"), F.col("event_type") == "click")
    out = timeseries.rolling_stats(
        ev,
        ["user_id"],
        [F.col("ts"), F.col("event_id")],
        "value",
        n_preceding=6,
        aggs={"roll_avg": "avg", "roll_max": "max"},
    )
    return out.select(
        "event_id",
        "user_id",
        F.round("roll_avg", 4).alias("roll_avg"),
        F.round("roll_max", 2).alias("roll_max"),
    )


@_register(
    "events_trailing_hour",
    """
    SELECT event_id, user_id,
           CAST(count(*) OVER (
             PARTITION BY user_id
             ORDER BY CAST(epoch(ts) AS BIGINT)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_trailing
    FROM events
    WHERE event_type = 'purchase'
    """,
)
def events_trailing_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing TIME-window count (operators.timeseries
    trailing_range_count): purchases by the same user in the hour up to
    and including each event — a RANGE frame over epoch seconds (Spark's
    rangeBetween needs a numeric ordering column; identical semantics to
    ORDER BY ts RANGE INTERVAL 1 HOUR PRECEDING, and timestamp-tie peers
    are included by both engines, so the count is deterministic)."""
    ev = filter_rows(_t(spark, sf_dir, "events"), F.col("event_type") == "purchase")
    out = timeseries.trailing_range_count(
        ev, ["user_id"], "ts", range_seconds=3600, out_col="n_trailing"
    )
    return out.select(
        "event_id", "user_id", F.col("n_trailing").cast("long").alias("n_trailing")
    )


@_register(
    "events_ewma",
    """
    WITH e AS (
      SELECT event_id, user_id, ts, CAST(value AS DOUBLE) AS v
      FROM events WHERE event_type = 'click'
    ),
    ord AS (
      SELECT event_id, user_id, v,
             count(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS k
      FROM e
    ),
    lists AS (
      SELECT user_id,
             list(v ORDER BY ts, event_id) FILTER (WHERE v IS NOT NULL) AS vs
      FROM e GROUP BY user_id
    )
    SELECT o.event_id, o.user_id,
           CASE WHEN o.v IS NULL THEN NULL
                ELSE CAST(round(CAST(CAST(list_reduce(l.vs[1:CAST(o.k AS INT)],
                                                      (acc, x) -> 0.3*x + 0.7*acc)
                                 AS VARCHAR) AS DECIMAL(38,20)), 6) AS DOUBLE)
           END AS ewma
    FROM ord o JOIN lists l USING (user_id)
    """,
)
def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA of each user's click values (α=0.3, adjust=False) — the
    recursive trailing feature no window frame can express, so it runs as
    one Arrow applyInPandas pass per hash shard (operators.timeseries.ewma).
    The oracle replays the recurrence as a per-prefix left fold
    (``list_reduce``, init = first element = y₀): the kernel is the
    definitional ``y = α·x + (1−α)·y`` scalar sequence on both engines
    (1.0−0.3 is bit-equal to the 0.7 literal), so raw doubles match
    bit-for-bit, and the oracle's final round replicates Spark's
    shortest-decimal-repr HALF_UP (VARCHAR→DECIMAL→round — DuckDB's
    plain round() rounds the binary value and flips 6dp-boundary cases
    like 65.6890105). Full value hash-match, not a bound; the
    definitional recurrence is additionally pinned driver-side in
    tests/test_properties.py. Null values: the operator emits null and
    carries state, and the oracle mirrors it — ``count(v)`` (null-
    skipping) indexes a null-filtered fold list, with a NULL literal for
    the null rows themselves (pinned against the oracle SQL on planted
    nulls in pytest). The oracle's prefix fold is O(n²) per key —
    gate-scale only; the Spark side stays O(n)."""
    ev = filter_rows(_t(spark, sf_dir, "events"), F.col("event_type") == "click")
    out = timeseries.ewma(
        ev, ["user_id"], ["ts", "event_id"], "value", alpha=0.3, out_col="ewma"
    )
    return out.select(
        "event_id", "user_id", F.round("ewma", 6).alias("ewma")
    )


@_register(
    "sample_stratified",
    """
    SELECT source, CAST(count(*) AS BIGINT) AS n_stratum, TRUE AS rate_ok
    FROM documents WHERE source IN ('src0', 'src1') GROUP BY source
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded per-stratum sampling for source rebalancing (keep src0
    whole, halve src1, drop the rest), driver-gate form: the Bernoulli
    draw is engine-local, so the entry emits per-stratum totals plus a
    rate check — src0 must be kept EXACTLY whole (fraction 1.0 is not a
    coin flip), src1 within ±5σ of the binomial expectation — and the
    oracle pins the totals and TRUE. A wrong-fraction or wrong-stratum
    bug flips a boolean or adds a row (the join is FULL OUTER, so rows
    leaking from unlisted strata surface as extra rows, never vanish);
    exact-set determinism stays pytest-pinned."""
    d = _t(spark, sf_dir, "documents")
    out = sample_stratified(d, "source", {"src0": 1.0, "src1": 0.5}, seed=42)
    sampled = out.groupBy("source").agg(F.count(F.lit(1)).alias("__n_sampled"))
    totals = (
        d.filter(F.col("source").isin("src0", "src1"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_stratum"))
    )
    tol = 5.0 * F.sqrt(F.col("n_stratum") * 0.25)
    ok = F.when(F.col("source") == "src0", F.col("__n_sampled") == F.col("n_stratum")).otherwise(
        F.abs(F.col("__n_sampled") - 0.5 * F.col("n_stratum")) <= tol
    )
    return totals.join(sampled, "source", "full_outer").select(
        "source", "n_stratum", ok.alias("rate_ok")
    )


# --------------------------------------------------------------------------
# Dedup band (SURVEY §2.14)
# --------------------------------------------------------------------------


@_register(
    "dedup_exact",
    """
    SELECT CAST(min(doc_id) AS BIGINT) AS doc_id
    FROM documents
    GROUP BY trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text; keeps the lowest doc_id per group."""
    return project(dedup.exact_dedup(_t(spark, sf_dir, "documents")), "doc_id")


@_register(
    "dedup_containment",
    """
    WITH tok AS (
      SELECT doc_id,
             regexp_split_to_array(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(t[i:i+2], ' ')
                            for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS sh
      FROM tok
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.sh, b.sh)) * 1.0
                 / least(len(a.sh), len(b.sh)), 6) AS containment
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh)) * 1.0
          / least(len(a.sh), len(b.sh)) >= 0.8
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided shingle containment ≥ 0.8 — finds short-inside-long
    near-dups that symmetric Jaccard structurally misses. Inverted-index
    self-join on hashed trigrams (exact; df-capped variant is the 100 TB
    knob) — see operators.dedup.containment_pairs."""
    return dedup.containment_pairs(
        _t(spark, sf_dir, "documents"), k=3, threshold=0.8
    )


@_register(
    "dedup_ngram_jaccard",
    """
    WITH tok AS (
      SELECT doc_id, source,
             regexp_split_to_array(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
      FROM documents
    ),
    sh AS (
      SELECT doc_id, source,
             list_distinct([array_to_string(t[i:i+2], ' ')
                            for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS sh
      FROM tok
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.sh, b.sh)) * 1.0
                 / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
    FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh)) * 1.0
          / len(list_distinct(a.sh || b.sh)) >= 0.8
    """,
    headline=True,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-trigram Jaccard ≥ 0.8 within a ``source`` block: the join
    shuffles on the block key, never the full n² cross.

    k=3 shingles, not unigrams: this corpus (like any natural one) shares
    vocabulary heavily — ~30% of ALL doc pairs exceed 0.8 UNIGRAM Jaccard, so
    a unigram threshold returns a quadratic result set of non-duplicates.
    Trigram Jaccard between unrelated docs is ~0 while the planted near-dups
    score 0.89-0.99 — the standard shingling choice (Broder 1997)."""
    d = _t(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(d, block_col="source", k=3, threshold=0.8)


@_register(
    "fuzzy_join_sources",
    """
    WITH tok AS (
      SELECT doc_id, source,
             regexp_split_to_array(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
      FROM documents
    ),
    sh AS (
      SELECT doc_id, source,
             list_distinct([array_to_string(t[i:i+2], ' ')
                            for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS sh
      FROM tok
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.sh, b.sh)) * 1.0
                 / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
    FROM sh a JOIN sh b ON length(a.source) = 4 AND length(b.source) = 5
    WHERE len(list_intersect(a.sh, b.sh)) * 1.0
          / len(list_distinct(a.sh || b.sh)) >= 0.8
    """,
)
def fuzzy_join_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy JOIN (record linkage) between two disjoint relations — the
    single-digit sources (src0-src9) matched against the double-digit
    sources (src10-src19) on exact word-trigram Jaccard ≥ 0.8
    (operators.dedup.fuzzy_join). Candidates come from the MinHash band
    equi-join ACROSS the relations (both sides share one hash family and
    band layout), never the |L|·|R| cross; exact Jaccard verifies. The
    DuckDB oracle is the full quadratic join — equality with it is the
    recall proof at the driver's scale (b=32×r=4 → candidate recall
    ≥ 1-5e-8 at J=0.8)."""
    d = _t(spark, sf_dir, "documents")
    left = filter_rows(d, F.length("source") == 4)
    right = filter_rows(d, F.length("source") == 5)
    return dedup.fuzzy_join(left, right, k=3, threshold=0.8)


@_register(
    "dedup_incremental",
    """
    WITH tok AS (
      SELECT doc_id,
             regexp_split_to_array(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(t[i:i+2], ' ')
                            for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS sh
      FROM tok
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.sh, b.sh)) * 1.0
                 / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE (a.doc_id % 2 = 1 OR b.doc_id % 2 = 1)
      AND len(list_intersect(a.sh, b.sh)) * 1.0
          / len(list_distinct(a.sh || b.sh)) >= 0.8
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against a persisted LSH signature index
    (operators.dedup build_dedup_index / incremental_dedup): the
    even-doc_id half is 'yesterday's corpus' (indexed once), the odd half
    is today's increment — only the increment is shingled and banded; the
    corpus contributes an equi-join against its materialized band keys,
    never a recompute. Returns every near-dup pair INVOLVING the
    increment; the oracle is the full quadratic Jaccard join restricted
    to pairs touching the increment, so driver-gate equality proves both
    LSH recall and the index round-trip. The index is built once per
    (process, sf_dir) via the shared memoizer — repeated invocations
    probe the SAME persisted index, which is also the semantics under
    test."""
    d = _t(spark, sf_dir, "documents")
    base = filter_rows(d, F.pmod(F.col("doc_id"), F.lit(2)) == 0)
    inc = filter_rows(d, F.pmod(F.col("doc_id"), F.lit(2)) == 1)
    path = _lakehouse_table(
        "dedupidx", sf_dir, lambda p: dedup.build_dedup_index(base, p, k=3)
    )
    # update_index=False: repeated invocations (driver gate, bench warm+
    # timed runs) must PROBE the memoized index, not append the increment
    # into it again — appending each run would fan the verify join out
    # quadratically across invocations.
    return dedup.incremental_dedup(
        spark, inc, path, k=3, threshold=0.8, update_index=False
    )


@_register(
    "dedup_minhash_recall",
    """
    WITH tok AS (
      SELECT doc_id,
             regexp_split_to_array(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(t[i:i+2], ' ')
                            for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS sh
      FROM tok
    )
    SELECT CAST(count(*) AS BIGINT) AS n_exact, TRUE AS recall_ok
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh)) * 1.0
          / len(list_distinct(a.sh || b.sh)) >= 0.8
    """,
)
def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH quality bound as a DRIVER gate (the raw pair list
    stays rows-only in `dedup_minhash` because the hash family is
    engine-local): count the exact global trigram-Jaccard≥0.8 relation,
    run the LSH pipeline, and pin recall ≥ 0.95 as a boolean (measured
    1.000 at sf0.01 and sf0.1 — b=16×r=8 has ~1-(1-0.8^8)^16 ≈ 0.94
    worst-case candidate recall AT the threshold and ≈1 at the planted
    J≥0.89 pairs). The oracle recomputes n_exact quadratically in SQL and
    pins TRUE; degraded banding flips the boolean."""
    d = _t(spark, sf_dir, "documents")
    exact = dedup.ngram_jaccard_pairs(
        d, block_col=None, k=3, threshold=0.8, candidates="all"
    ).select("id_a", "id_b")
    lsh = dedup.minhash_lsh_pairs(
        d, k=3, num_hashes=128, num_bands=16, threshold=0.8
    ).select("id_a", "id_b")
    hits = lsh.join(exact, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("__hits")
    )
    n = exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    return n.crossJoin(F.broadcast(hits)).select(
        "n_exact",
        (F.col("__hits") >= F.lit(0.95) * F.col("n_exact")).alias("recall_ok"),
    )


@_register(
    "dedup_simhash_recall",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           TRUE AS recall_ok,
           TRUE AS nontrivial
    FROM documents
    """,
)
def dedup_simhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SimHash pigeonhole guarantee as a DRIVER gate (VERDICT r9 ask
    #8 — the raw pair list stays rows-only in `dedup_simhash` because
    FNV/SimHash signatures are engine-local): compute the EXACT global
    hamming≤3 relation by brute force over the signatures (quadratic on
    gate-scale signatures only — 64-bit longs, never text), run the
    Manku multi-block candidate pipeline, and pin recall == 1.0 as a
    boolean — the pigeonhole argument says d flipped bits leave ≥ m−d of
    m blocks identical, so EVERY true pair must surface (not ≥0.95:
    exactness is the contract). ``nontrivial`` pins that the relation is
    non-empty at gate scale (17–27 pairs measured at sf0.001/sf0.01), so
    a silently-empty candidate set can never pass vacuously."""
    d = _t(spark, sf_dir, "documents")
    sh = dedup.with_simhash(d.select("doc_id", "text")).select("doc_id", "simhash")
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sa"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sb"))
    exact = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(dedup.hamming64(F.col("sa"), F.col("sb")) <= 3)
        .select("id_a", "id_b")
    )
    got = dedup.simhash_pairs(d, max_hamming=3).select("id_a", "id_b")
    hits = got.join(exact, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("__hits")
    )
    n = exact.agg(F.count(F.lit(1)).cast("long").alias("__n_exact"))
    n_docs = d.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return (
        n_docs.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(hits))
        .select(
            "n_docs",
            (F.col("__hits") == F.col("__n_exact")).alias("recall_ok"),
            (F.col("__n_exact") > 0).alias("nontrivial"),
        )
    )


@_register(
    "semantic_dedup_recall",
    """
    WITH n AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    )
    SELECT CAST(count(*) AS BIGINT) AS n_exact, TRUE AS recall_ok
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(b.v, b.v))) >= 0.45
    """,
)
def semantic_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SemDeDup quality bound as a DRIVER gate (the raw pair list
    stays rows-only in `semantic_dedup` because k-means cells are
    engine-local): soft-assign each vector to its 4 nearest of 16 cells
    (overlapping clustering recovers boundary pairs — single-assignment
    measured 0.26-0.57 recall on the near-uniform testdata, n_assign=4
    measures 0.965-1.000), compare within shared cells, pin recall vs the
    exact cosine≥0.45 relation at ≥ 0.85. Oracle recomputes n_exact
    quadratically in SQL and pins TRUE."""
    e = _t(spark, sf_dir, "embeddings")
    exact = similarity.cosine_pairs_exact(e, threshold=0.45).select("id_a", "id_b")
    sem = similarity.semantic_pairs(
        e, threshold=0.45, n_clusters=16, n_assign=4
    ).select("id_a", "id_b")
    hits = sem.join(exact, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("__hits")
    )
    n = exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    return n.crossJoin(F.broadcast(hits)).select(
        "n_exact",
        (F.col("__hits") >= F.lit(0.85) * F.col("n_exact")).alias("recall_ok"),
    )


@_register("dedup_minhash", None, headline=True)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (no oracle: xxhash64 family is
    engine-local; pytest verifies recall against exact Jaccard).

    k=3 shingles (see dedup_ngram_jaccard: unigram sets are ~0.5-0.9 similar
    between UNRELATED docs here, which degenerates LSH to O(n²) candidates —
    trigram sets separate noise ~0 from planted near-dups 0.89+).
    b=16 bands × r=8 rows → s-curve midpoint (1/16)^(1/8) ≈ 0.71:
    ~95% candidate recall at J=0.8, ≈100% at the planted J≥0.89 pairs."""
    d = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(d, k=3, num_hashes=128, num_bands=16, threshold=0.8)


@_register("dedup_simhash", None, headline=True)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming≤3 pairs via pigeonhole chunk join (no oracle:
    FNV/SimHash are engine-local; pytest covers ground truth)."""
    return dedup.simhash_pairs(_t(spark, sf_dir, "documents"), max_hamming=3)


@_register(
    "dedup_clusters",
    """
    WITH RECURSIVE tok AS (
      SELECT doc_id, source,
             regexp_split_to_array(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
      FROM documents
    ),
    sh AS (
      SELECT doc_id, source,
             list_distinct([array_to_string(t[i:i+2], ' ')
                            for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS sh
      FROM tok
    ),
    pairs AS (
      SELECT a.doc_id AS src, b.doc_id AS dst
      FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh)) * 1.0
            / len(list_distinct(a.sh || b.sh)) >= 0.8
    ),
    edges AS (SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs),
    walk(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.r
    )
    SELECT id AS doc_id,
           CAST(min(r) AS BIGINT) AS cluster_id,
           min(r) = id            AS is_canonical
    FROM walk GROUP BY id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS → dedup DECISION: connected components over the exact
    trigram-Jaccard≥0.8 relation (min-label + pointer-jump iterations, see
    operators.dedup.connected_components), every doc labeled with its
    cluster's canonical (minimum) id. The oracle walks the same edge set
    with a recursive CTE."""
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, block_col="source", k=3, threshold=0.8)
    return dedup.cluster_dedup(d, pairs).select("doc_id", "cluster_id", "is_canonical")


@_register(
    "dedup_keep_best",
    """
    WITH RECURSIVE tok AS (
      SELECT doc_id, source,
             regexp_split_to_array(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
      FROM documents
    ),
    sh AS (
      SELECT doc_id, source,
             list_distinct([array_to_string(t[i:i+2], ' ')
                            for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS sh
      FROM tok
    ),
    pairs AS (
      SELECT a.doc_id AS src, b.doc_id AS dst
      FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh)) * 1.0
            / len(list_distinct(a.sh || b.sh)) >= 0.8
    ),
    edges AS (SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs),
    walk(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.r
    ),
    labeled AS (
      SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
      FROM walk GROUP BY id
    )
    SELECT l.doc_id, l.cluster_id,
           row_number() OVER (
             PARTITION BY l.cluster_id ORDER BY d.n_chars DESC, l.doc_id
           ) = 1 AS is_canonical
    FROM labeled l JOIN documents d ON l.doc_id = d.doc_id
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-BEST dedup decision: same exact trigram-Jaccard≥0.8 clusters as
    dedup_clusters, but the survivor per cluster is the LONGEST document
    (n_chars, ties to smallest id) — the production keep policy, not the
    arbitrary min-id pick. The oracle walks the identical recursive-CTE
    cluster relation and replays the argmax."""
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, block_col="source", k=3, threshold=0.8)
    return dedup.cluster_dedup_by_score(d, pairs, score_col="n_chars").select(
        "doc_id", "cluster_id", "is_canonical"
    )


_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKS = f"regexp_split_to_array({_NORM}, ' ')"


@_register(
    "dedup_repeated_spans",
    headline=True,
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ),
    pos AS (
      SELECT doc_id, t, unnest(range(0, greatest(len(t) - 4, 0))) AS pos
      FROM toks
    ),
    grams AS (
      SELECT doc_id, pos, array_to_string(t[pos + 1 : pos + 5], ' ') AS gram
      FROM pos
    ),
    dup AS (
      SELECT gram FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
    ),
    hits AS (
      SELECT doc_id, pos FROM grams WHERE gram IN (SELECT gram FROM dup)
    ),
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos > lag(pos) OVER w + 5 THEN 1 ELSE 0 END AS brk
      FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    sp AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS sid
      FROM isl
    )
    SELECT doc_id,
           CAST(min(pos) AS BIGINT)                AS span_start,
           CAST(max(pos) + 4 AS BIGINT)            AS span_end,
           CAST(max(pos) - min(pos) + 5 AS BIGINT) AS span_tokens
    FROM sp GROUP BY doc_id, sid
    """,
)
def dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style repeated-span detection (Lee et al. 2022): maximal
    token spans whose every 5-gram recurs verbatim in ≥2 distinct documents
    — the sub-document dedup tier between exact whole-doc and fuzzy
    Jaccard. Four linear keyed passes (scan-stage gram hashing, gram-hash
    doc-frequency aggregate, gram-hash membership join, per-doc island
    window) — the scalable alternative to a corpus suffix array. The oracle
    replays the identical construction on raw gram strings, so a hash-join
    false positive, a lost tail gram, or an off-by-one island merge all
    mismatch."""
    return dedup.repeated_spans(
        _t(spark, sf_dir, "documents"), k=5, min_docs=2
    )


@_register(
    "dedup_strip_spans",
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ),
    pos AS (
      SELECT doc_id, t, unnest(range(0, greatest(len(t) - 4, 0))) AS pos
      FROM toks
    ),
    grams AS (
      SELECT doc_id, pos, array_to_string(t[pos + 1 : pos + 5], ' ') AS gram
      FROM pos
    ),
    dup AS (
      SELECT gram FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
    ),
    hits AS (
      SELECT doc_id, pos FROM grams WHERE gram IN (SELECT gram FROM dup)
    ),
    cov AS (
      SELECT DISTINCT doc_id, unnest(range(pos, pos + 5)) AS p FROM hits
    ),
    tokpos AS (
      SELECT doc_id, unnest(t) AS tok, unnest(range(0, len(t))) AS p FROM toks
    ),
    kept AS (
      SELECT tp.doc_id, tp.tok, tp.p
      FROM tokpos tp LEFT JOIN cov c ON c.doc_id = tp.doc_id AND c.p = tp.p
      WHERE c.p IS NULL
    ),
    agg AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           coalesce(a.clean_text, '')                        AS clean_text,
           CAST(coalesce(a.n_kept, 0) AS BIGINT)             AS n_tokens_kept,
           CAST(len(t.t) - coalesce(a.n_kept, 0) AS BIGINT)  AS n_tokens_removed
    FROM toks t LEFT JOIN agg a USING (doc_id)
    """,
)
def dedup_strip_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remediation half of ExactSubstr dedup: every repeated span is
    excised from the normalized token stream (boilerplate/template
    removal), tokens outside spans pass through untouched. Token excision
    is a JVM higher-order filter with the position index — no Python, no
    token-stream explode. The oracle rebuilds the identical clean text via
    covered-position anti-join + ordered string_agg, so an off-by-one span
    boundary or a dropped survivor token mismatches on the full string."""
    return dedup.strip_repeated_spans(
        _t(spark, sf_dir, "documents"), k=5, min_docs=2
    )


@_register(
    "dedup_strip_spans_keep_first",
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ),
    pos AS (
      SELECT doc_id, t, unnest(range(0, greatest(len(t) - 4, 0))) AS pos
      FROM toks
    ),
    grams AS (
      SELECT doc_id, pos, array_to_string(t[pos + 1 : pos + 5], ' ') AS gram
      FROM pos
    ),
    dup AS (
      SELECT gram, min(doc_id) AS mdoc
      FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
    ),
    hits AS (
      SELECT g.doc_id, g.pos
      FROM grams g JOIN dup d ON g.gram = d.gram AND g.doc_id <> d.mdoc
    ),
    cov AS (
      SELECT DISTINCT doc_id, unnest(range(pos, pos + 5)) AS p FROM hits
    ),
    tokpos AS (
      SELECT doc_id, unnest(t) AS tok, unnest(range(0, len(t))) AS p FROM toks
    ),
    kept AS (
      SELECT tp.doc_id, tp.tok, tp.p
      FROM tokpos tp LEFT JOIN cov c ON c.doc_id = tp.doc_id AND c.p = tp.p
      WHERE c.p IS NULL
    ),
    agg AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           coalesce(a.clean_text, '')                        AS clean_text,
           CAST(coalesce(a.n_kept, 0) AS BIGINT)             AS n_tokens_kept,
           CAST(len(t.t) - coalesce(a.n_kept, 0) AS BIGINT)  AS n_tokens_removed
    FROM toks t LEFT JOIN agg a USING (doc_id)
    """,
)
def dedup_strip_spans_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr with the paper's keep-one policy: the lowest-id document
    containing each duplicated 5-gram keeps it (its occurrences are not
    hits), later copies lose their spans — dedup without content loss.
    The per-gram min doc rides the same doc-frequency aggregate as the
    count, so the plan is identical to dedup_strip_spans plus one join
    predicate. The oracle replays the min-doc exemption on raw gram
    strings and re-checks the full clean text."""
    return dedup.strip_repeated_spans(
        _t(spark, sf_dir, "documents"), k=5, min_docs=2, keep_first=True
    )


# --------------------------------------------------------------------------
# Text-analysis band (SURVEY §2.14)
# --------------------------------------------------------------------------
_STOP_EN = "['the','and','of','to','is','in','that','it','a','for','on','with','as','at','by']"


@_register(
    "text_tokens",
    f"""
    SELECT doc_id,
           CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
           CAST(len(regexp_split_to_array(
             trim(regexp_replace(lower(text), '([^\\w\\s])', ' \\1 ', 'g')), '\\s+'
           )) AS BIGINT) AS n_subwords
    FROM documents
    """,
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish token counting — pure scan-stage expressions."""
    d = _t(spark, sf_dir, "documents")
    d = text.with_token_count(d)
    d = text.with_subword_count(d)
    return d.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_subwords").cast("long").alias("n_subwords"),
    )


@_register(
    "text_quality",
    f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len({_TOKS}) AS DOUBLE) AS n_tok,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(length(regexp_replace(text, '[\\w\\s]', '', 'g')) AS DOUBLE) AS n_punct,
             CAST(len(list_filter({_TOKS}, x -> list_contains({_STOP_EN}, x))) AS DOUBLE) AS n_stop
      FROM documents
    )
    SELECT doc_id,
           CAST(n_tok AS BIGINT) AS n_tokens,
           round(n_punct / greatest(n_chars, 1.0), 6) AS punct_ratio,
           round(n_stop / greatest(n_tok, 1.0), 6)    AS stopword_ratio,
           round(greatest(least(
             0.5 * least(n_tok / 100.0, 1.0)
             + 0.5 * least(n_stop / greatest(n_tok, 1.0) * 4, 1.0)
             - n_punct / greatest(n_chars, 1.0) * 2,
           1.0), 0.0), 6) AS quality
    FROM t
    """,
    headline=True,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style quality signals + composite score."""
    # r13: spread the single-split scan so the tokenizer/regex suite runs
    # on every core (guide §2.6); at scale the spread no-ops
    d = text.with_quality(
        spread_scan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    )
    return d.select("doc_id", "n_tokens", "punct_ratio", "stopword_ratio", "quality")


@_register(
    "text_langid",
    f"""
    WITH h AS (
      SELECT doc_id,
        len(list_filter({_TOKS}, x -> list_contains(['the','and','of','to','is','in','that','it'], x))) AS h_en,
        len(list_filter({_TOKS}, x -> list_contains(['le','la','les','de','et','est','que','un'], x)))  AS h_fr,
        len(list_filter({_TOKS}, x -> list_contains(['der','die','das','und','ist','nicht','ein','zu'], x))) AS h_de,
        len(list_filter({_TOKS}, x -> list_contains(['el','la','los','de','y','es','que','un'], x)))    AS h_es
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN h_en > 0 AND h_en >= greatest(h_en, h_fr, h_de, h_es) THEN 'en'
                WHEN h_fr > 0 AND h_fr >= greatest(h_en, h_fr, h_de, h_es) THEN 'fr'
                WHEN h_de > 0 AND h_de >= greatest(h_en, h_fr, h_de, h_es) THEN 'de'
                WHEN h_es > 0 AND h_es >= greatest(h_en, h_fr, h_de, h_es) THEN 'es'
                ELSE 'und' END AS lang_pred
    FROM h
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID with deterministic tie priority."""
    d = text.with_lang_id(_t(spark, sf_dir, "documents"))
    return d.select("doc_id", "lang_pred")


@_register(
    "heavy_hitter_tokens",
    f"""
    WITH tok AS (
      SELECT unnest({_TOKS}) AS value FROM documents
    ),
    nz AS (SELECT value FROM tok WHERE value <> ''),
    tot AS (SELECT count(*) AS n FROM nz)
    SELECT value, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM nz, tot
    GROUP BY value, tot.n
    HAVING count(*) >= 0.02 * tot.n
    """,
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy hitters (tokens at ≥2% frequency) through the
    two-phase sketch shape (operators.relational.heavy_hitters): a
    one-pass bounded-state freqItems sketch proposes a guaranteed
    superset, then exact counting touches ONLY candidates — the full
    token domain is never shuffled. The oracle computes the exact heavy
    set directly, so a sketch that drops a true heavy hitter loses a row
    and hash-mismatches: the superset guarantee itself is driver-gated."""
    from datalake_brief_spark.operators.relational import heavy_hitters

    from datalake_brief_spark.functions import tokens as _tokens

    tok = (
        _t(spark, sf_dir, "documents")
        .select(F.explode(_tokens("text")).alias("token"))
        .filter(F.col("token") != "")
    )
    return heavy_hitters(tok, "token", support=0.02)


@_register(
    "text_tfidf_top_terms",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS token FROM documents
    ),
    tf AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, token
    ),
    dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
    n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token,
             round(tf.tf * ln(n.n * 1.0 / dfreq.df), 6) AS tfidf
      FROM tf JOIN dfreq USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, tfidf, CAST(rn AS BIGINT) AS rn FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (see operators.text.tfidf_top_terms
    for the shuffle budget). Ranking uses the rounded score + token
    tie-break so both engines order identically."""
    return text.tfidf_top_terms(_t(spark, sf_dir, "documents"), k=3)


@_register(
    "text_chunking",
    f"""
    WITH tok AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ),
    c AS (
      SELECT doc_id, t,
             unnest(range(0, CAST(ceil(greatest(len(t) - 64, 0) / 48.0) AS BIGINT) + 1))
               AS chunk_idx
      FROM tok
    )
    SELECT doc_id, chunk_idx,
           array_to_string(t[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ') AS chunk_text,
           CAST(len(t[chunk_idx * 48 + 1 : chunk_idx * 48 + 64]) AS BIGINT)  AS n_chunk_tokens
    FROM c
    """,
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (64-token chunks, stride 48) — the
    context-window prep step (see operators.text.chunk_documents)."""
    return text.chunk_documents(_t(spark, sf_dir, "documents"), chunk_size=64, stride=48)


@_register(
    "text_pack_chunks",
    f"""
    WITH tok AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    )
    SELECT CAST(sum(CAST(ceil(greatest(len(t) - 64, 0) / 48.0) AS BIGINT) + 1)
                AS BIGINT) AS n_chunks,
           TRUE AS packs_within_budget,
           TRUE AS chunks_unique
    FROM tok
    """,
)
def text_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk → pack pipeline: 64-token chunks greedily packed into
    ≤256-token packs, sequential-within-shard / parallel-across-shards.
    Driver-gate form: pack ids are engine-local (greedy packing is
    stateful-sequential, not SQL-expressible), so the entry emits the
    packing INVARIANTS as one row — total chunk count (the oracle
    recomputes it from the chunking formula), every multi-chunk pack's
    token total ≤ budget, and no chunk assigned twice — with the oracle
    pinning TRUE. An overfilling or chunk-dropping packer flips a boolean
    and hash-mismatches; the per-pack layout details stay pytest-pinned."""
    chunks = text.chunk_documents(_t(spark, sf_dir, "documents"), chunk_size=64, stride=48)
    packed = text.pack_chunks(chunks, budget=256, n_shards=64)
    per_pack = packed.groupBy("pack_id").agg(
        F.count(F.lit(1)).alias("__n_members"),
        F.sum("n_chunk_tokens").alias("__tok"),
    )
    pack_ok = per_pack.agg(
        F.count(
            F.when((F.col("__n_members") > 1) & (F.col("__tok") > 256), 1)
        ).alias("__overfull")
    )
    stats = packed.agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.countDistinct("doc_id", "chunk_idx").alias("__uniq"),
    )
    return stats.crossJoin(F.broadcast(pack_ok)).select(
        "n_chunks",
        (F.col("__overfull") == 0).alias("packs_within_budget"),
        (F.col("__uniq") == F.col("n_chunks")).alias("chunks_unique"),
    )


@_register(
    "text_fingerprint",
    f"SELECT doc_id, md5({_NORM}) AS fingerprint FROM documents",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content md5 fingerprint."""
    return text.with_fingerprint(_t(spark, sf_dir, "documents")).select("doc_id", "fingerprint")


@_register(
    "text_repetition",
    f"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array({_NORM}, ' ') AS toks FROM documents
    ),
    base AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             round(1.0 - len(list_distinct(toks)) * 1.0 / len(toks), 6)
               AS dup_word_frac,
             [array_to_string(toks[i:i+1], ' ')
              for i in range(1, greatest(len(toks) - 1, 0) + 1)] AS grams
      FROM t
    ),
    gc AS (
      SELECT doc_id, gram, count(*) AS c
      FROM (SELECT doc_id, unnest(grams) AS gram FROM base)
      GROUP BY 1, 2
    ),
    top AS (
      SELECT doc_id, round(max(c) * 1.0 / sum(c), 6) AS top_bigram_frac
      FROM gc GROUP BY 1
    )
    SELECT base.doc_id, n_tokens, dup_word_frac,
           coalesce(top_bigram_frac, 0.0) AS top_bigram_frac
    FROM base LEFT JOIN top ON base.doc_id = top.doc_id
    """,
    headline=True,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: duplicate-word fraction (scan-stage
    expression) + most-frequent-bigram fraction (explode → two doc-keyed
    aggregations with map-side combine) — see operators.text
    repetition_metrics."""
    return text.repetition_metrics(_t(spark, sf_dir, "documents"))


@_register(
    "decontaminate_ngrams",
    f"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array({_NORM}, ' ') AS toks FROM documents
    ),
    g AS (
      SELECT doc_id,
             list_distinct([array_to_string(toks[i:i+4], ' ')
                            for i in range(1, greatest(len(toks) - 4, 0) + 1)])
               AS grams
      FROM t
    ),
    b AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id < 20),
    c AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id >= 20)
    SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_shared
    FROM c JOIN b USING (gram) GROUP BY 1
    """,
)
def decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix C shape): docs 0-19 stand
    in for the eval suite; a corpus doc is contaminated when it shares any
    5-token n-gram with the suite. Broadcast the benchmark gram set, join on
    xxhash64(gram) — see operators.text.contamination_overlap."""
    d = _t(spark, sf_dir, "documents")
    return text.contamination_overlap(
        d.filter(F.col("doc_id") >= 20), d.filter(F.col("doc_id") < 20), n=5
    )


# PII patterns, stated once for both engines (Java regex ∩ RE2 syntax — see
# operators.text.PII_PATTERNS). The synthetic corpus carries no natural PII,
# so the query derives a view with deterministic injected PII on a subset of
# docs — same derivation on both sides, like the null band's nulled view.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_URL = r"https?://[^\s]+"
_PII_PHONE = r"\+\d[\d\s().-]{7,}\d"
_PII_IPV4 = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"


@_register(
    "text_pii_redact",
    headline=True,
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             text
               || CASE WHEN doc_id % 5 = 0
                       THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                       ELSE '' END
               || CASE WHEN doc_id % 11 = 0
                       THEN ' call +1 (555) 010-4477 now' ELSE '' END
               || CASE WHEN doc_id % 13 = 0
                       THEN ' via https://site.example/p?id=' || CAST(doc_id AS VARCHAR)
                            || ' at 10.0.0.1' ELSE '' END AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(t, '{_PII_URL}')) AS BIGINT)   AS n_url,
           CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(t, '{_PII_IPV4}')) AS BIGINT)  AS n_ipv4,
           (len(regexp_extract_all(t, '{_PII_EMAIL}')) > 0
            OR len(regexp_extract_all(t, '{_PII_URL}')) > 0
            OR len(regexp_extract_all(t, '{_PII_PHONE}')) > 0
            OR len(regexp_extract_all(t, '{_PII_IPV4}')) > 0)         AS has_pii,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                 '{_PII_URL}', '<URL>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g'),
             '{_PII_IPV4}', '<IP>', 'g')                              AS redacted
    FROM base
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (curation-pipeline compliance step):
    per-category match counts, a has_pii flag, and the redacted text — all
    scan-stage regexp expressions (operators.text.with_pii_counts /
    redact_pii), no shuffle at any scale. PII is injected deterministically
    on a doc_id-keyed subset since the synthetic corpus has none."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0, F.lit(" call +1 (555) 010-4477 now")).otherwise(
                F.lit("")
            ),
            F.when(
                F.col("doc_id") % 13 == 0,
                F.concat(
                    F.lit(" via https://site.example/p?id="),
                    F.col("doc_id").cast("string"),
                    F.lit(" at 10.0.0.1"),
                ),
            ).otherwise(F.lit("")),
        ).alias("t"),
    )
    # r13: spread the single-split scan — 8 regex passes per row ran
    # serially in the scan task before (guide §2.6; scale no-op)
    out = text.redact_pii(text.with_pii_counts(spread_scan(d), "t"), "t")
    return out.select(
        "doc_id",
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_url").cast("long").alias("n_url"),
        F.col("n_phone").cast("long").alias("n_phone"),
        F.col("n_ipv4").cast("long").alias("n_ipv4"),
        "has_pii",
        "redacted",
    )


@_register(
    "pipeline_curation",
    f"""
    WITH RECURSIVE t AS (
      SELECT doc_id, source,
             CAST(len({_TOKS}) AS DOUBLE) AS n_tok,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(length(regexp_replace(text, '[\\w\\s]', '', 'g')) AS DOUBLE) AS n_punct,
             CAST(len(list_filter({_TOKS}, x -> list_contains({_STOP_EN}, x))) AS DOUBLE) AS n_stop,
             regexp_split_to_array(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
      FROM documents
    ),
    q AS (
      SELECT doc_id, source, toks,
             CAST(n_tok AS BIGINT) AS n_tokens,
             round(greatest(least(
               0.5 * least(n_tok / 100.0, 1.0)
               + 0.5 * least(n_stop / greatest(n_tok, 1.0) * 4, 1.0)
               - n_punct / greatest(n_chars, 1.0) * 2,
             1.0), 0.0), 6) AS quality
      FROM t
    ),
    kept AS (SELECT * FROM q WHERE quality >= 0.3),
    sh AS (
      SELECT doc_id, source,
             list_distinct([array_to_string(toks[i:i+2], ' ')
                            for i in range(1, greatest(len(toks) - 2, 1) + 1)]) AS sh
      FROM kept
    ),
    pairs AS (
      SELECT a.doc_id AS src, b.doc_id AS dst
      FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh)) * 1.0
            / len(list_distinct(a.sh || b.sh)) >= 0.8
    ),
    edges AS (SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs),
    walk(id, r) AS (
      SELECT doc_id, doc_id FROM kept
      UNION
      SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.r
    ),
    comp AS (SELECT id, min(r) AS cluster_id FROM walk GROUP BY id)
    SELECT k.doc_id, k.n_tokens, k.quality
    FROM kept k JOIN comp ON comp.id = k.doc_id
    WHERE comp.cluster_id = k.doc_id
    """,
)
def pipeline_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation as ONE declarative pipeline:
    quality-score → drop low-quality docs → near-dup clustering (trigram
    Jaccard ≥ 0.8 within source, connected components) → keep one canonical
    doc per cluster. Composes text.with_quality, dedup.ngram_jaccard_pairs
    and dedup.cluster_dedup; the oracle replays the whole chain including
    the recursive component walk."""
    d = text.with_quality(_t(spark, sf_dir, "documents"))
    kept = d.filter(F.col("quality") >= 0.3)
    pairs = dedup.ngram_jaccard_pairs(kept, block_col="source", k=3, threshold=0.8)
    out = dedup.cluster_dedup(kept, pairs)
    return out.filter(F.col("is_canonical")).select("doc_id", "n_tokens", "quality")


@_register(
    "pipeline_curation_v2",
    f"""
    WITH t AS (
      SELECT doc_id, {_NORM} AS norm,
             CAST(len({_TOKS}) AS DOUBLE) AS n_tok,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(length(regexp_replace(text, '[\\w\\s]', '', 'g')) AS DOUBLE) AS n_punct,
             CAST(len(list_filter({_TOKS}, x -> list_contains({_STOP_EN}, x))) AS DOUBLE) AS n_stop,
             {_TOKS} AS toks
      FROM documents
    ),
    scored AS (
      SELECT doc_id, norm, CAST(n_tok AS BIGINT) AS n_tokens,
             round(greatest(least(
               0.5 * least(n_tok / 100.0, 1.0)
               + 0.5 * least(n_stop / greatest(n_tok, 1.0) * 4, 1.0)
               - n_punct / greatest(n_chars, 1.0) * 2,
             1.0), 0.0), 6) AS quality,
             round(1.0 - len(list_distinct(toks)) * 1.0 / len(toks), 6)
               AS dup_word_frac,
             toks
      FROM t
    ),
    gc AS (
      SELECT doc_id, gram, count(*) AS c
      FROM (SELECT doc_id,
                   unnest([array_to_string(toks[i:i+1], ' ')
                           for i in range(1, greatest(len(toks) - 1, 0) + 1)]) AS gram
            FROM scored)
      GROUP BY 1, 2
    ),
    rep AS (
      SELECT doc_id, round(max(c) * 1.0 / sum(c), 6) AS top_bigram_frac
      FROM gc GROUP BY 1
    ),
    grams5 AS (
      SELECT doc_id,
             list_distinct([array_to_string(toks[i:i+4], ' ')
                            for i in range(1, greatest(len(toks) - 4, 0) + 1)]) AS g
      FROM scored
    ),
    bench AS (SELECT DISTINCT unnest(g) AS gram FROM grams5 WHERE doc_id < 20),
    contaminated AS (
      SELECT DISTINCT c.doc_id
      FROM (SELECT doc_id, unnest(g) AS gram FROM grams5 WHERE doc_id >= 20) c
      JOIN bench USING (gram)
    ),
    kept AS (
      SELECT s.doc_id, s.norm, s.n_tokens, s.quality
      FROM scored s JOIN rep USING (doc_id)
      WHERE s.doc_id >= 20
        AND s.quality >= 0.3
        AND s.dup_word_frac <= 0.9
        AND rep.top_bigram_frac <= 0.2
        AND s.doc_id NOT IN (SELECT doc_id FROM contaminated)
    )
    SELECT k.doc_id, k.n_tokens, k.quality
    FROM kept k
    JOIN (SELECT norm, min(doc_id) AS canon FROM kept GROUP BY 1) d
      ON d.canon = k.doc_id
    """,
)
def pipeline_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The modern LLM-curation chain as ONE declarative plan: quality gate →
    Gopher repetition gates (dup-word + top-bigram fractions) → benchmark
    decontamination (5-gram overlap with the doc_id<20 eval stand-in) →
    exact dedup keeping the lowest-id canonical per normalized text. Every
    stage is a scan-stage expression or a keyed aggregation; the oracle
    replays the identical chain in SQL — unlike pipeline_curation (v1,
    near-dup clustering) this composition is fully hash-checkable without a
    recursive CTE."""
    from datalake_brief_spark.functions import normalize_text

    d = _t(spark, sf_dir, "documents")
    scored = text.with_quality(d).select("doc_id", "n_tokens", "quality")
    rep = text.repetition_metrics(d).select(
        "doc_id", "dup_word_frac", "top_bigram_frac"
    )
    contaminated = text.contamination_overlap(
        d.filter(F.col("doc_id") >= 20), d.filter(F.col("doc_id") < 20), n=5
    ).select("doc_id")
    kept = (
        scored.join(rep, "doc_id")
        .filter(
            (F.col("doc_id") >= 20)
            & (F.col("quality") >= 0.3)
            & (F.col("dup_word_frac") <= 0.9)
            & (F.col("top_bigram_frac") <= 0.2)
        )
        .join(contaminated, "doc_id", "left_anti")
    )
    with_norm = d.select("doc_id", normalize_text("text").alias("__norm")).join(
        kept, "doc_id"
    )
    canon = with_norm.groupBy("__norm").agg(F.min("doc_id").alias("doc_id"))
    return with_norm.join(canon.select("doc_id"), "doc_id").select(
        "doc_id", "n_tokens", "quality"
    )


# --------------------------------------------------------------------------
# Similarity band (SURVEY §2.14)
# --------------------------------------------------------------------------


@_register(
    "knn_bruteforce",
    """
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 5
    ),
    c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    s AS (
      SELECT query_id, vec_id,
             list_dot_product(cv, qv)
               / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))) AS score
      FROM c CROSS JOIN q WHERE vec_id <> query_id
    ),
    r AS (
      SELECT query_id, vec_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
      FROM s
    )
    SELECT query_id, vec_id, round(score, 6) AS score, CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= 10
    """,
    headline=True,
)
def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbors for 5 query vectors: broadcast queries ×
    one corpus scan; zip_with/aggregate keep scoring JVM-side."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.cosine_topk(emb, q, k=10)
    return out.withColumn("rank", F.col("rank").cast("long"))


@_register(
    "knn_batch",
    """
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 25
    ),
    c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    s AS (
      SELECT query_id, vec_id,
             list_dot_product(cv, qv)
               / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))) AS score
      FROM c CROSS JOIN q WHERE vec_id <> query_id
    ),
    r AS (
      SELECT query_id, vec_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
      FROM s
    )
    SELECT query_id, vec_id, round(score, 6) AS score, CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= 10
    """,
    headline=True,
)
def knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 for a 25-query BATCH via the matmul scale path: one
    Arrow matmul per corpus batch scores all queries, only per-batch top-k
    leaves the scan stage (similarity.cosine_topk_batch). Same answer as
    the crossJoin form, shuffle bounded by k·|queries|·|batches| instead of
    |corpus|·|queries|."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 25).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.cosine_topk_batch(emb, q, k=10)
    return out.withColumn("rank", F.col("rank").cast("long"))


@_register(
    "knn_doc_hybrid",
    """
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 5
    ),
    c AS (
      SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS cv
      FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
      WHERE d.lang = 'en' AND d.n_chars >= 200
    ),
    s AS (
      SELECT query_id, vec_id,
             list_dot_product(cv, qv)
               / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))) AS score
      FROM c CROSS JOIN q WHERE vec_id <> query_id
    ),
    r AS (
      SELECT query_id, vec_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
      FROM s
    )
    SELECT query_id, vec_id, round(score, 6) AS score, CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= 5
    """,
)
def knn_doc_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table hybrid retrieval: restrict the vector corpus by DOCUMENT
    metadata (language + length from the documents table), then exact
    top-5 cosine — the RAG-retrieval shape where eligibility lives in a
    different table than the vectors. The metadata predicate pushes to the
    documents scan, the doc→vector join shuffles only qualifying ids
    (broadcast under AQE at small scale), and scoring touches the joined
    survivors only — pre-filter semantics across tables."""
    emb = _t(spark, sf_dir, "embeddings")
    docs = _t(spark, sf_dir, "documents").filter(
        (F.col("lang") == "en") & (F.col("n_chars") >= 200)
    )
    corpus = emb.join(
        docs.select(F.col("doc_id").alias("vec_id")), "vec_id"
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.cosine_topk(corpus, q, k=5)
    return out.withColumn("rank", F.col("rank").cast("long"))


def _ann_recall_gate(
    spark: SparkSession, sf_dir: str, approx_fn, floor: float, k: int = 10
) -> DataFrame:
    """Aggregate recall@k of an approximate top-k against the exact
    brute-force relation, as one row ``(n_queries, recall_ok)``: join the
    two (query_id, vec_id) relations, count hits over k·|queries|, compare
    to the pinned floor. Both sides are lazy plans — the exact side is the
    same broadcast-query corpus stream as knn_bruteforce — and the hit
    join is bounded by k·|queries| rows."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk(emb, q, k=k).select("query_id", "vec_id")
    approx = approx_fn(emb, q).select("query_id", "vec_id")
    hits = approx.join(exact, ["query_id", "vec_id"]).agg(
        F.count(F.lit(1)).alias("__hits")
    )
    nq = q.agg(F.countDistinct("query_id").cast("long").alias("n_queries"))
    return nq.crossJoin(F.broadcast(hits)).select(
        "n_queries",
        (F.col("__hits") >= F.lit(floor) * F.lit(k) * F.col("n_queries")).alias(
            "recall_ok"
        ),
    )


_ANN_RECALL_ORACLE = """
    SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 5
    """


@_register("knn_lsh", _ANN_RECALL_ORACLE)
def knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH approximate top-k, driver-gate form: approximate results
    are hash-family-specific, so the entry emits the aggregate recall@10
    against the exact brute-force relation as a pinned boolean
    (floor 0.85 — Hamming-2 multiprobe over 8 tables measured 0.96-0.98
    recall@10 at sf0.001/0.01/0.1 with this exact parameterization; only
    the small query side widens to the probe ring, and the widened
    candidate set feeds the same exact-cosine re-rank. Raw neighbor
    lists stay available via similarity.srp_lsh_topk and their recall
    floors in pytest). The oracle pins (n_queries, TRUE): degraded
    recall flips the boolean and hash-mismatches at the driver gate."""
    return _ann_recall_gate(
        spark,
        sf_dir,
        lambda emb, q: similarity.srp_lsh_topk(
            emb, q, dim=64, k=10, num_planes=8, multiprobe=2
        ),
        floor=0.85,
    )


@_register(
    "knn_filtered",
    """
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 5
    ),
    c AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE label = 1
    ),
    s AS (
      SELECT query_id, vec_id,
             list_dot_product(cv, qv)
               / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))) AS score
      FROM c CROSS JOIN q WHERE vec_id <> query_id
    ),
    r AS (
      SELECT query_id, vec_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
      FROM s
    )
    SELECT query_id, vec_id, round(score, 6) AS score, CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= 5
    """,
)
def knn_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search (pre-filter semantics): top-5 cosine
    neighbors among vectors matching a metadata predicate. The filter
    composes BEFORE the scoring scan, so it pushes down to the parquet
    scan and the cross product touches only qualifying vectors — the
    standard predicate+ANN shape vector stores call pre-filtering (the
    post-filter alternative under-fills k when the predicate is
    selective)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("label") == 1)
    out = similarity.cosine_topk(corpus, q, k=5)
    return out.withColumn("rank", F.col("rank").cast("long"))


@_register("knn_ivf_indexed", _ANN_RECALL_ORACLE)
def knn_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF SCALE path at the driver gate: a MATERIALIZED
    cell-partitioned index (built once per process via the shared
    memoizer; probes read only matched ``cell=`` directories —
    PartitionFilters, plan-asserted in tests/test_dedup_similarity.py::
    test_ivf_indexed_prunes_partitions_and_matches_logical) searched with
    the same recall-gate form as knn_ivf: aggregate recall@10 vs brute
    force as a pinned boolean (same parameterization + floor 0.75 as the
    logical-skip twin; the physical layout must never cost recall)."""
    emb = _t(spark, sf_dir, "embeddings")
    centroids = _ivf_centroids(spark, sf_dir)

    def build(path: str) -> None:
        similarity.ivf_index_write(emb, path, centroids)

    path = _lakehouse_table("ivf_index", sf_dir, build)
    return _ann_recall_gate(
        spark,
        sf_dir,
        lambda _emb, q: similarity.ivf_topk_indexed(
            spark, path, q, centroids, k=10, nprobe=8
        ),
        floor=0.75,
    )


def _ivf_centroids(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    return _IVF_CENTROIDS.get_or_build(
        os.path.abspath(sf_dir),
        lambda: similarity.train_ivf_centroids(
            _t(spark, sf_dir, "embeddings"), dim=64, n_centroids=16
        ),
    )


def _pq_codebooks(spark: SparkSession, sf_dir: str) -> list[list[list[float]]]:
    """Per-process PQ codebooks (m=16 × ks=32, the knn_pq sizing that
    measured 0.98-1.00 recall on this near-uniform corpus) — seeded
    driver-side k-means, trained once per sf_dir like _ivf_centroids."""
    return _PQ_CODEBOOKS.get_or_build(
        os.path.abspath(sf_dir),
        lambda: similarity.train_pq_codebooks(
            _t(spark, sf_dir, "embeddings"), dim=64, m=16, ks=32
        ),
    )


@_register("knn_ivf_pq", _ANN_RECALL_ORACLE)
def knn_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED billion-scale ANN layout (FAISS IndexIVFPQ shape;
    VERDICT r8 ask #4): one cell-partitioned parquet index carrying
    (id, m=16 PQ codes, raw vector) per row — queries prune to their
    nprobe=12 nearest cells (PartitionFilters, plan-asserted in
    tests/test_dedup_similarity.py), ADC-score ONLY the codes column
    inside surviving cells (column pruning: m bytes/vector instead of
    4·dim; zip_with/aggregate over broadcast LUTs, JVM-only — the
    pandas pass is the offline encode), then exact-cosine re-rank the
    top-64 shortlist from the raw column. Scan bytes per probe ≈
    (nprobe/n_cells) × (m/4·dim) of brute force, both factors physical.
    Driver gate: aggregate recall@10 vs brute force ≥ 0.85 as the
    pinned boolean (nprobe 12/16 measured 0.94 at sf0.001 / 0.96 at
    sf0.01 with this exact parameterization; n_cells ∝ corpus at scale,
    so the local 12/16 probe fraction is a small-N artifact, not the
    posture). Since round 10 the index under the gate is APPEND-BUILT:
    4/5 of the corpus writes the index, the last fifth lands via
    ivf_pq_index_append (assign to existing cells, encode with the
    STORED codebooks) — so the attested recall covers the maintenance
    path, not just the one-shot build."""
    emb = _t(spark, sf_dir, "embeddings")
    centroids = _ivf_centroids(spark, sf_dir)
    codebooks = _pq_codebooks(spark, sf_dir)

    def build(path: str) -> None:
        vid = F.xxhash64(F.col("vec_id"))
        base = emb.filter(F.pmod(vid, F.lit(5)) != 0)
        inc = emb.filter(F.pmod(vid, F.lit(5)) == 0)
        similarity.ivf_pq_index_write(base, path, centroids, codebooks)
        similarity.ivf_pq_index_append(inc, path, centroids, codebooks)

    path = _lakehouse_table("ivf_pq_index", sf_dir, build)
    return _ann_recall_gate(
        spark,
        sf_dir,
        lambda _emb, q: similarity.ivf_pq_topk_indexed(
            spark, path, q, centroids, codebooks, k=10, nprobe=12, refine=64
        ),
        floor=0.85,
    )


@_register("knn_ivf", _ANN_RECALL_ORACLE)
def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file / coarse-quantization) approximate top-k: seeded
    k-means cells, queries probe their nprobe nearest cells — the scan
    fraction per query batch is nprobe/n_cells instead of 1. Driver-gate
    form as knn_lsh: aggregate recall@10 vs brute force as a pinned
    boolean (floor 0.75 — nprobe 8/16 measured 0.80-0.86 recall@10 at
    sf0.001/0.01/0.1; on the near-uniform testdata vectors recall tracks
    the scan fraction, so a high floor costs probes — real clustered
    embedding spaces reach it at much lower nprobe, a data property, not
    an implementation one). Centroids come from the per-process memoizer
    shared with knn_ivf_indexed — the 10-iteration KMeans fit runs once,
    not per invocation, and both IVF entries probe identical cells."""
    return _ann_recall_gate(
        spark,
        sf_dir,
        lambda emb, q: similarity.ivf_topk(
            emb,
            q,
            dim=64,
            k=10,
            n_centroids=16,
            nprobe=8,
            centroids=_ivf_centroids(spark, sf_dir),
        ),
        floor=0.75,
    )


@_register("emb_near_dup", None)
def emb_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via SRP buckets (approximate).

    At threshold 0.9 TESTDATA's embeddings genuinely contain no pairs (max
    cosine ≈0.51 at sf0.01) — the empty result is the data's truth; recall
    behavior is pinned in pytest on clustered vectors where pairs exist,
    and emb_near_dup_exact is the oracle-checked ground-truth variant."""
    return similarity.embedding_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.9, dim=64, num_planes=8
    )


@_register(
    "emb_near_dup_exact",
    """
    WITH n AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))), 6) AS score
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(b.v, b.v))) >= 0.45
    """,
)
def emb_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine pairs ≥ 0.45 — the ground-truth/verifier mode
    for emb_near_dup (threshold set where TESTDATA has real pairs: the
    label clusters peak at cosine ≈0.45-0.51). Quadratic by design; the
    SRP-bucketed path is the scale route."""
    return similarity.cosine_pairs_exact(
        _t(spark, sf_dir, "embeddings"), threshold=0.45
    )


@_register("semantic_dedup", None)
def semantic_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means cells over the embedding space,
    near-dup pairs compared within cells only, connected components →
    canonical survivor per semantic cluster. Rows-only by design: the cell
    boundaries are k-means model state, not SQL — the n_clusters=1
    degenerate case is pinned against the exact all-pairs relation in
    pytest, and the row count here is always the full table (every row gets
    a cluster_id + is_canonical verdict)."""
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.semantic_dedup(emb, threshold=0.45, dim=64, n_clusters=8)
    return out.select("vec_id", "cluster_id", "is_canonical")


# --------------------------------------------------------------------------
# Multimodal band (SURVEY §2.14) — payload = utf-8 bytes of text (the
# container has no codecs; the binary plumbing is the real thing)
# --------------------------------------------------------------------------


@_register(
    "multimodal_meta",
    """
    SELECT doc_id,
           'text'                                   AS modality,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text)                                AS content_md5
    FROM documents
    """,
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed media metadata over a binary payload column — all JVM-side."""
    d = _t(spark, sf_dir, "documents").withColumn(
        "payload", F.encode(F.col("text"), "UTF-8")
    )
    out = multimodal.attach_media_metadata(d, "payload", modality="text")
    return out.select(
        "doc_id",
        F.col("media_meta.modality").alias("modality"),
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.col("media_meta.content_md5").alias("content_md5"),
    )


@_register(
    "multimodal_frames",
    """
    WITH n AS (
      SELECT doc_id, octet_length(encode(text)) AS len,
             least(greatest(CAST(octet_length(encode(text)) // 64 AS BIGINT), 1), 4)
               AS nf
      FROM documents
    )
    SELECT doc_id,
           nf AS n_frames,
           CAST(least(nf * 64, len) AS BIGINT) AS total_frame_bytes
    FROM n
    """,
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing over binary payloads, driver-gate form: the
    per-frame bytes are BLOB slices DuckDB cannot reproduce (no binary
    substring), so the entry emits the slicing ARITHMETIC — per-doc frame
    count and total sampled bytes, both derivable from octet_length alone
    (UTF-8 on both sides, so non-ASCII is safe) — and the oracle
    recomputes them from the payload length. Off-by-one stride/offset
    bugs change total_frame_bytes and hash-mismatch; exact slice CONTENT
    stays pytest-pinned (frame 0 prefix, ≤64-byte frames)."""
    d = _t(spark, sf_dir, "documents").withColumn(
        "payload", F.encode(F.col("text"), "UTF-8")
    )
    frames = multimodal.sample_frames(d, "payload", "doc_id", every_n_bytes=64, max_frames=4)
    return frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_frames"),
        F.sum(F.octet_length("frame_bytes")).cast("long").alias("total_frame_bytes"),
    )


@_register(
    "multimodal_features",
    """
    WITH b AS (
      SELECT doc_id, CAST(t.i AS INT) AS i,
             CASE WHEN t.i <= length(text)
                  THEN ord(substr(text, CAST(t.i AS INT), 1)) % 256 ELSE 0 END AS v
      FROM documents, range(1, 91) t(i)
    )
    SELECT doc_id,
           6 AS width, 5 AS height,
           round(avg(CASE WHEN (i-1)%3=0 THEN v END), 6) AS mean_r,
           round(avg(CASE WHEN (i-1)%3=1 THEN v END), 6) AS mean_g,
           round(avg(CASE WHEN (i-1)%3=2 THEN v END), 6) AS mean_b,
           round(avg(CASE WHEN i<=18 THEN v END), 6) AS row0_mean
    FROM b GROUP BY doc_id
    """,
    headline=True,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode through the full binary-column pipeline: each
    document's first 90 bytes (zero-padded) become a 6×5 RGB image encoded
    as an actual 24-bit BI_RGB .bmp file (BGR, bottom-up scanlines, 2-byte
    row padding at width 6), carried as a binary column, then decoded by
    the pure-numpy BMP parser (multimodal.decode_image) and reduced to
    typed per-image statistics. Pixels are CODE POINTS mod 256 (not UTF-8
    bytes) on both sides, so the entry stays oracle-exact on non-ASCII
    corpora (ord()-vs-bytes would silently diverge there). The oracle
    recomputes the statistics straight from the same char codes, so a
    decoder that mishandles the
    BGR swap (mean_r/mean_b flip), the bottom-up flip (row0_mean), or the
    scanline padding hash-mismatches at the driver gate. Both mapInPandas
    stages are Arrow-batched; payload bytes never cross as Python rows."""
    import pandas as pd

    # r13: NOT spread — with the vectorized code-point extraction below the
    # BMP round trip is so cheap that per-task Python overhead beats any
    # fan-out win (in-session A/B: serial 0.33 s vs 32-way 1.31 s at sf0.1)
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def synth(batches):
        import numpy as np

        from datalake_brief_spark.operators.multimodal import encode_bmp

        for pdf in batches:
            payloads = []
            for t in pdf["text"]:
                # vectorized code points (≡ ord(c) % 256 per char): one
                # utf-32 decode per doc instead of a per-char Python loop
                cps = np.frombuffer(
                    t[:90].encode("utf-32-le"), dtype="<u4"
                ).astype(np.uint8)
                arr = np.zeros(90, dtype=np.uint8)
                arr[: len(cps)] = cps
                payloads.append(encode_bmp(arr.reshape(5, 6, 3)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    bmp = d.mapInPandas(synth, "doc_id long, payload binary")
    return multimodal.image_statistics(bmp, "payload", "doc_id")


@_register(
    "multimodal_png",
    headline=True,
    oracle="""
    WITH b AS (
      SELECT doc_id, CAST(t.i AS INT) AS i,
             CASE WHEN t.i <= length(text)
                  THEN ord(substr(text, CAST(t.i AS INT), 1)) % 256 ELSE 0 END AS v
      FROM documents, range(1, 91) t(i)
    )
    SELECT doc_id,
           6 AS width, 5 AS height,
           round(avg(CASE WHEN (i-1)%3=0 THEN v END), 6) AS mean_r,
           round(avg(CASE WHEN (i-1)%3=1 THEN v END), 6) AS mean_g,
           round(avg(CASE WHEN (i-1)%3=2 THEN v END), 6) AS mean_b,
           round(avg(CASE WHEN i<=18 THEN v END), 6) AS row0_mean
    FROM b GROUP BY doc_id
    """,
)
def multimodal_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSED image decode through the binary-column pipeline: the
    same 6×5 RGB images as `multimodal_features`, but carried as real
    zlib-compressed 8-bit truecolor PNGs (filter_mode="cycle", so the
    corpus exercises all five scanline filters) and decoded by the
    pure-numpy PNG parser (multimodal.decode_png — actual inflate +
    unfilter, no codec library). The oracle recomputes the statistics
    from the raw char codes, so any inflate/unfilter/row-order bug
    hash-mismatches at the driver gate. Identical oracle to the BMP
    entry by construction: PNG is lossless, so the two encodings must
    produce byte-identical decoded pixels."""
    import pandas as pd

    # r13: spread the single-split scan (guide §2.6) — the PNG round trip
    # (deflate + all-five-filters encode, inflate + unfilter decode) is the
    # one genuinely heavy per-row codec here, and fan-out wins 2x
    # (in-session A/B: serial 1.59 s vs spread 0.83 s at sf0.1; measured
    # before worker_daemon.py, while each Python task still re-read
    # pyspark.zip 16 times); at scale the input arrives multi-split and the
    # spread no-ops
    d = spread_scan(_t(spark, sf_dir, "documents").select("doc_id", "text"))

    def synth(batches):
        import numpy as np

        from datalake_brief_spark.operators.multimodal import encode_png

        for pdf in batches:
            payloads = []
            for t in pdf["text"]:
                # vectorized code points (≡ ord(c) % 256 per char)
                cps = np.frombuffer(
                    t[:90].encode("utf-32-le"), dtype="<u4"
                ).astype(np.uint8)
                arr = np.zeros(90, dtype=np.uint8)
                arr[: len(cps)] = cps
                payloads.append(encode_png(arr.reshape(5, 6, 3)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    png = d.mapInPandas(synth, "doc_id long, payload binary")
    return multimodal.image_statistics(png, "payload", "doc_id")


@_register(
    "multimodal_audio",
    """
    WITH s AS (
      SELECT doc_id,
             unnest([(ord(substr(text, i, 1)) % 256 - 128) * 256
                     for i in range(1, length(text)+1)]) AS v
      FROM documents
    ),
    agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
             round(avg(v), 6) AS m,
             round(sqrt(avg(CAST(v AS DOUBLE) * v)), 6) AS r
      FROM s GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(a.n, 0) AS n_samples,
           16000 AS sample_rate,
           a.m AS mean_sample,
           a.r AS rms
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode through the binary-column pipeline: document
    char codes (mod 256 — code points, not UTF-8 bytes, so the oracle
    stays exact on non-ASCII corpora) become centered int16 PCM samples
    encoded as an actual
    RIFF/WAVE file (fmt + data chunks), carried as a binary column, then
    decoded by the chunk-walking WAV parser (multimodal.decode_wav) and
    reduced to (n_samples, sample_rate, mean, rms). Sums of int16 values
    and squares are exactly representable doubles → order-independent,
    oracle-matchable statistics."""
    import pandas as pd

    # r13: NOT spread — WAV encode/decode is a handful of numpy ops per
    # row; per-task Python overhead beats the fan-out win (in-session A/B:
    # serial 0.40 s vs 32-way 0.76 s at sf0.1). The code-point extraction
    # below is vectorized (one utf-32 decode per doc).
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def synth(batches):
        import numpy as np

        from datalake_brief_spark.operators.multimodal import encode_wav

        for pdf in batches:
            payloads = []
            for t in pdf["text"]:
                # vectorized code points (≡ ord(c) % 256 per char)
                cps = (
                    np.frombuffer(t.encode("utf-32-le"), dtype="<u4")
                    .astype(np.uint8)
                    .astype(np.int16)
                )
                samples = (cps - 128) * 256
                payloads.append(encode_wav(samples, sample_rate=16000))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    wav = d.mapInPandas(synth, "doc_id long, payload binary")
    return multimodal.audio_statistics(wav, "payload", "doc_id")


# --------------------------------------------------------------------------
# Relational extensions: distinct, grouping sets, pivot/unpivot, having,
# percentiles, scalar-function suites, JSON, explode, lag, as-of/range joins
# --------------------------------------------------------------------------


@_register(
    "distinct_count",
    """
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps
    FROM lineitem GROUP BY l_returnflag
    """,
)
def distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (expand + two-phase aggregate in Spark)."""
    return aggregate(
        _t(spark, sf_dir, "lineitem"),
        ["l_returnflag"],
        [
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
        ],
    )


@_register("approx_distinct", _EXACT_PARTS_PER_FLAG_SQL)
def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimate (``approx_count_distinct``,
    rsd=0.02), driver-gate form: one aggregate computes the estimate AND
    the exact count per flag; the entry emits the exact count plus an
    in-bound boolean — |estimate − exact| ≤ max(10% · exact, 2), the
    5-sigma band the pytest pin uses — and the oracle pins TRUE. Gates
    the builtin HLL++ path; sketch_merge_distinct gates the mergeable
    Datasketches path."""
    agg = aggregate(
        _t(spark, sf_dir, "lineitem"),
        ["l_returnflag"],
        [
            F.countDistinct("l_partkey").cast("long").alias("exact_parts"),
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("__apx"),
        ],
    )
    tol = F.greatest(F.col("exact_parts") * 0.10, F.lit(2.0))
    return agg.select(
        "l_returnflag",
        "exact_parts",
        (F.abs(F.col("__apx") - F.col("exact_parts")) <= tol).alias("in_bound"),
    )


@_register(
    "rollup_daily",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY ROLLUP(day, event_type)
    """,
)
def rollup_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (day → day×type → grand total) in one pass —
    Spark plans a single Expand + aggregate, not three scans."""
    e = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    )
    return e.rollup("day", "event_type").agg(F.count(F.lit(1)).alias("n"))


@_register(
    "cube_status_priority",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT)    AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two keys: all four grouping sets in ONE pass (single
    Expand + aggregate — not four scans; at 100 TB the Expand's 4× row
    blow-up is absorbed by map-side partial aggregation)."""
    return (
        _t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@_register(
    "grouping_sets_custom",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT)
             AS gid,
           CAST(count(*) AS BIGINT)    AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (the general form rollup/cube specialize):
    per-status, per-priority, and grand total in ONE pass — a single Expand
    + aggregate, 3× row blow-up absorbed by map-side partial aggregation.
    ``grouping_id`` disambiguates a real NULL key from a superaggregate
    row — the standard lakehouse-report shape."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT)
                 AS gid,
               count(*)                    AS n,
               round(sum(o_totalprice), 2) AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@_register(
    "pivot_status",
    """
    SELECT o_orderpriority,
           round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS total_F,
           round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS total_O,
           round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS total_P
    FROM orders GROUP BY o_orderpriority
    """,
)
def pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with explicit values (no extra distinct-scan job to discover
    them — at 100 TB value discovery is a full pass, so pin the domain)."""
    out = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.round(F.sum("o_totalprice"), 2))
    )
    return out.withColumnsRenamed({"F": "total_F", "O": "total_O", "P": "total_P"})


@_register(
    "unpivot_part",
    """
    SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
    UNION ALL
    SELECT p_partkey, 'retailprice', p_retailprice FROM part
    """,
)
def unpivot_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide → long) via the native unpivot/melt operator."""
    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size"),
        F.col("p_retailprice").alias("retailprice"),
    )
    return p.unpivot("p_partkey", ["size", "retailprice"], "metric", "value")


@_register(
    "having_avg",
    """
    SELECT c_mktsegment, round(avg(c_acctbal), 4) AS avg_bal
    FROM customer GROUP BY c_mktsegment
    HAVING avg(c_acctbal) > (SELECT avg(c_acctbal) FROM customer)
    """,
)
def having_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING = filter over the aggregate; the global-average subquery is a
    broadcast scalar."""
    c = _t(spark, sf_dir, "customer")
    seg = aggregate(
        c, ["c_mktsegment"], [F.avg("c_acctbal").alias("__avg_raw")]
    )
    overall = c.agg(F.avg("c_acctbal").alias("__overall"))
    return (
        seg.crossJoin(F.broadcast(overall))
        .filter(F.col("__avg_raw") > F.col("__overall"))
        .select("c_mktsegment", F.round("__avg_raw", 4).alias("avg_bal"))
    )


@_register(
    "percentiles",
    """
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90
    FROM orders GROUP BY o_orderstatus
    """,
)
def percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark ``percentile`` ==
    SQL-standard quantile_cont). The sketch-based percentile_approx is the
    100 TB path — pytest bounds its error against this exact form."""
    return aggregate(
        _t(spark, sf_dir, "orders"),
        ["o_orderstatus"],
        [
            F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
        ],
    )


@_register(
    "sql_frontend",
    """
    SELECT r_name,
           CAST(count(*) AS BIGINT)  AS n_customers,
           round(avg(c_acctbal), 4)  AS avg_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE c_acctbal > 0
    GROUP BY r_name
    """,
)
def sql_frontend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spark.sql() front end over registered views — SQL text and the
    DataFrame API compile to identical Catalyst plans, so the whole engine
    is reachable from plain SQL (reference never calls spark.sql; this is
    the idiomatic completion of that surface)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT r_name,
               count(*)                 AS n_customers,
               round(avg(c_acctbal), 4) AS avg_bal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE c_acctbal > 0
        GROUP BY r_name
        """
    )


@_register(
    "math_funcs",
    """
    SELECT l_orderkey, l_linenumber,
           round(abs(l_quantity - 25.0), 2)            AS dev,
           CAST(ceil(l_quantity / 10.0) AS BIGINT)     AS qty_decile,
           CAST(floor(l_extendedprice / 1000) AS BIGINT) AS price_band,
           round(sqrt(l_extendedprice), 6)             AS price_sqrt,
           round(ln(l_extendedprice + 1), 6)           AS price_ln,
           round(pow(l_discount, 2), 6)                AS disc_sq,
           CAST(sign(l_quantity - 25.0) AS DOUBLE)     AS dev_sign,
           round(greatest(l_tax, l_discount), 2)       AS max_rate
    FROM lineitem WHERE l_orderkey < 400
    """,
)
def math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math-function suite (abs/ceil/floor/sqrt/ln/pow/sign/greatest) —
    all codegen'd scan-stage expressions."""
    l = filter_rows(_t(spark, sf_dir, "lineitem"), F.col("l_orderkey") < 400)
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_quantity") - 25.0), 2).alias("dev"),
        F.ceil(F.col("l_quantity") / 10.0).alias("qty_decile"),
        F.floor(F.col("l_extendedprice") / 1000).alias("price_band"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("price_sqrt"),
        F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("price_ln"),
        F.round(F.pow("l_discount", F.lit(2)), 6).alias("disc_sq"),
        F.signum(F.col("l_quantity") - 25.0).alias("dev_sign"),
        F.round(F.greatest("l_tax", "l_discount"), 2).alias("max_rate"),
    )


@_register(
    "string_funcs",
    """
    SELECT c_custkey,
           upper(c_name)                                   AS name_upper,
           CAST(length(c_name) AS INTEGER)                 AS name_len,
           substr(c_name, 1, 8)                            AS name_prefix,
           concat_ws('|', c_mktsegment, c_name)            AS tagged,
           regexp_extract(c_name, '([0-9]+)', 1)           AS key_digits
    FROM customer WHERE c_name LIKE 'Customer%'
    """,
)
def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function suite (upper/length/substr/concat_ws/regexp_extract/
    LIKE) — all codegen'd, evaluated in the scan stage."""
    c = filter_rows(_t(spark, sf_dir, "customer"), F.col("c_name").like("Customer%"))
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.length("c_name").alias("name_len"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.concat_ws("|", "c_mktsegment", "c_name").alias("tagged"),
        F.regexp_extract("c_name", r"([0-9]+)", 1).alias("key_digits"),
    )


@_register(
    "date_funcs",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER)    AS yr,
           CAST(month(o_orderdate) AS INTEGER)   AS mo,
           CAST(day(o_orderdate) AS INTEGER)     AS dom,
           CAST(date_diff('day', TIMESTAMP '2024-01-01 00:00:00', o_orderdate) AS INTEGER) AS days_since,
           strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date
    FROM orders WHERE o_orderkey < 500
    """,
)
def date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function suite (year/month/day, datediff, interval add)."""
    o = filter_rows(_t(spark, sf_dir, "orders"), F.col("o_orderkey") < 500)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.datediff(F.col("o_orderdate"), F.lit("2024-01-01").cast("date")).alias("days_since"),
        F.date_format(F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"), "yyyy-MM-dd").alias(
            "due_date"
        ),
    )


@_register(
    "json_extract",
    """
    SELECT event_type,
           round(avg(CAST(json_extract(props, '$.k') AS BIGINT)), 4) AS avg_k,
           CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events GROUP BY event_type
    """,
)
def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: JSON path into the props column, then
    aggregate — stays JVM-side via get_json_object."""
    e = _t(spark, sf_dir, "events").withColumn(
        "k", F.get_json_object("props", "$.k").cast("long")
    )
    return aggregate(
        e,
        ["event_type"],
        [F.round(F.avg("k"), 4).alias("avg_k"), F.max("k").alias("max_k")],
    )


@_register(
    "case_buckets",
    """
    SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                WHEN o_totalprice < 150000 THEN 'medium'
                WHEN o_totalprice < 300000 THEN 'large'
                ELSE 'jumbo' END AS bucket,
           CAST(count(*) AS BIGINT)  AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY 1
    """,
)
def case_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE/WHEN bucketing histogram."""
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 150000, "medium")
        .when(F.col("o_totalprice") < 300000, "large")
        .otherwise("jumbo")
    )
    return aggregate(
        _t(spark, sf_dir, "orders").withColumn("bucket", bucket),
        ["bucket"],
        [F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total")],
    )


@_register(
    "explode_tokens",
    """
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(
        trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS token
      FROM documents
    ),
    counts AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY token)
    SELECT token, n FROM (
      SELECT token, n, row_number() OVER (ORDER BY n DESC, token) AS rn FROM counts
    ) WHERE rn <= 20
    """,
)
def explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode + aggregate + top-k: global token frequencies (corpus
    vocabulary head). Map-side partial aggregation absorbs the explode
    blow-up before the shuffle."""
    from datalake_brief_spark.functions import tokens as _tokens

    d = _t(spark, sf_dir, "documents").select(
        F.explode(_tokens("text")).alias("token")
    )
    counts = aggregate(d, ["token"], [F.count(F.lit(1)).alias("n")])
    return top_k(counts, [F.col("n").desc(), F.col("token")], 20)


@_register(
    "udtf_ngrams",
    """
    WITH p AS (
      SELECT doc_id, string_split(text, ' ') AS w
      FROM documents WHERE doc_id < 200
    )
    SELECT doc_id,
           array_to_string(w[CAST(i AS INT):CAST(i + 2 AS INT)], ' ') AS ngram,
           CAST(i - 1 AS INT)                                         AS pos
    FROM p, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) g
    """,
)
def udtf_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined TABLE function (§2.11 extension point): word trigrams
    generated by an Arrow-optimized Python UDTF under a LATERAL join — one
    doc row fans out to len(words)-2 rows. Plans as ArrowEvalPythonUDTF
    (Arrow batches), never the pickled row loop; the registry-wide plan
    lint enforces it. Bounded to doc_id < 200 to keep the driver-side
    compare small — the plan shape is scan-stage generation either way."""
    from datalake_brief_spark.operators.text import ngrams_lateral

    d = filter_rows(_t(spark, sf_dir, "documents"), F.col("doc_id") < 200)
    return ngrams_lateral(d, n=3)


@_register(
    "window_lag_delta",
    """
    WITH d AS (
      SELECT event_type, value,
             value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
      FROM events
    )
    SELECT event_type, round(avg(delta), 6) AS avg_delta,
           CAST(count(delta) AS BIGINT) AS n_deltas
    FROM d GROUP BY event_type
    """,
)
def window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() deltas between consecutive events per user, aggregated."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = e.withColumn("delta", F.col("value") - F.lag("value").over(w))
    return aggregate(
        d,
        ["event_type"],
        # round(6): deltas are exact 2-decimals, so avg=sum/n can be an EXACT
        # 4-decimal midpoint when n divides a power of 10 (n=200 → 5-decimal
        # grid) — round below the reachable resolution instead (cf. proj_derive)
        [F.round(F.avg("delta"), 6).alias("avg_delta"), F.count("delta").alias("n_deltas")],
    )


@_register(
    "setop_intersect",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT DISTINCT: nations with both customers and suppliers."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


_ASOF_SQL = """
    WITH unioned AS (
      SELECT o_custkey AS k, o_orderdate AS t, 0 AS side, o_orderkey AS tb,
             NULL::BIGINT AS event_id, NULL::BIGINT AS okey_val
      FROM orders
      UNION ALL
      SELECT user_id, ts, 1, NULL, event_id, NULL FROM events
    ),
    carried AS (
      SELECT *,
             last_value(CASE WHEN side = 0 THEN tb END IGNORE NULLS) OVER (
               PARTITION BY k ORDER BY t, side, tb
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS last_okey
      FROM unioned
    )
    SELECT event_id, k AS user_id, last_okey AS o_orderkey
    FROM carried WHERE side = 1
"""


@_register("asof_join", _ASOF_SQL)
def asof_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event picks up the user's most recent order key at
    or before the event time (ties on order date broken by max orderkey).
    Single shuffle on the user key — see operators.joins.asof_join."""
    from datalake_brief_spark.operators.joins import asof_join

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate"),
        "o_orderkey",
    )
    out = asof_join(
        e,
        o,
        key="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        value_cols=["o_orderkey"],
        right_tiebreak="o_orderkey",
    )
    return out.select("event_id", "user_id", "o_orderkey")


@_register(
    "asof_join_forward",
    """
    WITH unioned AS (
      SELECT user_id AS k, ts AS t, 0 AS side, event_id AS tb,
             NULL::BIGINT AS event_id
      FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT user_id, ts, 1, NULL, event_id
      FROM events WHERE event_type = 'click'
    ),
    carried AS (
      SELECT *,
             first_value(CASE WHEN side = 0 THEN tb END IGNORE NULLS) OVER (
               PARTITION BY k ORDER BY t, side DESC, tb DESC
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
             ) AS next_pid,
             first_value(CASE WHEN side = 0 THEN epoch(t) END IGNORE NULLS) OVER (
               PARTITION BY k ORDER BY t, side DESC, tb DESC
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
             ) AS next_t
      FROM unioned
    )
    SELECT event_id, k AS user_id,
           CASE WHEN abs(epoch(t) - next_t) <= 86400.0
                THEN next_pid END AS purchase_id
    FROM carried WHERE side = 1
    """,
)
def asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of with tolerance (the full pandas merge_asof surface):
    each click picks up the SAME user's next purchase event at or after
    the click, nulled when it is more than 24 h out — the attribution-
    window shape ("which purchase did this click lead to, within the
    window"). Both the match and the null branch fire at the driver's
    sf0.01 (events span 30 days, so day-scale gaps exist on both sides
    of the 24 h cutoff — a boundary that never triggers would be vacuous
    evidence). Same single-shuffle union-stream plan as the backward
    entry, with first(ignorenulls) over the mirrored frame; tolerance
    rides the same window by carrying the matched timestamp as one more
    value column."""
    from datalake_brief_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("pts"),
        F.col("event_id").alias("purchase_id"),
    )
    out = asof_join(
        clicks,
        purchases,
        key="user_id",
        left_ts="ts",
        right_ts="pts",
        value_cols=["purchase_id"],
        right_tiebreak="purchase_id",
        direction="forward",
        tolerance=86400.0,
    )
    return out.select("event_id", "user_id", "purchase_id")


@_register(
    "range_join_bands",
    """
    WITH bands(band, lo, hi) AS (
      VALUES ('low', 0.0, 25.0), ('mid', 25.0, 75.0), ('high', 75.0, 1e9)
    )
    SELECT band, CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS total
    FROM events LEFT JOIN bands ON value >= lo AND value < hi
    GROUP BY band
    """,
)
def range_join_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/band join: events bucketed into value intervals via broadcast
    interval join (see operators.joins.range_join)."""
    from datalake_brief_spark.operators.joins import range_join

    bands = spark.createDataFrame(
        [("low", 0.0, 25.0), ("mid", 25.0, 75.0), ("high", 75.0, 1e9)],
        "band string, lo double, hi double",
    )
    j = range_join(_t(spark, sf_dir, "events"), bands, "value")
    return aggregate(
        j,
        ["band"],
        [F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total")],
    )


@_register(
    "ml_lr_predict",
    """
    SELECT TRUE AS split_ok, TRUE AS r2_ok
    """,
)
def ml_lr_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ML pipeline shape (M1-M5: VectorAssembler → seeded
    randomSplit → LinearRegression → predict, reference pyspark-3.ipynb:
    124-137,219-221,270) on lake data: predict extended price from
    lake columns. Driver-gate form: LR solver floats (and the seeded
    split's exact membership) are engine-local, so the entry emits
    pipeline-quality booleans — the test split lands within 20%±5pp of
    the data, and held-out R² clears 0.99 on the pricing relation
    ``revenue = extendedprice − extendedprice·discount``, which LR must
    recover exactly from the two features (quantity+discount alone carry
    no signal here: TESTDATA prices are independent of quantity, measured
    R² ≈ 0) — with the oracle pinning TRUE. A broken assembler, split,
    or diverging solver flips a boolean; per-prediction values and
    coefficient recovery stay pytest-pinned
    (tests/test_streaming_ml.py)."""
    from pyspark.ml.regression import LinearRegression

    from datalake_brief_spark.mlops import assemble_features, train_test_split

    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
        (F.col("l_extendedprice") * F.col("l_discount")).alias("disc_amount"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
    )
    feats = assemble_features(l, ["l_extendedprice", "disc_amount"], "features")
    train, test = train_test_split(feats, (0.8, 0.2), seed=42)
    model = LinearRegression(featuresCol="features", labelCol="revenue").fit(train)
    preds = model.transform(test)
    stats = preds.agg(
        F.count(F.lit(1)).alias("__n_test"),
        F.sum((F.col("revenue") - F.col("prediction")) ** 2).alias("__ss_res"),
        F.sum(F.col("revenue") ** 2).alias("__ss"),
        F.sum("revenue").alias("__s"),
    )
    n_total = l.count()
    return stats.select(
        (
            F.abs(F.col("__n_test") / F.lit(float(n_total)) - 0.2) <= 0.05
        ).alias("split_ok"),
        (
            1.0
            - F.col("__ss_res")
            / (F.col("__ss") - F.col("__s") ** 2 / F.col("__n_test"))
            >= 0.99
        ).alias("r2_ok"),
    )


@_register(
    "join_salted_skew",
    """
    SELECT c_mktsegment,
           round(sum(o_totalprice), 2) AS revenue,
           CAST(count(*) AS BIGINT)    AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit skew-salting join (operators.joins.salted_join): the driver
    key is salted into 8 buckets and the build side replicated across them,
    spreading one hot key over 8 reducers. Salting is a pure execution-
    strategy change, so the oracle is the PLAIN join — identical results is
    the point. For organic skew AQE's skew-join split is preferred; the
    explicit form is for hot keys bigger than one executor."""
    from datalake_brief_spark.operators.joins import salted_join

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "o_custkey")
    j = salted_join(o, c.select("o_custkey", "c_mktsegment"), "o_custkey", salt_buckets=8)
    return aggregate(
        j,
        ["c_mktsegment"],
        [
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        ],
    )


@_register(
    "table_diff_audit",
    """
    SELECT change_type, CAST(count(*) AS BIGINT) AS n FROM (
      SELECT 'insert' AS change_type FROM customer WHERE c_custkey % 101 = 7
      UNION ALL
      SELECT 'delete' FROM customer WHERE c_custkey % 97 = 3
      UNION ALL
      SELECT 'update' FROM customer
      WHERE c_custkey % 100 = 0 AND c_custkey % 97 <> 3
    ) GROUP BY change_type
    """,
)
def table_diff_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed snapshot diff (relational.snapshot_diff) — the replication /
    migration audit: against a derived copy of customer with injected
    deletes (key % 97 = 3), balance updates (key % 100 = 0, applied after
    the deletes, NULL-safe comparison), and inserts (key % 101 = 7 cloned
    above the keyspace), the diff must classify every changed key exactly
    and emit NOTHING for untouched rows. One full-outer shuffle on the key
    — the minimum an exact diff pays; over bucketed copies even that
    disappears. The oracle recomputes the three injection predicates
    directly, so a misclassified or leaked row mismatches."""
    from datalake_brief_spark.operators.relational import snapshot_diff

    c = _t(spark, sf_dir, "customer")
    kept = filter_rows(c, F.pmod(F.col("c_custkey"), F.lit(97)) != 3)
    updated = kept.withColumn(
        "c_acctbal",
        F.when(
            F.pmod(F.col("c_custkey"), F.lit(100)) == 0,
            F.col("c_acctbal") + 10,
        ).otherwise(F.col("c_acctbal")),
    )
    inserted = filter_rows(c, F.pmod(F.col("c_custkey"), F.lit(101)) == 7).withColumn(
        "c_custkey", F.col("c_custkey") + 10000000
    )
    right = updated.unionByName(inserted)
    diff = snapshot_diff(c, right, ["c_custkey"])
    return aggregate(diff, ["change_type"], [F.count(F.lit(1)).alias("n")])


@_register(
    "join_semi_reduced",
    """
    SELECT o_orderpriority,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT)                          AS n_lines
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-04-01'
    GROUP BY o_orderpriority
    """,
)
def join_semi_reduced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact×fact join with explicit semi-join reduction
    (operators.joins.semi_reduced_join): the selective order-date filter
    keeps ~4% of orders, so lineitem's shuffle would be ~96% wasted rows in
    the plain plan. Broadcasting the surviving order keys and semi-joining
    them into lineitem BEFORE the exchange cuts the big side's shuffle to
    the match set. Pure execution-strategy change — the oracle is the plain
    join; identical results is the point (same contract as
    ``join_salted_skew``)."""
    from datalake_brief_spark.operators.joins import semi_reduced_join

    o = filter_rows(
        _t(spark, sf_dir, "orders"),
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1995-04-01"),
    ).select("o_orderkey", "o_orderpriority")
    l = _t(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
    j = semi_reduced_join(l, o, key="o_orderkey")
    return aggregate(
        j,
        ["o_orderpriority"],
        [
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        ],
    )


def _bucketed_pair(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """orders + lineitem landed as CATALOG bucketed tables: 8 buckets on the
    order key, one file per bucket (repartition(8, key) before the write),
    sorted within buckets. Built once per (application, sf_dir) — the
    memoizer key includes the Spark applicationId because bucket METADATA
    lives in the session catalog (files alone don't carry the contract), so
    a fresh session must re-register even if the files survive."""
    import hashlib
    import tempfile

    from datalake_brief_spark.sources import io as dio

    app = spark.sparkContext.applicationId
    sfa = os.path.abspath(sf_dir)
    suffix = hashlib.md5(sfa.encode()).hexdigest()[:8]
    bo, bl = f"b_orders_{suffix}", f"b_lineitem_{suffix}"

    # saveAsTable is not idempotent, so concurrent query construction
    # (threaded plan lint) must not race the catalog registration
    def build() -> tuple[str, str]:
        root = tempfile.mkdtemp(prefix="dbs_bucketed_")
        o = _t(spark, sf_dir, "orders").repartition(8, "o_orderkey")
        l = _t(spark, sf_dir, "lineitem").repartition(8, "l_orderkey")
        dio.write_bucketed(
            o, bo, ["o_orderkey"], 8, path=os.path.join(root, "o"), sort_cols=["o_orderkey"]
        )
        dio.write_bucketed(
            l, bl, ["l_orderkey"], 8, path=os.path.join(root, "l"), sort_cols=["l_orderkey"]
        )
        return bo, bl

    return _BUCKETED_PAIRS.get_or_build((app, sfa), build)


@_register(
    "join_bucketed_colocated",
    """
    SELECT o_orderpriority,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT)                          AS n_lines
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB fact⋈fact contract at the driver gate: orders and
    lineitem bucketed on the join key with equal bucket counts join with
    ZERO exchanges on either side — the hash distribution was paid ONCE at
    write time and every subsequent join of the pair rides it for free. At
    100 TB that's the difference between re-shuffling terabytes per query
    and a pure map-side merge. ``hint("merge")`` pins the sort-merge
    strategy (a broadcast would also skip the shuffle but proves nothing
    about bucketing); the plan is asserted in-flight: ≤1 Exchange total,
    and that one belongs to the final 5-group aggregate, not the join.
    Pure execution-strategy change — the oracle is the plain join (same
    contract as ``join_salted_skew``)."""
    from datalake_brief_spark.plans import count_nodes

    bo, bl = _bucketed_pair(spark, sf_dir)
    o = spark.table(bo).select("o_orderkey", "o_orderpriority")
    l = spark.table(bl).select("l_orderkey", "l_extendedprice", "l_discount")
    j = o.hint("merge").join(l, o.o_orderkey == l.l_orderkey)
    out = aggregate(
        j,
        ["o_orderpriority"],
        [
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        ],
    )
    n_ex = count_nodes(out, "Exchange")
    assert n_ex <= 1, f"bucketed join plan re-shuffled: {n_ex} exchanges"
    return out


@_register(
    "agg_bucketed_local",
    """
    SELECT n_lines, CAST(count(*) AS BIGINT) AS n_orders
    FROM (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines
          FROM lineitem GROUP BY l_orderkey)
    GROUP BY n_lines
    """,
)
def agg_bucketed_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-local aggregation: grouping the bucketed lineitem table BY
    ITS BUCKET KEY satisfies the aggregate's required HashPartitioning
    straight from the scan, so the per-order count runs with no exchange —
    on a 100 TB fact table that turns the expensive first-level rollup into
    a scan-stage operation; only the tiny second-level histogram (lines-
    per-order distribution, ~7 groups) shuffles. Asserted in-flight: ≤1
    Exchange, owned by the histogram, not the per-key rollup."""
    from datalake_brief_spark.plans import count_nodes

    _, bl = _bucketed_pair(spark, sf_dir)
    per_order = aggregate(
        spark.table(bl).select("l_orderkey"),
        ["l_orderkey"],
        [F.count(F.lit(1)).alias("n_lines")],
    )
    out = aggregate(per_order, ["n_lines"], [F.count(F.lit(1)).alias("n_orders")])
    n_ex = count_nodes(out, "Exchange")
    assert n_ex <= 1, f"bucket-local agg plan re-shuffled: {n_ex} exchanges"
    return out


def _hll_merged_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag distinct-part estimates via mergeable Datasketches
    HLL: per-(returnflag, linestatus) partials unioned up to returnflag —
    the 100 TB pattern where daily sketches are stored and unioned later
    without rescanning the data."""
    l = _t(spark, sf_dir, "lineitem")
    partials = aggregate(
        l,
        ["l_returnflag", "l_linestatus"],
        [F.hll_sketch_agg("l_partkey").alias("sk")],
    )
    return aggregate(
        partials,
        ["l_returnflag"],
        [F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n_parts_merged")],
    )


@_register("sketch_merge_distinct", _EXACT_PARTS_PER_FLAG_SQL)
def sketch_merge_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch distinct counting (Datasketches HLL partials
    unioned up to returnflag, ``_hll_merged_distinct``), driver-gate form:
    sketch binaries are engine-specific, so the entry emits the EXACT
    distinct counts plus an in-bound boolean — |estimate − exact| ≤
    max(5% · exact, 2), the same 3×rsd band the pytest pin asserts — and
    the oracle pins TRUE. A broken sketch/merge flips the boolean and
    hash-mismatches."""
    l = _t(spark, sf_dir, "lineitem")
    est = _hll_merged_distinct(spark, sf_dir)
    exact = aggregate(
        l,
        ["l_returnflag"],
        [F.countDistinct("l_partkey").cast("long").alias("exact_parts")],
    )
    tol = F.greatest(F.col("exact_parts") * 0.05, F.lit(2.0))
    return exact.join(F.broadcast(est), "l_returnflag").select(
        "l_returnflag",
        "exact_parts",
        (F.abs(F.col("n_parts_merged") - F.col("exact_parts")) <= tol).alias(
            "in_bound"
        ),
    )


def _theta_overlap_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row of Theta-sketch estimates: distinct parts in returnflag A∪R
    and A∩R lineitems, from two kilobyte sketches (Dasgupta et al., the
    Datasketches theta framework) instead of a distinct-distinct join."""
    l = _t(spark, sf_dir, "lineitem")
    sk = aggregate(
        l.filter(F.col("l_returnflag").isin("A", "R")),
        ["l_returnflag"],
        [F.theta_sketch_agg("l_partkey").alias("sk")],
    )
    return sk.agg(
        F.round(F.theta_sketch_estimate(F.theta_union_agg("sk")), 0)
        .cast("long")
        .alias("n_union"),
        F.round(F.theta_sketch_estimate(F.theta_intersection_agg("sk")), 0)
        .cast("long")
        .alias("n_overlap"),
    )


@_register(
    "sketch_set_overlap",
    """
    WITH fs AS (
      SELECT l_partkey, count(DISTINCT l_returnflag) AS nf
      FROM lineitem WHERE l_returnflag IN ('A', 'R')
      GROUP BY l_partkey
    )
    SELECT CAST(count(*) AS BIGINT)                       AS exact_union,
           CAST(count(CASE WHEN nf = 2 THEN 1 END) AS BIGINT) AS exact_overlap,
           TRUE AS union_in_bound,
           TRUE AS overlap_in_bound
    FROM fs
    """,
)
def sketch_set_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra — the capability HLL lacks: besides union,
    Theta sketches estimate INTERSECTION, so "how many parts appear in
    BOTH returnflag A and R lineitems" resolves from two kilobyte sketches.
    The audience-overlap pattern: store per-segment sketches, answer any
    pairwise overlap later, no rescan.

    Driver-gate form: sketch binaries are engine-specific, so the entry
    emits the EXACT set sizes plus deterministic bounds-check booleans —
    |union est − exact| ≤ max(5% · union, 2) and |overlap est − exact| ≤
    max(10% · union, 2) (intersection error compounds relative to the
    union's sampling threshold, not the intersection size). The oracle
    recomputes the exact sizes and pins both booleans TRUE: a broken
    sketch flips a boolean and hash-mismatches. Same bounds as the pytest
    pin (tests/test_sketches.py)."""
    l = _t(spark, sf_dir, "lineitem")
    est = _theta_overlap_estimates(spark, sf_dir)
    exact = (
        l.filter(F.col("l_returnflag").isin("A", "R"))
        .groupBy("l_partkey")
        .agg(F.countDistinct("l_returnflag").alias("nf"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("exact_union"),
            F.count(F.when(F.col("nf") == 2, 1)).cast("long").alias("exact_overlap"),
        )
    )
    tol_u = F.greatest(F.col("exact_union") * 0.05, F.lit(2.0))
    tol_o = F.greatest(F.col("exact_union") * 0.10, F.lit(2.0))
    return exact.crossJoin(F.broadcast(est)).select(
        "exact_union",
        "exact_overlap",
        (F.abs(F.col("n_union") - F.col("exact_union")) <= tol_u).alias("union_in_bound"),
        (F.abs(F.col("n_overlap") - F.col("exact_overlap")) <= tol_o).alias(
            "overlap_in_bound"
        ),
    )


def _kll_merged_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag p50/p95 of extendedprice via mergeable KLL sketches:
    per-(returnflag, linestatus) partials merged up to returnflag — the
    roll-up that never rescans history."""
    l = _t(spark, sf_dir, "lineitem")
    partials = aggregate(
        l,
        ["l_returnflag", "l_linestatus"],
        [F.kll_sketch_agg_double("l_extendedprice").alias("sk")],
    )
    merged = aggregate(
        partials,
        ["l_returnflag"],
        [F.kll_merge_agg_double("sk").alias("mk")],
    )
    return merged.select(
        "l_returnflag",
        F.round(F.kll_sketch_get_quantile_double("mk", F.lit(0.5)), 2).alias("p50"),
        F.round(F.kll_sketch_get_quantile_double("mk", F.lit(0.95)), 2).alias("p95"),
    )


@_register(
    "sketch_merge_quantiles",
    """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           TRUE AS p50_in_bound,
           TRUE AS p95_in_bound
    FROM lineitem GROUP BY l_returnflag
    """,
)
def sketch_merge_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketches (Datasketches KLL) — the quantile twin
    of sketch_merge_distinct: per-(returnflag, linestatus) KLL partials
    over extendedprice merge up to returnflag for p50/p95 WITHOUT
    rescanning history. At 100 TB this is how per-day price distributions
    roll into monthly ones: merge kilobyte sketches, not terabyte facts.

    Driver-gate form: sketch binaries are engine-specific, so the entry
    verifies each merged quantile's RANK against the full data — the
    number of rows ≤ the estimate must sit within KLL's normalized rank
    error of q·n (default k=200 → ~1.65% single-sided; bound 2× =
    max(3.3% · n, 2), same as the pytest pin) — and emits (flag, n,
    p50_in_bound, p95_in_bound). The oracle pins the counts and TRUE
    booleans; a broken sketch or merge flips a boolean and
    hash-mismatches. The rank check is one broadcast join of the 3-row
    estimate table against the fact scan."""
    l = _t(spark, sf_dir, "lineitem")
    est = _kll_merged_quantiles(spark, sf_dir)
    ranks = (
        l.select("l_returnflag", "l_extendedprice")
        .join(F.broadcast(est), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(F.col("l_extendedprice") <= F.col("p50"), 1).otherwise(0)
            ).alias("r50"),
            F.sum(
                F.when(F.col("l_extendedprice") <= F.col("p95"), 1).otherwise(0)
            ).alias("r95"),
        )
    )
    tol = F.greatest(F.col("n") * 0.033, F.lit(2.0))
    return ranks.select(
        "l_returnflag",
        "n",
        (F.abs(F.col("r50") - 0.5 * F.col("n")) <= tol).alias("p50_in_bound"),
        (F.abs(F.col("r95") - 0.95 * F.col("n")) <= tol).alias("p95_in_bound"),
    )


# --------------------------------------------------------------------------
# Lakehouse band: the transactional-table / incremental-MV / streaming-MERGE
# machinery (sources/txlog.py, operators/incremental.py, streaming/sinks.py)
# exercised THROUGH the driver's oracle gate. Each query builds a txlog table
# in a process-local temp dir from the sf_dir parquet (memoized so the
# driver, plan lint, and bench reuse one build), runs commits/deletes/
# compaction/merges against it, and returns a snapshot read whose DuckDB
# oracle is the equivalent relational expression over the raw tables — the
# commit/prune/merge machinery passes the same rows+schema+hash gate as
# every other operator.
# --------------------------------------------------------------------------


def _lakehouse_table(kind: str, sf_dir: str, build) -> str:
    """Temp txlog-table root per (kind, sf_dir), built once per process by
    ``build(path)``; a build that throws is retried by the next call in a
    fresh directory. The returned DataFrames are lazy, so the files must
    outlive them — nothing is deleted until process exit (tmpfs-sized
    builds only)."""
    import tempfile

    def land() -> str:
        path = os.path.join(tempfile.mkdtemp(prefix=f"dbs_{kind}_"), "t")
        build(path)
        return path

    return _LAKEHOUSE_TABLES.get_or_build((kind, os.path.abspath(sf_dir)), land)


def _snapshot_table(spark: SparkSession, sf_dir: str) -> str:
    """lineitem → txlog table exercising the full commit lifecycle.
    Versions: 1 = even-orderkey half, 2 = full table, 3 = after a stats-
    pruned row-level DELETE of l_quantity < 5, 4 = after OPTIMIZE
    compaction (content identical to 3)."""
    def build(path: str) -> None:
        l = _t(spark, sf_dir, "lineitem")
        half = F.pmod(F.col("l_orderkey"), F.lit(2))
        txlog.append(l.filter(half == 0), path, stats_cols=["l_quantity"])
        txlog.append(l.filter(half == 1), path, stats_cols=["l_quantity"])
        txlog.delete_where(
            spark, path, F.col("l_quantity") < 5, prune_col="l_quantity", hi=5
        )
        txlog.optimize(spark, path, target_file_bytes=1 << 30)

    return _lakehouse_table("snapshot", sf_dir, build)


def _txlog_agg(df: DataFrame) -> DataFrame:
    return aggregate(
        df,
        ["l_returnflag", "l_linestatus"],
        [
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        ],
    )


_TXLOG_AGG_SQL = """
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT)       AS n_rows,
           round(sum(l_quantity), 2)      AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem
    {where}
    GROUP BY l_returnflag, l_linestatus
"""


@_register("txlog_snapshot_read", _TXLOG_AGG_SQL.format(where="WHERE NOT (l_quantity < 5)"))
def txlog_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-snapshot read through the commit log after append + append +
    DELETE + OPTIMIZE: the oracle is the raw table minus the deleted band,
    so a wrong visibility set, a DELETE that loses NULL/survivor rows, or a
    compaction that drops data all hash-mismatch here."""
    return _txlog_agg(txlog.read(spark, _snapshot_table(spark, sf_dir)))


@_register(
    "txlog_clone_read",
    _TXLOG_AGG_SQL.format(
        where="WHERE NOT (l_quantity < 5) AND l_orderkey % 2 = 0"
    ),
)
def txlog_clone_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE correctness through the gate: clone the lifecycle
    table (zero-copy — the clone's first commit references the source's
    physical files), then DELETE the odd-orderkey half ON THE CLONE ONLY
    and read it. The oracle is the raw table minus the source's deleted
    band minus the clone-only deletion; the SOURCE-side entries
    (txlog_snapshot_read et al.) run in the same process against the same
    source and must stay green — cross-contamination in either direction
    hash-mismatches somewhere. The clone build is memoized like every
    lakehouse fixture."""
    src = _snapshot_table(spark, sf_dir)

    def build(path: str) -> None:
        import os
        import shutil

        # txlog.clone requires a fresh root; _lakehouse_table pre-creates
        # nothing, but keep the contract explicit
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        txlog.clone(src, path)
        txlog.delete_where(spark, path, F.pmod(F.col("l_orderkey"), F.lit(2)) == 1)

    return _txlog_agg(txlog.read(spark, _lakehouse_table("clone", sf_dir, build)))


@_register(
    "txlog_timestamp_travel",
    _TXLOG_AGG_SQL.format(where="WHERE NOT (l_quantity < 5)"),
)
def txlog_timestamp_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """timestampAsOf through the gate: a far-future instant must resolve
    to the CURRENT snapshot (the Delta contract — a reader at that
    instant sees the tip), exercising commit-wall-clock recording,
    version resolution, and the snapshot read end-to-end; the oracle is
    the same post-DELETE relational equivalent as txlog_snapshot_read.
    (Between-commit resolution needs controlled clocks and is pinned in
    tests/test_txlog.py instead.)"""
    return _txlog_agg(
        txlog.read_at_timestamp(
            spark, _snapshot_table(spark, sf_dir), "9999-01-01T00:00:00+00:00"
        )
    )


@_register("txlog_time_travel", _TXLOG_AGG_SQL.format(where=""))
def txlog_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel read of version 2 (pre-DELETE, both halves appended):
    must equal the FULL raw table even though later commits deleted rows
    and compacted files — snapshot isolation from the log alone."""
    return _txlog_agg(txlog.read(spark, _snapshot_table(spark, sf_dir), version=2))


@_register(
    "txlog_cdf",
    """
    SELECT 'delete'                  AS _change_type,
           CAST(count(*) AS BIGINT)  AS n_rows,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    WHERE l_quantity < 5
    """,
)
def txlog_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed between the pre- and post-DELETE versions: exactly
    the deleted rows, tagged ``delete`` — read from the commit's STORED
    change record (``_change_data`` files landed with the rewrite), so the
    feed's cost tracks the changed rows, not the table."""
    path = _snapshot_table(spark, sf_dir)
    changes = txlog.table_changes(spark, path, from_version=2, to_version=3)
    return aggregate(
        changes,
        ["_change_type"],
        [
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        ],
    )


@_register(
    "txlog_cdf_update",
    """
    SELECT 'delete'                     AS _change_type,
           CAST(count(*) AS BIGINT)     AS n_rows,
           round(sum(o_totalprice), 2)  AS sum_price
    FROM orders
    WHERE o_orderkey % 97 = 0
    UNION ALL
    SELECT 'insert'                            AS _change_type,
           CAST(count(*) AS BIGINT)            AS n_rows,
           round(sum(o_totalprice + 1000), 2)  AS sum_price
    FROM orders
    WHERE o_orderkey % 97 = 0
    """,
)
def txlog_cdf_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC THROUGH a copy-on-write UPDATE commit: the update lands its
    pre/post row images as ``_change_data`` parquet in the same commit
    (the Delta CDC design), and ``table_changes`` over the update window
    reads ONLY that stored record — each updated row exactly one
    ``delete`` (pre-image) + one ``insert`` (post-image); untouched rows
    of the rewritten files never appear and nothing is diffed at read
    time. The oracle recomputes both images from the raw table, so a
    double-emitted or netted-away row hash-mismatches on count or sum."""
    def build(path: str) -> None:
        txlog.append(_t(spark, sf_dir, "orders"), path)
        txlog.update_where(
            spark,
            path,
            F.pmod(F.col("o_orderkey"), F.lit(97)) == 0,
            {"o_totalprice": F.col("o_totalprice") + 1000},
        )

    path = _lakehouse_table("cdf_update", sf_dir, build)
    changes = txlog.table_changes(spark, path, from_version=1, to_version=2)
    return aggregate(
        changes,
        ["_change_type"],
        [
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        ],
    )


@_register(
    "txlog_cdf_fold",
    """
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(price), 2) AS sum_price
    FROM (
      SELECT o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0 THEN round(o_totalprice, 2) + 1000
                  WHEN o_orderstatus = 'O' THEN round(o_totalprice, 2) * 1.1
                  ELSE round(o_totalprice, 2) END AS price
      FROM orders
      WHERE o_orderkey % 7 = 0 OR o_orderkey % 10 <> 0
    )
    GROUP BY o_orderstatus
    """,
)
def txlog_cdf_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING change-data-feed fold invariant, externally attested
    (VERDICT r9 ask #5): drain the CDF stream over a multi-family
    mutation window — append → CoW UPDATE (stored pre/post pairs) →
    deletion-vector DELETE (position-exact) → clause-based MERGE (stored
    update pairs + insert record) → OPTIMIZE (dataChange=false, must
    emit nothing) — into a signed multiset fold (+1 per insert, −1 per
    delete, keep multiplicity > 0), and hash-compare the reconstructed
    snapshot against the DuckDB oracle of the raw relation. Any CDC
    defect breaks the fold: a missed pre-image double-counts, a
    re-emitted compaction row inflates, a netted-away update pair
    deflates. The batch stream==fold pins live in pytest; this entry is
    the driver-gated form."""
    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderstatus",
            F.round("o_totalprice", 2).alias("o_totalprice"),
        )
        txlog.append(o, path)  # v1
        txlog.update_where(  # v2: CoW update, stored delete+insert pairs
            spark,
            path,
            F.col("o_orderstatus") == "O",
            {"o_totalprice": F.col("o_totalprice") * 1.1},
        )
        txlog.delete_where_dv(  # v3: DV delete, position-exact rows
            spark, path, "o_orderkey % 10 = 0"
        )
        src = o.filter(F.pmod("o_orderkey", F.lit(7)) == 0).select(
            "o_orderkey",
            "o_orderstatus",
            (F.col("o_totalprice") + 1000).alias("o_totalprice"),
        )
        txlog.merge_into(  # v4: file-pruned MERGE (updates + re-inserts)
            spark,
            path,
            src,
            ["o_orderkey"],
            when_matched=[("update", "*")],
            when_not_matched=True,
        )
        txlog.optimize(spark, path, target_file_bytes=1 << 30)  # v5: no-op to CDF

    import tempfile

    from datalake_brief_spark.streaming.source import register_txlog_source

    path = _lakehouse_table("cdf_fold", sf_dir, build)
    register_txlog_source(spark)
    stream = (
        spark.readStream.format("txlog")
        .options(path=path, readChangeFeed="true")
        .load()
    )
    import uuid as _uuid

    # unique per invocation: a reused memory-sink name would read a stale
    # or doubled table if the entry runs twice in one process
    qn = f"cdf_fold_sink_{_uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(qn)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="dbs_cdf_fold_ck_"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    folded = (
        spark.table(qn)
        .groupBy("o_orderkey", "o_orderstatus", "o_totalprice")
        .agg(
            F.sum(
                F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
            ).alias("mult")
        )
        .filter(F.col("mult") > 0)
    )
    return folded.groupBy("o_orderstatus").agg(
        F.sum("mult").cast("long").alias("n_rows"),
        F.round(F.sum(F.col("o_totalprice") * F.col("mult")), 2).alias("sum_price"),
    )


@_register(
    "txlog_cdf_rowids",
    """
    SELECT CAST(count(*) AS BIGINT)            AS n_pairs,
           round(sum(o_totalprice), 2)         AS sum_old,
           round(sum(o_totalprice + 1000), 2)  AS sum_new,
           TRUE                                AS pairs_ok
    FROM orders
    WHERE o_orderkey % 97 = 0
    """,
)
def txlog_cdf_rowids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC + row tracking composed: an UPDATE's delete+insert pair shares
    ONE stable row id, so the change feed's two legs JOIN on identity —
    the incremental-consumer shape (old value, new value, one key, no
    full-row matching). The join must pair EVERY updated row exactly
    once (pairs_ok: join count == delete count == insert count, ids
    distinct); pre/post sums hash-check the values rode with the right
    identity."""
    def build(path: str) -> None:
        txlog.append(_t(spark, sf_dir, "orders"), path)
        txlog.enable_row_tracking(path)
        txlog.update_where(
            spark,
            path,
            F.pmod(F.col("o_orderkey"), F.lit(97)) == 0,
            {"o_totalprice": F.col("o_totalprice") + 1000},
        )

    path = _lakehouse_table("cdf_rowids", sf_dir, build)
    v = txlog.current_version(path)
    cdf = txlog.table_changes(spark, path, v - 1, v, include_row_ids=True)
    d = cdf.filter("_change_type = 'delete'").select(
        "row_id", F.col("o_totalprice").alias("__old")
    )
    i = cdf.filter("_change_type = 'insert'").select(
        "row_id", F.col("o_totalprice").alias("__new")
    )
    j = d.join(i, "row_id")
    return j.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.sum("__old"), 2).alias("sum_old"),
        F.round(F.sum("__new"), 2).alias("sum_new"),
        (
            (F.count(F.lit(1)) == F.countDistinct("row_id"))
            & (F.count(F.lit(1)) == F.lit(d.count()))
            & (F.count(F.lit(1)) == F.lit(i.count()))
        ).alias("pairs_ok"),
    )


@_register(
    "txlog_row_ids",
    """
    SELECT CAST(count(*) AS BIGINT)                    AS n_rows,
           CAST(count(*) FILTER (WHERE o_orderkey % 10 = 0) AS BIGINT)
                                                        AS n_deleted,
           TRUE                                         AS ids_ok
    FROM orders
    """,
)
def txlog_row_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW TRACKING (the Delta row-ID feature) at the driver gate: enable
    on an orders-backed table (backfill covers every row exactly once:
    ids 0..n-1), CoW-DELETE a band, and verify the SURVIVORS' ids are the
    identical dense-prefix subset — distinct, still inside [0, n), and
    none recycled (count survivors == n - deleted, max < n). A rewrite
    that re-keyed, duplicated, or dropped an id flips the boolean. Id
    VALUES are allocation-order-specific (engine-local state, like LSH
    hashes), so the gate is the pinned-boolean form."""
    def build(path: str) -> None:
        txlog.append(_t(spark, sf_dir, "orders"), path)
        txlog.enable_row_tracking(path)
        txlog.delete_where(spark, path, "o_orderkey % 10 = 0")

    path = _lakehouse_table("row_ids", sf_dir, build)
    n_total = _t(spark, sf_dir, "orders").count()
    df = txlog.read_with_row_ids(spark, path)
    return df.agg(
        F.lit(n_total).cast("long").alias("n_rows"),
        (F.lit(n_total) - F.count(F.lit(1))).cast("long").alias("n_deleted"),
        (
            (F.countDistinct("row_id") == F.count(F.lit(1)))
            & (F.min("row_id") >= 0)
            & (F.max("row_id") < F.lit(n_total))
        ).alias("ids_ok"),
    )


@_register(
    "txlog_convert_in_place",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT)    AS n_rows,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    WHERE NOT (o_orderkey % 10 = 0)
    GROUP BY o_orderstatus
    """,
)
def txlog_convert_in_place(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERT TO txlog (in-place import, the Delta CONVERT TO DELTA
    shape): a plain-parquet directory becomes a transactional table in
    ONE metadata-only commit referencing the files where they are — zero
    rows rewritten at any size — and is immediately a full citizen: the
    build runs a CoW DELETE on the CONVERTED table, so the oracle (raw
    table minus the deleted band) proves import + post-import mutation +
    snapshot resolution end-to-end."""
    def build(path: str) -> None:
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        _t(spark, sf_dir, "orders").write.parquet(path)
        txlog.convert_to_txlog(spark, path, stats_cols=["o_orderkey"])
        txlog.delete_where(spark, path, "o_orderkey % 10 = 0")

    path = _lakehouse_table("converted", sf_dir, build)
    return aggregate(
        txlog.read(spark, path),
        ["o_orderstatus"],
        [
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        ],
    )


@_register(
    "txlog_symlink_manifest",
    _TXLOG_AGG_SQL.format(where="WHERE NOT (l_quantity < 5)"),
)
def txlog_symlink_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External-reader handoff (GENERATE symlink_format_manifest): export
    the lifecycle table's snapshot as a manifest of absolute file URIs,
    then read it back through PLAIN ``spark.read.parquet`` on exactly
    those files — no txlog resolution in the read path. The oracle is
    the same post-DELETE relation as txlog_snapshot_read, so a manifest
    naming a superseded, uncommitted, or missing file hash-mismatches."""
    path = _snapshot_table(spark, sf_dir)
    manifest = txlog.generate_symlink_manifest(path)
    with open(manifest) as f:
        files = [u[len("file://"):] for u in f.read().splitlines()]
    return _txlog_agg(spark.read.parquet(*files))


@_register(
    "txlog_pruned_read",
    """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT)       AS n_rows,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem
    WHERE l_orderkey BETWEEN 1 AND 1000
    GROUP BY l_returnflag
    """,
    headline=True,
)
def txlog_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats-in-log file skipping: lineitem lands range-clustered on
    l_orderkey with per-file min/max in the commit, and the range read
    resolves its file list from the log alone — files outside [1, 1000]
    never enter the plan (pruning asserted in tests/test_txlog.py; the
    oracle here proves the kept+filtered rows are exactly right)."""
    def build(path: str) -> None:
        l = _t(spark, sf_dir, "lineitem")
        arranged = l.repartitionByRange(8, "l_orderkey").sortWithinPartitions(
            "l_orderkey"
        )
        txlog.append(arranged, path, stats_cols=["l_orderkey"])

    path = _lakehouse_table("pruned", sf_dir, build)
    df = txlog.read_pruned(spark, path, "l_orderkey", lo=1, hi=1000)
    return aggregate(
        df,
        ["l_returnflag"],
        [
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        ],
    )


@_register(
    "txlog_point_read",
    """
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
    FROM orders
    WHERE o_orderkey = 1
    """,
)
def txlog_point_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter point lookup: orders lands in 4 hash-scattered file
    groups (every file's key RANGE covers every key — min/max can't skip)
    with a per-file Bloom on o_orderkey in the commit; read_point skips
    every file whose bloom excludes the key and the residual filter does
    the rest. Zero false-skip is the contract the oracle checks."""
    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders")
        for i in range(4):
            txlog.append(
                o.filter(F.pmod(F.col("o_orderkey"), F.lit(4)) == i).coalesce(2),
                path,
                bloom_cols=["o_orderkey"],
            )

    path = _lakehouse_table("bloom", sf_dir, build)
    df = txlog.read_point(spark, path, "o_orderkey", 1)
    return df.select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice")
    )


@_register(
    "txlog_merge_upsert",
    """
    SELECT rev, CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(o_totalprice), 2)   AS sum_price
    FROM (
      SELECT CASE WHEN o_orderkey <= (SELECT CAST(max(o_orderkey) AS BIGINT) // 4
                                      FROM orders)
                  THEN CAST(2 AS BIGINT) ELSE CAST(1 AS BIGINT) END AS rev,
             CASE WHEN o_orderkey <= (SELECT CAST(max(o_orderkey) AS BIGINT) // 4
                                      FROM orders)
                  THEN round(o_totalprice * 2, 2)
                  ELSE round(o_totalprice, 2) END AS o_totalprice
      FROM orders
    )
    GROUP BY rev
    """,
    headline=True,
)
def txlog_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clause-based FILE-PRUNED MERGE (txlog.merge_into via the
    latest-wins wrapper): the base table lands in four o_orderkey range
    bands with per-file stats, an updates batch re-prices only the first
    band's keys at rev=2, and the merged snapshot must hold exactly
    base-minus-touched ∪ updates (per-key max rev). The build ASSERTS the
    pruning contract: every file of the three untouched bands stays
    referenced byte-identical (same immutable paths before and after the
    merge) — a merge that still rewrites the whole snapshot fails the
    build, a merge that mis-prices any band fails the oracle hash."""
    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders")
        m = int(o.agg(F.max("o_orderkey")).collect()[0][0])
        cut = m // 4
        base = o.select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.lit(1).cast("long").alias("rev"),
        )
        bounds = [0, cut, 2 * cut, 3 * cut, m]
        for i in range(4):
            band = base.filter(
                (F.col("o_orderkey") > bounds[i])
                & (F.col("o_orderkey") <= bounds[i + 1])
            )
            txlog.append(band.coalesce(2), path, stats_cols=["o_orderkey"])
        pre = set(txlog.visible_files(path))
        upd = o.filter(F.col("o_orderkey") <= cut).select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 2, 2).alias("o_totalprice"),
            F.lit(2).cast("long").alias("rev"),
        )
        txlog.merge(spark, path, upd, keys=["o_orderkey"], order_col="rev")
        post = set(txlog.visible_files(path))
        untouched = pre & post
        if len(untouched) < len(pre) * 0.6:
            raise AssertionError(
                f"file-pruned MERGE rewrote {len(pre) - len(untouched)} of "
                f"{len(pre)} files; the three unmatched bands must stay "
                f"referenced byte-identical"
            )

    return aggregate(
        txlog.read(spark, _lakehouse_table("merge", sf_dir, build)),
        ["rev"],
        [
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        ],
    )


@_register(
    "txlog_merge_dv",
    """
    SELECT rev, CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(o_totalprice), 2)   AS sum_price
    FROM (
      SELECT CASE WHEN o_orderkey <= (SELECT CAST(max(o_orderkey) AS BIGINT) // 4
                                      FROM orders)
                  THEN CAST(2 AS BIGINT) ELSE CAST(1 AS BIGINT) END AS rev,
             CASE WHEN o_orderkey <= (SELECT CAST(max(o_orderkey) AS BIGINT) // 4
                                      FROM orders)
                  THEN round(o_totalprice * 2, 2)
                  ELSE round(o_totalprice, 2) END AS o_totalprice
      FROM orders
    )
    GROUP BY rev
    """,
    headline=True,
)
def txlog_merge_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETION-VECTOR-backed MERGE (txlog.merge_into use_dvs=True): the
    same banded re-price relation as ``txlog_merge_upsert``, but the
    matched UPDATE clause lands its pre-images as DV sidecar positions +
    appends ONLY the rewritten rows — merge cost ∝ touched ROWS, never
    touched FILES (Delta's merge-with-DVs MOR shape; a CDC merge hitting
    1 row in each of 1,000 files writes one sidecar + one file group
    instead of 1,000 rewrites). The build ASSERTS the MOR contract:
    EVERY pre-merge file (including the matched band's) stays referenced
    byte-identical, the sidecar landed, and the CDF delete+insert pair
    for a sampled key shares one stable row id. read_mor supplies the
    result; a wrong price, resurrected pre-image, or double-counted row
    hash-mismatches the oracle."""
    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders")
        m = int(o.agg(F.max("o_orderkey")).collect()[0][0])
        cut = m // 4
        base = o.select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.lit(1).cast("long").alias("rev"),
        )
        bounds = [0, cut, 2 * cut, 3 * cut, m]
        for i in range(4):
            band = base.filter(
                (F.col("o_orderkey") > bounds[i])
                & (F.col("o_orderkey") <= bounds[i + 1])
            )
            txlog.append(band.coalesce(2), path, stats_cols=["o_orderkey"])
        txlog.enable_row_tracking(path)
        pre = set(txlog.visible_files(path))
        upd = o.filter(F.col("o_orderkey") <= cut).select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 2, 2).alias("o_totalprice"),
            F.lit(2).cast("long").alias("rev"),
        )
        # when_not_matched=True: the banded build starts at key 1 (orders
        # keys are 0-based), so key 0 arrives via the INSERT leg — same
        # total relation as the oracle's full-table CASE
        v = txlog.merge_into(
            spark,
            path,
            upd,
            keys=["o_orderkey"],
            when_matched=[("update", "*")],
            when_not_matched=True,
            use_dvs=True,
        )
        post = set(txlog.visible_files(path))
        if not pre <= post:
            raise AssertionError(
                f"DV merge removed {len(pre - post)} data files; matched "
                f"files must stay referenced byte-identical (MOR contract)"
            )
        if not txlog.visible_dvs(path, v):
            raise AssertionError("DV merge landed no deletion-vector sidecar")
        ch = txlog.table_changes(spark, path, v - 1, v, include_row_ids=True)
        probe = ch.filter(F.col("o_orderkey") == 1).collect()
        ids = {r["_change_type"]: r["row_id"] for r in probe}
        if ids.get("delete") != ids.get("insert") or ids.get("delete") is None:
            raise AssertionError(
                f"CDF update pair must share one stable row id, got {ids}"
            )

    return aggregate(
        txlog.read_mor(spark, _lakehouse_table("merge_dv", sf_dir, build)),
        ["rev"],
        [
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        ],
    )


@_register(
    "txlog_merge_bysource",
    """
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(price), 2) AS sum_price
    FROM (
      SELECT o_orderstatus,
             CASE WHEN o_orderkey % 3 = 0 THEN round(o_totalprice, 2) * 2
                  ELSE round(o_totalprice, 2) END AS price
      FROM orders
      WHERE o_orderkey % 3 = 0 OR o_orderkey % 5 <> 0
    )
    GROUP BY o_orderstatus
    """,
)
def txlog_merge_bysource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """whenNotMatchedBySource (the full Delta MERGE clause surface) at
    the driver gate: one atomic merge re-prices the source-named rows
    (every 3rd order, matched UPDATE) AND ages out the unmatched rows
    every 5th key names (by-source conditioned DELETE) — the
    "this snapshot is the keep-list" shape. The oracle replays both
    clause families as a CASE + WHERE over the raw table, so a row
    wrongly aged (matched key deleted), wrongly kept, or double-priced
    hash-mismatches."""
    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderstatus",
            F.round("o_totalprice", 2).alias("o_totalprice"),
        )
        txlog.append(o, path)
        src = o.filter(F.pmod("o_orderkey", F.lit(3)) == 0).select(
            "o_orderkey",
            "o_orderstatus",
            (F.col("o_totalprice") * 2).alias("o_totalprice"),
        )
        txlog.merge_into(
            spark,
            path,
            src,
            ["o_orderkey"],
            when_matched=[("update", "*")],
            when_not_matched=False,
            when_not_matched_by_source=[("delete", "t.o_orderkey % 5 = 0")],
        )

    return aggregate(
        txlog.read(spark, _lakehouse_table("merge_bysource", sf_dir, build)),
        ["o_orderstatus"],
        [
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        ],
    )


@_register(
    "txlog_generated_col",
    """
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(count(*) AS BIGINT)       AS n_rows,
           round(sum(o_totalprice), 2)    AS sum_price
    FROM orders
    GROUP BY 1
    """,
)
def txlog_generated_col(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATED ALWAYS AS (the Delta generated-columns feature): half of
    orders lands WITH an explicit ``o_year = year(o_orderdate)`` column,
    the expression is declared (validating every existing row first —
    the stricter-than-Delta form), and the other half lands WITHOUT the
    column — the write path must COMPUTE it. The oracle recomputes the
    derivation over the raw table, so a missed computation (NULL years),
    a wrong expression, or a validation hole all hash-mismatch."""
    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderdate", "o_totalprice"
        )
        txlog.append(
            o.filter(F.pmod("o_orderkey", F.lit(2)) == 0).withColumn(
                "o_year", F.year("o_orderdate")
            ),
            path,
        )
        txlog.add_generated_column(
            path, "o_year", "year(o_orderdate)", "int", spark=spark
        )
        txlog.append(
            o.filter(F.pmod("o_orderkey", F.lit(2)) == 1), path
        )  # o_year omitted → computed by the write path

    return aggregate(
        txlog.read(spark, _lakehouse_table("generated_col", sf_dir, build)),
        ["o_year"],
        [
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        ],
    )


@_register(
    "txlog_identity_col",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           TRUE AS ids_unique,
           TRUE AS ids_in_step,
           TRUE AS batches_ordered
    FROM orders
    """,
)
def txlog_identity_col(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATED ALWAYS AS IDENTITY at the driver gate: two appends into
    an identity table (start=1000, step=3) auto-assign the surrogate key
    from the logged watermark. Values are engine-local (gaps by design —
    per-task allocation, the Delta contract), so the gate pins the
    INVARIANTS as booleans: all ids unique, every id on the declared
    (start, step) lattice, and the second batch's minimum above the
    first batch's maximum (the watermark advanced through the commit)."""
    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", F.pmod("o_orderkey", F.lit(2)).alias("batch")
        )
        txlog.add_identity_column(path, "order_sk", start=1000, step=3)
        txlog.append(o.filter("batch = 0"), path)
        txlog.append(o.filter("batch = 1"), path)

    df = txlog.read(spark, _lakehouse_table("identity_col", sf_dir, build))
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (F.countDistinct("order_sk") == F.count(F.lit(1))).alias("ids_unique"),
        F.min(
            (F.col("order_sk") >= 1000)
            & (F.pmod(F.col("order_sk") - 1000, F.lit(3)) == 0)
        ).alias("ids_in_step"),
        (
            F.max(F.when(F.col("batch") == 0, F.col("order_sk")))
            < F.min(F.when(F.col("batch") == 1, F.col("order_sk")))
        ).alias("batches_ordered"),
    )


@_register(
    "txlog_merge_rowids",
    """
    SELECT CAST((SELECT count(*) FROM orders)
              + (SELECT count(*) FROM orders WHERE o_orderkey % 9 = 0)
            AS BIGINT)  AS n_rows,
           TRUE         AS matched_ids_stable,
           TRUE         AS insert_ids_fresh
    """,
)
def txlog_merge_rowids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-id stability across a clause-based MERGE, driver-gated: enable
    row tracking on an orders-backed table, merge an updates batch that
    re-prices every 7th order AND inserts shifted-key copies of every 9th
    order; then time-travel join the pre-merge ids against the post-merge
    ids. Booleans pin the contract the old whole-snapshot merge could not
    honor: every pre-existing key (updated or pass-through) keeps its
    EXACT id, and every inserted key's id is fresh (≥ the backfill
    watermark = n_pre, never recycling a live id). A merge that re-keys,
    duplicates, or drops one id flips a boolean."""
    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice")
        )
        txlog.append(o, path)
        txlog.enable_row_tracking(path)  # v2: ids 0..n-1 backfilled
        upd = o.filter(F.pmod("o_orderkey", F.lit(7)) == 0).select(
            "o_orderkey", (F.col("o_totalprice") * 1.1).alias("o_totalprice")
        )
        mx = int(o.agg(F.max("o_orderkey")).collect()[0][0])
        ins = o.filter(F.pmod("o_orderkey", F.lit(9)) == 0).select(
            # mx+1: keys are 0-based, so a bare +mx would collide key 0's
            # shifted copy with the existing max key (matched, not insert)
            (F.col("o_orderkey") + F.lit(mx + 1)).alias("o_orderkey"),
            "o_totalprice",
        )
        txlog.merge_into(
            spark,
            path,
            upd.unionByName(ins),
            ["o_orderkey"],
            when_matched=[("update", "*",)],
            when_not_matched=True,
        )

    path = _lakehouse_table("merge_rowids", sf_dir, build)
    pre = txlog.read_with_row_ids(spark, path, version=2).select(
        "o_orderkey", F.col("row_id").alias("pre_id")
    )
    n_pre = pre.count()
    post = txlog.read_with_row_ids(spark, path)
    j = post.join(pre, "o_orderkey", "left")
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min(
            F.when(F.col("pre_id").isNotNull(), F.col("row_id") == F.col("pre_id"))
            .otherwise(F.lit(True))
        ).alias("matched_ids_stable"),
        (
            F.min(
                F.when(F.col("pre_id").isNull(), F.col("row_id") >= F.lit(n_pre))
                .otherwise(F.lit(True))
            )
            & (F.countDistinct("row_id") == F.count(F.lit(1)))
        ).alias("insert_ids_fresh"),
    )


@_register(
    "txlog_update",
    """
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(CASE WHEN o_orderstatus = 'O'
                          THEN o_totalprice * 1.1
                          ELSE o_totalprice END), 2) AS sum_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def txlog_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level UPDATE as one atomic copy-on-write commit: open orders get
    a 10% repricing; files with no open orders stay referenced
    byte-identical. The oracle applies the same SET as a CASE over the raw
    table, so a rewrite that touches non-matching rows (or misses matching
    ones) hash-mismatches. The SET is a bare IEEE multiply (no per-row
    round) so both engines produce bit-identical updated values."""
    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        txlog.append(o, path)
        txlog.update_where(
            spark,
            path,
            F.col("o_orderstatus") == "O",
            {"o_totalprice": F.col("o_totalprice") * 1.1},
        )

    return aggregate(
        txlog.read(spark, _lakehouse_table("update", sf_dir, build)),
        ["o_orderstatus"],
        [
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        ],
    )


@_register("txlog_restore", _TXLOG_AGG_SQL.format(where=""))
def txlog_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TO VERSION as a new visibility-only commit: append the full
    table, DELETE a band, then roll back to the pre-delete version — the
    restored snapshot must equal the raw table exactly (no rewrite; stats
    carried forward from the target version's resolution)."""
    def build(path: str) -> None:
        l = _t(spark, sf_dir, "lineitem")
        txlog.append(l, path, stats_cols=["l_quantity"])
        txlog.delete_where(
            spark, path, F.col("l_quantity") < 5, prune_col="l_quantity", hi=5
        )
        txlog.restore(path, 1)

    return _txlog_agg(txlog.read(spark, _lakehouse_table("restore", sf_dir, build)))


@_register(
    "events_partition_pruned",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    WHERE CAST(ts AS DATE) = (SELECT min(CAST(ts AS DATE)) FROM events)
    GROUP BY event_type
    """,
)
def events_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned lake layout with PHYSICAL partition pruning: events
    land once as ``partitionBy(event_date)`` parquet (the standard
    date-partitioned fact layout), and a single-day query prunes to that
    day's directory. The day bound is a SCALAR SUBQUERY (min event date
    over partition metadata), not a collected literal, so the whole query
    is ONE lazy plan — no job runs before the plan exists — and the scan's
    `PartitionFilters` carries ``event_date = Subquery ...``: Spark
    evaluates the subquery at execution start and lists only the matching
    day directory (asserted in tests/test_plans.py). The oracle filters
    the raw table by the same derived date."""
    def build(path: str) -> None:
        e = _t(spark, sf_dir, "events")
        e.withColumn("event_date", F.to_date("ts")).write.partitionBy(
            "event_date"
        ).parquet(path)

    part = spark.read.parquet(_lakehouse_table("events_part", sf_dir, build))
    view = f"events_part_{abs(hash(sf_dir)) % 10**8}"
    part.createOrReplaceTempView(view)
    return spark.sql(
        f"""
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 2) AS sum_value
        FROM {view}
        WHERE event_date = (SELECT min(event_date) FROM {view})
        GROUP BY event_type
        """
    )


@_register(
    "incremental_mv",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT)       AS n,
           round(sum(l_quantity), 2)      AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem
    WHERE NOT (l_quantity < 5)
    GROUP BY l_returnflag, l_linestatus
    """,
)
def incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained aggregate vs full-recompute oracle: refresh
    after the first half, then append the second half AND delete a band,
    then refresh again — the second refresh folds only the change feed
    (signed deltas), never rescanning the first half. The oracle is the
    full aggregate over the final state, so any drift in the delta fold
    (double-count, missed delete, wrong sign) hash-mismatches."""
    from datalake_brief_spark.operators import incremental

    import os as _os

    keys = ["l_returnflag", "l_linestatus"]
    sums = ["l_quantity", "l_extendedprice"]

    def build(root: str) -> None:
        src, mv = _os.path.join(root, "src"), _os.path.join(root, "mv")
        l = _t(spark, sf_dir, "lineitem").select(*keys, *sums, "l_orderkey")
        half = F.pmod(F.col("l_orderkey"), F.lit(2))
        txlog.append(l.filter(half == 0).drop("l_orderkey"), src)
        incremental.refresh(spark, src, mv, keys=keys, sum_cols=sums)
        txlog.append(l.filter(half == 1).drop("l_orderkey"), src)
        txlog.delete_where(spark, src, F.col("l_quantity") < 5)
        incremental.refresh(spark, src, mv, keys=keys, sum_cols=sums)

    root = _lakehouse_table("mv", sf_dir, build)
    state = txlog.read(spark, _os.path.join(root, "mv"))
    return state.select(
        *keys,
        F.col("__mv_count").alias("n"),
        F.round("l_quantity", 2).alias("sum_qty"),
        F.round("l_extendedprice", 2).alias("sum_price"),
    )


@_register(
    "streaming_merge_replay",
    """
    SELECT user_id, event_type AS last_event_type, round(value, 6) AS last_value
    FROM (
      SELECT user_id, event_type, value,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY printf('%020d%020d', epoch_us(ts), event_id) DESC
             ) AS rn
      FROM events
    )
    WHERE rn = 1
    """,
)
def streaming_merge_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-mode replay of the streaming MERGE sink (streaming/sinks.py
    apply_merge_batch — the exact foreachBatch body the live sink runs):
    the event log splits into 3 micro-batches, each applied as one atomic
    latest-wins commit keyed on user_id, then one batch REPLAYS (at-least-
    once delivery) — idempotent merge must leave content unchanged. The
    oracle is the per-user argmax over the whole log, so the final table
    equals it regardless of batch order or replay."""
    from datalake_brief_spark.streaming.sinks import apply_merge_batch

    def build(path: str) -> None:
        e = _t(spark, sf_dir, "events").select(
            "user_id",
            "event_type",
            "value",
            # total order per event: fixed-width (micros, event_id) string —
            # deterministic latest-wins even on timestamp ties
            F.format_string(
                "%020d%020d", F.unix_micros("ts"), F.col("event_id")
            ).alias("ord"),
            "event_id",
        )
        batches = [
            e.filter(F.pmod(F.col("event_id"), F.lit(3)) == i).drop("event_id")
            for i in range(3)
        ]
        for b in batches:
            apply_merge_batch(b, path, keys=["user_id"], order_col="ord")
        apply_merge_batch(batches[1], path, keys=["user_id"], order_col="ord")

    return txlog.read(spark, _lakehouse_table("streamrep", sf_dir, build)).select(
        "user_id",
        F.col("event_type").alias("last_event_type"),
        F.round("value", 6).alias("last_value"),
    )


@_register(
    "emb_near_dup_srp45",
    """
    WITH n AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))), 6) AS score
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(b.v, b.v))) >= 0.45
    """,
)
def emb_near_dup_srp45(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-bucketed near-dup pairs at the threshold where TESTDATA has real
    pairs (θ=0.45; emb_near_dup keeps the production θ=0.9, empty on this
    corpus by the data's truth). Non-vacuous driver evidence: precision is
    exact (pairs verify with true cosine), and the table count is sized so
    candidate recall ≈1−(1−p⁴)⁶⁴ with p=1−θ_angle/π≈0.65 → miss ≈ 4·10⁻⁶
    per pair — the SAME exact-SQL oracle as emb_near_dup_exact must match
    outright."""
    return similarity.embedding_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"),
        threshold=0.45,
        dim=64,
        num_planes=4,
        num_tables=64,
    )


# --------------------------------------------------------------------------
# Round-4 additions: Gopher-rule filtering, mixture composition/budgeted
# sampling (the remaining standard pre-training curation surface), and the
# replaceWhere backfill primitive on the txlog table.
# --------------------------------------------------------------------------


@_register(
    "text_gopher_rules",
    headline=True,
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, {_TOKS} AS toks FROM documents
    ), s AS (
      SELECT doc_id,
             CAST(len(toks) AS DOUBLE) AS n,
             round(list_sum(list_transform(toks, x -> CAST(length(x) AS DOUBLE)))
                   / greatest(CAST(len(toks) AS DOUBLE), 1.0), 6) AS mean_word_len,
             round(CAST(len(regexp_extract_all(text, '#'))
                        + len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE)
                   / greatest(CAST(len(toks) AS DOUBLE), 1.0), 6) AS symbol_ratio,
             round(CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
                   / greatest(CAST(len(toks) AS DOUBLE), 1.0), 6) AS alpha_word_ratio,
             CAST(len(list_intersect(list_distinct(toks),
                  ['the','be','to','of','and','that','have','with'])) AS BIGINT)
               AS n_stop_distinct
      FROM t
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_words, mean_word_len, symbol_ratio,
           alpha_word_ratio, n_stop_distinct,
           (n BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
           AND symbol_ratio < 0.1 AND alpha_word_ratio > 0.8
           AND n_stop_distinct >= 2 AS passes
    FROM s
    """,
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher §A1.1 quality-rule suite per document (word count, mean word
    length, symbol ratio, alphabetic-word fraction, required stopwords) +
    composite pass flag — per-row expressions; the raw projection is
    spread first (r13, guide §2.6 — scale no-op) so the rule suite runs
    on every core instead of serially in a single-split scan task."""
    return text.gopher_rules(
        spread_scan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    )


@_register(
    "text_c4_rules",
    f"""
    WITH t AS (
      SELECT doc_id, lower(text) AS low, {_TOKS} AS toks FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(low, '[.!?]')) AS BIGINT) AS n_sentences,
           regexp_matches(low, '[.!?]["'']?\\s*$') AS ends_terminal,
           contains(low, 'lorem ipsum') AS has_lorem,
           contains(low, '{{') AS has_brace,
           regexp_matches(low, '\\bjavascript\\b') AS has_javascript,
           CAST(len(list_filter(toks, x -> x IN ('casino', 'viagra', 'xxx')))
                AS BIGINT) AS bad_word_hits,
           (len(regexp_extract_all(low, '[.!?]')) >= 3)
             AND NOT contains(low, 'lorem ipsum')
             AND NOT contains(low, '{{')
             AND NOT regexp_matches(low, '\\bjavascript\\b')
             AND len(list_filter(toks, x -> x IN ('casino', 'viagra', 'xxx'))) = 0
             AS passes
    FROM t
    """,
)
def text_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning heuristics per document (Raffel et al. 2020 §2.2:
    sentence count, terminal punctuation, lorem-ipsum/brace/javascript
    residue, blocklist hits) + composite pass flag — the second standard
    filter suite alongside Gopher; per-row expressions over a spread
    raw projection (r13, guide §2.6 — scale no-op)."""
    return text.c4_rules(
        spread_scan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    )


@_register(
    "corpus_seeded_shuffle",
    """
    SELECT doc_id,
           CAST(row_number() OVER (
             ORDER BY md5('7|' || CAST(doc_id AS VARCHAR)), doc_id
           ) AS BIGINT) AS shuffle_rank
    FROM documents
    """,
    headline=True,
)
def corpus_seeded_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch reshuffle (text.seeded_shuffle): global rank by
    md5(seed|id) — reproducible across engines (the oracle derives the
    IDENTICAL permutation), different per seed, executed as a distributed
    two-phase rank (md5-prefix bins → parallel local ranks behind one
    hash shuffle → broadcast bin offsets; plan-asserted: no data-scale
    SinglePartition exchange). The permutation every pre-training data
    loader needs between epochs."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    return text.seeded_shuffle(d, seed=7)


@_register(
    "corpus_shard_assignment",
    """
    SELECT CAST(CAST(concat('0x', substring(md5('0|' || CAST(doc_id AS VARCHAR)), 1, 8))
                AS BIGINT) % 8 AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY 1
    """,
)
def corpus_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic output-shard assignment (text.shard_assignment):
    shard = md5(seed|id) prefix mod n — stable across runs and engines,
    uniform in expectation (the per-shard counts the query returns ARE the
    balance check), scan-stage. The write side then repartitions by shard
    and lands one file set per shard."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    return text.shard_assignment(d, n_shards=8, seed=0).groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


@_register(
    "source_mix_stats",
    f"""
    WITH s AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ), tot AS (
      SELECT CAST(sum(n_tokens) AS DOUBLE) AS tot,
             CAST(count(*) AS DOUBLE) AS n_src
      FROM s
    )
    SELECT source, n_docs, n_tokens,
           round(n_tokens / tot, 6)             AS token_share,
           round(tot / (n_src * n_tokens), 6)   AS mix_weight
    FROM s, tot
    """,
)
def source_mix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix composition: per-source doc/token counts, the source's
    share of corpus tokens, and the up/down-weighting factor that equalizes
    the mix (uniform target: weight = (1/n_sources)/share). One keyed
    aggregation with map-side combine + a broadcast of the 1-row totals."""
    d = _t(spark, sf_dir, "documents")
    from datalake_brief_spark.functions import token_count

    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(token_count("text")).cast("long").alias("n_tokens"),
    )
    totals = per_src.select(
        F.sum("n_tokens").cast("double").alias("tot"),
        F.count(F.lit(1)).cast("double").alias("n_src"),
    )
    return (
        per_src.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("tot"), 6).alias("token_share"),
            F.round(
                F.col("tot") / (F.col("n_src") * F.col("n_tokens")), 6
            ).alias("mix_weight"),
        )
    )


@_register(
    "sample_token_budget",
    f"""
    WITH d AS (
      SELECT source, doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
             (doc_id * 2654435761) % 4294967296 AS h
      FROM documents
    )
    SELECT source, doc_id, n_tokens,
           CAST(sum(n_tokens) OVER (
             PARTITION BY source ORDER BY h, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_tokens
    FROM d
    QUALIFY cum_tokens <= 500
    """,
)
def sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture sampling: per source, documents in Knuth-hash
    order until 500 cumulative tokens — caps each source's contribution to
    a training mix, reproducibly across runs AND engines (the oracle
    replays the same hash). Budget sized so the cutoff FIRES at the
    driver's sf0.01 gate (~700 tokens/source there): a boundary that never
    triggers would be vacuous evidence. One window aggregation per
    stratum."""
    return text.budget_sample(
        _t(spark, sf_dir, "documents"), budget=500, group_col="source"
    ).withColumn("cum_tokens", F.col("cum_tokens").cast("long"))


@_register(
    "ml_normalize_minmax",
    """
    SELECT l_orderkey, l_linenumber,
           round((l_extendedprice
                  - min(l_extendedprice) OVER (PARTITION BY l_returnflag))
                 / (max(l_extendedprice) OVER (PARTITION BY l_returnflag)
                    - min(l_extendedprice) OVER (PARTITION BY l_returnflag)),
                 6) AS l_extendedprice_norm,
           round((l_quantity
                  - min(l_quantity) OVER (PARTITION BY l_returnflag))
                 / (max(l_quantity) OVER (PARTITION BY l_returnflag)
                    - min(l_quantity) OVER (PARTITION BY l_returnflag)),
                 6) AS l_quantity_norm
    FROM lineitem
    """,
)
def ml_normalize_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group min-max feature normalization (MinMaxScaler semantics,
    but grouped — per return-flag [0,1] scaling) as pure plan
    expressions: one keyed aggregate broadcast back, transform in the
    scan stage. Min-max is the hash-gateable normalizer: min/max involve
    no accumulation, so the statistic is bit-identical across engines
    (z-score's mean/stddev sums are order-sensitive at the last ulp —
    that variant is pinned against ml.feature.StandardScaler in pytest
    instead). The oracle replays the same arithmetic with window
    functions."""
    from datalake_brief_spark import mlops

    li = _t(spark, sf_dir, "lineitem")
    out = mlops.normalize_features(
        li.select("l_orderkey", "l_linenumber", "l_returnflag",
                  "l_extendedprice", "l_quantity"),
        ["l_extendedprice", "l_quantity"],
        method="minmax",
        group_col="l_returnflag",
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice_norm", 6).alias("l_extendedprice_norm"),
        F.round("l_quantity_norm", 6).alias("l_quantity_norm"),
    )


@_register(
    "dq_mad_outliers",
    """
    WITH m AS (
      SELECT o_orderpriority, median(o_totalprice) AS med
      FROM orders GROUP BY o_orderpriority
    ), a AS (
      SELECT o.o_orderpriority, any_value(m.med) AS med,
             median(abs(o.o_totalprice - m.med)) AS mad
      FROM orders o JOIN m USING (o_orderpriority)
      GROUP BY o.o_orderpriority
    )
    SELECT o.o_orderpriority,
           CAST(count(o.o_totalprice) AS BIGINT) AS n,
           round(any_value(a.med), 6) AS med,
           round(any_value(a.mad), 6) AS mad,
           CAST(count(*) FILTER (
             abs(o.o_totalprice - a.med) > 3.0 * 1.4826 * a.mad
           ) AS BIGINT) AS n_outliers
    FROM orders o JOIN a USING (o_orderpriority)
    GROUP BY o.o_orderpriority
    """,
)
def dq_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier profiling (Hampel k=3 on scaled MAD) of order
    totals per priority class: median/MAD per group and the count beyond
    3 scaled MADs — the breakdown-resistant alternative to mean/stddev
    z-scores for curation and monitoring. Two exact-percentile aggs with
    broadcast scalar joins between; oracle recomputes median/mad/flags
    natively in DuckDB."""
    from datalake_brief_spark.operators import relational

    return relational.mad_outliers(
        _t(spark, sf_dir, "orders"), "o_totalprice", "o_orderpriority", k=3.0
    )


@_register(
    "dq_ks_drift",
    """
    WITH e AS (
      SELECT min(CAST(o_totalprice AS DOUBLE)) AS mn,
             max(CAST(o_totalprice AS DOUBLE)) AS mx
      FROM orders WHERE o_orderstatus = 'F'
    ),
    rb AS (
      SELECT CAST(least(greatest(floor(
               (CAST(o_totalprice AS DOUBLE) - e.mn) * 1000 / (e.mx - e.mn)
             ), 0), 999) AS BIGINT) AS bucket,
             CAST(count(*) AS DOUBLE) AS n_ref
      FROM orders, e WHERE o_orderstatus = 'F' GROUP BY 1
    ),
    cb AS (
      SELECT CAST(least(greatest(floor(
               (CAST(o_totalprice AS DOUBLE) - e.mn) * 1000 / (e.mx - e.mn)
             ), 0), 999) AS BIGINT) AS bucket,
             CAST(count(*) AS DOUBLE) AS n_cur
      FROM orders, e WHERE o_orderstatus = 'O' GROUP BY 1
    ),
    g AS (
      SELECT coalesce(rb.bucket, cb.bucket) AS bucket,
             coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
      FROM rb FULL OUTER JOIN cb ON rb.bucket = cb.bucket
    ),
    c AS (
      SELECT bucket,
             sum(n_ref) OVER (ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               / sum(n_ref) OVER () AS fr,
             sum(n_cur) OVER (ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               / sum(n_cur) OVER () AS fc
      FROM g
    )
    SELECT 'o_totalprice' AS column, round(max(abs(fr - fc)), 6) AS ks
    FROM c
    """,
)
def dq_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS drift between finished and open orders' totals on a
    1000-edge grid anchored to the reference side — the worst-single-
    point divergence companion to profile_drift's PSI aggregate. The
    oracle rebuilds the identical grid, ECDFs, and max-gap in SQL, so
    any binning/clamping/cumsum defect hash-mismatches."""
    from datalake_brief_spark.operators import relational

    o = _t(spark, sf_dir, "orders")
    return relational.ks_drift(
        o.filter(F.col("o_orderstatus") == "F").select("o_totalprice"),
        o.filter(F.col("o_orderstatus") == "O").select("o_totalprice"),
        ["o_totalprice"],
        n_bins=1000,
    )


@_register(
    "temperature_mix",
    """
    WITH n AS (
      SELECT source, CAST(count(*) AS DOUBLE) AS n FROM documents GROUP BY source
    ), w AS (
      SELECT source, n, sqrt(n) AS w FROM n
    ), t AS (
      SELECT sum(w) AS tw FROM w
    ), b AS (
      SELECT source,
             CAST(least(n, CAST(floor(300 * w / tw) AS DOUBLE)) AS BIGINT)
               AS budget
      FROM w, t
    ), r AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS rnk
      FROM documents
    )
    SELECT r.doc_id, r.source
    FROM r JOIN b USING (source) WHERE rnk <= budget
    """,
)
def temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (tau=0.5, the mT5/XLM-R recipe
    shape): 300 docs budgeted across sources proportional to sqrt(n_g) —
    small sources up-weighted relative to natural proportions, none
    dominating. The oracle replays the whole pipeline (sqrt weights,
    floor budgets, Knuth-hash per-stratum order), so the gate pins the
    EXACT selected set, not just counts; sqrt is IEEE-correctly-rounded,
    making the budget floors engine-identical. One stratum count + one
    broadcast budget join + one window rank — the scale shape is
    budget_sample's."""
    return text.temperature_resample(
        _t(spark, sf_dir, "documents").select("doc_id", "source"),
        total_budget=300,
        tau=0.5,
        group_col="source",
    ).select("doc_id", "source")


@_register(
    "txlog_fast_count",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem
    WHERE NOT (l_quantity < 5)
    """,
)
def txlog_fast_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only COUNT(*): after append + append + DELETE + OPTIMIZE,
    fast_count sums the per-file row counts from the log resolution — zero
    data scanned (the Spark side of this query runs NO job at all; the one
    row is built from the log's integer). The oracle recomputes the same
    count by scanning, so a commit that loses or double-counts rows
    anywhere in the lifecycle mismatches here."""
    n = txlog.fast_count(_snapshot_table(spark, sf_dir))
    return spark.createDataFrame([(n,)], "n_rows long")


@_register(
    "txlog_history",
    """
    SELECT CAST(version AS BIGINT) AS version, op
    FROM (VALUES (4, 'optimize'), (3, 'delete'), (2, 'append'), (1, 'append'))
      AS t(version, op)
    """,
)
def txlog_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY at the driver gate: the shared snapshot table's
    commit log must read back as exactly the four lifecycle operations in
    version order, newest first — append, append, row-level DELETE,
    OPTIMIZE — straight from the per-commit meta (O(versions), no data
    pages touched; the Spark side runs no job). File counts are
    deliberately projected out: they are an execution detail that varies
    with scan parallelism, while the (version, op) ledger is the durable
    audit contract."""
    h = txlog.history(_snapshot_table(spark, sf_dir))
    return spark.createDataFrame(
        [(int(d["version"]), d["op"]) for d in h], "version long, op string"
    )


@_register(
    "txlog_detail",
    """
    SELECT CAST(4 AS BIGINT)         AS version,
           CAST(count(*) AS BIGINT)  AS n_rows,
           TRUE                      AS qty_stats
    FROM lineitem WHERE NOT (l_quantity < 5)
    """,
)
def txlog_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE DETAIL at the driver gate: current version, metadata-exact
    row count, and whether the live files still carry the l_quantity
    skipping stats after the full append→DELETE→OPTIMIZE lifecycle (a
    compaction that dropped the stats channel would silently disable
    pruning on every later read — that regression hash-mismatches here).
    The oracle recomputes the surviving-row count by scanning, so a
    lifecycle that loses or double-counts rows also lands here."""
    d = txlog.describe_detail(_snapshot_table(spark, sf_dir))
    return spark.createDataFrame(
        [(int(d["version"]), int(d["num_rows"]), "l_quantity" in d["stats_cols"])],
        "version long, n_rows long, qty_stats boolean",
    )


@_register(
    "txlog_vacuum_read",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(c_acctbal), 2) AS sum_bal,
           TRUE                     AS vacuum_reclaimed,
           TRUE                     AS old_read_fails,
           CAST(3 AS BIGINT)        AS earliest_readable
    FROM customer
    """,
)
def txlog_vacuum_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM at the driver gate: customer lands as two appends + an
    OPTIMIZE rewrite, then ``vacuum(retain_versions=1)`` reclaims the
    pre-compaction files (the 3-commit table has no checkpoint, so the
    reader-race retention floor is 1 and an explicit vacuum is the
    operator's call). The gate pins all three sides of the contract:
    the CURRENT snapshot still reads complete (count + balance sum vs the
    scanning oracle — a vacuum that deleted a live file mismatches here),
    the vacuumed v1 files are verifiably gone from disk, and a read pinned
    at v1 fails deterministically with the vacuumed-data error naming
    version 3 as the earliest readable — never a partial result."""
    import os as _os

    def build(path: str) -> None:
        c = _t(spark, sf_dir, "customer")
        half = F.pmod(F.col("c_custkey"), F.lit(2))
        txlog.append(c.filter(half == 0), path, stats_cols=["c_acctbal"])
        txlog.append(c.filter(half == 1), path, stats_cols=["c_acctbal"])
        txlog.optimize(spark, path, target_file_bytes=1 << 30)
        txlog.vacuum(path, retain_versions=1)

    path = _lakehouse_table("vacuumed", sf_dir, build)
    reclaimed = any(
        not _os.path.exists(f) for f in txlog.visible_files(path, 1)
    )
    try:
        txlog.read(spark, path, version=1)
        old_fails, earliest = False, -1
    except FileNotFoundError as e:
        old_fails = "vacuumed" in str(e)
        earliest = txlog.earliest_readable_version(path)
    return aggregate(
        txlog.read(spark, path),
        [],
        [
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
        ],
    ).select(
        "n_rows",
        "sum_bal",
        F.lit(reclaimed).alias("vacuum_reclaimed"),
        F.lit(old_fails).alias("old_read_fails"),
        F.lit(earliest).cast("long").alias("earliest_readable"),
    )


@_register(
    "txlog_optimize_advisor",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           TRUE                     AS was_fragmented,
           FALSE                    AS needs_optimize_after,
           TRUE                     AS compacted_to_one
    FROM customer
    """,
)
def txlog_optimize_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compaction advisor at the driver gate: customer lands as 12
    deliberately-undersized files (the shape sustained micro-batch
    ingestion produces), which v1's file list must show at or above the
    advisor's min_small_files trip point; after OPTIMIZE the metadata-only
    advisor must stand down (recommended=False, one live file). The row
    count reads through the compacted snapshot against a scanning oracle,
    so a compaction that drops or duplicates rows also lands here. The
    advisor itself is O(n_files) stat calls — at 100 TB it's the cheap
    scheduled check that decides when the expensive rewrite pays."""
    def build(path: str) -> None:
        c = _t(spark, sf_dir, "customer").repartition(12)
        txlog.append(c, path, stats_cols=["c_acctbal"])
        txlog.optimize(spark, path, target_file_bytes=1 << 30)

    path = _lakehouse_table("fragmented", sf_dir, build)
    was_fragmented = len(txlog.visible_files(path, 1)) >= 8
    after = txlog.needs_optimize(path)
    return aggregate(
        txlog.read(spark, path), [], [F.count(F.lit(1)).alias("n_rows")]
    ).select(
        "n_rows",
        F.lit(was_fragmented).alias("was_fragmented"),
        F.lit(bool(after["recommended"])).alias("needs_optimize_after"),
        F.lit(after["n_files"] == 1).alias("compacted_to_one"),
    )


@_register(
    "txlog_zorder_pruned",
    """
    SELECT CAST(count(*) AS BIGINT)       AS n_rows,
           round(sum(l_extendedprice), 2) AS sum_price,
           TRUE                           AS pruned
    FROM lineitem WHERE l_quantity <= 10 AND l_extendedprice <= 20000
    """,
)
def txlog_zorder_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER at the driver gate: lineitem lands unclustered,
    ``optimize_zorder`` rewrites the snapshot range-partitioned on the
    Morton interleave of (l_quantity, l_extendedprice), and a
    two-dimension range read must (a) return exactly the scanning oracle's
    rows — clustering is execution-only — and (b) verifiably skip files:
    the plan's input files are a strict subset of the snapshot, asserted
    from the log-resolved lists, no data pages touched. Single-column
    sorting can only prune one of these dimensions; the interleave keeps
    BOTH per-file ranges narrow — at 100 TB this is the difference between
    scanning a selectivity-proportional slice and scanning everything for
    any predicate off the sort key.

    Round 11: the build re-clusters through the SCOPED ``OPTIMIZE ZORDER
    ... WHERE`` path (txlog.optimize_zorder prune_col — VERDICT r10 ask
    #5): lineitem lands in two l_quantity bands, each band is Morton-
    rewritten by its own scoped call, and the build ASSERTS the first
    call left the out-of-band files byte-identical — the re-cluster-one-
    hot-band-of-100 TB contract — before the second call clusters the
    rest. Result and oracle are unchanged: scoping is execution-only.

    Round 13 (VERDICT r12 ask #4): the hot band's re-cluster now runs
    PROPERTY-DRIVEN through ``maintain()`` — the l_quantity<=25 band
    lands as four overlapping unclustered appends (the CDC-tail decay
    shape), ``clustering.columns``/``clustering.auto`` TBLPROPERTIES are
    set, and maintain()'s ``clustering_decay`` advisor (per-file stats
    overlap fraction, metadata-only) detects the decayed band and runs
    the scoped ZORDER itself; the build asserts the advisor fired, the
    cold band stayed byte-identical, and a second maintain() is a
    no-op."""
    def build(path: str) -> None:
        import os as _os

        l = _t(spark, sf_dir, "lineitem")
        hot = l.filter(F.col("l_quantity") <= 25)
        for i in range(4):
            # four overlapping hot-band appends: each spans the band's
            # full (quantity, price) envelope — the unclustered CDC tail
            txlog.append(
                hot.filter(F.pmod(F.col("l_orderkey"), F.lit(4)) == i), path,
                stats_cols=["l_quantity", "l_extendedprice"],
            )
        txlog.append(
            l.filter(F.col("l_quantity") > 25), path,
            stats_cols=["l_quantity", "l_extendedprice"],
        )
        txlog.set_table_properties(
            path,
            {
                "clustering.columns": "l_quantity,l_extendedprice",
                "clustering.auto": "true",
                "clustering.minFiles": "4",
                "clustering.nFiles": "4",
            },
        )
        decay = txlog.clustering_decay(path)
        if not decay["recommended"]:
            raise AssertionError(
                f"unclustered hot-band appends must trip the decay "
                f"advisor, got {decay}"
            )
        pre = {p: _os.path.getmtime(p) for p in txlog.visible_files(path)}
        report = txlog.maintain(spark, path)
        if report["reclustered_to"] is None:
            raise AssertionError("maintain() skipped the advised re-cluster")
        post = txlog.visible_files(path)
        untouched = [p for p in post if p in pre]
        if not untouched or any(
            _os.path.getmtime(p) != pre[p] for p in untouched
        ):
            raise AssertionError(
                "property-driven scoped ZORDER rewrote out-of-band files; "
                "the decayed band must leave cold history byte-identical"
            )
        if txlog.maintain(spark, path)["reclustered_to"] is not None:
            raise AssertionError(
                "second maintain() re-clustered a just-clustered band"
            )
        txlog.optimize_zorder(
            spark, path, ["l_quantity", "l_extendedprice"], n_files=4,
            prune_col="l_quantity", lo=26,
        )

    path = _lakehouse_table("zordered", sf_dir, build)
    df = txlog.read_pruned_multi(
        spark, path,
        {"l_quantity": (None, 10), "l_extendedprice": (None, 20000)},
    )
    n_total = len(txlog.visible_files(path))
    n_scanned = len(df.inputFiles())
    return aggregate(
        df,
        [],
        [
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        ],
    ).select(
        "n_rows", "sum_price", F.lit(n_scanned < n_total).alias("pruned")
    )


@_register(
    "txlog_constraint_gate",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_bal,
           round(sum(CASE WHEN c_acctbal >= 0 THEN c_acctbal END), 2)
             AS sum_bal,
           TRUE AS write_rejected,
           TRUE AS rejection_atomic
    FROM customer
    """,
)
def txlog_constraint_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE ADD CONSTRAINT CHECK at the driver gate, pinning both
    halves of SQL CHECK semantics. The table lands with the non-negative
    customer balances, gains ``CHECK (c_acctbal >= 0)``, then (a) a batch
    of NULL-balance rows MUST commit — NULL passes a CHECK in every SQL
    engine — and (b) a batch with genuinely negative balances MUST be
    rejected at the door with the constraint named, leaving the version
    untouched (atomic rejection: no partial commit, re-attempted on every
    entry invocation). The surviving relation is recomputed by the oracle
    from raw customer, so enforcement that silently drops or lets through
    rows hash-mismatches."""
    def build(path: str) -> None:
        c = _t(spark, sf_dir, "customer")
        txlog.append(c.filter(F.col("c_acctbal") >= 0), path)
        txlog.add_constraint(spark, path, "bal_nonneg", "c_acctbal >= 0")
        nulled = c.filter(F.col("c_acctbal") < 0).withColumn(
            "c_acctbal", F.lit(None).cast("double")
        )
        txlog.append(nulled, path)

    path = _lakehouse_table("constrained", sf_dir, build)
    v_before = txlog.current_version(path)
    try:
        txlog.append(
            _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") < 0), path
        )
        rejected = False
    except ValueError as e:
        rejected = "CHECK constraint" in str(e) and "bal_nonneg" in str(e)
    atomic = txlog.current_version(path) == v_before
    return aggregate(
        txlog.read(spark, path),
        [],
        [
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("c_acctbal").isNull().cast("long")).alias("n_null_bal"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
        ],
    ).select(
        "n_rows",
        "n_null_bal",
        "sum_bal",
        F.lit(rejected).alias("write_rejected"),
        F.lit(atomic).alias("rejection_atomic"),
    )


@_register(
    "txlog_drop_feature",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(CASE WHEN o_orderkey % 100 = 57 THEN -1.0
                          ELSE o_totalprice END), 2) AS sum_price,
           TRUE AS declared_below_drop,
           TRUE AS dropped_by_downgrade,
           TRUE AS downgrade_metadata_only,
           TRUE AS redeclared_at_tip
    FROM orders WHERE o_orderkey % 10 <> 3
    """,
)
def txlog_drop_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE DROP FEATURE — the protocol ladder DOWN, full
    round-trip at the driver gate. A DV delete declares the
    ``deletion-vectors`` reader feature; ``reorg_purge`` materializes the
    sidecars (the verified-non-use precondition); ``drop_feature`` lands
    a METADATA-ONLY downgrade commit (zero files move — old engine
    builds can read the tip again); a later DV update then re-declares
    the feature automatically (the ladder works both ways, pinned by the
    ``redeclared_at_tip`` gate). The protocol stays version-resolved:
    below the drop it still demands the feature. The surviving relation
    (band-3 keys DV-deleted, then re-priced keys ending in 57) is
    recomputed by the oracle from raw orders, so a drop that silently
    resurrected DV-deleted rows — THE failure mode of a downgrade that
    lied about non-use — hash-mismatches. pytest covers the per-feature
    refusal matrix (live DVs / narrow files / non-identity mapping /
    expired history) and the racing-mutation conflict
    (tests/test_round13.py TestDropFeature)."""
    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        # r13: land the table multi-file (guide §6 — the single-split
        # source would otherwise become ONE data file and every MOR read
        # of it a serial scan; 8 files ≈ parallel read at bench scale,
        # 0.36 s → 0.27 s measured, and real tables are multi-file anyway)
        txlog.append(o.repartition(8), path)
        txlog.delete_where_dv(spark, path, F.col("o_orderkey") % 10 == 3)
        txlog.reorg_purge(spark, path)
        txlog.drop_feature(path, "deletion-vectors")
        txlog.update_where_dv(
            spark,
            path,
            F.col("o_orderkey") % 100 == 57,
            {"o_totalprice": F.lit(-1.0)},
        )

    path = _lakehouse_table("drop_feature", sf_dir, build)
    hist = {h["op"]: h for h in txlog.history(path)}
    v_drop = hist["drop_feature"]["version"]
    feats_below = txlog.table_protocol(path, v_drop - 1).get(
        "reader_features", []
    )
    feats_at_drop = txlog.table_protocol(path, v_drop).get(
        "reader_features", []
    )
    feats_tip = txlog.table_protocol(path).get("reader_features", [])
    meta_only = (
        hist["drop_feature"]["n_added"] == 0
        and hist["drop_feature"]["n_removed"] == 0
    )
    return aggregate(
        txlog.read_mor(spark, path),
        [],
        [
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        ],
    ).select(
        "n_rows",
        "sum_price",
        F.lit("deletion-vectors" in feats_below).alias("declared_below_drop"),
        F.lit("deletion-vectors" not in feats_at_drop).alias(
            "dropped_by_downgrade"
        ),
        F.lit(meta_only).alias("downgrade_metadata_only"),
        F.lit("deletion-vectors" in feats_tip).alias("redeclared_at_tip"),
    )


@_register(
    "txlog_default_column",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(o_totalprice), 2) AS sum_price,
           src,
           TRUE AS backfill_metadata_only,
           TRUE AS feature_declared
    FROM (
        SELECT o_orderkey, o_totalprice,
               CASE WHEN o_orderkey % 2 = 0 THEN 'bulk' ELSE 'live' END
                 AS src
        FROM orders
    )
    WHERE NOT (src = 'bulk' AND o_orderkey % 10 = 4)
    GROUP BY src
    """,
)
def txlog_default_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADD COLUMN with Iceberg-v3 DEFAULT semantics at the driver gate.
    Half the orders land BEFORE the column exists; ``add_column(...,
    default="'bulk'")`` backfills them METADATA-ONLY (the build asserts
    the add commit moves zero files — at 100 TB the alternative is a
    full-table rewrite); the other half lands with explicit values; a
    row-level DELETE then keys on the defaulted column, so the predicate
    must resolve through the backfill (per-FILE, never coalesce-over-
    NULL: an explicit post-add NULL stays NULL — pinned in pytest). The
    oracle recomputes the whole relation from raw orders with the
    default as a CASE — a backfill that leaked NULLs, applied to the
    wrong file group, or missed the delete hash-mismatches. pytest
    covers write-default fills, clones (explicit pre-add file lists),
    restore, rename/drop re-keying, streaming + CDF rendering, and the
    reorg_purge → drop_feature migration path
    (tests/test_round13.py TestColumnDefaults)."""
    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        txlog.append(o.filter(F.col("o_orderkey") % 2 == 0), path)
        txlog.add_column(spark, path, "src", "string", default="'bulk'")
        txlog.append(
            o.filter(F.col("o_orderkey") % 2 == 1).withColumn(
                "src", F.lit("live")
            ),
            path,
        )
        txlog.delete_where(
            spark,
            path,
            (F.col("src") == "bulk") & (F.col("o_orderkey") % 10 == 4),
        )

    path = _lakehouse_table("default_col", sf_dir, build)
    hist = {h["op"]: h for h in txlog.history(path)}
    add = hist["add_column"]
    meta_only = add["n_added"] == 0 and add["n_removed"] == 0
    declared = "column-defaults" in txlog.table_protocol(path).get(
        "reader_features", []
    )
    return aggregate(
        txlog.read(spark, path),
        ["src"],
        [
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        ],
    ).select(
        "n_rows",
        "sum_price",
        "src",
        F.lit(meta_only).alias("backfill_metadata_only"),
        F.lit(declared).alias("feature_declared"),
    )


@_register(
    "pq_compact_read",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(c_acctbal), 2) AS sum_bal,
           TRUE AS was_fragmented,
           TRUE AS compacted
    FROM customer
    """,
)
def pq_compact_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-parquet small-file compaction at the driver gate (the
    maintenance op for directories with NO commit log — landing zones,
    foreign tables). customer lands as 12 undersized part files,
    ``compact_parquet`` coalesces each leaf dir's small files (coalesce,
    not shuffle — merging files is IO-bound concatenation), and the gate
    pins: the directory really was fragmented, the file count really
    dropped, and the post-compaction content scans identical to the raw
    truth — a compaction that drops or duplicates rows mismatches."""
    from datalake_brief_spark.sources import io as dio

    def build(path: str) -> None:
        _t(spark, sf_dir, "customer").repartition(12).write.parquet(path)
        res = dio.compact_parquet(spark, path, target_file_bytes=1 << 30)
        _COMPACT_RESULTS[path] = res

    path = _lakehouse_table("pq_compact", sf_dir, build)
    res = _COMPACT_RESULTS[path]
    return aggregate(
        spark.read.parquet(path),
        [],
        [
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
        ],
    ).select(
        "n_rows",
        "sum_bal",
        F.lit(res["files_before"] >= 8).alias("was_fragmented"),
        F.lit(res["files_after"] < res["files_before"]).alias("compacted"),
    )


_COMPACT_RESULTS: dict[str, dict] = {}


@_register(
    "txlog_schema_enforce",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(o_totalprice), 2) AS sum_price,
           TRUE AS type_change_rejected,
           TRUE AS silent_add_rejected,
           TRUE AS rejection_atomic
    FROM orders
    """,
)
def txlog_schema_enforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writer-side schema enforcement at the driver gate (the schema-in-log
    contract): against the landed orders table, (a) an append that retypes
    o_totalprice to string MUST be rejected before any data file lands,
    (b) an append carrying a column the table does not have MUST be
    rejected unless merge_schema=True opts into additive evolution (the
    evolution path itself is gated by ``txlog_schema_evolution``), and
    (c) both rejections leave the version untouched. Content parity with
    the scanning oracle proves the rejections protected, not corrupted,
    the table. Re-attempted on every invocation — idempotent by design."""
    def build(path: str) -> None:
        txlog.append(_t(spark, sf_dir, "orders"), path)

    path = _lakehouse_table("enforced", sf_dir, build)
    o = _t(spark, sf_dir, "orders")
    v_before = txlog.current_version(path)
    try:
        txlog.append(o.withColumn("o_totalprice", F.col("o_totalprice").cast("string")), path)
        type_rejected = False
    except TypeError as e:
        type_rejected = "conflicts" in str(e)
    try:
        txlog.append(o.withColumn("extra", F.lit(1)), path)
        add_rejected = False
    except ValueError as e:
        add_rejected = "merge_schema" in str(e)
    atomic = txlog.current_version(path) == v_before
    return aggregate(
        txlog.read(spark, path),
        [],
        [
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        ],
    ).select(
        "n_rows",
        "sum_price",
        F.lit(type_rejected).alias("type_change_rejected"),
        F.lit(add_rejected).alias("silent_add_rejected"),
        F.lit(atomic).alias("rejection_atomic"),
    )


@_register(
    "txlog_checkpoint_read",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(c_acctbal), 2) AS sum_bal,
           TRUE AS checkpoint_active
    FROM customer
    """,
)
def txlog_checkpoint_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log checkpoints at the driver gate: customer lands as 11 disjoint
    micro-batch appends (the sustained-ingestion shape), so the 10th
    commit consolidates the live state into a checkpoint and snapshot
    resolution replays only the post-checkpoint tail — O(tail), not
    O(versions), which is what keeps a year of 5-minute micro-batches
    readable at 100 TB. Observable through the public surface: the
    vacuum retention floor equals the checkpoint replay window (versions
    at/after the newest checkpoint = v10, v11 → floor 2), and the
    checkpoint-resolved read must still reassemble EXACTLY the union of
    all 11 batches against the scanning oracle — a checkpoint that lost
    or duplicated a file entry mismatches."""
    def build(path: str) -> None:
        c = _t(spark, sf_dir, "customer")
        for i in range(11):
            txlog.append(c.filter(F.pmod(F.col("c_custkey"), F.lit(11)) == i), path)

    path = _lakehouse_table("checkpointed", sf_dir, build)
    floor_is_tail = txlog.vacuum_retention_floor(path) == 2
    return aggregate(
        txlog.read(spark, path),
        [],
        [
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
        ],
    ).select(
        "n_rows", "sum_bal", F.lit(floor_is_tail).alias("checkpoint_active")
    )


@_register(
    "txlog_null_skip",
    _NULLED_SQL
    + """
    SELECT CAST(count(*) AS BIGINT)          AS n_rows,
           CAST(count(DISTINCT seg) AS BIGINT) AS n_seg
    FROM nulled WHERE bal IS NULL
    """,
)
def txlog_null_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS NULL read through null-count file skipping: the table lands as a
    null-free group and a holey group (file-level null locality, the shape
    clustering produces), stats carry per-file null counts, and
    read_pruned_nulls drops the null-free files from the plan before the
    residual filter. The oracle replays the injected-null relation, so a
    false skip (lost NULL rows) or a miscounted tally mismatches."""
    def build(path: str) -> None:
        d = _nulled_customer(spark, sf_dir)
        txlog.append(
            d.filter(F.col("bal").isNotNull()).coalesce(2), path, stats_cols=["bal"]
        )
        txlog.append(
            d.filter(F.col("bal").isNull()).coalesce(2),
            path,
            stats_cols=["bal"],
        )

    path = _lakehouse_table("nullskip", sf_dir, build)
    got = txlog.read_pruned_nulls(spark, path, "bal", is_null=True)
    return got.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("seg").cast("long").alias("n_seg"),
    )


@_register(
    "txlog_schema_evolution",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(round(p_retailprice, 2)), 2) AS sum_price,
           round(sum(CASE WHEN p_partkey % 2 = 1
                          THEN round(round(p_retailprice, 2) * 0.1, 2)
                          ELSE 0 END), 2) AS sum_disc
    FROM part
    """,
)
def txlog_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution through the hash gate: half the table
    lands with the narrow schema, the other half evolves in a ``disc``
    column (merge_schema=True append), and the unified snapshot read must
    show every row with pre-evolution rows NULL in the new column. The
    oracle derives the same relation from the raw table, so a lost evolved
    column, a mis-unified footer, or non-NULL backfill all mismatch."""
    def build(path: str) -> None:
        p = _t(spark, sf_dir, "part").select(
            "p_partkey", F.round("p_retailprice", 2).alias("price")
        )
        even = F.pmod(F.col("p_partkey"), F.lit(2)) == 0
        txlog.append(p.filter(even), path)
        evolved = p.filter(~even).withColumn(
            "disc", F.round(F.col("price") * 0.1, 2)
        )
        txlog.append(evolved, path, merge_schema=True)

    df = txlog.read(
        spark, _lakehouse_table("evolution", sf_dir, build), merge_schema=True
    )
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.round(F.sum("price"), 2).alias("sum_price"),
        F.round(F.sum(F.coalesce("disc", F.lit(0.0))), 2).alias("sum_disc"),
    )


@_register(
    "dsir_weights",
    headline=True,
    oracle=(_DSIR_ORACLE := f"""
    WITH tok AS (
      SELECT doc_id, (lang = 'en') AS is_t, unnest({_TOKS}) AS token
      FROM documents
    ), c AS (
      SELECT token,
             CAST(count(*) AS DOUBLE)                      AS q_c,
             CAST(count(*) FILTER (is_t) AS DOUBLE)        AS p_c
      FROM tok GROUP BY token
    ), s AS (
      SELECT sum(q_c) AS nq, sum(p_c) AS np,
             CAST(count(*) AS DOUBLE) AS v
      FROM c
    ), r AS (
      SELECT token,
             ln((p_c + 1) / (np + v)) - ln((q_c + 1) / (nq + v)) AS lr
      FROM c, s
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(sum(lr), 6)        AS log_iw
    FROM tok t JOIN r USING (token)
    GROUP BY t.doc_id
    """),
)
def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights for every document against the English
    subset as the target corpus: smoothed unigram log-likelihood ratio,
    the data-selection statistic of Xie et al. 2023. High scorers "look
    like" the target; a threshold/top-k downstream is the resample."""
    d = _t(spark, sf_dir, "documents")
    return text.dsir_log_weights(d, target=F.col("lang") == "en")


@_register(
    "dsir_weights_hashed",
    oracle=_DSIR_ORACLE,
    headline=True,
)
def dsir_weights_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature DSIR — the SCALE path (Xie et al. 2023 proper):
    token statistics keyed by xxhash64(token) % n_buckets, so the
    histogram/ratio state is bounded at n_buckets regardless of
    vocabulary growth (the x100 scale check showed the raw-unigram
    variant's vocabulary-sized ratio join is its one superlinear edge;
    this form removes it). Gate parameterization uses a collision-free
    bucket space (2^60 — expected collisions ~V^2/2B ~= 1e-10 at driver
    vocab), where hashed == raw-unigram DSIR exactly, so the SAME
    explicit-unigram SQL oracle attests the hashed plumbing end-to-end.
    Production uses the default 2^16 buckets for a constant-sized
    broadcastable ratio table."""
    d = _t(spark, sf_dir, "documents")
    return text.dsir_log_weights_hashed(
        d, target=F.col("lang") == "en", n_buckets=1 << 60
    )


@_register(
    "txlog_replace_where",
    """
    SELECT rev, CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(o_totalprice), 2)   AS sum_price
    FROM (
      SELECT CAST(1 AS BIGINT) AS rev, round(o_totalprice, 2) AS o_totalprice
      FROM orders WHERE o_orderkey NOT BETWEEN 1 AND 1000
      UNION ALL
      SELECT CAST(2 AS BIGINT) AS rev, round(o_totalprice * 3, 2) AS o_totalprice
      FROM orders WHERE o_orderkey BETWEEN 1 AND 1000
    )
    GROUP BY rev
    """,
)
def txlog_replace_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """replaceWhere backfill: re-land the o_orderkey ∈ [1, 1000] band (at
    3× price, rev=2) in ONE atomic commit that deletes the old band and
    inserts the replacement. The table lands range-clustered with stats in
    the log, so the rewrite's candidate set is stats-pruned to the band's
    files; untouched files stay referenced byte-identical. The oracle is
    untouched-rows ∪ replacement — a scope leak (enforce contract), a lost
    survivor row, or a broken prune all hash-mismatch."""
    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.lit(1).cast("long").alias("rev"),
        )
        arranged = o.repartitionByRange(8, "o_orderkey").sortWithinPartitions(
            "o_orderkey"
        )
        txlog.append(arranged, path, stats_cols=["o_orderkey"])
        new = (
            _t(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey").between(1, 1000))
            .select(
                "o_orderkey",
                F.round(F.col("o_totalprice") * 3, 2).alias("o_totalprice"),
                F.lit(2).cast("long").alias("rev"),
            )
        )
        txlog.overwrite_where(
            spark,
            path,
            new,
            F.col("o_orderkey").between(1, 1000),
            prune_col="o_orderkey",
            lo=1,
            hi=1000,
        )

    return aggregate(
        txlog.read(spark, _lakehouse_table("replace", sf_dir, build)),
        ["rev"],
        [
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        ],
    )


@_register(
    "corpus_domain_cap",
    """
    SELECT doc_id, source, n_chars, CAST(rn AS BIGINT) AS domain_rank
    FROM (
      SELECT doc_id, source, n_chars,
             row_number() OVER (
               PARTITION BY source ORDER BY n_chars DESC, doc_id
             ) AS rn
      FROM documents
    )
    WHERE rn <= 15
    """,
)
def corpus_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (text.domain_cap) — the RefinedWeb/FineWeb
    "at most N pages per domain" curation guard: keep each source's top 15
    documents by length (quality proxy), deterministic doc_id tiebreak.
    ONE hash shuffle on the domain key; per-domain ranking inside the
    window partition, rank retained for cut-line audits."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return text.domain_cap(d, cap=15)


@_register(
    "sample_weighted_aes",
    """
    SELECT doc_id, source, n_chars,
           CAST(row_number() OVER (
             PARTITION BY source ORDER BY aes_key DESC, doc_id
           ) AS BIGINT) AS sample_rank
    FROM (
      SELECT doc_id, source, n_chars,
             pow(
               ((CAST(concat('0x', substring(
                   md5('11|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                 % 1000000) + 1) / 1000001.0,
               1.0 / n_chars
             ) AS aes_key
      FROM documents
    )
    QUALIFY sample_rank <= 10
    """,
)
def sample_weighted_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, k=10 per source
    (relational.weighted_sample) — Efraimidis-Spirakis A-ES keys
    u^(1/weight) with u derived from md5(seed|doc_id), weight = document
    length: longer documents proportionally more likely, the draw
    reproducible across runs AND engines (the oracle replays the identical
    keys). Scan-stage key + one per-group top-k window shuffle."""
    from datalake_brief_spark.operators import relational

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return relational.weighted_sample(
        d, k=10, weight_col="n_chars", group_col="source", seed=11
    )


@_register(
    "ml_target_encode",
    """
    WITH per AS (
      SELECT o_orderpriority,
             CAST(CAST(concat('0x', substring(
                 md5('3|' || CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT)
               % 5 AS BIGINT) AS fold,
             sum(CAST(o_totalprice AS DOUBLE)) AS s,
             CAST(count(*) AS BIGINT) AS c
      FROM orders GROUP BY 1, 2
    ), tot AS (
      SELECT o_orderpriority, sum(s) AS ts, sum(c) AS tc FROM per GROUP BY 1
    ), g AS (
      SELECT sum(s) AS gs, sum(c) AS gc FROM per
    )
    SELECT per.o_orderpriority, fold,
           round(CASE WHEN (tc - c) > 0 THEN (ts - s) / (tc - c)
                      ELSE (gs - s) / (gc - c) END, 2) AS encoding,
           c AS n_in_fold
    FROM per JOIN tot USING (o_orderpriority) CROSS JOIN g
    """,
)
def ml_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-fold target encoding (mlops.target_encode): encode
    o_orderpriority with the mean o_totalprice of the OTHER md5-bucketed
    folds — the leakage-safe form (a row never sees its own label through
    its feature). One (category, fold)-keyed partial+final aggregate over
    the fact scan, then driver-scale arithmetic on the |C|x5 frame; the
    output IS the broadcast-joinable encoding table."""
    from datalake_brief_spark import mlops

    o = _t(spark, sf_dir, "orders")
    return mlops.target_encode(
        o,
        cat_col="o_orderpriority",
        target_col="o_totalprice",
        id_col="o_orderkey",
        n_folds=5,
        seed=3,
        precision=2,
    )


@_register(
    "profile_winsorized",
    """
    WITH b AS (
      SELECT quantile_cont(CAST(l_quantity AS DOUBLE), 0.05) AS lo,
             quantile_cont(CAST(l_quantity AS DOUBLE), 0.95) AS hi
      FROM lineitem
    )
    SELECT round(min(lo), 4) AS p_low_value,
           round(min(hi), 4) AS p_high_value,
           CAST(sum(CASE WHEN CAST(l_quantity AS DOUBLE) < lo
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low,
           CAST(sum(CASE WHEN CAST(l_quantity AS DOUBLE) > hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high,
           round(avg(CAST(l_quantity AS DOUBLE)), 4) AS mean_raw,
           round(avg(greatest(least(CAST(l_quantity AS DOUBLE), hi), lo)), 4)
             AS mean_winsorized
    FROM lineitem, b
    """,
)
def profile_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized column profile (relational.winsorize_stats): exact
    p05/p95 bounds (rank-interpolated — the quantile_cont definition both
    engines share), per-tail clip counts, mean before/after saturation.
    Two aggregates, 1-row bound frame broadcast back onto the scan; exact
    percentile is scale-safe here because l_quantity has bounded
    cardinality (per-distinct-value counts), the approx_percentile swap is
    documented for unbounded doubles."""
    from datalake_brief_spark.operators import relational

    l = _t(spark, sf_dir, "lineitem")
    return relational.winsorize_stats(l, "l_quantity", 0.05, 0.95)


@_register(
    "source_token_kl",
    f"""
    WITH tok AS (
      SELECT source, unnest({_TOKS}) AS token FROM documents
    ), st AS (
      SELECT source, token, CAST(count(*) AS DOUBLE) AS c FROM tok GROUP BY 1, 2
    ), s AS (
      SELECT source, sum(c) AS n FROM st GROUP BY 1
    ), g AS (
      SELECT token, sum(c) AS gc FROM st GROUP BY 1
    ), tot AS (SELECT sum(gc) AS gn FROM g)
    SELECT st.source, CAST(min(s.n) AS BIGINT) AS n_tokens,
           round(sum((c/n) * ln((c/n) / (gc/gn))), 6) AS kl_vs_corpus
    FROM st JOIN s USING (source) JOIN g USING (token) CROSS JOIN tot
    GROUP BY st.source
    """,
)
def source_token_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram KL divergence vs the corpus blend
    (text.token_kl_by_group) — the distribution-shift lens DSIR/DoReMi
    weights build on: one (source, token)-keyed aggregate over the
    exploded scan, then vocabulary-sized arithmetic only."""
    return text.token_kl_by_group(_t(spark, sf_dir, "documents"))


@_register(
    "ml_quantile_bins",
    """
    WITH b AS (
      SELECT quantile_cont(CAST(l_extendedprice AS DOUBLE),
                           [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS bs
      FROM lineitem
    )
    SELECT CAST(len(list_filter(bs, x -> CAST(l_extendedprice AS DOUBLE) > x))
                AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(min(CAST(l_extendedprice AS DOUBLE)), 4) AS lo,
           round(max(CAST(l_extendedprice AS DOUBLE)), 4) AS hi
    FROM lineitem, b GROUP BY 1
    """,
)
def ml_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency binning audit (relational.quantile_bins): octile
    boundaries at exact percentiles (rank-interpolated, the definition
    both engines share), boundary array broadcast onto the scan, bin =
    count of boundaries exceeded, per-bin count + range out."""
    from datalake_brief_spark.operators import relational

    l = _t(spark, sf_dir, "lineitem")
    return relational.quantile_bins(l, "l_extendedprice", n_bins=8)


@_register(
    "dq_benford",
    """
    WITH c AS (
      SELECT regexp_extract(CAST(CAST(o_totalprice AS DOUBLE) AS VARCHAR),
                            '[1-9]', 0) AS digit,
             CAST(count(*) AS BIGINT) AS n
      FROM orders WHERE CAST(o_totalprice AS DOUBLE) > 0
      GROUP BY 1
    ), t AS (SELECT sum(n) AS tt FROM c)
    SELECT CAST(digit AS BIGINT) AS digit, n,
           round(n / tt, 6) AS obs_share,
           round(log10(1.0 + 1.0 / CAST(digit AS BIGINT)), 6) AS benford_share,
           round(abs(n / tt - log10(1.0 + 1.0 / CAST(digit AS BIGINT))), 6)
             AS abs_dev
    FROM c CROSS JOIN t
    """,
)
def dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit screen (relational.benford_profile) on order
    totals: digit from the value's decimal string (exact — float log10
    misclassifies powers of ten), one scan-stage expression + a ≤9-row
    aggregate, observed share vs log10(1 + 1/d) with absolute deviation."""
    from datalake_brief_spark.operators import relational

    o = _t(spark, sf_dir, "orders")
    return relational.benford_profile(o, "o_totalprice")


@_register(
    "text_normalize_nfc",
    """
    SELECT doc_id,
           lower(nfc_normalize(replace(text, 'a', 'a' || chr(769))))
             AS norm_text,
           strip_accents(lower(nfc_normalize(replace(text, 'a', 'a' || chr(769)))))
             AS ascii_fold
    FROM documents
    """,
)
def text_normalize_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode canonicalization (text.normalize_unicode): the corpus is
    decomposed on the fly (every 'a' → 'a' + combining acute U+0301 — the
    NFD form a crawler actually emits), then NFC-normalized + casefolded,
    plus the accent-stripped blocking key. Spark has no UAX#15 builtin, so
    this is the genuine Arrow-batch Pandas UDF case (ArrowEvalPython,
    never row-Python); unicodedata and DuckDB's utf8proc implement the
    same normalization algorithm, which is exactly what the oracle
    replays. Scan-stage, composes with downstream filters."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.regexp_replace("text", "a", "a\u0301").alias("text")
    )
    return text.normalize_unicode(d, strip_accents_out="ascii_fold").select(
        "doc_id", "norm_text", "ascii_fold"
    )


@_register(
    "emb_norm_profile",
    """
    SELECT label, CAST(count(*) AS BIGINT) AS n,
           round(avg(nrm), 4) AS mean_norm,
           round(min(nrm), 4) AS min_norm,
           round(max(nrm), 4) AS max_norm
    FROM (
      SELECT label,
             sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    )
    GROUP BY label
    """,
)
def emb_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding-norm health screen (similarity.norm_profile):
    catches unnormalized encoder mixtures / collapsed vectors before an
    ANN index is built on bad geometry. Squared norm folds JVM-side
    (F.aggregate, element cast to double BEFORE squaring so accumulation
    is engine-identical), one keyed partial+final aggregate after."""
    from datalake_brief_spark.operators import similarity

    return similarity.norm_profile(_t(spark, sf_dir, "embeddings"))


@_register(
    "emb_label_balance",
    """
    WITH c AS (
      SELECT label, CAST(count(*) AS BIGINT) AS n FROM embeddings GROUP BY 1
    ), t AS (
      SELECT CAST(sum(n) AS DOUBLE) AS tt, CAST(count(*) AS BIGINT) AS k FROM c
    ), s AS (
      SELECT label, n, n / tt AS share, k FROM c CROSS JOIN t
    ), h AS (
      SELECT -sum(share * ln(share)) / ln(min(k)) AS hh FROM s
    )
    SELECT label, n, round(share, 6) AS share,
           round(hh, 6) AS balance_entropy
    FROM s CROSS JOIN h
    """,
)
def emb_label_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balance report for a labeled training table: per-label count
    and share plus the normalized label entropy (1.0 = perfectly balanced,
    → 0 = collapsed onto one class) — the go/no-go gate before training a
    classifier head. One keyed aggregate to the |labels|-row frame, then
    driver-scale arithmetic broadcast back; the fact is scanned once."""
    e = _t(spark, sf_dir, "embeddings")
    counts = e.groupBy("label").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = counts.agg(
        F.sum("n").cast("double").alias("__t"), F.count(F.lit(1)).alias("__k")
    )
    shared = counts.crossJoin(F.broadcast(tot)).withColumn(
        "share", F.col("n") / F.col("__t")
    )
    ent = shared.agg(
        (-F.sum(F.col("share") * F.log(F.col("share"))) / F.log(F.first("__k"))).alias(
            "__h"
        )
    )
    return shared.crossJoin(F.broadcast(ent)).select(
        "label",
        "n",
        F.round("share", 6).alias("share"),
        F.round("__h", 6).alias("balance_entropy"),
    )


@_register(
    "ml_feature_mi",
    """
    WITH j AS (
      SELECT CAST(o_orderpriority AS VARCHAR) AS x,
             CAST(o_orderstatus AS VARCHAR) AS y,
             CAST(count(*) AS DOUBLE) AS c
      FROM orders GROUP BY 1, 2
    ), mx AS (SELECT x, sum(c) AS cx FROM j GROUP BY 1),
    my AS (SELECT y, sum(c) AS cy FROM j GROUP BY 1),
    t AS (SELECT sum(c) AS n FROM j),
    hy AS (
      SELECT -sum((cy/n) * ln(cy/n)) AS h FROM my CROSS JOIN t
    ), mi1 AS (
      SELECT sum((c/n) * ln((c/n) / ((cx/n) * (cy/n)))) AS mi
      FROM j JOIN mx USING (x) JOIN my USING (y) CROSS JOIN t
    ), mi2 AS (
      SELECT -sum((cy/n) * ln(cy/n)) AS mi FROM my CROSS JOIN t
    )
    SELECT 'o_orderpriority' AS feature, round(mi, 6) AS mi_nats,
           round((SELECT h FROM hy), 6) AS label_entropy,
           round(CASE WHEN (SELECT h FROM hy) > 0
                      THEN mi / (SELECT h FROM hy) END, 6) AS mi_normalized
    FROM mi1
    UNION ALL
    SELECT 'o_orderstatus', round(mi, 6),
           round((SELECT h FROM hy), 6),
           round(CASE WHEN (SELECT h FROM hy) > 0
                      THEN mi / (SELECT h FROM hy) END, 6)
    FROM mi2
    """,
)
def ml_feature_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-information feature ranking (mlops.mutual_information):
    I(priority; status) reads near 0 (independent), while scoring the
    label AGAINST ITSELF pins mi_normalized at exactly 1.0 — the leak
    detector the op exists for (I(Y;Y) = H(Y)). Per feature: one
    (x, y)-keyed partial+final aggregate, marginals re-aggregated from
    the joint counts, contingency-sized arithmetic only."""
    from datalake_brief_spark import mlops

    o = _t(spark, sf_dir, "orders")
    return mlops.mutual_information(
        o, ["o_orderpriority", "o_orderstatus"], "o_orderstatus"
    )


@_register(
    "profile_group_quantiles",
    """
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.25), 4) AS p25,
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.50), 4) AS p50,
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.75), 4) AS p75
    FROM lineitem GROUP BY 1
    """,
)
def profile_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment quartile profile (relational.group_quantiles): exact
    interpolated p25/p50/p75 of extended price per return flag in ONE
    keyed partial+final aggregate — the grouped spread/skew view a global
    describe() hides."""
    from datalake_brief_spark.operators import relational

    l = _t(spark, sf_dir, "lineitem")
    return relational.group_quantiles(l, "l_extendedprice", "l_returnflag")


@_register(
    "text_lm_perplexity",
    f"""
    WITH t AS (
      SELECT doc_id, lang, regexp_split_to_array({_NORM}, ' ') AS toks
      FROM documents
    ),
    bi AS (
      SELECT doc_id, lang,
             unnest([{{'w1': toks[i], 'w2': toks[i+1]}}
                     for i in range(1, len(toks))]) AS pr
      FROM t
    ),
    d AS (SELECT doc_id, lang, (pr).w1 AS w1, (pr).w2 AS w2 FROM bi),
    b AS (
      SELECT w1, w2, CAST(count(*) AS DOUBLE) AS cb
      FROM d WHERE lang = 'en' GROUP BY 1, 2
    ),
    c AS (SELECT w1, sum(cb) AS cw FROM b GROUP BY 1),
    v AS (
      SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS vv
      FROM (SELECT unnest(toks) AS tok FROM t WHERE lang = 'en')
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(exp(-avg(ln(
             (coalesce(cb, 0) + 0.5) / (coalesce(cw, 0) + 0.5 * vv)
           ))), 6) AS ppl
    FROM d LEFT JOIN b USING (w1, w2) LEFT JOIN c USING (w1) CROSS JOIN v
    GROUP BY doc_id
    """,
)
def text_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filter (text.ngram_lm_perplexity): an add-k
    bigram LM trained on the English subset scores EVERY document —
    off-domain docs surface as high ppl, the classic keep/bucket signal
    (Wenzek et al. 2020). Unseen bigrams take the smoothing mass, unseen
    contexts fall to uniform 1/V, exercising the full back-off path.
    Four linear keyed shuffles; nothing vocabulary-sized broadcasts."""
    d = _t(spark, sf_dir, "documents")
    return text.ngram_lm_perplexity(d, ref=d.filter(F.col("lang") == "en"))


@_register(
    "corpus_quality_cut",
    """
    WITH thr AS (
      SELECT source, quantile_cont(CAST(n_chars AS DOUBLE), 0.75)
               AS cut_threshold
      FROM documents GROUP BY 1
    )
    SELECT source, doc_id, n_chars, cut_threshold
    FROM documents JOIN thr USING (source)
    WHERE CAST(n_chars AS DOUBLE) >= cut_threshold
    """,
)
def corpus_quality_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-quartile-per-source keep (text.quality_top_fraction): rows at
    or above their source's exact p75 length survive, threshold carried
    for audit. |G|-row threshold frame broadcast back; the fact never
    shuffles."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return text.quality_top_fraction(d, frac=0.25).select(
        "source", "doc_id", "n_chars", "cut_threshold"
    )


@_register("text_compression_ratio", None)
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/Dolma redundancy signal (text.compression_ratio): zlib
    DEFLATE ratio per document — repeated spans compress low, high-entropy
    garbage near 1.0. Genuinely non-relational (rows-only by design, like
    the hash-family dedup entries); ground truth pinned in pytest, the
    Arrow-batch plan shape pinned in test_plans. Scan-stage, no
    shuffle."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return text.compression_ratio(d).select("doc_id", "compression_ratio")


@_register(
    "graph_components_chain",
    """
    WITH m AS (
      SELECT o_custkey, CAST(min(o_orderkey) AS BIGINT) AS component,
             count(*) AS k
      FROM orders GROUP BY 1
    )
    SELECT CAST(o_orderkey AS BIGINT) AS id, component
    FROM orders JOIN m USING (o_custkey)
    WHERE k >= 2
    """,
)
def graph_components_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components (dedup.connected_components — min-label +
    pointer-jump, the Kiveris-style MapReduce recipe) attested on a graph
    that actually stresses convergence: each customer's orders linked in
    a CHAIN (consecutive-order edges via one lead() window), so diameters
    reach the max orders-per-customer and the O(log d) pointer doubling
    is what makes the fixed round budget suffice — a plain min-label
    propagation would need O(d) rounds. Ground truth is closed-form: every
    chain's component IS its customer's min order key, so the oracle is
    one GROUP BY — exact labels for 10k+ nodes with no recursive CTE.
    Isolated nodes (single-order customers) have no edges and are
    correctly absent."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    nxt = F.lead("o_orderkey").over(
        Window.partitionBy("o_custkey").orderBy("o_orderkey")
    )
    edges = (
        o.withColumn("__nxt", nxt)
        .filter(F.col("__nxt").isNotNull())
        .select(
            F.col("o_orderkey").alias("src"), F.col("__nxt").alias("dst")
        )
    )
    return dedup.connected_components(edges, "src", "dst").select(
        F.col("id").cast("long").alias("id"),
        F.col("comp").cast("long").alias("component"),
    )


# --------------------------------------------------------------------------
# Round-7 band: sequence analytics (SCD2 / islands / latest-per-key /
# distribution ranks), graph profiles (degree histogram, triangles),
# time-series scoring (rolling z-score, linear interpolation), ML prep
# (one-hot, stratified hash split), corpus segment dedup + lexical
# diversity, PQ-compressed ANN, Voronoi cell profile, per-group hash
# sampling.
# --------------------------------------------------------------------------


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed distinct part co-purchase edges (parts sharing an order,
    both orientations — the same substrate as graph_pagerank_copurchase)."""
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    r = l.withColumnRenamed("l_partkey", "dst_part")
    return (
        l.join(r, "l_orderkey")
        .filter(F.col("l_partkey") != F.col("dst_part"))
        .select(F.col("l_partkey").alias("src"), F.col("dst_part").alias("dst"))
        .distinct()
    )


@_register(
    "window_distribution_suite",
    """
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           CAST(ntile(10) OVER w AS BIGINT) AS tile,
           round(percent_rank() OVER w, 6)  AS pct_rank,
           round(cume_dist() OVER w, 6)     AS cume_dist
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_distribution_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-position trio (operators.windows.distribution_ranks):
    ntile decile + percent_rank + cume_dist per order priority over one
    shared (partition, sort) window — a single exchange + sort evaluates
    all three. The unique o_orderkey tiebreaker makes the tie-sensitive
    rank family deterministic; the ratios are exact small-int divisions,
    so they hash identically across engines."""
    from datalake_brief_spark.operators.windows import distribution_ranks

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    out = distribution_ranks(
        o,
        ["o_orderpriority"],
        [F.col("o_totalprice"), F.col("o_orderkey")],
        n_tiles=10,
    )
    return out.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.col("tile").cast("long").alias("tile"),
        "pct_rank",
        "cume_dist",
    )


@_register(
    "dedup_latest_by_key",
    """
    SELECT user_id, event_id, ts, event_type, value
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1
    """,
)
def dedup_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-record-per-key compaction (the CDC/current-state view —
    operators.windows.dedup_sorted with a DESC order): one shuffle on the
    key, deterministic under timestamp collisions via the event_id
    tiebreaker — never dropDuplicates, whose survivor is
    partition-order-dependent."""
    from datalake_brief_spark.operators.windows import dedup_sorted

    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    return dedup_sorted(
        e, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()]
    )


@_register(
    "scd2_intervals",
    """
    SELECT user_id, event_id, event_type,
           ts                                              AS valid_from,
           lead(ts)  OVER w                                AS valid_to,
           lead(ts)  OVER w IS NULL                        AS is_current,
           CAST(row_number() OVER w AS BIGINT)             AS version
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective-dated SCD2 history (operators.windows.scd2_intervals):
    every per-key record becomes a [valid_from, valid_to) interval closed
    by the next record, latest row open-ended + is_current, version
    numbering from 1. lead() and row_number() share one window — a
    single shuffle+sort turns an append-only stream into a
    point-in-time-joinable dimension."""
    from datalake_brief_spark.operators.windows import scd2_intervals as scd2

    e = _t(spark, sf_dir, "events").select("user_id", "event_id", "event_type", "ts")
    out = scd2(e, "user_id", "ts", order_tiebreak=[F.col("event_id")])
    return out.select(
        "user_id",
        "event_id",
        "event_type",
        "valid_from",
        "valid_to",
        "is_current",
        F.col("version").cast("long").alias("version"),
    )


@_register(
    "gaps_islands",
    """
    WITH r AS (
      SELECT user_id, event_type, ts,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
             - row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS g
      FROM events
    )
    SELECT user_id, event_type,
           min(ts)                  AS island_start,
           max(ts)                  AS island_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM r GROUP BY user_id, event_type, g
    """,
)
def gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands (operators.windows.islands): maximal runs of
    consecutive same-state events per user collapse to one island row via
    the two-row_number difference — both windows and the final aggregate
    share the user-key partitioning, so the whole operator is ONE
    shuffle. The event_id tiebreaker totalizes the sort (timestamp
    collisions would otherwise make run membership nondeterministic)."""
    from datalake_brief_spark.operators.windows import islands

    e = _t(spark, sf_dir, "events")
    out = islands(e, "user_id", "event_type", "ts", "event_id")
    return out.select(
        "user_id",
        "event_type",
        "island_start",
        "island_end",
        F.col("n_events").cast("long").alias("n_events"),
    )


@_register(
    "graph_degree_stats",
    """
    WITH e AS (
      SELECT DISTINCT l1.l_partkey AS src, l2.l_partkey AS dst
      FROM lineitem l1 JOIN lineitem l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey <> l2.l_partkey
    ),
    d AS (SELECT src, count(*) AS degree FROM e GROUP BY src)
    SELECT CAST(degree AS BIGINT) AS degree,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM d GROUP BY degree
    """,
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the co-purchase graph (operators.graph.
    degree_histogram): two partial-aggregated keyed shuffles, |nodes| →
    |distinct degrees|. The histogram is the shippable artifact at
    100 TB; per-node degrees stay distributed."""
    from datalake_brief_spark.operators.graph import degree_histogram

    out = degree_histogram(_copurchase_edges(spark, sf_dir))
    return out.select(
        F.col("degree").cast("long").alias("degree"),
        F.col("n_nodes").cast("long").alias("n_nodes"),
    )


@_register(
    "graph_triangles",
    """
    WITH e AS (
      SELECT DISTINCT least(l1.l_partkey, l2.l_partkey)    AS a,
                      greatest(l1.l_partkey, l2.l_partkey) AS b
      FROM lineitem l1 JOIN lineitem l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey <> l2.l_partkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_triangles
    FROM e ab JOIN e bc ON ab.b = bc.a
              JOIN e ac ON ac.a = ab.a AND ac.b = bc.b
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count (operators.graph.triangle_count) on the
    co-purchase graph: canonicalize low→high, oriented wedge join, close
    with a third equi-join — each triangle counted once, no
    CartesianProduct, Σdeg² wedge bound; degree skew is AQE skew-join
    territory, not a driver loop."""
    from datalake_brief_spark.operators.graph import triangle_count

    return triangle_count(_copurchase_edges(spark, sf_dir))


@_register(
    "ts_zscore_anomaly",
    """
    WITH z AS (
      SELECT event_id, user_id, value,
             avg(value)         OVER w AS mu,
             stddev_samp(value) OVER w AS sd
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id, value,
           round(CASE WHEN sd > 0 THEN (value - mu) / sd END, 4) AS zscore,
           coalesce(abs((value - mu) / (CASE WHEN sd > 0 THEN sd END)) > 2.5,
                    FALSE) AS is_anomaly
    FROM z
    """,
)
def ts_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly flags (operators.timeseries.
    zscore_anomalies): each value scored against the mean/stddev of the
    trailing 20-row frame ENDING AT THE PREVIOUS ROW — the row under test
    never contaminates its own baseline. Undefined baselines ((<2 points
    or zero spread) yield NULL z / false flag on both engines. One
    shuffle on the user key; the trailing-frame form is what survives an
    unbounded stream."""
    from datalake_brief_spark.operators.timeseries import zscore_anomalies

    e = _t(spark, sf_dir, "events")
    out = zscore_anomalies(
        e,
        ["user_id"],
        [F.col("ts"), F.col("event_id")],
        "value",
        n_preceding=20,
        z_threshold=2.5,
        precision=4,
    )
    return out.select("event_id", "user_id", "value", "zscore", "is_anomaly")


@_register(
    "ts_interpolate_linear",
    """
    WITH agg AS (
      SELECT user_id, date_trunc('hour', ts) AS bucket, avg(value) AS v
      FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
               FROM agg GROUP BY 1),
    spine AS (
      SELECT user_id,
             unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
      FROM bounds
    ),
    s AS (
      SELECT spine.user_id, spine.bucket, agg.v,
             CAST(epoch(spine.bucket) AS DOUBLE) AS x
      FROM spine LEFT JOIN agg
        ON spine.user_id = agg.user_id AND spine.bucket = agg.bucket
    ),
    f AS (
      SELECT user_id, bucket, v, x,
             last_value(v IGNORE NULLS)  OVER wf AS v0,
             last_value(CASE WHEN v IS NOT NULL THEN x END IGNORE NULLS)
               OVER wf AS x0,
             first_value(v IGNORE NULLS) OVER wb AS v1,
             first_value(CASE WHEN v IS NOT NULL THEN x END IGNORE NULLS)
               OVER wb AS x1
      FROM s
      WINDOW wf AS (PARTITION BY user_id ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wb AS (PARTITION BY user_id ORDER BY bucket
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, bucket,
           floor((CASE WHEN v IS NOT NULL THEN v
                       WHEN v0 IS NOT NULL AND v1 IS NOT NULL THEN
                            CASE WHEN x1 > x0
                                 THEN v0 + (v1 - v0) * (x - x0) / (x1 - x0)
                                 ELSE v0 END
                  END) * 10000 + 0.5) / 10000 AS v_interp
    FROM f
    """,
)
def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gap interpolation over a dense per-user hourly spine
    (timeseries.resample_fill → timeseries.interpolate_linear): NULL
    buckets between two observations take the straight line positioned
    by epoch seconds; leading/trailing gaps stay NULL (no extrapolation).
    Two Window operators over one key partitioning — forward and
    backward neighbor lookups — so the interpolation costs one shuffle
    like forward_fill."""
    from datalake_brief_spark.operators.timeseries import (
        interpolate_linear,
        resample_fill,
    )

    e = _t(spark, sf_dir, "events")
    dense = resample_fill(
        e, "ts", ["user_id"], [F.avg("value").alias("v")], step="1 hour"
    )
    out = interpolate_linear(
        dense, ["user_id"], "bucket", "v", out_col="v_interp", precision=4
    )
    return out.select("user_id", "bucket", "v_interp")


@_register(
    "ml_one_hot",
    """
    SELECT event_id, event_type,
           CAST(event_type = 'click'    AS INT) AS event_type_click,
           CAST(event_type = 'error'    AS INT) AS event_type_error,
           CAST(event_type = 'purchase' AS INT) AS event_type_purchase,
           CAST(event_type = 'signup'   AS INT) AS event_type_signup,
           CAST(event_type = 'view'     AS INT) AS event_type_view
    FROM events
    """,
)
def ml_one_hot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic one-hot encoding (mlops.one_hot): explicit
    alphabetical category list → pure scan-stage CASE columns —
    StringIndexer's frequency order would reshuffle column meaning under
    data drift, which silently poisons retrained models. NULL/unseen
    categories encode all-zeros."""
    from datalake_brief_spark import mlops

    e = _t(spark, sf_dir, "events").select("event_id", "event_type")
    return mlops.one_hot(
        e, "event_type",
        categories=["click", "error", "purchase", "signup", "view"],
    )


@_register(
    "ml_split_stratified",
    """
    SELECT event_type,
           CASE WHEN ('0x' || substring(md5(CAST(event_id AS VARCHAR) || 'r7'),
                      1, 8))::BIGINT % 5 < 4
                THEN 'train' ELSE 'test' END AS split,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
    """,
)
def ml_split_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified 80/20 split audit (relational.split_by_hash — the
    content-addressed md5 assignment, portable to any engine): per-class
    train/test counts verify the hash split is balanced WITHIN every
    stratum, the check you run before trusting a split at corpus scale.
    Scan-stage assignment + one partial-aggregated shuffle on the tiny
    (class, split) grid."""
    from datalake_brief_spark.operators.relational import split_by_hash

    e = _t(spark, sf_dir, "events").select("event_id", "event_type")
    out = split_by_hash(e, "event_id", {"train": 4, "test": 1}, salt="r7")
    return out.groupBy("event_type", "split").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


@_register(
    "text_ttr",
    f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS t FROM documents),
    c AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT)   AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           round(count(*) * 1.0 / sum(c), 6) AS ttr,
           round(count(*) FILTER (WHERE c = 1) * 1.0 / count(*), 6)
             AS hapax_ratio
    FROM c GROUP BY doc_id
    """,
)
def text_ttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per document (text.lexical_diversity): token
    count, type count, type-token ratio, hapax share — the cheap screens
    for template spam (TTR→0) and gibberish (TTR→1, hapax→1). Explode →
    (doc, token) count → per-doc re-agg: two partial-aggregated shuffles,
    linear in corpus tokens, never the O(tokens²) array-lambda form."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return text.lexical_diversity(d)


@_register(
    "dedup_segments_corpus",
    f"""
    WITH tok AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    pos AS (
      SELECT doc_id, t,
             unnest(range(0, CAST(ceil(len(t) / 8.0) AS BIGINT))) AS idx
      FROM tok
    ),
    segs AS (
      SELECT doc_id, idx,
             array_to_string(t[idx * 8 + 1 : idx * 8 + 8], ' ') AS seg
      FROM pos
    ),
    ranked AS (
      SELECT doc_id, idx, seg,
             row_number() OVER (PARTITION BY seg ORDER BY doc_id, idx) AS rn
      FROM segs
    )
    SELECT doc_id,
           string_agg(seg, ' ' ORDER BY idx) FILTER (WHERE rn = 1)
             AS text_kept,
           CAST(count(*) AS BIGINT)                        AS n_segments,
           CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT)  AS n_kept
    FROM ranked GROUP BY doc_id
    """,
    headline=True,
)
def dedup_segments_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level segment dedup (text.segment_dedup — the RefinedWeb/C4
    paragraph-dedup shape over fixed 8-word windows, since this corpus
    has no newline structure): each segment keeps only its first corpus
    occurrence (ordered by doc_id, position — engine-portable), documents
    reassembled from survivors. Token arrays materialize once per row
    before the chunking transform (the word_ngram_array re-tokenization
    lesson); first-occurrence is one row_number shuffle on the segment
    text; doc rebuild one shuffle back on the doc key — linear in corpus
    tokens."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return text.segment_dedup(d, segment_words=8)


@_register(
    "emb_assign_cells",
    """
    WITH c AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
             CAST(embedding AS DOUBLE[]) AS cv
      FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)
    ),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
    scored AS (
      SELECT v.vec_id, c.cid,
             list_dot_product(vv, cv)
               / (sqrt(list_dot_product(vv, vv))
                  * sqrt(list_dot_product(cv, cv))) AS sim
      FROM v CROSS JOIN c
    ),
    best AS (
      SELECT vec_id, cid, sim,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY sim DESC, cid DESC) AS rn
      FROM scored
    )
    SELECT CAST(cid AS BIGINT)       AS cell,
           CAST(count(*) AS BIGINT)  AS n_vectors,
           round(avg(sim), 4)        AS mean_cos,
           round(min(sim), 6)        AS min_cos
    FROM best WHERE rn = 1 GROUP BY cid
    """,
)
def emb_assign_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voronoi-cell occupancy profile (similarity.nearest_cell_profile)
    against 16 FIXED centroids (the 16 lowest-vec_id embeddings — data-
    derived, deterministic, engine-portable): per-cell counts and cosine
    health, the screen you read before trusting an IVF layout. Centroids
    fold into the plan as literals — scan-stage scoring plus one tiny
    keyed aggregate; ties break to the higher cell id on both engines."""
    e = _t(spark, sf_dir, "embeddings")
    cents = [
        list(r.embedding)
        for r in e.select("vec_id", "embedding").orderBy("vec_id").limit(16).collect()
    ]
    out = similarity.nearest_cell_profile(e, cents)
    return out.select(
        F.col("cell").cast("long").alias("cell"),
        "n_vectors",
        "mean_cos",
        "min_cos",
    )


@_register("knn_pq", _ANN_RECALL_ORACLE)
def knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC approximate top-k at the driver gate (similarity.pq_topk):
    corpus lives as m=8 byte codes (8× smaller scans than raw float32),
    per-query LUTs fold into a broadcast join and ADC scoring is a pure
    zip_with/aggregate expression — JVM-only hot path, the pandas pass is
    the offline encode. Top-64 ADC candidates re-rank with exact cosine;
    recall@10 vs brute force pins ≥ 0.9 (m=16 subspaces × 32 centroids
    measured 0.98 at sf0.001 and 1.00 at sf0.01 — this corpus is
    near-uniform random, PQ's worst case, so the codebook is sized up
    from the m=8/ks=16 default which measured 0.88-0.98). Codebooks are
    engine-local k-means state, so the gate is the recall-boolean form
    like knn_lsh/knn_ivf."""
    return _ann_recall_gate(
        spark,
        sf_dir,
        lambda emb, q: similarity.pq_topk(
            emb, q, dim=64, m=16, ks=32, k=10, refine=64
        ),
        floor=0.9,
    )


@_register(
    "sample_group_hash",
    """
    SELECT source, doc_id, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT source, doc_id,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR) || 'smp7'), doc_id) AS rk
      FROM documents)
    WHERE rk <= 5
    """,
)
def sample_group_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group sample (top-5 docs per source by salted
    md5 order — content-addressed, so the sample is stable under corpus
    growth and replayable by any engine, unlike a seeded reservoir tied
    to partition iteration order). Composition of existing operators:
    derive the hash in the scan stage, windows.top_k_per_group on the
    group key — one shuffle."""
    from datalake_brief_spark.operators.windows import top_k_per_group

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    keyed = d.withColumn(
        "__h", F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("smp7")))
    )
    out = top_k_per_group(
        keyed, ["source"], [F.col("__h"), F.col("doc_id")], 5, rank_col="rk"
    )
    return out.select("source", "doc_id", F.col("rk").cast("long").alias("rk"))


@_register(
    "ts_rolling_median",
    """
    SELECT event_id, user_id, value,
           round(median(value) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS BETWEEN 10 PRECEDING AND CURRENT ROW),
                 4) AS rolling_median
    FROM events
    """,
)
def ts_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling median per user over the trailing 11-row frame
    (timeseries.rolling_median) — the robust central-tendency feature a
    single outlier can't drag. No frame-aware percentile window exists in
    Spark, so the frame gathers via collect_list + array_sort + middle
    element(s), all JVM expressions; even frames average the two middles
    (quantile_cont 0.5, matching any SQL median). One shuffle on the
    user key."""
    from datalake_brief_spark.operators.timeseries import rolling_median

    e = _t(spark, sf_dir, "events")
    out = rolling_median(
        e, ["user_id"], [F.col("ts"), F.col("event_id")], "value",
        n_preceding=10, precision=4,
    )
    return out.select("event_id", "user_id", "value", "rolling_median")


@_register(
    "profile_entropy",
    """
    WITH et AS (SELECT event_type AS v, count(*) AS c FROM events GROUP BY 1),
    uid   AS (SELECT user_id    AS v, count(*) AS c FROM events GROUP BY 1),
    etn   AS (SELECT v, c, sum(c) OVER () AS n FROM et),
    uidn  AS (SELECT v, c, sum(c) OVER () AS n FROM uid)
    SELECT 'event_type' AS col_name,
           CAST(count(*) AS BIGINT) AS n_distinct,
           round(-sum((c * 1.0 / n) * log2(c * 1.0 / n)), 6) AS entropy
    FROM etn
    UNION ALL
    SELECT 'user_id', CAST(count(*) AS BIGINT),
           round(-sum((c * 1.0 / n) * log2(c * 1.0 / n)), 6)
    FROM uidn
    """,
)
def profile_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of column value distributions (relational.
    entropy_profile): constant columns read 0 bits, near-keys read
    ≈log2(n) — the screen for shuffle hot keys and dead features before a
    100 TB job is planned. NULL counts as a value. Per column one
    partial-aggregated count shuffle over the value domain + a tiny
    re-agg; columns union into one job."""
    from datalake_brief_spark.operators.relational import entropy_profile

    e = _t(spark, sf_dir, "events")
    return entropy_profile(e, ["event_type", "user_id"])


@_register(
    "join_interval_overlap",
    """
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sid AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM g
    ),
    sess AS (
      SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
             min(ts) AS s_start, max(ts) AS s_end
      FROM sid GROUP BY 1, 2
    ),
    err AS (
      SELECT user_id, event_id AS err_id,
             ts - INTERVAL 10 MINUTE AS b_start,
             ts + INTERVAL 10 MINUTE AS b_end
      FROM events WHERE event_type = 'error'
    )
    SELECT sess.user_id, session_id, err_id,
           CAST(epoch_us(least(s_end, b_end))
                - epoch_us(greatest(s_start, b_start)) AS BIGINT) AS overlap_us
    FROM sess JOIN err ON sess.user_id = err.user_id
    WHERE s_start <= b_end AND b_start <= s_end
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (joins.interval_join): user sessions
    (30-min-gap sessionization) × ±10-minute windows around that user's
    error events. A naive non-equi join is BroadcastNestedLoopJoin —
    quadratic and broadcast-bound; the operator BANDS the time axis
    instead: intervals explode to the hour buckets they touch, candidates
    come from a hash-partitionable equi-join on (user, bucket), the exact
    overlap predicate filters, a distinct collapses multi-bucket meets.
    The oracle replays the overlap quadratically per user (cheap at gate
    scale); durations compare in microseconds — unix_timestamp's
    whole-second floor would make sub-second overlaps ambiguous."""
    from datalake_brief_spark.operators.joins import interval_join
    from datalake_brief_spark.operators.windows import sessionize

    e = _t(spark, sf_dir, "events")
    s = sessionize(e, "user_id", "ts", gap_seconds=1800)
    sess = s.groupBy("user_id", F.col("session_id").cast("long").alias("session_id")).agg(
        F.min("ts").alias("s_start"), F.max("ts").alias("s_end")
    )
    err = e.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("err_id"),
        (F.col("ts") - F.expr("INTERVAL 10 MINUTES")).alias("b_start"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("b_end"),
    )
    out = interval_join(
        sess, err, "s_start", "s_end", "b_start", "b_end",
        keys=["user_id"], band_seconds=3600,
    )
    return out.select("user_id", "session_id", "err_id", "overlap_us")


@_register(
    "ml_eval_metrics",
    """
    WITH med AS (SELECT quantile_cont(value, 0.5) AS m FROM events
                 WHERE value IS NOT NULL),
    cells AS (
      SELECT CAST(sum(CASE WHEN value > m AND event_type = 'purchase'
                           THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN value > m AND event_type <> 'purchase'
                           THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN value <= m AND event_type = 'purchase'
                           THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             CAST(sum(CASE WHEN value <= m AND event_type <> 'purchase'
                           THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM events CROSS JOIN med WHERE value IS NOT NULL
    )
    SELECT tp, fp, fn, tn,
           round(tp * 1.0 / nullif(tp + fp, 0), 6) AS precision,
           round(tp * 1.0 / nullif(tp + fn, 0), 6) AS recall,
           round(2.0 * (tp * 1.0 / nullif(tp + fp, 0)) * (tp * 1.0 / nullif(tp + fn, 0))
                 / nullif((tp * 1.0 / nullif(tp + fp, 0))
                          + (tp * 1.0 / nullif(tp + fn, 0)), 0), 6) AS f1,
           round((tp + tn) * 1.0 / nullif(tp + fp + fn + tn, 0), 6) AS accuracy
    FROM cells
    """,
)
def ml_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-classifier evaluation (mlops.classification_report) on a
    DETERMINISTIC rule model (predict 'purchase' when value > the exact
    global median — exact medians replay on any engine, unlike an
    iteratively-fit model's weights): confusion counts as conditional
    sums in ONE partial-aggregated pass, precision/recall/F1/accuracy
    derived on the single result row. Degenerate slices yield NULL, not
    division errors. The pattern is how you grade a quality-filter
    heuristic against labels at corpus scale — no collect, no per-class
    shuffle."""
    from datalake_brief_spark import mlops

    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    med = e.agg(F.expr("percentile(value, 0.5)").alias("__m"))
    scored = e.crossJoin(F.broadcast(med)).select(
        (F.col("value") > F.col("__m")).alias("pred"),
        (F.col("event_type") == "purchase").alias("label"),
    )
    return mlops.classification_report(scored, "pred", "label")


@_register(
    "text_zipf_alpha",
    f"""
    WITH tok AS (SELECT source, unnest({_TOKS}) AS t FROM documents),
    freq AS (SELECT source, t, count(*) AS f FROM tok GROUP BY 1, 2),
    rk AS (
      SELECT source, f,
             ln(CAST(row_number() OVER (PARTITION BY source
                                        ORDER BY f DESC, t) AS DOUBLE)) AS x,
             ln(CAST(f AS DOUBLE)) AS y
      FROM freq
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(f) AS BIGINT)   AS n_tokens,
           round(-((sum(x * y) - sum(x) * sum(y) / count(*))
                   / nullif(sum(x * x) - sum(x) * sum(x) / count(*), 0)),
                 4) AS zipf_alpha
    FROM rk GROUP BY source
    """,
)
def text_zipf_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit per source (text.zipf_profile): closed-form OLS slope
    of ln(freq) on ln(rank) over each source's token frequency table,
    alpha = −slope. Natural text sits near 1; boilerplate flattens, spam
    steepens — a one-number source-health signal for a pretrain mix. One
    (source, token) count shuffle, a vocabulary-sized rank window, five
    OLS sums in a tiny re-agg; rank ties break on the token string so the
    fit replays on any engine."""
    d = _t(spark, sf_dir, "documents").select("source", "text")
    return text.zipf_profile(d)


@_register(
    "graph_adamic_adar",
    """
    WITH e AS (
      SELECT DISTINCT least(l1.l_partkey, l2.l_partkey)    AS a,
                      greatest(l1.l_partkey, l2.l_partkey) AS b
      FROM lineitem l1 JOIN lineitem l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey <> l2.l_partkey
    ),
    sym AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
    deg AS (SELECT a, count(*) AS d FROM sym GROUP BY a),
    capped AS (SELECT a AS mid, d FROM deg WHERE d <= 64),
    w AS (
      SELECT n1.a AS x, n1.b AS mid, n2.b AS z
      FROM sym n1 JOIN sym n2 ON n1.b = n2.a
      WHERE n1.a < n2.b
    ),
    s AS (
      SELECT x, z,
             list_reduce(
               list_sort(list(1.0 / ln(CAST(d AS DOUBLE)))),
               (acc, t) -> acc + t) AS aa,
             count(*) AS nc
      FROM w JOIN capped ON capped.mid = w.mid GROUP BY x, z
    ),
    nv AS (
      SELECT s.x, s.z, s.aa, s.nc FROM s
      ANTI JOIN e ON s.x = e.a AND s.z = e.b
    )
    SELECT x AS node_a, z AS node_b,
           round(aa, 4) AS aa_score,
           CAST(nc AS BIGINT) AS n_common
    FROM nv ORDER BY aa DESC, x, z LIMIT 20
    """,
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction (graph.adamic_adar_topk) on the part
    co-purchase graph: top-20 NOT-yet-connected pairs by Σ 1/ln(deg) over
    common neighbors, middle nodes hub-capped at degree 64 (the
    industrial AA prune: a degree-d mid fans out d² wedges but scores
    1/ln(d) — super-connectors cost quadratically and matter least;
    measured 63.6 s → ~4 s at sf0.1). Wedges from the same oriented
    equi-joins as triangle counting, existing edges excluded by
    anti-join, global top-k via TakeOrderedAndProject. Per-pair scores fold SORTED terms (the
    EWMA-oracle trick) so equal-degree-multiset ties — common here —
    rank identically on every engine and the cutoff set is stable."""
    from datalake_brief_spark.operators.graph import adamic_adar_topk

    return adamic_adar_topk(_copurchase_edges(spark, sf_dir), k=20, max_degree=64)


@_register(
    "pq_metadata_profile",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows_meta,
           TRUE AS metadata_consistent
    FROM lineitem
    """,
)
def pq_metadata_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet footer health gate (sources.io.parquet_metadata_profile):
    row counts summed from file FOOTERS only — zero data pages touched,
    O(files) metadata IO at any table size (the pre-flight before sizing
    a 100 TB scan: row groups per file drive pruning granularity). The
    gate pins footer-count == engine count(*) as a boolean: a torn write
    or a stale footer flips it. File/row-group counts vary per dataset
    build, so only the invariant columns face the oracle."""
    from datalake_brief_spark.catalog import table_path
    from datalake_brief_spark.sources import io as _io

    prof = _io.parquet_metadata_profile(spark, table_path(sf_dir, "lineitem"))
    actual = _t(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    return prof.crossJoin(F.broadcast(actual)).select(
        "n_rows_meta",
        (F.col("n_rows_meta") == F.col("__cnt")).alias("metadata_consistent"),
    )


@_register(
    "market_basket_rules",
    """
    WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
    n AS (SELECT count(DISTINCT b) AS nb FROM bi),
    item AS (SELECT i, count(*) AS ni FROM bi GROUP BY 1),
    pairs AS (
      SELECT a.i AS item_a, bb.i AS item_b, count(*) AS np
      FROM bi a JOIN bi bb ON a.b = bb.b AND a.i < bb.i
      GROUP BY 1, 2 HAVING count(*) >= 2
    )
    SELECT item_a, item_b, CAST(np AS BIGINT) AS n_pair,
           round(np * 1.0 / nb, 6)              AS support,
           round(np * 1.0 / ia.ni, 6)           AS confidence_a_b,
           round(np * 1.0 * nb / (ia.ni * ib.ni), 6) AS lift
    FROM pairs JOIN item ia ON ia.i = pairs.item_a
               JOIN item ib ON ib.i = pairs.item_b
               CROSS JOIN n
    ORDER BY np * 1.0 * nb / (ia.ni * ib.ni) DESC, item_a, item_b
    LIMIT 20
    """,
)
def market_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules on order baskets (relational.market_basket_rules):
    top-20 part pairs by lift among pairs sharing ≥2 orders. Every score
    is a ratio of exact basket counts — identical integer divisions on
    any engine, so the lift ordering (and therefore the top-k cutoff) is
    deterministic with the pair-id tiebreak; no float accumulation
    anywhere. Pair generation is the basket-keyed self-join
    (Σ basket_size² bound), margins join back by item id."""
    from datalake_brief_spark.operators.relational import market_basket_rules as mbr

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return mbr(li, "l_orderkey", "l_partkey", k=20, min_pair_orders=2)


@_register(
    "seq_transition_matrix",
    """
    WITH s AS (
      SELECT lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_state,
             event_type AS next_state
      FROM events
    )
    SELECT prev_state, next_state, CAST(count(*) AS BIGINT) AS n,
           round(count(*) * 1.0
                 / sum(count(*)) OVER (PARTITION BY prev_state), 6) AS prob
    FROM s WHERE prev_state IS NOT NULL GROUP BY 1, 2
    """,
)
def seq_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transitions over user event sequences
    (windows.transition_matrix): P(next event type | previous) from exact
    step counts — the user-journey model. One lag window per user key,
    then a partial-aggregated count on the 5×5 state grid; conditional
    probabilities are integer-count divisions, engine-portable."""
    from datalake_brief_spark.operators.windows import transition_matrix

    e = _t(spark, sf_dir, "events")
    return transition_matrix(e, "user_id", "event_type", "ts", "event_id")


@_register(
    "window_running_distinct",
    """
    WITH f AS (
      SELECT event_id, user_id, ts,
             CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
                                          ORDER BY ts, event_id) = 1
                  THEN 1 ELSE 0 END AS flag
      FROM events
    )
    SELECT event_id, user_id,
           CAST(sum(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS n_distinct_so_far
    FROM f
    """,
)
def window_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct event types per user (windows.running_distinct):
    COUNT(DISTINCT) isn't a window function in any engine, so each value's
    first occurrence is flagged with one row_number window and the flags
    running-sum with a second — the vocabulary-growth curve. Both windows
    share the user-key prefix, so the fact shuffles at most twice."""
    from datalake_brief_spark.operators.windows import running_distinct

    e = _t(spark, sf_dir, "events")
    out = running_distinct(e, "user_id", "event_type", "ts", "event_id")
    return out.select(
        "event_id",
        "user_id",
        F.col("n_distinct_so_far").cast("long").alias("n_distinct_so_far"),
    )


@_register(
    "text_vocab_coverage",
    f"""
    WITH tok AS (SELECT unnest({_TOKS}) AS t FROM documents),
    freq AS (SELECT t, count(*) AS f FROM tok GROUP BY 1),
    rk AS (SELECT f, row_number() OVER (ORDER BY f DESC, t) AS r FROM freq),
    tot AS (SELECT sum(f) AS total, count(*) AS nt FROM rk),
    sizes AS (SELECT unnest([10, 25, 50]) AS vocab_size)
    SELECT CAST(s.vocab_size AS BIGINT) AS vocab_size,
           CAST(max(t.nt) AS BIGINT)    AS n_types,
           CAST(sum(CASE WHEN rk.r <= s.vocab_size THEN rk.f ELSE 0 END)
                AS BIGINT)              AS n_covered,
           CAST(max(t.total) AS BIGINT) AS n_tokens,
           round(sum(CASE WHEN rk.r <= s.vocab_size THEN rk.f ELSE 0 END)
                 * 1.0 / max(t.total), 6) AS coverage
    FROM sizes s CROSS JOIN rk CROSS JOIN tot t
    GROUP BY s.vocab_size
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-sizing curve (text.vocab_coverage): share of corpus token
    occurrences covered by the V most frequent types, for V = 10/25/50 —
    the embedding-table-size vs OOV-rate trade. NO global rank over the
    vocabulary: counts collapse to the distinct-FREQUENCY spectrum (Zipf
    keeps it O(√total)) and one tiny window yields the cumulative curve;
    within a frequency band every type contributes equally, so coverage
    is rank-tie-invariant — the oracle's naive rank form lands on the
    identical number."""
    d = _t(spark, sf_dir, "documents").select("text")
    return text.vocab_coverage(d, [10, 25, 50])


@_register(
    "text_batch_padding",
    f"""
    WITH n AS (SELECT len({_TOKS}) AS n FROM documents)
    SELECT CAST(floor(n / 10.0) AS BIGINT)  AS bucket,
           CAST(count(*) AS BIGINT)         AS n_docs,
           CAST(max(n) AS BIGINT)           AS max_len,
           CAST(sum(n) AS BIGINT)           AS n_tokens,
           CAST(count(*) * max(n) - sum(n) AS BIGINT) AS pad_tokens,
           round((count(*) * max(n) - sum(n)) * 1.0
                 / (count(*) * max(n)), 6)  AS pad_fraction
    FROM n GROUP BY 1
    """,
)
def text_batch_padding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucket batching audit (text.batch_padding_stats): documents
    bucketed by token length (width 10), per-bucket padding waste if each
    bucket batches to its own max — the number that says whether
    length-bucketed batching beats pad-to-global-max for a training run.
    Scan-stage bucketing + one partial-aggregated shuffle on the tiny
    bucket key; all arithmetic exact integers."""
    d = _t(spark, sf_dir, "documents").select("text")
    return text.batch_padding_stats(d, bucket_width=10)


@_register(
    "ml_auc_rank",
    """
    WITH spec AS (
      SELECT value AS s, count(*) AS n,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    rk AS (
      SELECT n, np,
             coalesce(sum(n) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED
                                   PRECEDING AND 1 PRECEDING), 0) + 1
               AS min_rank
      FROM spec
    ),
    agg AS (
      SELECT sum(np * (min_rank + (n - 1) / 2.0)) AS rank_sum,
             sum(np) AS n_pos, sum(n) - sum(np) AS n_neg
      FROM rk
    )
    SELECT CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n_neg AS BIGINT) AS n_neg,
           round((rank_sum - n_pos * (n_pos + 1) / 2.0)
                 / (CASE WHEN n_pos > 0 AND n_neg > 0
                         THEN CAST(n_pos AS DOUBLE) * n_neg END), 6) AS auc
    FROM agg
    """,
)
def ml_auc_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC (mlops.auc_score) of the value signal against the
    'purchase' label via the Mann-Whitney rank statistic with midrank tie
    correction — no sampling, no trapezoid. Ranks derive from the
    DISTINCT-SCORE spectrum (rows never globally sort), so the statistic
    is one aggregate + one spectrum window + one reduction, and the
    arithmetic replays bit-for-bit on any engine."""
    from datalake_brief_spark import mlops

    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    scored = e.select(
        F.col("value").alias("score"),
        (F.col("event_type") == "purchase").alias("label"),
    )
    return mlops.auc_score(scored, "score", "label")


@_register(
    "ml_calibration_bins",
    """
    WITH mm AS (SELECT min(value) AS mn, max(value) AS mx FROM events
                WHERE value IS NOT NULL),
    s AS (
      SELECT (value - mn) / (mx - mn) AS s,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events CROSS JOIN mm WHERE value IS NOT NULL
    )
    SELECT least(CAST(floor(s * 10) AS BIGINT), 9) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(s), 6)         AS mean_score,
           round(sum(y) * 1.0 / count(*), 6) AS positive_rate
    FROM s GROUP BY 1
    """,
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability curve (mlops.calibration_bins) of the min-max-normalized
    value signal vs the 'purchase' label: 10 equal-width score bins ×
    (mean predicted, observed positive rate) — the calibration gap
    temperature scaling fixes. Min-max scalars broadcast back (exact on
    both engines, no accumulation), bin edges explicit
    (floor(s·10), 1.0 clamps to bin 9), positive_rate an exact count
    ratio; one tiny keyed aggregate."""
    from datalake_brief_spark import mlops

    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    mm = e.agg(F.min("value").alias("__mn"), F.max("value").alias("__mx"))
    scored = e.crossJoin(F.broadcast(mm)).select(
        ((F.col("value") - F.col("__mn")) / (F.col("__mx") - F.col("__mn"))).alias("score"),
        (F.col("event_type") == "purchase").alias("label"),
    )
    return mlops.calibration_bins(scored, "score", "label", n_bins=10)


@_register(
    "agg_decimal_exact",
    """
    SELECT l_returnflag,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR)
             AS revenue_exact,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2))))
                AS VARCHAR) AS disc_revenue_exact,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact money aggregation in DECIMAL(18,2): float sums are
    order-sensitive at the last ulp (every other aggregate here rounds to
    absorb it), but finance-grade pipelines need sums that are EXACT and
    identical on every engine and every partitioning — which is what
    fixed-point decimal gives. Each FACTOR quantizes to 2dp and the
    per-line product stays EXACT 4dp decimal with no re-quantization —
    any per-line rounding convention is a cross-engine trap twice over
    (double→decimal casts diverge at .xx5 boundaries, and decimal
    DOWNCASTS round in Spark but truncate in DuckDB); the un-quantized
    product has one representation everywhere. Sums are integer
    arithmetic underneath — associative, shuffle-order-proof. Emitted as strings so the driver
    hash compares exact decimal digits, not a float round-trip."""
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    return li.groupBy("l_returnflag").agg(
        F.sum(price).cast("string").alias("revenue_exact"),
        F.sum(disc).cast("string").alias("disc_revenue_exact"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )


@_register(
    "pipeline_curation_v3",
    f"""
    WITH tok AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    pos AS (
      SELECT doc_id, t,
             unnest(range(0, CAST(ceil(len(t) / 8.0) AS BIGINT))) AS idx
      FROM tok
    ),
    segs AS (
      SELECT doc_id, idx,
             array_to_string(t[idx * 8 + 1 : idx * 8 + 8], ' ') AS seg
      FROM pos
    ),
    ranked AS (
      SELECT doc_id, idx, seg,
             row_number() OVER (PARTITION BY seg ORDER BY doc_id, idx) AS rn
      FROM segs
    ),
    kept AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT)                       AS n_segments,
             CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept
      FROM ranked GROUP BY doc_id
    ),
    wtok AS (SELECT doc_id, unnest({_TOKS}) AS w FROM documents),
    wc AS (SELECT doc_id, w, count(*) AS c FROM wtok GROUP BY 1, 2),
    div AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT)   AS n_tokens,
             round(count(*) * 1.0 / sum(c), 6) AS ttr
      FROM wc GROUP BY doc_id
    )
    SELECT k.doc_id, k.n_segments, k.n_kept, d.n_tokens, d.ttr
    FROM kept k JOIN div d ON k.doc_id = d.doc_id
    WHERE k.n_kept * 2 >= k.n_segments
      AND d.ttr >= 0.3
    """,
)
def pipeline_curation_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation pipeline v3 — the round-7 operators composed into ONE
    declarative plan (the integration check: each stage is individually
    attested, this entry proves they chain without materialization):
    corpus-level segment dedup (text.segment_dedup) gates documents to
    majority-novel content (n_kept·2 ≥ n_segments — the RefinedWeb "mostly
    duplicate document" drop), then lexical diversity
    (text.lexical_diversity) gates TTR ≥ 0.3 (template-spam floor).
    Catalyst fuses the whole thing: the two token explosions share the
    scan, each gate is a join on the doc key, nothing collects. Survivor
    rows carry the full audit trail (segment + diversity numbers), which
    is what a curation run ships to its manifest."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    seg = text.segment_dedup(d, segment_words=8).select(
        "doc_id", "n_segments", "n_kept"
    )
    div = text.lexical_diversity(d).select("doc_id", "n_tokens", "ttr")
    out = seg.join(div, "doc_id").filter(
        (F.col("n_kept") * 2 >= F.col("n_segments")) & (F.col("ttr") >= 0.3)
    )
    return out.select("doc_id", "n_segments", "n_kept", "n_tokens", "ttr")


@_register(
    "dq_date_bounds",
    """
    SELECT 'orders.o_orderdate' AS col_name,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) FILTER (WHERE o_orderdate < TIMESTAMP '1992-01-01')
                AS BIGINT) AS n_before_min,
           CAST(count(*) FILTER (WHERE o_orderdate > TIMESTAMP '1998-12-31')
                AS BIGINT) AS n_after_max,
           CAST(count(*) FILTER (WHERE o_orderdate IS NULL) AS BIGINT)
             AS n_null,
           CAST(min(o_orderdate) AS VARCHAR) AS min_seen,
           CAST(max(o_orderdate) AS VARCHAR) AS max_seen
    FROM orders
    UNION ALL
    SELECT 'lineitem.l_shipdate',
           CAST(count(*) AS BIGINT),
           CAST(count(*) FILTER (WHERE l_shipdate < TIMESTAMP '1992-01-01')
                AS BIGINT),
           CAST(count(*) FILTER (WHERE l_shipdate > TIMESTAMP '1998-12-31')
                AS BIGINT),
           CAST(count(*) FILTER (WHERE l_shipdate IS NULL) AS BIGINT),
           CAST(min(l_shipdate) AS VARCHAR),
           CAST(max(l_shipdate) AS VARCHAR)
    FROM lineitem
    """,
)
def dq_date_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp-validity screen (the freshness/sanity DQ check every
    ingestion gate runs): per date column, counts outside the contract
    window [1992-01-01, 1998-12-31], NULL counts, and the observed
    min/max — epoch-zero defaults, writer-clock-skew futures, and torn
    conversions all surface here before they poison retention math. One
    partial-aggregated pass per column (conditional sums over the scan,
    no shuffle beyond the final 1-row reduction); bounds are plan
    literals so the filter folds into the scan stage. min/max emit as
    strings so the driver hash compares calendar values, not epoch
    micro-noise."""

    def screen(df, col: str, label: str):
        lo = F.lit("1992-01-01").cast("timestamp")
        hi = F.lit("1998-12-31").cast("timestamp")
        c = F.col(col)
        return df.agg(
            F.lit(label).alias("col_name"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum((c < lo).cast("long")).cast("long").alias("n_before_min"),
            F.sum((c > hi).cast("long")).cast("long").alias("n_after_max"),
            F.sum(c.isNull().cast("long")).cast("long").alias("n_null"),
            F.min(c).cast("string").alias("min_seen"),
            F.max(c).cast("string").alias("max_seen"),
        )

    o = screen(_t(spark, sf_dir, "orders"), "o_orderdate", "orders.o_orderdate")
    l = screen(
        _t(spark, sf_dir, "lineitem"), "l_shipdate", "lineitem.l_shipdate"
    )
    return o.unionByName(l)


@_register(
    "join_null_safe",
    _NULLED_SQL
    + """
    , dim AS (SELECT seg, count(*) AS seg_n FROM nulled GROUP BY seg)
    SELECT n.seg, CAST(max(d.seg_n) AS BIGINT) AS seg_n,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM nulled n JOIN dim d ON n.seg IS NOT DISTINCT FROM d.seg
    GROUP BY n.seg
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (Spark eqNullSafe ⟺ SQL IS NOT DISTINCT FROM):
    enrich the nulled customer view with per-segment counts where the
    NULL segment is a real group — standard equality silently DROPS every
    null-keyed row from an enrichment join (NULL = NULL is unknown),
    which is the classic lost-rows bug in dimension joins over dirty
    keys. The gate proves n_rows == seg_n for every group INCLUDING the
    NULL one. Broadcast dim; null-safe equality still hash-partitions
    (NULL is just a key value), so the plan stays a broadcast hash join —
    no nested-loop fallback."""
    n = _nulled_customer(spark, sf_dir)
    dim = n.groupBy(F.col("seg").alias("__seg")).agg(
        F.count(F.lit(1)).alias("seg_n")
    )
    j = n.join(F.broadcast(dim), n["seg"].eqNullSafe(dim["__seg"]))
    return j.groupBy("seg").agg(
        F.max("seg_n").cast("long").alias("seg_n"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )


@_register(
    "setop_union_evolved",
    """
    SELECT c_custkey AS id, c_acctbal AS bal,
           CAST(NULL AS BIGINT) AS nationkey, 'cust' AS src
    FROM customer
    UNION ALL
    SELECT s_suppkey, CAST(NULL AS DOUBLE), s_nationkey, 'supp'
    FROM supplier
    """,
)
def setop_union_evolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union (unionByName(allowMissingColumns=True)):
    two relations with only partially overlapping columns union by NAME,
    each side's missing columns null-filled — the operation every
    multi-source landing zone needs when feeds evolve at different
    speeds (positional UNION would silently misalign columns instead).
    Pure plan surgery: no shuffle, the union is a physical concat."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_acctbal").alias("bal"),
        F.lit("cust").alias("src"),
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("id"),
        F.col("s_nationkey").alias("nationkey"),
        F.lit("supp").alias("src"),
    )
    return c.unionByName(s, allowMissingColumns=True).select(
        "id", "bal", "nationkey", "src"
    )


@_register(
    "dedup_edit_distance",
    """
    WITH t AS (SELECT p_partkey AS id, p_name AS nm FROM part),
    tok AS (SELECT id, nm, unnest(string_split(nm, ' ')) AS w FROM t),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.nm AS na, b.nm AS nb
      FROM tok a JOIN tok b ON a.w = b.w AND a.id < b.id
      WHERE abs(length(a.nm) - length(b.nm)) <= 2
    )
    SELECT CAST(levenshtein(na, nb) AS BIGINT) AS dist,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM cand WHERE levenshtein(na, nb) <= 2
    GROUP BY 1
    """,
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup profile (dedup.edit_distance_pairs) over
    part names: pair counts per levenshtein ≤ 2 — the typo-class
    complement of the set-similarity dedup family (MinHash catches token
    swaps; Levenshtein catches in-token edits). Blocking contract stated
    and replayed by the oracle: candidates share ≥1 token and differ ≤2
    in length (the length filter is lossless, lev ≥ |Δlen|). Inverted-
    index equi-join candidates, exact JVM levenshtein verify on
    candidates only — never all-pairs."""
    p = _t(spark, sf_dir, "part")
    pairs = dedup.edit_distance_pairs(p, "p_partkey", "p_name", max_dist=2)
    return pairs.groupBy(F.col("dist").cast("long").alias("dist")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )


@_register(
    "emb_dim_stats",
    """
    WITH e AS (
      SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
             generate_subscripts(embedding, 1) AS dim
      FROM embeddings
    )
    SELECT CAST(dim - 1 AS BIGINT) AS dim,
           round(avg(x), 4)           AS mean,
           round(stddev_samp(x), 4)   AS std,
           round(min(x), 4)           AS min_x,
           round(max(x), 4)           AS max_x
    FROM e GROUP BY dim
    """,
)
def emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION embedding health (the complement of the norm
    profile): mean/std/min/max of each coordinate — dead dimensions
    (std ≈ 0) waste index bytes and dominant ones distort cosine geometry
    before any ANN structure is built. posexplode over the vector → one
    partial-aggregated shuffle on the tiny dim key; at 100 TB this is a
    single pass with map-side combine into dim-count cells."""
    e = _t(spark, sf_dir, "embeddings")
    x = e.select(
        F.posexplode(similarity.as_double_array(F.col("embedding"))).alias(
            "dim", "x"
        )
    )
    return x.groupBy(F.col("dim").cast("long").alias("dim")).agg(
        F.round(F.avg("x"), 4).alias("mean"),
        F.round(F.stddev_samp("x"), 4).alias("std"),
        F.round(F.min("x"), 4).alias("min_x"),
        F.round(F.max("x"), 4).alias("max_x"),
    )


@_register(
    "events_pareto",
    """
    WITH uc AS (SELECT user_id, count(*) AS c FROM events GROUP BY 1),
    rk AS (
      SELECT c,
             row_number() OVER (ORDER BY c DESC, user_id)        AS r,
             sum(c) OVER (ORDER BY c DESC, user_id
                          ROWS UNBOUNDED PRECEDING)              AS cum,
             sum(c) OVER ()                                      AS total,
             count(*) OVER ()                                    AS n_users
      FROM uc
    )
    SELECT CAST(min(r) AS BIGINT) AS users_for_80pct,
           CAST(max(n_users) AS BIGINT) AS n_users,
           round(min(r) * 1.0 / max(n_users), 6) AS user_share,
           CAST(max(total) AS BIGINT) AS n_events
    FROM rk WHERE cum * 1.0 / total >= 0.8
    """,
)
def events_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration (the 80/20 screen): the smallest number of
    top users that generate ≥80% of events, and their share of the user
    base — the number that says whether per-key state, quotas, or skew
    salting will matter.

    Scale shape (VERDICT r7 ask #2 — the old form ranked the |users|
    frame through ONE unpartitioned WindowExec): aggregate users to the
    (event-count → n_users) SPECTRUM first — the rank only depends on
    the count value, and every user inside an equal-count run
    contributes exactly ``c`` events, so the oracle's row-level
    ``min(r) WHERE cum/total >= 0.8`` reduces to closed-form arithmetic
    inside one boundary spectrum row: r* = users_before + k, k = the
    smallest 1 ≤ k ≤ n_users(c) with (events_before + k·c)/T ≥ 0.8.
    The spectrum's exclusive prefixes run as the 256-bin two-phase
    cumsum (windows.binned_prefix_sums), so no window ever sees a
    data-scale frame even if the count spectrum grows. k derives from a
    ceil() candidate VERIFIED at ±2 with the oracle's own double
    comparison form, so float boundary rounding can never shift the
    result off DuckDB's (the condition is monotone in k). The user_id
    tiebreak in the oracle's ORDER BY is irrelevant to min(r): users in
    an equal-count run are interchangeable."""
    e = _t(spark, sf_dir, "events")
    uc = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    spec = uc.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("nu"))
    spec = spec.withColumn("ev", F.col("c") * F.col("nu"))
    # descending-count order via the negated numeric key; spectrum keys
    # are distinct (groupBy c), so the order is unique without a tiebreak
    pre = windows.binned_prefix_sums(
        spec,
        F.col("c") * -1,
        {"ev0": F.col("ev"), "nu0": F.col("nu")},
    )
    tot = spec.agg(
        F.sum("ev").cast("long").alias("__t"), F.sum("nu").cast("long").alias("__u")
    )
    j = pre.crossJoin(F.broadcast(tot))
    t = F.col("__t")
    # the unique boundary row: threshold not reached before this count
    # group, reached by its end (monotone cum ⇒ exactly one row)
    hit = j.filter(
        ((F.col("ev0") + F.col("ev")) / t >= 0.8) & ~(F.col("ev0") / t >= 0.8)
    )

    def _cond(k):
        return (F.col("ev0") + k * F.col("c")) / t >= 0.8

    k0 = F.greatest(
        F.lit(1).cast("long"),
        F.least(
            F.ceil((F.lit(0.8) * t - F.col("ev0")) / F.col("c")).cast("long"),
            F.col("nu"),
        ),
    )
    hit = hit.withColumn("__k0", k0)
    kc = F.col("__k0")
    k = (
        F.when((kc - 2 >= 1) & _cond(kc - 2), kc - 2)
        .when((kc - 1 >= 1) & _cond(kc - 1), kc - 1)
        .when(_cond(kc), kc)
        .when(_cond(kc + 1), kc + 1)
        .otherwise(kc + 2)
    )
    r = F.col("nu0") + k
    return hit.select(
        r.cast("long").alias("users_for_80pct"),
        F.col("__u").cast("long").alias("n_users"),
        F.round(r / F.col("__u"), 6).alias("user_share"),
        t.cast("long").alias("n_events"),
    )


@_register(
    "orders_interarrival",
    """
    WITH gaps AS (
      SELECT date_diff('day',
                       lag(o_orderdate) OVER (PARTITION BY o_custkey
                                              ORDER BY o_orderdate, o_orderkey),
                       o_orderdate) AS gap_days
      FROM orders
    )
    SELECT CAST(floor(gap_days / 30.0) AS BIGINT) AS gap_bucket_30d,
           CAST(count(*) AS BIGINT)       AS n_gaps,
           round(avg(gap_days), 4)        AS mean_gap_days
    FROM gaps WHERE gap_days IS NOT NULL
    GROUP BY 1
    """,
)
def orders_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order interarrival profile: day gaps between
    consecutive orders (one lag window on the customer key), bucketed to
    30-day bands — the purchase-cadence distribution behind churn and
    replenishment models. The bucket histogram is what ships at scale;
    raw gaps stay distributed. Integer day arithmetic on both engines
    (datediff on dates), deterministic via the order-key tiebreak."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderdate")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).alias("gap_days")
    ).filter(F.col("gap_days").isNotNull())
    return gaps.groupBy(
        F.floor(F.col("gap_days") / 30).cast("long").alias("gap_bucket_30d")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.round(F.avg("gap_days"), 4).alias("mean_gap_days"),
    )


@_register(
    "txlog_delete_dv",
    """
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 50000)
    GROUP BY o_orderstatus
    """,
    headline=True,
)
def txlog_delete_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE via deletion vectors (txlog.delete_where_dv +
    read_mor — the Delta DV / Iceberg positional-delete shape): matched
    row POSITIONS land in a parquet sidecar keyed by (file position key,
    _metadata.row_index) and the commit is metadata-only — NO data file
    is rewritten (pinned in pytest: the file list is byte-identical
    across the delete). Reads anti-join the broadcast DV union, so MOR
    read cost is scan + a hash anti-join sized by DELETED rows, not table
    size — the right trade for frequent small deletes (GDPR erasure) on
    huge files. SQL three-valued semantics match the CoW twin: only
    predicate-TRUE rows vanish. The oracle replays the delete as a
    NOT(pred) filter (NULL-free columns here, so the forms agree)."""
    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        # r13: land the table multi-file (guide §6 — the single-split
        # source would otherwise become ONE data file and every MOR read
        # of it a serial scan; 8 files ≈ parallel read at bench scale,
        # 0.36 s → 0.27 s measured, and real tables are multi-file anyway)
        txlog.append(o.repartition(8), path)
        txlog.delete_where_dv(
            spark,
            path,
            (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") < 50000),
        )

    return aggregate(
        txlog.read_mor(spark, _lakehouse_table("delete_dv", sf_dir, build)),
        ["o_orderstatus"],
        [
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        ],
    )


@_register(
    "txlog_update_dv",
    """
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(CASE WHEN o_orderstatus = 'O'
                          THEN o_totalprice * 1.1
                          ELSE o_totalprice END), 2) AS sum_price
    FROM orders
    GROUP BY o_orderstatus
    """,
    headline=True,
)
def txlog_update_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read UPDATE (txlog.update_where_dv + read_mor — the
    Delta/Iceberg DV-backed UPDATE shape): matched rows' POSITIONS land
    in a deletion-vector sidecar and ONLY the rewritten rows append, in
    one atomic commit — a 1%-row update costs 1% of the data, where the
    CoW twin (txlog_update) rewrites every touched file. Same 10%
    open-order repricing and the same CASE-over-raw-table oracle as the
    CoW entry, so the two mutation families are pinned to the IDENTICAL
    logical result; the bare IEEE multiply keeps updated values
    bit-identical across engines. pytest additionally pins no-file-
    rewritten, CDF delete+insert pairs, DV-dead rows never re-updated,
    and OPTIMIZE materialization (tests/test_txlog.py round-8 class)."""
    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        # r13: multi-file layout for a parallel MOR read (see txlog_delete_dv)
        txlog.append(o.repartition(8), path)
        txlog.update_where_dv(
            spark,
            path,
            F.col("o_orderstatus") == "O",
            {"o_totalprice": F.col("o_totalprice") * 1.1},
        )

    return aggregate(
        txlog.read_mor(spark, _lakehouse_table("update_dv", sf_dir, build)),
        ["o_orderstatus"],
        [
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        ],
    )


@_register(
    "asof_join_nearest",
    """
    WITH l AS (SELECT event_id, user_id, ts FROM events),
    r AS (SELECT o_custkey AS user_id,
                 CAST(o_orderdate AS TIMESTAMP) AS rts, o_orderkey
          FROM orders),
    ranked AS (
      SELECT l.event_id, r.o_orderkey,
             row_number() OVER (
               PARTITION BY l.event_id
               ORDER BY abs(epoch(l.ts) - epoch(r.rts)),
                        CASE WHEN r.rts <= l.ts THEN 0 ELSE 1 END,
                        r.o_orderkey DESC
             ) AS rn
      FROM l JOIN r USING (user_id)
    )
    SELECT e.event_id, e.user_id, k.o_orderkey
    FROM l e
    LEFT JOIN (SELECT event_id, o_orderkey FROM ranked WHERE rn = 1) k
      USING (event_id)
    """,
)
def asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """merge_asof direction='nearest' — completing the as-of surface
    (backward pass@r3, forward r6-band): each event attaches the order
    whose date is CLOSEST in time, equal distances preferring the
    backward match and timestamp ties the greatest order key. Scale
    shape: the SAME single union + key shuffle as the directional forms,
    with both window carries sharing one exchange — never the per-key
    quadratic join the ORACLE deliberately uses as ground truth (the
    row_number over |l|×|r| pairs ranks by the identical
    (distance, backward-first, key DESC) triple; DuckDB's epoch() is
    double seconds exactly like Spark's timestamp→double cast, so the
    distance arithmetic is the same IEEE expression on both engines)."""
    from datalake_brief_spark.operators.joins import asof_join

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
        "o_orderkey",
    )
    out = asof_join(
        e,
        o,
        key="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        value_cols=["o_orderkey"],
        right_tiebreak="o_orderkey",
        direction="nearest",
    )
    return out.select("event_id", "user_id", "o_orderkey")


@_register(
    "text_url_canonical",
    """
    WITH raw AS (
      SELECT 'HTTPS://WWW.Example' || CAST(doc_id % 7 AS VARCHAR)
             || '.COM:443/Docs/' || source || '/p'
             || CAST(doc_id % 50 AS VARCHAR)
             || CASE doc_id % 3
                  WHEN 0 THEN '/?utm_source=feed&b=2&a=1'
                  WHEN 1 THEN '?a=1&b=2&utm_campaign=x#top'
                  ELSE '///#frag' END AS url
      FROM documents
    ),
    parts AS (
      -- DuckDB regexp_extract yields NULL on no-match where Spark yields
      -- '' — coalesce the optional groups so both engines agree
      SELECT lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             lower(regexp_extract(u, '^[^:/?]+://([^/?]+)', 1)) AS hostport,
             coalesce(regexp_extract(u, '^[^:/?]+://[^/?]*(/[^?]*)?', 1), '') AS path,
             coalesce(regexp_extract(u, '\\?(.*)$', 1), '') AS query
      FROM (SELECT regexp_replace(url, '#.*', '') AS u FROM raw)
    ),
    canon AS (
      SELECT scheme || '://'
             || CASE WHEN scheme = 'http' AND hostport LIKE '%:80'
                       THEN regexp_replace(hostport, ':80$', '')
                     WHEN scheme = 'https' AND hostport LIKE '%:443'
                       THEN regexp_replace(hostport, ':443$', '')
                     ELSE hostport END
             || CASE WHEN regexp_replace(path, '/+$', '') = '' THEN '/'
                     ELSE regexp_replace(path, '/+$', '') END
             || CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS url
      FROM (
        -- coalesce: DuckDB array_to_string of an EMPTY list is NULL
        -- where Spark's array_join is ''
        SELECT scheme, hostport, path,
               coalesce(array_to_string(list_sort(list_filter(
                 string_split(query, '&'),
                 p -> p <> '' AND NOT starts_with(p, 'utm_')
                      AND NOT starts_with(p, 'gclid=')
                      AND NOT starts_with(p, 'fbclid=')
                      AND NOT starts_with(p, 'ref='))), '&'), '') AS qs
        FROM parts
      )
    )
    SELECT url, CAST(count(*) AS BIGINT) AS n_docs FROM canon GROUP BY 1
    """,
)
def text_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (text.canonicalize_url) — the normalization
    before URL-level dedup of a web corpus: lowercase scheme/host,
    default ports and fragments stripped, tracking params (utm_*, gclid,
    fbclid, ref) removed with the survivors SORTED, trailing slashes
    trimmed. The documents table has no URL column, so both engines
    synthesize the SAME deliberately-messy URLs from (doc_id, source) —
    uppercase host, explicit :443, three query/fragment/trailing-slash
    variants — and the canonical group-by must collapse variant pairs
    identically (mod-3 classes 0 and 1 canonicalize to the same key).
    Pure JVM expressions: regexp + higher-order array filter/sort —
    scan-stage, one group-by shuffle on the canonical key at any scale."""
    d = _t(spark, sf_dir, "documents")
    raw = d.select(
        F.concat(
            F.lit("HTTPS://WWW.Example"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".COM:443/Docs/"),
            F.col("source"),
            F.lit("/p"),
            (F.col("doc_id") % 50).cast("string"),
            F.when(
                F.col("doc_id") % 3 == 0, F.lit("/?utm_source=feed&b=2&a=1")
            )
            .when(F.col("doc_id") % 3 == 1, F.lit("?a=1&b=2&utm_campaign=x#top"))
            .otherwise(F.lit("///#frag")),
        ).alias("url")
    )
    return (
        raw.select(text.canonicalize_url("url").alias("url"))
        .groupBy("url")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


@_register(
    "txlog_partitioned_read",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(o_totalprice), 2) AS sum_price,
           TRUE AS pruned_files
    FROM orders WHERE o_orderstatus = 'F'
    """,
)
def txlog_partitioned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned append + partition-pruned read (txlog.append
    partition_by): the batch lands under __part_<col>=value directories
    with the real columns INLINE (so partitioned and unpartitioned
    groups always read in one plain scan — rewrites land unpartitioned),
    and each file's partition value rides the commit as exact min==max
    stats, making partition pruning a zero-extra-machinery case of stats
    pruning. pruned_files pins that the scan actually read a strict file
    subset (partition pruning happened at PLAN BUILD, from the log
    alone); the aggregate pins the per-partition rows against the raw
    oracle."""
    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        txlog.append(o, path, partition_by=["o_orderstatus"])

    path = _lakehouse_table("partitioned", sf_dir, build)
    pruned = txlog.read_pruned(spark, path, "o_orderstatus", "F", "F")
    subset = len(pruned.inputFiles()) < len(txlog.visible_files(path))
    return pruned.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    ).withColumn("pruned_files", F.lit(subset))


@_register(
    "txlog_reorg_purge",
    """
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(o_totalprice), 2) AS sum_price,
           TRUE AS no_dvs_left
    FROM orders
    WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 50000)
    GROUP BY o_orderstatus
    """,
)
def txlog_reorg_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REORG ... APPLY (PURGE) (txlog.reorg_purge): after a DV delete,
    rewrite EXACTLY the files carrying dead positions — large files the
    small-file OPTIMIZE criterion never touches — so the table returns
    to the zero-read-overhead pure state. Attested end-to-end: a raw
    parquet scan of the visible files (which applies no deletion
    vector) must equal the NOT(pred) oracle — only a correct purge
    makes the raw bytes match the logical table — and
    no_dvs_left pins that the sidecar state is actually empty, not just
    masked by the MOR anti-join. The advisor channel
    (needs_optimize.reorg_recommended) and the retired-column purge are
    pinned in pytest."""
    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        # r13: land the table multi-file (guide §6 — the single-split
        # source would otherwise become ONE data file and every MOR read
        # of it a serial scan; 8 files ≈ parallel read at bench scale,
        # 0.36 s → 0.27 s measured, and real tables are multi-file anyway)
        txlog.append(o.repartition(8), path)
        txlog.delete_where_dv(
            spark,
            path,
            (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") < 50000),
        )
        txlog.reorg_purge(spark, path)

    path = _lakehouse_table("reorg_purge", sf_dir, build)
    no_dvs = not txlog.visible_dvs(path)
    return aggregate(
        spark.read.parquet(*txlog.visible_files(path)),
        ["o_orderstatus"],
        [
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        ],
    ).withColumn("no_dvs_left", F.lit(no_dvs))


@_register(
    "txlog_rename_column",
    """
    SELECT o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def txlog_rename_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column mapping (txlog.rename_column / drop_column — the Delta
    column-mapping name mode): RENAME and DROP COLUMN as metadata-only
    commits, zero data files rewritten at any table size — files keep
    each column's immutable PHYSICAL name and readers alias/project at
    plan build; retired physical names are reserved forever so recycled
    logical names can never resurrect old bytes (pinned in pytest along
    with lazy purge-on-rewrite, per-version time travel of the logical
    schema, and mutation/pruning/CDF/clone composition). Here the table
    renames o_orderstatus→status and drops o_orderpriority; the oracle
    replays both as a SELECT alias over the raw table, so a reader that
    resolves the mapping wrongly (or resurrects the dropped column into
    the aggregate) hash-mismatches."""
    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
        )
        txlog.append(o, path)
        txlog.rename_column(path, "o_orderstatus", "status")
        txlog.drop_column(path, "o_orderpriority")

    return aggregate(
        txlog.read(spark, _lakehouse_table("rename_col", sf_dir, build)),
        ["status"],
        [
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        ],
    )


@_register(
    "events_session_stats",
    """
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sid AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM g
    ),
    sess AS (
      SELECT user_id, session_id,
             count(*) AS n_events,
             CAST((epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000
                  AS BIGINT) AS dur_s
      FROM sid GROUP BY 1, 2
    )
    SELECT CAST(floor(dur_s / 600.0) AS BIGINT) AS dur_bucket_10m,
           CAST(count(*) AS BIGINT)             AS n_sessions,
           round(avg(n_events), 4)              AS avg_events,
           CAST(max(n_events) AS BIGINT)        AS max_events
    FROM sess GROUP BY 1
    """,
)
def events_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shape profile: sessionize (30-min gap), aggregate each
    session to (duration, size), then histogram by 10-minute duration
    bucket — the engagement-distribution view behind timeout tuning and
    bot screening (1-event sessions pile in bucket 0; scrapers ride the
    long tail). Both windows and both aggregates share the user-key
    prefix; durations are integer microsecond arithmetic floored to
    whole seconds on both engines."""
    from datalake_brief_spark.operators.windows import sessionize

    e = _t(spark, sf_dir, "events")
    s = sessionize(e, "user_id", "ts", gap_seconds=1800)
    sess = s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
            / F.lit(1000000)
        )
        .cast("long")
        .alias("dur_s"),
    )
    return sess.groupBy(
        F.floor(F.col("dur_s") / 600).cast("long").alias("dur_bucket_10m")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.round(F.avg("n_events"), 4).alias("avg_events"),
        F.max("n_events").cast("long").alias("max_events"),
    )


@_register(
    "events_burstiness",
    """
    WITH gaps AS (
      SELECT user_id,
             (epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                     ORDER BY ts, event_id))
               / 1000000.0 AS gap_s
      FROM events
    ),
    per AS (
      SELECT user_id, count(*) AS n_gaps,
             avg(gap_s) AS mu, stddev_samp(gap_s) AS sd
      FROM gaps WHERE gap_s IS NOT NULL GROUP BY 1
    )
    SELECT user_id, CAST(n_gaps AS BIGINT) AS n_gaps,
           round((sd - mu) / nullif(sd + mu, 0), 4) AS burstiness
    FROM per
    """,
)
def events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness index per user (Goh & Barabási 2008):
    B = (σ−μ)/(σ+μ) over interarrival gaps — −1 for metronome traffic,
    0 for Poisson, →1 for extreme bursts; the signal that separates
    schedulers and bots from humans before any model. One lag window on
    the user key + one keyed aggregate; gaps are exact microsecond
    integers scaled to seconds, <2-gap users yield NULL (σ undefined)."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = e.select(
        "user_id",
        (
            (F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w))
            / F.lit(1000000.0)
        ).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    per = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.avg("gap_s").alias("__mu"),
        F.stddev_samp("gap_s").alias("__sd"),
    )
    b = (F.col("__sd") - F.col("__mu")) / F.when(
        (F.col("__sd") + F.col("__mu")) != 0, F.col("__sd") + F.col("__mu")
    )
    return per.select("user_id", "n_gaps", F.round(b, 4).alias("burstiness"))


@_register(
    "ml_pr_at_thresholds",
    """
    WITH mm AS (SELECT min(value) AS mn, max(value) AS mx FROM events
                WHERE value IS NOT NULL),
    s AS (
      SELECT (value - mn) / (mx - mn) AS s,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events CROSS JOIN mm WHERE value IS NOT NULL
    ),
    thr AS (SELECT unnest(CAST([0.1, 0.3, 0.5, 0.7, 0.9] AS DOUBLE[])) AS threshold)
    SELECT threshold,
           CAST(sum(CASE WHEN s >= threshold THEN y ELSE 0 END) AS BIGINT) AS tp,
           CAST(sum(CASE WHEN s >= threshold THEN 1 - y ELSE 0 END) AS BIGINT) AS fp,
           round(sum(CASE WHEN s >= threshold THEN y ELSE 0 END) * 1.0
                 / nullif(sum(CASE WHEN s >= threshold THEN 1 ELSE 0 END), 0), 6)
             AS precision,
           round(sum(CASE WHEN s >= threshold THEN y ELSE 0 END) * 1.0
                 / nullif(sum(y), 0), 6) AS recall
    FROM s CROSS JOIN thr
    GROUP BY threshold
    """,
)
def ml_pr_at_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision-recall curve at fixed operating points (the
    threshold-picking table a filter heuristic ships with): per threshold
    over the min-max-normalized score, tp/fp and precision/recall as
    exact count ratios — the curve complement of the single-point
    classification_report and the threshold-free AUC. One scan with the
    threshold list as a broadcast cross (5 rows), one tiny keyed agg;
    degenerate cells (no predicted positives) yield NULL precision."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    mm = e.agg(F.min("value").alias("__mn"), F.max("value").alias("__mx"))
    scored = e.crossJoin(F.broadcast(mm)).select(
        ((F.col("value") - F.col("__mn")) / (F.col("__mx") - F.col("__mn"))).alias("s"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    thr = spark.createDataFrame(
        [(t,) for t in (0.1, 0.3, 0.5, 0.7, 0.9)], "threshold double"
    )
    j = scored.crossJoin(F.broadcast(thr))
    hit = (F.col("s") >= F.col("threshold")).cast("int")
    return j.groupBy("threshold").agg(
        F.sum(hit * F.col("y")).cast("long").alias("tp"),
        F.sum(hit * (1 - F.col("y"))).cast("long").alias("fp"),
        F.round(
            F.sum(hit * F.col("y"))
            / F.when(F.sum(hit) > 0, F.sum(hit)),
            6,
        ).alias("precision"),
        F.round(
            F.sum(hit * F.col("y"))
            / F.when(F.sum("y") > 0, F.sum("y")),
            6,
        ).alias("recall"),
    )


@_register(
    "customer_rfm",
    """
    WITH mx AS (SELECT max(o_orderdate) AS d FROM orders),
    per AS (
      SELECT o_custkey,
             date_diff('day', max(o_orderdate), (SELECT d FROM mx)) AS rec,
             count(*) AS freq,
             sum(o_totalprice) AS mon
      FROM orders GROUP BY 1
    ),
    scored AS (
      SELECT ntile(5) OVER (ORDER BY rec, o_custkey)      AS r,
             ntile(5) OVER (ORDER BY freq DESC, o_custkey) AS f,
             ntile(5) OVER (ORDER BY mon DESC, o_custkey)  AS m
      FROM per
    )
    SELECT CAST(r AS BIGINT) AS r, CAST(f AS BIGINT) AS f,
           CAST(m AS BIGINT) AS m,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM scored GROUP BY 1, 2, 3
    """,
)
def customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (the classic CRM cube): per customer recency
    (days since last order, vs the corpus max date), frequency (order
    count), monetary (total spend), each cut into quintiles — 1 = best —
    and the (r, f, m) cell census. Champions sit at (1,1,1); win-back
    campaigns read the (5,1,1) cell.

    Scale shape (VERDICT r7 ask #3 — the old form ran THREE global
    ntile(5) windows over the |customers| frame, three Exchange
    SinglePartition sorts): each dimension's exact global rank now comes
    from windows.two_phase_rank (256 order-preserving value bins →
    parallel per-bin row_numbers → driver-scale offset cumsum broadcast
    back), and ntile is then a closed-form expression of (rank, n):
    with base = ⌊n/5⌋ and rem = n mod 5, the first rem tiles hold
    base+1 rows — exactly SQL NTILE. The custkey tiebreak makes every
    total order unique, so ntile's tie sensitivity is fully folded into
    the rank; descending dimensions rank on the negated numeric key."""
    o = _t(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_orderdate").alias("__d"))
    per = (
        o.crossJoin(F.broadcast(mx))
        .groupBy("o_custkey")
        .agg(
            F.datediff(F.max("__d"), F.max("o_orderdate")).alias("rec"),
            F.count(F.lit(1)).alias("freq"),
            F.sum("o_totalprice").alias("mon"),
        )
    )
    per = windows.two_phase_rank(per, F.col("rec"), ["o_custkey"], out="__rk_r")
    per = windows.two_phase_rank(per, F.col("freq") * -1, ["o_custkey"], out="__rk_f")
    per = windows.two_phase_rank(per, F.col("mon") * -1, ["o_custkey"], out="__rk_m")
    cnt = per.agg(F.count(F.lit(1)).cast("long").alias("__n"))

    def _ntile5(rank_col: str):
        n, rk = F.col("__n"), F.col(rank_col)
        base = F.floor(n / 5).cast("long")
        rem = n % 5
        cut = rem * (base + 1)
        return (
            F.when(rk <= cut, F.ceil(rk / (base + 1)))
            .otherwise(rem + F.ceil((rk - cut) / base))
            .cast("long")
        )

    scored = per.crossJoin(F.broadcast(cnt)).select(
        _ntile5("__rk_r").alias("r"),
        _ntile5("__rk_f").alias("f"),
        _ntile5("__rk_m").alias("m"),
    )
    return scored.groupBy("r", "f", "m").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    )


@_register(
    "txlog_dv_metrics",
    """
    SELECT CAST(count(*) FILTER (WHERE o_orderstatus = 'F'
                                   AND o_totalprice < 50000) AS BIGINT)
             AS n_dv_rows,
           TRUE AS matches_mor_gap,
           TRUE AS has_dv_files
    FROM orders
    """,
)
def txlog_dv_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DV read-amplification gate (txlog.dv_metrics): sidecar-counted
    deleted rows must equal BOTH the SQL count of the deleted predicate
    AND the raw-scan−read row gap — three independent derivations
    of the same number (sidecar metadata, source relation, scan
    difference) pinned to agree. The metrics themselves are metadata +
    sidecar reads only; this is the signal that schedules OPTIMIZE on a
    merge-on-read table."""
    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        # r13: land the table multi-file (guide §6 — the single-split
        # source would otherwise become ONE data file and every MOR read
        # of it a serial scan; 8 files ≈ parallel read at bench scale,
        # 0.36 s → 0.27 s measured, and real tables are multi-file anyway)
        txlog.append(o.repartition(8), path)
        txlog.delete_where_dv(
            spark,
            path,
            (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") < 50000),
        )

    path = _lakehouse_table("delete_dv", sf_dir, build)
    met = txlog.dv_metrics(spark, path)
    plain = spark.read.parquet(*txlog.visible_files(path)).agg(
        F.count(F.lit(1)).alias("__p")
    )
    mor = txlog.read_mor(spark, path).agg(F.count(F.lit(1)).alias("__m"))
    return (
        met.crossJoin(F.broadcast(plain))
        .crossJoin(F.broadcast(mor))
        .select(
            "n_dv_rows",
            (F.col("__p") - F.col("__m") == F.col("n_dv_rows")).alias(
                "matches_mor_gap"
            ),
            (F.col("n_files_with_dv") > 0).alias("has_dv_files"),
        )
    )


@_register(
    "graph_kcore_designed",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS id,
           CAST(CASE WHEN n_nationkey <= 4 THEN 4
                     WHEN n_nationkey <= 12 THEN 2
                     ELSE 1 END AS BIGINT) AS core
    FROM nation
    """,
)
def graph_kcore_designed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core decomposition (graph.core_numbers, h-index iteration)
    attested on a DESIGNED graph with closed-form coreness — the
    components-chain pattern: the 25 nation nodes form a 5-clique
    (coreness 4), an 8-cycle (coreness 2), and a 12-path (coreness 1),
    built from SQL-expressible edge rules, so the oracle states the
    exact expected core of every node with no iterative replay. The
    three regimes stress the algorithm differently: the clique must NOT
    erode below 4, the cycle must stabilize at 2 (degree alone says 2
    everywhere but a path's endpoints pull neighbors down), and the path
    must cascade all the way to 1 — the h-index iteration's
    monotone-descent argument in miniature."""
    from datalake_brief_spark.operators.graph import core_numbers

    n = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("k")
    )
    a = n.select(F.col("k").alias("u"))
    b = n.select(F.col("k").alias("v"))
    clique = (
        a.crossJoin(b)
        .filter((F.col("u") < F.col("v")) & (F.col("v") <= 4))
        .select("u", "v")
    )
    cycle = (
        n.filter((F.col("k") >= 5) & (F.col("k") <= 12))
        .select(
            F.col("k").alias("u"),
            F.when(F.col("k") == 12, F.lit(5)).otherwise(F.col("k") + 1).alias("v"),
        )
    )
    path = (
        n.filter((F.col("k") >= 13) & (F.col("k") <= 23))
        .select(F.col("k").alias("u"), (F.col("k") + 1).alias("v"))
    )
    edges = clique.unionByName(cycle).unionByName(path)
    out = core_numbers(edges, rounds=15, src_col="u", dst_col="v")
    return out.select(
        F.col("id").cast("long").alias("id"),
        F.col("core").cast("long").alias("core"),
    )


@_register(
    "txlog_log_retention",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT)    AS n_rows,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def txlog_log_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log retention + the ``_last_checkpoint`` pointer at the driver
    gate (VERDICT r10 ask #1 — the last unbounded-growth path): orders
    lands in 12 modulo-band appends (checkpoint at 10, pointer written),
    then ``expire_log(retain_versions=3)`` reclaims every commit below
    the version-10 checkpoint. The build ASSERTS the retention contract —
    floor == 10, the pointer naming the newest checkpoint, tip resolution
    WITHOUT a log listing, and the deterministic named-floor error for a
    below-horizon time travel — and the query reads the post-expiry
    snapshot, which must still equal the full raw relation (an expiry
    that loses or duplicates any band's rows hash-mismatches here).
    Cites txlog.expire_log / _LAST_CP; the Delta logRetentionDuration +
    _last_checkpoint design."""
    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("o_totalprice")
        )
        for b in range(12):
            txlog.append(
                o.filter(F.pmod("o_orderkey", F.lit(12)) == b).coalesce(1),
                path,
                stats_cols=["o_orderkey"],
            )
        reclaimed = txlog.expire_log(path, retain_versions=3)
        if not reclaimed:
            raise AssertionError("expire_log reclaimed nothing at tip 12")
        if txlog._versions(path)[0] != 10:  # noqa: SLF001
            raise AssertionError("retention floor must be the v10 checkpoint")
        if txlog._pointer_version(path) != 10:  # noqa: SLF001
            raise AssertionError("_last_checkpoint must name checkpoint 10")
        # 12 appends + the protocol commit the first expiry writes to
        # declare the log-retention READER FEATURE (r11 ADVICE: gate the
        # irreversible layout change like DVs/column-mapping do)
        if txlog.current_version(path) != 13:
            raise AssertionError("tip must be 12 appends + feature commit")
        feats = txlog.table_protocol(path).get("reader_features", [])
        if "log-retention" not in feats:
            raise AssertionError("first expiry must declare log-retention")
        try:
            txlog.read(spark, path, version=5)
            raise AssertionError("below-horizon read must fail")
        except FileNotFoundError as e:
            if "earliest readable version is 10" not in str(e):
                raise AssertionError(f"wrong floor error: {e}") from e

    return aggregate(
        txlog.read(spark, _lakehouse_table("retention", sf_dir, build)),
        ["o_orderstatus"],
        [
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        ],
    )


@_register(
    "txlog_merge_identity",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(price), 2)     AS sum_price,
           TRUE AS rid_unique,
           TRUE AS rid_on_lattice,
           TRUE AS matched_keep_ids,
           TRUE AS inserts_fresh
    FROM (
      SELECT CASE WHEN o_orderkey % 4 = 0
                  THEN round(round(o_totalprice, 2) * 2, 2)
                  ELSE round(o_totalprice, 2) END AS price
      FROM orders
      WHERE o_orderkey % 2 = 0 OR o_orderkey % 4 = 1
    )
    """,
)
def txlog_merge_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INSERT into a GENERATED ALWAYS AS IDENTITY table (VERDICT
    r10 ask #3 — the per-attempt watermark reservation in
    txlog._identity_insert_factory): the table seeds with the even-key
    orders under identity column ``rid`` (start 1000, step 7), one merge
    then re-prices the keys ≡0 (mod 4) (matched UPDATE) and inserts the
    keys ≡1 (mod 4). The relational half (row set + prices) is oracled
    against raw orders; the identity half is pinned as driver booleans
    computed FROM the table and its pre-merge snapshot: ids globally
    unique, every id on the 1000+7k lattice, matched rows KEEPING their
    pre-merge ids, and inserted ids strictly above everything pre-merge
    (fresh allocation, never recycled)."""
    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", F.round("o_totalprice", 2).alias("price")
        )
        txlog.add_identity_column(path, "rid", start=1000, step=7)
        txlog.append(
            o.filter(F.pmod("o_orderkey", F.lit(2)) == 0),
            path,
            stats_cols=["o_orderkey"],
        )
        src = o.filter(F.pmod("o_orderkey", F.lit(4)) < 2)
        txlog.merge_into(
            spark,
            path,
            src,
            keys=["o_orderkey"],
            when_matched=[("update", {"price": "round(s.price * 2, 2)"})],
            when_not_matched=True,
        )

    path = _lakehouse_table("merge_identity", sf_dir, build)
    cur = txlog.read(spark, path)  # v3: post-merge
    pre = txlog.read(spark, path, version=2)  # pre-merge seed
    base = aggregate(
        cur,
        [],
        [
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("price"), 2).alias("sum_price"),
            F.count_distinct(F.col("rid")).alias("__n_rid"),
            F.min(F.pmod(F.col("rid") - 1000, F.lit(7)) == 0).alias(
                "rid_on_lattice"
            ),
        ],
    )
    kept = (
        pre.select("o_orderkey", F.col("rid").alias("__rid_pre"))
        .join(cur.select("o_orderkey", "rid"), ["o_orderkey"])
        .agg(F.min(F.col("rid") == F.col("__rid_pre")).alias("matched_keep_ids"))
    )
    fresh = (
        cur.join(pre.select("o_orderkey"), ["o_orderkey"], "left_anti")
        .agg(F.min("rid").alias("__min_new"))
        .crossJoin(F.broadcast(pre.agg(F.max("rid").alias("__max_pre"))))
        .select((F.col("__min_new") > F.col("__max_pre")).alias("inserts_fresh"))
    )
    return (
        base.crossJoin(F.broadcast(kept))
        .crossJoin(F.broadcast(fresh))
        .select(
            "n_rows",
            "sum_price",
            (F.col("__n_rid") == F.col("n_rows")).alias("rid_unique"),
            "rid_on_lattice",
            "matched_keep_ids",
            "inserts_fresh",
        )
    )


@_register(
    "txlog_auto_compact",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT)    AS n_rows,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def txlog_auto_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-commit AUTO-COMPACTION at the driver gate (round 12 — the
    companion of r11's expire_log: that bounded LOG growth, this bounds
    DATA-FILE-COUNT growth, the other unbounded accretion of a
    per-few-seconds CDC append stream): orders lands in 24 single-file
    modulo-band appends with ``auto_compact=True`` (trigger: ≥8 files
    under half the 128 MB target). The build ASSERTS the bound — the
    snapshot holds <12 visible files where the raw stream left 24, at
    least two best-effort compaction commits fired, and stats-pruning
    still works on the rewritten files — and the query reads the
    compacted snapshot, which must equal the full raw relation (a
    compaction that drops or duplicates any band hash-mismatches here).
    Cites txlog.append(auto_compact)/_auto_compact_after_commit; the
    Delta autoCompact design."""
    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderstatus",
            F.round("o_totalprice", 2).alias("o_totalprice"),
        )
        for band in range(24):
            txlog.append(
                o.filter(F.pmod("o_orderkey", F.lit(24)) == band).coalesce(1),
                path,
                stats_cols=["o_orderkey"],
                auto_compact=True,
                auto_compact_min_files=8,
            )
        n_files = len(txlog.visible_files(path))
        if n_files >= 12:
            raise AssertionError(
                f"auto-compact left {n_files} visible files (24 raw)"
            )
        ops = [
            txlog._load_commit(path, v).get("meta", {}).get("op")  # noqa: SLF001
            for v in txlog._versions(path)  # noqa: SLF001
        ]
        if ops.count("optimize") < 2:
            raise AssertionError("expected repeated post-commit compactions")
        if txlog.read_pruned(spark, path, "o_orderkey", lo=1, hi=1).count() != 1:
            raise AssertionError("compaction must keep data skipping alive")

    return aggregate(
        txlog.read(spark, _lakehouse_table("auto_compact", sf_dir, build)),
        ["o_orderstatus"],
        [
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        ],
    )


@_register(
    "txlog_widen_type",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT)   AS n_rows,
           CAST(sum(units) AS BIGINT) AS sum_units
    FROM (SELECT o_orderstatus,
                 CAST(round(o_totalprice, 0) AS INT) AS units
          FROM orders)
    GROUP BY o_orderstatus
    """,
)
def txlog_widen_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METADATA-ONLY TYPE WIDENING at the driver gate (round 12 — the
    Delta type-widening design): the even-key half of orders lands with
    ``units int``, one ``widen_column_type`` commit flips the logged
    schema to bigint, then the odd-key half keeps appending at the
    NARROW int type (the frozen-producer CDC steady state). The build
    ASSERTS the contract — the widening commit adds/removes zero files
    and the visible file set is unchanged (petabyte rewrite avoided by
    construction), the ``type-widening`` reader feature is declared,
    time travel below the widen still reads int, and the post-widen
    narrow append records the WIDE logged type — and the query reads
    the mixed-physical-type snapshot (int32 pages upcast under the
    bigint scan schema), which must equal the full raw relation.
    Cites txlog.widen_column_type/_validate_append_schema/_read_data."""
    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderstatus",
            F.round("o_totalprice", 0).cast("int").alias("units"),
        )
        half = F.pmod("o_orderkey", F.lit(2))
        txlog.append(o.filter(half == 0), path, stats_cols=["o_orderkey"])
        pre_files = sorted(txlog.visible_files(path))
        v = txlog.widen_column_type(path, "units", "bigint")
        c = txlog._load_commit(path, v)  # noqa: SLF001
        if c["adds"] or c["removes"] or sorted(txlog.visible_files(path)) != pre_files:
            raise AssertionError("widen must rewrite zero data files")
        if "type-widening" not in txlog.table_protocol(path).get(
            "reader_features", []
        ):
            raise AssertionError("first widen must declare the reader feature")
        if dict(txlog.read(spark, path, version=1).dtypes)["units"] != "int":
            raise AssertionError("time travel below the widen must see int")
        txlog.append(o.filter(half == 1), path, stats_cols=["o_orderkey"])
        if (txlog.latest_meta(path, "schema") or {})["units"] != "bigint":
            raise AssertionError(
                "post-widen narrow append must record the wide type"
            )

    df = txlog.read(spark, _lakehouse_table("widen_type", sf_dir, build))
    if dict(df.dtypes)["units"] != "bigint":
        raise AssertionError("widened table must scan at bigint")
    return aggregate(
        df,
        ["o_orderstatus"],
        [
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("units").cast("bigint").alias("sum_units"),
        ],
    )


@_register(
    "text_bm25",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS token FROM documents
    ),
    dl AS (
      SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM tok GROUP BY doc_id
    ),
    stats AS (SELECT avg(dl) AS avgdl, CAST(count(*) AS DOUBLE) AS n FROM dl),
    tf AS (
      SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
      FROM tok WHERE token IN ('merge', 'window', 'hash')
      GROUP BY doc_id, token
    ),
    dfq AS (SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY token),
    scored AS (
      SELECT tf.doc_id,
             ln(1 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS s
      FROM tf JOIN dfq USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
    )
    SELECT doc_id, round(sum(s), 6) AS bm25
    FROM scored GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT 20
    """,
    headline=True,
)
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 for the fixed query bag {merge, window, hash} over the
    documents corpus — the lexical leg of a hybrid retrieval stack (see
    operators.text.bm25_topk for the shuffle budget: the exploded token
    stream is filtered to the query bag BEFORE the per-doc aggregate, and
    the top-k is TakeOrderedAndProject, never a global sort). Ranking
    uses the rounded score + doc_id tie-break so both engines select the
    same k-boundary."""
    return text.bm25_topk(
        _t(spark, sf_dir, "documents"), ["merge", "window", "hash"], k=20
    )


@_register(
    "txlog_table_properties",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT)    AS n_rows,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def txlog_table_properties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TBLPROPERTIES at the driver gate (round 12): one
    ``set_table_properties`` commit flips ``autoCompact=true`` (with a
    minFiles=8 override) and every PLAIN append thereafter — no per-call
    flag — runs the post-commit compaction, the Delta
    ``delta.autoOptimize.autoCompact`` design where the policy lives
    with the table instead of each pipeline. The build ASSERTS the
    contract — properties visible in DESCRIBE DETAIL, ≥1 property-driven
    compaction commit, bounded visible-file count, an explicit
    ``auto_compact=False`` call overriding the property (no new optimize
    commit), and property time travel (version 1 predates the map) —
    and the query reads the final snapshot, which must equal the full
    raw relation. Cites txlog.set_table_properties/table_properties;
    sources/txlog.py append's None-defers-to-property resolution."""
    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderstatus",
            F.round("o_totalprice", 2).alias("o_totalprice"),
        )
        txlog.append(
            o.filter(F.pmod("o_orderkey", F.lit(16)) == 0).coalesce(1),
            path,
            stats_cols=["o_orderkey"],
        )
        txlog.set_table_properties(
            path, {"autoCompact": "true", "autoCompact.minFiles": 8}
        )
        for band in range(1, 15):
            txlog.append(
                o.filter(F.pmod("o_orderkey", F.lit(16)) == band).coalesce(1),
                path,
                stats_cols=["o_orderkey"],
            )
        ops = [
            txlog._load_commit(path, v).get("meta", {}).get("op")  # noqa: SLF001
            for v in txlog._versions(path)  # noqa: SLF001
        ]
        if ops.count("optimize") < 1:
            raise AssertionError("property-driven compaction never fired")
        if len(txlog.visible_files(path)) >= 12:
            raise AssertionError("autoCompact property left the count unbounded")
        d = txlog.describe_detail(path)
        if d["properties"].get("autoCompact") != "true":
            raise AssertionError("DESCRIBE DETAIL must surface the property map")
        if txlog.table_properties(path, version=1):
            raise AssertionError("properties must be version-resolved")
        n_opt = ops.count("optimize")
        txlog.append(
            o.filter(F.pmod("o_orderkey", F.lit(16)) == 15).coalesce(1),
            path,
            stats_cols=["o_orderkey"],
            auto_compact=False,  # per-call override beats the property
        )
        ops2 = [
            txlog._load_commit(path, v).get("meta", {}).get("op")  # noqa: SLF001
            for v in txlog._versions(path)  # noqa: SLF001
        ]
        if ops2.count("optimize") != n_opt:
            raise AssertionError("explicit auto_compact=False must override")

    return aggregate(
        txlog.read(spark, _lakehouse_table("tbl_props", sf_dir, build)),
        ["o_orderstatus"],
        [
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        ],
    )


@_register(
    "hybrid_search_rrf",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS token FROM documents
    ),
    dl AS (
      SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM tok GROUP BY doc_id
    ),
    stats AS (SELECT avg(dl) AS avgdl, CAST(count(*) AS DOUBLE) AS n FROM dl),
    tf AS (
      SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
      FROM tok WHERE token IN ('merge', 'window', 'hash')
      GROUP BY doc_id, token
    ),
    dfq AS (SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY token),
    sc AS (
      SELECT tf.doc_id,
             ln(1 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS s
      FROM tf JOIN dfq USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
    ),
    bm AS (
      SELECT doc_id, round(sum(s), 6) AS bm25 FROM sc GROUP BY doc_id
      ORDER BY bm25 DESC, doc_id LIMIT 50
    ),
    bmr AS (
      SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r FROM bm
    ),
    qv AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
    ),
    cs AS (
      SELECT vec_id AS doc_id,
             list_dot_product(CAST(embedding AS DOUBLE[]), qv)
               / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                        CAST(embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(qv, qv))) AS score
      FROM embeddings CROSS JOIN qv WHERE vec_id <> 0
    ),
    ck AS (SELECT doc_id, score FROM cs ORDER BY score DESC, doc_id LIMIT 50),
    cr AS (
      SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r FROM ck
    ),
    u AS (
      SELECT doc_id, 1.0 / (60.0 + r) AS s FROM bmr
      UNION ALL
      SELECT doc_id, 1.0 / (60.0 + r) AS s FROM cr
    )
    SELECT doc_id, round(sum(s), 6) AS rrf FROM u GROUP BY doc_id
    ORDER BY rrf DESC, doc_id
    LIMIT 20
    """,
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval — BM25 lexical leg + exact-cosine vector leg fused
    by reciprocal-rank fusion (similarity.rrf_fuse; the Elasticsearch/
    OpenSearch default combiner): top-50 from each ranker, score(d) =
    Σ 1/(60 + rank), top-20 fused. Rank-based fusion needs no score
    calibration across legs — the standard way a training-data pipeline
    combines its lexical and embedding retrievers. The rank windows run
    over the ALREADY-top-k lists (≤50 rows — documented in the plan-lint
    allow-list); the heavy work stays in the rankers, each with its own
    scale-audited plan (text_bm25, knn_bruteforce)."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = text.bm25_topk(docs, ["merge", "window", "hash"], k=50)
    lex = lex.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("bm25").desc(), F.col("doc_id"))
        ),
    )
    q = emb.filter(F.col("vec_id") == 0).select("embedding")
    vec = similarity.cosine_topk_single(emb, q, k=50, exclude_id=0).select(
        F.col("vec_id").alias("doc_id"), "rank"
    )
    return similarity.rrf_fuse([lex.select("doc_id", "rank"), vec], k=20)


@_register(
    "txlog_maintain",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT)    AS n_rows,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def txlog_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Property-driven one-call MAINTENANCE at the driver gate (round
    12): orders lands in 18 single-file band appends with per-call
    compaction disabled, then ONE ``txlog.maintain(spark, path)`` runs
    the table's TBLPROPERTIES policy — compact (trip-wired), checkpoint
    at the tip, expire the log below retention, vacuum superseded data
    files — in the dependency-safe order. The build ASSERTS every step
    fired (report fields), the post-maintenance floor moved, and a
    second maintain is a no-op; the query reads the maintained
    snapshot, which must still equal the full raw relation (a cycle
    that loses or duplicates any band hash-mismatches). Cites
    txlog.maintain; the operational story: ONE scheduler entry per
    table at 100 TB, policies live with the data."""
    def build(path: str) -> None:
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderstatus",
            F.round("o_totalprice", 2).alias("o_totalprice"),
        )
        txlog.append(
            o.filter(F.pmod("o_orderkey", F.lit(18)) == 0).coalesce(1),
            path,
            stats_cols=["o_orderkey"],
        )
        txlog.set_table_properties(
            path,
            {
                "autoCompact": "true",
                "autoCompact.minFiles": 8,
                "checkpoint.onMaintain": "true",
                "logRetention.versions": 3,
                "vacuum.retainVersions": 1,
            },
        )
        for band in range(1, 18):
            txlog.append(
                o.filter(F.pmod("o_orderkey", F.lit(18)) == band).coalesce(1),
                path,
                stats_cols=["o_orderkey"],
                auto_compact=False,  # accumulate work for maintain()
            )
        rep = txlog.maintain(spark, path)
        if rep["compacted_to"] is None:
            raise AssertionError("maintain must trip the compaction")
        if rep["checkpointed"] != rep["compacted_to"]:
            raise AssertionError("maintain must checkpoint the new tip")
        if rep["log_expired"] <= 0:
            raise AssertionError("maintain must expire the log tail")
        if rep["files_vacuumed"] <= 0:
            raise AssertionError("maintain must vacuum superseded files")
        if txlog._versions(path)[0] <= 1:  # noqa: SLF001
            raise AssertionError("retention floor must have moved")
        rep2 = txlog.maintain(spark, path)
        if rep2["compacted_to"] is not None or rep2["log_expired"] > 0:
            raise AssertionError("second maintain must find nothing to do")

    return aggregate(
        txlog.read(spark, _lakehouse_table("maintain", sf_dir, build)),
        ["o_orderstatus"],
        [
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        ],
    )


def _attested_rounds(root: str) -> dict[str, int]:
    """Latest round in which the driver attested each query: the highest
    NN of the ``CORRECTNESS_rNN.json`` files under ``root`` that name it.
    No files (a package installed without the repo) → an empty dict."""
    import glob
    import json
    import re

    latest: dict[str, int] = {}
    for f in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(f))
        if m:
            with open(f) as fh:
                for name in json.load(fh):
                    latest[name] = max(latest.get(name, 0), int(m.group(1)))
    return latest


def _window_order(queries: dict[str, Query], latest: dict[str, int]) -> list[str]:
    """Registry order for the driver, whose correctness gate checks only
    the first 50 entries each round. A stable sort of ``queries`` (in its
    given order) by (no oracle, latest attested round, 0 if never): new
    entries lead, then the stalest attested band, then a tail in non-
    decreasing staleness; oracle-less entries, which the gate cannot check,
    come last. A new CORRECTNESS file rotates the window by itself."""
    return sorted(queries, key=lambda n: (queries[n].oracle is None, latest.get(n, 0)))


# the CORRECTNESS files live in the repo root, next to the package
_ordered = {
    n: QUERIES[n]
    for n in _window_order(
        QUERIES, _attested_rounds(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    )
}
QUERIES.clear()
QUERIES.update(_ordered)
del _ordered


def queries() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in QUERIES.items() if q.oracle is not None}


def headline_queries() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in QUERIES.items() if q.headline}
