"""Core relational operators: projection, filter, aggregation.

Covers SURVEY §2.3 (P1-P7), §2.4 (F1-F7), §2.5 (A1-A7). The reference
performs each of these as a one-liner DataFrame call (e.g. projection at
reference pyspark-1.ipynb:199, SQL-string filter at pyspark-2.ipynb:360,
groupBy aggregates at pyspark-2.ipynb:547-617). This engine keeps them as
declarative DataFrame transforms so Catalyst gets the whole plan: filters
and projections reach the parquet scan (PushedFilters / ReadSchema),
aggregates run partial+final (map-side combine) around one hash shuffle.

Nothing here collects to the driver; every function is DataFrame -> DataFrame.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

ColumnOrName = "Column | str"


def project(df: DataFrame, *cols: str | Column) -> DataFrame:
    """P1-P4: column projection (case-insensitive resolution is Spark's
    default, matching reference pyspark-1.ipynb:226 select('Name','Age'))."""
    return df.select(*cols)


def derive(df: DataFrame, name: str, expr: Column | str) -> DataFrame:
    """P5: add a derived column. ``expr`` may be a Column or a SQL string
    (parsed by Catalyst, reference style df['Experience']+2 at
    pyspark-1.ipynb:305)."""
    col = F.expr(expr) if isinstance(expr, str) else expr
    return df.withColumn(name, col)


def rename(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """P7 (reference pyspark-1.ipynb:381). ``withColumnsRenamed`` is one
    Project node regardless of how many columns move."""
    return df.withColumnsRenamed(mapping)


def filter_rows(df: DataFrame, predicate: Column | str) -> DataFrame:
    """F1/F2: predicate as SQL string (Catalyst expression parser, reference
    pyspark-2.ipynb:360) or Column expression (pyspark-2.ipynb:411). Both
    compile to the same Filter node and push down to the scan."""
    return df.filter(predicate)


def aggregate(
    df: DataFrame,
    group_by: Iterable[str | Column],
    aggs: Iterable[Column],
) -> DataFrame:
    """A1-A4: grouped aggregation. Always alias agg columns at the call site —
    auto-generated names like ``sum(salary)`` (reference pyspark-2.ipynb:533)
    are unstable across engines. Empty ``group_by`` = global aggregate."""
    keys = list(group_by)
    aggs = list(aggs)
    return df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)


def summary_stats(df: DataFrame, column: str) -> DataFrame:
    """A5: ``describe()`` semantics for one numeric column as a single typed
    row (count / mean / sample stddev / min / max — the same five statistics
    as reference pyspark-1.ipynb:294, but returned as doubles instead of the
    stringly-typed describe() table so results are oracle-comparable).

    One partial+final aggregate over the scan; no shuffle beyond the single
    global-agg exchange, regardless of input size.
    """
    c = F.col(column)
    return df.agg(
        F.count(c).alias("n"),
        F.round(F.avg(c), 4).alias("mean"),
        F.round(F.stddev_samp(c), 4).alias("stddev"),
        F.min(c).alias("min"),
        F.max(c).alias("max"),
    )


def describe_all(df: DataFrame, precision: int = 4) -> DataFrame:
    """A5, whole-table: ``df.describe()`` over EVERY column in one aggregate
    pass (reference golden pyspark-1.ipynb:280-288 — all columns at once,
    string min/max lexicographic, NULL mean/stddev for strings).

    Returns one TYPED row per column instead of describe()'s stringly 5×n
    grid — same information, oracle-comparable without double→string
    formatting hazards:

      (col_name, n, mean, stddev, min_num, max_num, min_str, max_str)

    Numeric columns fill n/mean/stddev/min_num/max_num (stats rounded to
    ``precision``); string-ish columns fill n/min_str/max_str and carry NULL
    mean/stddev, exactly describe()'s semantics. The whole thing is ONE
    partial+final aggregate over the scan (all 5·n statistics combine
    map-side) followed by a constant-width explode of the single result row
    — no per-column pass, no driver loop, any input size.
    """
    numeric = {
        f.name for f in df.schema.fields if isinstance(f.dataType, T.NumericType)
    }
    aggs: list[Column] = []
    for name in df.columns:
        c = F.col(name)
        aggs.append(F.count(c).alias(f"__n_{name}"))
        if name in numeric:
            aggs += [
                F.round(F.avg(c), precision).alias(f"__mean_{name}"),
                F.round(F.stddev_samp(c), precision).alias(f"__std_{name}"),
                F.min(c).cast("double").alias(f"__min_{name}"),
                F.max(c).cast("double").alias(f"__max_{name}"),
            ]
        else:
            aggs += [
                F.min(c.cast("string")).alias(f"__min_{name}"),
                F.max(c.cast("string")).alias(f"__max_{name}"),
            ]
    row = df.agg(*aggs)
    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    structs = []
    for name in df.columns:
        is_num = name in numeric
        structs.append(
            F.struct(
                F.lit(name).alias("col_name"),
                F.col(f"__n_{name}").alias("n"),
                (F.col(f"__mean_{name}") if is_num else null_d).alias("mean"),
                (F.col(f"__std_{name}") if is_num else null_d).alias("stddev"),
                (F.col(f"__min_{name}") if is_num else null_d).alias("min_num"),
                (F.col(f"__max_{name}") if is_num else null_d).alias("max_num"),
                (null_s if is_num else F.col(f"__min_{name}")).alias("min_str"),
                (null_s if is_num else F.col(f"__max_{name}")).alias("max_str"),
            )
        )
    return row.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def count_alert(df: DataFrame, predicate: Column | str, threshold: int = 1) -> DataFrame:
    """A6/F5/F6: the reference's monitoring pattern — KQL filter + row-count
    threshold alert (reference README.md:239-244: fire when matching rows
    >= 1, severity 1). Batch form: returns a 1-row DataFrame with the count
    and a boolean ``fired``. Streaming form lives in streaming.alerts."""
    return df.filter(predicate).agg(
        F.count(F.lit(1)).alias("n_matches"),
        (F.count(F.lit(1)) >= F.lit(threshold)).alias("fired"),
    )


def sample_stratified(
    df: DataFrame,
    strata_col: str,
    fractions: dict,
    seed: int = 42,
) -> DataFrame:
    """Per-stratum Bernoulli sampling with mandatory seed (dataset-curation
    rebalancing: e.g. downsample boilerplate-heavy sources, keep rare ones).

    ``sampleBy`` filters during the scan — no shuffle, no second pass. Keys
    absent from ``fractions`` sample at 0.0 (dropped), matching Spark
    semantics; pass 1.0 to keep a stratum whole. Exact-count stratified
    sampling would need a per-stratum sort — this is the scalable form:
    counts are binomial around fraction × stratum size.
    """
    return df.sampleBy(strata_col, fractions=fractions, seed=seed)


def split_by_hash(
    df: DataFrame,
    id_col: str,
    weights: dict[str, int],
    out: str = "split",
    salt: str = "",
) -> DataFrame:
    """Deterministic content-addressed train/val/test assignment: each row's
    split comes from a hash of its OWN id, never from a random draw.

    Why this over ``randomSplit`` for a training corpus: the assignment is
    (1) reproducible with no seed bookkeeping, (2) stable under data growth
    — adding rows never reassigns an existing id across the train/eval
    boundary (randomSplit reshuffles everything when the input changes),
    and (3) portable — any engine that can md5 a string computes the same
    split, so downstream consumers can verify membership without Spark.

    ``weights`` maps split name → integer weight (e.g. {"train": 98,
    "val": 1, "test": 1}); a row lands in a split when its md5-derived
    bucket in [0, Σweights) falls in that split's range. ``salt`` re-rolls
    the whole assignment (a new salt is a new independent split). Pure
    scan-stage expression: no shuffle, no UDF.
    """
    total = sum(weights.values())
    # first 8 hex chars → 32-bit int → bucket in [0, total)
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 8), 16, 10).cast("long"),
        F.lit(total),
    )
    expr = None
    lo = 0
    for name, w in weights.items():
        hi = lo + w
        cond = (bucket >= lo) & (bucket < hi)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo = hi
    return df.withColumn(out, expr)


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    group_col: str | None = None,
    id_col: str = "doc_id",
    seed: int = 0,
    out: str = "sample_rank",
) -> DataFrame:
    """Weighted sampling without replacement, k per group — Efraimidis &
    Spirakis A-ES (Inf. Process. Lett. 97(5), 2006): each row draws
    ``key = u^(1/w)`` with u ~ U(0,1] and keeps the k largest keys, which
    is exactly weighted sampling without replacement. The curation use:
    "pick 100k documents per source, longer/higher-scoring ones
    proportionally more often, reproducibly."

    u is NOT engine randomness: it derives from ``md5(seed|id)`` (same
    contract as seeded_shuffle/split_by_hash), so the sample is stable
    across runs AND engines — the DuckDB oracle replays the identical
    draw — and adding new rows never resamples existing survivors beyond
    the boundary (reservoir stability under inserts). Weights must be
    strictly positive.

    Scale shape: scan-stage key computation, then ONE hash shuffle on the
    group key for the per-group top-k window — the same shape as
    top_k_per_group; global top-k (group_col=None) partitions on a
    constant and is only for driver-scale k."""
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.lit(str(seed)), F.col(id_col).cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("double")
    # map the 32-bit prefix into (0, 1] — never 0, so ln/pow stay finite
    u = (F.pmod(h, F.lit(1000000.0)) + 1.0) / 1000001.0
    key = F.pow(u, 1.0 / F.col(weight_col).cast("double"))
    part = [group_col] if group_col else [F.lit(1)]
    w = Window.partitionBy(*part).orderBy(F.desc("__aes_key"), F.col(id_col))
    return (
        df.withColumn("__aes_key", key)
        .withColumn(out, F.row_number().over(w).cast("long"))
        .filter(F.col(out) <= k)
        .drop("__aes_key")
    )


def winsorize_stats(
    df: DataFrame,
    column: str,
    p_low: float = 0.05,
    p_high: float = 0.95,
    precision: int = 4,
) -> DataFrame:
    """Winsorized summary of a numeric column: exact percentile bounds at
    ``p_low``/``p_high``, how many rows clip at each tail, and the mean
    before vs after clipping — the robust-statistics companion to
    mad_outliers for feature pipelines where a handful of extreme values
    (sensor glitches, price errors) should saturate, not dominate.

    Two aggregates, no collect: pass 1 computes the exact interpolated
    percentiles (rank position p·(n−1), the quantile_cont definition Spark
    ``percentile`` and DuckDB share); the 1-row bound frame broadcast-joins
    onto the scan for pass 2's clipped re-aggregate. Exact percentile
    aggregates per-distinct-value counts — scale-safe for bounded-
    cardinality columns (quantities, ratings, ages); for unbounded doubles
    at 100 TB swap in approx_percentile and accept the documented error
    bound (the oracle then pins bounds, not equality)."""
    c = F.col(column).cast("double")
    bounds = df.agg(
        F.expr(f"percentile({column}, {p_low})").alias("__lo"),
        F.expr(f"percentile({column}, {p_high})").alias("__hi"),
    )
    clipped = df.crossJoin(F.broadcast(bounds))
    return clipped.agg(
        F.round(F.first("__lo"), precision).alias("p_low_value"),
        F.round(F.first("__hi"), precision).alias("p_high_value"),
        F.sum((c < F.col("__lo")).cast("long")).alias("n_clipped_low"),
        F.sum((c > F.col("__hi")).cast("long")).alias("n_clipped_high"),
        F.round(F.avg(c), precision).alias("mean_raw"),
        F.round(
            F.avg(F.greatest(F.least(c, F.col("__hi")), F.col("__lo"))), precision
        ).alias("mean_winsorized"),
    )


def quantile_bins(
    df: DataFrame,
    column: str,
    n_bins: int = 10,
    precision: int = 4,
) -> DataFrame:
    """Equal-frequency discretization (quantile binning) — the feature-prep
    step that turns a skewed numeric column into n roughly equal-count
    ordinal bins (decile features, monotone-binned inputs for linear
    models): boundaries at the exact i/n percentiles, a row's bin = how
    many boundaries its value exceeds (boundary values fall into the LOWER
    bin — deterministic, engine-agnostic tie rule).

    Output is the audit view: per-bin row count and value range. Heavy
    ties collapse bins (a value spanning several percentile positions
    yields empty bins — counts then deliberately show the imbalance
    instead of lying about it).

    Scale shape: one exact-percentile aggregate (per-distinct-value
    counts — fine for bounded-cardinality columns; swap approx_percentile
    at 100 TB for unbounded doubles and accept its documented error), the
    (n−1)-element boundary array broadcast back onto the scan, then one
    partial+final aggregate keyed on the ≤n bin ids."""
    ps = [i / n_bins for i in range(1, n_bins)]
    x = F.col(column).cast("double")
    bounds = df.agg(
        F.expr(
            f"percentile({column}, array({', '.join(str(p) for p in ps)}))"
        ).alias("__bs")
    )
    bin_id = F.aggregate(
        F.col("__bs"),
        F.lit(0),
        lambda acc, b: acc + F.when(x > b, 1).otherwise(0),
    )
    return (
        df.crossJoin(F.broadcast(bounds))
        .groupBy(bin_id.cast("long").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min(x), precision).alias("lo"),
            F.round(F.max(x), precision).alias("hi"),
        )
    )


def group_quantiles(
    df: DataFrame,
    column: str,
    group_col: str,
    ps: tuple[float, ...] = (0.25, 0.5, 0.75),
    precision: int = 4,
) -> DataFrame:
    """Per-group exact quantile profile (p25/p50/p75 by default) — the
    grouped companion to summary_stats: spread and skew per segment in one
    keyed aggregate, where a global describe() hides per-group outliers.

    ONE partial+final aggregate on the group key; exact interpolated
    percentiles (the quantile_cont definition) accumulate per-distinct-
    value counts inside each group — scale-safe for bounded-cardinality
    measures, with the approx_percentile swap documented for unbounded
    doubles at 100 TB. Output is wide (one pNN column per requested
    quantile) for direct dashboarding/joining."""
    arr = ", ".join(str(p) for p in ps)
    q = F.expr(f"percentile({column}, array({arr}))")
    names = [f"p{int(round(p * 100)):02d}" for p in ps]
    return df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[
            F.round(q.getItem(i), precision).alias(nm)
            for i, nm in enumerate(names)
        ],
    )


def benford_profile(
    df: DataFrame,
    column: str,
    precision: int = 6,
) -> DataFrame:
    """First-significant-digit profile vs Benford's law — the classic
    fabricated-numbers screen for financial/measurement columns (naturally
    occurring multi-magnitude data follows P(d) = log10(1 + 1/d); manual
    entry and synthetic padding don't): per digit 1-9, observed count and
    share, the Benford expectation, and the absolute deviation.

    The digit comes from the value's decimal STRING (first nonzero
    character) — not floor(x / 10^floor(log10 x)), whose float log at
    power-of-ten inputs rounds to 2.9999… and misclassifies; the string
    route is exact in any engine that prints doubles plainly. Non-positive
    and null values are excluded. One scan-stage expression + one ≤9-row
    partial+final aggregate."""
    x = F.col(column).cast("double")
    digit = F.regexp_extract(x.cast("string"), "[1-9]", 0)
    counted = (
        df.filter(x > 0)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = counted.agg(F.sum("n").alias("__t"))
    obs = F.col("n") / F.col("__t")
    expect = F.log10(1.0 + 1.0 / F.col("digit").cast("double"))
    return (
        counted.crossJoin(F.broadcast(tot))
        .select(
            F.col("digit").cast("long").alias("digit"),
            F.col("n").cast("long").alias("n"),
            F.round(obs, precision).alias("obs_share"),
            F.round(expect, precision).alias("benford_share"),
            F.round(F.abs(obs - expect), precision).alias("abs_dev"),
        )
    )


def histogram(
    df: DataFrame, column: str, n_bins: int, lo: float, hi: float
) -> DataFrame:
    """Fixed-width numeric histogram: one partial+final aggregate keyed on
    the bucket index (map-side combine collapses each partition to ≤
    ``n_bins``+2 rows before the shuffle — cost is one scan at any size,
    shuffle volume bounded by the bin count, never the data).

    ``width_bucket`` semantics: bucket 0 is the underflow (< lo), buckets
    1..n_bins cover [lo, hi) evenly, bucket n_bins+1 the overflow (≥ hi).
    NULLs are excluded. Empty buckets are absent from the output (a dense
    spine is one sequence-join away if a caller needs it).

    The in-range branch clamps to ``n_bins``: when (hi-lo)/n_bins rounds
    DOWN in floating point (e.g. 1/3), a value just below ``hi`` can have
    floor((v-lo)/width) == n_bins — without the clamp it would leak into
    the overflow bucket despite being < hi, breaking the contract."""
    c = F.col(column)
    bucket = (
        F.when(c < F.lit(lo), F.lit(0))
        .when(c >= F.lit(hi), F.lit(n_bins + 1))
        .otherwise(
            F.least(
                F.floor((c - F.lit(lo)) / F.lit((hi - lo) / n_bins)) + 1,
                F.lit(n_bins),
            ).cast("int")
        )
    )
    return (
        df.filter(c.isNotNull())
        .groupBy(bucket.cast("long").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def correlations(df: DataFrame, columns: list[str]) -> DataFrame:
    """Pairwise Pearson correlation matrix over the named numeric columns
    in ONE aggregate pass: all C(n,2) ``corr`` aggregates combine map-side
    (each is a constant-size moment accumulator), so the full matrix costs
    a single scan + one 1-row exchange regardless of table size — never a
    per-pair job. Returns the upper triangle as (col_a, col_b, corr)
    rows. Internal aliases are index-based so column names containing
    '__' (or any other character) can never collide or misparse."""
    pairs = [
        (a, b) for i, a in enumerate(columns) for b in columns[i + 1 :]
    ]
    if not pairs:
        raise ValueError(
            f"correlations needs at least two columns, got {columns!r}"
        )
    row = df.agg(
        *[
            F.round(F.corr(a, b), 6).alias(f"__corr_{i}")
            for i, (a, b) in enumerate(pairs)
        ]
    )
    cells = F.array(
        *[
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.col(f"__corr_{i}").alias("corr"),
            )
            for i, (a, b) in enumerate(pairs)
        ]
    )
    return row.select(F.explode(cells).alias("c")).select("c.*")


def dq_report(df: DataFrame, rules: dict[str, Column | str]) -> DataFrame:
    """Data-quality report: violation counts for every named rule in ONE
    partial+final aggregate pass (each rule is a conditional count that
    combines map-side, so the whole report costs one scan + a 1-row
    exchange at any table size — never a per-rule job).

    SQL CHECK semantics per rule: a row VIOLATES when the expression is
    FALSE; NULL passes (unknown ≠ violation, as in every SQL engine — pair
    with an explicit IS NOT NULL rule to count nulls). Returns one row per
    rule: ``(rule, n_violations, violation_rate)`` with the rate in
    [0, 1] rounded to 6 places. Internal aliases are index-based — rule
    names are display strings and may contain dots, backticks, anything."""
    items = [
        (name, F.expr(r) if isinstance(r, str) else r)
        for name, r in rules.items()
    ]
    row = df.agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(F.when(c == F.lit(False), 1).otherwise(0)).alias(f"__v_{i}")
            for i, (_, c) in enumerate(items)
        ],
    )
    cells = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule"),
                F.col(f"__v_{i}").cast("long").alias("n_violations"),
                F.round(
                    F.col(f"__v_{i}") / F.greatest(F.col("__n"), F.lit(1)), 6
                ).alias("violation_rate"),
            )
            for i, (name, _) in enumerate(items)
        ]
    )
    return row.select(F.explode(cells).alias("c")).select("c.*")


def fk_integrity(
    child: DataFrame,
    parent: DataFrame,
    fk_col: str,
    pk_col: str,
    relationship: str,
) -> DataFrame:
    """Referential-integrity profile of one FK edge, as one row:
    ``(relationship, n_child, n_null_fk, n_orphans, orphan_rate,
    n_parent, n_referenced, parent_coverage)``.

    SQL FK semantics: a NULL foreign key is legal (counted separately,
    never an orphan); an orphan is a non-null FK with no parent. Scale
    shape: both sides pre-aggregate to their key sets (map-side combine
    on the child), then ONE full-outer join of two key-sized relations
    and a 1-row final aggregate — the fact table is never joined
    row-by-row against the parent."""
    ck = child.groupBy(F.col(fk_col).alias("__k")).agg(F.count(F.lit(1)).alias("__cnt"))
    # A NULL primary key is not a parent: SQL count(DISTINCT pk) excludes
    # NULL, so n_parent/parent_coverage must too.
    pk = (
        parent.select(F.col(pk_col).alias("__k"))
        .filter(F.col("__k").isNotNull())
        .distinct()
        .withColumn("__p", F.lit(1))
    )
    j = ck.join(pk, "__k", "full_outer")
    orphan = F.col("__p").isNull() & F.col("__k").isNotNull() & F.col("__cnt").isNotNull()
    agg = j.agg(
        F.sum(F.coalesce(F.col("__cnt"), F.lit(0))).cast("long").alias("n_child"),
        F.sum(F.when(F.col("__k").isNull(), F.col("__cnt")).otherwise(0))
        .cast("long")
        .alias("n_null_fk"),
        F.sum(F.when(orphan, F.col("__cnt")).otherwise(0)).cast("long").alias("n_orphans"),
        F.count(F.when(F.col("__p") == 1, 1)).cast("long").alias("n_parent"),
        F.count(F.when((F.col("__p") == 1) & F.col("__cnt").isNotNull(), 1))
        .cast("long")
        .alias("n_referenced"),
    )
    return agg.select(
        F.lit(relationship).alias("relationship"),
        "n_child",
        "n_null_fk",
        "n_orphans",
        F.round(F.col("n_orphans") / F.greatest(F.col("n_child"), F.lit(1)), 6).alias(
            "orphan_rate"
        ),
        "n_parent",
        "n_referenced",
        F.round(
            F.col("n_referenced") / F.greatest(F.col("n_parent"), F.lit(1)), 6
        ).alias("parent_coverage"),
    )


def heavy_hitters(df: DataFrame, col: str, support: float = 0.01) -> DataFrame:
    """EXACT heavy hitters (values with frequency ≥ ``support`` of the
    rows) via the two-phase sketch shape that scales: phase 1 is
    ``freqItems`` (Karp/Demaine-style one-pass sketch, bounded ~1/support
    state per partition, merged on the driver) whose result is a
    SUPERSET of every true heavy hitter; phase 2 exactly counts ONLY the
    candidate values (broadcast IN-filter → one partial+final aggregate)
    plus a 1-row total. The full distinct domain is never aggregated —
    at 100 TB that's the difference between ~1/support counters and a
    shuffle keyed on billions of distinct values. The sketch runs at
    0.9·support so boundary-frequency values can't fall out of the
    candidate set; the exact filter applies ``support`` itself.
    Returns ``(value, n_occurrences)``."""
    vals = df.select(F.col(col).alias("value")).filter(F.col("value").isNotNull())
    candidates = vals.freqItems(["value"], support=support * 0.9).collect()[0][0]
    total = vals.count()
    return (
        vals.filter(F.col("value").isin(list(candidates)))
        .groupBy("value")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= F.lit(support) * F.lit(float(total)))
    )


def join_key_skew(df: DataFrame, key_col: str, top_k: int = 5) -> DataFrame:
    """Skew profile of a prospective join/groupBy key: the ``top_k``
    heaviest keys as ``(key, n_rows, share, skew_factor)`` where
    skew_factor = the key's row count over the mean rows-per-key — the
    number that decides between a plain shuffle join and salting (see
    joins.salted_join) or AQE skew-split tuning. One partial+final count
    per key, a 1-row broadcast of the global stats, TakeOrdered for the
    top-k (key value as tiebreak; key rendered as string so the profile
    has one schema for any key type)."""
    counts = df.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    stats = counts.agg(
        F.sum("n_rows").alias("__total"), F.count(F.lit(1)).alias("__nkeys")
    )
    enriched = counts.crossJoin(F.broadcast(stats)).select(
        "key",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.round(F.col("n_rows") / F.col("__total"), 6).alias("share"),
        F.round(F.col("n_rows") * F.col("__nkeys") / F.col("__total"), 6).alias(
            "skew_factor"
        ),
    )
    return enriched.orderBy(F.col("n_rows").desc(), F.col("key")).limit(top_k)


def distribution_drift(
    ref: DataFrame,
    cur: DataFrame,
    columns: list[str],
    n_buckets: int = 10,
) -> DataFrame:
    """Distribution drift between two snapshots, as one row per column:
    ``(column, psi, n_ref, n_cur)``. PSI (population stability index) over
    a fixed-width histogram whose edges come from the REFERENCE's min/max
    (industry convention: the monitored window is scored against the
    baseline's binning; rule of thumb: <0.1 stable, 0.1-0.25 drifting,
    >0.25 shifted). Proportions are epsilon-smoothed (1e-6) so empty
    buckets never produce ±inf.

    Scale shape: one aggregate for the reference edges (1-row broadcast),
    then ONE scan per side — each row explodes to (column, bucket) pairs
    and a partial+final count aggregates them — and a bucket-grid join of
    two (n_columns × n_buckets)-sized relations. The snapshots are never
    joined row-to-row. All bucket arithmetic is identical IEEE double
    expressions on both engines, so the DuckDB oracle matches bit-for-bit.
    """
    eps = 1e-6
    edges = ref.agg(
        *[F.min(F.col(c).cast("double")).alias(f"__mn_{i}") for i, c in enumerate(columns)],
        *[F.max(F.col(c).cast("double")).alias(f"__mx_{i}") for i, c in enumerate(columns)],
    )

    def bucketed_counts(df: DataFrame, side: str) -> DataFrame:
        # Degenerate reference (mx == mn: constant or single-valued column)
        # maps every value to bucket 0 instead of dividing by zero into
        # NaN buckets / NaN PSI. NULL values (and the all-null-reference
        # case, where mx/mn are NULL so both branches yield NULL) also
        # land in bucket 0 via greatest(NULL, 0) = 0 — Spark and DuckDB
        # agree on null-skipping greatest, so the oracle matches.
        cells = F.array(
            *[
                F.struct(
                    F.lit(c).alias("column"),
                    F.when(
                        F.col(f"__mx_{i}") == F.col(f"__mn_{i}"), F.lit(0)
                    )
                    .otherwise(
                        F.least(
                            F.greatest(
                                F.floor(
                                    (F.col(c).cast("double") - F.col(f"__mn_{i}"))
                                    * n_buckets
                                    / (F.col(f"__mx_{i}") - F.col(f"__mn_{i}"))
                                ),
                                F.lit(0),
                            ),
                            F.lit(n_buckets - 1),
                        )
                    )
                    .cast("long")
                    .alias("bucket"),
                )
                for i, c in enumerate(columns)
            ]
        )
        return (
            df.crossJoin(F.broadcast(edges))
            .select(F.explode(cells).alias("c"))
            .select("c.*")
            .groupBy("column", "bucket")
            .agg(F.count(F.lit(1)).alias(f"n_{side}"))
        )

    rb = bucketed_counts(ref, "ref")
    cb = bucketed_counts(cur, "cur")
    j = rb.join(cb, ["column", "bucket"], "full_outer").select(
        "column",
        F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
        F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
    )
    tot = j.groupBy("column").agg(
        F.sum("n_ref").alias("__tr"), F.sum("n_cur").alias("__tc")
    )
    # greatest(total, 1): an EMPTY CURRENT side (cold-start snapshot,
    # all-filtered day) must yield zero proportions, not an ANSI
    # divide-by-zero — the eps smoothing then produces a finite
    # "everything drifted" PSI. An EMPTY REFERENCE has no baseline at
    # all: the column is OMITTED from the report (same contract as the
    # SQL oracles, whose edges CTE has no group to join).
    p_cur = F.col("n_cur") / F.greatest(F.col("__tc"), F.lit(1)) + eps
    p_ref = F.col("n_ref") / F.greatest(F.col("__tr"), F.lit(1)) + eps
    tot = tot.filter(F.col("__tr") > 0)
    terms = j.join(tot, "column").select(
        "column",
        "__tr",
        "__tc",
        ((p_cur - p_ref) * F.log(p_cur / p_ref)).alias("__t"),
    )
    return (
        terms.groupBy("column")
        .agg(
            F.round(F.sum(F.col("__t")), 6).alias("psi"),
            F.max("__tr").cast("long").alias("n_ref"),
            F.max("__tc").cast("long").alias("n_cur"),
        )
    )


def mad_outliers(
    df: DataFrame,
    value_col: str,
    group_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Robust outlier profile per group: median / MAD (median absolute
    deviation) and the count of values beyond ``k`` scaled MADs — the
    monitoring statistic that, unlike mean/stddev z-scores, a few extreme
    rows cannot drag toward themselves (50% breakdown point). The scale
    factor 1.4826 makes k·MAD comparable to k·sigma under normality
    (Hampel's rule; k=3 is the customary cutoff).

    Returns one row per group: ``(group, n, med, mad, n_outliers)``.

    Scale shape: two exact-percentile aggregations on the group key (the
    minimum any exact median needs) with the per-group scalars broadcast
    back between them; values are never pairwise-joined. Exact medians
    sort within groups — at 100 TB swap ``percentile`` for
    ``approx_percentile(..., accuracy)`` (same plan shape, mergeable
    KLL-style sketch state) and keep the flagging identical."""
    v = F.col(value_col).cast("double")
    med = df.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("__med")
    )
    j = df.join(F.broadcast(med), group_col)
    mad = j.groupBy(group_col).agg(
        F.first("__med").alias("__med"),
        F.expr(f"percentile(abs({value_col} - __med), 0.5)").alias("__mad"),
    )
    j2 = df.join(F.broadcast(mad), group_col)
    thresh = F.lit(float(k)) * F.lit(1.4826) * F.col("__mad")
    return (
        j2.groupBy(group_col)
        .agg(
            F.count(v).cast("long").alias("n"),
            F.round(F.first("__med"), 6).alias("med"),
            F.round(F.first("__mad"), 6).alias("mad"),
            F.count_if(F.abs(v - F.col("__med")) > thresh)
            .cast("long")
            .alias("n_outliers"),
        )
    )


def ks_drift(
    ref: DataFrame,
    cur: DataFrame,
    columns: list[str],
    n_bins: int = 1000,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic per column, on a
    fixed grid: D = max |ECDF_ref − ECDF_cur| evaluated at ``n_bins``
    equal-width edges spanning the REFERENCE's range (values outside
    clamp to the end bins, the PSI convention). Complements PSI: KS reads
    the worst single point of divergence, PSI the aggregate. Grid
    evaluation under-reads the exact D by at most the probability mass of
    one bin — at 1000 bins that is noise against the 0.05-0.1 alerting
    thresholds monitoring uses, and it is what makes the statistic
    computable in ONE bounded aggregation instead of a global sort.

    Scale shape: identical to distribution_drift — one 1-row edges
    broadcast, one binned count per side, then the cumulative ECDF runs
    over the (n_columns × n_bins)-row bucket relation (driver-scale by
    construction; the unpartitioned-window warning this emits is the same
    benign one seeded_shuffle documents). Snapshots are never joined
    row-to-row. Bucket arithmetic is the same IEEE double expression on
    both engines."""
    from pyspark.sql import Window

    counts = _bucket_counts_grid(ref, cur, columns, n_bins)
    w = (
        Window.partitionBy("column")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ecdf = counts.select(
        "column",
        "bucket",
        (F.sum("n_ref").over(w) / F.sum("n_ref").over(Window.partitionBy("column"))).alias("__fr"),
        (F.sum("n_cur").over(w) / F.sum("n_cur").over(Window.partitionBy("column"))).alias("__fc"),
    )
    return ecdf.groupBy("column").agg(
        F.round(F.max(F.abs(F.col("__fr") - F.col("__fc"))), 6).alias("ks")
    )


def _bucket_counts_grid(
    ref: DataFrame, cur: DataFrame, columns: list[str], n_bins: int
) -> DataFrame:
    """Shared grid-binned (column, bucket, n_ref, n_cur) relation over the
    reference's min/max edges — distribution_drift's binning, kept as one
    helper so KS and PSI variants bin identically."""
    edges = ref.agg(
        *[F.min(F.col(c).cast("double")).alias(f"__mn_{i}") for i, c in enumerate(columns)],
        *[F.max(F.col(c).cast("double")).alias(f"__mx_{i}") for i, c in enumerate(columns)],
    )

    def side(df: DataFrame, name: str) -> DataFrame:
        cells = F.array(
            *[
                F.struct(
                    F.lit(c).alias("column"),
                    F.when(F.col(f"__mx_{i}") == F.col(f"__mn_{i}"), F.lit(0))
                    .otherwise(
                        F.least(
                            F.greatest(
                                F.floor(
                                    (F.col(c).cast("double") - F.col(f"__mn_{i}"))
                                    * n_bins
                                    / (F.col(f"__mx_{i}") - F.col(f"__mn_{i}"))
                                ),
                                F.lit(0),
                            ),
                            F.lit(n_bins - 1),
                        )
                    )
                    .cast("long")
                    .alias("bucket"),
                )
                for i, c in enumerate(columns)
            ]
        )
        return (
            df.crossJoin(F.broadcast(edges))
            .select(F.explode(cells).alias("__cell"))
            .select("__cell.column", "__cell.bucket")
            .groupBy("column", "bucket")
            .agg(F.count(F.lit(1)).cast("double").alias(f"n_{name}"))
        )

    return side(ref, "ref").join(side(cur, "cur"), ["column", "bucket"], "full_outer").select(
        "column",
        "bucket",
        F.coalesce("n_ref", F.lit(0.0)).alias("n_ref"),
        F.coalesce("n_cur", F.lit(0.0)).alias("n_cur"),
    )


def snapshot_diff(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Keyed symmetric diff of two relations — the migration/replication
    audit operator ("did the copy land intact, and what changed?").

    Returns the CHANGED rows only, keyed, with a ``change_type`` column:
    ``insert`` (key only in ``right``), ``delete`` (key only in ``left``),
    ``update`` (key in both, any compared column differs — NULL-safe, so
    NULL→value and value→NULL both count as changes and NULL==NULL does
    not). Unchanged rows never leave the join, so downstream cost tracks
    the DIFF, not the tables.

    Shape (and why it scales): ONE full outer shuffle join on the key —
    the minimum any exact diff pays — with the per-column comparison
    evaluated JVM-side in the same stage (no second pass, no row
    materialization beyond the compared columns). At 100 TB run it over
    bucketed copies of both sides (write_bucketed on the key) and even
    that shuffle disappears. Assumes ``keys`` are unique per relation
    (pre-aggregate if not — a diff on a non-key is not well defined).
    """
    # None -> default to all shared non-key columns; an EXPLICIT [] means
    # a key-only diff (insert/delete only), not "use the default".
    if compare_cols is None:
        compare_cols = [
            c for c in left.columns if c not in keys and c in right.columns
        ]
    l = left.select(*keys, *compare_cols)
    r = right.select(*keys, *compare_cols)
    lp = l.select(
        *[F.col(k).alias(f"__lk_{k}") for k in keys],
        *[F.col(c).alias(f"__l_{c}") for c in compare_cols],
        F.lit(True).alias("__in_l"),
    )
    rp = r.select(
        *[F.col(k).alias(f"__rk_{k}") for k in keys],
        *[F.col(c).alias(f"__r_{c}") for c in compare_cols],
        F.lit(True).alias("__in_r"),
    )
    cond = None
    for k in keys:
        c = F.col(f"__lk_{k}") == F.col(f"__rk_{k}")
        cond = c if cond is None else cond & c
    j = lp.join(rp, cond, "full_outer")
    # Key-only diff (every shared column is a key, or compare_cols=[]):
    # insert/delete classification is still well defined, there is just
    # nothing that can register as an update.
    differs = F.lit(False)
    for c in compare_cols:
        d = ~F.col(f"__l_{c}").eqNullSafe(F.col(f"__r_{c}"))
        differs = differs | d
    change = (
        F.when(F.col("__in_l").isNull(), F.lit("insert"))
        .when(F.col("__in_r").isNull(), F.lit("delete"))
        .when(differs, F.lit("update"))
    )
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            *[
                F.coalesce(F.col(f"__lk_{k}"), F.col(f"__rk_{k}")).alias(k)
                for k in keys
            ],
            "change_type",
        )
    )


def entropy_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """Shannon entropy (bits) of each column's value distribution →
    (col_name, n_distinct, entropy) — the screen that catches constant
    columns (entropy 0), near-keys (entropy ≈ log2 n), and skewed
    categoricals before they become join/shuffle hot keys. NULL is
    counted as a regular value (a 99%-NULL column should read as
    low-entropy). Per column: one partial-aggregated count shuffle over
    the value domain, then a tiny re-agg of -Σ p·log2(p); the per-column
    plans union into one job. Linear, never a driver-side histogram.
    The normalizer is the TABLE row count (NULLs counted ⇒ every
    column's counts sum to it), computed once as a 1-row aggregate and
    broadcast — not a whole-relation window over the value domain, which
    for a near-key column would funnel |distinct| rows through one
    WindowExec partition (the registry-wide lint in tests/test_plans.py
    forbids that shape)."""
    n_total = df.agg(F.count(F.lit(1)).alias("__n"))
    outs = []
    for c in cols:
        counts = df.groupBy(F.col(c).alias("__v")).agg(
            F.count(F.lit(1)).alias("__c")
        )
        outs.append(
            counts.crossJoin(F.broadcast(n_total))
            .select(
                F.lit(c).alias("col_name"),
                F.col("__c"),
                F.col("__n"),
            )
            .groupBy("col_name")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_distinct"),
                F.round(
                    -F.sum(
                        (F.col("__c") / F.col("__n"))
                        * F.log2(F.col("__c") / F.col("__n"))
                    ),
                    6,
                ).alias("entropy"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def market_basket_rules(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    k: int = 20,
    min_pair_orders: int = 2,
    precision: int = 6,
) -> DataFrame:
    """Association rules over (basket, item) pairs: for every item pair
    co-occurring in ≥ ``min_pair_orders`` baskets, support / confidence /
    lift — the classic market-basket screen, and at corpus scale the
    same arithmetic ranks co-occurring tags, hosts, or near-dup cluster
    features. lift > 1 means the pair co-occurs above independence.

    All statistics are ratios of exact BASKET COUNTS (one distinct
    (basket, item) projection, one self-join keyed on the basket id, two
    tiny item-margin aggregates joined back by item id), so every score
    is a division of the same integers on any engine — no float-sum
    order anywhere, and the top-k by lift is deterministic with the
    (item_a, item_b) tiebreak. The self-join is the Σ basket_size² wedge
    bound, hash-partitioned on the basket id — no cross product."""
    bi = baskets.select(
        F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
    ).distinct()
    n_baskets = bi.select("__b").distinct().count()
    item = bi.groupBy("__i").agg(F.count(F.lit(1)).alias("__ni"))
    a = bi.withColumnRenamed("__i", "item_a")
    b = bi.withColumnRenamed("__i", "item_b")
    pairs = (
        a.join(b, "__b")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("__np"))
        .filter(F.col("__np") >= min_pair_orders)
    )
    j = (
        pairs.join(item.withColumnRenamed("__i", "item_a").withColumnRenamed("__ni", "__na"), "item_a")
        .join(item.withColumnRenamed("__i", "item_b").withColumnRenamed("__ni", "__nb"), "item_b")
    )
    lift = (F.col("__np").cast("double") * F.lit(float(n_baskets))) / (
        F.col("__na").cast("double") * F.col("__nb").cast("double")
    )
    out = j.select(
        "item_a",
        "item_b",
        F.col("__np").cast("long").alias("n_pair"),
        F.round(F.col("__np") / F.lit(float(n_baskets)), precision).alias("support"),
        F.round(F.col("__np") / F.col("__na"), precision).alias("confidence_a_b"),
        F.round(lift, precision).alias("lift"),
        lift.alias("__lift_exact"),
    )
    return (
        out.orderBy(F.col("__lift_exact").desc(), "item_a", "item_b")
        .limit(k)
        .drop("__lift_exact")
    )
