"""Local mirror of the driver's correctness gate: every registered query with
an oracle must match DuckDB on row count, column names, and (order-
insensitively) values — at sf0.001 for speed; the driver re-checks at sf0.01.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from datalake_brief_spark.catalog import TABLES, table_path
from datalake_brief_spark.queries import QUERIES

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for name in TABLES:
        con.sql(
            f"CREATE VIEW {name} AS SELECT * FROM '{table_path(SF_SMOKE, name)}'"
        )
    yield con
    con.close()


def _canon(rows, colnames):
    """Sort columns by name, normalize values, sort rows — the driver's
    order-insensitive comparison shape."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])

    def norm(v):
        if isinstance(v, bool):
            return v
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            # kill -0.0 and sub-epsilon representation jitter
            return round(v, 9) + 0.0
        return v

    # repr-keyed sort: rows may contain None/mixed types
    return sorted(
        (tuple(norm(r[i]) for i in order) for r in rows), key=repr
    )


ORACLE_QUERIES = sorted(n for n, q in QUERIES.items() if q.oracle is not None)
NO_ORACLE = sorted(n for n, q in QUERIES.items() if q.oracle is None)


@pytest.fixture(scope="module")
def prefetch(request, spark):
    """Spark-side result prefetcher (r14, guide §2.6 — overlap independent
    jobs): the parity suite is ~290 serial Spark collects at local[4],
    each leaving the session idle during its scheduling gaps and the
    DuckDB/compare phase — it was the single largest block of the verify
    gate (~11 min). Every query is independent, the Spark scheduler
    happily runs several jobs at once, and the driver-gate semantics are
    untouched: each test still consumes ITS OWN query's rows (or raises
    its own exception) in the same order, only the Spark evaluation is
    started ahead by a 4-thread pool. DuckDB stays on the pytest thread
    (connections are not thread-safe). Spark results are deterministic
    regardless of concurrency — the collected rows are identical to the
    serial run's (the whole suite is the proof). Only the tests this
    session selected are prefetched (a ``-k`` run evaluates just its
    matches), and each result is dropped once its test has read it."""
    from concurrent.futures import ThreadPoolExecutor

    pool = ThreadPoolExecutor(max_workers=4)

    def run(name):
        sdf = QUERIES[name].fn(spark, SF_SMOKE)
        return sdf.collect(), sdf.columns

    selected = [
        item.callspec.params["name"]
        for item in request.session.items
        if item.module is request.module
    ]
    futures = {n: pool.submit(run, n) for n in selected}
    yield lambda name: futures.pop(name).result()
    pool.shutdown(wait=False, cancel_futures=True)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_matches_oracle(spark, ddb, prefetch, name):
    q = QUERIES[name]
    srows, scols = prefetch(name)

    ores = ddb.sql(q.oracle)
    orows = ores.fetchall()
    ocols = [d[0] for d in ores.description]

    assert sorted(scols) == sorted(ocols), f"{name}: column names differ"
    assert len(srows) == len(orows), f"{name}: row count {len(srows)} != {len(orows)}"
    assert _canon(srows, scols) == _canon(orows, ocols), f"{name}: values differ"


@pytest.mark.parametrize("name", NO_ORACLE)
def test_runs_without_oracle(spark, prefetch, name):
    """Hash-family / approximate ops: must at least execute with a stable
    schema (ground-truth checks live in their dedicated test modules)."""
    rows, cols = prefetch(name)
    assert cols
