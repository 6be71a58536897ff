"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line.

Materialization is via the noop sink (full computation + all columns, no
write cost, no driver collect) so timings reflect the distributed plan.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

from datalake_brief_spark import get_spark
from datalake_brief_spark.queries import headline_queries
from datalake_brief_spark.warmup import warm_session as _warm_session


def _checkpoint_sentinel(spark) -> dict[str, float]:
    """Bounded checkpoint-resolution sentinel (VERDICT r10 ask #7): a
    synthetic 30k-live-file state (3 commits × 10k adds — past the
    multi-part spill threshold, so the checkpoint lands as parquet parts
    + marker) is checkpointed once, then resolution is timed min-of-3
    through the two read paths every reader rides: ``_load_checkpoint``
    (driver dict — the `_replay` start state) and
    ``checkpoint_as_dataframe`` (distributed scan of the parts). Runs on
    the driver's own schedule so a regression in `_replay` /
    `_load_checkpoint` / the part layout surfaces in BENCH_r{N}, not
    only in BASELINE.md's one-off 100k point. Not part of the headline
    total (denominator stability)."""
    import tempfile
    import uuid

    from datalake_brief_spark.sources import txlog

    path = os.path.join(tempfile.mkdtemp(prefix="bench_ckpt_"), "t")
    os.makedirs(txlog._log_dir(path))  # noqa: SLF001
    per_commit = 10_000
    for v in range(1, 4):
        rels = [
            f"data/{uuid.uuid4().hex}/part-0.parquet" for _ in range(per_commit)
        ]
        commit = {
            "version": v,
            "adds": rels,
            "removes": [],
            "ts": "2026-08-16T00:00:00+00:00",
            "rows": {r: 1000 for r in rels},
            "stats": {r: {"o_orderkey": [1, 9, 0]} for r in rels},
        }
        with open(txlog._commit_path(path, v), "w") as f:  # noqa: SLF001
            json.dump(commit, f)
    # version 3 is not a checkpoint multiple; force one at the tip via
    # the public on-demand API (idempotent, no private-knob mutation)
    t0 = time.perf_counter()
    txlog.checkpoint_now(path)
    t_write = time.perf_counter() - t0
    t_load = min(
        _timed(lambda: txlog._load_checkpoint(path, 3))  # noqa: SLF001
        for _ in range(3)
    )
    t_scan = min(
        _timed(
            lambda: txlog.checkpoint_as_dataframe(spark, path)
            .selectExpr("count(*) n", "sum(rows) r")
            .collect()
        )
        for _ in range(3)
    )
    return {
        "checkpoint_write_30k": round(t_write, 4),
        "checkpoint_resolve_30k": round(t_load, 4),
        "checkpoint_scan_30k": round(t_scan, 4),
    }


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _merge_sentinel(spark, sf_dir: str) -> dict[str, float]:
    """Fixed-band MERGE tripwire (VERDICT r12 ask #6): orders lands once
    in 8 key-banded files with stats, then a 1-band re-price merge runs
    min-of-3 — each attempt against a fresh zero-copy SHALLOW CLONE so
    every run measures the identical (prebuilt-table, fixed-band) merge,
    never a mutated snapshot. Catches regressions in the candidate-
    pruning ladder, the phase-1 tag scan, and the commit path that the
    headline merges cannot see: ``_lakehouse_table`` builds (and
    memoizes) their tables before the timed loop, so the timer covers
    only the read. Excluded from the headline total like the checkpoint
    sentinels."""
    import tempfile

    from pyspark.sql import functions as F

    from datalake_brief_spark.catalog import load_table
    from datalake_brief_spark.sources import txlog

    base = os.path.join(tempfile.mkdtemp(prefix="bench_merge_"), "t")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice")
    )
    m = int(o.agg(F.max("o_orderkey")).collect()[0][0])
    step = m // 8 + 1
    for i in range(8):
        # contiguous key bands: the source (band 0) stats-prunes the scan
        # to one file, so the sentinel times the LADDER, not a full scan
        band = o.filter(
            (F.col("o_orderkey") >= i * step)
            & (F.col("o_orderkey") < (i + 1) * step)
        )
        txlog.append(band.coalesce(1), base, stats_cols=["o_orderkey"])
    src = (
        o.filter(F.col("o_orderkey") < step)
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 2, 2).alias("o_totalprice"),
        )
        .persist()
    )
    src.count()

    def one() -> float:
        dst = os.path.join(tempfile.mkdtemp(prefix="bench_merge_c_"), "t")
        txlog.clone(base, dst)
        return _timed(
            lambda: txlog.merge_into(
                spark,
                dst,
                src,
                keys=["o_orderkey"],
                when_matched=[("update", "*")],
                when_not_matched=False,
            )
        )

    best = min(one() for _ in range(3))
    src.unpersist()
    return {"merge_fixed_band": round(best, 4)}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark("bench")
    _warm_session(spark)

    timings: dict[str, float] = {}
    for name, fn in headline_queries().items():
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()  # warm (JIT/codegen/IO cache)
        # min-of-N: single-shot timings on a shared box pick up Python-worker
        # spawn and scheduler noise (measured 2s..30s for the SAME plan);
        # the minimum is the reproducible cost of the plan itself. Stop once
        # TWO independent runs agree (second-best within 20% of best) — a
        # single "latest within 25% of best" check can lock in a sustained
        # contention spike when the first few runs are all inflated.
        best = second = float("inf")
        for i in range(8):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            if dt < best:
                best, second = dt, best
            elif dt < second:
                second = dt
            if i >= 2 and second <= best * 1.2:
                break
        timings[name] = round(best, 4)

    sentinels = _checkpoint_sentinel(spark)
    sentinels.update(_merge_sentinel(spark, sf_dir))

    total = round(sum(timings.values()), 4)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                # non-headline regression sentinels (excluded from the
                # total so cross-round denominators stay comparable)
                "sentinels": sentinels,
                "sf": sf,
                # methodology marker (ADVICE r13): session warm-up runs
                # before any timed query from BENCH_r13 onward
                "session_warmup": True,
                # box contention context (the r5/r7 cross-round comparisons
                # were dominated by it): 1/5/15-min load averages at exit
                "loadavg": [round(x, 2) for x in os.getloadavg()],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
