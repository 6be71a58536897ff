"""Build the table every lakehouse cycle clones.

    python3 perfbench/basetable.py

It is the stock ``orders`` table (key, customer and price columns) written
as one txlog append per contiguous key band, with key stats, like the merge
sentinel: ``BANDS`` data files. It does not depend on the seed, so
``run.py`` has it built once per checkout into ``perfbench/.work/base``,
in a process of its own: the JVM whose set-up a run times has then never
run txlog code before, on the first run in a checkout as on later ones.
"""

from __future__ import annotations

import os
import shutil

import run
import workloads as wl


def build() -> None:
    from pyspark.sql import functions as F

    from datalake_brief_spark import get_spark
    from datalake_brief_spark.catalog import load_table
    from datalake_brief_spark.sources import txlog

    spark = get_spark(
        "perfbench-base",
        extra_conf={"spark.sql.warehouse.dir": os.path.join(os.environ["TMPDIR"], "warehouse")},
    )
    try:
        tmp = run.WORK / f"base.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        orders = load_table(spark, str(run.DATA), "orders").select(*run.ORDERS_COLS)
        k = F.col("o_orderkey")
        for i in range(wl.BANDS):
            band = orders.filter((k >= i * wl.BAND_STEP) & (k < (i + 1) * wl.BAND_STEP))
            txlog.append(band.coalesce(1), str(tmp / "t"), stats_cols=["o_orderkey"])
        (tmp / "_COMPLETE").touch()
        shutil.rmtree(run.BASE, ignore_errors=True)
        tmp.rename(run.BASE)
    finally:
        run.stop_spark(spark)


if __name__ == "__main__":
    build()
