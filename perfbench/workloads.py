"""Seeded op generation and output checks for the three workloads.

An op is one call a library user makes: build a DataFrame (a registered
query or a ``txlog`` call) and ``collect()`` it, or one ``txlog`` write.
``plan(workload, seed, passes)`` fixes everything random about a run from
the seed alone: the op order of each pass and, for ``lakehouse``, the key
ranges each cycle edits and reads. The engine sees only these inputs.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

ANALYTICS = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_nation_revenue",
    "q8_market_share",
    "q2_min_cost_supplier",
    "q21_waiting_suppliers",
    "join_fact_revenue",
    "join_dim_chain",
    "topk_per_group",
    "events_hourly",
]
# The Python/Arrow-boundary queries (simhash's ArrowEvalPython UDF, the
# PNG MapInPandas pair, kNN's pandas UDF) plus JVM-only text and hashing
# queries of the same family. dedup_minhash, dedup_ngram_jaccard,
# dedup_repeated_spans and text_repetition, the slowest curation queries,
# are left out so that a run stays short enough for its set-up (JVM start
# and a cold pass) to be repeated in every run.
CURATION = [
    "dedup_simhash",
    "multimodal_png",
    "knn_batch",
    "dsir_weights_hashed",
    "text_bm25",
    "text_pii_redact",
    "text_gopher_rules",
    "text_quality",
]
# one lakehouse cycle, in order, against a fresh shallow clone
LAKEHOUSE = [
    "append",
    "merge_into_cow",
    "merge_into_dv",
    "update_where_dv",
    "delete_where_dv",
    "read_mor",
    "read_pruned",
    "read_version",
    "checkpoint_now",
    "optimize",
    "history",
    "read_optimized",
]
WORKLOADS = ("analytics", "curation", "lakehouse")

# the stock sf0.1 orders table has keys 0 .. 149,999
ORDERS_ROWS = 150_000
BANDS = 8
BAND_STEP = ORDERS_ROWS // BANDS
APPEND_OFFSET = 1_000_000
INSERT_OFFSET = 2_000_000


@dataclass(frozen=True)
class Cycle:
    """Key ranges (half-open ``[lo, hi)`` on ``o_orderkey``) of one
    lakehouse cycle. Edits hit four distinct bands, so they never overlap."""

    append: tuple[int, int]
    cow: tuple[int, int]
    dv_merge: tuple[int, int]
    dv_insert: tuple[int, int]
    update: tuple[int, int]
    delete: tuple[int, int]
    pruned: tuple[int, int]
    version_after: str  # "append" or "merge_into_cow"

    def rows_changed(self) -> int:
        return sum(
            hi - lo
            for lo, hi in (
                self.append, self.cow, self.dv_merge, self.dv_insert,
                self.update, self.delete,
            )
        )


@dataclass
class Pass:
    ops: list[str]
    cycle: Cycle | None = None  # lakehouse only


# rows each edit touches; fixed, so that every cycle does the same work
# and only where it lands varies with the seed
WIDTH = {"append": 4000, "cow": 4000, "dv_merge": 4000, "dv_insert": 1000,
         "update": 2000, "delete": 2000, "pruned": 4000}


def _range(rng: random.Random, band: int, width: int) -> tuple[int, int]:
    lo = band * BAND_STEP + rng.randrange(0, BAND_STEP - width)
    return lo, lo + width


def _cycle(rng: random.Random) -> Cycle:
    bands = dict(zip(["cow", "dv_merge", "update", "delete"], rng.sample(range(BANDS), 4)))
    for edit in ("append", "dv_insert"):
        bands[edit] = rng.randrange(BANDS)
    # read_pruned is a plain snapshot read, which by design does not apply
    # deletion vectors: it reads a band no DV edit touched
    dv_bands = {bands["dv_merge"], bands["update"], bands["delete"]}
    bands["pruned"] = rng.choice([b for b in range(BANDS) if b not in dv_bands])
    return Cycle(
        **{edit: _range(rng, bands[edit], WIDTH[edit]) for edit in WIDTH},
        version_after=rng.choice(["append", "merge_into_cow"]),
    )


def plan(workload: str, seed: int, passes: int) -> list[Pass]:
    """The first ``passes`` passes of a run; pass 0 is the cold pass.
    A longer plan starts with the same passes as a shorter one."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
    rng = random.Random(f"{workload}:{seed}")
    out = []
    for _ in range(passes):
        if workload == "lakehouse":
            out.append(Pass(list(LAKEHOUSE), _cycle(rng)))
        else:
            names = list(ANALYTICS if workload == "analytics" else CURATION)
            rng.shuffle(names)
            out.append(Pass(names))
    return out


# --------------------------------------------------------------------------
# lakehouse: the same edits, applied by DuckDB to orders.parquet
# --------------------------------------------------------------------------

# exact integer fingerprint of a table state, shared by both engines
FINGERPRINT_EXPRS = [
    "count(*) AS n",
    "sum(o_orderkey) AS keys",
    "sum(o_custkey) AS custs",
    "sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents",
]
FINGERPRINT_SQL = ", ".join(FINGERPRINT_EXPRS)
STATE_GROUP_SQL = "CAST(floor(o_orderkey / 1000) AS BIGINT)"


def expected_cycle(con, orders_path: str, c: Cycle) -> dict[str, object]:
    """Fingerprints every checked lakehouse read must return, computed by
    DuckDB on ``con`` by applying cycle ``c``'s edits to the raw table."""

    def fp(where: str = "TRUE") -> tuple:
        return con.sql(f"SELECT {FINGERPRINT_SQL} FROM st WHERE {where}").fetchone()

    def between(r: tuple[int, int]) -> str:
        return f"o_orderkey >= {r[0]} AND o_orderkey < {r[1]}"

    con.sql("DROP TABLE IF EXISTS st")
    con.sql(
        "CREATE TEMP TABLE st AS SELECT o_orderkey, o_custkey, o_totalprice "
        f"FROM '{orders_path}'"
    )
    shifted = "SELECT o_orderkey + {off}, o_custkey, o_totalprice FROM '{p}' WHERE {w}"
    con.sql(
        "INSERT INTO st "
        + shifted.format(off=APPEND_OFFSET, p=orders_path, w=between(c.append))
    )
    snap = {"append": fp()}
    con.sql(f"UPDATE st SET o_totalprice = round(o_totalprice * 2, 2) WHERE {between(c.cow)}")
    snap["merge_into_cow"] = fp()
    con.sql(
        f"UPDATE st SET o_totalprice = round(o_totalprice * 3, 2) WHERE {between(c.dv_merge)}"
    )
    con.sql(
        "INSERT INTO st "
        + shifted.format(off=INSERT_OFFSET, p=orders_path, w=between(c.dv_insert))
    )
    con.sql(f"UPDATE st SET o_totalprice = o_totalprice + 1 WHERE {between(c.update)}")
    con.sql(f"DELETE FROM st WHERE {between(c.delete)}")
    state = sorted(
        con.sql(
            f"SELECT {STATE_GROUP_SQL} AS g, {FINGERPRINT_SQL} FROM st GROUP BY g"
        ).fetchall()
    )
    return {
        "read_mor": fp(),
        "read_pruned": fp(between(c.pruned)),
        "read_version": snap[c.version_after],
        "read_optimized": fp(),
        "state": state,
        "live_rows": fp()[0],
    }
