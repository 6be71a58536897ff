"""Benchmark of the datalake_brief_spark engine.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 4 --trace 0

Workloads: ``curation`` and ``lakehouse`` (the ones BENCHMARK.json lists)
and ``analytics``, the JVM-only control, which is run by hand.

One closed-loop client: a single driver thread on ``local[nproc]`` starts
the next op only after the previous one returned. An op is one call a
library user makes (build a DataFrame and ``collect()`` it, or one
``txlog`` write); its latency covers build plus collect. Outputs are
checked outside the timed region. Set-up (session start and one cold pass
over the workload's ops) is timed as ``setup_s``; then whole passes run
until ``--seconds`` have passed. The input tables are the engine's stock
sf0.1 tables, kept in ``perfbench/data/sf0.1``. Inputs that do not depend
on the seed (DuckDB's answers, the lakehouse base table) are made by the
first run in a checkout and reused, untimed.

``--trace 0`` prints the end-to-end metrics: ``setup_s`` and
``cpu_s_per_op``, the CPU time a warm op costs the client, the Spark JVM
(without its JIT compiler threads) and the Python workers, taken per op as
the median over the warm passes. ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics: spans around
every call into the engine plus the Spark SQL status store's operator
metrics of each op's executions. Every run also writes a detailed result
file (per-op latencies, plan fingerprints, spans) to
``perfbench/results/``, which ``plandiff.py`` compares.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. All files the run writes stay under
``perfbench/.work`` and ``perfbench/results``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pickle
import re
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
DATA = HERE / "data" / "sf0.1"
BASE = WORK / "base"  # the lakehouse base table, see basetable.py
RESULTS = HERE / "results"
sys.path.insert(0, str(HERE))

import workloads as wl  # noqa: E402
from spans import Tracer, self_times  # noqa: E402

ORDERS_COLS = ["o_orderkey", "o_custkey", "o_totalprice"]


def pin_env() -> dict:
    """Fix the run environment before the JVM starts and return it."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    tmp = WORK / f"tmp-{os.getpid()}"
    tmp.mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": str(tmp / "spark-local"),
        # local mode runs everything in the driver JVM; sf0.1 needs 2 GiB,
        # and a small box keeps half its memory for the Python workers
        "SPARK_DRIVER_MEMORY": f"{min(2048, mem_mb // 2)}m",
        # Python workers import the package from the checkout, whatever
        # the working directory
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        ),
        "TMPDIR": str(tmp),
        # every JVM the launcher starts keeps its temp and perf files here
        "JAVA_TOOL_OPTIONS": " ".join(
            p for p in (os.environ.get("JAVA_TOOL_OPTIONS"),
                        f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p
        ),
    }
    os.environ.update(env)
    tempfile.tempdir = None
    return {**env, "mem_total_mb": mem_mb, "loadavg_start": list(os.getloadavg()),
            "cpu_ticks_start": _cpu_ticks()}


def _cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks so far: the steal share of a run tells how
    much of the box other tenants took while it ran."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks), ticks[7]


def _tree_pids(root: int) -> list[int]:
    """Process ``root`` and its descendants."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:  # the process ended while we looked
                continue
            kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _tree_hwm_kb(root: int, into: dict[int, int]) -> None:
    """Record in ``into`` the peak RSS (VmHWM, KiB) of ``root`` and each
    of its descendants, keeping the larger of the old and new reading."""
    for pid in _tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                kb = sum(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except OSError:
            continue
        into[pid] = max(into.get(pid, 0), kb)


# the JVM's JIT compiler threads ("C1 CompilerThread0", truncated by the
# kernel to 15 characters); kept alive for the whole run, see setup()
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _ticks(stat: str, reaped: bool = True) -> int:
    """utime + stime of a /proc stat line and, if ``reaped``, cutime +
    cstime: the CPU time of the children the process has waited for. A
    thread's line repeats the latter for its whole process."""
    return sum(int(x) for x in stat.rsplit(")", 1)[1].split()[11:15 if reaped else 13])


def _jit_cpu_s(jvm: int) -> float:
    """CPU seconds the JVM's JIT compiler threads have used."""
    ticks = 0
    task = f"/proc/{jvm}/task"
    for tid in os.listdir(task) if os.path.isdir(task) else ():
        try:
            with open(f"{task}/{tid}/stat") as f:
                stat = f.read()
        except OSError:  # the thread ended while we looked
            continue
        if stat[stat.index("(") + 1:stat.rindex(")")].startswith(JIT_THREADS):
            ticks += _ticks(stat, reaped=False)
    return ticks / os.sysconf("SC_CLK_TCK")


def _tree_cpu_s(jvm: int) -> tuple[float, float]:
    """(work, jit): CPU seconds the process tree has used (user + system,
    with reaped children) -- this client, the Spark JVM and its Python
    workers -- split into the JVM's JIT compilers and all the rest. Unlike
    wall time, neither grows with the CPU time other tenants of the host
    take from this machine. JIT compiling is a warm-up cost that falls
    pass after pass, so it is kept apart from the per-op work."""
    ticks = 0
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ticks += _ticks(f.read())
        except OSError:
            continue
    jit = _jit_cpu_s(jvm)
    return ticks / os.sysconf("SC_CLK_TCK") - jit, jit


def _live_heap_peak_mb(gc_log: Path) -> float:
    """The largest heap occupancy right after a GC pause, from the JVM's
    GC log (``... Pause Young (Normal) (G1 Evacuation Pause) 95M->29M(254M)``):
    what the program kept live, whatever size the collector grew the heap to."""
    after = [int(m[1]) for m in re.finditer(r"Pause .* \d+M->(\d+)M\(", gc_log.read_text())]
    return float(max(after, default=0))


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    for dirpath, _, files in os.walk(path):
        for name in files:
            full = os.path.join(dirpath, name)
            out[full] = os.path.getsize(full)
    return out


class Bench:
    def __init__(self, workload: str, seed: int, trace: bool):
        self.workload, self.seed = workload, seed
        self.passes = wl.plan(workload, seed, 8)
        self.tracer = Tracer(trace)
        self.records: list[dict] = []
        self.cycles: list[dict] = []
        self.hashes: dict[str, str] = {}
        self.hwm_kb: dict[int, int] = {}

    # -- set-up ------------------------------------------------------------

    def prepare(self) -> None:
        """Inputs and expected outputs, before anything is timed."""
        import duckdb

        from datalake_brief_spark.catalog import TABLES, table_path
        from datalake_brief_spark.queries import QUERIES
        from tests.test_oracle_parity import _canon

        self.canon = _canon
        self.sf_dir = str(DATA)
        self.orders_path = table_path(self.sf_dir, "orders")
        self.ddb = duckdb.connect()
        for name in TABLES:
            self.ddb.sql(
                f"CREATE VIEW {name} AS SELECT * FROM '{table_path(self.sf_dir, name)}'"
            )
        self.expected: dict[str, tuple] = {}
        if self.workload == "lakehouse":
            if not (BASE / "_COMPLETE").exists():
                subprocess.run([sys.executable, str(HERE / "basetable.py")], check=True)
            self.base = str(BASE / "t")
        else:
            names = wl.ANALYTICS if self.workload == "analytics" else wl.CURATION
            for name in names:
                if QUERIES[name].oracle is not None:
                    self.expected[name] = self._oracle(name, QUERIES[name].oracle)

    def _oracle(self, name: str, sql: str) -> tuple:
        """(sorted column names, canonical rows) of DuckDB running ``sql``
        on the input tables. The tables never change, so the answer is
        cached per SQL text."""
        path = WORK / "oracles" / f"{name}-{hashlib.sha1(sql.encode()).hexdigest()[:16]}.pkl"
        if path.exists():
            return pickle.loads(path.read_bytes())
        res = self.ddb.sql(sql)
        cols = [d[0] for d in res.description]
        answer = (sorted(cols), self.canon(res.fetchall(), cols))
        path.parent.mkdir(exist_ok=True)
        tmp = path.with_suffix(f".tmp{os.getpid()}")
        tmp.write_bytes(pickle.dumps(answer))
        tmp.rename(path)
        return answer

    def setup(self) -> float:
        from datalake_brief_spark import get_spark

        self.gc_log = Path(os.environ["TMPDIR"]) / "gc.log"
        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark(
                "perfbench",
                extra_conf={
                    "spark.sql.warehouse.dir": str(Path(os.environ["TMPDIR"]) / "warehouse"),
                    # every GC's heap occupancy, for the live-heap peak; and
                    # JIT compiler threads that live as long as the JVM, so
                    # _jit_cpu_s sees all their CPU time
                    "spark.driver.extraJavaOptions": f"-Xlog:gc:file={self.gc_log} "
                    "-XX:-UseDynamicNumberOfCompilerThreads",
                    # keep every execution of the run readable by the tracer
                    "spark.sql.ui.retainedExecutions": "100000",
                },
            )
        self.start_s = time.perf_counter() - t0
        # the JVM (the launcher execs into it) and, under it, the Python
        # worker daemon and workers: the program's memory, not this client's
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid  # noqa: SLF001
        if self.tracer.enabled:
            from sqlmetrics import StatusStoreReader

            self.reader = StatusStoreReader(self.spark)
        t1 = time.perf_counter()
        with self.tracer.span("session.warmup"):
            self.run_pass(0, self.passes[0], traced=False)
        self.warmup_s = time.perf_counter() - t1
        _tree_hwm_kb(self.jvm_pid, self.hwm_kb)
        return self.start_s + self.warmup_s

    def _orders(self):
        from datalake_brief_spark.catalog import load_table

        return load_table(self.spark, self.sf_dir, "orders").select(*ORDERS_COLS)

    # -- ops ---------------------------------------------------------------

    def run_pass(self, index: int, p: wl.Pass, traced: bool) -> None:
        if p.cycle is None:
            for name in p.ops:
                self._op(index, name, traced, lambda n=name: self._query(n),
                         lambda out, n=name: self._check_query(n, out))
        else:
            self._cycle(index, p, traced)

    def _op(self, index: int, name: str, traced: bool, call, check) -> object:
        mark = self.reader.mark() if traced else None
        tr = self.tracer
        failed, out = "", None
        cpu0, jit0 = _tree_cpu_s(self.jvm_pid)
        with tr.span(f"op:{name}", passno=index) as sp:
            t0 = time.perf_counter()
            try:
                out = call()
            except Exception as exc:  # an op that raises is a failed op
                failed = f"raised {exc!r}"
            latency = time.perf_counter() - t0
        cpu1, jit1 = _tree_cpu_s(self.jvm_pid)
        if not failed:
            try:
                failed = "" if check(out) else f"wrong result {out!r:.300}"
            except Exception as exc:  # e.g. the version of a failed earlier op
                failed = f"check raised {exc!r}"
        if failed:
            print(f"op {name} (pass {index}): {failed}", file=sys.stderr)
        rec = {"pass": index, "op": name, "latency_s": latency, "cpu_s": cpu1 - cpu0,
               "jit_cpu_s": jit1 - jit0, "ok": not failed, "traced": traced,
               "error": failed or None}
        if traced:
            ids, layers, fp = self.reader.since(mark)
            rec.update(exec_ids=ids, layers=layers, plan_fp=fp)
            # executions belong to the last child span: the one that
            # collected (execute) or wrote (txlog.<fn>)
            inner = [s for s in tr.spans if s["parent"] == sp["id"]]
            if inner:
                inner[-1].update(exec_ids=ids, plan_fp=fp)
        self.records.append(rec)
        return out

    def _query(self, name: str):
        from datalake_brief_spark.queries import QUERIES

        with self.tracer.span("queries.build"):
            df = QUERIES[name].fn(self.spark, self.sf_dir)
        with self.tracer.span("execute"):
            return df.collect(), df.columns

    def _check_query(self, name: str, out) -> bool:
        rows, cols = out
        got = (sorted(cols), self.canon(rows, cols))
        if name in self.expected:
            return got == self.expected[name]
        # no oracle: the cold pass records the output, later passes match it
        digest = hashlib.sha1(repr(got).encode()).hexdigest()
        return self.hashes.setdefault(name, digest) == digest

    def _read(self, fn: str, make) -> tuple:
        """A lakehouse read op: the txlog call, then the table fingerprint."""
        with self.tracer.span(f"txlog.{fn}"):
            df = make()
        with self.tracer.span("execute"):
            return tuple(df.selectExpr(*wl.FINGERPRINT_EXPRS).collect()[0])

    def _cycle(self, index: int, p: wl.Pass, traced: bool) -> None:
        from pyspark.sql import functions as F

        from datalake_brief_spark.sources import txlog

        c = p.cycle
        exp = wl.expected_cycle(self.ddb, self.orders_path, c)
        spark, tr = self.spark, self.tracer
        path = os.path.join(tempfile.mkdtemp(prefix="clone_"), "t")
        with tr.span("txlog.clone", passno=index):
            txlog.clone(self.base, path)
        before = _dir_files(path)

        k = F.col("o_orderkey")

        def keys(r, off=0):
            return self._orders().filter((k >= r[0]) & (k < r[1])).withColumn(
                "o_orderkey", k + off
            )

        price = F.col("o_totalprice")
        sources = {
            "append": keys(c.append, wl.APPEND_OFFSET),
            "merge_into_cow": keys(c.cow).withColumn("o_totalprice", F.round(price * 2, 2)),
            "merge_into_dv": keys(c.dv_merge)
            .withColumn("o_totalprice", F.round(price * 3, 2))
            .unionByName(keys(c.dv_insert, wl.INSERT_OFFSET)),
        }
        versions: dict[str, int] = {}

        def write(fn, call):
            def run():
                with tr.span(f"txlog.{fn}"):
                    return call()
            return run

        def in_range(r):
            return (k >= r[0]) & (k < r[1])

        calls = {
            "append": write("append", lambda: txlog.append(
                sources["append"], path, stats_cols=["o_orderkey"])),
            "merge_into_cow": write("merge_into", lambda: txlog.merge_into(
                spark, path, sources["merge_into_cow"], keys=["o_orderkey"],
                when_matched=[("update", "*")], when_not_matched=False)),
            "merge_into_dv": write("merge_into", lambda: txlog.merge_into(
                spark, path, sources["merge_into_dv"], keys=["o_orderkey"],
                when_matched=[("update", "*")], when_not_matched=True, use_dvs=True)),
            "update_where_dv": write("update_where_dv", lambda: txlog.update_where_dv(
                spark, path, in_range(c.update), {"o_totalprice": price + 1},
                prune_col="o_orderkey", lo=c.update[0], hi=c.update[1] - 1)),
            "delete_where_dv": write("delete_where_dv", lambda: txlog.delete_where_dv(
                spark, path, in_range(c.delete),
                prune_col="o_orderkey", lo=c.delete[0], hi=c.delete[1] - 1)),
            "read_mor": lambda: self._read("read_mor", lambda: txlog.read_mor(spark, path)),
            "read_pruned": lambda: self._read("read_pruned", lambda: txlog.read_pruned(
                spark, path, "o_orderkey", c.pruned[0], c.pruned[1] - 1)),
            "read_version": lambda: self._read("read", lambda: txlog.read(
                spark, path, version=versions[c.version_after])),
            "checkpoint_now": write("checkpoint_now", lambda: txlog.checkpoint_now(path)),
            "optimize": write("optimize", lambda: txlog.optimize(spark, path)),
            "history": write("history", lambda: txlog.history(path)),
            "read_optimized": lambda: self._read(
                "read_mor", lambda: txlog.read_mor(spark, path)),
        }

        def check(name):
            def ok(out) -> bool:
                if name in exp:
                    return out == exp[name]
                if name == "history":
                    got = [h["version"] for h in out]
                    return got == list(range(versions["optimize"], got[-1] - 1, -1))
                if name == "checkpoint_now":
                    return out == versions["delete_where_dv"]
                previous = max(versions.values(), default=-1)
                versions[name] = out
                return isinstance(out, int) and out > previous
            return ok

        first = len(self.records)
        for name in p.ops:
            self._op(index, name, traced, calls[name], check(name))
        # the whole table state, group by group, against DuckDB's
        state = self._state(path)
        if state != exp["state"]:
            print(f"lakehouse table state differs in pass {index}", file=sys.stderr)
            self.records[-1].update(ok=False, error="table state differs from DuckDB's")
        self._account(index, path, before, c, exp, self.records[first:], versions)

    def _state(self, path: str) -> list[tuple]:
        from datalake_brief_spark.sources import txlog

        df = txlog.read_mor(self.spark, path)
        df.createOrReplaceTempView("perfbench_state")
        return sorted(
            tuple(r)
            for r in self.spark.sql(
                f"SELECT {wl.STATE_GROUP_SQL} AS g, {wl.FINGERPRINT_SQL} "
                "FROM perfbench_state GROUP BY g"
            ).collect()
        )

    def _account(self, index, path, before, c, exp, recs, versions) -> None:
        """Bytes txlog wrote in the cycle and what the table now stores."""
        from datalake_brief_spark.sources import txlog

        after = _dir_files(path)
        new = {f: s for f, s in after.items() if f not in before}
        log = {f: s for f, s in new.items() if "/_txlog/" in f}
        dvs = {f: s for f, s in new.items() if "/_dv/" in f}
        data = sum(new.values()) - sum(log.values()) - sum(dvs.values())
        stored = sum(os.path.getsize(f) for f in txlog.visible_files(path))
        for group in {g for gs in txlog.visible_dvs(path).values() for g in gs}:
            stored += sum(_dir_files(os.path.join(path, group)).values())
        stored += sum(s for f, s in after.items() if "/_txlog/" in f)
        # what read_pruned chose from: the snapshot before optimize
        files_visible = len(txlog.visible_files(path, versions.get("delete_where_dv")))
        pruned = [r for r in recs if r["op"] == "read_pruned" and "layers" in r]
        self.cycles.append({
            "pass": index,
            "commits": sum(1 for f in log if f.endswith(".json") and Path(f).stem.isdigit()),
            "log_bytes": sum(log.values()),
            "data_bytes": data,
            "dv_bytes": sum(dvs.values()),
            "write_bytes_per_row": sum(new.values()) / c.rows_changed(),
            "stored_bytes_per_row": stored / exp["live_rows"],
            "files_visible": files_visible,
            "files_read_ratio": (
                pruned[0]["layers"]["scan.files"] / files_visible if pruned else None
            ),
        })

    # -- metrics -----------------------------------------------------------

    def measure(self, seconds: float) -> None:
        t0 = time.perf_counter()
        index = 1
        # a traced run brackets each traced pass with untraced ones, so
        # the warm-up trend cancels out of trace_overhead
        min_passes = 3 if self.tracer.enabled else 1
        while index <= min_passes or time.perf_counter() - t0 < seconds:
            if index >= len(self.passes):
                self.passes = wl.plan(self.workload, self.seed, 2 * len(self.passes))
            traced = self.tracer.enabled and index % 2 == 0
            with self.tracer.span("run", passno=index):
                self.run_pass(index, self.passes[index], traced)
            # after every pass, so a Python worker that exits later still counts
            _tree_hwm_kb(self.jvm_pid, self.hwm_kb)
            index += 1

    def _plain(self) -> list[dict]:
        """Records of the warm, untraced passes."""
        return [r for r in self.records if r["pass"] > 0 and not r["traced"]]

    def _per_op(self, key: str) -> float:
        """``key`` of a warm untraced op: each op's median over the passes,
        averaged over the workload's ops. The median keeps a pass that ran
        while the host was busy from moving it."""
        by_op: dict[str, list[float]] = {}
        for r in self._plain():
            by_op.setdefault(r["op"], []).append(r[key])
        return statistics.fmean(statistics.median(v) for v in by_op.values())

    def end_to_end(self, setup_s: float) -> dict[str, float]:
        return {"setup_s": setup_s, "cpu_s_per_op": self._per_op("cpu_s")}

    def per_layer(self) -> dict[str, float]:
        from sqlmetrics import COUNT_METRICS, OPERATOR_METRICS

        traced = [r for r in self.records if r.get("layers") is not None]
        op_pass = {s["id"]: s["passno"] for s in self.tracer.spans if s["name"].startswith("op:")}
        builds = [
            (op_pass[s["parent"]], s["end"] - s["start"])
            for s in self.tracer.spans if s["name"] == "queries.build"
        ]
        m = {
            "session.start_s": self.start_s,
            "session.warmup_s": self.warmup_s,
            "memory.peak_rss_mb": sum(self.hwm_kb.values()) / 1024,
            "memory.live_heap_peak_mb": _live_heap_peak_mb(self.gc_log),
            "queries.build_s": statistics.median([d for p, d in builds if p > 0] or [0.0]),
            "queries.cold_build_s": sum(d for p, d in builds if p == 0),
            "jvm.jit_cpu_s_per_op": self._per_op("jit_cpu_s"),
        }
        for key in OPERATOR_METRICS + COUNT_METRICS:
            m[key] = statistics.fmean([r["layers"][key] for r in traced]) if traced else 0.0
        init = sum(r["layers"]["python.init_ms"] for r in traced)
        run = sum(r["layers"]["python.run_ms"] for r in traced)
        m["python.init_share"] = init / (init + run) if init + run else 0.0
        # read_optimized is the same read_mor call as read_mor
        for op in [op for op in wl.LAKEHOUSE if op != "read_optimized"]:
            times = [r["latency_s"] for r in traced if r["op"] == op]
            m[f"txlog.{op}_s"] = statistics.median(times) if times else 0.0
        clones = [s["end"] - s["start"] for s in self.tracer.spans if s["name"] == "txlog.clone"]
        m["txlog.clone_s"] = statistics.median(clones) if clones else 0.0
        cyc = [c for c in self.cycles if c["pass"] > 0]
        for key, name in [
            ("commits", "txlog.commits"), ("log_bytes", "txlog.log_bytes"),
            ("data_bytes", "txlog.data_bytes_written"), ("dv_bytes", "txlog.dv_bytes_written"),
            ("files_visible", "txlog.files_visible"),
            ("write_bytes_per_row", "txlog.write_bytes_per_row"),
            ("stored_bytes_per_row", "txlog.stored_bytes_per_row"),
        ]:
            m[name] = statistics.fmean([c[key] for c in cyc]) if cyc else 0.0
        ratios = [c["files_read_ratio"] for c in cyc if c["files_read_ratio"] is not None]
        m["txlog.files_read_ratio"] = statistics.fmean(ratios) if ratios else 0.0
        # what the caller waits for, from the untraced passes. Not gated:
        # other tenants of the host move wall time by more than any allowed
        # bound, and the median op jumps between op types, whose latencies
        # differ several-fold
        lat_p = [r["latency_s"] for r in self._plain()]
        m["client.ops_per_s"] = len(lat_p) / sum(lat_p)
        m["client.op_p50_s"] = statistics.median(lat_p)
        lat_t = [r["latency_s"] for r in traced]
        m["trace_overhead"] = (len(lat_t) / sum(lat_t)) / m["client.ops_per_s"]
        return m

    def stop(self) -> None:
        if getattr(self, "spark", None) is not None:
            stop_spark(self.spark)


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)
    to exit."""
    gateway = spark.sparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=wl.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import datalake_brief_spark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not (DATA / "orders.parquet").exists():
        print(f"input tables missing from {DATA}", file=sys.stderr)
        return 2
    env = pin_env()

    bench = Bench(args.workload, args.seed, bool(args.trace))
    phases, t = {}, time.perf_counter()

    def phase(name):
        nonlocal t
        now = time.perf_counter()
        phases[name], t = now - t, now

    try:
        bench.prepare()
        phase("prepare_s")
        setup_s = bench.setup()
        phase("setup_s")
        bench.measure(args.seconds)
        phase("measure_s")
        metrics = bench.per_layer() if args.trace else bench.end_to_end(setup_s)
    finally:
        bench.stop()
        shutil.rmtree(os.environ["TMPDIR"], ignore_errors=True)
        phase("stop_s")
    env["loadavg_end"] = list(os.getloadavg())
    total, steal = _cpu_ticks()
    env["cpu_steal_share"] = (steal - env["cpu_ticks_start"][1]) / (
        total - env.pop("cpu_ticks_start")[0]
    )

    units = json.loads((ROOT / "BENCHMARK.json").read_text())
    unit = {
        m["name"]: m["unit"]
        for m in units["end_to_end" if not args.trace else "per_layer"]
    }
    failed = sum(not r["ok"] for r in bench.records)
    result = {
        "correct": failed == 0,
        "attempted": len(bench.records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit[k]} for k, v in metrics.items()},
    }
    RESULTS.mkdir(exist_ok=True)
    detail = RESULTS / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    detail.write_text(json.dumps({
        "args": vars(args),
        "env": env,
        "phases": phases,
        "result": result,
        "ops": bench.records,
        "cycles": bench.cycles,
        "self_s": self_times(bench.tracer.spans) if args.trace else {},
        "spans": bench.tracer.spans,
    }, indent=1))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
