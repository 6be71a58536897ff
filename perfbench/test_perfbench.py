"""Tests of the benchmark's own logic; no Spark needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import pytest

import plandiff
import run
import spans
import sqlmetrics
import workloads as wl


@pytest.mark.parametrize(
    "text, value",
    [
        ("2.6 s", 2600.0),
        ("378.4 KiB", 378.4 * 1024),
        ("17,150", 17150.0),
        ("0.0 B", 0.0),
        ("16.2 MiB", 16.2 * 1024**2),
        ("14 ms", 14.0),
        ("1,000", 1000.0),
        (
            "total (min, med, max (stageId: taskId))\n"
            "372 ms (23 ms, 37 ms, 45 ms (stage 3.0: task 12))",
            372.0,
        ),
        (
            "total (min, med, max (stageId: taskId))\n"
            "271.7 KiB (135.8 KiB, 135.8 KiB, 135.8 KiB (stage 2.0: task 1))",
            271.7 * 1024,
        ),
        ("total (min, med, max (stageId: taskId))\n1.5 s (377 ms, 381 ms, 381 ms (stage 0.0: task 3))", 1500.0),
    ],
)
def test_parse_metric_reads_every_printed_form(text, value):
    assert sqlmetrics.parse_metric(text) == pytest.approx(value)


@pytest.mark.parametrize("text", ["", "n/a", "3 parsecs"])
def test_parse_metric_rejects_unknown_forms(text):
    with pytest.raises(ValueError):
        sqlmetrics.parse_metric(text)


def test_parse_scala_map_keeps_values_with_commas_and_newlines():
    text = (
        "HashMap(56 -> 0, 42 -> total (min, med, max (stageId: taskId))\n"
        "288.0 B (72.0 B, 72.0 B, 72.0 B (stage 0.0: task 0)), 106 -> 14 ms, "
        "35 -> 1,000)"
    )
    got = sqlmetrics.parse_scala_map(text)
    assert got == {
        56: "0",
        42: "total (min, med, max (stageId: taskId))\n"
        "288.0 B (72.0 B, 72.0 B, 72.0 B (stage 0.0: task 0))",
        106: "14 ms",
        35: "1,000",
    }
    assert sqlmetrics.parse_metric(got[42]) == 288.0
    assert sqlmetrics.parse_scala_map("Map()") == {}


def test_operator_metric_mapping():
    assert sqlmetrics.operator_metric("Scan parquet ", "scan time") == "scan.time_ms"
    assert sqlmetrics.operator_metric("Exchange", "shuffle bytes written") == "shuffle.bytes"
    assert (
        sqlmetrics.operator_metric("BroadcastExchange", "time to build")
        == "join.broadcast_build_ms"
    )
    assert (
        sqlmetrics.operator_metric("ArrowEvalPython", "time to initialize Python workers")
        == "python.init_ms"
    )
    assert sqlmetrics.operator_metric("Filter", "number of output rows") is None


def test_plan_fingerprint_depends_on_the_tree_only():
    names = {0: "HashAggregate", 1: "Exchange", 2: "Scan parquet ", 3: "Filter"}
    edges = [(1, 0), (2, 3), (3, 1)]
    fp = sqlmetrics.plan_fingerprint(names, edges)
    relabeled = {10: "HashAggregate", 11: "Exchange", 12: "Scan parquet ", 13: "Filter"}
    assert sqlmetrics.plan_fingerprint(relabeled, [(13, 11), (12, 13), (11, 10)]) == fp
    join = {0: "BroadcastHashJoin", 1: "Scan a", 2: "Scan b"}
    assert sqlmetrics.plan_fingerprint(join, [(1, 0), (2, 0)]) == sqlmetrics.plan_fingerprint(
        join, [(2, 0), (1, 0)]
    )
    names[3] = "Project"
    assert sqlmetrics.plan_fingerprint(names, edges) != fp
    assert sqlmetrics.combine_fingerprints(["a", "b"]) == sqlmetrics.combine_fingerprints(["b", "a"])


@pytest.mark.parametrize("workload", wl.WORKLOADS)
def test_same_seed_gives_same_ops(workload):
    first = wl.plan(workload, 7, 4)
    assert first == wl.plan(workload, 7, 4)
    assert wl.plan(workload, 7, 6)[:4] == first
    assert first != wl.plan(workload, 8, 4)
    names = {"analytics": wl.ANALYTICS, "curation": wl.CURATION, "lakehouse": wl.LAKEHOUSE}
    for p in first:
        assert sorted(p.ops) == sorted(names[workload])


def test_lakehouse_cycles_edit_disjoint_ranges_inside_their_bands():
    for p in wl.plan("lakehouse", 3, 20):
        c = p.cycle
        edits = [c.cow, c.dv_merge, c.update, c.delete]
        bands = {lo // wl.BAND_STEP for lo, _ in edits}
        assert len(bands) == 4
        for lo, hi in edits + [c.append, c.dv_insert, c.pruned]:
            assert 0 <= lo < hi and lo // wl.BAND_STEP == (hi - 1) // wl.BAND_STEP
        assert c.rows_changed() > 0
        dv_bands = {r[0] // wl.BAND_STEP for r in (c.dv_merge, c.update, c.delete)}
        assert c.pruned[0] // wl.BAND_STEP not in dv_bands


def test_unknown_workload_is_refused():
    with pytest.raises(ValueError):
        wl.plan("nope", 1, 1)


def test_self_time_subtracts_covered_child_time():
    got = spans.self_times(
        [
            {"id": 0, "parent": None, "name": "op:q1", "start": 0.0, "end": 10.0},
            {"id": 1, "parent": 0, "name": "queries.build", "start": 1.0, "end": 3.0},
            {"id": 2, "parent": 0, "name": "execute", "start": 2.0, "end": 6.0},
        ]
    )
    assert got == {"op": 5.0, "queries.build": 2.0, "execute": 4.0}


def test_tracer_records_parents_and_nothing_when_off():
    tr = spans.Tracer(True)
    with tr.span("op:x"):
        with tr.span("execute", exec_ids=[1]):
            pass
    assert [(s["name"], s["parent"]) for s in tr.spans] == [("op:x", None), ("execute", 0)]
    off = spans.Tracer(False)
    with off.span("op:x") as sp:
        assert sp is None
    assert off.spans == []


def test_plandiff_labels():
    def result(lat, fp):
        return {"ops": [
            {"pass": 0, "op": "q", "latency_s": 9.0, "plan_fp": None},
            {"pass": 1, "op": "q", "latency_s": lat, "plan_fp": fp},
        ]}

    assert plandiff.diff(result(1.0, "a"), result(1.5, "b"))[0][-1] == "plan changed"
    assert plandiff.diff(result(1.0, "a"), result(1.5, "a"))[0][-1] == "same plan, time moved"
    assert plandiff.diff(result(1.0, "a"), result(1.05, "a"))[0][-1] == "same plan"
    assert plandiff.diff(result(1.0, None), result(1.0, "a"))[0][-1] == "plan unknown"


def test_live_heap_peak_reads_the_largest_occupancy_after_a_pause(tmp_path):
    log = tmp_path / "gc.log"
    log.write_text(
        "[0.002s][info][gc] Using G1\n"
        "[0.125s][info][gc] GC(0) Pause Young (Normal) (G1 Evacuation Pause) 20M->17M(254M) 3.526ms\n"
        "[1.178s][info][gc] GC(3) Pause Young (Concurrent Start) (Metadata GC Threshold) "
        "95M->29M(254M) 5.115ms\n"
        "[1.180s][info][gc] GC(4) Concurrent Mark Cycle\n"
        "[1.300s][info][gc] GC(4) Pause Remark 40M->24M(254M) 1.1ms\n"
    )
    assert run._live_heap_peak_mb(log) == 29.0


def test_per_op_takes_each_ops_median_over_the_warm_untraced_passes():
    bench = run.Bench("curation", 1, trace=False)
    bench.records = [
        {"pass": p, "op": op, "cpu_s": cpu, "traced": traced}
        for p, op, cpu, traced in [
            (0, "a", 50.0, False),  # the cold pass
            (1, "a", 1.0, False), (2, "a", 7.0, True), (3, "a", 3.0, False),
            (4, "a", 2.0, False), (1, "b", 4.0, False),
        ]
    ]
    assert bench._per_op("cpu_s") == (2.0 + 4.0) / 2


def test_jit_cpu_is_zero_for_a_process_without_compiler_threads():
    import os

    assert run._jit_cpu_s(os.getpid()) == 0.0
    work, jit = run._tree_cpu_s(os.getpid())
    assert work > 0 and jit == 0.0
