"""Tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest benchmark/test_benchmark.py -q
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import inputs  # noqa: E402
import measure  # noqa: E402
import run  # noqa: E402
from measure import Span, Tracer  # noqa: E402
from workloads import Op  # noqa: E402

BENCHMARK = json.loads((HERE.parent / "BENCHMARK.json").read_text())


# ---- tail percentile selection ---------------------------------------------
@pytest.mark.parametrize(
    "n, pct",
    [(5, 50.0), (19, 50.0), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, pct):
    values = [float(i) for i in range(n)]
    got_pct, got = measure.tail_percentile(values)
    assert got_pct == pct
    assert got == pytest.approx(float(np.percentile(values, pct)))
    if n >= 2 * measure.MIN_BEYOND:
        assert sum(v > got for v in values) >= measure.MIN_BEYOND - 1


def test_percentile_matches_numpy_linear():
    rng = np.random.default_rng(3)
    xs = list(rng.exponential(1.0, 37))
    for p in (0, 10, 50, 90, 100):
        assert measure.percentile(xs, p) == pytest.approx(float(np.percentile(xs, p)))
    assert measure.percentile(xs, 50) == pytest.approx(statistics.median(xs))


# ---- self time ---------------------------------------------------------------
def test_self_time_subtracts_union_of_clipped_children():
    spans = [
        Span("root", 0.0, 10.0, None, 0),
        Span("a", 1.0, 3.0, 0, 0),
        Span("b", 2.0, 5.0, 0, 0),  # overlaps a: covered once
        Span("c", 8.0, 12.0, 0, 0),  # runs past the parent: clipped at 10
        Span("a.child", 1.5, 2.0, 1, 0),
    ]
    st = measure.self_times(spans)
    assert st[0] == pytest.approx(10.0 - (4.0 + 2.0))
    assert st[1] == pytest.approx(2.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)


def test_self_times_of_a_nested_tree_add_up_to_the_root():
    tr = Tracer(enabled=True)
    tr.op = 7
    with tr.span("bench.op"):
        with tr.span("api.load"):
            with tr.span("sources.readers.read"):
                time.sleep(0.01)
        with tr.span("exec.collect"):
            time.sleep(0.01)
    spans = tr.op_spans(7)
    assert [s.parent for s in spans] == [None, 0, 1, 0]
    root = spans[0]
    assert sum(measure.self_times(spans)) == pytest.approx(root.end - root.start)


def test_op_spans_renumbers_parents_per_op():
    tr = Tracer(enabled=True)
    for op in range(2):
        tr.op = op
        with tr.span("bench.op"):
            with tr.span("plans.build"):
                pass
    assert [s.parent for s in tr.op_spans(1)] == [None, 0]


def test_wrap_records_spans_and_restore_puts_back():
    class Owner:
        @staticmethod
        def f(x):
            return x + 1

    original = Owner.f
    tr = Tracer(enabled=True)
    tr.wrap(Owner, "f", "layer.f")
    assert Owner.f(1) == 2
    tr.restore()
    assert Owner.f is original
    assert [s.name for s in tr.spans] == ["layer.f"]
    off = Tracer(enabled=False)
    off.wrap(Owner, "f", "layer.f")
    assert Owner.f is original


# ---- per-op job and stage deltas -------------------------------------------
def _job(i, sub_ms, end_ms):
    return {"jobId": i, "submissionTime": sub_ms, "completionTime": end_ms}


def _stage(i, run_ms=0, tasks=1, **kw):
    return {"stageId": i, "executorRunTime": run_ms, "numCompleteTasks": tasks, **kw}


def test_new_entries_returns_only_unseen_jobs_and_stages():
    jobs = [_job(5, 0, 1), _job(4, 0, 1), _job(3, 0, 1)]  # store lists newest first
    stages = [_stage(9), _stage(8), _stage(7), _stage(6)]
    new_jobs, new_stages, lj, ls = measure.new_entries(jobs, stages, 3, 7)
    assert [j["jobId"] for j in new_jobs] == [5, 4]
    assert [s["stageId"] for s in new_stages] == [9, 8]
    assert (lj, ls) == (5, 9)
    again = measure.new_entries(jobs, stages, lj, ls)
    assert again == ([], [], 5, 9)


def test_jobs_in_span_uses_submission_time():
    jobs = [_job(0, 1_000, 1_500), _job(1, 2_500, 4_000), _job(2, 5_000, 5_001)]
    assert measure.jobs_in_span(jobs, 1.0, 3.0) == 2
    assert measure.jobs_in_span(jobs, 3.0, 4.9) == 0


def test_exec_summary_driver_gap_and_slot_ratio():
    jobs = [_job(0, 1_000, 2_000), _job(1, 1_500, 3_000), _job(2, 6_000, 7_000)]
    stages = [
        _stage(0, run_ms=2_000, tasks=4, shuffleWriteRecords=10, shuffleReadBytes=5,
               shuffleWriteBytes=6, memoryBytesSpilled=1, diskBytesSpilled=2, jvmGcTime=100),
        _stage(1, run_ms=6_000, tasks=2),
    ]
    out = measure.exec_summary(jobs, stages, 0.0, 10.0, cores=4)
    assert out["exec.jobs"] == 3 and out["exec.stages"] == 2 and out["exec.tasks"] == 6
    assert out["exec.driver_gap_s"] == pytest.approx(10.0 - (2.0 + 1.0))
    assert out["exec.task_s"] == pytest.approx(8.0)
    assert out["exec.slot_busy_ratio"] == pytest.approx(8.0 / 40.0)
    assert out["exec.shuffle_records"] == 10 and out["exec.spill_bytes"] == 3
    assert out["exec.gc_s"] == pytest.approx(0.1)


# ---- expected answers --------------------------------------------------------
def test_round_half_up_matches_spark_round():
    x = np.array([0.5, 1.5, 2.5, 2.4999999, 3.0, 7.5000001])
    assert inputs.round_half_up(x).tolist() == [1, 2, 3, 2, 3, 8]


def test_sessions_merge_at_exactly_the_gap():
    gap = inputs.SESSION_GAP_S
    ts = np.array([0, gap, 2 * gap + 1, 10])
    users = np.array([1, 1, 1, 2])
    assert inputs.expected_sessions(ts, users) == [
        [1, 0, 2 * gap, 2], [1, 2 * gap + 1, 3 * gap + 1, 1], [2, 10, 10 + gap, 1],
    ]


# ---- emitted names match BENCHMARK.json --------------------------------------
def test_end_to_end_names_and_units_match_benchmark_json():
    ops = [Op(1.0, True, 10), Op(2.0, True, 10)]
    got = run.end_to_end_metrics(ops, 1.0, 2**20)
    declared = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    assert {k: v["unit"] for k, v in got.items()} == declared
    assert all(v["value"] > 0 for v in got.values())


def test_per_layer_names_and_units_match_benchmark_json():
    class Store:
        read_s = 0.0

    tr = Tracer(enabled=True)
    ops = [Op(1.0, True, 10, family="dedup", layers={"wall_s": 1.0, "exec.task_s": 2.0})]
    setup = {"start": 1.0, "warmup": 0.5}
    declared = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    for workload in BENCHMARK_WORKLOADS():
        got = run.per_layer_metrics(workload, ops, {}, setup, tr, Store(), 4)
        assert {k: run.unit_of(k) for k in got} == declared


def BENCHMARK_WORKLOADS() -> list[str]:
    from workloads import WORKLOADS

    names = [w["name"] for w in BENCHMARK["workloads"]]
    assert sorted(names) == sorted(WORKLOADS)
    return names


# ---- recount3-shaped lake ------------------------------------------------------
def test_lake_counts_files_match_their_expected_totals(tmp_path, monkeypatch):
    import gzip

    monkeypatch.setattr(inputs, "LAKE_PROJECTS", 3)
    monkeypatch.setattr(inputs, "LAKE_GENES", 50)
    monkeypatch.setattr(inputs, "WARMUP_GENES", 10)
    monkeypatch.setattr(inputs, "LAKE_REQUESTS", 20)
    inputs.make_lake(tmp_path, seed=1)
    plan = json.loads((tmp_path / "plan.json").read_text())
    assert len(plan["stream"]) == 20 and plan["warmup"] not in plan["stream"]
    sra = tmp_path / "remote" / "human" / "data_sources" / "sra"
    for pid, exp in plan["expected"].items():
        [counts_file] = (sra / "gene_sums").glob(f"*/{pid}/*.G029.gz")
        lines = gzip.open(counts_file, "rt").read().splitlines()
        assert lines[0].startswith("##") and lines[1].startswith("##")
        header, body = lines[2].split("\t"), [ln.split("\t") for ln in lines[3:]]
        assert header[0] == "gene_id" and len(header) == 1 + inputs.LAKE_SAMPLES
        assert len(body) == (10 if pid == plan["warmup"] else 50)
        [qc_file] = (sra / "metadata").glob(f"*/{pid}/*.recount_qc.*")
        qc = [ln.split("\t") for ln in gzip.open(qc_file, "rt").read().splitlines()]
        auc = {r[1]: float(r[qc[0].index("bc_auc.all_reads_all_bases")]) for r in qc[1:]}
        counts = np.array([[int(v) for v in r[1:]] for r in body])
        totals = inputs.scaled_totals(counts, np.array([auc[s] for s in header[1:]]))
        assert exp["rows"] == [[s, pid, int(t)] for s, t in zip(header[1:], totals)]
        assert exp["cells"] == counts.size
