#!/usr/bin/env python3
"""The repo benchmark: one seeded workload per run, measured from outside.

    python3 benchmark/run.py --workload recount_projects --seed 1 --seconds 10 --trace 0

Run from the repo root. The run generates (or reuses, per seed) its inputs
under ``.bench_work/``, launches a JVM and starts a session to time one
cold set-up, runs the workload as a closed loop for ``--seconds``
(finishing the pass or drain in progress), checks every output, and prints
as its last line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
records spans and status-store deltas and reports the per-layer metrics.
Names, units and the reasons for each workload are in ``RATIONALE.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
WORK = REPO / ".bench_work"

INPUTS_TIMEOUT_S = 150
CANARY_CPU_ROWS = 5_000_000
CANARY_ALLOC_ROWS = 100_000


def host_fit() -> dict[str, str]:
    """Size the session to this host through the package's own env vars:
    at most ``nproc`` (and 4) task slots, and a heap of a quarter of RAM
    capped at 2 GB (the package default of 48g gets the JVM OOM-killed on
    small hosts; the benchmark's inputs need far less)."""
    cpus = min(len(os.sched_getaffinity(0)), 4)
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap_gb = max(1, min(2, int(mem_gb // 4)))
    return {"SPARK_GRAFT_CPUS": str(cpus), "SPARK_DRIVER_MEM": f"{heap_gb}g"}


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot (0 on bare
    metal): a context reading for runs on a shared virtual machine."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def prepare_env() -> None:
    """Keep every file the run writes inside the checkout."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update(host_fit())
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(1, str(REPO))
    sys.path.append(str(REPO / "scripts"))


def session_conf() -> dict[str, str]:
    tmp = WORK / "tmp"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        # the heap starts at 1 GB: from the default start G1 grew it or not
        # depending on GC timing, and the peak memory of one seed varied
        # between about 1.1 and 1.5 GB from run to run
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms1g",
    }


def start_session():
    """One cold set-up sample: JVM launch and session start, then a warm-up
    of the two canary shapes from bench.py (a CPU-bound hash fold and an
    allocation-bound array intersect) at small sizes. No JVM may be
    running when it is called, so the sample includes JVM launch."""
    from pyrecount_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("benchmark", extra_conf=session_conf())
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    spark.range(CANARY_CPU_ROWS).selectExpr(
        "bit_xor(xxhash64(id)) as h", "count(1) as n"
    ).write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    spark.range(CANARY_ALLOC_ROWS).selectExpr(
        "sum(size(array_intersect("
        "array(id % 64, id % 97, id % 31, id % 7), "
        "array(id % 64, id % 53, id % 7)))) as n"
    ).write.format("noop").mode("overwrite").save()
    t3 = time.perf_counter()
    return spark, {"start": t1 - t0, "warmup": t3 - t1, "canary_cpu": t2 - t1, "canary_alloc": t3 - t2}


def stop_session(spark) -> None:
    """Stop the session (if it got started), then the JVM, and wait until it
    has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def prepare_inputs(workload: str, seed: int) -> Path:
    """Generate a seed's inputs and expected answers once per checkout, in a
    child process that has exited before anything is measured."""
    out = WORK / "inputs" / f"{workload}-{seed}"
    if not (out / "DONE").exists():
        subprocess.run(
            [sys.executable, str(HERE / "inputs.py"), workload, str(seed), str(out)],
            check=True, stdout=sys.stderr, timeout=INPUTS_TIMEOUT_S,
        )
    return out


def end_to_end_metrics(ops, setup_s: float, peak_bytes: int) -> dict:
    from measure import percentile, tail_percentile

    walls = [o.wall_s for o in ops]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "rows_per_s": {"value": sum(o.rows_in for o in ops) / sum(walls), "unit": "rows/s"},
        "op_latency_p50_s": {"value": percentile(walls, 50), "unit": "s"},
        "op_latency_tail_s": {"value": tail_percentile(walls)[1], "unit": "s"},
        "peak_rss_mb": {"value": peak_bytes / 2**20, "unit": "MB"},
    }


def per_layer_metrics(workload: str, ops, extra: dict, setup: dict, tracer, store, cores: int) -> dict:
    """Fold per-op layer values into the per-layer metrics. Times and counts
    are per operation; ratios are ratios of totals."""
    from workloads import PLAN_FAMILIES

    traced = [o.layers for o in ops if o.layers]
    n_ops = max(len(ops), 1)
    n_groups = max(len(traced), 1)  # ops, or drains on corpus_stream
    tot: dict[str, float] = {}
    for layers in traced:
        for k, v in layers.items():
            tot[k] = tot.get(k, 0.0) + v

    def per_op(*keys: str) -> float:
        return sum(tot.get(k, 0.0) for k in keys) / n_ops

    def prefixed(kind: str, prefix: str) -> list[str]:
        return [k for k in tot if k.startswith(f"{kind}:{prefix}")]

    wall = tot.get("wall_s", 0.0)
    m = {
        "session.start_s": setup["start"],
        "session.warmup_s": setup["warmup"],
        "api.cache_s": per_op("self:api.cache"),
        "api.project_load_s": per_op("self:api.project_load"),
        "api.project_load_jobs": per_op("jobs:api.project_load"),
        "api.scale_s": per_op("self:api.scale"),
        "api.jobs_per_op": per_op(*prefixed("jobs", "api.")),
        "sources.ingest.fetch_s": per_op("self:sources.ingest.fetch_manifest"),
        "sources.ingest.fetched_files": per_op("sources.ingest.fetched_files"),
        "sources.ingest.cached_ratio": extra.get("sources.ingest.cached_ratio", 0.0),
        "sources.readers.read_s": extra.get("sources.readers.read_s", 0.0),
        "sources.readers.call_s": per_op(*prefixed("self", "sources.readers.")),
        "sources.readers.schema_jobs": per_op(*prefixed("jobs", "sources.readers.")),
        "operators.matrix.melt_s": per_op("self:operators.matrix.melt"),
        "operators.matrix.scale_long_s": per_op(
            "self:operators.matrix.scale_long", "self:operators.matrix.scale_factors_auc"
        ),
        "plans.build_s": per_op("self:plans.build"),
        "plans.build_jobs": per_op("jobs:plans.build"),
        "plans.dedup.edge_build_s": per_op("self:plans.dedup.verified_edges"),
    }
    for fam in PLAN_FAMILIES:
        walls = [o.wall_s for o in ops if o.family == fam]
        m[f"plans.{fam}.op_s"] = sum(walls) / len(walls) if walls else 0.0
    for k in ("jobs", "stages", "tasks", "driver_gap_s", "task_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "shuffle_records", "spill_bytes", "gc_s"):
        m[f"exec.{k}"] = per_op(f"exec.{k}")
    m["exec.collect_s"] = per_op("self:exec.collect")
    m["exec.slot_busy_ratio"] = tot.get("exec.task_s", 0.0) / max(wall * cores, 1e-9)
    shuffled = tot.get("exec.shuffle_records", 0.0)
    m["exec.rows_out_per_shuffled_row"] = (
        sum(o.rows_out for o in ops) / shuffled if shuffled else 0.0
    )
    stream = workload == "corpus_stream"
    m["streaming.batches"] = len(ops) / n_groups if stream else 0.0
    for k in ("batch_s", "add_batch_s", "wal_commit_s", "query_planning_s", "state_commit_s"):
        m[f"streaming.{k}"] = per_op(f"streaming.{k}")
    # per drain: drain wall outside its micro-batches (query start, stop, await)
    m["streaming.start_stop_s"] = (
        (wall - tot.get("streaming.batch_s", 0.0)) / n_groups if stream else 0.0
    )
    for k in ("state_rows", "state_memory_bytes", "rows_dropped_by_watermark"):
        m[f"streaming.{k}"] = tot.get(f"streaming.{k}", 0.0) / n_groups
    # share of op wall no layer span covers (harness glue, or, for a
    # micro-batch, trigger time outside its named phases)
    if stream:
        m["trace.unattributed_ratio"] = tot.get("streaming.unattributed_s", 0.0) / max(
            tot.get("streaming.batch_s", 0.0), 1e-9
        )
    else:
        m["trace.unattributed_ratio"] = tot.get("self:bench.op", 0.0) / max(wall, 1e-9)
    m["trace.overhead_ratio"] = tracer.bookkeeping_s / max(sum(o.wall_s for o in ops), 1e-9)
    m["trace.store_read_s"] = store.read_s / n_ops
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    prepare_env()
    # the program under test; a checkout without it fails here, before any result
    import pyrecount_spark  # noqa: F401

    from measure import RssSampler, StatusStore, Tracer, tail_percentile
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    inp = prepare_inputs(args.workload, args.seed)
    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    load_before = os.getloadavg()
    steal_before = cpu_steal_s()

    spark = None
    try:
        with RssSampler() as rss:
            spark, setup = start_session()
            tracer = Tracer(enabled=bool(args.trace))
            store = StatusStore(spark) if args.trace else None
            ctx = Ctx(spark, tracer, store, cores, args.seconds, run_dir, inp)
            ops, extra = WORKLOADS[args.workload](ctx)
            context = {
                "default_parallelism": spark.sparkContext.defaultParallelism,
                "driver_memory": spark.conf.get("spark.driver.memory"),
            }
    finally:
        stop_session(spark)
    if args.trace:
        tracer.dump(str(WORK / f"spans-{args.workload}-{args.seed}.json"))
    shutil.rmtree(run_dir, ignore_errors=True)

    walls = [o.wall_s for o in ops]
    failed = sum(1 for o in ops if not o.ok)
    tail_pct, _ = tail_percentile(walls)
    setup_s = setup["start"] + setup["warmup"]
    context.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": cores, "ops": len(ops), "failed_op_ratio": failed / max(len(ops), 1),
        "tail_percentile": tail_pct, "tail_samples": len(walls),
        "input_rows": sum(o.rows_in for o in ops),
        "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
        "cpu_steal_s": cpu_steal_s() - steal_before,
        "canary_cpu_s": setup["canary_cpu"], "canary_alloc_s": setup["canary_alloc"],
        "op_walls_s": [round(w, 4) for w in walls],
    })
    if args.trace:
        metrics = {
            k: {"value": v, "unit": unit_of(k)}
            for k, v in per_layer_metrics(
                args.workload, ops, extra, setup, tracer, store, cores
            ).items()
        }
    else:
        metrics = end_to_end_metrics(ops, setup_s, rss.peak_bytes)
    print(json.dumps({"context": context}))
    for k, v in metrics.items():
        print(f"{k}: {v['value']:.6g} {v['unit']}")
    print(f"failed_op_ratio: {context['failed_op_ratio']:.6g} ({failed} of {len(ops)} ops)")
    print(json.dumps({
        "correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": metrics,
    }))
    return 0


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_ratio") or name.endswith("_per_shuffled_row"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    raise SystemExit(main())
