"""The benchmark's workloads. Each is a closed loop with one client: the next
operation starts when the previous one has finished. Every operation's
output is checked against an answer computed without Spark; a wrong answer
or an exception marks the operation failed.

A workload returns its :class:`Op` records and a dict of run-level
per-layer values. Per-op layer values are filled only when tracing.
"""

from __future__ import annotations

import calendar
import json
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

from measure import (
    Tracer,
    StatusStore,
    exec_summary,
    jobs_in_span,
    self_time_by_name,
)


@dataclass
class Op:
    wall_s: float
    ok: bool
    rows_in: int
    rows_out: int = 0
    family: str = ""  # plan family of a corpus query
    layers: dict[str, float] = field(default_factory=dict)


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    store: StatusStore | None
    cores: int
    seconds: float
    work: Path  # per-run scratch dir
    inputs: Path  # per-seed cached inputs


def trace_op(ctx: Ctx, op_idx: int, start: float, end: float) -> dict[str, float]:
    """Per-layer values of one op: span self times, and the status-store
    delta attributed to spans by job submission time."""
    spans = ctx.tracer.op_spans(op_idx)
    jobs, stages = ctx.store.delta()
    out = {f"self:{k}": v for k, v in self_time_by_name(spans).items()}
    for s in spans:
        key = f"jobs:{s.name}"
        out[key] = out.get(key, 0.0) + jobs_in_span(jobs, s.start, s.end)
    out.update(exec_summary(jobs, stages, start, end, ctx.cores))
    out["wall_s"] = end - start
    return out


# ---------------------------------------------------------------------------
# recount_projects
# ---------------------------------------------------------------------------
def _copy_fetcher():
    """A "remote" fetch that copies a local file. Built in a closure so it is
    pickled by value for the executors."""

    def fetch(url: str, dest: str) -> None:
        import shutil as _shutil

        _shutil.copyfile(url, dest)

    return fetch


REQUESTS_PER_ROUND = 2


def recount_projects(ctx: Ctx) -> tuple[list[Op], dict[str, float]]:
    from pyspark.sql import functions as F

    import pyrecount_spark.api as api
    import pyrecount_spark.operators.matrix as M
    import pyrecount_spark.sources.ingest as ingest
    from pyrecount_spark.operators import relational as R
    from pyrecount_spark.sources.catalog import Annotation, Dtype

    import inputs

    spark, tr = ctx.spark, ctx.tracer
    plan = json.loads((ctx.inputs / "plan.json").read_text())
    root = str(ctx.inputs / plan["root"])
    lake = ctx.work / "lake"
    fetcher = _copy_fetcher()
    for name in ("read_tsv_strings", "read_tsv_counts", "read_gtf"):
        tr.wrap(api, name, f"sources.readers.{name}")
    for name in ("melt", "scale_long", "scale_factors_auc"):
        tr.wrap(M, name, f"operators.matrix.{name}")
    tr.wrap(ingest, "fetch_manifest", "sources.ingest.fetch_manifest")

    catalog = api.Metadata(spark, str(lake))
    catalog.cache(root, fetcher=fetcher)
    md_all = catalog.load().cache()
    md_all.count()

    def request(pid: str) -> tuple[list, list]:
        proj = api.Project(
            spark, metadata=md_all.filter(F.col("project") == pid), lake_dir=str(lake),
            dbase="sra", annotation=Annotation.GENCODE_V29,
        )
        with tr.span("api.cache"):
            statuses = proj.cache(root, dtypes=(Dtype.METADATA, Dtype.GENE), fetcher=fetcher)
        with tr.span("api.project_load"):
            md = proj.load(Dtype.METADATA)
        with tr.span("api.project_load"):
            _, counts = proj.load(Dtype.GENE)
        with tr.span("api.scale"):
            scaled = proj.scale_auc(counts, target_size=inputs.TARGET_SIZE)
        # the reference example: group, filter to a key set, sort
        totals = scaled.groupBy("sample_id").agg(F.sum("count").alias("total"))
        joined = totals.join(
            md.select(F.col("external_id").alias("sample_id"), "study"), "sample_id"
        )
        result = R.isin_filter(joined, "study", [pid]).orderBy(F.desc("total"), "sample_id")
        with tr.span("exec.collect"):
            rows = [[r["sample_id"], r["study"], int(r["total"])] for r in result.collect()]
        return rows, statuses

    # prime on the small warm-up project: it pays first-use code generation
    request(plan["warmup"])
    if ctx.store is not None:
        ctx.store.delta()

    ops: list[Op] = []
    fetched = cached = 0
    t_start = time.perf_counter()
    stream = iter(plan["stream"])
    # whole rounds of requests, so every run measures the same number
    while time.perf_counter() - t_start < ctx.seconds:
        for _ in range(REQUESTS_PER_ROUND):
            pid = next(stream)
            expected = plan["expected"][pid]
            tr.op = len(ops)
            e0 = time.time()
            t0 = time.perf_counter()
            try:
                with tr.span("bench.op"):
                    rows, statuses = request(pid)
                ok = sorted(rows) == sorted(expected["rows"])
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, the loop goes on
                print(f"op {len(ops)} ({pid}) failed: {type(exc).__name__}: {exc}")
                rows, statuses, ok = [], [], False
            wall = time.perf_counter() - t0
            op = Op(wall, ok, expected["cells"], len(rows))
            n_f = sum(1 for s in statuses if s[2] == "fetched")
            n_c = sum(1 for s in statuses if s[2] == "cached")
            fetched += n_f
            cached += n_c
            if tr.enabled:
                op.layers = trace_op(ctx, tr.op, e0, time.time())
                op.layers["sources.ingest.fetched_files"] = float(n_f)
            ops.append(op)
    tr.restore()
    extra = {"sources.ingest.cached_ratio": cached / max(fetched + cached, 1)}
    if tr.enabled:
        extra["sources.readers.read_s"] = reader_probe(ctx, lake, plan["stream"][0])
    return ops, extra


def reader_probe(ctx: Ctx, lake: Path, pid: str) -> float:
    """Time each reader call plus a noop materialization of its frame, on one
    project's cached files (traced run only; not part of any op)."""
    from pyrecount_spark.sources import readers

    files = {
        "read_tsv_strings": sorted((lake / "sra" / "metadata" / pid).glob("*.MD.gz")),
        "read_tsv_counts": sorted((lake / "sra" / "gene_sums" / pid).glob("*.gz")),
        "read_gtf": sorted((lake / "sra" / "gene_sums").glob("*.gtf.gz")),
    }
    walls = []
    for name, paths in files.items():
        t0 = time.perf_counter()
        getattr(readers, name)(ctx.spark, [str(p) for p in paths]).write.format(
            "noop"
        ).mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
    return sum(walls) / len(walls)


# ---------------------------------------------------------------------------
# corpus_batch
# ---------------------------------------------------------------------------
# bench.py's HEADLINE + HEAVY tiers, with the plan family each belongs to.
# pagerank_dup_graph is left out: it raises ZeroDivisionError on an empty
# near-duplicate graph, which every uniform corpus has (see RATIONALE.md).
CORPUS_QUERIES = {
    "flagship_group_sort_filter": "relational",
    "pricing_summary": "relational",
    "multi_join_composite_key": "joins",
    "scale_by_group_factor": "joins",
    "align_merge_full_outer": "joins",
    "window_tumbling_hourly": "windows",
    "sessionize_30m_gap": "windows",
    "text_fingerprint": "text",
    "dedup_minhash_lsh": "dedup",
    "knn_brute_force_cosine": "similarity",
    "semdedup_embedding_clusters": "similarity",
    "ivfpq_topk": "similarity",
    "hits_dup_graph": "graph",
    "label_propagation_communities": "graph",
    "pareto_price_recency_orders": "relational",
    "bm25_retrieval_topk": "text",
    "sequence_pack_512": "text",
    "prefix_filtered_jaccard_pairs": "dedup",
    "dedup_components_canonical": "graph",
}
PLAN_FAMILIES = sorted(set(CORPUS_QUERIES.values()))


def clear_edge_memo() -> None:
    """Drop the verified near-duplicate edge list that ``plans.dedup`` keeps
    per session (``clearCache`` leaves it), freeing its checkpoint blocks
    the way the module frees a stale entry, so the next graph or dedup
    query builds it again."""
    from pyrecount_spark.plans import dedup

    while dedup._EDGE_MEMO:
        _, edges = dedup._EDGE_MEMO.popitem()
        edges._jdf.queryExecution().analyzed().rdd().unpersist(True)


def corpus_batch(ctx: Ctx) -> tuple[list[Op], dict[str, float]]:
    """Whole timed passes over the 19 queries, so every run measures the
    same op mix, after one untimed priming pass that pays each query's
    first-use code generation (a cost that varies with JIT timing and made
    a cold pass's median op less steady; see RATIONALE.md). Each
    pass starts with no cached data and no edge memo, so it pays what a real
    pass in a warm session pays, including the shared edge-list build in
    its first graph query."""
    import pandas as pd

    from check_oracle import compare
    from pyrecount_spark import plans
    from pyrecount_spark.plans import dedup

    plans.load_all()
    spark, tr = ctx.spark, ctx.tracer
    sf = ctx.inputs / "sf"
    oracle_dir = ctx.inputs / "oracle"
    rows_per_op = json.loads((ctx.inputs / "corpus.json").read_text())["rows"] // len(CORPUS_QUERIES)
    tr.wrap(dedup, "_verified_edges", "plans.dedup.verified_edges")

    def run_query(name: str) -> Op:
        spark.catalog.clearCache()
        e0 = time.time()
        t0 = time.perf_counter()
        try:
            with tr.span("bench.op"):
                with tr.span("plans.build"):
                    df = plans.QUERIES[name](spark, str(sf))
                with tr.span("exec.collect"):
                    got = df.toPandas()
            op = Op(time.perf_counter() - t0, True, rows_per_op, len(got), CORPUS_QUERIES[name])
            problems = compare(name, got, pd.read_parquet(oracle_dir / f"{name}.parquet"))
            if problems:
                print(f"op {tr.op} ({name}) wrong: {'; '.join(problems)}")
                op.ok = False
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, the loop goes on
            print(f"op {tr.op} ({name}) failed: {type(exc).__name__}: {exc}")
            op = Op(time.perf_counter() - t0, False, rows_per_op, 0, CORPUS_QUERIES[name])
        if tr.enabled:
            op.layers = trace_op(ctx, tr.op, e0, e0 + op.wall_s)
        return op

    clear_edge_memo()
    for name in CORPUS_QUERIES:
        run_query(name)
    if ctx.store is not None:
        ctx.store.delta()
    ops: list[Op] = []
    t_start = time.perf_counter()
    while time.perf_counter() - t_start < ctx.seconds:
        clear_edge_memo()
        for name in CORPUS_QUERIES:
            tr.op = len(ops)
            ops.append(run_query(name))
    tr.restore()
    clear_edge_memo()
    return ops, {}


# ---------------------------------------------------------------------------
# corpus_stream
# ---------------------------------------------------------------------------
MAX_FILES_PER_TRIGGER = 4
DRAIN_TIMEOUT_S = 120


def _epoch(ts) -> int:
    """Seconds since the epoch of a naive UTC datetime read from parquet."""
    return calendar.timegm(ts.timetuple())


def _sink_rows(out: Path, columns: list[str]) -> dict[str, list]:
    """Rows the sink landed, read with pyarrow (partition dirs are named
    ``_batch_id=N``, which dataset discovery would skip as hidden)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = sorted(out.glob("_batch_id=*/*.parquet"))
    if not files:
        return {c: [] for c in columns}
    return pa.concat_tables([pq.read_table(f, columns=columns) for f in files]).to_pydict()


def _check_windows(out: Path, expected: dict[str, int]) -> bool:
    t = _sink_rows(out, ["window_start", "event_type", "n_events"])
    got: dict[str, int] = {}
    for w, e, n in zip(t["window_start"], t["event_type"], t["n_events"]):
        k = f"{_epoch(w)}|{e}"
        got[k] = got.get(k, 0) + n
    return got == expected


def _check_sessions(out: Path, expected: list[list[int]]) -> bool:
    t = _sink_rows(out, ["user_id", "session_start", "session_end", "n_events"])
    got = sorted(
        [u, _epoch(s), _epoch(e), n]
        for u, s, e, n in zip(t["user_id"], t["session_start"], t["session_end"], t["n_events"])
    )
    return got == expected


def corpus_stream(ctx: Ctx) -> tuple[list[Op], dict[str, float]]:
    """Drains of the event backlog, alternating the tumbling-window and the
    session-window pipeline. One untimed priming drain per pipeline pays its
    first-use code generation, which otherwise made the first micro-batch of
    a run several times slower than the rest and dominated the run's
    throughput. Every timed micro-batch is an op, timed by its own progress
    record; a drain with a wrong sink output fails all its batches."""
    from pyrecount_spark.streaming import pipeline as P

    spark, tr = ctx.spark, ctx.tracer
    backlog = str(ctx.inputs / "backlog")
    expected = json.loads((ctx.inputs / "expected.json").read_text())
    pipelines = [
        ("streaming_tumbling_counts", lambda out: _check_windows(out, expected["windows"])),
        ("streaming_sessionize", lambda out: _check_sessions(out, expected["sessions"])),
    ]

    def drain(i: int, label: str = "drain"):
        fn_name, check = pipelines[i % len(pipelines)]
        out, ck = ctx.work / f"stream-out-{label}-{i}", ctx.work / f"stream-ck-{label}-{i}"
        with tr.span("streaming.pipeline.read_event_stream"):
            events = P.read_event_stream(spark, backlog, MAX_FILES_PER_TRIGGER)
        with tr.span(f"streaming.pipeline.{fn_name}"):
            result = getattr(P, fn_name)(events)
        with tr.span("streaming.pipeline.foreach_batch_parquet_sink"):
            q = P.foreach_batch_parquet_sink(result, str(out), str(ck))
        with tr.span("streaming.await"):
            finished = q.awaitTermination(DRAIN_TIMEOUT_S)
        if not finished:
            q.stop()
        progress = [p for p in (q.recentProgress or []) if p]
        ok = bool(finished) and check(out)
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)
        return progress, ok

    for i in range(len(pipelines)):
        drain(i, "prime")
    if ctx.store is not None:
        ctx.store.delta()

    ops: list[Op] = []
    n_drain = 0
    t_start = time.perf_counter()
    # whole rounds (one drain per pipeline), so every run has the same mix
    while time.perf_counter() - t_start < ctx.seconds:
        for _ in pipelines:
            tr.op = n_drain
            e0 = time.time()
            t0 = time.perf_counter()
            try:
                with tr.span("bench.drain"):
                    progress, ok = drain(n_drain)
            except Exception as exc:  # noqa: BLE001 - a failed drain is counted, the loop goes on
                print(f"drain {n_drain} failed: {type(exc).__name__}: {exc}")
                progress, ok = [], False
            wall = time.perf_counter() - t0
            if not ok:
                print(f"drain {n_drain} produced a wrong or partial sink output")
            batch_ops = [
                Op(p["durationMs"].get("triggerExecution", 0) / 1000.0, ok,
                   int(p.get("numInputRows") or 0))
                for p in progress
            ] or [Op(wall, False, 0)]
            if tr.enabled:
                batch_ops[0].layers = stream_layers(ctx, n_drain, e0, time.time(), wall, progress)
            ops.extend(batch_ops)
            n_drain += 1
    return ops, {}


def stream_layers(
    ctx: Ctx, drain_idx: int, e0: float, e1: float, wall: float, progress: list[dict]
) -> dict[str, float]:
    """Per-drain totals from the drain's progress records; the run summary
    divides them by the number of micro-batches (or drains, for gauges)."""
    out = trace_op(ctx, drain_idx, e0, e1)
    out["wall_s"] = wall
    dur = [p.get("durationMs") or {} for p in progress]
    trig = sum(d.get("triggerExecution", 0) for d in dur) / 1000.0
    parts = sum(v for d in dur for k, v in d.items() if k != "triggerExecution") / 1000.0
    out["streaming.batch_s"] = trig
    out["streaming.add_batch_s"] = sum(d.get("addBatch", 0) for d in dur) / 1000.0
    out["streaming.wal_commit_s"] = sum(d.get("walCommit", 0) for d in dur) / 1000.0
    out["streaming.query_planning_s"] = sum(d.get("queryPlanning", 0) for d in dur) / 1000.0
    out["streaming.unattributed_s"] = max(trig - parts, 0.0)
    ops_last = (progress[-1].get("stateOperators") or []) if progress else []
    out["streaming.state_rows"] = float(sum(o.get("numRowsTotal") or 0 for o in ops_last))
    out["streaming.state_memory_bytes"] = float(
        sum(o.get("memoryUsedBytes") or 0 for o in ops_last)
    )
    out["streaming.state_commit_s"] = sum(
        o.get("commitTimeMs") or 0 for p in progress for o in (p.get("stateOperators") or [])
    ) / 1000.0
    out["streaming.rows_dropped_by_watermark"] = float(sum(
        o.get("numRowsDroppedByWatermark") or 0
        for p in progress for o in (p.get("stateOperators") or [])
    ))
    return out


WORKLOADS = {
    "recount_projects": recount_projects,
    "corpus_batch": corpus_batch,
    "corpus_stream": corpus_stream,
}
