"""Seeded inputs for the benchmark, and the expected answers computed from
the generators' own arrays (never from Spark).

- ``make_lake``: a recount3-shaped "remote" tree of SRA-like projects
  (FIXTURES.md F1 catalog, F2 five metadata tags, F3 gene counts TSV with
  ``#`` header lines, F5 GTF), laid out at the URLs that
  ``sources.catalog`` synthesizes, so ``Project.cache`` can fetch from it
  with a local-copy fetcher. Every project has the shape of a real G029
  gene_sums file (all 63,856 genes) and the same sample count; the seed
  picks ids, values and the Zipf request stream.
- ``make_events``: an event backlog split into many time-ordered JSON files
  plus one late-day sentinel file that advances the watermark past every
  real window, so append-mode drains emit all of them.
- ``make_corpus``: ``scripts/gen_corpus.py`` run unchanged (``uniform`` for
  documents/embeddings/events, ``tpch_value`` for the TPC-H tables);
  ``oracle_answers`` caches the DuckDB answer of each benchmark query.

Each generator writes into a per-seed directory and drops a ``DONE`` marker
last, so a seed is generated once per checkout. ``run.py`` calls this file
as a script in a child process, so neither the generators' nor DuckDB's
memory is ever part of a run's measured footprint:

    python3 benchmark/inputs.py <workload> <seed> <out-dir>
"""

from __future__ import annotations

import contextlib
import gzip
import hashlib
import importlib.util
import json
import os
import shutil
import sys
from pathlib import Path

import numpy as np

ANNOTATION = "G029"  # Annotation.GENCODE_V29
TARGET_SIZE = 4e7
TAGS = ("sra", "recount_project", "recount_qc", "recount_seq_qc", "recount_pred")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")


def rng_for(seed: int, section: str) -> np.random.Generator:
    h = hashlib.sha256(f"{seed}:{section}".encode()).digest()
    return np.random.Generator(np.random.PCG64(int.from_bytes(h[:8], "big")))


@contextlib.contextmanager
def generating(out: Path):
    """Yield an empty ``out`` (the corpus links into itself by absolute
    path, so it is built in place) and mark it complete when the body
    finishes; a partial one from an interrupted run is rebuilt."""
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    yield out
    (out / "DONE").write_text("")


def _write_gz(path: Path, text: str) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    with gzip.open(path, "wt", compresslevel=1) as fh:
        fh.write(text)


def _tsv(header: list[str], rows: list[list[str]]) -> str:
    return "\n".join(["\t".join(header)] + ["\t".join(r) for r in rows]) + "\n"


def round_half_up(x: np.ndarray) -> np.ndarray:
    """Spark's ``round(x, 0)`` on doubles (HALF_UP on the exact value)."""
    fl = np.floor(x)
    return (fl + (x - fl >= 0.5)).astype(np.int64)


def scaled_totals(counts: np.ndarray, auc: np.ndarray) -> np.ndarray:
    """Per-sample sum of ``round(count * target / auc)`` — ``scale_auc``."""
    sf = TARGET_SIZE / auc.astype(np.float64)
    return round_half_up(counts.astype(np.float64) * sf[None, :]).sum(axis=0)


# ---------------------------------------------------------------------------
# recount3-shaped lake
# ---------------------------------------------------------------------------
# LAKE_GENES is the row count of every recount3 G029 gene_sums file (GENCODE
# v29); LAKE_SAMPLES is the sample count of the recount3 quick-start project
# SRP009615 (its gene RSE is 63,856 x 12). Every project has this one shape,
# so each request does the same work whichever project the stream picks.
# LAKE_PROJECTS and ZIPF_S are not fitted to recount3's per-study
# distribution; see RATIONALE.md.
LAKE_PROJECTS = 16
LAKE_SAMPLES = 12
LAKE_GENES = 63_856
LAKE_REQUESTS = 2000
ZIPF_S = 1.1
# the warm-up project, requested once before the timed loop to pay first-use
# code generation, needs the same plan shape but not the size
WARMUP_GENES = 1000


def _gtf(gene_ids: list[str], rng: np.random.Generator) -> str:
    lines = ["#!genome-build GRCh38.p12", "#!annotation-source GENCODE v29"]
    optional = ("gene_source", "transcript_source", "protein_id", "tag")
    for i, gid in enumerate(gene_ids):
        start = 10_000 + 5_000 * i
        attrs = {
            "gene_id": gid,
            "transcript_id": f"ENST{i:011d}.1",
            "exon_number": str(1 + i % 7),
            "gene_name": f"GENE{i}",
            "gene_biotype": "protein_coding" if i % 3 else "lncRNA",
            "transcript_name": f"GENE{i}-201",
            "transcript_biotype": "protein_coding",
            "exon_id": f"ENSE{i:011d}.1",
        }
        for k in optional:  # some rows lack some fields (extractor yields null)
            if rng.random() < 0.7:
                attrs[k] = "ensembl" if k.endswith("source") else f"{k}{i}"
        attr = " ".join(f'{k} "{v}";' for k, v in attrs.items())
        strand = "+" if i % 2 else "-"
        lines.append(
            f"chr{1 + i % 22}\tHAVANA\tgene\t{start}\t{start + 1200}\t.\t{strand}\t.\t{attr}"
        )
    return "\n".join(lines) + "\n"


def make_lake(out: Path, seed: int) -> None:
    """Remote tree under ``out/remote`` plus ``out/plan.json`` (request
    stream, warm-up project, and each project's expected per-sample totals)."""
    rng = rng_for(seed, "lake")
    remote = out / "remote"
    base = remote / "human" / "data_sources" / "sra"
    genes = [f"ENSG{int(g):011d}.{1 + int(g) % 9}" for g in rng.choice(10**9, LAKE_GENES, replace=False)]
    _write_gz(
        remote / "human" / "annotations" / "gene_sums" / f"human.gene_sums.{ANNOTATION}.gtf.gz",
        _gtf(genes, rng),
    )
    # project ids; the last one is the warm-up project, outside the stream
    ids = [f"SRP{int(x):06d}" for x in rng.choice(10**6, LAKE_PROJECTS + 1, replace=False)]
    catalog_rows: list[list[str]] = []
    expected: dict[str, dict] = {}
    rail = 1_000_000 + int(rng.integers(0, 10**6))
    for rank, pid in enumerate(ids):
        n_s = LAKE_SAMPLES
        samples = [f"SRR{rail + k}" for k in range(n_s)]
        rails = [str(rail + k) for k in range(n_s)]
        rail += n_s
        key = [[r, s, pid] for r, s in zip(rails, samples)]
        shard = pid[-2:]
        mdir = base / "metadata" / shard / pid
        extra = "sample_title" if rank % 2 else "library_layout"
        files = {
            "sra": (["rail_id", "external_id", "study", extra],
                    [k + [f"{extra}_{i % 3}"] for i, k in enumerate(key)]),
            "recount_project": (
                ["rail_id", "external_id", "study", "project", "organism", "project_home"],
                [k + [pid, "Homo sapiens", "data_sources/sra"] for k in key]),
        }
        mapped = rng.integers(5_000_000, 60_000_000, n_s)
        read_len = rng.choice([50, 75, 100, 150], n_s)
        paired = rng.random(n_s) < 0.5
        mapped_len = read_len * np.where(paired, 2, 1) - rng.integers(0, 5, n_s)
        auc = mapped * mapped_len + rng.integers(0, 10**6, n_s)
        files["recount_qc"] = (
            ["rail_id", "external_id", "study", "star.all_mapped_reads",
             "star.average_mapped_length", "avg_len", "bc_auc.all_reads_all_bases",
             "star.uniquely_mapped_reads_%"],
            [k + [str(m), f"{ml:.1f}", f"{rl:.1f}", str(a), f"{rng.uniform(70, 99):.2f}"]
             for k, m, ml, rl, a in zip(key, mapped, mapped_len, read_len, auc)])
        files["recount_seq_qc"] = (
            ["rail_id", "external_id", "study", "seq_qc.avg_len", "seq_qc.avg_qual"],
            [k + [f"{rl:.1f}", f"{rng.uniform(30, 40):.2f}"] for k, rl in zip(key, read_len)])
        files["recount_pred"] = (
            ["rail_id", "external_id", "study", "pred.sex", "pred.sample_source"],
            [k + [str(rng.choice(["male", "female"])), "tissue"] for k in key])
        for tag in TAGS:
            header, rows = files[tag]
            _write_gz(mdir / f"sra.{tag}.{pid}.MD.gz", _tsv(header, rows))
        catalog_rows += [
            k + [pid, "Homo sapiens", "data_sources/sra", "sra", "2021-03-01"] for k in key
        ]

        # gene counts: every annotated gene, as in a real gene_sums file
        n_g = WARMUP_GENES if pid == ids[-1] else LAKE_GENES
        lam = np.exp(rng.normal(4.0, 1.5, (n_g, 1)))
        counts = rng.poisson(lam, (n_g, n_s)).astype(np.int64)
        body = "\n".join(
            g + "\t" + "\t".join(map(str, row)) for g, row in zip(genes, counts.tolist())
        )
        _write_gz(
            base / "gene_sums" / shard / pid / f"sra.gene_sums.{pid}.{ANNOTATION}.gz",
            "##annotation=G029\n##date.generated=2021-03-01\n"
            + "\t".join(["gene_id"] + samples) + "\n" + body + "\n",
        )
        totals = scaled_totals(counts, auc)
        expected[pid] = {
            "rows": [[s, pid, int(t)] for s, t in zip(samples, totals)],
            "cells": int(counts.size),
        }
    dup = catalog_rows[: len(catalog_rows) // 20]  # exact duplicates -> distinct()
    _write_gz(
        base / "metadata" / "sra.recount_project.MD.gz",
        _tsv(["rail_id", "external_id", "study", "project", "organism", "project_home",
              "file_source", "date_processed"], catalog_rows + dup),
    )
    ranks = np.arange(1, LAKE_PROJECTS + 1, dtype=np.float64)
    p = ranks ** -ZIPF_S
    stream = rng.choice(LAKE_PROJECTS, LAKE_REQUESTS, p=p / p.sum())
    plan = {
        "root": "remote",
        "warmup": ids[-1],
        "stream": [ids[int(i)] for i in stream],
        "expected": expected,
    }
    (out / "plan.json").write_text(json.dumps(plan))


# ---------------------------------------------------------------------------
# Event backlog for the streaming drains
# ---------------------------------------------------------------------------
STREAM_EVENTS = 12_000
STREAM_FILES = 12
STREAM_USERS = 300
SESSION_GAP_S = 30 * 60
T0 = 1_700_000_000 - 1_700_000_000 % 86_400  # a UTC midnight


def _iso(ts: int) -> str:
    import datetime as _dt

    return _dt.datetime.fromtimestamp(ts, _dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")


def expected_windows(ts: np.ndarray, types: np.ndarray) -> dict[str, int]:
    """Hourly tumbling counts per (window start, event type)."""
    out: dict[str, int] = {}
    for w, t in zip(ts - ts % 3600, types):
        k = f"{int(w)}|{t}"
        out[k] = out.get(k, 0) + 1
    return out


def expected_sessions(ts: np.ndarray, users: np.ndarray) -> list[list[int]]:
    """Gap sessions per user: a gap of more than ``SESSION_GAP_S`` opens a
    new session (an event exactly ``SESSION_GAP_S`` after the last one
    still joins it); a session ends ``SESSION_GAP_S`` after its last event."""
    out = []
    order = np.lexsort((ts, users))
    cur_u = start = last = None
    n = 0
    for i in order:
        u, t = int(users[i]), int(ts[i])
        if u != cur_u or t - last > SESSION_GAP_S:
            if cur_u is not None:
                out.append([cur_u, start, last + SESSION_GAP_S, n])
            cur_u, start, n = u, t, 0
        last = t
        n += 1
    if cur_u is not None:
        out.append([cur_u, start, last + SESSION_GAP_S, n])
    return sorted(out)


def make_events(out: Path, seed: int) -> None:
    rng = rng_for(seed, "events")
    ts = np.sort(T0 + rng.integers(0, 86_400, STREAM_EVENTS))
    users = rng.integers(0, STREAM_USERS, STREAM_EVENTS)
    types = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), STREAM_EVENTS)]
    values = np.round(rng.uniform(0, 500, STREAM_EVENTS), 2)
    src = out / "backlog"
    src.mkdir()
    bounds = np.linspace(0, STREAM_EVENTS, STREAM_FILES + 1).astype(int)
    names = []
    for f in range(STREAM_FILES):
        lines = [
            json.dumps({
                "event_id": i, "ts": _iso(int(ts[i])), "user_id": int(users[i]),
                "event_type": str(types[i]), "value": f"{values[i]:.2f}", "props": "{}",
            })
            for i in range(bounds[f], bounds[f + 1])
        ]
        names.append(f"events-{f:04d}.json")
        (src / names[-1]).write_text("\n".join(lines) + "\n")
    # the sentinel: one event a day after the backlog moves every watermark
    # past all real windows and sessions
    names.append("events-9999.json")
    (src / names[-1]).write_text(json.dumps({
        "event_id": -1, "ts": _iso(T0 + 2 * 86_400), "user_id": STREAM_USERS,
        "event_type": "view", "value": "0.00", "props": "{}",
    }) + "\n")
    # the file source orders files by modification time
    for k, name in enumerate(names):
        os.utime(src / name, (T0 + k, T0 + k))
    (out / "expected.json").write_text(json.dumps({
        "events": STREAM_EVENTS,
        "windows": expected_windows(ts, types),
        "sessions": expected_sessions(ts, users),
    }))


# ---------------------------------------------------------------------------
# Corpus from scripts/gen_corpus.py, plus DuckDB oracle answers
# ---------------------------------------------------------------------------
CORPUS_SCALE = "0.1"  # x the sf0.1 row counts: an sf0.01-sized corpus
CORPUS_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _run_gen_corpus(repo: Path, argv: list[str]) -> None:
    spec = importlib.util.spec_from_file_location(
        "gen_corpus", repo / "scripts" / "gen_corpus.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    saved = sys.argv
    sys.argv = ["gen_corpus.py"] + argv
    try:
        with contextlib.redirect_stdout(sys.stderr):
            rc = mod.main()
    finally:
        sys.argv = saved
    if rc:
        raise RuntimeError(f"gen_corpus.py {' '.join(argv)} exited {rc}")


def make_corpus(out: Path, seed: int, repo: Path) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = out / "base"
    base.mkdir()
    # region/nation are fixed dimension tables (TPC-H shape) that the
    # tpch_value flavor copies from its --link-base
    pq.write_table(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), base / "region.parquet")
    pq.write_table(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), base / "nation.parquet")
    s = str(seed)
    _run_gen_corpus(repo, [str(base), "--flavor", "uniform", "--scale", CORPUS_SCALE,
                           "--seed", s, "--link-base", str(out / "none")])
    _run_gen_corpus(repo, [str(out / "sf"), "--flavor", "tpch_value", "--scale",
                           CORPUS_SCALE, "--seed", s, "--link-base", str(base)])


def corpus_rows(sf_dir: Path) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(sf_dir / f"{t}.parquet").metadata.num_rows for t in CORPUS_TABLES)


def oracle_answers(sf_dir: Path, names: list[str], oracles: dict[str, str], threads: int, out: Path) -> None:
    """DuckDB answer of each query, cached next to the corpus as parquet."""
    import duckdb

    out.mkdir(exist_ok=True)
    todo = [n for n in names if not (out / f"{n}.parquet").exists()]
    if not todo:
        return
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    con.execute("SET enable_progress_bar = false")
    con.execute(f"SET temp_directory = '{out / 'duckdb_tmp'}'")
    for t in CORPUS_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    for name in todo:
        tmp = out / f"{name}.parquet.tmp"
        con.sql(oracles[name]).df().to_parquet(tmp)
        tmp.rename(out / f"{name}.parquet")
    con.close()
    shutil.rmtree(out / "duckdb_tmp", ignore_errors=True)


def prepare(workload: str, seed: int, out: Path, repo: Path) -> None:
    """Generate one workload's inputs for ``seed`` into ``out``, with the
    expected answers (for ``corpus_batch``, the DuckDB answer of each query)."""
    with generating(out) as tmp:
        if workload == "recount_projects":
            make_lake(tmp, seed)
        elif workload == "corpus_stream":
            make_events(tmp, seed)
        else:
            sys.path.insert(0, str(repo))
            from pyrecount_spark import plans
            from workloads import CORPUS_QUERIES

            plans.load_all()
            make_corpus(tmp, seed, repo)
            (tmp / "corpus.json").write_text(json.dumps({"rows": corpus_rows(tmp / "sf")}))
            oracle_answers(tmp / "sf", list(CORPUS_QUERIES), plans.ORACLES,
                           len(os.sched_getaffinity(0)), tmp / "oracle")


if __name__ == "__main__":
    here = Path(__file__).resolve().parent
    prepare(sys.argv[1], int(sys.argv[2]), Path(sys.argv[3]).resolve(), here.parent)
