"""The workloads. Each is a closed loop with a single client: the next
operation starts only after the previous one returned.

``ingest_cron``      10-row batches, half of them re-sent keys, into the
                     prepared 2·10⁴-user table (the reference's cron shape).
``query_mix``        a fixed set of oracle-backed queries over the sf0.1
                     tables, read only, in a seed-shuffled order per pass.
``ingest_backfill``  2500-row batches of fresh users into a table that
                     starts empty (crypto-bound). Runnable, but not in
                     BENCHMARK.json: the benchmark's time budget holds two
                     workloads.

A workload returns a ``Result``; ``run.py`` turns it into metrics.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field

import env
import spans
import stats
import users
from spans import Tracer

KEY = "login.uuid"
# jobs the traced ingestion layers launch beyond run_ingestion_job's own:
# the 3 of materializing the secure frame in its own span, less the 1 the
# upsert's cache-and-count then saves on an already cached input. Any
# other figure means the traced path no longer follows the program.
TRACED_EXTRA_JOBS = 2
# batch times fall for about the first dozen batches of a process (JIT,
# Python worker reuse), so all of them are warm-up
CRON = {"batch": 10, "resend": 0.5, "warmup": 12}
BACKFILL = {"batch": 2500, "resend": 0.0, "warmup_batch": 300, "warmup": 2}

# One query from each of the seven modules, on both sides of the eager
# materialization line: building a build-heavy query runs
# localCheckpoint jobs (3-8 on 4 cores), building a lazy one runs at
# most the parquet listing job.
BUILD_HEAVY = (
    ("stats", "residual_autocorr"),
    ("advanced", "bm25_topk_indexed"),
    ("embeddings", "embedding_centroid_drift"),
    ("tpch2", "nation_market_share"),
)
LAZY = (
    ("tpch", "pricing_summary"),
    ("events", "hourly_event_stats"),
    ("documents", "cms_word_freq"),
)
QUERY_MIX = BUILD_HEAVY + LAZY
MIN_PASSES = 3
MODULES = ("tpch", "tpch2", "events", "documents", "embeddings", "advanced", "stats")


@dataclass
class Op:
    latency: float
    ok: bool
    traced: bool = False
    kind: str = ""
    layers: dict[str, float] = field(default_factory=dict)


@dataclass
class Result:
    setup_end: float
    session_s: float
    ops: list[Op]
    problems: list[str]
    tracer: Tracer | None = None
    pinned_max: int = 0


class Run:
    """What every workload shares: clock, seed, window, tracing, session."""

    def __init__(self, seed: int, seconds: float, trace: bool, run_dir: str, run_id: str):
        self.seed = seed
        self.seconds = seconds
        self.run_dir = run_dir
        self.run_id = run_id
        t0 = time.perf_counter()
        self.spark = env.session(f"perfbench-{run_id}")
        self.session_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        self.tracer = Tracer(run_id, self.sc) if trace else None

    def window(self):
        """Yield operation indices until the measuring window has passed."""
        start = time.perf_counter()
        i = 0
        while time.perf_counter() - start < self.seconds:
            yield i
            i += 1

    def traced(self, i: int) -> bool:
        # a traced run alternates traced and untraced operations, so the
        # tracing overhead is measured on the same run
        return self.tracer is not None and i % 2 == 0


# --------------------------------------------------------------- ingestion


def _ingest(run: Run, batch: int, resend: float, seeded: bool, warmups: list[int]) -> Result:
    from data_ingestion_project_spark.job import run_ingestion_job

    from checks import table_problems

    keys = users.crypto_keys(env.TABLE_SEED)
    table = os.path.join(run.run_dir, "users.parquet")
    existing = []
    if seeded:
        shutil.copytree(env.SEED_TABLE, table)
        existing = [users.make_user(env.TABLE_STREAM, i) for i in range(env.SEED_ROWS)]
    expected = {u["login"]["uuid"]: u for u in existing}
    resent: set[str] = set()
    inserted: set[str] = set()
    problems: list[str] = []

    def send(payload, fresh, traced):
        resent.update(u["login"]["uuid"] for u in payload if u["login"]["uuid"] in expected)
        expected.update((u["login"]["uuid"], u) for u in fresh)
        inserted.update(u["login"]["uuid"] for u in fresh)
        # in a traced run, an untraced batch is the program's own call in
        # one span: its job count and the rows through its crypto UDFs
        # are what the traced layers are held against
        whole = run.tracer is not None and not traced
        first = spans.next_sql_execution(run.spark) if whole else 0
        t0 = time.perf_counter()
        layers: dict[str, float] = {}
        try:
            if traced:
                rows = _traced_batch(run, keys, table, payload, layers)
            elif whole:
                with run.tracer.span("job.run_ingestion_job") as call:
                    rows = run_ingestion_job(run.spark, keys, table, users=payload)["rows_after_dedup"]
            else:
                rows = run_ingestion_job(run.spark, keys, table, users=payload)["rows_after_dedup"]
        except Exception as e:  # a failed batch is counted, the loop goes on
            problems.append(f"batch raised {type(e).__name__}: {e}")
            return Op(time.perf_counter() - t0, False, traced)
        latency = time.perf_counter() - t0
        ok = rows == len(expected)
        if not ok:
            problems.append(f"batch left {rows} rows, expected {len(expected)}")
        if whole:
            layers = {"job.jobs": call.counts["jobs"], "udf_rows": spans.python_udf_rows(run.spark, first)}
        layers["inserted"] = len(fresh)
        return Op(latency, ok, traced, layers=layers)

    src = users.BatchSource(run.seed, resend, existing)
    for size in warmups:
        send(*src.batch(size), False)
    setup_end = time.perf_counter()
    ops = [send(*src.batch(batch), run.traced(i)) for i in run.window()]

    import pandas as pd

    published = pd.read_parquet(table)
    problems += table_problems(published, expected, resent, inserted, keys, random.Random(f"check:{run.seed}"))
    return Result(setup_end, run.session_s, ops, problems, run.tracer)


def _traced_batch(run: Run, keys, table: str, payload, layers: dict[str, float]) -> int:
    """``run_ingestion_job``'s layers, called in its order, one span each.
    The secure frame is materialized in its own span so crypto time is
    not hidden inside the upsert's cache-and-count."""
    from data_ingestion_project_spark.operators.transforms import transform_users
    from data_ingestion_project_spark.operators.upsert import upsert_parquet_table
    from data_ingestion_project_spark.sources.users_json import users_from_json

    tr = run.tracer
    with tr.span("ingest.batch"):
        with tr.span("sources.parse") as parse:
            raw = users_from_json(run.spark, payload)
        with tr.span("sources.count") as count:
            raw.count()
        with tr.span("transforms.secure") as secure:
            frame = transform_users(raw, keys).cache()
            secured = frame.count()
        with tr.span("upsert.merge_write") as upsert:
            _, rows = upsert_parquet_table(run.spark, frame, table, key=KEY)
    layers.update(
        {
            "sources.parse_s": parse.duration,
            "sources.count_s": count.duration,
            "sources.jobs": parse.counts["jobs"] + count.counts["jobs"],
            "transforms.secure_s": secure.duration,
            "transforms.jobs": secure.counts["jobs"],
            "transforms.tasks": secure.counts["tasks"],
            "secured": secured,
            "upsert.merge_write_s": upsert.duration,
            "upsert.jobs": upsert.counts["jobs"],
            "upsert.stages": upsert.counts["stages"],
            "written": rows,
        }
    )
    return rows


def ingest_cron(run: Run) -> Result:
    return _ingest(run, CRON["batch"], CRON["resend"], True, [CRON["batch"]] * CRON["warmup"])


def ingest_backfill(run: Run) -> Result:
    warm = [BACKFILL["warmup_batch"]] * BACKFILL["warmup"]
    return _ingest(run, BACKFILL["batch"], BACKFILL["resend"], False, warm)


# ----------------------------------------------------------------- queries


def query_mix(run: Run) -> Result:
    from data_ingestion_project_spark.queries import all_oracles, bench_queries
    from data_ingestion_project_spark.sources.readers import TABLES

    from checks import duck_connection, result_problem

    fns = bench_queries()
    jsc = run.sc._jsc
    results: list[tuple[str, list[str], list]] = []
    pinned_max = 0

    def execute(name: str, traced: bool) -> Op:
        nonlocal pinned_max
        t0 = time.perf_counter()
        layers: dict[str, float] = {}
        try:
            if traced:
                with run.tracer.span("query"):
                    with run.tracer.span("queries.build") as build:
                        df = fns[name](run.spark, env.DATA_DIR)
                    with run.tracer.span("queries.collect") as collect:
                        rows = df.collect()
            else:
                df = fns[name](run.spark, env.DATA_DIR)
                rows = df.collect()
        except Exception as e:  # a failed query is counted, the loop goes on
            results.append((name, None, f"raised {type(e).__name__}: {e}"))
            return Op(time.perf_counter() - t0, False, traced, kind=name)
        latency = time.perf_counter() - t0
        results.append((name, df.columns, rows))
        if traced:
            layers = {
                "queries.build_s": build.duration,
                "queries.build_jobs": build.counts["jobs"],
                "queries.collect_s": collect.duration,
                **{f"queries.{k}": build.counts[k] + collect.counts[k] for k in ("jobs", "stages", "tasks")},
            }
            pinned_max = max(pinned_max, jsc.getPersistentRDDs().size())
        return Op(latency, True, traced, kind=name, layers=layers)

    names = [q for _, q in QUERY_MIX]
    for name in names:  # untimed warm-up pass
        execute(name, False)
    results.clear()
    setup_end = time.perf_counter()
    ops: list[Op] = []
    passes = 0
    # whole passes only, so every query has the same number of samples;
    # at least three, because the first timed pass still runs about 30%
    # slower than later ones and a per-query median of three discards it
    while passes < MIN_PASSES or time.perf_counter() - setup_end < run.seconds:
        order = list(names)
        random.Random(f"order:{run.seed}:{passes}").shuffle(order)
        ops += [execute(q, run.traced(passes + names.index(q))) for q in order]
        passes += 1

    con = duck_connection(env.DATA_DIR, TABLES)
    oracles = all_oracles()
    expected = {name: con.execute(oracles[name]).fetchdf() for name in names}
    problems = []
    for op, (name, columns, rows) in zip(ops, results):
        problem = rows if columns is None else result_problem(columns, rows, expected[name])
        if problem:
            op.ok = False
            problems.append(f"{name}: {problem}")
    return Result(setup_end, run.session_s, ops, problems, run.tracer, pinned_max)


WORKLOADS = {"ingest_cron": ingest_cron, "query_mix": query_mix, "ingest_backfill": ingest_backfill}


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus the Spark JVM, in MB."""

    def hwm(pid) -> float:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0

    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    return hwm(os.getpid()) + hwm(jvm_pid)


def summarize(res: Result) -> dict[str, float]:
    """Per-layer metrics from a traced run."""
    traced = [op for op in res.ops if op.traced and op.ok]
    plain = [op for op in res.ops if not op.traced and op.ok]
    out = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    out["session.build_s"] = res.session_s
    out["spark.failed_tasks"] = sum(sp.counts["failed_tasks"] for sp in res.tracer.spans)
    layered = [op.layers for op in traced if op.layers]
    if layered and "sources.parse_s" in layered[0]:
        for k in (
            "sources.parse_s", "sources.count_s", "sources.jobs", "transforms.secure_s", "transforms.jobs",
            "transforms.tasks", "upsert.merge_write_s", "upsert.jobs", "upsert.stages",
        ):
            out[k] = stats.median([lay[k] for lay in layered])
        inserted = sum(lay["inserted"] for lay in layered)
        out["transforms.rows_per_s"] = sum(lay["secured"] for lay in layered) / sum(lay["transforms.secure_s"] for lay in layered)
        out["upsert.rows_written_per_inserted"] = sum(lay["written"] for lay in layered) / inserted if inserted else 0.0
        whole = [op.layers for op in plain]
        if whole:
            out["job.jobs"] = stats.median([lay["job.jobs"] for lay in whole])
            inserted = sum(lay["inserted"] for lay in whole)
            out["transforms.hashed_per_inserted"] = sum(lay["udf_rows"] for lay in whole) / inserted if inserted else 0.0
            layer_jobs = stats.median([lay["sources.jobs"] + lay["transforms.jobs"] + lay["upsert.jobs"] for lay in layered])
            out["trace.extra_jobs"] = layer_jobs - out["job.jobs"]
            out["trace.overhead_frac"] = stats.median([op.latency for op in traced]) / stats.median([op.latency for op in plain]) - 1
    elif layered:
        by_query: dict[str, list[Op]] = {}
        for op in traced:
            by_query.setdefault(op.kind, []).append(op)
        for k in ("queries.build_s", "queries.build_jobs", "queries.collect_s", "queries.jobs", "queries.stages", "queries.tasks"):
            out[k] = sum(stats.median([op.layers[k] for op in ops]) for ops in by_query.values())
        for module, name in QUERY_MIX:
            out[f"queries.{module}.sweep_s"] += stats.median([op.latency for op in by_query.get(name, [])])
        out["queries.pinned_rdds_after"] = res.pinned_max
        untraced: dict[str, list[float]] = {}
        for op in plain:
            untraced.setdefault(op.kind, []).append(op.latency)
        both = [k for k in by_query if k in untraced]
        if both:
            traced_s = sum(stats.median([op.latency for op in by_query[k]]) for k in both)
            out["trace.overhead_frac"] = traced_s / sum(stats.median(untraced[k]) for k in both) - 1
    return out


def _unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_per_inserted", "_frac")):
        return "ratio"
    return "count"


PER_LAYER_UNITS = {
    name: _unit(name)
    for name in ["session.build_s", "sources.parse_s", "sources.count_s", "sources.jobs"]
    + ["transforms.secure_s", "transforms.rows_per_s", "transforms.jobs", "transforms.tasks"]
    + ["transforms.hashed_per_inserted", "upsert.merge_write_s", "upsert.jobs", "upsert.stages"]
    + ["upsert.rows_written_per_inserted", "queries.build_s", "queries.build_jobs", "queries.collect_s"]
    + ["queries.jobs", "queries.stages", "queries.tasks"]
    + [f"queries.{m}.sweep_s" for m in MODULES]
    + ["queries.pinned_rdds_after", "spark.failed_tasks", "process.peak_rss_mb", "job.jobs"]
    + ["trace.extra_jobs", "trace.overhead_frac"]
}
