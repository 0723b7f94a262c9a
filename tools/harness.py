"""The one measurement harness behind bench.py and the tools/ sweeps.

Each measurement decision lives here once:

- ``session`` / ``warm``: the bench posture. Decode every column of
  every input table once, then build the shared derived assets, so a
  timed query prices the query, not cold IO or a pipeline rebuild.
- ``time_query`` / ``median``: wall clock of plan build + execute +
  collect, and the per-query median over repetitions.
- ``decade_dir``: where a decade label's corpus lives.
- ``fit``: the log-log slope of a measurement against its driving-table
  rows across decades.
- ``sweep`` / ``run_child``: the resumable (item, decade) sweep whose
  rows each come from a fresh Python + JVM, with the process and Spark
  stage memory peaks read there (a JVM's VmHWM only grows, so in a
  shared session every later item would inherit the heaviest
  predecessor's peak).

Run as a script only as ``run_child``'s child process.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the committed base corpora; every other bare label is a derived corpus
BASE_SFS = ("sf0.001", "sf0.01", "sf0.1")

_TAG = "HARNESS "


def session(app: str, ui: bool = False):
    """The engine session with quiet logs; ``ui`` turns on the status
    REST API, the only public reader of per-stage peak memory."""
    from data_ingestion_project_spark.session import build_session

    conf = {"spark.ui.enabled": "true", "spark.ui.port": "0"} if ui else None
    spark = build_session(app, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm(spark, sf_dir: str) -> tuple[float, float]:
    """Decode every column of every input table once, then build the
    shared derived assets; returns (tables_s, assets_s).

    count(col) decodes every column whatever its type (max would reject
    maps); count(*) would read only footers and leave the first timed
    query to pay the cold column decode. ``SPARK_GRAFT_SKIP_ASSET_WARM=1``
    skips the asset build: valid only when every measured query reads
    base tables directly, since an asset-served query would then price
    its asset's build as well."""
    from pyspark.sql import functions as F

    from data_ingestion_project_spark.queries import warm_derived_assets
    from data_ingestion_project_spark.sources.readers import TABLES, table

    t0 = time.perf_counter()
    for t in TABLES:
        df = table(spark, sf_dir, t)
        df.select([F.count(F.col(c)).alias(c) for c in df.columns]).collect()
    tables_s = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    if os.environ.get("SPARK_GRAFT_SKIP_ASSET_WARM") != "1":
        warm_derived_assets(spark, sf_dir)
    return tables_s, round(time.perf_counter() - t0, 3)


def time_query(spark, fn, sf_dir: str) -> tuple[float, int]:
    """(seconds, rows) of one plan build + execute + collect of ``fn``,
    inside a pin scope so its pins die with it."""
    from data_ingestion_project_spark.operators.materialize import pin_scope

    t0 = time.perf_counter()
    with pin_scope():
        n = len(fn(spark, sf_dir).collect())
    return round(time.perf_counter() - t0, 3), n


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return round(s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2, 3)


def decade_dir(label: str) -> str:
    """The corpus directory of a decade label: a label holding "/" is a
    path; a base SF lives under $SPARK_GRAFT_TESTDATA; any other label
    is a derived corpus at $SPARK_GRAFT_<LABEL>_DIR, else scratch/<label>."""
    if "/" in label:
        return label
    if label in BASE_SFS:
        return os.path.join(os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata"), label)
    return os.environ.get(
        f"SPARK_GRAFT_{label.upper()}_DIR", os.path.join(REPO, "scratch", label)
    )


def fit(
    rows: dict[str, int], values: dict[str, dict], keys: dict[str, str]
) -> tuple[str, str, dict] | None:
    """Fit each measurement's growth on the last adjacent pair of measured
    decades whose driving rows grow: slope = log(vb/va) / log(rb/ra).

    ``rows`` maps every measured decade to its driving-table rows;
    decades are taken in order of those rows, so label order does not
    matter. ``values`` maps a decade to its measurements and ``keys`` a
    measurement name to its slope name. Returns (a, b, {"rows_ratio",
    slope name: slope}), a slope only where both ends measured it
    non-zero, or None with no growing pair."""
    order = sorted(rows, key=rows.get)
    pairs = [(a, b) for a, b in zip(order, order[1:]) if rows[b] > rows[a] > 0]
    if not pairs:
        return None
    a, b = pairs[-1]
    lr = math.log(rows[b] / rows[a])
    out = {"rows_ratio": round(rows[b] / rows[a], 3)}
    for key, slope_key in keys.items():
        va, vb = values[a].get(key), values[b].get(key)
        if va and vb:
            out[slope_key] = round(math.log(vb / va) / lr, 3)
    return a, b, out


def measured(per_sf: dict[str, dict]) -> dict[str, dict]:
    """The decades of a record row that hold a measurement."""
    return {lbl: r for lbl, r in per_sf.items() if "error" not in r and "skipped" not in r}


def write_json(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
        f.write("\n")


def sweep(out_path, kind, labels, items, measure, refit, workers=1) -> dict:
    """Measure every (item, decade) pair that ``out_path``'s record lacks
    or holds an error for: ``measure(item, sf_dir) -> row``, then
    ``refit(item, record[kind][item])``, and rewrite the record after
    each row so a killed sweep keeps what it measured. Every requested
    item is refitted, also one with nothing left to measure. Prior rows and
    decades stay: the record's ``sf_labels`` are the prior ones plus
    ``labels``. ``workers`` rows run at once (each in its own process,
    so peaks stay per row; only their seconds share the machine)."""
    from concurrent.futures import ThreadPoolExecutor
    from threading import Lock

    records: dict = {}
    prior_labels: list = []
    if os.path.exists(out_path):
        try:
            with open(out_path) as f:
                prior = json.load(f)
            records, prior_labels = prior.get(kind, {}), prior.get("sf_labels", [])
        except json.JSONDecodeError:
            pass
    sf_labels = list(dict.fromkeys(prior_labels + list(labels)))
    sf_dirs = {lbl: decade_dir(lbl) for lbl in sf_labels}
    todo = []
    for item in items:
        per_sf = records.setdefault(item, {}).setdefault("per_sf", {})
        todo += [(item, lbl) for lbl in labels if not per_sf.get(lbl) or "error" in per_sf[lbl]]

    lock = Lock()

    def write() -> None:
        write_json(out_path, {
            "sf_labels": sf_labels,
            "sf_dirs": sf_dirs,
            "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
            kind: records,
        })

    def run(task) -> None:
        item, lbl = task
        row = measure(item, sf_dirs[lbl])
        with lock:
            records[item]["per_sf"][lbl] = row
            refit(item, records[item])
            write()
        print(f"# {lbl} {item}: {json.dumps(row)}", file=sys.stderr, flush=True)

    with ThreadPoolExecutor(max_workers=workers) as pool:
        list(pool.map(run, todo))
    for item in items:
        refit(item, records[item])
    write()
    return records


def vm_hwm_kb(pid: int) -> int | None:
    """A process's resident-memory high-water mark (VmHWM), in kB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def java_children(pid: int) -> list[int]:
    """The java processes among ``pid``'s descendants: the local-mode JVM."""
    out = []
    for p in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = f.read().rsplit(")", 1)[1].split()[1]
            if ppid != str(pid):
                continue
            with open(f"/proc/{p}/cmdline", "rb") as f:
                argv0 = f.read().split(b"\0")[0]
        except OSError:
            continue
        if b"java" in argv0:
            out.append(int(p))
        out.extend(java_children(int(p)))
    return out


def _stage_peaks(spark, task_peak: bool) -> tuple[int | None, int | None]:
    """The largest per-stage peakExecutionMemory from the status REST API
    and, with ``task_peak``, the largest single-task peak among the three
    heaviest stages (the stage value sums all its tasks, so it cannot
    show a partitioning mitigation; the per-task max can)."""
    from urllib.request import urlopen

    def peak(s: dict) -> int:
        return s.get("peakExecutionMemory") or 0

    base = spark.sparkContext.uiWebUrl
    try:
        app_id = json.load(urlopen(base + "/api/v1/applications", timeout=10))[0]["id"]
        stages = json.load(urlopen(
            f"{base}/api/v1/applications/{app_id}/stages?status=complete", timeout=120))
    except (OSError, ValueError, LookupError, TypeError):  # UI off / field absent
        return None, None
    stage = max(map(peak, stages), default=0)
    if not task_peak:
        return stage, None
    tasks = []
    for s in sorted(stages, key=peak, reverse=True)[:3]:
        try:
            ts = json.load(urlopen(
                f"{base}/api/v1/applications/{app_id}/stages/"
                f"{s['stageId']}/{s['attemptId']}/taskSummary?quantiles=1.0", timeout=60))
            tasks.append((ts.get("peakExecutionMemory") or [0])[0])
        except (OSError, ValueError, LookupError):
            pass
    return stage, max(tasks, default=None)


def _child(body: str, args: list, task_peak: bool) -> None:
    from importlib import import_module

    mod, fn = body.rsplit(".", 1)
    spark = session(f"{mod}-{args[0]}", ui=True)
    row = getattr(import_module(mod), fn)(spark, *args)
    if "skipped" not in row:
        jvms = java_children(os.getpid())
        jvm_kb = max((vm_hwm_kb(p) or 0) for p in jvms) if jvms else None
        stage, task = _stage_peaks(spark, task_peak)
        row["jvm_peak_gb"] = round(jvm_kb / 1048576, 2) if jvm_kb else None
        row["py_peak_gb"] = round((vm_hwm_kb(os.getpid()) or 0) / 1048576, 2)
        row["max_stage_peak_exec_gb"] = round(stage / 2**30, 3) if stage is not None else None
        if task_peak:
            row["max_task_peak_exec_gb"] = round(task / 2**30, 3) if task is not None else None
    print(_TAG + json.dumps(row), flush=True)


def run_child(body: str, *args, task_peak: bool = False) -> dict:
    """Run ``body(spark, *args)`` in a fresh Python + JVM and return its row
    plus the peaks (JVM and Python VmHWM, largest stage and, with
    ``task_peak``, task execution memory). ``body`` is "module.function"
    of a tools/ module; a row holding "skipped" gets no peaks. A child
    that prints no row gives {"error": <its exception headlines>}."""
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), json.dumps([body, args, task_peak])],
        capture_output=True, text=True,
    )
    for line in proc.stdout.splitlines():
        if line.startswith(_TAG):
            return json.loads(line[len(_TAG):])
    # the exception headlines, not the stack tail: a bare tail was all
    # TaskRunner frames with the error type cut off
    err = proc.stderr or ""
    heads = [
        ln.strip()
        for ln in err.splitlines()
        if ("Error" in ln or "Exception" in ln) and "at " not in ln[:4]
    ][:6]
    return {"error": " | ".join(heads)[:1500] or err[-500:]}


if __name__ == "__main__":
    sys.path.insert(0, REPO)
    _child(*json.loads(sys.argv[1]))
