"""The shared measurement harness (tools/harness.py) and bench.py's CLI.

The slope rule must reproduce every exponent/beta/slope the three
committed records hold, since all three tools now refit through it; the
bench argument checks must refuse before Spark starts and write nothing.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import harness  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"


def _load(name: str) -> dict:
    with open(os.path.join(REPO, name)) as f:
        return json.load(f)


def _check(rec: dict, got, span_key: str, span, slope_keys) -> int:
    """Compare one record entry's committed slopes (and, where the entry
    names it, its decade pair) with the shared fit; returns the number of
    slopes compared."""
    committed = {k: rec[k] for k in slope_keys if k in rec}
    fitted = {k: got[2][k] for k in slope_keys if got and k in got[2]}
    assert fitted == committed
    if committed and span_key in rec:
        assert rec[span_key] == span(got[0], got[1])
    return len(committed)


def test_fit_reproduces_every_committed_slope():
    n = 0
    scaling = _load("SCALING.json")
    for name, e in scaling["exponents"].items():
        t = scaling["seconds"][name]
        got = harness.fit(
            {sf: scaling["rows"][sf][e["driver_table"]] for sf in t},
            {sf: {"seconds": s} for sf, s in t.items()},
            {"seconds": "alpha"},
        )
        n += _check(e, got, "step", lambda a, b: f"{a}->{b}", ("alpha",))

    # the memory tool's refit takes the driving table from HEAVY, not
    # from the record, so a record entry without one cannot hide a slope
    from scaling_sweep import HEAVY

    rows = scaling["rows"]
    for name, fam in _load("MEMORY_HIGHWATER.json")["families"].items():
        ok = harness.measured(fam["per_sf"])
        drv = HEAVY.get(name)
        got = harness.fit(
            {lbl: rows[lbl][drv] for lbl in ok} if drv else {},
            ok,
            {"max_stage_peak_exec_gb": "beta_stage", "jvm_peak_gb": "beta_jvm"},
        )
        n += _check(fam, got, "beta_decade", lambda a, b: f"{a}->{b}",
                    ("beta_stage", "beta_jvm"))

    keys = {
        "seconds": "alpha_time",
        "max_stage_peak_exec_gb": "beta_stage",
        "jvm_peak_gb": "beta_jvm",
        "disk_bytes": "gamma_disk",
    }
    for asset in _load("ASSET_BENCH.json")["assets"].values():
        ok = harness.measured(asset["per_sf"])
        got = harness.fit({lbl: r["src_rows"] for lbl, r in ok.items()}, ok, keys)
        n += _check(asset, got, "fit_span", lambda a, b: [a, b], tuple(keys.values()))

    assert n == 99 + 193 + 42


def test_fit_takes_the_last_growing_pair():
    # documents hold 500 rows at both small decades: the equal pair is
    # never fitted, and label order does not matter
    rows = {"sf0.1": 5000, "sf0.001": 500, "sf0.01": 500}
    vals = {"sf0.001": {"s": 1.0}, "sf0.01": {"s": 1.0}, "sf0.1": {"s": 10.0}}
    assert harness.fit(rows, vals, {"s": "alpha"}) == (
        "sf0.01", "sf0.1", {"rows_ratio": 10.0, "alpha": 1.0})
    assert harness.fit({"a": 500, "b": 500}, {}, {"s": "alpha"}) is None
    # a measurement missing at one end gets no slope
    got = harness.fit({"a": 1, "b": 100}, {"a": {"s": 2.0}, "b": {}}, {"s": "alpha"})
    assert got == ("a", "b", {"rows_ratio": 100.0})


def test_median_odd_and_even():
    assert harness.median([3.0, 1.0, 2.0]) == 2.0
    assert harness.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    assert harness.median([0.1234]) == 0.123


def test_decade_dir(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_TESTDATA", "/data/base")
    monkeypatch.delenv("SPARK_GRAFT_SF10_DIR", raising=False)
    assert harness.decade_dir("sf0.01") == "/data/base/sf0.01"
    assert harness.decade_dir("/elsewhere/sf0.1") == "/elsewhere/sf0.1"
    assert harness.decade_dir("sf10") == os.path.join(REPO, "scratch", "sf10")
    monkeypatch.setenv("SPARK_GRAFT_SF10_DIR", "/big/sf10")
    assert harness.decade_dir("sf10") == "/big/sf10"


def test_sweep_resumes_and_keeps_prior_rows(tmp_path):
    out = tmp_path / "rec.json"
    harness.write_json(out, {"sf_labels": ["old"], "items": {
        "a": {"per_sf": {"old": {"v": 1}, "x": {"error": "boom"}}},
        "z": {"per_sf": {"old": {"v": 9}}},
    }})
    calls = []

    def measure(item, sf_dir):
        calls.append((item, os.path.basename(sf_dir)))
        return {"v": len(calls)}

    def refit(item, rec):
        rec["n"] = len(harness.measured(rec["per_sf"]))

    harness.sweep(str(out), "items", ["x", "y"], ["a"], measure, refit)
    assert calls == [("a", "x"), ("a", "y")]  # the errored and the missing row
    rec = json.loads(out.read_text())
    assert rec["sf_labels"] == ["old", "x", "y"]
    assert rec["items"]["a"] == {
        "n": 3, "per_sf": {"old": {"v": 1}, "x": {"v": 1}, "y": {"v": 2}}}
    assert rec["items"]["z"] == {"per_sf": {"old": {"v": 9}}}

    # a requested item with nothing left to measure is still refitted
    calls.clear()
    harness.sweep(str(out), "items", ["old"], ["z"], measure, refit)
    assert calls == []
    assert json.loads(out.read_text())["items"]["z"] == {"n": 1, "per_sf": {"old": {"v": 9}}}


def test_memory_highwater_refuses_a_decade_without_rows(tmp_path):
    out = tmp_path / "mem.json"
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "memory_highwater.py"),
         str(out), "pricing_summary"],
        env=dict(os.environ, SPARK_GRAFT_MEMHW_SFS="sf1,sf7"),
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 2 and "'sf7'" in proc.stderr
    assert not out.exists()


@pytest.mark.parametrize(
    "argv",
    [
        ["--passes"],
        ["--passes", "0"],
        ["no_such_query"],
        ["--record", "pricing_summary"],
        ["--cold", "pricing_summary"],
    ],
)
def test_bench_argument_errors_exit_2_and_write_nothing(tmp_path, argv):
    committed = [os.path.join(REPO, f) for f in ("BENCH_LOCAL.json", "BENCH_COLD.json")]
    before = [os.stat(p).st_mtime_ns for p in committed]
    env = dict(
        os.environ,
        SPARK_GRAFT_BENCH_OUT=str(tmp_path / "out.json"),
        SPARK_GRAFT_BENCH_COLD_OUT=str(tmp_path / "cold.json"),
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), *argv],
        env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 2, proc.stderr[-2000:]
    assert proc.stdout == ""
    assert list(tmp_path.iterdir()) == []
    assert [os.stat(p).st_mtime_ns for p in committed] == before


@pytest.mark.skipif(not os.path.isdir(SF_SMOKE), reason="no sf0.001 testdata")
def test_bench_subset_run(tmp_path):
    out = tmp_path / "bench.json"
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=SF_SMOKE, SPARK_GRAFT_BENCH_OUT=str(out))
    names = ["pricing_summary", "hourly_event_stats"]
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), *names, "--passes", "1"],
        env=env, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    summary, slowest = json.loads(lines[-1]), json.loads(lines[-2])
    assert summary["n_queries"] == 2 and summary["n_passes"] == 1
    assert summary["queries_file"] == out.name
    assert set(slowest) == {"slowest"} and set(slowest["slowest"]) == set(names)
    record = json.loads(out.read_text())
    assert set(record["queries"]) == set(names)
    assert list(slowest["slowest"].values()) == sorted(record["queries"].values(), reverse=True)
