"""Tests of the benchmark itself (not of seatunnel_spark).

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark once per workload and take a few minutes.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
from spans import SparkCollector, Tracer, Unavailable, instrument  # noqa: E402


def _digest_tree(d: str) -> str:
    h = hashlib.sha256()
    for root, dirs, files in sorted(os.walk(d)):
        for name in sorted(files):
            path = os.path.join(root, name)
            h.update(os.path.relpath(path, d).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


@pytest.mark.parametrize("make", [gen.etl_inputs, gen.cdc_inputs,
                                  gen.analytics_inputs])
def test_generator_is_a_function_of_the_seed(tmp_path, make):
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        make(seed, "tiny", str(tmp_path / tag))
    a, b, c = (_digest_tree(str(tmp_path / t)) for t in "abc")
    assert a == b
    assert a != c


def test_cdc_batches_have_the_event_mix(tmp_path):
    inputs = gen.cdc_inputs(3, "tiny", str(tmp_path))
    t = pq.read_table(inputs["batches"][1]["path"]).to_pylist()
    kinds = {r["__row_kind"] for r in t}
    assert kinds == {"+I", "-U", "+U", "-D"}
    by_offset: dict[int, list] = {}
    for r in t:
        by_offset.setdefault(r["__offset"], []).append(r)
    moved = [rs for rs in by_offset.values()
             if len(rs) == 2 and rs[0]["id"] != rs[1]["id"]]
    assert moved, "no update that changes the primary key"
    ids = [r["id"] for r in t if r["__row_kind"] != "-U"]
    assert len(ids) > len(set(ids)), "no key with several events"


def _events(path: str, rows: list[tuple]) -> str:
    pq.write_table(gen._events_table(rows), path)
    return path


def test_cdc_fold_reference(tmp_path):
    snap = _events(str(tmp_path / "s.parquet"), [
        (1, "a", 1.0, 1, "gold", "+I", 0),
        (2, "b", 2.0, 2, "gold", "+I", 1),
        (3, "c", 3.0, 3, "gold", "+I", 2),
    ])
    batch = _events(str(tmp_path / "b.parquet"), [
        # key 1 changes twice in one batch; the later offset wins
        (1, "a", 1.0, 1, "gold", "-U", 3),
        (1, "a2", 1.5, 1, "gold", "+U", 3),
        (1, "a2", 1.5, 1, "gold", "-U", 4),
        (1, "a3", 1.7, 1, "gold", "+U", 4),
        # key 2 moves to key 9: the old key goes away
        (2, "b", 2.0, 2, "gold", "-U", 5),
        (9, "b", 2.0, 2, "gold", "+U", 5),
        # key 3 is deleted, then inserted again
        (3, "c", 3.0, 3, "gold", "-D", 6),
        (3, "c2", 3.3, 3, "silver", "+I", 7),
    ])
    con = checks.connect()
    got = sorted(con.execute(checks.cdc_fold_sql([snap, batch])).fetchall())
    assert got == [(1, "A3", 1.7, 1, "gold/eu"),
                   (3, "C2", 3.3, 3, "silver/eu"),
                   (9, "B", 2.0, 2, "gold/eu")]


class _DeadContext:
    """A SparkContext stand-in whose JVM side is gone."""

    @property
    def _jsc(self):
        raise RuntimeError("JVM gateway closed")

    def statusTracker(self):
        raise RuntimeError("JVM gateway closed")


def test_collector_reports_unavailable_with_reason():
    col = SparkCollector(_DeadContext())
    drained = col.drain()
    assert isinstance(drained, Unavailable)
    assert "JVM gateway closed" in repr(drained)
    assert repr(drained).startswith("unavailable (")
    assert isinstance(col.group_jobs("g"), Unavailable)
    totals = col.stage_totals([1, 2])
    assert all(isinstance(v, Unavailable) for v in totals.values())
    assert isinstance(col.stage_totals(drained)["tasks"], Unavailable)
    assert isinstance(metrics.peak_rss_mb(None), Unavailable)


def test_tail_has_ten_samples_above_it():
    walls = [float(i) for i in range(1, 31)]
    value, label = metrics.tail(walls)
    assert value == 20.0 and sum(w > value for w in walls) == 10
    assert label == "p66.7 of n=30"
    assert metrics.tail([1.0, 3.0, 2.0])[0] == 2.0
    assert metrics.tail([float(i) for i in range(11)])[0] == 5.0


class _RecordingContext:
    def __init__(self):
        self.calls = []

    def setJobGroup(self, group, desc):
        self.calls.append(("group", group))

    def setLocalProperty(self, key, value):
        self.calls.append((key, value))


def test_instrument_wraps_and_restores_layer_methods():
    from seatunnel_spark.sources.base import Source
    from seatunnel_spark.sources.file import FileSource

    class Echo(Source):
        def read(self, spark):
            return super_read(spark)

    def super_read(spark):
        return spark

    orig = FileSource.__dict__["read"]
    tracer = Tracer(_RecordingContext())
    tracer.job = 0
    with instrument(tracer):
        assert FileSource.__dict__["read"] is not orig
        assert Echo({}).read("df") == "df"
    assert FileSource.__dict__["read"] is orig
    [sp] = tracer.job_spans(0)
    assert sp.name == "sources.read" and sp.end >= sp.start
    assert tracer.sc.calls[0] == ("group", sp.group)
    assert tracer.sc.calls[-1] == ("spark.job.description", None)


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_tables_match_benchmark_json():
    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        metrics.PER_LAYER


@pytest.mark.parametrize("workload", ["etl_sync", "cdc_merge",
                                      "analytics_iter"])
def test_tiny_traced_run_prints_every_metric(tmp_path, workload):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
           workload, "--seed", "5", "--seconds", "1", "--trace", "1",
           "--size", "tiny"]
    proc = subprocess.run(cmd, cwd=str(tmp_path), capture_output=True,
                          text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == set(metrics.PER_LAYER)
    printed = {ln.split()[2] for ln in lines if ln.startswith("metric ")}
    assert set(metrics.END_TO_END) | set(metrics.PER_LAYER) | \
        {"fail_frac"} <= printed


def test_refuses_to_run_without_the_package(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(BENCH):
        if name.endswith(".py"):
            (bench / name).write_bytes(
                open(os.path.join(BENCH, name), "rb").read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cdc_merge",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=str(tmp_path), capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert "correct" not in proc.stdout
