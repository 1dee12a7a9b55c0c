"""Pipeline benchmark for seatunnel_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload cdc_merge --seed 1 --seconds 15 --trace 0

``--workload all`` runs the three workloads one after the other, each in
its own process. Every metric is printed as
``metric <workload> <name> = <value> <unit>``; the last line of standard
output is one JSON object with the keys ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import metrics  # noqa: E402
from spans import SparkCollector, Tracer, Unavailable, instrument  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

DRIVER_MEM = "2g"


def _spark_env(work: str) -> None:
    """Keep Spark's scratch files inside the checkout, let Python
    workers import the package from any working directory, and size
    the driver for a shared machine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _session(work: str):
    """The engine's own session, with Spark's files kept in the run
    directory. The driver heap starts at its maximum size: a heap that
    grows on demand made peak RSS and the first jobs of a run depend on
    when GC ergonomics decided to grow it."""
    from seatunnel_spark.session import get_spark

    return get_spark("perfbench", {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:-UsePerfData",
    })


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            proc.stdin.close()
            proc.wait(timeout=60)


def _measure(wl, spark, seconds: float, trace: bool, cores: int) -> list:
    """Closed loop: run jobs back to back until ``seconds`` have passed;
    at least one job always runs. With ``trace`` every job is traced."""
    tracer = Tracer(spark.sparkContext) if trace else None
    collector = SparkCollector(spark.sparkContext)
    jobs = []
    deadline = time.perf_counter() + seconds
    i = 0
    while not wl.exhausted(i):
        rec = {"job": i, "wall": None, "error": None}
        try:
            if trace:
                tracer.job = i
                with instrument(tracer):
                    t0 = time.perf_counter()
                    wl.job(spark, i, tracer)
                    rec["wall"] = time.perf_counter() - t0
            else:
                t0 = time.perf_counter()
                wl.job(spark, i)
                rec["wall"] = time.perf_counter() - t0
            wl.after_job(spark, i)
        except Exception:  # noqa: BLE001 — a failed job is counted, not fatal
            rec["error"] = traceback.format_exc()
            print(f"perfbench: job {i} failed:\n{rec['error']}",
                  file=sys.stderr)
        if trace and rec["wall"] is not None:
            rec["layers"] = metrics.job_layers(
                tracer, collector, i, rec["wall"], cores,
                wl.changelog_bytes(i))
        jobs.append(rec)
        i += 1
        if time.perf_counter() >= deadline:
            break
    return jobs


def run_one(name: str, seed: int, seconds: float, trace: bool,
            size: str) -> dict:
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{name}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _spark_env(work)
    info = {"workload": name, "seed": seed, "size": size,
            "seconds": seconds, "trace": int(trace),
            "nproc": os.cpu_count(),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "python": platform.python_version(),
            "loadavg_start": os.getloadavg()}
    wl = WORKLOADS[name](ROOT, work, seed, size)
    try:
        t0 = time.perf_counter()
        info["inputs"] = wl.generate()
        info["generate_s"] = time.perf_counter() - t0
        spark, setups, session_start = None, [], None
        try:
            for k in range(wl.setups):
                t0 = time.perf_counter()
                if spark is None:
                    spark = _session(work)
                    session_start = time.perf_counter() - t0
                else:
                    spark.stop()
                    spark = _session(work)
                wl.warm_up(spark, k)
                setups.append(time.perf_counter() - t0)
            import pyspark

            sc = spark.sparkContext
            cores = sc.defaultParallelism
            info.update({"pyspark": pyspark.__version__,
                         "spark.default.parallelism": cores,
                         "setups_s": setups})
            jobs = _measure(wl, spark, seconds, trace, cores)
            rss = metrics.peak_rss_mb(getattr(sc._gateway.proc, "pid", None))
        finally:
            if spark is not None:
                _stop(spark)
        con = checks.connect()
        try:
            verdicts = wl.check(con, [j["job"] for j in jobs
                                      if j["error"] is None])
        finally:
            con.close()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for j in jobs:
        if j["error"] is None and verdicts[j["job"]]:
            j["error"] = f"check: {verdicts[j['job']]}"
    info["loadavg_end"] = os.getloadavg()
    return _result(wl, info, jobs, setups, session_start, rss, trace)


def _result(wl, info, jobs, setups, session_start, rss, trace) -> dict:
    done = [j for j in jobs if j["wall"] is not None]
    walls = [j["wall"] for j in done]
    failed = [j for j in jobs if j["error"] is not None]
    for j in failed:
        print(f"perfbench: job {j['job']} counted failed: "
              f"{j['error'].strip().splitlines()[-1]}")
    e2e = {"setup_s": statistics.median(setups), "peak_rss_mb": rss}
    if walls:
        e2e["job_p50_s"] = statistics.median(walls)
        e2e["job_tail_s"], info["job_tail"] = metrics.tail(walls)
        e2e["rows_per_s"] = (sum(wl.rows_per_job(j["job"]) for j in done)
                             / sum(walls))
    else:
        for k in ("job_p50_s", "job_tail_s", "rows_per_s"):
            e2e[k] = Unavailable("no job completed")
    info.update(jobs=len(jobs), job_walls_s=[round(w, 4) for w in walls],
                fail_frac=len(failed) / len(jobs))
    out = {"workload": wl.name, "info": info, "attempted": len(jobs),
           "failed": len(failed), "end_to_end": e2e}
    if trace:
        per_job = [j["layers"] for j in done]
        layers = metrics.mean_layers(per_job) if per_job else {
            k: Unavailable("no job completed") for k in metrics.PER_LAYER}
        layers["session.start_s"] = session_start
        out["per_layer"] = layers
    return out


def _emit(res: dict, trace: bool) -> dict:
    """Print the metric lines of one workload; return its JSON part."""
    name = res["workload"]
    print(f"info {name} {json.dumps(res['info'], default=str)}")
    print(f"metric {name} fail_frac = {res['info']['fail_frac']:.4f} "
          f"({res['failed']}/{res['attempted']} jobs)")
    # a traced run's end-to-end numbers include the tracing overhead
    note = " (traced)" if trace else ""
    for m, unit in metrics.END_TO_END.items():
        print(f"metric {name} {m} = {res['end_to_end'][m]!r} {unit}{note}")
    if trace:
        for m, unit in metrics.PER_LAYER.items():
            print(f"metric {name} {m} = {res['per_layer'][m]!r} {unit}")
    units = metrics.PER_LAYER if trace else metrics.END_TO_END
    vals = res["per_layer" if trace else "end_to_end"]
    return {m: ({"value": None, "unit": u, "unavailable": vals[m].reason}
                if isinstance(vals[m], Unavailable)
                else {"value": vals[m], "unit": u})
            for m, u in units.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the smoke tests")
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not os.path.isdir(os.path.join(ROOT, "seatunnel_spark")):
        print(f"perfbench: no seatunnel_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return _run_all(args)
    res = run_one(args.workload, args.seed, args.seconds, bool(args.trace),
                  args.size)
    out = _emit(res, bool(args.trace))
    ok = res["failed"] == 0 and all(v["value"] is not None
                                     for v in out.values())
    print(json.dumps({"correct": ok, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": out}))
    return 0


def _run_all(args) -> int:
    """Each workload in its own process, so each starts its own JVM."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, __file__, "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--size", args.size]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        if proc.returncode != 0 or not lines:
            print(f"perfbench: {name} exited {proc.returncode}",
                  file=sys.stderr)
            return proc.returncode or 1
        part = json.loads(lines[-1])
        total["correct"] &= part["correct"]
        total["attempted"] += part["attempted"]
        total["failed"] += part["failed"]
        total["metrics"].update({f"{name}/{m}": v
                                 for m, v in part["metrics"].items()})
    print(json.dumps(total))
    return 0


if __name__ == "__main__":
    sys.exit(main())
