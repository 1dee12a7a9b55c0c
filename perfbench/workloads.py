"""The three workloads. Each is a closed loop: one client, one job at a
time. ``warm_up`` runs as part of set-up, ``job`` is the timed unit,
``check`` compares the outputs with DuckDB after the timed region.

Why these three (see README.md): ``etl_sync`` is scan, codegen and file
writes with no shuffle and no dataops; ``cdc_merge`` is the keyed
read-modify-write sink with a window shuffle, an anti-join and a full
snapshot rewrite; ``analytics_iter`` is almost all dataops and
scheduler-bound Spark jobs, and almost none of job/sinks.
"""

from __future__ import annotations

import os
import shutil
import sys

import checks
import gen

ETL_HOCON = """
env {{ job.mode = "BATCH" }}
source {{
  LocalFile {{
    path = "{src}"
    file_format_type = "parquet"
    plugin_output = "lineitem"
  }}
}}
transform {{
  Sql {{
    plugin_input = "lineitem"
    plugin_output = "priced"
    query = "{query}"
  }}
  Filter {{
    plugin_input = "priced"
    plugin_output = "synced"
    include_fields = [{fields}]
  }}
}}
sink {{
  LocalFile {{
    plugin_input = "synced"
    path = "{dst}"
    file_format_type = "parquet"
  }}
}}
"""

CDC_HOCON = """
env {{ job.mode = "BATCH" }}
source {{
  LocalFile {{
    path = "{src}"
    file_format_type = "parquet"
    plugin_output = "changes"
  }}
}}
transform {{
  Sql {{
    plugin_input = "changes"
    plugin_output = "normalized"
    query = "{query}"
  }}
}}
sink {{
  Paimon {{
    plugin_input = "normalized"
    warehouse = "{warehouse}"
    database = "bench"
    table = "accounts"
    primary_keys = "id"
  }}
}}
"""

# The analytics mix: a converging fixpoint loop, and ANN scoring in
# Python-worker stages. README.md says why q_pagerank and
# q_golden_records are not in it.
ANALYTICS_MIX = ["q_connected_components", "sim_recall_rerank"]


def run_hocon(spark, text: str, tracer=None) -> None:
    """Parse and run one HOCON job through the public entry points,
    with a fresh JobEngine as a scheduled sync would use."""
    from seatunnel_spark.job.engine import JobEngine
    from seatunnel_spark.job.spec import JobSpec

    if tracer is None:
        JobEngine(spark).run(JobSpec.from_hocon(text))
        return
    with tracer.span("job.parse"):
        spec = JobSpec.from_hocon(text)
    JobEngine(spark).run(spec)


class Workload:
    name = "?"
    setups = 3  # set-ups per run; setup_s is their median

    def __init__(self, root: str, work: str, seed: int, size: str):
        self.root, self.work, self.seed, self.size = root, work, seed, size
        self.inputs: dict = {}

    def exhausted(self, i: int) -> bool:
        """True when no input is left for job ``i``."""
        return False

    def after_job(self, spark, i: int) -> None:
        """Untimed per-job follow-up; raising marks the job failed."""

    def rows_per_job(self, i: int) -> int:
        raise NotImplementedError

    def changelog_bytes(self, i: int) -> int | None:
        """Bytes of changelog job ``i`` applied, for write amplification."""
        return None


class EtlSync(Workload):
    name = "etl_sync"

    def generate(self) -> dict:
        self.inputs = gen.etl_inputs(self.seed, self.size,
                                     os.path.join(self.work, "in"))
        return {"source_rows": self.inputs["rows"],
                "source_bytes": self.inputs["bytes"]}

    def _out(self, tag: str) -> str:
        return os.path.join(self.work, "out", tag)

    def _hocon(self, dst: str) -> str:
        return ETL_HOCON.format(
            src=self.inputs["path"], dst=dst, query=checks.ETL_ZETA_SQL,
            fields=", ".join(f'"{c}"' for c in checks.ETL_COLUMNS))

    def warm_up(self, spark, k: int) -> None:
        run_hocon(spark, self._hocon(self._out(f"warm-{k}")))

    def job(self, spark, i: int, tracer=None) -> None:
        run_hocon(spark, self._hocon(self._out(f"job-{i:04d}")), tracer)

    def rows_per_job(self, i: int) -> int:
        return self.inputs["rows"]

    def check(self, con, jobs: list[int]) -> dict[int, str | None]:
        expected = checks.etl_reference(con, self.inputs["path"])
        return {i: None if checks.etl_output_ok(
            con, self._out(f"job-{i:04d}"), expected)
            else "output differs from DuckDB" for i in jobs}


class CdcMerge(Workload):
    name = "cdc_merge"
    # Each set-up rebuilds the table from the snapshot and applies the
    # warm-up batches, so the three set-ups also warm the JVM up before
    # the timed jobs (job times keep falling over the first commits of
    # a fresh JVM).
    WARM_BATCHES = 2

    def generate(self) -> dict:
        self.inputs = gen.cdc_inputs(self.seed, self.size,
                                     os.path.join(self.work, "in"))
        b = self.inputs["batches"]
        return {"snapshot_rows": self.inputs["snapshot_rows"],
                "events_per_batch": b[0]["events"],
                "batches_generated": len(b)}

    @property
    def warehouse(self) -> str:
        return os.path.join(self.work, "warehouse")

    @property
    def table_path(self) -> str:
        return os.path.join(self.warehouse, "bench", "accounts")

    def _head(self) -> int | None:
        from seatunnel_spark.sinks.lakehouse import LakehouseTable

        return LakehouseTable(self.table_path).head()

    def _apply(self, spark, src: str, tracer=None) -> None:
        run_hocon(spark, CDC_HOCON.format(src=src, query=checks.CDC_ZETA_SQL,
                                          warehouse=self.warehouse), tracer)

    def warm_up(self, spark, k: int) -> None:
        """Commit the keyed snapshot, then apply the warm-up batches."""
        shutil.rmtree(self.warehouse, ignore_errors=True)
        self._apply(spark, self.inputs["snapshot"])
        for b in self.inputs["batches"][:self.WARM_BATCHES]:
            self._apply(spark, b["path"])
        self.versions: dict[int, int] = {}
        self.head = self._head()

    def _batch(self, i: int) -> dict:
        return self.inputs["batches"][self.WARM_BATCHES + i]

    def exhausted(self, i: int) -> bool:
        return self.WARM_BATCHES + i >= len(self.inputs["batches"])

    def job(self, spark, i: int, tracer=None) -> None:
        self._apply(spark, self._batch(i)["path"], tracer)

    def after_job(self, spark, i: int) -> None:
        head = self._head()
        if head is None or (self.head is not None and head <= self.head):
            raise RuntimeError(f"_HEAD did not advance past {self.head}")
        self.versions[i], self.head = head, head

    def rows_per_job(self, i: int) -> int:
        return self._batch(i)["events"]

    def changelog_bytes(self, i: int) -> int:
        return self._batch(i)["bytes"]

    def check(self, con, jobs: list[int]) -> dict[int, str | None]:
        out = {}
        for i in jobs:
            if i not in self.versions:
                out[i] = "no committed version"
                continue
            log = [self.inputs["snapshot"]] + [
                b["path"] for b in
                self.inputs["batches"][:self.WARM_BATCHES + i + 1]]
            vdir = os.path.join(self.table_path, f"v{self.versions[i]}")
            out[i] = None if checks.cdc_version_ok(con, vdir, log) \
                else "table differs from the DuckDB fold"
        return out


class AnalyticsIter(Workload):
    name = "analytics_iter"
    # One set-up: the session, then one untimed pass over the mix, so
    # the timed passes run warm (JIT, Python workers). A cold pass
    # costs three warm ones, so the run budget has room for only one
    # set-up; see README.md.
    setups = 1

    def generate(self) -> dict:
        self.inputs = gen.analytics_inputs(self.seed, self.size,
                                           os.path.join(self.work, "in"))
        return {"table_rows": self.inputs["rows"]}

    def _entry(self):
        if self.root not in sys.path:
            sys.path.insert(0, self.root)
        import __spark_entry__

        return __spark_entry__

    def _path(self, table: str) -> str:
        return os.path.join(self.inputs["dir"], f"{table}.parquet")

    def warm_up(self, spark, k: int) -> None:
        """One untimed pass over the mix, the same noop writes as a
        timed pass, that also collects each query's rows for ``check``.
        A query that fails here is recorded, not raised, so it shows as
        a failed check."""
        from seatunnel_spark.dataops import cache_scope

        qs = self._entry().queries()
        self.collected = {}
        for q in ANALYTICS_MIX:
            try:
                with cache_scope():
                    # the noop write warms the timed path up; collect
                    # then reads the rows it cached
                    df = qs[q](spark, self.inputs["dir"]).persist()
                    try:
                        df.write.format("noop").mode("overwrite").save()
                        self.collected[q] = (
                            df.columns, [tuple(r) for r in df.collect()])
                    finally:
                        df.unpersist()
            except Exception as e:  # noqa: BLE001 — reported by check
                self.collected[q] = f"failed: {e!r}"[:300]

    def job(self, spark, i: int, tracer=None) -> None:
        from seatunnel_spark.dataops import cache_scope

        qs = self._entry().queries()
        for q in ANALYTICS_MIX:
            with cache_scope():
                if tracer is None:
                    df = qs[q](spark, self.inputs["dir"])
                    df.write.format("noop").mode("overwrite").save()
                else:
                    with tracer.span(f"dataops.{q}.build"):
                        df = qs[q](spark, self.inputs["dir"])
                    with tracer.span(f"dataops.{q}.action"):
                        df.write.format("noop").mode("overwrite").save()

    def rows_per_job(self, i: int) -> int:
        return self.inputs["total_rows"]

    def check(self, con, jobs: list[int]) -> dict[int, str | None]:
        """The timed passes materialize through the noop writer, so the
        rows compared are those the set-up pass collected. Every pass
        runs the same code over the same inputs, so a mismatch marks
        every timed pass failed."""
        entry = self._entry()
        oracles = entry.oracle_sql()
        selfcheck = checks.load_selfcheck(self.root)
        for t in self.inputs["rows"]:
            con.execute(f"CREATE OR REPLACE VIEW {t} AS "
                        f"SELECT * FROM read_parquet('{self._path(t)}')")
        bad = []
        for q in ANALYTICS_MIX:
            got = self.collected.get(q, "no result")
            if isinstance(got, str):
                bad.append(f"{q}: {got}")
                continue
            cols, rows = got
            why = checks.oracle_mismatch(con, selfcheck, oracles[q], cols,
                                         rows)
            if why:
                bad.append(f"{q}: {why}")
        reason = "; ".join(bad) or None
        return {i: reason for i in jobs}


WORKLOADS = {w.name: w for w in (EtlSync, CdcMerge, AnalyticsIter)}
