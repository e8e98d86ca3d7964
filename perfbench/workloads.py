"""The benchmark's workloads. Each drives the engine only through its
public entry points (``Orchestrator.prepare/process``,
``CdcStreamPipeline.start``) over inputs the seeded generators wrote.

A workload has a ``setup`` (generate inputs, initial load) and a
``run_pass``, the fixed unit of measured work; it returns a
:class:`PassResult` whose wall and CPU cover only the engine calls, never
the generation or the checks between them.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

import duckdb

from perfbench import checks, gen
from perfbench.procstat import engine_pids, tree_cpu_s


class Timer:
    """Wall and engine-CPU seconds of the block."""

    def __enter__(self) -> "Timer":
        self.cpu0 = tree_cpu_s(engine_pids())
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self.t0
        self.cpu = tree_cpu_s(engine_pids()) - self.cpu0


@dataclass
class PassResult:
    wall: float = 0.0
    cpu: float = 0.0
    attempted: int = 0
    failed: int = 0
    causes: list[str] = field(default_factory=list)
    #: per-operation wall times, keyed by operation kind
    ops: dict[str, list[float]] = field(default_factory=dict)
    changed_rows: int = 0
    #: workload-specific extras (streaming progress, event counts)
    extra: dict = field(default_factory=dict)

    def add_op(self, kind: str, wall: float) -> None:
        self.ops.setdefault(kind, []).append(wall)


def median_or_none(values):
    return statistics.median(values) if values else None


# ---------------------------------------------------------------------------


class SnapshotResync:
    """Scheduled resync of two D365-shaped tables onto ParquetTarget
    sinks. A pass is one round of three ``Orchestrator.process`` cycles —
    no-change, low-change and high-change — in a seeded order."""

    name = "snapshot_resync"
    op_unit = "table-cycles"
    #: seconds of a warm pass on a 4-CPU VM; sets the passes per run
    NOMINAL_PASS_S = 6.0

    def __init__(self, seed: int, cpus: int) -> None:
        self.seed = seed
        self.workers = max(1, min(4, cpus))
        self.tables = {t.name: t for t in gen.RESYNC_TABLES}
        self.strategy_text = "\n".join(f"{t.name}|{t.window}" for t in gen.RESYNC_TABLES)
        self.target_schemas = {
            t.name: [*gen.SYNC_COLUMNS, gen.TGT_ONLY] for t in gen.RESYNC_TABLES
        }
        #: the source bytes of each table's current snapshot (for traces)
        self.source_bytes: dict[str, int] = {}

    def setup(self, spark, root: str) -> dict:
        from d365fo_db_sync_spark.orchestrator import Orchestrator
        from d365fo_db_sync_spark.state import StateStore
        from d365fo_db_sync_spark.sync import SyncConfig, SyncEngine

        self.spark = spark
        self.gen = gen.ResyncGenerator(os.path.join(root, "inputs"), self.seed)
        self.target_root = os.path.join(root, "targets")
        engine = SyncEngine(spark, StateStore(os.path.join(root, "state.json")), SyncConfig())
        self.orch = Orchestrator(spark, engine, workers=self.workers)
        self.con = duckdb.connect()
        self.cycle = 0
        # the initial sync reads every source row and writes every target
        initial = self._cycle("initial")
        return {
            "initial_load_s": initial.wall,
            "attempted": initial.attempted,
            "failed": initial.failed,
            "causes": initial.causes,
        }

    def _cycle(self, kind: str, into: PassResult | None = None) -> PassResult:
        res = into if into is not None else PassResult()
        counts = self.gen.snapshot(self.cycle, "noop" if kind == "initial" else kind)
        self.cycle += 1
        # updated in place: the traced run's wrappers hold this dict
        self.source_bytes.update(self.gen.bytes)
        sources = {
            n: self.spark.read.schema(gen.SOURCE_SCHEMA_DDL).parquet(p)
            for n, p in self.gen.paths.items()
        }
        plans = self.orch.prepare(
            sources, target_schemas=self.target_schemas, strategy_text=self.strategy_text
        )
        with Timer() as t:
            result = self.orch.process(plans, sources, self.target_root)
        res.wall += t.wall
        res.cpu += t.cpu
        res.add_op(kind, t.wall)
        res.changed_rows += sum(c.total for c in counts.values())
        columns = list(gen.SYNC_COLUMNS)
        for plan in result.plans:
            res.attempted += 1
            if plan.status != "Completed":
                res.failed += 1
                res.causes.append(
                    f"{kind} cycle {self.cycle}: {plan.name} {plan.status}: {plan.error}"
                )
                continue
            if kind == "noop":
                continue
            ok, cause = checks.check_last_n(
                self.con,
                self.gen.paths[plan.name],
                os.path.join(self.target_root, plan.name),
                self.tables[plan.name].window,
                columns,
            )
            if not ok:
                res.failed += 1
                res.causes.append(f"{kind} cycle {self.cycle}: {plan.name}: {cause}")
        return res

    def run_pass(self, round_kinds: list[str]) -> PassResult:
        res = PassResult()
        for kind in round_kinds:
            self._cycle(kind, res)
        return res

    def passes(self):
        return gen.cycle_rounds(self.seed)

    def final_check(self) -> list[str]:
        causes = []
        for name, spec in self.tables.items():
            ok, cause = checks.check_last_n(
                self.con,
                self.gen.paths[name],
                os.path.join(self.target_root, name),
                spec.window,
                list(gen.SYNC_COLUMNS),
            )
            if not ok:
                causes.append(f"final: {name}: {cause}")
        return causes

    def report(self, passes: list[PassResult], setups: list[dict]) -> dict[str, tuple]:
        def kind_median(kind):
            return median_or_none([w for p in passes for w in p.ops.get(kind, ())])

        return {
            "initial_sync_s": (statistics.median(s["initial_load_s"] for s in setups), "s"),
            "noop_cycle_s": (kind_median("noop"), "s"),
            "incremental_cycle_s": (kind_median("low"), "s"),
            "refresh_cycle_s": (kind_median("high"), "s"),
        }

    def teardown(self) -> None:
        self.con.close()


class CdcStream:
    """CDC micro-batches drained into a 16-bucket BucketedParquetTarget
    by ``CdcStreamPipeline`` (one query, ``maxFilesPerTrigger=1``). A
    pass stages one event file and drains it with one available-now
    query over the same checkpoint."""

    name = "cdc_stream"
    op_unit = "micro-batches"
    #: seconds of a warm pass on a 4-CPU VM; sets the passes per run
    NOMINAL_PASS_S = 2.5
    BUCKETS = 16

    def __init__(self, seed: int, cpus: int) -> None:
        self.seed = seed

    def setup(self, spark, root: str) -> dict:
        from d365fo_db_sync_spark.sinks import BucketedParquetTarget
        from d365fo_db_sync_spark.state import StateStore
        from d365fo_db_sync_spark.streaming import CdcStreamPipeline, cdc_file_source
        from d365fo_db_sync_spark.sync import SyncConfig, SyncEngine

        self.spark = spark
        self.gen = gen.CdcGenerator(os.path.join(root, "inputs"), self.seed)
        self.staging = os.path.join(root, "inputs", "events")
        os.makedirs(self.staging)
        engine = SyncEngine(spark, StateStore(os.path.join(root, "state.json")), SyncConfig())
        self.target_root = os.path.join(root, "target")
        target = BucketedParquetTarget(self.target_root, key="RecId", n_buckets=self.BUCKETS)
        self.con = duckdb.connect()
        self.event_dirs = [self.gen.write_base()]
        # initial load: the base drained as one micro-batch
        base_stream = cdc_file_source(spark, self.event_dirs[0], gen.CDC_SCHEMA_DDL)
        base = CdcStreamPipeline(engine, "SALESLINE_CDC", target, os.path.join(root, "ckpt-base"))
        with Timer() as t:
            base.start(base_stream, available_now=True).awaitTermination()
        ok, cause = checks.check_cdc_merge(
            self.con, self.event_dirs, self.target_root, list(gen.CDC_VALUE_COLUMNS)
        )
        self.event_dirs.append(self.staging)
        self.pipeline = CdcStreamPipeline(
            engine, "SALESLINE_CDC", target, os.path.join(root, "ckpt")
        )
        self.stream = cdc_file_source(
            spark, self.staging, gen.CDC_SCHEMA_DDL, max_files_per_trigger=1
        )
        return {
            "initial_load_s": t.wall,
            "attempted": 1,
            "failed": 0 if ok else 1,
            "causes": [] if ok else [f"base load: {cause}"],
        }

    def run_pass(self, _kinds) -> PassResult:
        res = PassResult()
        c = self.gen.write_batch(self.staging)
        res.changed_rows = c.keys
        res.extra["events"] = c.events
        with Timer() as t:
            q = self.pipeline.start(self.stream, available_now=True)
            q.awaitTermination()
        res.wall, res.cpu = t.wall, t.cpu
        progress = [p for p in q.recentProgress if p.numInputRows > 0]
        res.extra["progress"] = [
            {
                "trigger_s": p.durationMs.get("triggerExecution", 0) / 1e3,
                "add_batch_s": p.durationMs.get("addBatch", 0) / 1e3,
                "input_rows": p.numInputRows,
            }
            for p in progress
        ]
        for p in res.extra["progress"]:
            res.add_op("batch", p["trigger_s"])
        res.attempted = 1
        if q.exception() is not None:
            res.failed = res.attempted
            res.causes.append(f"stream failed: {q.exception()}")
            return res
        if len(progress) != 1:
            res.failed = res.attempted
            res.causes.append(f"expected 1 micro-batch, the query ran {len(progress)}")
            return res
        ok, cause = checks.check_cdc_merge(
            self.con, self.event_dirs, self.target_root, list(gen.CDC_VALUE_COLUMNS)
        )
        if not ok:
            res.failed = res.attempted
            res.causes.append(cause)
        return res

    def passes(self):
        while True:
            yield None

    def final_check(self) -> list[str]:
        ok, cause = checks.check_cdc_merge(
            self.con, self.event_dirs, self.target_root, list(gen.CDC_VALUE_COLUMNS)
        )
        return [] if ok else [f"final: {cause}"]

    def report(self, passes: list[PassResult], setups: list[dict]) -> dict[str, tuple]:
        batches = [w for p in passes for w in p.ops.get("batch", ())]
        events = sum(p.extra.get("events", 0) for p in passes)
        wall = sum(p.wall for p in passes)
        return {
            "base_load_s": (statistics.median(s["initial_load_s"] for s in setups), "s"),
            "cdc_batch_s": (median_or_none(batches), "s"),
            "cdc_events_per_s": (events / wall if wall else None, "1/s"),
        }

    def teardown(self) -> None:
        self.con.close()


WORKLOADS = {w.name: w for w in (SnapshotResync, CdcStream)}
