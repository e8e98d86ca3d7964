"""Benchmark runner for the sync engine.

    python3 perfbench/run.py --workload snapshot_resync --seed 1 --seconds 5 --trace 0

Builds its inputs from ``--seed``, sets the engine up several times
(reporting the median warm set-up), runs one warm-up pass, measures whole
passes of the workload for ``--seconds``, checks every output in DuckDB,
and prints one JSON object as the last line of stdout. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` runs the workload once
untraced and once traced and reports the per-layer metrics plus the
tracing overhead. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
#: set-ups per run; setup_s is the median of all but the first, which
#: also launches and warms the JVM
SETUP_REPS = 3
#: seconds to wait for the engine's processes to exit before killing them
SHUTDOWN_TIMEOUT_S = 60.0

#: every metric a run prints ahead of the workload's own, name -> unit
SUMMARY = {
    "setup_s": "s",
    "pass_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "write_bytes_per_changed_row": "B/row",
}
#: the ones the JSON line reports. pass_s is left out: it is wall time,
#: and on a host whose steal share swings between runs its spread over
#: seeds exceeds any usable bound (README, Steadiness)
END_TO_END = {k: u for k, u in SUMMARY.items() if k != "pass_s"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


class Sessions:
    """Starts and stops Spark sessions whose every file lives under the
    run's work directory."""

    def __init__(self, work: Path, cpus: int) -> None:
        self.work = work
        self.cpus = cpus
        self.tmp = work / "tmp"
        self.tmp.mkdir(parents=True, exist_ok=True)
        os.environ["TMPDIR"] = str(self.tmp)
        os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        self.event_dirs: list[Path] = []

    def start(self, event_log: bool = False):
        from d365fo_db_sync_spark.session import get_spark

        conf = {
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.tmp} -Dderby.system.home={self.work / 'derby'} "
                "-XX:-UsePerfData -Xms1g"
            ),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every stage in the status store: output bytes are
            # summed from it
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
        }
        if event_log:
            d = self.work / f"eventlog-{len(self.event_dirs)}"
            d.mkdir(parents=True)
            self.event_dirs.append(d)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = d.as_uri()
            # one plain JSON-lines file the fold can read directly
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        spark = get_spark(
            "perfbench",
            master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus,
            extra_conf=conf,
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark


def output_bytes(spark) -> int:
    """Bytes every finished task has written so far (Spark's own output
    metrics, read from the status store after the listener bus drains)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    # stageList(statuses, details, withSummaries, unsortedQuantiles, taskStatus)
    stages = jsc.statusStore().stageList(
        None, False, False, sc._gateway.new_array(sc._jvm.double, 0), sc._jvm.java.util.ArrayList()
    )
    return sum(stages.apply(i).outputBytes() for i in range(stages.length()))


def shutdown_engine() -> None:
    """Stop the Spark JVM this process launched and wait until it and
    every process under it have exited."""
    import signal
    import subprocess

    from pyspark import SparkContext

    from perfbench.procstat import engine_pids

    gateway = SparkContext._gateway
    if gateway is None:
        return
    pids = engine_pids()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=SHUTDOWN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + SHUTDOWN_TIMEOUT_S
    while True:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + SHUTDOWN_TIMEOUT_S
        time.sleep(0.1)


def run_setups(wl, sessions: Sessions, work: Path, reps: int, event_log: bool = False):
    """Set the workload up ``reps`` times, each time from a fresh session
    and fresh inputs; the last set-up stays live for measurement."""
    samples, infos = [], []
    spark = None
    for i in range(reps):
        if spark is not None:
            wl.teardown()
            spark.stop()
            shutil.rmtree(work / f"setup{i - 1}", ignore_errors=True)
        t0 = time.perf_counter()
        spark = sessions.start(event_log=event_log)
        infos.append(wl.setup(spark, str(work / f"setup{i}")))
        samples.append(time.perf_counter() - t0)
    return spark, samples, infos


def measure(wl, spark, seconds: float) -> dict:
    """Run one warm-up pass, untimed: it runs the code paths the set-ups
    never did (the set-ups only load). Then run the passes that fill
    ``seconds`` at the workload's nominal pass time. The count is fixed
    by ``seconds`` rather than by a clock: the JIT keeps warming up over
    the passes, so a run that fit one more pass in would report a lower
    median, and a faster program would be measured over more passes."""
    from perfbench.procstat import Contention, MemorySampler

    rounds = iter(wl.passes())
    warmup = wl.run_pass(next(rounds))
    contention = Contention()
    sampler = MemorySampler().start()
    out0 = output_bytes(spark)
    t_start = time.time()
    n = max(1, round(seconds / wl.NOMINAL_PASS_S))
    passes = [wl.run_pass(next(rounds)) for _ in range(n)]
    t_end = time.time()
    return {
        "warmup": warmup,
        "passes": passes,
        "peak_rss_mb": sampler.stop(),
        "contention": contention.read(),
        "window": (t_start, t_end),
        "output_bytes": output_bytes(spark) - out0,
        "final_causes": wl.final_check(),
    }


def summary(warm_setups: list[float], m: dict) -> dict[str, float]:
    passes = m["passes"]
    return {
        "setup_s": statistics.median(warm_setups),
        "pass_s": statistics.median(p.wall for p in passes),
        "cpu_s": statistics.median(p.cpu for p in passes),
        "peak_rss_mb": m["peak_rss_mb"],
        "write_bytes_per_changed_row": m["output_bytes"] / sum(p.changed_rows for p in passes),
    }


def tally(infos: list[dict], m: dict) -> tuple[int, int, list[str]]:
    passes = [m["warmup"], *m["passes"]]
    attempted = sum(i["attempted"] for i in infos) + sum(p.attempted for p in passes)
    failed = sum(i["failed"] for i in infos) + sum(p.failed for p in passes)
    causes = [c for i in infos for c in i["causes"]]
    causes += [c for p in passes for c in p.causes]
    causes += m["final_causes"]
    # a failed end-of-run check is one more failed operation
    failed = min(attempted, failed + (1 if m["final_causes"] else 0))
    return attempted, failed, causes


def describe(wl, infos, m, summ, attempted, failed, causes, label="") -> None:
    """Print every summary and workload metric by name with its unit."""
    passes = m["passes"]
    rows = [(k, v, SUMMARY[k]) for k, v in summ.items()]
    rows += [(k, v, u) for k, (v, u) in wl.report(passes, infos).items()]
    rows.append(("error_rate", failed / attempted if attempted else None, "ratio"))
    print(f"# {wl.name}{label}: 1 warm-up and {len(passes)} measured passes, "
          f"{attempted} {wl.op_unit} attempted, {failed} failed")
    for name, value, unit in rows:
        shown = "n/a" if value is None else f"{value:.6g}"
        print(f"{name} = {shown} {unit}")
    for k, v in m["contention"].items():
        print(f"contention.{k} = {'n/a' if v is None else f'{v:.4f}'} (recorded, not applied)")
    for c in causes:
        print(f"FAILED: {c}")


def traced_phase(wl, sessions: Sessions, work: Path, seconds: float):
    """Set up and measure with the event log on and the engine wrapped."""
    from perfbench import layers
    from perfbench.trace import Tracer, fold_event_dir

    spark, samples, infos = run_setups(wl, sessions, work / "traced", 1, event_log=True)
    tracer = Tracer(run_id=f"{wl.name}-{wl.seed}-{os.getpid()}")
    layers.install(tracer, getattr(wl, "source_bytes", {}))
    try:
        m = measure(wl, spark, seconds)
    finally:
        tracer.unwrap()
    wl.teardown()
    spark.stop()
    fold = fold_event_dir(str(sessions.event_dirs[-1]))
    progress = [p for ps in m["passes"] for p in ps.extra.get("progress", ())]
    # the warm-up pass is traced too, but only the measured passes count
    measured = [s for s in tracer.spans if s.start >= m["window"][0]]
    per_layer = layers.compute(measured, fold, m["window"], progress)
    record = {
        "spans": [s.__dict__ for s in tracer.spans],
        "spark_by_span": layers.spark_by_span(tracer.spans, fold),
    }
    with open(WORK / f"trace-{wl.name}-{wl.seed}.json", "w", encoding="utf-8") as f:
        json.dump(record, f, default=str)
    return samples, infos, m, per_layer


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import d365fo_db_sync_spark  # noqa: F401 — the engine under test
    except ImportError as e:
        print(f"perfbench: the engine package is not importable here: {e}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    cpus = cpu_count()
    work = WORK / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        sessions = Sessions(work, cpus)
        wl = WORKLOADS[args.workload](args.seed, cpus)
        spark, samples, infos = run_setups(wl, sessions, work / "plain", SETUP_REPS)
        m = measure(wl, spark, args.seconds)
        wl.teardown()
        spark.stop()
        summ = summary(samples[1:], m)
        attempted, failed, causes = tally(infos, m)
        describe(wl, infos, m, summ, attempted, failed, causes)
        if not args.trace:
            metrics = {k: {"value": summ[k], "unit": u} for k, u in END_TO_END.items()}
        else:
            t_samples, t_infos, tm, per_layer = traced_phase(wl, sessions, work, args.seconds)
            # the traced phase's one set-up runs in the warm JVM
            t_summ = summary(t_samples, tm)
            t_att, t_failed, t_causes = tally(t_infos, tm)
            describe(wl, t_infos, tm, t_summ, t_att, t_failed, t_causes, label=" (traced)")
            for k in SUMMARY:
                per_layer[f"trace.overhead.{k}"] = t_summ[k] / summ[k] - 1.0
            from perfbench.layers import PER_LAYER

            metrics = {k: {"value": per_layer[k], "unit": u} for k, u in PER_LAYER.items()}
            attempted += t_att
            failed += t_failed
        print(json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
        ))
        return 0
    finally:
        shutdown_engine()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
