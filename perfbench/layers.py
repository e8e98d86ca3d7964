"""The traced run's per-layer metrics: engine methods wrapped in spans,
then span timings, sink file accounting, streaming progress and the
event log's task metrics folded into one flat metric set.

Every name in :data:`PER_LAYER` is reported on every workload; a layer a
workload never calls reads 0 there (no spans, no jobs).
"""

from __future__ import annotations

import os
import statistics

from perfbench.trace import Fold, Span, Tracer, children_of, descendants, self_time

#: name -> unit, in BENCHMARK.json order
PER_LAYER: dict[str, str] = {
    "orchestrator.process_s": "s",
    "orchestrator.parallel_efficiency": "ratio",
    "orchestrator.straggler_s": "s",
    "sync.noop_s": "s",
    "sync.incremental_s": "s",
    "sync.refresh_s": "s",
    "sync.standard_s": "s",
    "sync.decide_self_s": "s",
    "sync.jobs_per_call": "count",
    "sync.executor_cpu_s": "s",
    "sync.merge_upsert_s": "s",
    "sync.merge_upsert_self_s": "s",
    "scans.noop_read_ratio": "ratio",
    "sinks.overwrite_s": "s",
    "sinks.merge_s": "s",
    "sinks.read_s": "s",
    "sinks.num_rows_s": "s",
    "sinks.executor_cpu_s": "s",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "sinks.files_carried": "count",
    "sinks.rewrite_ratio": "ratio",
    "state.commit_s": "s",
    "state.commits": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.overhead_s": "s",
    "streaming.input_rows": "count",
    "spark.jobs": "count",
    "spark.untagged_jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_skew": "ratio",
    "trace.overhead.setup_s": "ratio",
    "trace.overhead.pass_s": "ratio",
    "trace.overhead.cpu_s": "ratio",
    "trace.overhead.peak_rss_mb": "ratio",
    "trace.overhead.write_bytes_per_changed_row": "ratio",
}

SINK_WRITES = ("sinks.overwrite", "sinks.merge")
#: the sync engine's reported modes -> per-mode metric
MODE_METRIC = {
    "NO_CHANGE": "sync.noop_s",
    "INCREMENTAL": "sync.incremental_s",
    "TRUNCATE": "sync.refresh_s",
    "STANDARD": "sync.standard_s",
}


def _live_files(target) -> dict[int, int]:
    """inode -> size of the parquet files of a target's live version."""
    path = target.current_path()
    out: dict[int, int] = {}
    if path is None:
        return out
    for d, _dirs, files in os.walk(path):
        for fn in files:
            if fn.endswith(".parquet"):
                st = os.stat(os.path.join(d, fn))
                out[st.st_ino] = st.st_size
    return out


def install(tracer: Tracer, source_bytes: dict[str, int]) -> None:
    """Wrap the engine's eager public entry points. ``source_bytes`` is
    the workload's live map of table -> source snapshot bytes."""
    from d365fo_db_sync_spark.orchestrator import Orchestrator
    from d365fo_db_sync_spark.sinks import BucketedParquetTarget, ParquetTarget
    from d365fo_db_sync_spark.state import StateStore
    from d365fo_db_sync_spark.sync import SyncEngine

    def process_after(_ctx, args, _kw, _result, attrs):
        attrs["workers"] = args[0].workers

    def sync_after(_ctx, args, _kw, result, attrs):
        attrs["table"] = args[1]
        attrs["mode"] = result.mode
        attrs["source_bytes"] = source_bytes.get(args[1])

    def files_before(args, _kw):
        return _live_files(args[0])

    def files_after(before, args, _kw, _result, attrs):
        after = _live_files(args[0])
        written = [i for i in after if i not in before]
        attrs["bytes_written"] = sum(after[i] for i in written)
        attrs["files_written"] = len(written)
        attrs["files_carried"] = len(after) - len(written)
        attrs["files_live"] = len(after)

    tracer.wrap(Orchestrator, "process", "orchestrator.process", after=process_after)
    tracer.wrap(SyncEngine, "sync_table", "sync.sync_table", after=sync_after)
    tracer.wrap(SyncEngine, "merge_upsert", "sync.merge_upsert", after=sync_after)
    tracer.wrap(ParquetTarget, "overwrite", "sinks.overwrite", files_before, files_after)
    tracer.wrap(BucketedParquetTarget, "merge", "sinks.merge", files_before, files_after)
    tracer.wrap(ParquetTarget, "read", "sinks.read")
    tracer.wrap(ParquetTarget, "num_rows", "sinks.num_rows")
    tracer.wrap(StateStore, "commit", "state.commit")
    tracer.wrap(StateStore, "merge_commit", "state.commit")


def _med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def compute(
    spans: list[Span],
    fold: Fold,
    window: tuple[float, float],
    progress: list[dict],
) -> dict[str, float]:
    """Per-layer metrics of one traced measured phase."""
    out = dict.fromkeys(PER_LAYER, 0.0)
    kids = children_of(spans)
    by_name: dict[str, list[Span]] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    span_jobs = fold.span_jobs()

    def jobs_under(s: Span) -> list[int]:
        return [j for sid in descendants(s.sid, kids) for j in span_jobs.get(sid, ())]

    def own_cpu(names) -> float:
        jobs = [j for n in names for s in by_name.get(n, ()) for j in span_jobs.get(s.sid, ())]
        return fold.totals(jobs)["executor_cpu_s"]

    # orchestrator
    cycles = by_name.get("orchestrator.process", [])
    out["orchestrator.process_s"] = _med(s.duration for s in cycles)
    eff, strag = [], []
    for c in cycles:
        tables = [k for k in kids.get(c.sid, ()) if k.name == "sync.sync_table"]
        if not tables:
            continue
        busy = sum(t.duration for t in tables)
        eff.append(busy / (c.duration * c.attrs.get("workers", 1)))
        ends = [t.end for t in tables]
        strag.append(max(ends) - min(ends))
    out["orchestrator.parallel_efficiency"] = _med(eff)
    out["orchestrator.straggler_s"] = _med(strag)

    # sync
    syncs = by_name.get("sync.sync_table", [])
    for mode, metric in MODE_METRIC.items():
        out[metric] = _med(s.duration for s in syncs if s.attrs.get("mode") == mode)
    out["sync.decide_self_s"] = _med(
        self_time(s, kids.get(s.sid, []))
        for s in syncs
        if s.attrs.get("mode") in ("NO_CHANGE", "INCREMENTAL")
    )
    upserts = by_name.get("sync.merge_upsert", [])
    out["sync.jobs_per_call"] = _med(len(jobs_under(s)) for s in syncs + upserts)
    out["sync.executor_cpu_s"] = own_cpu(("sync.sync_table", "sync.merge_upsert"))
    out["sync.merge_upsert_s"] = _med(s.duration for s in upserts)
    out["sync.merge_upsert_self_s"] = _med(self_time(s, kids.get(s.sid, [])) for s in upserts)

    # scans: bytes the no-change probe reads per source byte
    ratios = []
    for s in syncs:
        if s.attrs.get("mode") == "NO_CHANGE" and s.attrs.get("source_bytes"):
            read = fold.totals(jobs_under(s))["input_bytes"]
            ratios.append(read / s.attrs["source_bytes"])
    out["scans.noop_read_ratio"] = _med(ratios)

    # sinks
    out["sinks.overwrite_s"] = _med(s.duration for s in by_name.get("sinks.overwrite", ()))
    out["sinks.merge_s"] = _med(s.duration for s in by_name.get("sinks.merge", ()))
    out["sinks.read_s"] = _med(s.duration for s in by_name.get("sinks.read", ()))
    out["sinks.num_rows_s"] = _med(s.duration for s in by_name.get("sinks.num_rows", ()))
    out["sinks.executor_cpu_s"] = own_cpu(SINK_WRITES + ("sinks.read", "sinks.num_rows"))
    sid_name = {s.sid: s.name for s in spans}
    # a write nested in another write (merge falling back to overwrite)
    # is already accounted by its parent
    writes = [
        s
        for n in SINK_WRITES
        for s in by_name.get(n, ())
        if sid_name.get(s.parent) not in SINK_WRITES
    ]
    out["sinks.bytes_written"] = float(sum(s.attrs.get("bytes_written", 0) for s in writes))
    out["sinks.files_written"] = float(sum(s.attrs.get("files_written", 0) for s in writes))
    out["sinks.files_carried"] = float(sum(s.attrs.get("files_carried", 0) for s in writes))
    out["sinks.rewrite_ratio"] = _med(
        s.attrs["files_written"] / s.attrs["files_live"]
        for s in writes
        if s.attrs.get("files_live")
    )

    # state
    commits = by_name.get("state.commit", [])
    out["state.commit_s"] = _med(s.duration for s in commits)
    out["state.commits"] = float(len(commits))

    # streaming
    out["streaming.trigger_s"] = _med(p["trigger_s"] for p in progress)
    out["streaming.add_batch_s"] = _med(p["add_batch_s"] for p in progress)
    out["streaming.overhead_s"] = _med(p["trigger_s"] - p["add_batch_s"] for p in progress)
    out["streaming.input_rows"] = float(sum(p["input_rows"] for p in progress))

    # spark, over every job submitted in the measured phase
    jobs = fold.jobs_in(*window)
    totals = fold.totals(jobs)
    for k, v in totals.items():
        out[f"spark.{k}"] = float(v)
    out["spark.untagged_jobs"] = float(sum(1 for j in jobs if fold.jobs[j][0] is None))
    return out


def spark_by_span(spans: list[Span], fold: Fold) -> dict[str, dict[str, float]]:
    """Task metrics of the jobs tagged directly to each span name (a
    span's children keep their own jobs)."""
    span_jobs = fold.span_jobs()
    jobs: dict[str, list[int]] = {}
    for s in spans:
        jobs.setdefault(s.name, []).extend(span_jobs.get(s.sid, ()))
    return {name: fold.totals(js) for name, js in jobs.items()}
