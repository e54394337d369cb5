"""Per-layer metrics of a traced pass, named after the package modules.

Totals over a pass are divided by the number of jobs the pass ran (a
drain or a ``run_job``), so passes of different lengths
compare. Metrics a workload does not exercise read 0.
"""

from __future__ import annotations

import os

from harness import median
from spans import RestSnapshot, Tracer, progress_of

ROW_QUERY = "spec_stream_clips"
WIN_QUERY = "spec_stream_win_CodecWindow"


def _span_total(tr: Tracer, *names: str) -> float:
    return sum(sum(tr.durations_ms(n)) for n in names)


def setup_metrics(getspark_s: float, setup: RestSnapshot) -> dict:
    """Session start and Python worker start-up (every Python node of
    the set-up: fixture generation and warm-up)."""
    return {
        "session.getspark_s": getspark_s,
        "session.py_worker_boot_ms": (
            setup.node_metric("", "time to start Python workers")
            + setup.node_metric("", "time to initialize Python workers")),
    }


def common_metrics(tr: Tracer, snap: RestSnapshot, n_ops: int, cores: int,
                   wall_s: float) -> dict:
    per = 1.0 / max(1, n_ops)
    parses = max(1, len(tr.durations_ms("spec.parse")))
    decode_ms = snap.node_metric("ArrowEvalPython",
                                 "time to run Python workers")
    return {
        "spec.parse_ms": _span_total(tr, "spec.parse", "spec.refactor",
                                     "spec.validate") / parses,
        "plans.apply_target_ms": _span_total(tr, "plans.apply_target") * per,
        "plans.apply_target_calls":
            len(tr.durations_ms("plans.apply_target")) * per,
        "plans.shuffle_write_bytes": snap.stage_sum("shuffleWriteBytes") * per,
        "plans.agg_time_ms": snap.node_metric(
            "HashAggregate", "time in aggregation build") * per,
        "sources.files_read": snap.node_metric(
            "Scan parquet", "number of files read") * per,
        "sources.bytes_read": snap.node_metric(
            "Scan parquet", "size of files read") * per,
        "sources.scan_ms": snap.node_metric("Scan parquet", "scan time") * per,
        "functions.decode_busy_ms": decode_ms * per,
        "functions.decode_rows": snap.node_metric(
            "ArrowEvalPython", "number of output rows") * per,
        "functions.bytes_to_python": snap.node_metric(
            "ArrowEvalPython", "data sent to Python workers") * per,
        "functions.bytes_from_python": snap.node_metric(
            "ArrowEvalPython", "data returned from Python workers") * per,
        "functions.decode_share": decode_ms / (cores * wall_s * 1000.0),
        "spark.tasks": snap.stage_sum("numCompleteTasks") * per,
        "spark.executor_run_ms": snap.stage_sum("executorRunTime") * per,
        "spark.executor_cpu_ms": snap.stage_sum("executorCpuTime") / 1e6 * per,
        "spark.gc_ms": snap.stage_sum("jvmGcTime") * per,
        "spark.spill_bytes": (snap.stage_sum("memoryBytesSpilled")
                              + snap.stage_sum("diskBytesSpilled")) * per,
        "spark.task_ms_max_over_median": snap.task_skew(),
    }


def stream_metrics(tr: Tracer, snap: RestSnapshot, jobs: list,
                   read_ms: list[float]) -> dict:
    """Trigger, sink and window metrics of the pass's streaming jobs."""
    per = 1.0 / max(1, len(jobs))
    rows, wins, row_ids, win_ids, files, nbytes, commits = \
        [], [], set(), set(), 0, 0, 0
    for job, q in jobs:
        for sq in q.queries:
            if sq.name == ROW_QUERY:
                rows += progress_of(sq)
                row_ids.add(str(sq.runId))
            elif sq.name == WIN_QUERY:
                wins += progress_of(sq)
                win_ids.add(str(sq.runId))
        for t in job.tables.values():
            commits += len(t.committed_batches())
        for d, _, fs in os.walk(job.output_dir):
            for f in fs:
                if f.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(d, f))

    def dur(prog, key):
        return [float(p["durationMs"].get(key, 0)) for p in prog]

    writes = tr.of("sink.write_batch")
    overhead = 0.0
    for s in writes:
        groups = win_ids if s["trigger"].startswith("win_") else row_ids
        launched = sum(snap.job_ms_within(g, s["start"], s["end"])
                       for g in groups)
        overhead += (s["end"] - s["start"]) * 1000.0 - launched
    row_jobs = sum(len(snap.jobs_in_group(g)) for g in row_ids)
    ops = [op for p in wins for op in p.get("stateOperators", [])]
    write_ms = tr.durations_ms("sink.write_batch")
    return {
        "stream.triggers": len(rows) * per,
        "stream.trigger_ms_p50": median(dur(rows, "triggerExecution")),
        "stream.add_batch_ms_p50": median(dur(rows, "addBatch")),
        "stream.query_planning_ms_p50": median(dur(rows, "queryPlanning")),
        "stream.wal_commit_ms_p50": median(dur(rows, "walCommit")),
        "stream.commit_offsets_ms_p50": median(dur(rows, "commitOffsets")),
        "stream.trigger_overhead_ms": (sum(dur(rows, "triggerExecution"))
                                       - sum(dur(rows, "addBatch"))) * per,
        "stream.prepare_batch_ms":
            _span_total(tr, "stream.prepare_batch") * per,
        "stream.spark_jobs_per_trigger": row_jobs / max(1, len(rows)),
        "sources.latest_offset_ms_p50": median(dur(rows, "latestOffset")),
        "sink.write_batch_calls": len(writes) * per,
        "sink.write_batch_ms_p50": median(write_ms),
        "sink.write_batch_ms_total": sum(write_ms) * per,
        "sink.commit_overhead_ms": overhead * per,
        "sink.files_written": files * per,
        "sink.bytes_written": nbytes * per,
        "sink.committed_batches": commits * per,
        "sink.read_merged_ms": median(read_ms),
        "windows.trigger_ms_p50": median(dur(wins, "triggerExecution")),
        "windows.state_rows": max((o.get("numRowsTotal", 0) for o in ops),
                                  default=0),
        "windows.state_memory_bytes": max(
            (o.get("memoryUsedBytes", 0) for o in ops), default=0),
        "windows.state_commit_ms": sum(o.get("commitTimeMs", 0)
                                       for o in ops) * per,
        "windows.rows_dropped_by_watermark": sum(
            o.get("numRowsDroppedByWatermark", 0) for o in ops) * per,
    }


def batch_metrics(tr: Tracer, snap: RestSnapshot, n_jobs: int) -> dict:
    per = 1.0 / max(1, n_jobs)
    return {
        "graph.run_job_plan_ms": _span_total(tr, "graph.run_job") * per,
        "graph.execute_ms": _span_total(tr, "graph.execute") * per,
        "graph.spark_jobs": len(snap.jobs) * per,
    }
