"""Tracing for the benchmark's traced run (``--trace 1``).

All of it is attached from outside the program:

- spans are timed around calls into the program's public functions,
  which are wrapped at runtime in the modules that call them; each span
  sets its own Spark job group, so the event log attributes jobs to it;
- py4j round trips are counted by wrapping ``GatewayClient.send_command``;
- Spark's own event log (uncompressed) gives jobs, stages, tasks and
  task metrics; ``StreamingQueryProgress`` gives per-trigger numbers.

Spans are kept in memory and folded into per-operation numbers when the
run ends. With tracing off nothing is wrapped and ``span`` only yields.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    op: int
    start: float  # epoch seconds
    end: float = 0.0
    py4j_calls: int = 0
    extra: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op = -1
        self.py4j_calls = 0
        self._groups: list[str] = []
        self._sc = None

    # ---- wiring ---------------------------------------------------------

    def event_log_conf(self, log_dir: str) -> dict[str, str]:
        os.makedirs(log_dir, exist_ok=True)
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }

    def attach(self, spark) -> None:
        """Count py4j round trips and wrap the program's layer entry points."""
        self._sc = spark.sparkContext
        from py4j.java_gateway import GatewayClient

        send = GatewayClient.send_command
        tracer = self

        @functools.wraps(send)
        def counted(self_, *a, **kw):
            tracer.py4j_calls += 1
            return send(self_, *a, **kw)

        GatewayClient.send_command = counted

        from music_streaming_etl_spark.plans import pipeline
        from music_streaming_etl_spark.streaming import kpis as stream_kpis

        for fn in ("check_nonempty", "check_no_nulls", "check_range", "validate"):
            self._wrap(pipeline, fn, "operators.validation", group="validation")
        self._wrap(pipeline, "compute_kpis", "plans.construct")
        self._wrap(pipeline, "sink_csv", "sources.sink")
        self._wrap(stream_kpis, "windowed_kpis", "plans.construct")
        self._wrap(stream_kpis, "upsert_parquet", "sources.upsert", group="upsert", on_return=_changed_file_rows)

    def _wrap(self, module, fn_name: str, span_name: str, group: str | None = None, on_return=None):
        fn = getattr(module, fn_name)
        tracer = self

        @functools.wraps(fn)
        def wrapped(*a, **kw):
            with tracer.span(span_name, group=group) as sp:
                out = fn(*a, **kw)
                if on_return is not None:
                    sp.extra.update(on_return(sp, a, kw))
                return out

        setattr(module, fn_name, wrapped)

    # ---- spans ----------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        if not self.enabled:
            yield Span(name, self.op, 0.0)
            return
        pushed = group is not None and self._sc is not None
        if pushed:
            self._set_group(f"{self._groups[-1] if self._groups else 'op'}/{group}")
        sp = Span(name, self.op, time.time())
        calls0 = self.py4j_calls
        try:
            yield sp
        finally:
            sp.end = time.time()
            sp.py4j_calls = self.py4j_calls - calls0
            self.spans.append(sp)
            if pushed:
                self._groups.pop()
                self._restore_group()

    def start_op(self, op: int) -> None:
        self.op = op
        if self.enabled and self._sc is not None:
            self._groups.clear()
            self._set_group(f"op{op}")

    def _set_group(self, group: str) -> None:
        self._groups.append(group)
        self._sc.setJobGroup(group, group)

    def _restore_group(self) -> None:
        group = self._groups[-1] if self._groups else None
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(group, group)

    def total(self, name: str, op: int) -> float:
        return sum(s.end - s.start for s in self.spans if s.op == op and s.name == name)

    def calls(self, name: str, op: int) -> int:
        return sum(s.py4j_calls for s in self.spans if s.op == op and s.name == name)

    def extra_sum(self, name: str, key: str, op: int) -> float:
        return sum(s.extra.get(key, 0) for s in self.spans if s.op == op and s.name == name)


def _changed_file_rows(sp: Span, args, kwargs) -> dict:
    """Rows in the upsert target's parquet files, at any depth, that were
    written since the span started, from their footers (no Spark job).
    A check on the event log's rows written, not a metric."""
    import pyarrow.parquet as pq

    path = kwargs.get("path", args[2] if len(args) > 2 else None)
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files if os.path.getmtime(f) >= sp.start)
    return {"changed_file_rows": rows}


# ---- Spark event log ------------------------------------------------------


@dataclass
class EventLog:
    jobs: list[dict]  # {id, group, submit, end, stages}
    stages: dict  # stage id -> {submit, end, tasks: [task dicts]}
    csv_scan_rows: dict  # job id -> CSV scan output rows in that job's stages


def read_event_log(log_dir: str) -> EventLog:
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    scan_accums: set[int] = set()
    stage_scan_rows: dict[int, int] = {}
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "id": ev["Job ID"],
                    "group": props.get("spark.jobGroup.id") or "",
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": list(ev["Stage IDs"]),
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], {"tasks": []})
                st["submit"] = info.get("Submission Time", 0) / 1000.0
                st["end"] = info.get("Completion Time", 0) / 1000.0
                st["completed"] = True
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                ti = ev["Task Info"]
                sw = m.get("Shuffle Write Metrics") or {}
                out = m.get("Output Metrics") or {}
                stages.setdefault(ev["Stage ID"], {"tasks": []})["tasks"].append(
                    {
                        "duration": (ti["Finish Time"] - ti["Launch Time"]) / 1000.0,
                        "run": m.get("Executor Run Time", 0) / 1000.0,
                        "cpu": m.get("Executor CPU Time", 0) / 1e9,
                        "gc": m.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "records_written": out.get("Records Written", 0),
                        "accums": {a["ID"]: a.get("Update", 0) for a in ti.get("Accumulables", [])},
                    }
                )
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                scan_accums.update(_csv_scan_row_accums(ev["sparkPlanInfo"]))
    for sid, st in stages.items():
        stage_scan_rows[sid] = sum(
            int(v) for t in st["tasks"] for k, v in t["accums"].items() if k in scan_accums
        )
    csv_rows = {j["id"]: sum(stage_scan_rows.get(s, 0) for s in j["stages"]) for j in jobs.values()}
    return EventLog(sorted(jobs.values(), key=lambda j: j["id"]), stages, csv_rows)


def _csv_scan_row_accums(plan: dict) -> set[int]:
    out = set()
    if plan["nodeName"].startswith("Scan csv"):
        out.update(m["accumulatorId"] for m in plan["metrics"] if m["name"] == "number of output rows")
    for child in plan.get("children", []):
        out |= _csv_scan_row_accums(child)
    return out


def spark_op_metrics(log: EventLog, start: float, end: float, slots: int) -> dict:
    """Fold the jobs submitted inside ``[start, end]`` into one operation's
    engine numbers."""
    jobs = [j for j in log.jobs if start <= j["submit"] <= end]
    stage_ids = sorted({s for j in jobs for s in j["stages"] if log.stages.get(s, {}).get("completed")})
    tasks = [t for s in stage_ids for t in log.stages[s]["tasks"]]
    wall = end - start
    busy = _union_length([(max(j["submit"], start), min(j["end"] or end, end)) for j in jobs])
    run_s = sum(t["run"] for t in tasks)
    skew = 0.0
    if stage_ids:
        longest = max(stage_ids, key=lambda s: log.stages[s]["end"] - log.stages[s]["submit"])
        durs = [t["duration"] for t in log.stages[longest]["tasks"]]
        med = statistics.median(durs) if durs else 0.0
        skew = max(durs) / med if med > 0 else 1.0
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stage_ids),
        "spark.tasks": len(tasks),
        "spark.tasks_per_stage": len(tasks) / len(stage_ids) if stage_ids else 0.0,
        "spark.no_job_s": wall - busy,
        "spark.slot_busy_share": run_s / (wall * slots) if wall > 0 else 0.0,
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(t["cpu"] for t in tasks),
        "spark.gc_s": sum(t["gc"] for t in tasks),
        "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "spark.spill_bytes": sum(t["spill"] for t in tasks),
        "spark.task_skew": skew,
        "sources.scan_rows_read": sum(log.csv_scan_rows[j["id"]] for j in jobs),
    }


def jobs_in_group(log: EventLog, prefix: str) -> int:
    return sum(1 for j in log.jobs if j["group"].startswith(prefix))


def records_written_in_group(log: EventLog, prefix: str) -> int:
    """Rows the tasks of the group's jobs wrote to files (``Output
    Metrics``), so an upsert that rewrites only what changed reads less."""
    stage_ids = {s for j in log.jobs if j["group"].startswith(prefix) for s in j["stages"]}
    return sum(t["records_written"] for s in stage_ids for t in log.stages.get(s, {}).get("tasks", []))


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def streaming_op_metrics(progress: list[dict]) -> dict:
    """Fold the ``StreamingQueryProgress`` of one operation's triggers."""

    def dur(p, *keys):
        return sum(p.get("durationMs", {}).get(k, 0) for k in keys) / 1000.0

    # the state the watermark holds when the operation returns; a data
    # trigger's own figures count each re-execution of the batch plan
    last = progress[-1].get("stateOperators", []) if progress else []
    return {
        "streaming.batches": len(progress),
        "streaming.input_rows": sum(p.get("numInputRows", 0) for p in progress),
        "streaming.planning_s": sum(dur(p, "queryPlanning") for p in progress),
        "streaming.list_s": sum(dur(p, "latestOffset", "getBatch") for p in progress),
        "streaming.add_batch_s": sum(dur(p, "addBatch") for p in progress),
        "streaming.commit_s": sum(dur(p, "walCommit", "commitOffsets") for p in progress),
        "streaming.state_rows": sum(s.get("numRowsTotal", 0) for s in last),
        "streaming.state_bytes": sum(s.get("memoryUsedBytes", 0) for s in last),
    }
