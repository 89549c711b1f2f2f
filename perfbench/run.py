"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload kpi_batch --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout: the program is imported from there
and every file the run makes lands under ``.perfbench/`` there. One run
is one process on ``local[SLOTS]``:

1. start the SparkSession (``setup_s`` is the process's age when
   ``get_spark`` returns);
2. make the workload's inputs from ``--seed``;
3. run one cold operation (``cold_op_s``), then WARMUP operations, then
   ``ceil(--seconds / nominal_op_s)`` measured operations (``op_s`` and
   ``op_cpu_s`` are the medians of these). The counts do not depend on
   how fast the program is, so every commit measures the same operation
   indices on the JIT's warm-up curve; ``nominal_op_s`` is the
   workload's operation time on the machine the benchmark was tuned on,
   so the measured phase lasts about ``--seconds`` there. A program so
   slow that the measured phase passes CAP_FACTOR × ``--seconds`` stops
   early, so that the run still ends in time;
4. check the outputs against an independent DuckDB computation.

``--trace 1`` turns on Spark's event log and wraps the program's layer
entry points (see ``tracing.py``); it prints the per-layer metrics,
medians over the measured operations, and writes every span and
per-operation number to ``.perfbench/<workload>/trace.json``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

SLOTS = 2
WARMUP = 4
CAP_FACTOR = 3
DRIVER_MEM = "2g"


def process_age() -> float:
    """Seconds since this process started, from the kernel's clock."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_seconds(pid: int) -> float:
    """CPU time of the JVM ``pid`` plus this Python driver."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    t = os.times()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK") + t.user + t.system


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit (it exits when its
    stdin closes)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(root, "music_streaming_etl_spark")) or not os.path.isfile(spec_path):
        print(f"run from the root of a checkout: no program package or BENCHMARK.json in {root}", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    sys.path.insert(0, root)
    sys.path.insert(1, os.path.dirname(os.path.abspath(__file__)))
    from tracing import Tracer, jobs_in_group, read_event_log, records_written_in_group, spark_op_metrics
    from workloads import WORKLOADS

    work = os.path.join(root, ".perfbench", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(SLOTS), SPARK_DRIVER_MEM=DRIVER_MEM, SPARK_LOCAL_DIRS=tmp, TMPDIR=tmp
    )
    tracer = Tracer(bool(args.trace))
    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}
    if tracer.enabled:
        conf.update(tracer.event_log_conf(os.path.join(work, "eventlog")))

    from music_streaming_etl_spark import session

    if not session.__file__.startswith(root + os.sep):
        print(f"program imported from {session.__file__}, outside {root}", file=sys.stderr)
        return 2
    t0 = time.perf_counter()
    spark = session.get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    session_start_s = time.perf_counter() - t0
    setup_s = process_age()
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    if tracer.enabled:
        tracer.attach(spark)

    wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)
    ops: list[dict] = []
    failed = 0
    try:
        wl.prepare()

        def run_op(phase: str) -> None:
            nonlocal failed
            i = len(ops)
            wl.before_op(i)
            tracer.start_op(i)
            c0, w0, p0 = cpu_seconds(jvm_pid), time.time(), time.perf_counter()
            try:
                wl.op(i)
                ok = True
            except Exception:  # noqa: BLE001 - a failed operation is counted, the run goes on
                traceback.print_exc()
                failed += 1
                ok = False
            dt = time.perf_counter() - p0
            ops.append({"i": i, "phase": phase, "start": w0, "end": w0 + dt, "wall_s": dt,
                        "cpu_s": cpu_seconds(jvm_pid) - c0, "ok": ok})

        run_op("cold")
        for _ in range(WARMUP):
            run_op("warmup")
        t_measure = time.perf_counter()
        for _ in range(math.ceil(args.seconds / wl.nominal_op_s)):
            if time.perf_counter() - t_measure > CAP_FACTOR * args.seconds:
                break
            run_op("measured")
        try:
            problems = wl.check()
        except Exception as exc:  # noqa: BLE001 - an unreadable output is a wrong output
            problems = [f"output check raised {type(exc).__name__}: {exc}"]
    finally:
        stop_spark(spark)
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)

    measured = [o for o in ops if o["phase"] == "measured" and o["ok"]]
    with open(os.path.join(work, "ops.json"), "w") as fh:
        json.dump(ops, fh)
    if not measured:
        # no figure to report, but the counts still are
        print("no measured operation succeeded", file=sys.stderr)
        print(json.dumps({"correct": not problems, "attempted": len(ops), "failed": failed, "metrics": {}}))
        return 1
    if tracer.enabled:
        log = read_event_log(os.path.join(work, "eventlog"))
        per_op = []
        for o in ops:
            i = o["i"]
            m = dict.fromkeys((x["name"] for x in spec["per_layer"]), 0.0)
            m["session.start_s"] = session_start_s
            m["plans.construct_s"] = tracer.total("plans.construct", i)
            m["plans.py4j_calls"] = tracer.calls("plans.construct", i)
            m["operators.validation_s"] = tracer.total("operators.validation", i)
            m["operators.validation_jobs"] = jobs_in_group(log, f"op{i}/validation")
            m["sources.sink_s"] = tracer.total("sources.sink", i)
            m["sources.upsert_s"] = tracer.total("sources.upsert", i)
            m["sources.upsert_rows_written"] = records_written_in_group(log, f"op{i}/upsert")
            m.update(spark_op_metrics(log, o["start"], o["end"], SLOTS))
            wl.add_layer_metrics(i, m)
            per_op.append({**o, "metrics": m,
                           "upsert_changed_file_rows": tracer.extra_sum("sources.upsert", "changed_file_rows", i)})
        with open(os.path.join(work, "trace.json"), "w") as fh:
            json.dump({"workload": args.workload, "slots": SLOTS, "ops": per_op,
                       "stream_rows_written": {i: h.rows for i, h in getattr(wl, "hours", {}).items()},
                       "stream_progress": getattr(wl, "progress", {}),
                       "spans": [vars(s) for s in tracer.spans]}, fh)
        values = {
            name: statistics.median(p["metrics"][name] for p in per_op if p["phase"] == "measured" and p["ok"])
            for name in per_op[0]["metrics"]
        }
        metrics = {x["name"]: {"value": values[x["name"]], "unit": x["unit"]} for x in spec["per_layer"]}
    else:
        values = {
            "setup_s": setup_s,
            "cold_op_s": ops[0]["wall_s"],
            "op_s": statistics.median(o["wall_s"] for o in measured),
            "op_cpu_s": statistics.median(o["cpu_s"] for o in measured),
        }
        metrics = {x["name"]: {"value": values[x["name"]], "unit": x["unit"]} for x in spec["end_to_end"]}

    print(json.dumps({"correct": not problems, "attempted": len(ops), "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
