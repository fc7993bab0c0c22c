#!/usr/bin/env python3
"""The repository benchmark: one command, two closed-loop workloads.

    python3 perfbench/run.py --workload {batch,cdc_sync} \\
        --seed N --seconds S --trace {0,1}

Run it from the root of a checkout. It builds the workload's inputs from
the seed, starts a local Spark session with one executor thread per
core (``kube_etl_spark.session.get_spark``), runs untimed, output-checked
warm-up ops, then runs timed rounds of ops until ``--seconds`` have
passed and at least ``MIN_ROUNDS`` rounds have run, checking every op's
output after its timed region.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics; with ``--trace 1`` they are the
per-layer metrics of a traced run, and the spans are written to
``.perfbench/spans-<workload>-<seed>.jsonl``. The line before it is a
``perfbench-detail`` JSON object with everything else the run measured
(metrics that apply to one workload only, the tail percentile, sample
counts, check failures).

Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# Gated end-to-end metrics (BENCHMARK.json "end_to_end"): every workload
# reports each of them.
END_TO_END = {
    "setup_s": "s",
    "read_s": "s",
    "ops_per_s": "1/s",
    "rows_per_s": "rows/s",
}

# Per-layer metrics (BENCHMARK.json "per_layer"); a layer a workload does
# not exercise reports 0.
PER_LAYER = {
    "session.build_s": "s",
    "spark.cpu_s": "s",
    "spark.busy_ratio": "ratio",
    "spark.gc_s": "s",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.shuffle_bytes_per_op": "B",
    "spark.spill_bytes": "B",
    "spark.failed_tasks": "count",
    "catalog.load_table_s": "s",
    "catalog.scan_bytes_per_op": "B",
    "catalog.scan_rows_per_op": "rows",
    "catalog.scan_tasks_per_op": "count",
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "queries.rows_out": "rows",
    "export.run_s": "s",
    "export.write_s": "s",
    "export.readback_s": "s",
    "export.output_bytes": "B",
    "export.output_files": "count",
    "sync.compile_s": "s",
    "sync.route_s": "s",
    "sync.status_s": "s",
    "sync.match_ratio": "ratio",
    "sync.fanout": "ratio",
    "cdc.merge_s": "s",
    "cdc.publish_s": "s",
    "cdc.bytes_written_per_event": "B",
    "cdc.state_rows": "rows",
    "cdc.tombstone_ratio": "ratio",
    "cdc.read_s": "s",
    "trace.overhead_s": "s",
}


# Every run measures at least this many whole rounds, so a slow host
# period never leaves a run with fewer (and earlier, less warm) samples
# than the others.
MIN_ROUNDS = 2

# Whether an op is traced in a traced run, by how many ops of its kind ran
# before it (offset by its place in the round): traced and untraced ops
# alternate A-B-B-A, so latency drift over the run cancels out of the
# tracing-overhead estimate.
TRACE_PATTERN = (False, True, True, False)


class Record:
    __slots__ = ("op_id", "kind", "cls", "primary", "phase", "traced", "latency", "rows",
                 "problem")

    def __init__(self, op_id, op, phase, traced):
        self.op_id, self.kind, self.cls, self.primary = op_id, op.kind, op.cls, op.primary
        self.phase, self.traced = phase, traced
        self.latency = 0.0
        self.rows = 0
        self.problem: str | None = None


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def typical_latency(records, cls: str) -> float:
    """Geometric mean over op kinds of each kind's median latency.

    The ops of one class differ by kind (six headliners; three state
    tables), so the median over all of them jumps between the kinds
    nearest the middle; each kind's median, averaged over kinds, is the
    steady summary. With one kind it is that kind's median."""
    by_kind: dict[str, list[float]] = {}
    for r in records:
        if r.cls == cls:
            by_kind.setdefault(r.kind, []).append(r.latency)
    if not by_kind:
        return 0.0
    logs = [math.log(_median(v)) for v in by_kind.values()]
    return math.exp(sum(logs) / len(logs))


def tail(latencies: list[float]) -> dict | None:
    """Latency at the highest of p99/p95/p90/p75 that has at least ten
    samples beyond it, or None when a run has too few ops."""
    n = len(latencies)
    for p in (99, 95, 90, 75):
        if n * (100 - p) >= 1000:
            return {"percentile": p,
                    "s": statistics.quantiles(latencies, n=100, method="inclusive")[p - 1]}
    return None


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident memory (VmHWM) of the driver JVM."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("VmHWM:")) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM to
    exit (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=120)


def install_tracing(tracer) -> None:
    """Rebind the program's public callables to traced wrappers."""
    from kube_etl_spark import catalog
    from kube_etl_spark.plans import export_job
    from kube_etl_spark.streaming import cdc, sync

    # import every module that may hold its own binding before rebinding
    from kube_etl_spark.registry import all_specs

    all_specs()
    tracer.install("catalog.load_table", catalog, "load_table")
    tracer.install("export.run_export", export_job, "run_export")
    for fn in ("compile_sync", "sync_to_destinations", "syncer_status"):
        tracer.install(f"sync.{fn}", sync, fn)
    tracer.install("cdc.merge_batch", cdc.StateTable, "merge_batch")
    tracer.install("cdc.read", cdc.StateTable, "read")
    tracer.install("cdc.atomic_overwrite", cdc, "atomic_overwrite")


def execute(op, rec: Record, tracer) -> Record:
    result = err = None
    span = tracer.op(rec.op_id, op.kind) if rec.traced else nullcontext()
    t = time.perf_counter()
    with span:
        try:
            result = op.run()
        except Exception as ex:  # counted as a failed op, never retried
            err = ex
    rec.latency = time.perf_counter() - t
    if err is not None:
        rec.problem = f"raised {type(err).__name__}: {err}"
        traceback.print_exception(err, file=sys.stderr)
    else:
        try:
            rec.rows, rec.problem = op.check(result)
        except Exception as ex:
            rec.problem = f"check raised {type(ex).__name__}: {ex}"
            traceback.print_exception(ex, file=sys.stderr)
    if rec.traced:
        tracer.harvest(rec.op_id)
    if rec.problem:
        print(f"perfbench: op {rec.op_id} ({op.kind}) failed: {rec.problem}", file=sys.stderr)
    return rec


def layer_metrics(records, tracer, extras, session_build_s, cores) -> dict[str, float]:
    """Per-layer metrics from the traced ops' spans and stage metrics."""
    spans_by_op: dict[int, list] = {}
    for s in tracer.spans:
        spans_by_op.setdefault(s.op, []).append(s)
    traced = [r for r in records if r.phase == "timed" and r.traced and r.problem is None]
    prim = [r for r in traced if r.primary]

    per_op: dict[str, list[float]] = {}
    spill = failed_tasks = 0

    def add(k, v):
        per_op.setdefault(k, []).append(v)

    for r in prim:
        spans = spans_by_op.get(r.op_id, [])
        jobs = [j for s in spans for j in s.jobs]

        def total(f, jobs=jobs):
            return sum(j[f] for j in jobs)

        def named(name, self_time=False, spans=spans):
            return sum(s.self_s if self_time else s.duration for s in spans if s.name == name)

        add("spark.cpu_s", total("executorCpuTime") / 1e9)
        add("spark.busy_ratio", total("executorRunTime") / 1e3 / (r.latency * cores))
        add("spark.gc_s", total("jvmGcTime") / 1e3)
        add("spark.jobs_per_op", len(jobs))
        add("spark.tasks_per_op", total("numTasks"))
        add("spark.shuffle_bytes_per_op", total("shuffleWriteBytes"))
        spill += total("memoryBytesSpilled") + total("diskBytesSpilled")
        failed_tasks += total("numFailedTasks")
        add("catalog.load_table_s", named("catalog.load_table"))

        # export: the op's write jobs vs its read-back, told apart by job
        # order inside run_export's group (the read-back follows the last
        # job that wrote output)
        readback = set()
        for s in spans:
            if s.name == "export.run_export":
                ordered = sorted(s.jobs, key=lambda j: j["id"])
                last_write = max((i for i, j in enumerate(ordered) if j["outputBytes"] > 0),
                                 default=-1)
                write, back = ordered[: last_write + 1], ordered[last_write + 1:]
                readback = {j["id"] for j in back}
                add("export.write_s", _job_wall(write))
                add("export.readback_s", _job_wall(back))
                add("export.run_s", s.duration)
        if any(s.name == "catalog.load_table" for s in spans):
            scans = [j for j in jobs if j["id"] not in readback]
            add("catalog.scan_bytes_per_op", sum(j["inputBytes"] for j in scans))
            add("catalog.scan_rows_per_op", sum(j["inputRecords"] for j in scans))
            add("catalog.scan_tasks_per_op",
                sum(j["numTasks"] for j in scans if j["inputRecords"] > 0))
        if any(s.name == "queries.build" for s in spans):
            b = named("queries.build")
            add("queries.build_s", b)
            add("queries.exec_s", r.latency - b)
        if r.kind == "micro_batch":
            add("sync.compile_s", named("sync.compile_sync"))
            add("sync.route_s", named("sync.sync_to_destinations", self_time=True))
            add("sync.status_s", named("sync.status"))
            add("cdc.merge_s", named("cdc.merge_batch", self_time=True))
            add("cdc.publish_s", named("cdc.atomic_overwrite"))
            written = sum(j["outputBytes"] for s in spans if s.name == "cdc.atomic_overwrite"
                          for j in s.jobs)
            add("cdc.bytes_written_per_event", written / max(r.rows, 1))

    out = {k: 0.0 for k in PER_LAYER}
    for k, v in per_op.items():
        out[k] = float(_median(v))
    out["session.build_s"] = session_build_s
    out["spark.spill_bytes"] = float(spill)
    out["spark.failed_tasks"] = float(failed_tasks)
    reads = [r.latency for r in traced if r.kind.startswith("state_read:")]
    out["cdc.read_s"] = float(_median(reads))
    for k, src in (("queries.rows_out", "rows_out_per_round"),
                   ("export.output_bytes", "output_bytes"),
                   ("export.output_files", "output_files"),
                   ("sync.match_ratio", "match_ratio"),
                   ("sync.fanout", "fanout"),
                   ("cdc.state_rows", "state_rows"),
                   ("cdc.tombstone_ratio", "tombstone_ratio")):
        out[k] = float(extras.get(src, 0.0))
    out["trace.overhead_s"] = tracing_overhead(records)
    return out


def _job_wall(jobs) -> float:
    ts = [(j["start"], j["end"]) for j in jobs if j["start"] is not None and j["end"] is not None]
    if not ts:
        return 0.0
    return max(e for _, e in ts) - min(s for s, _ in ts)


def tracing_overhead(records) -> float:
    """Median over op kinds of (median traced − median untraced latency),
    from the traced run's alternating traced and untraced ops."""
    by_kind: dict[str, tuple[list, list]] = {}
    for r in records:
        if r.phase == "timed" and r.primary and r.problem is None:
            by_kind.setdefault(r.kind, ([], []))[0 if r.traced else 1].append(r.latency)
    diffs = [_median(t) - _median(u) for t, u in by_kind.values() if t and u]
    return float(_median(diffs))


def run(args, work: str) -> tuple[dict, dict]:
    from kube_etl_spark.session import get_spark
    from tracing import Tracer
    from workloads import WORKLOADS, Context

    cores = len(os.sched_getaffinity(0))
    t = time.perf_counter()
    spark = get_spark("perfbench", cpus=cores)
    session_build_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    records: list[Record] = []
    try:
        tracer = None
        if args.trace:
            tracer = Tracer(spark)
            install_tracing(tracer)
        wl = WORKLOADS[args.workload](Context(spark, work, args.seed, tracer))
        t = time.perf_counter()
        sizes = wl.setup()
        inputs_s = time.perf_counter() - t
        op_id = 0
        for op in wl.warmup_ops():
            records.append(execute(op, Record(op_id, op, "warmup", False), tracer))
            op_id += 1
        setup_s = time.perf_counter() - T0
        setup_phases = {"session_s": session_build_s, "inputs_s": inputs_s,
                        "warmup_s": setup_s - session_build_s - inputs_s}

        start = time.perf_counter()
        rounds = 0
        seen: dict[str, int] = {}
        while (time.perf_counter() - start < args.seconds or rounds < MIN_ROUNDS
               or (args.trace and rounds < wl.trace_rounds)):
            for j, op in enumerate(wl.round(rounds)):
                n = seen[op.kind] = seen.get(op.kind, -1) + 1
                traced = bool(args.trace) and TRACE_PATTERN[(n + 2 * j) % 4]
                if tracer is not None:
                    tracer.active = traced
                records.append(execute(op, Record(op_id, op, "timed", traced), tracer))
                op_id += 1
            rounds += 1
        if tracer is not None:
            tracer.active = False
        measured_wall = time.perf_counter() - start
        for op in wl.final_ops():
            records.append(execute(op, Record(op_id, op, "final", False), tracer))
            op_id += 1
        extras = wl.finish()
        peak_rss_mb = jvm_peak_rss_mb(spark)
    finally:
        stop_spark(spark)

    timed_ok = [r for r in records if r.phase == "timed" and r.problem is None]
    by_cls = {c: sorted(r.latency for r in timed_ok if r.cls == c) for c in ("read", "write")}
    write_rows = sum(r.rows for r in timed_ok if r.cls == "write")
    busy = sum(r.latency for r in timed_ok)
    failed = sum(1 for r in records if r.problem)
    e2e = {
        "setup_s": setup_s,
        "read_s": typical_latency(timed_ok, "read"),
        "ops_per_s": len(timed_ok) / busy if busy else 0.0,
        "rows_per_s": write_rows / sum(by_cls["write"]) if by_cls["write"] else 0.0,
    }
    detail = {
        "perfbench-detail": args.workload,
        "seed": args.seed,
        "cores": cores,
        "trace": bool(args.trace),
        "inputs": sizes,
        "setup_phases_s": setup_phases,
        "rounds": rounds,
        "measured_wall_s": measured_wall,
        "samples": {c: len(v) for c, v in by_cls.items()},
        "warmup_latencies_s": [r.latency for r in records if r.phase == "warmup"],
        "timed_latencies_s": [(r.kind, r.latency) for r in records if r.phase == "timed"],
        "op_p50_s": _median([r.latency for r in timed_ok if r.primary]),
        "read_p50_s": _median(by_cls["read"]),
        "write_p50_s": _median(by_cls["write"]),
        "tail": {c: tail(v) for c, v in by_cls.items()},
        "failed_ratio": failed / max(len(records), 1),
        **e2e,
        "peak_rss_mb": peak_rss_mb,
        **extras,
        "problems": [r.problem for r in records if r.problem],
    }
    result = {
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
    }
    if args.trace:
        layers = layer_metrics(records, tracer, extras, session_build_s, cores)
        for traced in (True, False):
            detail[f"{'' if traced else 'un'}traced_op_p50_s"] = _median(
                [r.latency for r in timed_ok if r.primary and r.traced is traced])
        result["metrics"] = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        tracer.dump(os.path.join(os.path.dirname(work),
                                 f"spans-{args.workload}-{args.seed}.jsonl"))
    else:
        result["metrics"] = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    return detail, result


def main(argv: list[str]) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "kube_etl_spark", "session.py"))
            and os.path.isfile(os.path.join(root, "tests", "oracle.py"))):
        print("perfbench: run from the root of a kube_etl_spark checkout "
              "(kube_etl_spark/ and tests/oracle.py not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    # keep Spark's scratch, the JVM's temp files and Python's inside the checkout
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )
    try:
        detail, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
