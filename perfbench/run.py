"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload mj_pipeline --seed 1 \
        --seconds 25 --trace 0

One fresh process per run. It sets up (Spark session, imports, seeded
inputs, checked warm-up), runs the workload's operations back to back
for ``--seconds`` of operation time, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (``setup_s``,
``op_p50_s``, ``ops_per_min``); with ``--trace 1`` they are the
per-layer ones, taken from spans. The line before it is a JSON run
record (host steal, persisted RDDs, per-span self times, failures),
and the spans themselves are written to
``.perfbench/<workload>-seed<seed>-trace<t>.json``. Everything the run
writes stays under ``.perfbench/`` in the repository root. See
README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("mj_pipeline", "query_loops")
DEFAULT_SEED = 1
# held out: never used while the benchmark or a change is tuned; a
# later performance claim is re-checked on it
HELDOUT_SEED = 7177
END_TO_END_UNITS = {"setup_s": "s", "op_p50_s": "s", "ops_per_min": "1/min"}


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in BENCHMARK.json order.
    A workload reports 0 for a layer it does not call."""
    from workloads import LOOP_QUERIES

    names = [("session.start_s", "s"), ("jvm.peak_rss_mb", "MB"),
             ("registry.import_s", "s")]
    for q in LOOP_QUERIES:
        names += [(f"{q}.build_s", "s"), (f"{q}.exec_s", "s"),
                  (f"{q}.jobs", "count"), (f"{q}.tasks", "count")]
    names += [("maple_juice.maple_s", "s"),
              ("maple_juice.juice_hash_s", "s"),
              ("maple_juice.juice_range_s", "s"),
              ("maple_juice.kv_rows", "count"),
              ("maple_juice.exe_runs", "count"),
              ("filestore.put_s", "s"), ("filestore.get_s", "s"),
              ("filestore.delete_s", "s"),
              ("spark.jobs", "count"), ("spark.tasks", "count"),
              ("spark.failed_tasks", "count"),
              ("spark.persisted_rdds", "count"),
              ("host.busy_cpu_s", "s"), ("host.steal_s", "s"),
              ("host.canary_1t_s", "s"), ("host.canary_32t_s", "s"),
              ("trace.op_p50_s", "s"), ("trace.overhead_pct", "%")]
    return names


def _prepare_env(work: str) -> None:
    """Point every temporary location of Spark, the JVM and Python at
    ``work`` and make the program importable by Spark's Python
    workers. Must run before pyspark is imported."""
    for sub in ("tmp", "local", "store"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_STORE": os.path.join(work, "store"),
        "TMPDIR": os.path.join(work, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work}/tmp "
                             "-XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    sys.path[:0] = [ROOT, HERE]


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(run) -> dict[str, float]:
    """setup_s, op_p50_s (median wall time of a completed operation)
    and ops_per_min (completed operations per minute of operation
    time, failed ones included in the time: the stalls a median
    hides)."""
    done = [o.wall_s for o in run.ops if o.ok]
    total = sum(o.wall_s for o in run.ops)
    return {"setup_s": run.setup_s, "op_p50_s": _median(done),
            "ops_per_min": 60.0 * len(done) / total}


def per_layer(run, sess, canary: dict) -> dict[str, float]:
    import probes

    m = {name: 0.0 for name, _ in per_layer_names()}
    m.update({"session.start_s": sess.start_s,
              "jvm.peak_rss_mb": probes.peak_rss_mb(sess.jvm_pid()),
              "registry.import_s": run.registry_import_s})
    for name, xs in sess.tracer.durations().items():
        if f"{name}_s" in m:  # <query>.build/.exec, engine and store verbs
            m[f"{name}_s"] = _median(xs)
    for s in sess.tracer.spans:  # per-query counts: the last traced cycle's
        if f"{s['name']}.jobs" in m:
            m[f"{s['name']}.jobs"] = s["jobs"]
            m[f"{s['name']}.tasks"] = s["tasks"]
    m.update(run.counts)
    ops = run.ops
    for k in ("jobs", "tasks", "failed_tasks"):
        m[f"spark.{k}"] = _median([o.spark[k] for o in ops])
    m["spark.persisted_rdds"] = run.persisted_rdds
    m["host.busy_cpu_s"] = _median([o.busy_cpu_s for o in ops])
    m["host.steal_s"] = _median([o.steal_s for o in ops])
    m["host.canary_1t_s"] = canary["canary_1t"]
    m["host.canary_32t_s"] = canary["canary_32t"]
    traced = [o.wall_s for o in ops if o.traced and o.ok]
    plain = [o.wall_s for o in ops if not o.traced and o.ok]
    m["trace.op_p50_s"] = _median(traced)
    if traced and plain:
        m["trace.overhead_pct"] = 100.0 * (_median(traced)
                                           / _median(plain) - 1.0)
    return m


def record(run, sess) -> dict:
    """The run record printed before the result line: what explains
    noise or a leak, for every run."""
    counts_by_query: dict[str, set] = {}
    for s in sess.tracer.spans:
        if s["parent"] is not None and "." not in s["name"]:
            counts_by_query.setdefault(s["name"], set()).add(
                (s["jobs"], s["tasks"]))
    return {
        "workload": run.workload,
        "setup_s": round(run.setup_s, 3),
        "session.start_s": round(sess.start_s, 3),
        "registry.import_s": round(run.registry_import_s, 3),
        "ops": len(run.ops),
        "op_wall_s": [round(o.wall_s, 4) for o in run.ops],
        "op_steal_s": [round(o.steal_s, 3) for o in run.ops],
        "host.steal_s": round(sum(o.steal_s for o in run.ops), 3),
        "host.busy_cpu_s": round(sum(o.busy_cpu_s for o in run.ops), 3),
        "spark.persisted_rdds": run.persisted_rdds,
        "spark.jobs_per_op": [o.spark["jobs"] for o in run.ops],
        "query_counts_repeat": all(len(v) == 1
                                   for v in counts_by_query.values()),
        "self_s": {k: round(v, 4)
                   for k, v in sess.tracer.self_times().items()},
        "failures": {**run.failures,
                     **{f"op_{i}": o.error[-300:]
                        for i, o in enumerate(run.ops) if not o.ok}},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=25.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import probes

    # setup_s counts from process start: the kernel's start time gives
    # the offset to here, the monotonic clock the rest
    age0, t0 = probes.process_age_s(), time.perf_counter()

    def setup_clock() -> float:
        return age0 + time.perf_counter() - t0

    if not os.path.isdir(os.path.join(ROOT,
                                      "distributed_system_mapreduce_spark")):
        print("perfbench: the program is not in this checkout",
              file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    _prepare_env(work)
    import workloads

    sess = None
    try:
        sess = workloads.Session(work)
        run = workloads.run_workload(args.workload, args.seed, args.seconds,
                                     bool(args.trace), sess, setup_clock)
        rec = record(run, sess)
        if args.trace:
            from bench import host_speed_canary

            canary = host_speed_canary()
            rec.update(canary)
            metrics = per_layer(run, sess, canary)
            units = dict(per_layer_names())
        else:
            metrics = end_to_end(run)
            units = END_TO_END_UNITS
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        with open(os.path.join(base, name), "w") as fh:
            json.dump({"record": rec, "spans": sess.tracer.spans}, fh)
    finally:
        if sess is not None:
            sess.close()
        shutil.rmtree(work, ignore_errors=True)

    attempted = run.warmup_attempted + len(run.ops)
    failed = run.warmup_failed + sum(not o.ok for o in run.ops)
    print(json.dumps(rec, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
