"""The benchmark's workloads. Each is a closed loop with one client:
the next operation starts when the previous one returns.

* ``mj_pipeline`` - one operation is one reference-parity job through
  the CLI dispatch: put -> maple (awk tokenizer) -> juice (awk sum,
  del=1, hash and range alternating) -> get -> delete, and the word
  counts it returns are compared with the generator's.
* ``query_loops`` - one operation is one cycle over iterative
  driver-loop queries (DataFrame build dominates).

A workload is driven only through the program's public entry points:
``__main__.run_command`` (which builds ``FileStore`` and ``MapleJuice``)
for the job, ``registry.QUERIES[name](spark, dir)`` plus a noop-sink
write for the queries, and ``registry.ORACLES`` for their checks.
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil
import sys
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

import corpus
import probes

MAPLE_EXE = "awk '{for (i = 1; i <= NF; i++) print $i, 1}'"
JUICE_EXE = "awk '{s += $2} END {print $1, s}'"

# Three driver loops: label propagation, BFS frontier rounds, and the
# modularity build over the shared strong-edge graph.
LOOP_QUERIES = ["community_lpa", "graph_bfs_reach", "graph_modularity"]

# full-size inputs; the benchmark's test passes tiny ones
SIZES = {"mj_lines_bytes": 2 << 20, "mj_warmup_jobs": 2, "loops_scale": 0.01}
TINY = {"mj_lines_bytes": 20 << 10, "mj_warmup_jobs": 0, "loops_scale": 0.001}


@dataclass
class Op:
    """One attempted operation of the timed pass."""
    wall_s: float
    ok: bool
    traced: bool
    spark: dict
    busy_cpu_s: float
    steal_s: float
    error: str | None = None


@dataclass
class Run:
    """What one workload run measured; ``run.py`` turns it into
    metrics."""
    workload: str
    setup_s: float = 0.0
    registry_import_s: float = 0.0
    ops: list[Op] = field(default_factory=list)
    warmup_attempted: int = 0
    warmup_failed: int = 0
    failures: dict[str, str] = field(default_factory=dict)
    persisted_rdds: int = 0
    counts: dict[str, float] = field(default_factory=dict)


class Session:
    """The Spark session plus the probes around it, shared by every
    operation of a run."""

    def __init__(self, work: str):
        from distributed_system_mapreduce_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.start_s = time.perf_counter() - t0
        self.work = work
        self.counter = probes.SparkCounter(self.spark)
        self.tracer = probes.Tracer(self.counter)

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def drop_persisted(self) -> None:
        """Blocking unpersist of every persisted RDD, as bench.py does
        between queries."""
        m = self.spark.sparkContext._jsc.sc().getPersistentRDDs()
        it = m.iterator()
        while it.hasNext():
            it.next()._2().unpersist(True)

    def close(self) -> None:
        """Stop Spark and wait until its JVM has exited (the JVM ends
        when its stdin pipe closes)."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            gateway.shutdown()
            proc.stdin.close()
            proc.wait(timeout=60)


def timed_pass(sess: Session, run: Run, op: Callable[[int], str | None],
               seconds: float, trace: bool, step: int = 1) -> None:
    """Run ``op(i)`` back to back until ``seconds`` of operation time
    have passed and the count is a multiple of ``step`` (the last
    operation always completes). ``op`` returns an error string, or
    None when its output checked out. In a traced run the second
    ``step`` operations of every ``2 * step`` run with the tracer off,
    so the run also measures the tracer's own overhead."""
    total = 0.0
    i = 0
    while i == 0 or total < seconds or i % step:
        traced = trace and (i // step) % 2 == 0
        sess.tracer.begin(i, traced)
        mark = sess.counter.mark()
        busy0, steal0 = probes.host_cpu()
        t0 = time.perf_counter()
        try:
            with sess.tracer.span("op"):
                err = op(i)
        except Exception:  # a failed operation is counted, not fatal
            err = traceback.format_exc(limit=3)
        wall = time.perf_counter() - t0
        busy1, steal1 = probes.host_cpu()
        sess.tracer.begin(i, False)
        run.ops.append(Op(wall, err is None, traced,
                          sess.counter.since(mark), busy1 - busy0,
                          steal1 - steal0, err))
        total += wall
        i += 1


@contextlib.contextmanager
def _quiet():
    """The CLI prints one status line per verb; keep it off stdout,
    whose last line is the benchmark's result."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        yield buf


# ------------------------------------------------------------ mj_pipeline
def mj_pipeline(sess: Session, run: Run, seed: int, seconds: float,
                trace: bool, sizes: dict, setup_clock: Callable[[], float],
                maple_exe: str = MAPLE_EXE) -> None:
    from distributed_system_mapreduce_spark.__main__ import run_command

    spark, tr = sess.spark, sess.tracer
    n = str(len(os.sched_getaffinity(0)))
    text, expected = corpus.zipf_lines(seed, sizes["mj_lines_bytes"])
    lines_path = os.path.join(sess.work, "lines.txt")
    with open(lines_path, "wb") as fh:
        fh.write(text)
    got_dir = os.path.join(sess.work, "got")
    kv_dir = os.path.join(os.environ["SPARK_GRAFT_STORE"], "kv")

    def cli(span: str, *args: str) -> None:
        with tr.span(span), _quiet() as out:
            rc = run_command(spark, list(args))
        if rc != 0:
            raise RuntimeError(f"{args[0]} exited {rc}: "
                               f"{out.getvalue().strip()[-200:]}")

    def job(i: int) -> str | None:
        part = "hash" if i % 2 == 0 else "range"
        shutil.rmtree(got_dir, ignore_errors=True)
        try:
            cli("filestore.put", "put", lines_path, "lines")
            cli("maple_juice.maple", "maple", maple_exe, n, "kv", "lines")
            if tr.enabled:
                run.counts["maple_juice.kv_rows"] = _parquet_rows(kv_dir)
            cli(f"maple_juice.juice_{part}", "juice", JUICE_EXE, n, "kv",
                "out", "1", part)
            cli("filestore.get", "get", "out", got_dir)
            cli("filestore.delete", "delete", "out")
            cli("filestore.delete", "delete", "lines")
        except Exception:
            # a failed job must not leave datasets behind for the next
            with _quiet():
                for name in ("kv", "out", "lines"):
                    run_command(spark, ["delete", name])
            raise
        got = _read_counts(got_dir)
        if tr.enabled:
            # one exe per maple task plus one per key in juice
            run.counts["maple_juice.exe_runs"] = int(n) + len(got)
        if got != expected:
            diff = sorted(set(got.items()) ^ set(expected.items()))[:3]
            return f"{part} job: word counts differ, e.g. {diff}"
        return None

    for i in range(sizes["mj_warmup_jobs"]):  # JVM and worker warm-up
        run.warmup_attempted += 1
        try:
            err = job(i)
        except Exception:
            err = traceback.format_exc(limit=3)
        if err:
            run.warmup_failed += 1
            run.failures[f"warmup_job_{i}"] = err
    run.setup_s = setup_clock()
    # an even number of jobs: as many hash as range shuffles
    timed_pass(sess, run, job, seconds, trace, step=2)


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))


def _read_counts(path: str) -> dict[str, int]:
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return {}
    tbl = pq.read_table(path)
    return {k: int(v) for k, v in zip(tbl.column("key").to_pylist(),
                                      tbl.column("value").to_pylist())}


# ----------------------------------------------------------- query_loops
def query_loops(sess: Session, run: Run, seed: int, seconds: float,
                trace: bool, sizes: dict,
                setup_clock: Callable[[], float]) -> None:
    """Generate the corpus, import the registry, run one warm-up cycle
    that collects every query and checks it against its DuckDB oracle,
    then the timed cycles."""
    data_dir = corpus.write_tables(seed, sizes["loops_scale"],
                                   os.path.join(sess.work, "corpus"))
    t0 = time.perf_counter()
    from distributed_system_mapreduce_spark import registry
    run.registry_import_s = time.perf_counter() - t0

    spark, tr = sess.spark, sess.tracer

    def cycle(_i: int) -> str | None:
        for q in LOOP_QUERIES:
            with tr.span(q):
                with tr.span(f"{q}.build"):
                    df = registry.QUERIES[q](spark, data_dir)
                with tr.span(f"{q}.exec"):
                    df.write.format("noop").mode("overwrite").save()
                sess.drop_persisted()
        # a query whose checked output was wrong makes every cycle
        # that runs it wrong
        if run.failures:
            return "oracle mismatch: " + ", ".join(sorted(run.failures))
        return None

    run.warmup_attempted = 1
    run.failures.update(check_queries(sess, registry, LOOP_QUERIES,
                                      data_dir))
    run.warmup_failed = int(bool(run.failures))

    run.setup_s = setup_clock()
    timed_pass(sess, run, cycle, seconds, trace)


def check_queries(sess: Session, registry, names: list[str],
                  data_dir: str) -> dict[str, str]:
    """Each query against its DuckDB twin on the same corpus: row
    count, column names and the order-insensitive value hash of
    ``tools/verify_local.py``. Returns {query: problem}."""
    import duckdb

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools"))
    from verify_local import table_hash

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{data_dir}/{t}.parquet'")
    problems: dict[str, str] = {}
    for q in names:
        try:
            sdf = registry.QUERIES[q](sess.spark, data_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            sess.drop_persisted()
            res = con.sql(registry.ORACLES[q])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as exc:
            problems[q] = f"{type(exc).__name__}: {str(exc)[:200]}"
            continue
        if len(srows) != len(drows):
            problems[q] = f"rows {len(srows)} vs oracle {len(drows)}"
        elif sorted(scols) != sorted(dcols):
            problems[q] = f"columns {sorted(scols)} vs {sorted(dcols)}"
        elif table_hash(scols, srows) != table_hash(dcols, drows):
            problems[q] = "value hash differs from oracle"
    con.close()
    return problems


def run_workload(name: str, seed: int, seconds: float, trace: bool,
                 sess: Session, setup_clock: Callable[[], float],
                 sizes: dict = SIZES) -> Run:
    run = Run(name)
    if name == "mj_pipeline":
        mj_pipeline(sess, run, seed, seconds, trace, sizes, setup_clock)
    elif name == "query_loops":
        query_loops(sess, run, seed, seconds, trace, sizes, setup_clock)
    else:
        raise ValueError(f"unknown workload {name!r}")
    run.persisted_rdds = sess.counter.persisted_rdds()
    return run
