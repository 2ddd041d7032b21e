"""The benchmark's own fast test. Run from the repository root:

    python3 -m pytest -q perfbench/test_perfbench.py

Input generation is deterministic per seed; one tiny operation of each
workload yields every metric named in BENCHMARK.json with its unit; an
exe that exits non-zero is a failed operation, not a crash; and the
entry point refuses to run without the program next to it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE]

import corpus  # noqa: E402
import run as bench_run  # noqa: E402


def _tree_bytes(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as fh:
            out[name] = fh.read()
    return out


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = _tree_bytes(corpus.write_tables(5, 0.001, str(tmp_path / "a")))
    b = _tree_bytes(corpus.write_tables(5, 0.001, str(tmp_path / "b")))
    c = _tree_bytes(corpus.write_tables(6, 0.001, str(tmp_path / "c")))
    assert len(a) == 10 and a == b
    assert all(a[t] != c[t] for t in a if t not in ("region.parquet",
                                                     "nation.parquet"))
    assert corpus.zipf_lines(5, 4096) == corpus.zipf_lines(5, 4096)
    assert corpus.zipf_lines(5, 4096)[0] != corpus.zipf_lines(6, 4096)[0]


def test_zipf_counts_match_the_text():
    text, counts = corpus.zipf_lines(3, 8192)
    words = text.decode().split()
    assert sum(counts.values()) == len(words)
    assert counts == {w: words.count(w) for w in set(words)}


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_matches_the_code():
    doc = _benchmark_json()
    assert [w["name"] for w in doc["workloads"]] == list(
        bench_run.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in doc["per_layer"]] == \
        bench_run.per_layer_names()
    assert [(m["name"], m["unit"]) for m in doc["end_to_end"]] == list(
        bench_run.END_TO_END_UNITS.items())


@pytest.fixture(scope="module")
def sess(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("work"))
    bench_run._prepare_env(work)
    import workloads

    s = workloads.Session(work)
    yield s
    s.close()


@pytest.mark.parametrize("workload", bench_run.WORKLOADS)
def test_one_tiny_operation_reports_every_metric(sess, workload):
    import workloads

    doc = _benchmark_json()
    run = workloads.run_workload(workload, 1, 0, True, sess, lambda: 1.0,
                                 sizes=workloads.TINY)
    assert not run.failures
    assert run.ops and all(o.ok for o in run.ops), run.ops
    e2e = bench_run.end_to_end(run)
    assert set(e2e) == {m["name"] for m in doc["end_to_end"]}
    assert all(v > 0 for v in e2e.values())
    layer = bench_run.per_layer(run, sess, {"canary_1t": 0.1,
                                            "canary_32t": 1.0})
    assert set(layer) == {m["name"] for m in doc["per_layer"]}
    assert layer["spark.jobs"] > 0 and layer["session.start_s"] > 0
    rec = bench_run.record(run, sess)
    assert {"host.steal_s", "spark.persisted_rdds"} <= set(rec)


def test_failing_exe_is_a_failed_operation(sess):
    import workloads

    run = workloads.Run("mj_pipeline")
    workloads.mj_pipeline(sess, run, 1, 0, False, workloads.TINY,
                          lambda: 1.0, maple_exe="false")
    assert run.ops and not any(o.ok for o in run.ops)
    assert "exited with status 1" in run.ops[0].error


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "mj_pipeline",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
