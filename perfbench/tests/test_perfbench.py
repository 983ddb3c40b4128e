"""Self-tests for the benchmark: a tiny smoke run of each workload through
the command line, a corrupted output counted as a failed op, and the
event-log attribution rules. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.trace import _covered, attribute_jobs  # noqa: E402


def _benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int, rows: int, seed: int = 3) -> tuple[int, dict | None, str]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--rows", str(rows)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    return proc.returncode, result, proc.stderr


@pytest.mark.parametrize(
    "workload,trace",
    [("validate_fresh", 1), ("json_unique", 0), ("json_replicated", 1)],
)
def test_smoke(workload, trace):
    spec = _benchmark_spec()
    rc, result, err = _run(workload, trace, rows=4000)
    assert rc == 0, err[-3000:]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, err[-3000:]
    assert result["attempted"] >= 3
    listed = spec["per_layer"] if trace else spec["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in listed}
    for m in listed:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    if trace:
        assert result["metrics"]["trace.child_coverage"]["value"] >= 0.9
        assert result["metrics"]["spark.jobs"]["value"] > 0
    else:
        for m in listed:
            assert result["metrics"][m["name"]]["value"] > 0


@pytest.mark.xfail(
    strict=True,
    reason="resumed run_validation counts duplicate doc_ids only inside the"
    " revalidated sources; seed 11 at 20k rows puts a cross-source duplicate"
    " in books",
)
def test_smoke_validate_resume():
    rc, result, err = _run("validate_resume", 0, rows=20_000, seed=11)
    assert rc == 0, err[-3000:]
    assert result["correct"], err[-3000:]


def test_unrunnable_without_the_library(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark's
    files the command fails fast without printing a result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "json_unique",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


@pytest.fixture(scope="module")
def spark_work(tmp_path_factory):
    from perfbench import run

    work = str(tmp_path_factory.mktemp("perfbench"))
    run._prepare_env(work)
    spark = run._start_session(work, 2, trace=False)
    yield spark, work
    run._stop_session(spark)


def _corrupt_json(wl, out):
    n, h = out["checksum"]
    out["checksum"] = (n, h + 1)


def _corrupt_validate(wl, out):
    # the written manifest no longer matches the corpus
    path = os.path.join(wl.run_dir, "manifest.json")
    with open(path) as f:
        manifest = json.load(f)
    manifest["partitions"]["books"]["n_rows"] += 1
    with open(path, "w") as f:
        json.dump(manifest, f)


@pytest.mark.parametrize(
    "workload,corrupt",
    [("json_unique", _corrupt_json), ("validate_fresh", _corrupt_validate)],
)
def test_corrupted_output_counts_as_failed(spark_work, workload, corrupt):
    from perfbench import run, workloads

    spark, work = spark_work
    wl = workloads.WORKLOADS[workload](
        spark, os.path.join(work, workload), seed=5, rows=3000
    )
    wl.setup()
    wl.build_oracle()
    clean = run.measure(wl, seconds=0)
    assert clean["failed"] == 0 and clean["attempted"] == run.MIN_OPS

    real_op = wl.op

    def corrupted_op():
        out = real_op()
        corrupt(wl, out)
        return out

    wl.op = corrupted_op
    res = run.measure(wl, seconds=0)
    assert res["attempted"] == run.MIN_OPS
    assert res["failed"] == res["attempted"]
    assert res["times"] == []


def test_jobs_go_to_the_innermost_open_span():
    spans = [
        {"id": 0, "name": "op", "parent": None, "start": 10.0, "end": 20.0},
        {"id": 1, "name": "a", "parent": 0, "start": 11.0, "end": 15.0},
        {"id": 2, "name": "b", "parent": 1, "start": 12.0, "end": 13.0},
    ]
    jobs = {
        0: {"submit_ms": 12_500},  # inside b, nested in a
        1: {"submit_ms": 14_000},  # inside a only
        2: {"submit_ms": 16_000},  # in the op, outside its children
        3: {"submit_ms": 25_000},  # outside every span
    }
    attribute_jobs(spans, jobs)
    assert [jobs[i]["span"] for i in range(4)] == [2, 1, 0, None]


def test_covered_merges_overlaps():
    assert _covered([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert _covered([]) == 0.0
