"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload validate_fresh --seed 1 --seconds 6 --trace 0

Run it from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones (event log on, spans around the layer calls). Lines
before it are a readable summary. Everything the run writes goes under
``.perfbench/`` at the repository root; the per-run work directory is
deleted at exit and only ``.perfbench/traces/`` is kept.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from typing import Any

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_OPS = 3
# untimed ops before measuring: the first op after start-up pays for
# class loading, codegen and Python worker start, and the second still
# runs partly uncompiled (measured on validate_fresh: 30-60% slower than
# the third). A third warm-up op did not narrow the run-to-run spread.
WARMUP_OPS = 2


def _parse(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--rows", type=int, default=None,
        help="override the workload's input size (self-tests use tiny sizes)",
    )
    return p.parse_args(argv)


def _prepare_env(work: str) -> None:
    """Process environment that must exist before the JVM starts."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # mapInPandas / pandas_udf workers import the package by name: it has
    # to be on the workers' PYTHONPATH, not only on this process's sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the JVMs' temp files go under ``work`` too (the Spark JVM, and the
    # short-lived launcher JVM spark-submit runs first); PerfDisableSharedMem
    # stops each from creating /tmp/hsperfdata_<user>
    jvm_opts = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:+PerfDisableSharedMem"
    )
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):
        os.environ[var] = " ".join(p for p in (os.environ.get(var), jvm_opts) if p)
    # the library's session defaults to an 8g heap; these inputs need far
    # less, and the benchmark shares the machine's memory
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    os.environ["SPARK_GRAFT_CONSOLE_PROGRESS"] = "false"


def _start_session(work: str, cores: int, trace: bool):
    from polars_genson_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class RssSampler:
    """High-water resident memory of this process (the driver), the Spark
    JVM and its Python workers, from ``/proc/<pid>/status`` VmHWM. A
    pid's peak is kept after the process exits."""

    def __init__(self) -> None:
        self.peak_kb: dict[int, int] = {}
        self.role: dict[int, str] = {}

    def _descendants(self) -> list[int]:
        parent: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    # field 4, after the parenthesised command name
                    parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
        tree, frontier = [os.getpid()], [os.getpid()]
        while frontier:
            frontier = [p for p, pp in parent.items() if pp in frontier]
            tree += frontier
        return tree

    def sample(self) -> None:
        for pid in self._descendants():
            try:
                with open(f"/proc/{pid}/status") as f:
                    status = dict(line.split(":", 1) for line in f if ":" in line)
                kb = int(status["VmHWM"].split()[0])
            except (OSError, KeyError, ValueError):
                continue
            name = status["Name"].strip()
            if pid == os.getpid():
                self.role[pid] = "driver"
            elif name == "java":
                self.role[pid] = "jvm"
            elif name.startswith("python"):
                self.role[pid] = "pyworker"
            else:
                continue
            self.peak_kb[pid] = max(self.peak_kb.get(pid, 0), kb)

    def peak_mb(self, role: str) -> float:
        """Sum over the role's processes of each one's high-water mark."""
        return sum(
            kb for pid, kb in self.peak_kb.items() if self.role[pid] == role
        ) / 1024.0


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def measure(wl, seconds: float, tracer=None,
            rss: RssSampler | None = None) -> dict[str, Any]:
    """Closed loop, one op at a time, for ``seconds`` of wall time and at
    least ``MIN_OPS`` ops. Each op's output is checked after its timer
    stops; an op that raises or fails its check counts as failed."""
    times: list[float] = []
    call_times: dict[str, list[float]] = {}
    extras: list[dict[str, float]] = []
    attempted = failed = 0
    deadline = time.perf_counter() + seconds
    while attempted < MIN_OPS or time.perf_counter() < deadline:
        wl.prepare()
        attempted += 1
        t0 = time.perf_counter()
        try:
            if tracer is not None:
                with tracer.span("op", workload=wl.name):
                    out = wl.op()
            else:
                out = wl.op()
            dt = time.perf_counter() - t0
            problems = wl.check(out)
        except Exception:
            problems = [traceback.format_exc()]
        if rss is not None:
            rss.sample()
        if problems:
            failed += 1
            print(f"op {attempted} failed: " + "; ".join(problems)[:2000],
                  file=sys.stderr)
            continue
        times.append(dt)
        for k, v in out.get("call_s", {}).items():
            call_times.setdefault(k, []).append(v)
        extras.append(wl.counts(out))
    return {
        "attempted": attempted,
        "failed": failed,
        "times": times,
        "call_times": call_times,
        "extras": extras,
    }


def end_to_end_metrics(wl, setup: dict[str, float], res: dict):
    return {
        "setup_s": {"value": setup["setup_s"], "unit": "s"},
        "rows_per_s": {
            "value": _median([wl.rows / t for t in res["times"]]),
            "unit": "rows/s",
        },
    }


def per_layer_metrics(setup, res, profiles, persisted_rdds, rss):
    def med(fn):
        return _median([fn(p) for p in profiles])

    def self_s(name):
        return med(lambda p: p["spans"].get(name, {}).get("self_s", 0.0))

    def span_jobs(name):
        return med(lambda p: p["spans"].get(name, {}).get("jobs", 0))

    def eng(key, scale=1.0):
        return med(lambda p: p["engine"][key] * scale)

    def extra(key):
        return _median([e.get(key, 0.0) for e in res["extras"]])

    def attr_of(p, span, key):
        return [a[key] for a in p["attrs"] if a["name"] == span and key in a]

    m = {
        "session.start_s": (setup["session_start_s"], "s"),
        "corpus.generate_s": (setup["generate_s"], "s"),
        "spark.input_bytes": (eng("input_bytes"), "bytes"),
        "spark.scan_s": (eng("scan_ms", 1e-3), "s"),
        "verdicts.validate_s": (self_s("verdicts.validate"), "s"),
        "verdicts.validate_jobs": (span_jobs("verdicts.validate"), "count"),
        "verdicts.finalise_s": (self_s("verdicts.finalise"), "s"),
        "verdicts.persisted_rdds_after": (persisted_rdds, "count"),
        "checkpoint.fingerprint_s": (self_s("checkpoint.fingerprint"), "s"),
        "checkpoint.manifest_io_s": (self_s("checkpoint.manifest_io"), "s"),
        "checkpoint.skipped_share": (extra("skipped_share"), "ratio"),
        "jobs.write_s": (self_s("jobs.write"), "s"),
        "jobs.output_files": (extra("output_files"), "count"),
        "jobs.output_bytes": (extra("output_bytes"), "bytes"),
        "fsutil.delete_s": (self_s("fsutil.delete"), "s"),
        "infer.fold_s": (self_s("infer.fold"), "s"),
        "infer.driver_merge_s": (self_s("infer.infer_json_schema"), "s"),
        "infer.partitions": (
            med(lambda p: max(attr_of(p, "infer.fold", "partitions"), default=0)),
            "count",
        ),
        "rewrite.postprocess_s": (self_s("rewrite.postprocess"), "s"),
        "normalise_op.build_s": (self_s("normalise_op.build"), "s"),
        "normalise_op.build_jobs": (span_jobs("normalise_op.build"), "count"),
        "normalise_op.route_distinct": (
            med(lambda p: float(
                "__pgs_cell" in attr_of(p, "infer.infer_json_schema", "column")
            )),
            "bool",
        ),
        "normalise_op.apply_s": (self_s("normalise_op.apply"), "s"),
        "spark.jobs": (eng("jobs"), "count"),
        "spark.stages": (eng("stages"), "count"),
        "spark.tasks": (eng("tasks"), "count"),
        "spark.executor_run_s": (eng("executor_run_ms", 1e-3), "s"),
        "spark.executor_cpu_s": (eng("executor_cpu_ns", 1e-9), "s"),
        "spark.gc_s": (eng("gc_ms", 1e-3), "s"),
        "spark.scheduler_delay_s": (eng("scheduler_delay_ms", 1e-3), "s"),
        "spark.shuffle_write_bytes": (eng("shuffle_write_bytes"), "bytes"),
        "spark.shuffle_read_bytes": (eng("shuffle_read_bytes"), "bytes"),
        "spark.shuffle_fetch_wait_s": (eng("shuffle_fetch_wait_ms", 1e-3), "s"),
        "spark.spill_disk_bytes": (eng("spill_disk_bytes"), "bytes"),
        "spark.result_bytes": (eng("result_bytes"), "bytes"),
        "spark.task_skew": (eng("task_skew"), "ratio"),
        "spark.core_busy_share": (eng("core_busy_share"), "ratio"),
        "pyworker.bytes_sent": (eng("py_sent_bytes"), "bytes"),
        "pyworker.bytes_returned": (eng("py_returned_bytes"), "bytes"),
        "pyworker.run_s": (eng("py_run_ms", 1e-3), "s"),
        "pyworker.init_s": (eng("py_init_ms", 1e-3), "s"),
        "pyworker.start_s": (eng("py_start_ms", 1e-3), "s"),
        "jvm.peak_rss_mb": (rss.peak_mb("jvm"), "MB"),
        "pyworker.peak_rss_mb": (rss.peak_mb("pyworker"), "MB"),
        "driver.peak_rss_mb": (rss.peak_mb("driver"), "MB"),
        "trace.op_s": (med(lambda p: p["wall_s"]), "s"),
        "trace.child_coverage": (
            min((p["child_coverage"] for p in profiles), default=0.0),
            "ratio",
        ),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def _summary_lines(wl, setup, res, metrics) -> list[str]:
    n = len(res["times"])
    lines = [
        f"# workload {wl.name}: {wl.rows} rows per op, {res['attempted']} ops"
        f" attempted, {res['failed']} failed"
        f" (ops_failed_share {res['failed'] / max(res['attempted'], 1):.3f})",
        f"# setup: session {setup['session_start_s']:.2f}s, inputs"
        f" {setup['generate_s']:.2f}s, warm-up {setup['warmup_s']:.2f}s,"
        f" oracle {setup['oracle_s']:.2f}s (not in setup_s)",
    ]
    for name, rec in metrics.items():
        lines.append(f"# {name:32s} {rec['value']:.6g} {rec['unit']}")
    lines.append(
        f"# op_s median {_median(res['times']):.4f} s over n={n} ops: "
        + " ".join(f"{t:.3f}" for t in res["times"])
    )
    for call, ts in res["call_times"].items():
        lines.append(
            f"# {call}_docs_per_s median {_median([wl.rows / t for t in ts]):.6g}"
            f" docs/s over n={len(ts)} ops"
        )
    return lines


def run(work: str, workload: str, seed: int, seconds: float, trace: bool,
        rows: int | None = None) -> dict[str, Any]:
    """One run in the prepared work directory, which it deletes at exit."""
    cores = len(os.sched_getaffinity(0))
    from perfbench import workloads
    from perfbench.trace import Tracer, layer_patches, op_profiles, read_event_log

    cls = workloads.WORKLOADS[workload]
    rss = RssSampler()
    setup: dict[str, float] = {}
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _start_session(work, cores, trace)
        setup["session_start_s"] = time.perf_counter() - t0
        wl = cls(spark, work, seed, rows or workloads.SIZES[workload])
        t1 = time.perf_counter()
        wl.setup()
        setup["generate_s"] = time.perf_counter() - t1
        t2 = time.perf_counter()
        for _ in range(WARMUP_OPS):
            wl.prepare()
            wl.op()
        setup["warmup_s"] = time.perf_counter() - t2
        setup["setup_s"] = time.perf_counter() - t0
        t3 = time.perf_counter()
        wl.build_oracle()
        setup["oracle_s"] = time.perf_counter() - t3
        rss.sample()

        tracer = None
        if trace:
            tracer = Tracer()
            tracer.install(layer_patches())
        try:
            res = measure(wl, seconds, tracer=tracer, rss=rss)
        finally:
            if tracer is not None:
                tracer.uninstall()
        rss.sample()
        persisted = len(spark.sparkContext._jsc.getPersistentRDDs())
        app_id = spark.sparkContext.applicationId
        _stop_session(spark)
        spark = None

        if trace:
            log = read_event_log(os.path.join(work, "events", app_id))
            profiles = op_profiles(tracer.spans, log, cores)
            metrics = per_layer_metrics(setup, res, profiles, persisted, rss)
            traces = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(traces, exist_ok=True)
            with open(os.path.join(traces, f"{workload}-seed{seed}.json"), "w") as f:
                json.dump({"setup": setup, "ops": profiles}, f, indent=1)
        else:
            metrics = end_to_end_metrics(wl, setup, res)
        for line in _summary_lines(wl, setup, res, metrics):
            print(line)
        return {
            "correct": res["failed"] == 0,
            "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            _stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "polars_genson_spark", "__init__.py")):
        print(
            f"perfbench: polars_genson_spark/ not found in {ROOT}",
            file=sys.stderr,
        )
        return 2
    work = os.path.join(
        ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    # before anything imports pyspark or reads the temp dir
    _prepare_env(work)
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: unknown workload {args.workload!r};"
              f" choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    result = run(work, args.workload, args.seed, args.seconds, bool(args.trace),
                 args.rows)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
