"""Benchmark entry point.

    python3 perfbench/run.py --workload wrangle_tasks --seed 1 --seconds 25 --trace 0

Run from the repository root. Each invocation is one isolated run: it
makes a private directory under ``.perfbench_runs/`` for its temp
files, Spark local dirs, checkpoint dir, function cache and generated
inputs, and deletes it at exit. Spark runs at ``local[cores/2]``:
a UDF-heavy job at ``local[cores]`` oversubscribes the host (JVM task
threads plus as many Python workers), which made repeated runs
disagree by up to 20%.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics
untraced (``--trace 0``), the per-layer metrics traced
(``--trace 1``). See ``perfbench/METRICS.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
TRACE_DIR = os.path.join(ROOT, "perfbench", "out")

#: task_tail_s is this nearest-rank percentile of the run's unit times.
TAIL_PCT = 90

END_TO_END_UNITS = {
    "setup_s": "s",
    "run_s": "s",
    "task_s": "s",
    "task_tail_s": "s",
    "rows_per_s": "1/s",
}

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "sources.stage_s": "s",
    "wrangler.self_s": "s",
    "wrangler.spark_jobs": "count",
    "plans.compile_s": "s",
    "plans.llm_wait_s": "s",
    "plans.llm_calls": "count",
    "plans.cache_hit_ratio": "ratio",
    "plans.accept_ratio": "ratio",
    "functions.validate_s": "s",
    "functions.validate_calls": "count",
    "functions.apply_score_s": "s",
    "operators.dedup_s": "s",
    "operators.lsh_candidates": "count",
    "operators.lsh_verify_ratio": "ratio",
    "operators.quality_s": "s",
    "operators.similarity_s": "s",
    "llm_calls_per_task": "count",
    "fail_frac": "ratio",
    "host.calib_s": "s",
    "trace.run_s": "s",
    "trace.overhead_s": "s",
}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("wrangle_tasks", "curate_corpus"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0, help="input size as a multiple of sf0.1 (tests use a tiny one)")
    return p.parse_args(argv)


def calib_s() -> float:
    """Fixed pure-Python CPU probe; a host-noise diagnostic only."""
    t = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile."""
    ordered = sorted(values)
    return ordered[max(1, -(-len(ordered) * pct // 100)) - 1]


def jvm_options(tmp: str) -> str:
    """Keep JVM temp files (native library copies, perf data) in ``tmp``."""
    return f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def isolate(run_dir: str) -> dict[str, str]:
    """Point every temp location of this process, the JVMs and the
    Python workers into ``run_dir``."""
    dirs = {name: os.path.join(run_dir, name) for name in ("tmp", "spark-local", "checkpoint", "inputs")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the JVM that spark-submit runs to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_options(dirs["tmp"])
    tempfile.tempdir = dirs["tmp"]
    return dirs


def descendants(pid: int) -> set[int]:
    """PIDs of every live process below ``pid``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat", encoding="utf-8") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    found, todo = set(), [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            found.add(child)
            todo.append(child)
    return found


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="utf-8") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: set[int], seconds: float) -> None:
    deadline = time.monotonic() + seconds
    while any(alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)


def stop_spark(spark) -> None:
    """Stop Spark, then wait until the JVM and the Python workers it
    started have exited (killing any left after a minute)."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    wait_gone(started, 60)
    for pid in started:
        if alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    wait_gone(started, 10)


def instrument(tracer, workload, client) -> list:
    """Install the span wrappers; returns the list that collects each
    LSH candidate frame built."""
    from efficient_llm_data_wrangling_spark.operators import dedup
    from efficient_llm_data_wrangling_spark.plans import compiler

    def on_compile(result, rec):
        rec["from_cache"] = result.from_cache

    candidates = []
    tracer.patch(compiler.SemanticCompiler, "compile", "plans.compile", on_compile)
    tracer.patch(compiler, "validate_function", "functions.validate")
    tracer.patch(client, "complete", "plans.llm")
    tracer.patch(dedup, "minhash_candidate_pairs", None, lambda df, rec: candidates.append(df))
    workload.span = tracer.span
    return candidates


def per_layer(tracer, t_run, candidates, outputs, **measured) -> dict:
    """Reduce the timed loop's spans to self times and counts."""
    self_s = tracer.self_times(since=t_run)
    timed = [s for s in tracer.spans if s["start"] >= t_run]
    compiles = [s for s in timed if s["name"] == "plans.compile"]
    hits = sum(1 for s in compiles if s["from_cache"])
    llm_calls = measured["llm_calls"]
    # every round rebuilds the same plan, so one count serves all
    n_cands = candidates[-1].count() if candidates else 0
    verified = len(outputs[-1].output["pairs"]) if candidates else 0
    return {
        "session.start_s": measured["session_s"],
        "sources.stage_s": measured["stage_s"],
        "wrangler.self_s": self_s.get("wrangler.task", 0.0),
        "wrangler.spark_jobs": statistics.mean(measured["jobs"]),
        "plans.compile_s": self_s.get("plans.compile", 0.0),
        "plans.llm_wait_s": self_s.get("plans.llm", 0.0),
        "plans.llm_calls": llm_calls,
        "plans.cache_hit_ratio": hits / len(compiles) if compiles else 0.0,
        "plans.accept_ratio": (len(compiles) - hits) / llm_calls if llm_calls else 0.0,
        "functions.validate_s": self_s.get("functions.validate", 0.0),
        "functions.validate_calls": sum(1 for s in timed if s["name"] == "functions.validate"),
        "functions.apply_score_s": self_s.get("functions.apply_score", 0.0),
        "operators.dedup_s": self_s.get("operators.dedup", 0.0),
        "operators.lsh_candidates": n_cands,
        "operators.lsh_verify_ratio": verified / n_cands if n_cands else 0.0,
        "operators.quality_s": self_s.get("operators.quality", 0.0),
        "operators.similarity_s": self_s.get("operators.similarity", 0.0),
        "llm_calls_per_task": llm_calls / measured["units"],
        "fail_frac": measured["failed"] / measured["attempted"],
        "host.calib_s": statistics.mean(measured["calib"]),
        "trace.run_s": measured["run_s"],
        "trace.overhead_s": measured["overhead_s"],
    }


def run(args: argparse.Namespace, run_dir: str) -> dict:
    dirs = isolate(run_dir)
    from efficient_llm_data_wrangling_spark.session import get_spark

    from perfbench.llm import ScriptedClient
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, TaskSpec

    tracer = Tracer() if args.trace else None
    span = tracer.span if tracer else (lambda name: nullcontext({}))
    cores = len(os.sched_getaffinity(0))
    master = f"local[{max(1, cores // 2)}]"

    t = time.perf_counter()
    with span("session.start"):
        spark = get_spark(
            app_name="perfbench",
            master=master,
            extra_conf={
                "spark.driver.memory": "3g",
                "spark.driver.extraJavaOptions": jvm_options(dirs["tmp"]),
                "spark.local.dir": dirs["spark-local"],
                "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setCheckpointDir(dirs["checkpoint"])
    session_s = time.perf_counter() - t
    try:
        client = ScriptedClient()
        workload = WORKLOADS[args.workload](
            spark, dirs["inputs"], args.seed, args.seconds, args.scale,
            client=client, cache_path=os.path.join(run_dir, "functions.json"),
        )
        t = time.perf_counter()
        with span("sources.stage"):
            workload.stage()
        stage_s = time.perf_counter() - t
        candidates = instrument(tracer, workload, client) if tracer else []
        with span("warm_up"):
            outputs = [workload.warm_up()]
        setup_s = time.perf_counter() - T_START

        units = workload.units()
        calib = [calib_s()]
        calls_before = client.calls
        overhead_before = tracer.overhead_s if tracer else 0.0
        sc = spark.sparkContext
        jobs, times, rows, errors = [], [], 0, 0
        t_run = time.perf_counter()
        for i, spec in enumerate(units):
            if tracer:
                tracer.task_id = i
                sc.setJobGroup(f"unit-{i}", "benchmark unit")
            t = time.perf_counter()
            try:
                with span(workload.unit_span) as rec:
                    if isinstance(spec, TaskSpec):
                        rec["spec"] = repr(spec)
                    result = workload.run_unit(spec)
                rows += result.rows
                outputs.append(result)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                errors += 1
            times.append(time.perf_counter() - t)
            if tracer:
                jobs.append(len(sc.statusTracker().getJobIdsForGroup(f"unit-{i}")))
        run_s = time.perf_counter() - t_run
        calib.append(calib_s())

        attempted, failed = errors, errors
        for result in outputs:
            try:
                ops, bad = workload.check(result.output)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ops, bad = 1, 1
            if bad:
                print(f"check failed: {str(result.output)[:300]}", file=sys.stderr)
            attempted += ops
            failed += bad
        print(
            f"# host cores={cores} master={master} units={len(units)} "
            f"calib_before_s={calib[0]:.4f} calib_after_s={calib[1]:.4f}",
            flush=True,
        )

        if tracer:
            tracer.unpatch()
            metrics = per_layer(
                tracer, t_run, candidates, outputs,
                session_s=session_s, stage_s=stage_s, jobs=jobs, units=len(units),
                llm_calls=client.calls - calls_before,
                run_s=run_s, calib=calib, attempted=attempted, failed=failed,
                overhead_s=tracer.overhead_s - overhead_before,
            )
            units_of = PER_LAYER_UNITS
            os.makedirs(TRACE_DIR, exist_ok=True)
            tracer.write(os.path.join(TRACE_DIR, f"trace-{args.workload}-seed{args.seed}.jsonl"))
        else:
            metrics = {
                "setup_s": setup_s,
                "run_s": run_s,
                "task_s": statistics.median(times),
                "task_tail_s": percentile(times, TAIL_PCT),
                "rows_per_s": rows / run_s,
            }
            units_of = END_TO_END_UNITS
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units_of[k]} for k, v in metrics.items()},
        }
    finally:
        stop_spark(spark)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    os.makedirs(RUNS_DIR, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=RUNS_DIR)
    try:
        result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(RUNS_DIR)  # only succeeds when no other run is using it
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
