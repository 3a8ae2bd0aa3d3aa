"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload <doc_write|search_serve|analytics>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The engine runs as users get it:
``session.get_spark(cpus=<nproc>)`` with no Spark conf set here, one
process, one closed-loop client (each op waits for its reply).

A run: generate inputs from the seed (untimed; the sf0.1 tables come from
a fixed seed and are cached under ``.perfbench/``), set up (session start,
store builds, one warm-up cycle: ``setup_s``), then run whole cycles of
the workload's ops until ``--seconds`` of op time are spent, then check
every collected result (untimed). With ``--trace 0`` it prints the
end-to-end metrics; with ``--trace 1`` it runs the same ops traced and
prints the per-layer metrics (names in ``BENCHMARK.json``).

Everything the run writes goes under ``.perfbench/run-<pid>/`` (a private
TMPDIR for the engine's store directories and streaming checkpoints,
Spark local dirs, JVM temp), removed when the run ends. A traced run also
leaves its spans in ``.perfbench/spans-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

import gen
import spans
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

END_TO_END = (
    ("setup_s", "s"),
    ("latency_p50_ms", "ms"),
    ("latency_p95_ms", "ms"),
    ("ops_per_s", "1/s"),
    ("docs_per_s", "1/s"),
    ("store_bytes_per_input_byte", "ratio"),
)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def prepare_env() -> str:
    """Private temp and Spark dirs inside the checkout; workers import
    the package from the checkout whatever the cwd."""
    os.makedirs(STATE, exist_ok=True)
    for name in os.listdir(STATE):  # leftovers of killed runs
        if name.startswith("run-") and not _alive(int(name[4:])):
            shutil.rmtree(os.path.join(STATE, name), ignore_errors=True)
    run_dir = os.path.join(STATE, f"run-{os.getpid()}")
    for sub in ("tmp", "spark-local", "jvm-tmp", "work"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'jvm-tmp')} -XX:-UsePerfData"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, ROOT)
    return run_dir


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    try:
        proc.stdin.close()
    except OSError:
        pass
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args) -> dict:
    run_dir = prepare_env()
    tmp = os.environ["TMPDIR"]
    work = os.path.join(run_dir, "work")
    try:
        # a directory without the engine fails here, before any output
        from bigdataindexing_spark.session import get_spark

        t0 = time.perf_counter()
        sf_dir = gen.write_tables(os.path.join(STATE, "data"))
        wl = WORKLOADS[args.workload](args.seed, sf_dir, work)
        gen_s = time.perf_counter() - t0
        print(f"input generation: {gen_s:.2f} s", file=sys.stderr)

        setup_start = time.perf_counter()
        spark = get_spark(cpus=nproc())
        session_s = time.perf_counter() - setup_start
        try:
            return measure(args, spark, wl, tmp, work, setup_start, session_s)
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, spark, wl, tmp, work, setup_start, session_s) -> dict:
    runner = spans.Runner(spark, bool(args.trace), tmp)
    wl.setup(spark, runner)
    setup_s = time.perf_counter() - setup_start
    print(f"setup: {setup_s:.2f} s (session {session_s:.2f} s)", file=sys.stderr)

    # a fixed op count per run, calibrated so the loop lasts about
    # --seconds at HEAD on a 4-core host: both sides of an A/B run the
    # same ops, and a faster engine shows as lower latency, not more ops
    n_cycles = max(1, round(args.seconds / wl.cycle_s))
    rng = random.Random(args.seed * 7919 + 1)
    stores_before = spans.store_dirs(tmp)
    files_before, _ = spans.dir_stats(work)
    ckpt_before = spans.store_dirs(tmp, "ckpt_")
    docs_before = getattr(wl, "docs_done", 0)
    results, failed = [], 0
    for _ in range(n_cycles):
        for layer, name, fn in wl.cycle(rng):
            try:
                out = runner.op(layer, name, fn)
            except Exception:  # a failed op counts, the run goes on
                failed += 1
                print(f"op {name} failed:\n{traceback.format_exc()}", file=sys.stderr)
                continue
            if out is not None:
                results.append(out)
    lat = [x for _, x in runner.latencies.values()]
    busy = sum(lat)

    t_check = time.perf_counter()
    wrong = wl.check(spark, results)
    print(f"check: {time.perf_counter() - t_check:.2f} s", file=sys.stderr)
    session_store_bytes = sum(spans.dir_stats(os.path.join(tmp, d))[1] for d in spans.store_dirs(tmp))
    # docs written (doc_write) or rows served (the read workloads)
    docs = getattr(wl, "docs_done", 0) - docs_before or sum(_rows(r) for r in results)
    metrics = {
        "setup_s": setup_s,
        "latency_p50_ms": 1000 * statistics.median(lat),
        "latency_p95_ms": 1000 * statistics.quantiles(lat, n=20, method="inclusive")[18],
        "ops_per_s": len(lat) / busy,
        "docs_per_s": docs / busy,
        "store_bytes_per_input_byte": (wl.store_bytes() + session_store_bytes) / wl.input_bytes(),
    }
    print(f"loop: {len(lat)} ops in {busy:.2f} s, {failed} failed, {wrong} wrong", file=sys.stderr)
    if args.trace:
        ckpts = spans.store_dirs(tmp, "ckpt_") - ckpt_before
        files_after, _ = spans.dir_stats(work)
        extra = {
            "stores.builds": len(spans.store_dirs(tmp) - stores_before),
            "stores.bytes": session_store_bytes,
            "streaming.ckpt_dirs": len(ckpts),
            "streaming.ckpt_bytes": sum(spans.dir_stats(os.path.join(tmp, d))[1] for d in ckpts),
            "io.files_written": max(files_after - files_before, 0),
            "memory.peak_rss_mb": (vm_hwm_kb(jvm_pid()) + vm_hwm_kb("self")) / 1024,
        }
        out = runner.layer_metrics(set(runner.latencies), session_s, busy, extra)
        runner.write_spans(os.path.join(STATE, f"spans-{args.workload}-{args.seed}.jsonl"))
        units = dict(spans.per_layer_names())
        metrics_out = {k: {"value": v, "unit": units[k]} for k, v in out.items()}
    else:
        units = dict(END_TO_END)
        metrics_out = {k: {"value": metrics[k], "unit": units[k]} for k, _ in END_TO_END}
    return {
        "correct": failed == 0 and wrong == 0,
        "attempted": len(lat),
        "failed": failed + wrong,
        "metrics": metrics_out,
    }


def _rows(result) -> int:
    body = result[1]
    rows = body[1] if isinstance(body, tuple) else body
    return len(rows)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("doc_write", "search_serve", "analytics"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # a kill runs the cleanup in run(): stop the JVM, remove the run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t0 = time.perf_counter()
    result = run(args)
    print(f"run: {time.perf_counter() - t0:.2f} s", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
