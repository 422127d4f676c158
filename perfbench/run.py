#!/usr/bin/env python3
"""rex_spark benchmark: one workload, timed end to end (or traced per layer).

    python3 perfbench/run.py --workload kg_store --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout (rex_spark/ next to perfbench/).
Set-up writes the workload's input tables from ``--seed`` (five times;
``setup_s`` is the median), computes the in-process gold digests (cached
under perfbench/.cache by input size, seed and a digest of the sources
they depend on) and warms the session up.  It then runs the workload in
a closed loop for about ``--seconds`` and checks every iteration's
outputs against the gold.  The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  A line before it carries per-iteration detail and host
facts.  Everything the run writes stays under perfbench/.work and
perfbench/.cache.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPS = 5
# sources the gold digests are computed from (see gold.source_digest)
GOLD_SOURCES = ("rex_spark", "tools", "perfbench/gold.py", "perfbench/workloads.py")
WARMUP_ITERATIONS = 1


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def mem_total_mb() -> int:
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def fit_host(work: str) -> dict:
    """Size the session to this host and keep every file it writes
    inside the work directory.  Must run before rex_spark.session is
    imported (it reads the environment at import time)."""
    cpus = len(os.sched_getaffinity(0))
    driver_mb = min(4096, mem_total_mb() // 4)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_mb}m",
        # Python workers import rex_spark from this checkout
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
    )
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }


def host_facts(cpus: str) -> dict:
    import pyspark

    sha = "unknown"
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        with open(head, encoding="ascii") as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            ref_path = os.path.join(ROOT, ".git", ref[5:])
            if os.path.exists(ref_path):
                with open(ref_path, encoding="ascii") as fh:
                    ref = fh.read().strip()
        sha = ref
    return {
        "nproc": int(cpus),
        "mem_total_mb": mem_total_mb(),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "git_sha": sha,
    }


class RssSampler(threading.Thread):
    """Resident memory of this process's descendants (the driver JVM,
    the Python worker daemons and their workers): every 0.25 s it sums
    VmRSS over the live descendants and keeps the largest sum since the
    last ``reset``.  psutil is not available, so /proc is read directly."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._stop_event = threading.Event()

    def reset(self) -> None:
        self.peak_kb = 0

    def _descendants(self) -> list:
        children: dict = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(pid))
        out, todo = [], [os.getpid()]
        while todo:
            for child in children.get(todo.pop(), ()):
                out.append(child)
                todo.append(child)
        return out

    def sample(self) -> None:
        total = 0
        for pid in self._descendants():
            try:
                with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as fh:
                    for line in fh:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        self.peak_kb = max(self.peak_kb, total)

    def run(self) -> None:
        while not self._stop_event.wait(0.25):
            self.sample()

    def stop(self) -> None:
        self._stop_event.set()
        self.join(timeout=5)


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run_iteration(workload, inputs: str):
    """One closed-loop iteration: (wall seconds, output digests, errors)."""
    t0 = time.perf_counter()
    got, errors = None, []
    try:
        got = workload.iterate(inputs)
    except Exception as exc:  # a failed run counts against the run, not the process
        errors = [f"{type(exc).__name__}: {exc}"]
    wall = time.perf_counter() - t0
    workload.cleanup()
    return wall, got, errors


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    if not os.path.isdir(os.path.join(ROOT, "rex_spark")):
        print(f"rex_spark/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(HERE, ".work", str(os.getpid()))
    conf = fit_host(work)
    from gold import DigestCache, source_digest
    from workloads import WORKLOADS, check

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    from rex_spark.session import get_session

    if args.trace:
        conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0"})
    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        phases = {"start": time.perf_counter() - T_START}
        spark = get_session(app_name=f"perfbench_{args.workload}", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        phases["session"] = time.perf_counter() - T_START
        workload = WORKLOADS[args.workload](spark, work, args.seed)
        inputs = os.path.join(work, "inputs")
        setup_reps = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            workload.build_inputs(inputs, workload.size)
            setup_reps.append(time.perf_counter() - t0)
        phases["inputs"] = time.perf_counter() - T_START

        cache = DigestCache(os.path.join(HERE, ".cache"), source_digest(ROOT, GOLD_SOURCES))
        with ThreadPoolExecutor(max_workers=1) as pool:
            # the gold computes on the driver while the warm-up
            # iterations run; the timed loop starts after both.  Warm-up
            # runs at full size: the number of Python workers the engine
            # spawns, and so their cold start, grows with the input.
            want_future = pool.submit(cache.get, workload.gold_key(), lambda: workload.gold(inputs))
            warm_runs = [run_iteration(workload, inputs) for _ in range(WARMUP_ITERATIONS)]
            want = want_future.result()
        workload.check_gold(want)
        phases["warmup"] = time.perf_counter() - T_START

        attempted, failed, errors, walls, peaks_mb = 0, 0, [], [], []

        def record(got, errs) -> bool:
            nonlocal attempted, failed
            errs = errs or check(got, want)
            attempted += 1
            failed += bool(errs)
            errors.extend(errs)
            return not errs

        for _wall, got, errs in warm_runs:
            record(got, errs)
        deadline = time.perf_counter() + args.seconds
        # at least two timed iterations, so one slow iteration is never
        # the whole median; past that, start another only while it would
        # end, at the current median pace, less than half an iteration late
        while (
            len(walls) < 2 or time.perf_counter() + statistics.median(walls) / 2 < deadline
        ) and failed < 3:
            sampler.reset()
            wall, got, errs = run_iteration(workload, inputs)
            if record(got, errs):
                walls.append(wall)
                peaks_mb.append(sampler.peak_kb / 1024.0)
        if not walls:
            raise RuntimeError(f"no iteration succeeded: {errors[:3]}")
        wall_s = statistics.median(walls)
        half = len(walls) // 2
        # > 1 when later iterations run slower than earlier ones (state
        # leaking across iterations, e.g. cached or checkpointed blocks)
        drift = statistics.median(walls[half:]) / statistics.median(walls[:half]) if half else 1.0
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "setup_reps_s": setup_reps,
            "warmup_walls_s": [run[0] for run in warm_runs],
            "walls_s": walls,
            "peak_rss_mb": peaks_mb,
            "drift": drift,
            "errors": errors[:10],
        }
        if args.trace:
            import layers

            metrics, traced_errors, spans = layers.traced_metrics(
                spark, workload, inputs, want, wall_s, drift
            )
            attempted += 1
            failed += bool(traced_errors)
            errors.extend(traced_errors)
            detail["spans"] = spans
        sampler.stop()
        if not args.trace:
            metrics = {
                "wall_s": {"value": wall_s, "unit": "s"},
                "throughput_rows_per_s": {"value": workload.rows() / wall_s, "unit": "rows/s"},
                "setup_s": {"value": statistics.median(setup_reps), "unit": "s"},
                # median over timed iterations of each one's peak
                "peak_rss_mb": {"value": statistics.median(peaks_mb), "unit": "MB"},
            }
        else:
            metrics = {k: {"value": v, "unit": layers.unit(k)} for k, v in metrics.items()}
        phases["measured"] = time.perf_counter() - T_START
        detail["phases_s"] = phases
        detail["host"] = host_facts(os.environ["SPARK_GRAFT_CPUS"])
        print(json.dumps(detail))
        print(
            json.dumps(
                {
                    "correct": not errors,
                    "attempted": attempted,
                    "failed": failed,
                    "metrics": metrics,
                }
            )
        )
        return 0
    finally:
        if sampler.is_alive():
            sampler.stop()
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
