"""spark-swish benchmark: one seeded workload, measured end to end.

    python3 perfbench/run.py --workload html_bulk --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The workload's inputs are generated
from ``--seed`` in a child process and cached under ``.perfbench/`` by
workload, seed and generator version. With ``--trace 0`` the workload
runs as a closed loop (one job at a time, each run to completion) on
``local[nproc]`` for ``--seconds`` seconds after the workload's
WARM_REPS untimed repetitions, every repetition's output is checked, and
the end-to-end metrics are reported. On a virtual machine whose host is
busy, a repetition during which the host took more than STEAL_MAX of the
machine's CPU time (``steal`` in ``/proc/stat``) is disturbed: each
point of steal slowed a repetition by about four percent on a shared
4-vCPU machine. Disturbed repetitions are checked but left out of the
median, unless fewer than MIN_REPS were undisturbed: then the median is
taken over the MIN_REPS least disturbed ones. With ``--trace 1`` the
traced run (layers.py) reports the per-layer metrics instead.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
``failed`` counts repetitions that raised or failed their output check.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("html_bulk", "neardup_chain")
# untimed full-size repetitions before the clock starts: the first ones
# pay JIT and code-generation costs that later ones do not; on a 4-vCPU
# machine html_bulk's repetition times fell for about four, neardup_chain's
# for about three
WARM_REPS = {"html_bulk": 4, "neardup_chain": 3}
MIN_REPS = 3
STEAL_MAX = 0.02
MAX_REPS = 200
KEEP_INPUTS = 4  # cached inputs kept per workload


def _program_importable() -> str | None:
    """The engine must be importable from the checkout, else there is
    nothing to measure."""
    try:
        import libswish3_spark.pipeline  # noqa: F401
        import libswish3_spark.plans.checkpoint  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        return str(e)
    return None


def _prune_cache(workload: str, keep: str) -> None:
    dirs = [
        os.path.join(CACHE, d)
        for d in os.listdir(CACHE)
        if d.startswith(workload + "-seed") and not d.endswith(".tmp")
    ]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_INPUTS:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


def generate(workload: str, seed: int) -> str:
    """Generate (or reuse) the workload's inputs in a child process, so
    the generator's memory never counts as the Spark driver's."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
         "--seed", str(seed), "--cache", CACHE],
        check=True,
        stdout=subprocess.PIPE,
        text=True,
    ).stdout
    inp = out.strip().splitlines()[-1]
    os.utime(inp)
    _prune_cache(workload, inp)
    return inp


def host_ticks() -> tuple[int, int]:
    """(steal, all) CPU ticks of this machine since boot: steal is time
    its CPUs were ready to run but the host ran something else."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def measure(workload: str, inp: str, work: str, seconds: float) -> dict:
    """The untraced closed loop: set-up (session start plus the warm
    pass), the workload's WARM_REPS untimed full-size repetitions, then
    repetitions until ``seconds`` have passed and at least MIN_REPS ran;
    the median rate of the undisturbed repetitions is reported, or of the
    MIN_REPS least disturbed ones if fewer were undisturbed."""
    import jobs

    spark, runner, setup_s = jobs.timed_setup(workload, inp, work)
    reps, warm = [], []  # reps: (steal share, docs/s, seconds) of each timed one
    attempted = failed = 0

    def rep() -> float | None:
        nonlocal attempted, failed
        attempted += 1
        try:
            dt, summary = runner.run()
            runner.check(summary)
            return dt
        except Exception:
            failed += 1
            traceback.print_exc(file=sys.stderr)
            return None

    try:
        warm = [rep() for _ in range(WARM_REPS[workload])]
        t_end = time.perf_counter() + seconds
        while attempted < MAX_REPS:
            t0, (s0, a0) = time.perf_counter(), host_ticks()
            dt = rep()
            s1, a1 = host_ticks()
            share = (s1 - s0) / max(1, a1 - a0)
            if dt is not None:
                reps.append((share, runner.plants["docs"] / dt, dt))
            # stop once the clock has run out, or would have run out
            # halfway through the next repetition
            t = time.perf_counter()
            if attempted - len(warm) >= MIN_REPS and t + (t - t0) / 2 >= t_end:
                break
    finally:
        jobs.stop_session(spark)
    rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    chosen = [r for r in reps if r[0] <= STEAL_MAX]
    if len(chosen) < MIN_REPS:
        chosen = sorted(reps)[:MIN_REPS]
    rates = [r[1] for r in chosen]
    med = statistics.median(rates) if rates else 0.0
    q = statistics.quantiles(rates, n=4) if len(rates) > 1 else [med] * 3
    print(
        f"{workload}: {len(rates)} of {len(reps)} reps in the median; "
        f"docs/s median {med:.1f} quartiles {q[0]:.1f}..{q[2]:.1f}; "
        f"rep seconds {[round(r[2], 3) for r in reps]}; "
        f"steal shares {[round(r[0], 3) for r in reps]}; "
        f"warm-up {[round(t, 3) for t in warm if t is not None]}; set-up {setup_s:.3f}",
        file=sys.stderr,
    )
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "docs_per_s": metric(med, "1/s"),
            "setup_s": metric(setup_s, "s"),
            "driver_peak_rss_mb": metric(rss_mb, "MB"),
        },
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="spark-swish benchmark")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        x for x in (ROOT, os.environ.get("PYTHONPATH")) if x
    )
    missing = _program_importable()
    if missing:
        print(f"perfbench: the engine is not importable here: {missing}", file=sys.stderr)
        return 2

    os.makedirs(CACHE, exist_ok=True)
    work = os.path.join(CACHE, f"work-{os.getpid()}")
    os.makedirs(work)
    # the JVM and the Python workers inherit this: scratch files stay
    # inside the checkout
    os.environ["TMPDIR"] = work
    try:
        inp = generate(a.workload, a.seed)
        if a.trace:
            import layers

            result = layers.run(a.workload, inp, work, a.seconds)
        else:
            result = measure(a.workload, inp, work, a.seconds)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
