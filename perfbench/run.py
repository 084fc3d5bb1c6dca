"""Benchmark of the parse → route → aggregate pipeline on local[nproc].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds its inputs from the seed under
``perfbench/work/`` (removed on exit), drives the package only through its
public functions, checks every run's output against an independent
reference, and prints one JSON object as the last line of stdout:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
See ``perfbench/README.md`` for the workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
# untimed runs before measuring: the JIT settles after a number of runs, not
# of seconds, so a fixed time warms less when the host is slow
WARM_UP_RUNS = 12
WARM_UP_MAX_S = 25.0
WORKLOADS = ("bulk_counts", "deltas")


def parse_args():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def descendants() -> list[int]:
    """Every process below this one (the JVM and its Python workers)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    kids, frontier = [], [os.getpid()]
    while frontier:
        pid = frontier.pop()
        for c, pp in parent.items():
            if pp == pid:
                kids.append(c)
                frontier.append(c)
    return kids


def descendants_rss_mb() -> dict[str, float]:
    """Resident memory (MB) of the JVM and of its Python workers, from /proc.
    Summed as PSS, so pages a forked worker shares with the daemon it was
    forked from count once."""
    out = {"java": 0.0, "python": 0.0}
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/comm") as f:
                kind = "java" if f.read().strip() == "java" else "python"
            with open(f"/proc/{pid}/smaps_rollup") as f:
                pss_kb = next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, IndexError, ValueError, StopIteration):
            continue
        out[kind] += pss_kb / 1e3
    return out


class RssSampler:
    def __init__(self, interval: float = 0.5):
        self.peak = 0.0
        self.at_peak: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, args=(interval,), name="rss-sampler")

    def _sample(self) -> None:
        rss = descendants_rss_mb()
        if sum(rss.values()) > self.peak:
            self.peak, self.at_peak = sum(rss.values()), rss

    def _loop(self, interval: float) -> None:
        while not self._stop.wait(interval):
            self._sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


def session(work: str, evlog: str | None):
    from logparser_llm_spark.session import build_session

    conf = {
        # a heap fixed at its maximum, so the JVM's share of peak memory does
        # not follow the garbage collector's resizing from run to run
        "spark.driver.extraJavaOptions": f"-Xms{os.environ['SPARK_DRIVER_MEM']}",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if evlog:
        os.makedirs(evlog, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{evlog}",
            "spark.eventLog.compress": "false",
        })
    spark = build_session("perfbench", cores=len(os.sched_getaffinity(0)), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while descendants() and time.monotonic() < deadline:  # Python workers exit after the JVM
        time.sleep(0.1)


def cpu_jiffies() -> tuple[int, int]:
    """(busy, stolen) time of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


def unstolen(since: tuple[int, int]) -> float:
    """Share of the CPUs' busy time since ``since`` that the hypervisor did
    not steal. On a shared host the stolen share swings from a few percent to
    a quarter within minutes and stretches wall times with it; wall times
    are reported multiplied by this share, so they read as on a host that
    steals nothing."""
    busy, steal = (b - a for a, b in zip(since, cpu_jiffies()))
    return busy / (busy + steal) if busy + steal else 1.0


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum when that percentile would not be
    above the median (fewer than 21 samples)."""
    v = sorted(values)
    k = len(v) - 11
    if k < len(v) // 2:
        return v[-1], 100.0
    return v[k], 100.0 * (k + 1) / len(v)


def closed_run(spark, wl, out: str, probe=None) -> dict:
    """One timed run from a cold cache into a fresh output directory;
    ``probe()`` adds readings taken right after the run, before the check."""
    from workloads import dir_stats

    spark.catalog.clearCache()
    shutil.rmtree(out, ignore_errors=True)
    j0 = cpu_jiffies()
    t0 = time.perf_counter()
    result = wl.run(spark, out)
    wall = time.perf_counter() - t0
    kept = unstolen(j0)
    extra = probe() if probe else {}
    rec = wl.check(result, out)
    rec.update(extra)
    rec["s"], rec["raw_s"] = wall * kept, wall
    rec["out_mb"], rec["out_files"] = dir_stats(out)
    shutil.rmtree(out, ignore_errors=True)
    return rec


def warm_up(spark, wl, out: str) -> None:
    """``WARM_UP_RUNS`` untimed runs (fewer if ``WARM_UP_MAX_S`` passes
    first): run times keep falling for several runs while the JVM compiles
    the hot paths."""
    t_end = time.perf_counter() + WARM_UP_MAX_S
    for _ in range(WARM_UP_RUNS):
        closed_run(spark, wl, out)
        if time.perf_counter() >= t_end:
            return


def closed_loop(spark, wl, seconds: float, out: str, min_runs: int = 3) -> tuple[list[dict], int]:
    """Runs back to back for ``seconds`` (at least ``min_runs``); returns
    the checked runs and how many raised."""
    runs, raised = [], 0
    t_end = time.perf_counter() + seconds
    while len(runs) + raised < min_runs or time.perf_counter() < t_end:
        try:
            runs.append(closed_run(spark, wl, out))
        except Exception:  # a run that raises counts as failed; keep measuring
            traceback.print_exc()
            raised += 1
    return runs, raised


def end_to_end(args, wl, spark, work: str, setup_s: float) -> dict:
    with RssSampler() as rss:
        if wl.name == "deltas":
            wl.warm_up(spark)
            j0 = cpu_jiffies()
            win = wl.window(spark, args.seconds)
            kept = unstolen(j0)
            calls = win["calls"]
            latency = [s * kept for s in win["latency"]]
            attempted = max(1, len(win["files"]))
            failed = 0 if win["ok"] else attempted
            # not scaled: the loop answers steal by batching more deltas per
            # call, which already lowers the cost per line
            lines_per_s = sum(c["lines"] for c in calls) / sum(c["s"] for c in calls)
            ga, unknown_share = win["ga"], win["unknown_share"]
            detail = {"deltas": len(latency), "calls": len(calls), "rate_per_s": wl.rate,
                      "unstolen_share": kept, "raw_latency_p50_s": statistics.median(win["latency"]),
                      "generator_lag_max_s": max(win["lag"], default=0.0),
                      "failed_checks": win["failures"]}
        else:
            warm_up(spark, wl, f"{work}/out")
            runs, raised = closed_loop(spark, wl, args.seconds, f"{work}/out")
            attempted = len(runs) + raised
            failed = raised + sum(not r["ok"] for r in runs)
            latency = [r["s"] for r in runs]
            lines_per_s = wl.lines / statistics.median(latency)
            ga = statistics.median(r["ga"] for r in runs)
            unknown_share = sum(r["unknown"] for r in runs) / sum(r["total"] for r in runs)
            detail = {"runs_s": [round(s, 3) for s in latency],
                      "raw_runs_s": [round(r["raw_s"], 3) for r in runs]}
    p50 = statistics.median(latency)
    tail_v, tail_p = tail(latency)
    detail.update({"samples": len(latency), "tail_percentile": tail_p, "lines": wl.lines,
                   "rss_at_peak_mb": rss.at_peak})
    print(json.dumps({"detail": detail}))
    metrics = {
        "setup_s": (setup_s, "s"),
        "lines_per_s": (lines_per_s, "lines/s"),
        "latency_p50_s": (p50, "s"),
        "latency_tail_s": (tail_v, "s"),
        "peak_rss_mb": (rss.peak, "MB"),
        "ga": (ga, "ratio"),
        "unknown_share": (unknown_share, "ratio"),
    }
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main() -> int:
    args = parse_args()
    sys.path[:0] = [ROOT, HERE]
    # the package and the benchmark modules must import before anything
    # starts: without the package the benchmark fails here, printing nothing
    import logparser_llm_spark  # noqa: F401
    import workloads
    from deltas import DeltaWorkload

    work = f"{HERE}/work/{args.workload}-{args.seed}-{os.getpid()}"
    os.makedirs(work)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # keep every temporary file of the JVMs and Python workers in the work dir
    tmp = f"{work}/tmp"
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    evlog = f"{work}/evlog" if args.trace else None
    if args.workload == "deltas":
        wl = DeltaWorkload(work, args.seed, args.seconds)
    else:
        wl = workloads.BulkWorkload(work, args.seed)
    spark = None
    try:
        # set-up is repeated and its median reported; the first repetition
        # also boots the session
        setups = []
        for _ in range(SETUP_REPS):
            j0 = cpu_jiffies()
            t0 = time.perf_counter()
            spark = spark or session(work, evlog)
            wl.setup(spark)
            setups.append((time.perf_counter() - t0) * unstolen(j0))
        setup_s = statistics.median(setups)
        if args.trace:
            from traced import traced_run

            result = traced_run(args, wl, spark, work, evlog)
            spark = None  # traced_run stops the session to flush the event log
        else:
            result = end_to_end(args, wl, spark, work, setup_s)
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
