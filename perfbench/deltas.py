"""Open-loop incremental workload over ``plans.checkpoint.run_resumable``.

One generator thread lands pre-generated delta files into the input
directory by atomic rename, on a fixed schedule that does not slow when the
consumer does. The consumer calls ``run_resumable`` back to back; a slow
call makes the next one pick up several deltas, so backlog shows as
latency, measured from each delta's due time to the return of the call
that published its counts.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from contextlib import nullcontext

import duckdb

from logparser_llm_spark.plans import checkpoint
from logparser_llm_spark.plans.queries import VALID_SQL, clean_sql

import corpus
from reference import grouping_accuracy

RATE = 1.5          # deltas landed per second (open loop, one generator thread)
WARM_UP_S = 5.0     # an untimed window before the measured one
BASE_PAGES = 1_000  # bootstrap corpus, 4 files
DELTA_PAGES = 100   # ~250 lines per delta
NOVEL_PER_DELTA = 3  # ~1% of a delta's lines come from a template never seen before


class DeltaWorkload:
    name = "deltas"
    rate = RATE

    def __init__(self, work: str, seed: int, seconds: float):
        self.work, self.seed = work, seed
        self.n_deltas = int(RATE * max(seconds, WARM_UP_S)) + 4
        self.state = f"{work}/state"

    def setup(self, spark) -> None:
        w = self.work
        for d in ("base", "stage", "labels", "boot", "state"):
            shutil.rmtree(f"{w}/{d}", ignore_errors=True)
        self.staged = corpus.delta_files(
            self.seed, BASE_PAGES, self.n_deltas, DELTA_PAGES, NOVEL_PER_DELTA,
            f"{w}/base", f"{w}/stage", f"{w}/labels",
        )
        con = duckdb.connect()
        self.rows, self.invalid = {}, {}
        for name, n, bad in con.execute(
            f"select parse_filename(filename), count(*), count(*) filter (where not "
            f"{VALID_SQL.format(c=clean_sql('text'))}) from read_parquet("
            f"['{w}/base/*.parquet', '{w}/stage/*.parquet'], filename = true) group by 1"
        ).fetchall():
            self.rows[name], self.invalid[name] = n, bad
        con.close()
        # the manifest keys files by path, so every window runs in the
        # same directory, restored from the bootstrapped copy
        shutil.rmtree(self.state, ignore_errors=True)
        shutil.copytree(f"{w}/base", f"{self.state}/input")
        checkpoint.run_resumable(spark, f"{self.state}/input", f"{self.state}/ck", f"{self.state}/out")
        shutil.copytree(self.state, f"{w}/boot")
        self.pool0 = checkpoint.Checkpoint.load(f"{w}/boot/ck").pool
        self.lines = sum(self.rows.values())

    def restore(self) -> str:
        """Reset the state directory to the bootstrapped copy."""
        win = self.state
        shutil.rmtree(win, ignore_errors=True)
        shutil.copytree(f"{self.work}/boot", win)
        shutil.copytree(f"{self.work}/stage", f"{win}/stage")
        return win

    def warm_up(self, spark) -> None:
        self.window(spark, WARM_UP_S, drain=False)

    def window(self, spark, seconds: float, around_call=None, drain: bool = True) -> dict:
        """Run the open loop for ``seconds``, then drain the backlog and
        check the output (without ``drain``, stop at the first call that
        ends after ``seconds`` and return nothing). ``around_call(i)``, if
        given, is a context manager entered around the i-th
        ``run_resumable`` call; its value is recorded as the call's
        ``tag``."""
        win = self.restore()
        landed: dict[str, float] = {}  # file name -> due time
        lag: list[float] = []
        lock, wake, stop = threading.Lock(), threading.Event(), threading.Event()
        t_start = time.monotonic() + 0.05
        t_end = t_start + seconds

        def generate():
            for i, p in enumerate(self.staged):
                due = t_start + i / RATE
                if due >= t_end or stop.wait(max(0.0, due - time.monotonic())):
                    return
                name = os.path.basename(p)
                os.rename(f"{win}/stage/{name}", f"{win}/input/{name}")
                with lock:
                    landed[name] = due
                    lag.append(time.monotonic() - due)
                wake.set()

        gen = threading.Thread(target=generate, name="delta-generator")
        gen.start()
        latency, calls, done = [], [], set()
        try:
            while True:
                now = time.monotonic()
                if now >= t_end and not drain:
                    break
                if now >= t_end and not gen.is_alive():
                    with lock:
                        if done >= set(landed):
                            break
                elif now < t_end:
                    wake.wait(max(0.0, t_end - now))
                wake.clear()
                with lock:
                    pending = set(landed) - done
                if not pending:
                    continue
                with around_call(len(calls)) if around_call else nullcontext() as tag:
                    t0 = time.monotonic()
                    res = checkpoint.run_resumable(spark, f"{win}/input", f"{win}/ck", f"{win}/out")
                    t1 = time.monotonic()
                names = [os.path.basename(f) for f in res["processed"]]
                with lock:
                    latency.extend(t1 - landed[n] for n in names)
                done.update(names)
                calls.append({"s": t1 - t0, "files": len(names), "tag": tag,
                              "lines": sum(self.rows[n] for n in names), "pool": res["pool_size"]})
        finally:
            stop.set()
            gen.join()
        if not drain:
            return {}
        out = {"latency": latency, "calls": calls, "lag": lag, "files": sorted(done), "dir": win}
        out.update(self.check(win, sorted(done)))
        return out

    def check(self, win: str, files: list[str]) -> dict:
        """Conservation, per-file lineage, stable bootstrap ids, and GA."""
        ck = checkpoint.Checkpoint.load(f"{win}/ck")
        by_name = {os.path.basename(k): v for k, v in ck.completed.items()}
        all_files = [*(n for n in self.rows if n.startswith("base")), *files]
        expect_total = sum(self.rows[n] for n in all_files)
        expect_unknown = sum(self.invalid[n] for n in all_files)
        con = duckdb.connect()
        total, unknown = con.execute(
            "select sum(doc_count), coalesce(sum(doc_count) filter (where template_id = 'unknown'), 0) "
            f"from read_parquet('{win}/out/counts/*.parquet')"
        ).fetchone()
        con.execute(
            "create table s as select url, line_no, template_id from "
            f"read_parquet('{win}/out/sinks/**/*.parquet', hive_partitioning = true)"
        )
        ga = grouping_accuracy(con, "s", "template_id", f"{self.work}/labels/*.parquet")
        sink_rows = con.execute("select count(*) from s").fetchone()[0]
        con.close()
        stable = [(t["template_id"], t["pattern"]) for t in ck.pool[: len(self.pool0)]] == [
            (t["template_id"], t["pattern"]) for t in self.pool0
        ]
        # per-run totals, not per file: the manifest's per-file counters
        # (input_file_name() after the joins) can charge one file's rows to
        # another file read in the same run
        lineage_ok = set(all_files) <= set(by_name) and (
            sum(by_name[n]["rows_total"] for n in all_files),
            sum(by_name[n]["rows_unknown"] for n in all_files),
        ) == (expect_total, expect_unknown)
        failures = [name for name, good in (
            ("conservation", total == expect_total == sink_rows),
            ("unknown", unknown == expect_unknown),
            ("stable_ids", stable),
            ("lineage", lineage_ok),
        ) if not good]
        ok = not failures
        delta_rows = sum(by_name[n]["rows_total"] for n in files if n in by_name)
        delta_unknown = sum(by_name[n]["rows_unknown"] for n in files if n in by_name)
        return {
            "ok": ok, "failures": failures, "ga": ga,
            "unknown_share": delta_unknown / delta_rows if delta_rows else 0.0,
            "new_templates": len(ck.pool) - len(self.pool0),
        }

