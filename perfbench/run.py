"""tsmp_spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload mp_tier_synth --seed 1 --seconds 10 --trace 0

Run from the repository root (any cwd works; the repository is located
from this file). ``--trace 0`` times closed-loop iterations of the
workload with no tracing and prints the end-to-end metrics of
``BENCHMARK.json``; ``--trace 1`` is a separate run that forces every
layer on its own under a span and prints the per-layer metrics. Both
check every iteration's output. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
record the host, the sample counts and where the spans were written.
``--size tiny`` shrinks every input for the smoke test.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import harness
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def info(**kv) -> None:
    print(json.dumps(kv), flush=True)


class Bench:
    def __init__(self, args, conf: dict[str, str]) -> None:
        self.args = args
        self.conf = conf
        self.cpus = len(os.sched_getaffinity(0))
        self.work = os.path.dirname(conf["spark.local.dir"])
        self.wl = workloads.WORKLOADS[args.workload](args.seed, args.size, os.path.join(self.work, "inputs"))
        self.spark = None
        self.attempted = self.failed = 0
        self.max_pinned = 0
        self.tmp_left = 0
        self.rss_peaks: list[int] = []

    # -- setup ---------------------------------------------------------------

    def setup(self) -> None:
        """Session start, input generation and one warm-up iteration: what
        a fresh process pays before its first iteration, including the JVM
        launch, the Python workers' start and the first compilation of
        every plan. It happens once per process, so it is measured once
        per run."""
        t0 = time.perf_counter()
        self.spark = harness.start_session(self.cpus, self.conf)
        t1 = time.perf_counter()
        self.wl.generate(self.spark)
        t2 = time.perf_counter()
        self.iteration(None, check=False)
        t3 = time.perf_counter()
        self.setup_times = {"session_s": t1 - t0, "generate_s": t2 - t1, "warm_s": t3 - t2, "total_s": t3 - t0}
        self.baseline_pinned = harness.persistent_rdds(self.spark)

    # -- one iteration ---------------------------------------------------------

    def iteration(self, tracer: harness.Tracer | None, check: bool = True) -> tuple[float, workloads.Outcome | None]:
        """Run, time and check one iteration, then restore a clean state:
        release every cache, delete the output dir, count leftovers."""
        from tsmp_spark.operators.cache import release_caches

        out_dir = workloads.fresh_dir(os.path.join(self.work, "out"))
        step = workloads.Step(self.spark, tracer)
        outcome, problems = None, []
        t0 = time.perf_counter()
        try:
            if tracer is None:
                outcome = self.wl.iterate(step, out_dir)
            else:
                with tracer.span("iteration"):
                    outcome = self.wl.iterate(step, out_dir)
        except Exception:
            traceback.print_exc()
            problems = ["iteration raised"]
        elapsed = time.perf_counter() - t0
        if outcome is not None and check:
            try:
                problems = outcome.verify()
            except Exception:
                traceback.print_exc()
                problems = ["output check raised"]
        step.release()
        release_caches()
        shutil.rmtree(out_dir, ignore_errors=True)
        if check:
            self.attempted += 1
            self.failed += bool(problems)
            for p in problems:
                print(f"check failed: {self.args.workload}: {p}", file=sys.stderr)
            self.max_pinned = max(self.max_pinned, harness.persistent_rdds(self.spark) - self.baseline_pinned)
            tmp = tempfile.gettempdir()
            for name in os.listdir(tmp):
                if name.startswith("tsmp_"):
                    self.tmp_left += 1
                    shutil.rmtree(os.path.join(tmp, name), ignore_errors=True)
        return elapsed, outcome

    def loop(self, seconds: float, tracer: harness.Tracer | None = None,
             rss: harness.RssSampler | None = None) -> tuple[list[float], workloads.Outcome]:
        """Closed loop, one client: iterations back to back until
        ``seconds`` have passed (at least one iteration). With ``rss``,
        each iteration's peak process-tree RSS goes to ``self.rss_peaks``."""
        times, last = [], None
        end = time.perf_counter() + seconds
        if rss is not None:
            rss.take_peak()
        while True:
            if tracer is not None:
                tracer.iteration += 1
            dt, outcome = self.iteration(tracer)
            times.append(dt)
            if rss is not None:
                self.rss_peaks.append(rss.take_peak())
            last = outcome or last
            if time.perf_counter() >= end:
                break
        if last is None:
            raise RuntimeError("no iteration completed")
        return times, last

    # -- the two kinds of run ----------------------------------------------------

    def timed(self) -> dict:
        with harness.RssSampler() as rss:
            times, out = self.loop(self.args.seconds, rss=rss)
        p50 = statistics.median(times)
        rolled = out.tier1 + out.tier2
        info(samples=len(times), iter_s=times)
        return {
            "setup_s": (self.setup_times["total_s"], "s"),
            "iter_s_p50": (p50, "s"),
            "mp_windows_per_s": (out.windows / p50, "1/s"),
            "rolled_points_per_s": (rolled / p50, "1/s"),
            "stored_bytes_per_point": (out.stored_bytes / rolled, "B"),
            "peak_rss_mb": (statistics.median(self.rss_peaks) / 1024, "MB"),
            "ok_frac": ((self.attempted - self.failed) / self.attempted, "frac"),
        }

    def traced(self) -> dict:
        half = self.args.seconds / 2
        plain, _ = self.loop(half)
        tracer = harness.Tracer()
        with harness.RssSampler() as rss:
            traced_times, out = self.loop(half, tracer)
            # planning alone: build the lazy pipeline and plan it, unexecuted
            for it in range(len(traced_times)):
                tracer.iteration = it
                with tracer.span("spark.plan"):
                    for df in self.wl.plan():
                        df._jdf.queryExecution().executedPlan()
        serial_s, pairs = self.wl.serial_ceiling()
        self.write_spans(tracer)
        info(samples_untraced=len(plain), samples_traced=len(traced_times))

        m = tracer.median
        plain_p50 = statistics.median(plain)

        def mp(key: str | None = None) -> float:
            """Both kernel paths: the per-series kernel and the diagonal chunks."""
            return m("matrix_profile", key) + m("matrix_profile.chunked", key)

        kernel_s = mp()
        rollups = ("rollup.tier", "rollup.rollup", "rollup.gapfill")
        ck_total = statistics.median(
            [s.end - s.start for s in tracer.spans if s.name == "checkpoint.run"] or [0.0])
        metrics = {
            "session.start_s": (self.setup_times["session_s"], "s"),
            "fixtures.generate_s": (self.setup_times["generate_s"], "s"),
            "spark.warm_s": (self.setup_times["warm_s"] - plain_p50, "s"),
            "spark.plan_s": (m("spark.plan"), "s"),
            "mpcore.serial_s": (serial_s, "s"),
            "mpcore.pairs": (pairs, "count"),
            "mpcore.ns_per_pair": (serial_s / pairs * 1e9 if pairs else 0.0, "ns"),
            "matrix_profile.kernel_s": (kernel_s, "s"),
            "matrix_profile.vs_ceiling": (serial_s / self.cpus / kernel_s if kernel_s else 0.0, "ratio"),
            "matrix_profile.chunked_s": (m("matrix_profile.chunked"), "s"),
            "matrix_profile.python_init_ms": (mp("python.init_ms"), "ms"),
            "matrix_profile.python_total_ms": (mp("python.total_ms"), "ms"),
            "matrix_profile.arrow_bytes_sent": (mp("python.bytes_sent"), "B"),
            "matrix_profile.arrow_bytes_received": (mp("python.bytes_received"), "B"),
            "matrix_profile.task_max_ms": (m("matrix_profile", "task_max_ms"), "ms"),
            "matrix_profile.task_median_ms": (m("matrix_profile", "task_median_ms"), "ms"),
            "matrix_profile.store_write_s": (m("matrix_profile.store_write"), "s"),
            "matrix_profile.store_bytes": (m("matrix_profile.store_write", "store_bytes"), "B"),
            "matrix_profile.worker_peak_rss_mb": (rss.peak_worker_kb / 1024, "MB"),
            "series.events_to_nested_s": (m("series.events_to_nested"), "s"),
            "series.shuffle_bytes": (m("series.events_to_nested", "exchange.bytes_written"), "B"),
            "rollup.tier_s": (m("rollup.tier"), "s"),
            "rollup.rollup_s": (m("rollup.rollup"), "s"),
            "rollup.gapfill_s": (m("rollup.gapfill"), "s"),
            "rollup.shuffle_bytes_written": (sum(m(r, "exchange.bytes_written") for r in rollups), "B"),
            "rollup.shuffle_write_ms": (sum(m(r, "exchange.write_ms") for r in rollups), "ms"),
            "rollup.spill_bytes": (sum(m(r, "spill_bytes") for r in rollups), "B"),
            "rollup.rows_in_per_row_out": (
                out.windows / out.tier1 if out.tier1 and m("rollup.tier") else 0.0, "ratio"),
            "checkpoint.run_s": (m("checkpoint.run"), "s"),
            "checkpoint.manifest_s": (max(ck_total - m("checkpoint.run", "parts_s"), 0.0), "s"),
            "checkpoint.bytes_written": (m("checkpoint.run", "bytes"), "B"),
            "sink.write_s": (m("sink.write"), "s"),
            "sink.bytes": (m("sink.write", "bytes"), "B"),
            "sink.files": (m("sink.write", "files"), "count"),
            "codecs.pack_s": (m("codecs.pack"), "s"),
            "codecs.ns_per_point": (
                m("codecs.pack") / m("codecs.pack", "points") * 1e9 if m("codecs.pack", "points") else 0.0, "ns"),
            "codecs.bytes_per_point": (
                m("codecs.pack", "bytes") / m("codecs.pack", "points") if m("codecs.pack", "points") else 0.0, "B"),
            "cache.pinned_rdds_after_iter": (self.max_pinned, "count"),
            "cache.tmp_dirs_left": (self.tmp_left, "count"),
            "trace.iter_s_p50": (statistics.median(traced_times), "s"),
            "trace.overhead_s": (statistics.median(traced_times) - plain_p50, "s"),
        }
        return metrics

    def write_spans(self, tracer: harness.Tracer) -> None:
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"spans_{self.args.workload}_seed{self.args.seed}.json")
        with open(path, "w") as f:
            json.dump(tracer.dump(), f)
        info(spans=os.path.relpath(path, ROOT))

    def close(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the launcher JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse(sys.argv[1:] if argv is None else argv)
    if not os.path.isdir(os.path.join(ROOT, "tsmp_spark")):
        print(f"tsmp_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    conf = harness.prepare_env(ROOT, work)
    info(host=harness.host_facts(args.seed), workload=args.workload, size=args.size,
         seconds=args.seconds, trace=args.trace)
    bench = Bench(args, conf)
    try:
        bench.setup()
        bench.wl.references()  # outside setup_s
        metrics = bench.traced() if args.trace else bench.timed()
        info(setup=bench.setup_times)
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
