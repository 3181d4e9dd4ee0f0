"""End-to-end benchmark of the yago4_spark KG build and document front end.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the repository root. One run:

1. generates the workload's inputs from ``--seed`` without Spark
   (``gen_s``, not set-up);
2. starts the SparkSession; ``setup_s`` is the time from process start
   to the first iteration, less ``gen_s``;
3. runs one warm-up iteration (``warmup_s``) in the fresh JVM and checks
   its outputs against an independent oracle;
4. runs timed iterations for ``--seconds`` seconds of iteration time (at
   least one). Every one must reproduce the verified row counts and
   hashes. ``kg_build`` makes only the warm-up iteration and times it.

With ``--trace 1`` the timed iterations are traced: ``spans.py`` wraps
the program's layer entry points and the run reports per-layer metrics
and the tracer's own share of the iteration time.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. The line before it lists every
end-to-end metric with its unit and sample count.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
HELD_OUT_SEED = 90210   # never used while tuning; for confirming claims

# name → unit, in the order BENCHMARK.json lists them. The text line also
# reports warmup_s (with --seconds below the first iteration's time it
# repeats run_s) and failed_frac (0 on a healthy run; the JSON carries
# it as failed/attempted).
END_TO_END = {
    "run_s": "s", "rows_per_s": "rows/s", "setup_s": "s",
    "peak_rss_mb": "MB", "executor_cpu_s": "s", "shuffle_mb": "MB",
}


def host_session(work: Path):
    """A SparkSession sized to this host: at most 4 local cores, shuffle
    partitions = cores, driver heap a quarter of RAM (at most 2 GB), a
    status store that keeps every stage of a run, and scratch space
    inside ``work``."""
    from yago4_spark.session import get_spark

    cores = min(len(os.sched_getaffinity(0)), 4)
    with open("/proc/meminfo") as f:
        ram_gb = int(f.readline().split()[1]) / 2**20
    heap_gb = max(1, min(2, int(ram_gb // 4)))
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": f"{heap_gb}g",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit: it ends on EOF of its
    stdin, which PySpark holds open until the gateway closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def process_start() -> float:
    """Wall-clock time this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - ticks / os.sysconf("SC_CLK_TCK"))


class Runner:
    def __init__(self, args, work: Path) -> None:
        from workloads import WORKLOADS

        self.args = args
        self.work = work
        self.wl = WORKLOADS[args.workload](args.seed, work)
        self.n_iter = 0
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.verified = False
        self.check_s = 0.0
        self.expected = None

    def setup(self) -> None:
        """Generate the inputs (``gen_s``), then start Spark; ``setup_s``
        is the time from process start to here, less ``gen_s``."""
        t0 = time.time()
        self.wl.generate()
        self.gen_s = time.time() - t0
        self.spark = host_session(self.work)
        self.setup_s = time.time() - process_start() - self.gen_s

    def iteration(self, traced: bool, sampler, seconds: float):
        """One iteration; returns its timing, counters, spans and status
        harvest, or None when it raised or its outputs were wrong."""
        from spans import Tracer, layer_metrics
        from status import cached_mb

        from yago4_spark.operators.cache import release_all

        it_dir = self.work / f"it{self.n_iter}"
        self.n_iter += 1
        self.attempted += 1
        tracer = Tracer()
        try:
            if sampler:
                sampler.start()
            t0 = time.time()
            if traced:
                with tracer.installed():
                    result = self.wl.iterate(self.spark, tracer, it_dir)
            else:
                result = self.wl.iterate(self.spark, tracer, it_dir)
            t1 = time.time()
            if sampler:
                sampler.stop()
            harvest = self.store.harvest(detail_in=[(t0, t1)] if traced else [])
            if not self.verified:
                self.verified = True
                self.problems = self.wl.verify(self.spark, result)
                ok = not self.problems
                if t1 - t0 < seconds:   # more iterations follow (see run)
                    self.expected = self.wl.fingerprints(self.spark, result)
                self.check_s = time.time() - t1
            else:
                fps = self.wl.fingerprints(self.spark, result)
                ok = fps == self.expected
                if not ok:
                    self.problems.append(
                        f"iteration {self.n_iter}: outputs differ from the "
                        f"verified ones: {fps} vs {self.expected}")
            layers = None
            if traced:
                layers = layer_metrics(tracer, harvest)
                self.wl.trace_extras(result, layers)
            release_all()
            if traced and self.wl.holds_pipeline_cache:
                layers["pipeline.cached_mb"] = cached_mb(self.spark)
            self.spark.catalog.clearCache()
        except Exception:  # an iteration failure is a measured outcome
            traceback.print_exc()
            self.failed += 1
            return None
        finally:
            shutil.rmtree(it_dir, ignore_errors=True)
        if not ok:
            self.failed += 1
            return None
        cpu = sum(s["executorCpuTime"] for s in harvest.stages
                  if s["start"] is not None and s["start"] >= t0 - 0.001) / 1e9
        shuffle = sum(s["shuffleWriteBytes"] for s in harvest.stages
                      if s["start"] is not None
                      and s["start"] >= t0 - 0.001) / 1e6
        return {"s": t1 - t0, "cpu": cpu, "shuffle": shuffle,
                "tracer": tracer, "layers": layers}

    def run(self) -> dict:
        """Set up, then run the warm-up iteration. If it alone takes
        ``--seconds`` it is the one timed sample; otherwise timed
        iterations follow it for ``--seconds`` (at least one). With
        ``--trace 1`` every iteration is traced."""
        from status import RssSampler, StatusStore

        self.setup()
        trace = bool(self.args.trace)
        sampler = RssSampler()
        timed = []
        try:
            self.store = StatusStore(self.spark)
            warm = self.iteration(trace, sampler, self.args.seconds)
            self.warmup_s = warm["s"] if warm else 0.0
            if warm and warm["s"] >= self.args.seconds:
                timed = [warm]
            elif warm:
                sampler.peaks.clear()
                spent = 0.0
                while spent < self.args.seconds or not timed:
                    rec = self.iteration(trace, sampler, self.args.seconds)
                    if rec is None:
                        break
                    timed.append(rec)
                    spent += rec["s"]
        finally:
            sampler.close()
            t0 = time.time()
            stop_session(self.spark)
            self.stop_s = time.time() - t0
        return self.report(timed, sampler.peaks)

    def report(self, timed, rss_peaks) -> dict:
        run_s = median([r["s"] for r in timed])
        e2e = {
            "run_s": run_s,
            "rows_per_s": self.wl.input_rows / run_s if run_s else 0.0,
            "setup_s": self.setup_s,
            "peak_rss_mb": median(rss_peaks),
            "executor_cpu_s": median([r["cpu"] for r in timed]),
            "shuffle_mb": median([r["shuffle"] for r in timed]),
        }
        failed_frac = self.failed / self.attempted if self.attempted else 1.0
        shown = {**e2e, "warmup_s": self.warmup_s, "failed_frac": failed_frac}
        units = {**END_TO_END, "warmup_s": "s", "failed_frac": "ratio"}
        samples = dict.fromkeys(e2e, len(timed))
        samples.update(setup_s=1, warmup_s=1, peak_rss_mb=len(rss_peaks),
                       failed_frac=self.attempted)
        print(f"perfbench {self.wl.name} seed={self.args.seed} "
              f"trace={self.args.trace} "
              f"input={self.wl.input_rows} {self.wl.input_unit} "
              f"gen_s={self.gen_s:.3f} stop_s={self.stop_s:.3f} "
              f"check_s={self.check_s:.3f} iterations="
              f"{[round(r['s'], 3) for r in timed]} "
              f"held_out_seed={HELD_OUT_SEED}: " + ", ".join(
                  f"{k}={v:.4g} {units[k]} (n={samples[k]})"
                  for k, v in shown.items()))
        for p in self.problems:
            print(f"perfbench check failed: {p}", file=sys.stderr)

        if self.args.trace:
            metrics = {k: {"value": v, "unit": u}
                       for k, (v, u) in self.layer_report(timed).items()}
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]}
                       for k, v in e2e.items()}
        return {"correct": not self.problems and self.failed == 0
                and bool(timed),
                "attempted": self.attempted, "failed": self.failed,
                "metrics": metrics}

    def layer_report(self, traced) -> dict[str, tuple[float, str]]:
        from spans import empty_layer_metrics, layer_of, union

        per_iter = [rec["layers"] for rec in traced]
        attributed = []
        for rec in traced:
            # share of the iteration inside named layer spans (the
            # pipeline span itself counts only through its children)
            spans = rec["tracer"].spans
            top = [(s.start, s.end) for s in spans
                   if layer_of(s.name) != "pipeline" and (
                       s.parent is None
                       or spans[s.parent].name == "pipeline")]
            covered = sum(b - a for a, b in union(top))
            attributed.append(covered / rec["s"])
        out = {}
        for k in empty_layer_metrics():
            out[k] = (median([m[k] for m in per_iter]), unit_of(k))
        out["trace.overhead_frac"] = (median(
            [r["tracer"].own_s / r["s"] for r in traced]), "ratio")
        out["trace.attributed_frac"] = (median(attributed), "ratio")
        return out


def unit_of(metric: str) -> str:
    leaf = metric.rsplit(".", 1)[1]
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_mb"):
        return "MB"
    if leaf == "verify_ratio":
        return "ratio"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [str(HERE), str(ROOT), str(ROOT / "scripts")]
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    # keep Python's, the JVMs' and HotSpot's scratch files in the checkout
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}")))
    try:
        result = Runner(args, work).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run still uses it
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
