"""The repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds (or reuses) the seed's corpus,
then repeats cycles until S seconds of job time are measured. A cycle
imports the job's program modules, starts the program's Spark session on
``local[<cores>]``, spawns one Python worker per core and imports the
same modules there (``setup_s``), runs the workload's job script once,
and stops the JVM: every timed job starts from the state a
``spark-submit`` of that script starts from. Each job's committed output
is checked against the closed-form goldens outside the timed interval.

With ``--trace 1`` one more cycle runs the job with spans around the
program's public functions and Spark status-store counters, followed by
per-layer probes, and the per-layer metrics are printed instead of the
end-to-end ones; the traced job against the untraced ones is the tracing
overhead.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it records the run's settings and per-cycle figures.
Metric names and units are the ones ``BENCHMARK.json`` lists. Everything
the run writes stays under ``<checkout>/.perfbench``.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("pages_extract", "idp_packets")


def _prepare_env(cores: int) -> None:
    """Keep every file the run writes inside the checkout and let Spark's
    Python workers import the program, as the test suite does."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    jvm = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):
        os.environ[var] = f"{os.environ.get(var, '')} {jvm}".strip()
    sys.path.insert(0, ROOT)


def _metric_units(section: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def _importer(modules: tuple[str, ...]):
    # defined in __main__, so it is shipped to the workers by value
    def run(batches):
        import importlib

        for name in modules:
            importlib.import_module(name)
        yield from batches
    return run


class Bench:
    """Cycles of (session start, worker warm-up, one job) for one workload."""

    def __init__(self, name: str, seed: int, cores: int):
        import corpora
        import workloads

        self.name, self.seed, self.cores = name, seed, cores
        self.corpus = corpora.corpus_dir(ROOT, name, seed)
        self.wl = workloads.make(name, ROOT, self.corpus, cores)
        self.runs = os.path.join(WORK, "runs", str(os.getpid()))
        self.attempted = self.failed = 0
        self.cycles: list[dict] = []
        self.confs: dict = {}
        self.layers: dict = {}

    def _tally(self, attempted_failed: tuple[int, int]) -> None:
        self.attempted += attempted_failed[0]
        self.failed += attempted_failed[1]

    def cycle(self, traced: bool) -> dict:
        from probes import PeakRss, ProcTree, Spans, SparkCounters, patched
        from pyspark import SparkContext

        from intelligent_document_processing_on_aws_spark.session import get_spark

        t0 = time.perf_counter()
        for name in self.wl.modules:
            importlib.import_module(name)
        spark = get_spark(f"perfbench-{self.name}", master=f"local[{self.cores}]")
        gateway = SparkContext._gateway
        out = os.path.join(self.runs, f"cycle-{len(self.cycles)}")
        try:
            from pyspark.sql import functions as F

            # the first pyspark.sql.functions call imports IPython in the
            # driver (call-site capture, ~0.5 s): pay it here, not in the job
            n = self.cores
            spark.range(0, n, 1, n).mapInPandas(
                _importer(self.wl.modules), "id long").select(F.col("id")).count()
            setup_s = time.perf_counter() - t0
            tree = ProcTree(gateway.proc.pid)
            counters, spans = (SparkCounters(spark), Spans()) if traced else (None, None)
            with PeakRss(tree) as rss, contextlib.ExitStack() as tracing:
                if traced:
                    mark = counters.mark()
                    tracing.enter_context(patched(spans, self.wl.trace_targets()))
                cpu0 = tree.cpu_s()
                rss.active = True
                w0, t1 = time.time(), time.perf_counter()
                summary = self.wl.run(spark, out)
                wall, w1 = time.perf_counter() - t1, time.time()
                rss.active = False
                cpu = tree.cpu_s() - cpu0
                peak = max(rss.peak, tree.rss_bytes())
            job = {"setup_s": setup_s, "wall_s": wall, "docs": self.wl.docs(summary),
                   "cpu_s": cpu, "peak_rss_bytes": peak}
            if traced:
                session, jobs, _ = counters.since(mark)
                self.layers = {f"session.spark.{k}": v for k, v in session.items()}
                self.layers.update(self.wl.traced_metrics(
                    spark, spans, jobs, out, summary, (w0, w1)))
            self._tally(self.wl.check(spark, out))
            shutil.rmtree(out)
            if not self.cycles:
                self.confs = {
                    "master": spark.sparkContext.master,
                    "spark.sql.shuffle.partitions":
                        spark.conf.get("spark.sql.shuffle.partitions"),
                    "spark.sql.execution.arrow.maxRecordsPerBatch":
                        spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"),
                    "spark.driver.memory": spark.sparkContext.getConf().get("spark.driver.memory"),
                }
            if traced:
                self._probes(spark, counters)
        finally:
            # stop the JVM too, so the next cycle launches a fresh one
            proc = gateway.proc
            spark.stop()
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            proc.stdin.close()
            proc.wait(timeout=60)
            shutil.rmtree(self.runs, ignore_errors=True)
        return job

    def _probes(self, spark, counters) -> None:
        import workloads

        self.layers.update(workloads.kernel_metrics(self.seed))
        layers, checked = self.wl.probes(spark, counters)
        self.layers.update(layers)
        self._tally(checked)

    def measure(self, seconds: float, trace: bool) -> dict:
        while sum(c["wall_s"] for c in self.cycles) < seconds:
            self.cycles.append(self.cycle(traced=False))
        untraced = statistics.median(c["wall_s"] for c in self.cycles)
        if trace:
            traced = self.cycle(traced=True)["wall_s"]
            self.layers.update({
                # the JVM's heap grows lazily towards spark.driver.memory,
                # so the peak swings by half between identical runs: it is
                # reported here, without a bound
                "session.process.peak_rss_mb":
                    max(c["peak_rss_bytes"] for c in self.cycles) / 2**20,
                "trace.untraced_s": untraced,
                "trace.traced_s": traced,
                "trace.overhead_frac": traced / untraced - 1,
            })
            return self.layers
        return {
            "docs_per_s": statistics.median(c["docs"] / c["wall_s"] for c in self.cycles),
            "cpu_s_per_kdoc": sum(c["cpu_s"] for c in self.cycles)
            / sum(c["docs"] for c in self.cycles) * 1000,
            "setup_s": statistics.median(c["setup_s"] for c in self.cycles),
        }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    cores = len(os.sched_getaffinity(0))
    _prepare_env(cores)
    units = _metric_units("per_layer" if args.trace else "end_to_end")

    bench = Bench(args.workload, args.seed, cores)
    values = bench.measure(args.seconds, bool(args.trace))
    if args.trace:
        # a layer the workload does not exercise did no work: it reads 0
        values = {name: values.get(name, 0) for name in units}
    print(json.dumps({"perfbench": {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "corpus": os.path.basename(bench.corpus), "confs": bench.confs,
        "cycles": bench.cycles,
    }}))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {name: {"value": values[name], "unit": unit}
                    for name, unit in units.items()},
    }), flush=True)
    return 0 if bench.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
