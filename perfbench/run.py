"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload surveillance_batch --seed 1 \\
        --seconds 10 --trace 0

Run it from the root of a checkout: it imports ``meerkat_abacus_spark``
from the working directory, keeps every file it writes under
``.perfbench_work/`` there and removes them on exit.  ``--trace 1`` runs
the same workload with layer spans on alternate operations and prints the
per-layer metrics instead of the end-to-end ones; the spans themselves go
to ``.perfbench_out/``.  README.md next to this file defines every metric.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time
import traceback
from contextlib import contextmanager

PROCESS_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("surveillance_batch", "dashboard_queries", "stream_ingest", "corpus_dedup")

# Metric names and units come from BENCHMARK.json at the checkout root.
# PER_LAYER tags every per-layer metric with the end-to-end metric and the
# workload it should move; it also holds the metrics of the layers only the
# ungated workloads exercise, which go to the trace file, not the result.
PER_LAYER = {
    "session.start_s": ("setup_s", "all"),
    "sources.generate_s": ("setup_s", "all"),
    "sources.read_s": ("throughput_per_s", "surveillance_batch"),
    "qc.exec_s": ("throughput_per_s", "surveillance_batch"),
    "qc.keep_ratio": ("throughput_per_s", "surveillance_batch"),
    "initial_visit.exec_s": ("throughput_per_s", "surveillance_batch"),
    "to_data_type.exec_s": ("throughput_per_s", "surveillance_batch"),
    "to_data_type.rows_out": ("throughput_per_s", "surveillance_batch"),
    "links.exec_s": ("throughput_per_s; latency_p50_ms", "surveillance_batch; stream_ingest"),
    "links.jobs": ("throughput_per_s; latency_p50_ms", "surveillance_batch; stream_ingest"),
    "coding.plan_s": ("latency_p50_ms", "surveillance_batch; stream_ingest"),
    "coding.exec_s": ("throughput_per_s", "surveillance_batch"),
    "pipeline.plan_s": ("latency_p50_ms", "surveillance_batch; stream_ingest"),
    "pipeline.jobs": ("latency_p50_ms", "surveillance_batch; stream_ingest"),
    "alerts.exec_s": ("throughput_per_s; latency_p50_ms", "surveillance_batch; stream_ingest"),
    "alerts.emitted": ("throughput_per_s; latency_p50_ms", "surveillance_batch; stream_ingest"),
    "incremental.exec_s": ("latency_p50_ms", "stream_ingest"),
    "incremental.rows_reemitted_per_late_row": ("latency_p50_ms", "stream_ingest"),
    "sinks.append.write_s": ("throughput_per_s", "surveillance_batch"),
    "sinks.append.bytes_per_row": ("throughput_per_s", "surveillance_batch"),
    "sinks.upsert.write_s": ("latency_p50_ms; throughput_per_s", "stream_ingest"),
    "sinks.upsert.partitions_rewritten": ("latency_p50_ms; throughput_per_s", "stream_ingest"),
    "sinks.upsert.write_amplification": ("latency_p50_ms; throughput_per_s", "stream_ingest"),
    "sinks.upsert.files_total": ("latency_p50_ms; throughput_per_s", "stream_ingest"),
    "streaming.batch_overhead_s": ("latency_p50_ms", "stream_ingest"),
    "stream.readback_ms": ("latency_p50_ms", "stream_ingest"),
    "dashboard.plan_ms": ("latency_p50_ms; throughput_per_s", "dashboard_queries"),
    "dashboard.exec_ms": ("latency_p50_ms; throughput_per_s", "dashboard_queries"),
    "dashboard.jobs_per_query": ("latency_p50_ms; throughput_per_s", "dashboard_queries"),
    "locations.exec_ms": ("latency_p50_ms; throughput_per_s", "dashboard_queries"),
    "text.exec_s": ("throughput_per_s", "corpus_dedup"),
    "text.keep_ratio": ("throughput_per_s", "corpus_dedup"),
    "dedup.exact_s": ("throughput_per_s", "corpus_dedup"),
    "dedup.minhash_s": ("throughput_per_s", "corpus_dedup"),
    "dedup.candidate_pairs": ("throughput_per_s", "corpus_dedup"),
    "dedup.candidate_precision": ("throughput_per_s", "corpus_dedup"),
    "dedup.components_s": ("throughput_per_s", "corpus_dedup"),
    "dedup.components_jobs": ("throughput_per_s", "corpus_dedup"),
    "dedup.recall": ("correctness gate", "corpus_dedup"),
    "spark.jobs": ("throughput_per_s", "all"),
    "spark.stages": ("throughput_per_s", "all"),
    "spark.tasks": ("throughput_per_s", "all"),
    "spark.tasks_failed": ("throughput_per_s", "all"),
    "jvm.gc_s": ("throughput_per_s", "all"),
    "trace.overhead_ratio": ("none (tracing cost)", "all"),
}

# Span name → per-layer time metric; the value is the span's self time,
# averaged over traced operations.
SPAN_METRICS = {
    "sources.read": "sources.read_s",
    "qc": "qc.exec_s",
    "initial_visit": "initial_visit.exec_s",
    "to_data_type": "to_data_type.exec_s",
    "links": "links.exec_s",
    "coding.plan": "coding.plan_s",
    "coding.exec": "coding.exec_s",
    "pipeline": "pipeline.plan_s",
    "alerts": "alerts.exec_s",
    "incremental": "incremental.exec_s",
    "sinks.append": "sinks.append.write_s",
    "sinks.upsert": "sinks.upsert.write_s",
    "text": "text.exec_s",
    "dedup.exact": "dedup.exact_s",
    "dedup.minhash": "dedup.minhash_s",
    "dedup.components": "dedup.components_s",
}
PIPELINE_SPANS = ("pipeline", "to_data_type", "links", "coding.plan", "coding.exec")


class Context:
    """What a workload gets: the session, its seed and budget, the tracer,
    and the recorders for operations and failures."""

    def __init__(self, args, work: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.spark = None
        self.tracer = None
        self.session_start_s = 0.0
        self.setup_s = 0.0
        self.warmup_times: list[float] = []
        self.latencies: list[float] = []
        self.traced_latencies: list[float] = []
        self.units = 0.0
        self.busy = 0.0
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.traced_ops = 0
        self.generate_s = 0.0
        self._measure_start = None
        self._trace_next = False

    @contextmanager
    def generating(self):
        """Time input generation (reported as ``sources.generate_s``)."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.generate_s += time.perf_counter() - t

    def warm_up(self, run_once, max_passes: int, min_passes: int = 1) -> None:
        """Untimed warm-up passes until per-pass time settles; set-up ends
        here, so ``setup_s`` covers session start, inputs and warm-up."""
        from harness import settle

        self.warmup_times = settle(run_once, max_passes, min_passes)
        self.setup_s = time.perf_counter() - PROCESS_START
        self._measure_start = time.perf_counter()

    def time_up(self) -> bool:
        """The measuring window is over; a traced run also needs at least one
        traced and one untraced operation."""
        if time.perf_counter() - self._measure_start < self.seconds:
            return False
        return not self.trace or (self.traced_ops > 0 and len(self.latencies) > 0)

    @contextmanager
    def op(self):
        """One timed operation.  In a traced run, operations alternate
        between untraced and traced, so both halves see the same warm state
        and their difference is the tracing overhead."""
        traced = self.trace and self._trace_next
        self._trace_next = not self._trace_next
        tr = self.tracer
        tr.enabled = traced
        if traced:
            self.traced_ops += 1
            tr.op_id = f"op{self.attempted}"
            gc0 = tr.gc_seconds()
        self._op_traced = traced
        try:
            yield traced
        finally:
            if traced:
                tr.add("jvm.gc_s", tr.gc_seconds() - gc0)
            tr.enabled = False

    def record(self, seconds: float, units: float, error: str | None) -> None:
        self.attempted += 1
        if error is not None:
            self.failed += 1
            self.failures.append(error)
            return
        (self.traced_latencies if self._op_traced else self.latencies).append(seconds)
        if not self._op_traced:
            self.units += units
            self.busy += seconds

    def wrong(self, problems: list[str]) -> None:
        """A timed operation's output failed a check: it counts as failed."""
        if problems:
            self.failed += 1
            self.failures.extend(problems)

    def verify(self, problems: list[str]) -> None:
        """A checked artefact that is not a timed operation (the table
        set-up built, the final streamed table): one more attempted
        operation, failed if the check found problems."""
        self.attempted += 1
        self.wrong(problems)


def _session(work: str):
    from meerkat_abacus_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    java_opts = f"-Xss64m -Xms2g -Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}"
    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.extraJavaOptions": java_opts,
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.local.dir": f"{work}/local",
        },
    )


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _stop(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _layer_metrics(ctx, module) -> dict[str, float]:
    tr = ctx.tracer
    out = {name: 0.0 for name in PER_LAYER}
    for span, metric in SPAN_METRICS.items():
        out[metric] = tr.per_op((span,))
    out["session.start_s"] = ctx.session_start_s
    out["sources.generate_s"] = ctx.generate_s
    c = tr.counters
    if c.get("qc.rows_in"):
        out["qc.keep_ratio"] = c["qc.rows_out"] / c["qc.rows_in"]
    out["to_data_type.rows_out"] = tr.count("to_data_type.rows_out")
    out["links.jobs"] = tr.per_op(("links",), "jobs")
    out["pipeline.jobs"] = tr.per_op(PIPELINE_SPANS, "jobs")
    out["alerts.emitted"] = tr.count("alerts.emitted")
    for key in ("jobs", "stages", "tasks", "tasks_failed"):
        out[f"spark.{key}"] = tr.spark_counts(key)
    out["jvm.gc_s"] = tr.count("jvm.gc_s")
    out.update(module.layer_metrics(ctx))
    if ctx.latencies and ctx.traced_latencies:
        from harness import median

        out["trace.overhead_ratio"] = (
            median(ctx.traced_latencies) / median(ctx.latencies) - 1.0
        )
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    os.environ["TZ"] = "UTC"
    time.tzset()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "meerkat_abacus_spark")):
        print("perfbench: run from the root of a checkout that holds "
              "meerkat_abacus_spark/", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ.pop("SPARK_GRAFT_CPUS", None)
    sys.path[:0] = [HERE, root]

    import importlib
    import tempfile

    tempfile.tempdir = None
    from harness import Tracer, median, rss_peak_mb

    module = importlib.import_module(
        {"surveillance_batch": "wl_batch", "dashboard_queries": "wl_dashboard",
         "stream_ingest": "wl_stream", "corpus_dedup": "wl_dedup"}[args.workload]
    )
    ctx = Context(args, work)
    spark = None
    try:
        t = time.perf_counter()
        spark = _session(work)
        ctx.session_start_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        ctx.spark = spark
        ctx.tracer = Tracer(spark, enabled=False)
        module.run(ctx)
        rss = rss_peak_mb(_jvm_pid())
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still be using it
            os.rmdir(os.path.dirname(work))

    for cause in ctx.failures:
        print(f"perfbench: failed operation: {cause}", file=sys.stderr)
    if not ctx.latencies:
        print("perfbench: no operation completed", file=sys.stderr)
        return 1
    if args.trace:
        layer = _layer_metrics(ctx, module)
        ctx.tracer.dump(
            os.path.join(root, ".perfbench_out",
                         f"trace_{args.workload}_seed{args.seed}.json"),
            {
                "workload": args.workload, "seed": args.seed,
                "warmup_pass_s": ctx.warmup_times,
                "untraced_op_s": ctx.latencies, "traced_op_s": ctx.traced_latencies,
                "layer_metrics": {
                    k: {"value": v, "moves": PER_LAYER[k][0], "on": PER_LAYER[k][1]}
                    for k, v in layer.items()
                },
            },
        )
        metrics = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        lat_ms = [x * 1000.0 for x in ctx.latencies]
        e2e = {
            "setup_s": ctx.setup_s,
            "peak_rss_mb": rss,
            "throughput_per_s": ctx.units / ctx.busy,
            "latency_p50_ms": median(lat_ms),
        }
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
        print(
            f"perfbench: {args.workload} seed={args.seed} ops={len(ctx.latencies)} "
            f"session_start_s={ctx.session_start_s:.3f} generate_s={ctx.generate_s:.3f} "
            f"warmup_pass_s={[round(x, 3) for x in ctx.warmup_times]} "
            f"op_s={[round(x, 3) for x in ctx.latencies]}",
            file=sys.stderr,
        )
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
