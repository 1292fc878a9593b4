"""surveillance_batch: full recompute of raw forms into ``data`` + alerts.

Closed loop, one pass at a time.  A pass reads the raw form parquet,
runs the whole reference step list and appends partitioned ``data`` and
the alert table into a fresh directory; the next pass starts when the
previous one has committed.  Every timed pass's output is kept and
checked after the measuring window.  The pass cost is almost all fixed
(planning and code generation, see README.md), so the input is sized for
the run budget rather than for volume.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F

import chain
import duckdb_check
import gen
from harness import dir_stats
from meerkat_abacus_spark.sinks.writers import append_sink
from meerkat_abacus_spark.sources.batch import read_form_parquet

N_CASES = 2_000
N_ALERTS = 100
N_REGISTERS = 100
WARMUP_MAX = 1


def setup(ctx):
    spark, seed = ctx.spark, ctx.seed
    raw = os.path.join(ctx.work, "raw")
    with ctx.generating():
        cases = gen.case_forms(spark, N_CASES, seed)
        cases.write.parquet(f"{raw}/demo_case")
        ids = gen.alert_ids_for(seed, N_CASES, 400, seed)
        gen.alert_forms(spark, N_ALERTS, seed + 1, ids).write.parquet(
            f"{raw}/demo_alert"
        )
        gen.register_forms(spark, N_REGISTERS, seed + 2).write.parquet(
            f"{raw}/demo_register"
        )
        devices = spark.createDataFrame(
            [(d,) for d in gen.REGISTERED_DEVICES], "deviceid string"
        )
    return {"raw": raw, "devices": devices}


def one_pass(ctx, state, out_dir):
    """Raw forms → committed ``data`` and alerts under ``out_dir``."""
    tr, spark = ctx.tracer, ctx.spark
    with tr.span("sources.read"):
        forms = {
            name: tr.materialize(read_form_parquet(spark, f"{state['raw']}/{name}"))
            for name in ("demo_case", "demo_alert", "demo_register")
        }
    data = chain.code_forms(tr, forms, gen.DATA_TYPES, state["devices"])
    with tr.span("sinks.append"):
        append_sink(data, f"{out_dir}/data", partition_by=chain.DATA_PARTITIONS)
    alerts = chain.alert_table(tr, spark.read.parquet(f"{out_dir}/data"))
    with tr.span("sinks.append"):
        append_sink(alerts, f"{out_dir}/alerts")
    if tr.enabled:
        size, _ = dir_stats(f"{out_dir}/data")
        tr.add("sinks.append.bytes", size)
        tr.add("sinks.append.rows", spark.read.parquet(f"{out_dir}/data").count())


def check(ctx, state, out_dir) -> list[str]:
    spark = ctx.spark
    got = {
        (r["type"], r["var"]): r["n"]
        for r in spark.read.parquet(f"{out_dir}/data")
        .select("type", F.explode(F.map_keys("variables")).alias("var"))
        .groupBy("type", "var").count().withColumnRenamed("count", "n")
        .collect()
    }
    if "want" not in state:
        state["want"] = duckdb_check.expected_counts(state["raw"])
    want = state["want"]
    errors = [
        f"{key}: spark {got.get(key, 0)} != duckdb {n}"
        for key, n in sorted(want.items()) if got.get(key, 0) != n
    ]
    if spark.read.parquet(f"{out_dir}/alerts").count() == 0:
        errors.append("alert table is empty")
    return errors


def run(ctx):
    state = setup(ctx)
    passes = 0

    def fresh_dir():
        nonlocal passes
        passes += 1
        return os.path.join(ctx.work, f"pass{passes}")

    def warm():
        d = fresh_dir()
        one_pass(ctx, state, d)
        shutil.rmtree(d)

    ctx.warm_up(warm, WARMUP_MAX)

    done = []
    while True:
        d = fresh_dir()
        t = time.perf_counter()
        err = None
        try:
            with ctx.op():
                one_pass(ctx, state, d)
        except Exception as e:  # a failed pass is a failed operation
            err = f"pass raised {type(e).__name__}: {e}"
        ctx.record(time.perf_counter() - t, N_CASES + N_ALERTS + N_REGISTERS, err)
        if err is None:
            done.append(d)
        if ctx.time_up():
            break
    for d in done:
        ctx.wrong(check(ctx, state, d))
        shutil.rmtree(d, ignore_errors=True)


def layer_metrics(ctx) -> dict[str, float]:
    c = ctx.tracer.counters
    rows = c.get("sinks.append.rows", 0.0)
    return {
        "sinks.append.bytes_per_row": c.get("sinks.append.bytes", 0.0) / rows
        if rows else 0.0,
    }
