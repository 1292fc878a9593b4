"""stream_ingest: file-drop micro-batches through foreachBatch into ``data``.

Closed loop, one producer.  Set-up writes the raw form store and
bootstraps ``data`` with the full chain.  Each operation then drops one
micro-batch file of ``{formId, data}`` envelopes, runs
``streaming.foreach_batch.stream_pipeline`` over it and reads the
dashboard count that proves the batch landed; the next file is dropped
only after that read returns.  The operation's time is the batch's
freshness: file drop to confirming read.

A micro-batch holds fresh cases (new patients), late ``demo_alert`` forms
that link to earlier cases, and corrected resubmissions of earlier
submissions whose date moves them to another ``epi_year`` partition.  The
sink appends the raw rows to the form store, then
``plans.incremental.incremental_recode`` recomputes every (pid, icd_code)
group touched by a fresh case, a correction or a late alert and upserts it
with ``sinks.upsert_by_key``; threshold alerts are then recomputed over
``data``.  initial_visit_control and the return_visit link both key on
(pid, icd_code), so recomputing whole groups is exact: after the run the
table must equal a batch recompute over all inputs.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

import chain
import gen
from harness import dir_stats
from meerkat_abacus_spark.plans import incremental as incremental_mod
from meerkat_abacus_spark.sinks.writers import append_sink, upsert_by_key
from meerkat_abacus_spark.sources.batch import read_form_parquet
from meerkat_abacus_spark.streaming.foreach_batch import stream_pipeline

N_CASES = 3_000
N_ALERTS = 150
N_REGISTERS = 150
FRESH, LATE, CORRECTED = 40, 4, 4
MAX_BATCHES = 10
WARMUP_MAX = 3

CASE_COLS = sorted(set(gen.CASE_FIELDS) | {"pt./pid", gen.UUID})
ALERT_COLS = sorted(set(gen.ALERT_FIELDS) | {"pt./alert_id", gen.UUID})


def _latest(df: DataFrame) -> DataFrame:
    """The newest version of each submission (corrections replace it)."""
    w = Window.partitionBy(F.col(f"`{gen.UUID}`")).orderBy(F.col("__v").desc())
    return df.withColumn("__rn", F.row_number().over(w)).where("__rn = 1").drop(
        "__rn", "__v"
    )


def _rows(df: DataFrame, cols: list[str]) -> list[dict]:
    return [{c: r[c] for c in cols} for r in df.select(*[F.col(f"`{c}`") for c in cols]).collect()]


def make_batches(spark, seed: int, cases: DataFrame) -> list[dict]:
    """Pre-generate every micro-batch (outside the timed region)."""
    eligible = (
        cases.withColumn("__n", F.count(F.lit(1)).over(
            Window.partitionBy(*[F.col(f"`{c}`") for c in gen.GROUP_COLS])))
        .where(
            "__n = 1 AND `intro./visit` IN ('new', 'referral')"
            " AND `pt./visit_date` <> 'not-a-date'"
            f" AND SubmissionDate >= '{gen.IMPORT_AFTER}'"
            f" AND deviceid IN ({', '.join(repr(d) for d in gen.REGISTERED_DEVICES)})"
        )
        .orderBy(F.md5(F.concat(F.lit(f"{seed}:"), F.col(f"`{gen.UUID}`"))))
        .limit(CORRECTED * MAX_BATCHES)
    )
    corrections = _rows(eligible, CASE_COLS)
    suffixes = gen.alert_ids_for(seed, N_CASES, LATE * MAX_BATCHES * 4, seed + 7)
    batches = []
    for k in range(MAX_BATCHES):
        s = seed * 1000 + 100 + k
        fresh = gen.case_forms(spark, FRESH, s).withColumns({
            "pt./pid": F.concat(F.lit(f"s{s}-"), F.monotonically_increasing_id()),
            "intro./visit": F.lit("new"),
            "deviceid": F.lit(gen.HOT_CLINIC),
            "SubmissionDate": F.lit("2017-12-28T00:00:00"),
            "pt./visit_date": F.date_format(
                F.date_add(F.lit("2017-12-01").cast("date"), (F.rand(s) * 27).cast("int")),
                "yyyy-MM-dd'T'HH:mm:ss"),
        })
        late = gen.alert_forms(spark, LATE, s, suffixes[k * LATE * 4:(k + 1) * LATE * 4])
        late = late.withColumn("end", F.lit("2017-12-20T00:00:00"))
        fixed = []
        for i, row in enumerate(corrections[k * CORRECTED:(k + 1) * CORRECTED]):
            row = dict(row)
            row["pt./visit_date"] = f"2016-12-{10 + i:02d}T00:00:00"
            fixed.append(row)
        fresh_rows = _rows(fresh, CASE_COLS)
        envelopes = (
            [{"formId": "demo_case", "data": r} for r in fresh_rows]
            + [{"formId": "demo_case", "data": r} for r in fixed]
            + [{"formId": "demo_alert", "data": r} for r in _rows(late, ALERT_COLS)]
        )
        expect: dict[tuple[str, int], int] = {}
        expect[("case", 2017)] = expect[("visit", 2017)] = len(fresh_rows)
        for r in fixed:
            for t in (("case", "visit") if r["intro./visit"] == "new" else ("visit",)):
                expect[(t, 2016)] = expect.get((t, 2016), 0) + 1
        expect[("alert", 2017)] = LATE
        uuids = [e["data"][gen.UUID] for e in envelopes]
        batches.append({"envelopes": envelopes, "uuids": uuids, "expect": expect})
    return batches


class Stream:
    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        w = ctx.work
        self.raw, self.data, self.alerts = f"{w}/raw", f"{w}/data", f"{w}/alerts"
        self.source, self.ckpt = f"{w}/source", f"{w}/checkpoint"
        os.makedirs(self.source)
        self.devices = self.spark.createDataFrame(
            [(d,) for d in gen.REGISTERED_DEVICES], "deviceid string"
        )
        self.next_batch = 0

    # -- set-up ----------------------------------------------------------
    def setup(self):
        spark, seed = self.spark, self.ctx.seed
        with self.ctx.generating():
            cases = gen.case_forms(spark, N_CASES, seed)
            append_sink(cases.withColumn("__v", F.lit(0)), f"{self.raw}/demo_case")
            cases = read_form_parquet(spark, f"{self.raw}/demo_case").drop("__v")
            alerts = gen.alert_forms(
                spark, N_ALERTS, seed + 1, gen.alert_ids_for(seed, N_CASES, 400, seed))
            append_sink(alerts.withColumn("__v", F.lit(0)), f"{self.raw}/demo_alert")
            regs = gen.register_forms(spark, N_REGISTERS, seed + 2)
            append_sink(regs.withColumn("__v", F.lit(0)), f"{self.raw}/demo_register")
            self.batches = make_batches(spark, seed, cases)
        data = chain.code_forms(self.ctx.tracer, self.current(), gen.DATA_TYPES, self.devices)
        upsert_by_key(spark, data, self.data, chain.DATA_KEYS, chain.DATA_PARTITIONS)
        self.write_alerts()

    def current(self) -> dict[str, DataFrame]:
        return {
            name: _latest(read_form_parquet(self.spark, f"{self.raw}/{name}"))
            for name in ("demo_case", "demo_alert", "demo_register")
        }

    def write_alerts(self):
        tr = self.ctx.tracer
        with tr.span("alerts"):
            alerts = chain.alert_table(tr, self.spark.read.parquet(self.data))
            alerts.write.mode("overwrite").parquet(self.alerts)

    # -- one micro-batch -----------------------------------------------
    def transform(self, batch: DataFrame) -> DataFrame:
        cols = sorted(set(CASE_COLS) | set(ALERT_COLS))
        return batch.select(
            "formId", *[F.col("data").getItem(c).alias(c) for c in cols]
        )

    def sink(self, batch: DataFrame, batch_id: int):
        tr, spark = self.ctx.tracer, self.spark
        version = F.lit(batch_id + 1)
        case_new = batch.where("formId = 'demo_case'").select(
            *[F.col(f"`{c}`") for c in CASE_COLS]).withColumn("__v", version)
        alert_new = batch.where("formId = 'demo_alert'").select(
            *[F.col(f"`{c}`") for c in ALERT_COLS]).withColumn("__v", version)
        with tr.span("sinks.append"):
            append_sink(case_new, f"{self.raw}/demo_case")
            append_sink(alert_new, f"{self.raw}/demo_alert")
        with tr.span("sources.read"):
            cur = {k: tr.materialize(v) for k, v in self.current().items()}
        new_alerts = alert_new.drop("__v")
        touched = case_new.select(*[F.col(f"`{c}`") for c in gen.GROUP_COLS])

        def recompute(linked_cases: DataFrame) -> DataFrame:
            groups = linked_cases.select(
                *[F.col(f"`{c}`") for c in gen.GROUP_COLS]
            ).unionByName(touched)
            cases = cur["demo_case"].join(groups.distinct(), gen.GROUP_COLS, "left_semi")
            coded = chain.code_forms(
                tr, {"demo_case": cases, "demo_alert": cur["demo_alert"]},
                gen.CASE_TYPES, self.devices,
            )
            own = chain.code_forms(
                tr, {"demo_alert": new_alerts}, gen.ALERT_TYPES, self.devices
            )
            out = coded.unionByName(own)
            if tr.enabled:
                out = tr.materialize(out)
                tr.add("incremental.rows_reemitted", out.count())
                tr.add("incremental.late_rows", LATE)
            return out

        with tr.span("incremental"), self._traced_upsert():
            incremental_mod.incremental_recode(
                spark, cur["demo_case"], new_alerts, gen.ALERT_LINK, recompute,
                self.data, chain.DATA_KEYS, chain.DATA_PARTITIONS,
            )
        self.write_alerts()

    @contextmanager
    def _traced_upsert(self):
        """Span + file-system counters around ``upsert_by_key`` (tracing only)."""
        tr = self.ctx.tracer
        if not tr.enabled:
            yield
            return
        inner = incremental_mod.upsert_by_key

        def traced(spark, df, path, *a, **k):
            before = _partition_stats(path)
            with tr.span("sinks.upsert"):
                df = tr.materialize(df)
                incoming = df.count()
                inner(spark, df, path, *a, **k)
            after = _partition_stats(path)
            rewritten = [p for p, st in after.items() if before.get(p) != st]
            tr.add("sinks.upsert.partitions_rewritten", len(rewritten))
            tr.add("sinks.upsert.bytes_rewritten", sum(after[p][0] for p in rewritten))
            tr.add("sinks.upsert.rows_in", incoming)
            tr.add("sinks.upsert.files_total", sum(st[1] for st in after.values()))
            tr.add("sinks.upsert.table_bytes", sum(st[0] for st in after.values()))
            tr.add("sinks.upsert.table_rows", spark.read.parquet(path).count())
            tr.add("sinks.upsert.calls", 1)

        incremental_mod.upsert_by_key = traced
        try:
            yield
        finally:
            incremental_mod.upsert_by_key = inner

    def cycle(self) -> int:
        """Drop the next batch, stream it, confirm it on the dashboard."""
        b = self.batches[self.next_batch]
        self.next_batch += 1
        tr = self.ctx.tracer
        t0 = time.perf_counter()
        tmp = f"{self.ctx.work}/batch-{self.next_batch}.json.tmp"
        with open(tmp, "w") as f:
            for env in b["envelopes"]:
                f.write(json.dumps(env) + "\n")
        os.rename(tmp, f"{self.source}/batch-{self.next_batch}.json")
        with tr.span("streaming.query"):
            q = stream_pipeline(self.spark, self.source, self.transform, self.sink,
                                self.ckpt, max_files_per_trigger=1)
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(f"stream query failed: {q.exception()}")
        with tr.span("stream.readback"):
            got = {
                (r["type"], r["epi_year"]): r["count"]
                for r in self.spark.read.parquet(self.data)
                .where(F.col("uuid").isin(b["uuids"]))
                .groupBy("type", "epi_year").count().collect()
            }
        if tr.enabled:
            tr.add("stream.freshness_s", time.perf_counter() - t0)
        if got != b["expect"]:
            raise AssertionError(f"batch {self.next_batch} read back {got}, expected {b['expect']}")
        return len(b["envelopes"])

    # -- final check ------------------------------------------------------
    def check(self) -> list[str]:
        """The streamed table must equal a batch recompute over all inputs."""
        tr = self.ctx.tracer
        batch = chain.code_forms(tr, self.current(), gen.DATA_TYPES, self.devices)
        streamed = self.spark.read.parquet(self.data)
        norm = [
            "uuid", "type", "type_name", "deviceid", "date", "epi_year", "epi_week",
            "array_sort(map_entries(variables)) AS v",
            "array_sort(map_entries(categories)) AS c",
            "alert", "alert_reason", "disregard",
        ]
        a, b = batch.selectExpr(*norm), streamed.selectExpr(*norm)
        errors = []
        missing, extra = a.exceptAll(b).count(), b.exceptAll(a).count()
        if missing or extra:
            errors.append(f"streamed data differs from batch recompute: "
                          f"{missing} rows missing, {extra} extra")
        want = chain.alert_table(tr, batch)
        got = self.spark.read.parquet(self.alerts)
        if want.exceptAll(got).count() or got.exceptAll(want).count():
            errors.append("streamed alert table differs from batch recompute")
        return errors


def _partition_stats(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for typ in sorted(os.listdir(path)) if os.path.isdir(path) else []:
        tdir = os.path.join(path, typ)
        if not os.path.isdir(tdir):
            continue
        for part in sorted(os.listdir(tdir)):
            pdir = os.path.join(tdir, part)
            if os.path.isdir(pdir):
                out[f"{typ}/{part}"] = (*dir_stats(pdir), tuple(sorted(os.listdir(pdir))))
    return out


def run(ctx):
    s = Stream(ctx)
    s.setup()
    ctx.warm_up(s.cycle, WARMUP_MAX)
    while s.next_batch < MAX_BATCHES:
        t = time.perf_counter()
        err, rows = None, 0
        try:
            with ctx.op():
                rows = s.cycle()
        except Exception as e:  # a failed micro-batch is a failed operation
            err = f"micro-batch raised {type(e).__name__}: {e}"
        ctx.record(time.perf_counter() - t, rows, err)
        if ctx.time_up():
            break
    ctx.verify(s.check())


def layer_metrics(ctx) -> dict[str, float]:
    tr = ctx.tracer
    c = tr.counters
    out = {
        "sinks.upsert.partitions_rewritten": tr.count("sinks.upsert.partitions_rewritten"),
        "sinks.upsert.files_total": c.get("sinks.upsert.files_total", 0.0)
        / max(c.get("sinks.upsert.calls", 0.0), 1.0),
        "incremental.rows_reemitted_per_late_row":
            c.get("incremental.rows_reemitted", 0.0) / max(c.get("incremental.late_rows", 0.0), 1.0),
        "stream.readback_ms": 1000.0 * tr.per_op(("stream.readback",)),
    }
    rows_in = c.get("sinks.upsert.rows_in", 0.0)
    if rows_in and c.get("sinks.upsert.table_rows"):
        # bytes rewritten per byte ingested; ingested bytes are estimated as
        # incoming rows times the table's mean stored bytes per row
        row_bytes = c["sinks.upsert.table_bytes"] / c["sinks.upsert.table_rows"]
        out["sinks.upsert.write_amplification"] = (
            c["sinks.upsert.bytes_rewritten"] / (rows_in * row_bytes)
        )
    # freshness not covered by any layer span: file drop, query start and
    # stop, envelope parsing and the sink's own glue
    queries = {s["id"] for s in tr.spans if s["name"] == "streaming.query"}
    covered = sum(
        s["end"] - s["start"] for s in tr.spans
        if s["parent"] in queries or s["name"] == "stream.readback"
    )
    out["streaming.batch_overhead_s"] = (
        (c.get("stream.freshness_s", 0.0) - covered) / max(ctx.traced_ops, 1)
    )
    return out
