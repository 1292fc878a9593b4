"""The reference step list as the benchmark drives it, with layer spans.

quality_control → initial_visit → surveillance_pipeline (to_data_type,
links, coding, epi_week) → projection to the ``data`` table → alerts.
surveillance_batch's pass and each stream_ingest micro-batch both go
through :func:`code_forms`, so they run the same operators.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import gen
from harness import Tracer
from meerkat_abacus_spark.operators import alerts as alert_ops
from meerkat_abacus_spark.operators import quality_control as qc
from meerkat_abacus_spark.operators.initial_visit import initial_visit_control
from meerkat_abacus_spark.plans import pipeline as pipeline_mod
from meerkat_abacus_spark.plans.pipeline import surveillance_pipeline

DATA_PARTITIONS = ["type", "epi_year"]
DATA_KEYS = ["uuid", "type"]

DATA_COLUMNS = [
    f"`{gen.UUID}` AS uuid", "type", "type_name", "deviceid", "date",
    "epi_year", "epi_week", "variables", "categories", "alert",
    "alert_reason", "disregard",
]


def quality_control(
    tracer: Tracer, form: str, df: DataFrame, devices: DataFrame, data_types
) -> DataFrame:
    """Device allowlist, submission-date cutoff and the per-data-type date
    validity gate."""
    with tracer.span("qc"):
        out = qc.device_allowlist(df, devices)
        out = qc.submission_date_filter(out, "SubmissionDate", gen.IMPORT_AFTER)
        out = qc.validate_datetype_dates(
            out, [t for t in data_types if t.form == form], gen.EPI_CONFIG
        )
        if tracer.enabled:
            out = tracer.materialize(out)
            tracer.add("qc.rows_in", df.count())
            tracer.add("qc.rows_out", out.count())
    return out


@contextmanager
def _traced_pipeline_layers(tracer: Tracer):
    """Interpose spans on the layer functions ``surveillance_pipeline``
    calls (tracing only; the module attributes are restored on exit)."""
    if not tracer.enabled:
        yield
        return
    fan_out, add_links, code_df = (
        pipeline_mod.fan_out_data_types,
        pipeline_mod.add_links,
        pipeline_mod.code_dataframe,
    )

    def fan_out_traced(*a, **k):
        with tracer.span("to_data_type"):
            out = tracer.materialize(fan_out(*a, **k))
            tracer.add("to_data_type.rows_out", out.count())
        return out

    def add_links_traced(*a, **k):
        with tracer.span("links"):
            return tracer.materialize(add_links(*a, **k))

    def code_traced(*a, **k):
        with tracer.span("coding.plan"):
            out = code_df(*a, **k)
        with tracer.span("coding.exec"):
            return tracer.materialize(out)

    pipeline_mod.fan_out_data_types = fan_out_traced
    pipeline_mod.add_links = add_links_traced
    pipeline_mod.code_dataframe = code_traced
    try:
        yield
    finally:
        pipeline_mod.fan_out_data_types = fan_out
        pipeline_mod.add_links = add_links
        pipeline_mod.code_dataframe = code_df


def code_forms(
    tracer: Tracer,
    forms: dict[str, DataFrame],
    data_types,
    devices: DataFrame,
) -> DataFrame:
    """Raw forms → ``data`` rows (uuid, type, date, epi week, codes)."""
    checked = {
        name: quality_control(tracer, name, df, devices, data_types)
        for name, df in forms.items()
    }
    if "demo_case" in checked:
        with tracer.span("initial_visit"):
            checked["demo_case"] = tracer.materialize(
                initial_visit_control(
                    checked["demo_case"], gen.GROUP_COLS, "intro./visit",
                    "pt./visit_date", uuid_column=gen.UUID,
                )
            )
    with tracer.span("pipeline"), _traced_pipeline_layers(tracer):
        data = surveillance_pipeline(
            checked, data_types, gen.RULES, gen.LINKS, gen.EPI_CONFIG
        )
        data = data.selectExpr(*DATA_COLUMNS)
    return data


def alert_table(tracer: Tracer, data: DataFrame) -> DataFrame:
    """Threshold (daily and weekly) and double-double alerts over ``data``."""
    with tracer.span("alerts"):
        # tot_1 (every case) trips the weekly threshold at the hot clinic;
        # cmd_1 (one diagnosis) is the sparse signal the daily and
        # double-double rules watch.
        threshold = alert_ops.threshold_alerts(
            data, F.col("variables").getItem("tot_1").isNotNull(),
            clinic_col="deviceid", date_col="date", uuid_col="uuid",
            daily_limit=3, weekly_limit=6, reason="tot_1",
        )
        doubling = alert_ops.double_double_alerts(
            data, F.col("variables").getItem("cmd_1").isNotNull(),
            clinic_col="deviceid", uuid_col="uuid", min_total=4,
            reason="cmd_1",
        )
        out = threshold.unionByName(doubling, allowMissingColumns=True)
        if tracer.enabled:
            out = tracer.materialize(out)
            tracer.add("alerts.emitted", out.count())
    return out
