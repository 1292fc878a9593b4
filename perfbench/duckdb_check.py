"""Independent DuckDB computation of the coded ``data`` table's counts.

Reads the generated ``demo_case`` parquet directly and redoes quality
control, the initial-visit rewrite and every checkable rule predicate in
SQL, without any engine code, so the per-(type, variable) counts of the
table the chain built can be compared against it.
"""

from __future__ import annotations

import duckdb

import gen


def expected_counts(raw: str) -> dict[tuple[str, str], int]:
    """Per-(type, variable) counts for the checkable rules, computed by
    DuckDB straight from the generated parquet: QC, initial-visit rewrite
    and rule predicates written independently in SQL."""
    devices = ", ".join(f"'{d}'" for d in gen.REGISTERED_DEVICES)
    ts = "TRY_STRPTIME(\"{c}\", '%Y-%m-%dT%H:%M:%S')"
    con = duckdb.connect()
    con.execute(f"""
        CREATE TABLE qc AS
        SELECT * FROM read_parquet('{raw}/demo_case/*.parquet')
        WHERE deviceid IN ({devices})
          AND {ts.format(c='SubmissionDate')} >= TIMESTAMP '{gen.IMPORT_AFTER}'
          AND {ts.format(c='pt./visit_date')} IS NOT NULL
    """)
    con.execute(f"""
        CREATE TABLE rows AS
        SELECT *, 'visit' AS type FROM qc
        UNION ALL
        SELECT *, 'case' AS type FROM (
          SELECT * EXCLUDE (rn) FROM (
            SELECT *, row_number() OVER (
              PARTITION BY "pt./pid", icd_code
              ORDER BY {ts.format(c='pt./visit_date')}, "meta/instanceID") AS rn
            FROM qc WHERE "intro./visit" = 'new')
          WHERE rn = 1)
    """)

    def pred(rule) -> str:
        tests, ops = rule.tests()
        parts = []
        for test, cols, cond in zip(
            tests, rule.columns_per_test(), rule.conditions_per_test()
        ):
            col = f'"{cols[0]}"'
            if test == "match":
                vals = ", ".join(f"'{v}'" for v in cond)
                parts.append(f"(CAST({col} AS VARCHAR) IN ({vals}))")
            else:
                v = f"TRY_CAST({col} AS DOUBLE)"
                parts.append(
                    f"({col} IS NOT NULL AND {col} <> '' AND {v} >= {float(cond[0])}"
                    f" AND {v} < {float(cond[1])})"
                )
        sql = parts[0]
        for op, p in zip(ops, parts[1:]):
            sql = f"({sql} {op.upper()} {p})"
        return f"coalesce({sql}, false)"

    out: dict[tuple[str, str], int] = {}
    for rule in gen.checkable_rules():
        n = con.execute(
            f"SELECT count(*) FROM rows WHERE type = '{rule.type}' AND {pred(rule)}"
        ).fetchone()[0]
        out[(rule.type, rule.id)] = n
    for t, var in (("case", "tot_1"), ("visit", "vis_1")):
        out[(t, var)] = con.execute(
            f"SELECT count(*) FROM rows WHERE type = '{t}'"
        ).fetchone()[0]
    con.close()
    return out
