"""Seeded input generators for the benchmark.

Everything the engine sees is made here from the workload seed: the three
demo form shapes (``demo_case``/``demo_alert``/``demo_register``), the
device allowlist, the location hierarchy, a demo-codes-shaped rule table of
about 100 rules, the link and data-type definitions, stream micro-batches
and a text corpus with planted near-duplicate clusters.

Forms come from ``sources.fake_data.generate_form``; the generators here
only add what that function has no spec for (skewed clinics, invalid
dates, alert ids that point at real case uuids, collision-free uuids).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import random

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from meerkat_abacus_spark.operators.coding import Rule
from meerkat_abacus_spark.operators.links import LinkDef
from meerkat_abacus_spark.operators.to_data_type import DataTypeSpec
from meerkat_abacus_spark.sources.fake_data import generate_form

UUID = "meta/instanceID"
EPI_CONFIG = "day:0"
IMPORT_AFTER = "2017-01-01"

N_CLINICS = 40
HOT_CLINIC = "1"
# One hot clinic: device "1" appears 13 extra times in the uniform pick
# list, so it sends about a quarter of all submissions.
REGISTERED_DEVICES = [str(d) for d in range(1, N_CLINICS + 1)]
UNREGISTERED_DEVICES = ["91", "92"]
DEVICE_CHOICES = [HOT_CLINIC] * 13 + REGISTERED_DEVICES + UNREGISTERED_DEVICES

ICD_CODES = [f"{l}{n:02d}" for l in "ABCDEFGHIJKL" for n in range(4)]  # 48
SYMPTOMS = ["fever", "cough", "rash", "diarrhoea", "vomiting"]
LAB_RESULTS = ["positive", "negative", "pending"]

CASE_FIELDS = {
    "intro./visit": {"one": ["new", "new", "new", "return", "referral"]},
    "intro./module": {"one": ["cd", "ncd", "mh"]},
    "icd_code": {"one": ICD_CODES},
    "pt1./age": {"integer": [0, 99]},
    "pt1./gender": {"one": ["male", "female"]},
    "deviceid": {"one": DEVICE_CHOICES},
    "SubmissionDate": {"date": ["2016-11-01", "2017-12-31"]},
    "pt./visit_date": {"date": ["2017-01-01", "2017-12-28"]},
    "symptoms": {"multiple": SYMPTOMS},
    "temperature": {"range": [35, 41]},
    "pregnant": {"one": ["yes", "no", "no", "no"]},
    "nationality": {"one": ["demo", "demo", "null_island"]},
    "results./bmi_weight": {"range": [3, 120]},
    "results./bmi_height": {"range": [50, 200]},
}
ALERT_FIELDS = {
    "alert_labs./return_lab": {"one": LAB_RESULTS},
    "deviceid": {"one": REGISTERED_DEVICES},
    "SubmissionDate": {"date": ["2017-01-01", "2017-12-31"]},
    "end": {"date": ["2017-01-01", "2017-12-28"]},
}
REGISTER_FIELDS = {
    "consult./consultations": {"integer": [0, 60]},
    "deviceid": {"one": REGISTERED_DEVICES},
    "SubmissionDate": {"date": ["2017-01-01", "2017-12-31"]},
    "end": {"date": ["2017-01-01", "2017-12-28"]},
}

DATA_TYPES = [
    DataTypeSpec(name="Case", type="case", form="demo_case",
                 db_column="intro./visit", condition="new",
                 date="pt./visit_date", var="tot_1"),
    DataTypeSpec(name="Visit", type="visit", form="demo_case",
                 date="pt./visit_date", var="vis_1"),
    DataTypeSpec(name="Alert", type="alert", form="demo_alert",
                 date="end", var="alert_1"),
    DataTypeSpec(name="Register", type="register", form="demo_register",
                 date="end", var="reg_1"),
]
CASE_TYPES = [t for t in DATA_TYPES if t.form == "demo_case"]
ALERT_TYPES = [t for t in DATA_TYPES if t.form == "demo_alert"]

LINKS = [
    LinkDef(name="return_visit", type="case", to_form="demo_case",
            from_form="demo_case", from_column="pt./pid;icd_code",
            to_column="pt./pid;icd_code", method="match;match",
            order_by="pt./visit_date;date", uuid=UUID,
            to_condition="intro./visit:return"),
    LinkDef(name="alert_investigation", type="case", to_form="demo_alert",
            from_form="demo_case", from_column=UUID,
            to_column="pt./alert_id", method="alert_match",
            order_by="end;date", uuid=UUID),
]
ALERT_LINK = LINKS[1]
# initial_visit_control and the return_visit link both key on these, so a
# recompute over every submission sharing them is exact (see wl_stream).
GROUP_COLS = ["pt./pid", "icd_code"]


def build_rules() -> list[Rule]:
    """A demo-codes-shaped rule table: match, sub_match, between, calc,
    value and multiple_link rules, grouped and ungrouped."""
    R = Rule
    rules = [
        R("gen_1", "match", "pt1./gender", "male", category=["gender"],
          calculation_group="gender"),
        R("gen_2", "match", "pt1./gender", "female", category=["gender"],
          calculation_group="gender"),
    ]
    for i, (lo, hi) in enumerate(
        [(0, 1), (1, 5), (5, 15), (15, 25), (25, 60), (60, 200)], 1
    ):
        rules.append(R(f"age_{i}", "between", "pt1./age", f"{lo},{hi}",
                       calculation="pt1./age", category=["age"],
                       calculation_group="age"))
    for i, code in enumerate(ICD_CODES, 1):
        rules.append(R(
            f"cmd_{i}", "match", "icd_code", code,
            category=["cd_tab" if i <= 24 else "ncd_tab"],
            alert=i in (1, 7, 13), alert_type="individual" if i in (1, 7, 13) else None,
        ))
    for i in range(8):
        codes = ",".join(ICD_CODES[i * 6:(i + 1) * 6])
        rules.append(R(f"dis_{i + 1}", "match", "icd_code", codes,
                       category=["disease_group"]))
    for i, mod in enumerate(["cd", "ncd", "mh"], 1):
        rules.append(R(f"mod_{i}", "match", "intro./module", mod,
                       category=["module"], calculation_group="module"))
    for i, sym in enumerate(SYMPTOMS, 1):
        rules.append(R(f"sym_{i}", "sub_match", "symptoms", sym,
                       category=["symptom"]))
    for i, (lo, hi) in enumerate(
        [(35, 37.5), (37.5, 38.5), (38.5, 39.5), (39.5, 42)], 1
    ):
        rules.append(R(f"tmp_{i}", "between", "temperature", f"{lo},{hi}",
                       calculation="temperature", calculation_group="temp"))
    rules += [
        R("bmi_1", "calc", "results./bmi_weight,results./bmi_height", "",
          calculation="results./bmi_weight / ((results./bmi_height / 100)"
          " * (results./bmi_height / 100))"),
        R("prg_1", "match", "pregnant", "yes"),
        R("nat_1", "match", "nationality", "demo", calculation_group="nat"),
        R("nat_2", "match", "nationality", "null_island",
          calculation_group="nat"),
        R("cmb_1", "match and between", "pt1./gender;pt1./age",
          "female;15,50", calculation="pt1./age"),
        R("cmb_2", "match and between", "pt1./gender;pt1./age",
          "male;60,200", calculation="pt1./age"),
        R("cmb_3", "match and between", "pregnant;pt1./age", "yes;15,25",
          calculation="pt1./age"),
        R("cmb_4", "match or match", "icd_code;symptoms", "A00;rash"),
        R("sub_date", "value", "SubmissionDate", "", calculation="date"),
        R("ret_1", "value", UUID, "", multiple_link="count",
          form="return_visit"),
        R("ret_2", "match", "intro./module", "cd", multiple_link="last",
          form="return_visit"),
        R("lab_1", "match", "alert_labs./return_lab", "positive",
          multiple_link="last", form="alert_investigation"),
        R("lab_2", "value", UUID, "", multiple_link="count",
          form="alert_investigation"),
    ]
    for i, (lo, hi) in enumerate([(0, 5), (5, 15), (15, 60), (60, 200)], 1):
        rules.append(R(f"vag_{i}", "between", "pt1./age", f"{lo},{hi}",
                       calculation="pt1./age", calculation_group="vage",
                       type="visit"))
    rules += [
        R("vgn_1", "match", "pt1./gender", "male", type="visit"),
        R("vgn_2", "match", "pt1./gender", "female", type="visit"),
    ]
    for i, res in enumerate(LAB_RESULTS, 1):
        rules.append(R(f"ale_{i}", "match", "alert_labs./return_lab", res,
                       type="alert", category=["lab"]))
    rules += [
        R("reg_2", "value", "consult./consultations", "", type="register"),
        R("reg_3", "between", "consult./consultations", "20,61",
          calculation="consult./consultations", type="register"),
    ]
    return rules


RULES = build_rules()


def checkable_rules() -> list[Rule]:
    """Rules whose per-row outcome is one SQL predicate independent of every
    other rule (ungrouped, or in a group whose members are disjoint), so an
    outside engine can count them: match and between rules, no links."""
    return [
        r for r in RULES
        if not r.multiple_link
        and r.type in ("case", "visit")
        and set(r.tests()[0]) <= {"match", "between"}
    ]


def _uuidify(df: DataFrame, form: str, seed: int) -> DataFrame:
    """Collision-free uuids across forms and seeds (``generate_form`` keys
    its uuid on ``seed || row``, so seeds 1 and 11 can collide)."""
    return df.withColumn(
        UUID,
        F.concat(
            F.lit("uuid:"),
            F.md5(F.concat(F.lit(f"{form}:{seed}:"), F.col(f"`{UUID}`"))),
        ),
    )


def case_forms(
    spark: SparkSession, n: int, seed: int, pid_space: int | None = None
) -> DataFrame:
    """``demo_case`` submissions: skewed clinics, about 2 % unparseable visit
    dates, some submissions before the import cutoff, some unregistered
    devices.  ``pid_space`` sets how often (pid, icd) groups repeat."""
    fields = dict(CASE_FIELDS)
    fields["pt./pid"] = {"patient_id": pid_space or max(1, n // 3)}
    df = _uuidify(generate_form(spark, n, fields, seed=seed), "demo_case", seed)
    bad = F.rand(seed * 7919 + 1) < 0.02
    return df.withColumn(
        "pt./visit_date",
        F.when(bad, F.lit("not-a-date")).otherwise(F.col("`pt./visit_date`")),
    )


def alert_forms(
    spark: SparkSession, n: int, seed: int, alert_ids: list[str]
) -> DataFrame:
    """``demo_alert`` forms whose ``pt./alert_id`` is the 6-char suffix of a
    case uuid, so the alert_investigation link finds them."""
    fields = dict(ALERT_FIELDS)
    fields["pt./alert_id"] = {"data": alert_ids}
    return _uuidify(generate_form(spark, n, fields, seed=seed), "demo_alert", seed)


def register_forms(spark: SparkSession, n: int, seed: int) -> DataFrame:
    return _uuidify(
        generate_form(spark, n, REGISTER_FIELDS, seed=seed), "demo_register", seed
    )


def case_uuid(seed: int, row: int) -> str:
    """The uuid :func:`case_forms` gives row ``row`` (computed in Python:
    ``generate_form`` keys its uuid on md5(seed || row))."""
    inner = "uuid:" + hashlib.md5(f"{seed}{row}".encode()).hexdigest()
    return "uuid:" + hashlib.md5(f"demo_case:{seed}:{inner}".encode()).hexdigest()


def alert_ids_for(seed: int, n_cases: int, k: int, pick_seed: int) -> list[str]:
    """``k`` case-uuid suffixes of the ``n_cases`` forms made with ``seed``,
    picked by ``pick_seed``: the ids late alerts point at."""
    rng = random.Random(pick_seed)
    rows = rng.sample(range(n_cases), min(k, n_cases))
    return sorted(case_uuid(seed, i)[-6:] for i in rows)


_MAP = pa.map_(pa.string(), pa.string())
DATA_SCHEMA = pa.schema([
    ("uuid", pa.string()), ("type", pa.string()), ("type_name", pa.string()),
    ("deviceid", pa.string()), ("date", pa.timestamp("us", tz="UTC")),
    ("variables", _MAP), ("categories", _MAP), ("alert", pa.bool_()),
    ("alert_reason", pa.string()), ("disregard", pa.bool_()),
])
# Epi week 1 of 2017 under EPI_CONFIG ("day:0") starts on Monday 2 January.
EPI_WEEK1 = dt.date(2017, 1, 2)


def data_rows(n: int, seed: int) -> list[tuple]:
    """``n`` rows shaped like the coded ``data`` table the chain writes
    (``DATA_SCHEMA``: type, device, day-truncated date, ``variables`` and
    ``categories`` maps, individual alerts), drawn in Python from the seed:
    60 % case rows coded with one diagnosis, its disease group, gender, age
    group, module and one symptom, 40 % visit rows.  Dates fall on
    2017-01-02 .. 2017-12-28, all in epi year 2017."""
    rng = random.Random(f"data:{seed}")
    devices = [d for d in DEVICE_CHOICES if d in REGISTERED_DEVICES]
    rows = []
    for i in range(n):
        icd = rng.randrange(len(ICD_CODES)) + 1
        dis = (icd - 1) // 6 + 1
        gender, age = rng.randint(1, 2), rng.randint(1, 6)
        mod, sym = rng.randint(1, 3), rng.randint(1, len(SYMPTOMS))
        day = EPI_WEEK1 + dt.timedelta(days=rng.randrange(361))
        uuid = "uuid:" + hashlib.md5(f"data:{seed}:{i}".encode()).hexdigest()
        device = rng.choice(devices)
        date = dt.datetime.combine(day, dt.time())
        if rng.random() < 0.6:
            variables = {"tot_1": "1", f"cmd_{icd}": "1", f"dis_{dis}": "1",
                         f"gen_{gender}": "1", f"age_{age}": "1",
                         f"mod_{mod}": "1", f"sym_{sym}": "1"}
            categories = {"gender": f"gen_{gender}", "age": f"age_{age}",
                          "disease_group": f"dis_{dis}", "module": f"mod_{mod}",
                          "symptom": f"sym_{sym}"}
            alert = icd in (1, 7, 13)
            rows.append((uuid, "case", "Case", device, date, variables, categories,
                         alert, f"cmd_{icd}" if alert else None, False))
        else:
            rows.append((uuid, "visit", "Visit", device, date,
                         {"vis_1": "1", f"vgn_{gender}": "1"}, {}, False, None, False))
    return rows


def write_data_table(rows: list[tuple], path: str) -> None:
    """Write ``rows`` (from :func:`data_rows`) under ``path`` in the layout
    ``sinks.append_sink`` gives ``data``: parquet, hive-partitioned by
    (type, epi_year), with the epi week as a column.  pyarrow writes it,
    so the engine's first work in the run is the dashboard's own."""
    table = {c: [r[i] for r in rows] for i, c in enumerate(DATA_SCHEMA.names)}
    for c in ("variables", "categories"):
        table[c] = [list(m.items()) for m in table[c]]
    table["epi_year"] = [2017] * len(rows)
    table["epi_week"] = [(r[4].date() - EPI_WEEK1).days // 7 + 1 for r in rows]
    schema = DATA_SCHEMA.append(pa.field("epi_year", pa.int32())).append(
        pa.field("epi_week", pa.int32()))
    pq.write_to_dataset(pa.Table.from_pydict(table, schema=schema), path,
                        partition_cols=["type", "epi_year"])


# --- locations ---------------------------------------------------------------

def location_rows() -> list[dict]:
    """country → 4 regions → 12 districts → 40 clinics; each clinic owns the
    device with its own number."""
    rows = [{"id": 1, "name": "Demo", "parent_location": None,
             "level": "country", "deviceid": None}]
    for r in range(4):
        rows.append({"id": 10 + r, "name": f"Region {r}", "parent_location": 1,
                     "level": "region", "deviceid": None})
    for d in range(12):
        rows.append({"id": 100 + d, "name": f"District {d}",
                     "parent_location": 10 + d % 4, "level": "district",
                     "deviceid": None})
    for c in range(1, N_CLINICS + 1):
        rows.append({"id": 1000 + c, "name": f"Clinic {c}",
                     "parent_location": 100 + c % 12, "level": "clinic",
                     "deviceid": str(c)})
    return rows


def clinic_ancestry() -> dict[str, dict[str, int]]:
    """deviceid → {clinic, district, region} ids, walked in Python (the
    independent answer the dashboard check compares against)."""
    by_id = {r["id"]: r for r in location_rows()}
    out = {}
    for r in by_id.values():
        if r["level"] != "clinic":
            continue
        district = by_id[r["parent_location"]]
        out[r["deviceid"]] = {
            "clinic": r["id"],
            "district": district["id"],
            "region": district["parent_location"],
        }
    return out


def locations_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        location_rows(),
        "id long, name string, parent_location long, level string, deviceid string",
    )


# --- corpus -----------------------------------------------------------------

_STOP = ["the", "a", "of", "and", "to", "in", "is"]


def corpus(seed: int, n_docs: int) -> tuple[list[tuple[int, str]], list[list[int]]]:
    """(docs, planted clusters).  About a fifth of the docs sit in planted
    near-duplicate clusters of 2-5 (each member a 2 % token edit of the
    cluster's base), 3 % are exact copies of another doc, 5 % are low-quality
    (short or punctuation-heavy) and the rest are unrelated background."""
    rng = random.Random(seed)
    vocab = [f"w{rng.randrange(10**6):06d}" for _ in range(4000)]

    def sentence(length: int) -> list[str]:
        return [
            rng.choice(_STOP) if rng.random() < 0.25 else rng.choice(vocab)
            for _ in range(length)
        ]

    docs: list[tuple[int, str]] = []
    clusters: list[list[int]] = []
    next_id = 0

    def add(tokens: list[str]) -> int:
        nonlocal next_id
        docs.append((next_id, " ".join(tokens)))
        next_id += 1
        return next_id - 1

    while next_id < n_docs:
        kind = rng.random()
        if kind < 0.05:
            if rng.random() < 0.5:
                add(sentence(rng.randrange(3, 8)))
            else:
                add([t + "!!" for t in sentence(rng.randrange(60, 120))])
        elif kind < 0.08 and docs:
            add(docs[rng.randrange(len(docs))][1].split(" "))
        elif kind < 0.13:
            base = sentence(rng.randrange(80, 160))
            members = []
            for _ in range(rng.randrange(2, 6)):
                variant = [
                    rng.choice(vocab) if rng.random() < 0.02 else t for t in base
                ]
                members.append(add(variant))
            clusters.append(members)
        else:
            add(sentence(rng.randrange(60, 160)))
    return docs, clusters


def shingle_set(text: str, k: int = 3) -> set[str]:
    toks = text.strip().split()
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


# --- dashboard query mix ----------------------------------------------------

DASH_VARS = [f"cmd_{i}" for i in range(1, 49)] + [
    "tot_1", "gen_1", "gen_2", "age_1", "age_2", "prg_1", "sym_1", "sym_3",
]
CATEGORIES = ["gender", "age", "disease_group", "module", "symptom"]
LEVELS = ["clinic", "district", "region"]


def zipf_pick(rng: random.Random, items: list, s: float = 1.0):
    weights = [1.0 / (i + 1) ** s for i in range(len(items))]
    return rng.choices(items, weights=weights, k=1)[0]


# One block of the traffic mix: one of each query kind.  No measured
# Meerkat API traffic was available, so the equal proportions, the Zipf
# exponent and the week ranges are assumptions, not observations.
QUERY_BLOCK = ["var_by_level", "category", "alerts", "point"]


def query_mix(seed: int, n: int) -> list[tuple]:
    """A seeded stream of dashboard queries, in shuffled blocks of
    ``QUERY_BLOCK``.  Variables, districts and clinics are Zipf-skewed
    over seed-shuffled lists; date ranges are 1–13 epi weeks ending in a
    uniformly chosen week of 2017.

    Shapes: ("var_by_level", var, level, w_from, w_to),
    ("category", category, district_id, w_from, w_to),
    ("alerts", w_from), ("point", var, clinic_id)."""
    rng = random.Random(seed)
    variables = list(DASH_VARS)
    districts = list(range(100, 112))
    clinics = list(range(1001, 1001 + N_CLINICS))
    rng.shuffle(variables)
    rng.shuffle(districts)
    rng.shuffle(clinics)

    def weeks() -> tuple[int, int]:
        end = rng.randint(1, 52)
        return max(1, end - rng.randint(0, 12)), end

    out = []
    while len(out) < n:
        block = list(QUERY_BLOCK)
        rng.shuffle(block)
        for kind in block:
            if kind == "var_by_level":
                out.append((kind, zipf_pick(rng, variables), rng.choice(LEVELS), *weeks()))
            elif kind == "category":
                out.append((kind, rng.choice(CATEGORIES), zipf_pick(rng, districts), *weeks()))
            elif kind == "alerts":
                out.append((kind, weeks()[0]))
            else:
                out.append((kind, zipf_pick(rng, variables), zipf_pick(rng, clinics)))
    return out[:n]
