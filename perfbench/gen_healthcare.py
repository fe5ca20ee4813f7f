"""Seeded generator for the ``hc_etl`` workload's messy healthcare CSV.

Writes ``n_batches`` CSV files of ``rows`` rows each in the reference
column naming (``Name``, ``Blood Type``, ``Date of Admission`` ...,
FIXTURES.md §A) plus an ``ingest_seq`` column, the explicit input
ordinal the pipeline's first-seen dedup needs. The rows carry every
property the reference pipeline's rules are there for:

- exact full-row duplicates (at least 3% of each batch);
- patients drawn from a shared pool and repeated across batches under
  messy name variants: random case, stray outer spaces, ``o'brien`` /
  ``smith-jones`` style names whose ``str.title()`` differs from SQL
  ``initcap``;
- rows that repeat an admission key (patient, date, hospital, room)
  and differ only in ``doctor``, so first-seen-wins decides;
- about 1% nulls in ``name`` and in both date columns.

The pool size (``n_patients``, 6,000) is a free choice: no source in
the repository gives the reference data's patient repeat rate. With
10,000 draws per batch, the first delivery of an epoch appends about
4,800 patients, the next few about 1,000, 300 and 100, and every later
one under 100, while each delivery appends about 9,250 admissions.
After the first deliveries, nearly all of an epoch's writes are
admissions, and the patients table a delivery anti-joins against stays
at about 6,600 rows. README.md gives the measured appends per delivery.

``manifest.json`` records the distinct patient and admission keys per
batch and over the whole epoch (all batches), computed here in plain
Python with the reference semantics (``name.strip().title()``, nulls
kept as their own value), never by the engine. Only the
standard library is used; one seed gives byte-identical files.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import json
import os
import random

COLUMNS = [
    "Name",
    "Age",
    "Gender",
    "Blood Type",
    "Medical Condition",
    "Date of Admission",
    "Doctor",
    "Hospital",
    "Insurance Provider",
    "Billing Amount",
    "Room Number",
    "Admission Type",
    "Discharge Date",
    "Medication",
    "Test Results",
    "ingest_seq",
]

#: Spark DDL for the CSV scan; the names are the reference's own, the
#: pipeline's column normalization turns them into snake_case.
SCHEMA_DDL = ", ".join(
    f"`{c}` {t}"
    for c, t in zip(
        COLUMNS,
        [
            "string", "int", "string", "string", "string", "string",
            "string", "string", "string", "double", "int", "string",
            "string", "string", "string", "bigint",
        ],
    )
)

FIRST = [
    "bobby", "anna", "maria", "john", "li", "fatima", "carlos", "emma",
    "noah", "olga", "yusuf", "chloe", "ivan", "mei", "sara", "tom",
]
LAST = [
    "jackson", "o'brien", "smith-jones", "mcdonald", "garcia", "nguyen",
    "d'angelo", "van-dyke", "kowalski", "brown", "lee", "o'neil", "silva",
    "ross-taylor", "khan", "weber",
]
BLOOD = ["A+", "A-", "B+", "B-", "AB+", "AB-", "O+", "O-"]
CONDITIONS = ["Diabetes", "Hypertension", "Asthma", "Arthritis", "Cancer", "Obesity"]
HOSPITALS = ["General Hospital", "St Mary", "Unity Clinic", "Riverside", "Hope Center"]
INSURERS = ["Aetna", "Cigna", "Medicare", "UnitedHealthcare", "Blue Cross"]
MEDS = ["Aspirin", "Ibuprofen", "Paracetamol", "Penicillin", "Lipitor"]
ADMIT = ["Emergency", "Elective", "Urgent"]
RESULTS = ["Normal", "Abnormal", "Inconclusive"]
DOCTORS = [f"Dr {a} {b}" for a in ("Ann", "Bo", "Cy", "Di") for b in ("Fox", "Gu", "Ho")]

BASE_DAY = dt.date(2019, 1, 1)
SPAN_DAYS = 5 * 365


def _messy(name: str, rng) -> str:
    """One rendering of ``name`` with random case and outer spaces."""
    mode = rng.randrange(4)
    if mode == 1:
        name = name.upper()
    elif mode == 2:
        name = "".join(ch.upper() if rng.random() < 0.5 else ch for ch in name)
    elif mode == 3:
        name = name.title()
    return " " * rng.randrange(3) + name + " " * rng.randrange(3)


def patient_key(row: dict) -> tuple:
    """Reference patient natural key: (title-cased name, age, gender, blood)."""
    name = row["Name"]
    return (name.strip().title() if name else None, row["Age"], row["Gender"], row["Blood Type"])


def admission_key(row: dict) -> tuple:
    """Reference admission natural key: (patient, admission date, hospital, room)."""
    return (patient_key(row), row["Date of Admission"] or None, row["Hospital"], row["Room Number"])


def _batch_rows(rng, b: int, rows: int, pool: list[tuple]) -> list[dict]:
    out: list[dict] = []
    seq = b * rows
    while len(out) < rows:
        first, last, age, gender, blood = pool[rng.randrange(len(pool))]
        name = None if rng.random() < 0.01 else _messy(f"{first} {last}", rng)
        day = BASE_DAY + dt.timedelta(days=rng.randrange(SPAN_DAYS))
        stay = rng.randrange(30)
        row = {
            "Name": name,
            "Age": age,
            "Gender": gender,
            "Blood Type": blood,
            "Medical Condition": CONDITIONS[rng.randrange(len(CONDITIONS))],
            "Date of Admission": None if rng.random() < 0.01 else day.isoformat(),
            "Doctor": DOCTORS[rng.randrange(len(DOCTORS))],
            "Hospital": HOSPITALS[rng.randrange(len(HOSPITALS))],
            "Insurance Provider": INSURERS[rng.randrange(len(INSURERS))],
            "Billing Amount": rng.uniform(-500.0, 50000.0),
            "Room Number": rng.randrange(100, 501),
            "Admission Type": ADMIT[rng.randrange(len(ADMIT))],
            "Discharge Date": None
            if rng.random() < 0.01
            else (day + dt.timedelta(days=stay)).isoformat(),
            "Medication": MEDS[rng.randrange(len(MEDS))],
            "Test Results": RESULTS[rng.randrange(len(RESULTS))],
        }
        out.append(row)
        u = rng.random()
        if u < 0.04:  # exact full-row duplicate
            out.append(dict(row))
        elif u < 0.08:  # same admission key, another doctor
            twin = dict(row)
            twin["Doctor"] = DOCTORS[(DOCTORS.index(row["Doctor"]) + 1) % len(DOCTORS)]
            out.append(twin)
    out = out[:rows]
    for i, r in enumerate(out):
        r["ingest_seq"] = seq + i
    return out


def _csv_bytes(rows: list[dict]) -> bytes:
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(COLUMNS)
    for r in rows:
        vals = []
        for c in COLUMNS:
            v = r[c]
            vals.append("" if v is None else (repr(v) if isinstance(v, float) else v))
        w.writerow(vals)
    return buf.getvalue().encode("utf-8")


def generate(out_dir: str, seed: int, n_batches: int = 10, rows: int = 10_000,
             n_patients: int = 6_000) -> dict:
    """Write ``batch_XX.csv`` files and ``manifest.json`` to ``out_dir``;
    return the manifest."""
    rng = random.Random(f"hc_etl-{seed}")
    pool = [
        (
            FIRST[rng.randrange(len(FIRST))],
            LAST[rng.randrange(len(LAST))],
            rng.randrange(91),
            ("Male", "Female")[rng.randrange(2)],
            BLOOD[rng.randrange(len(BLOOD))],
        )
        for _ in range(n_patients)
    ]
    os.makedirs(out_dir, exist_ok=True)
    batches = []
    pats: set[tuple] = set()
    adms: set[tuple] = set()
    for b in range(n_batches):
        rows_b = _batch_rows(rng, b, rows, pool)
        data = _csv_bytes(rows_b)
        name = f"batch_{b:02d}.csv"
        with open(os.path.join(out_dir, name), "wb") as f:
            f.write(data)
        p_b = {patient_key(r) for r in rows_b}
        a_b = {admission_key(r) for r in rows_b}
        pats |= p_b
        adms |= a_b
        batches.append(
            {"file": name, "rows": len(rows_b), "bytes": len(data),
             "patients": len(p_b), "admissions": len(a_b)}
        )
    manifest = {
        "seed": seed,
        "batches": batches,
        "epoch_patients": len(pats),
        "epoch_admissions": len(adms),
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
