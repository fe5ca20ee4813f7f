"""Tests of the benchmark's own parts: input generators and the
repeatability of its load-independent counters.

    python3 -m pytest perfbench/test_perfbench.py -q

The generator tests take seconds. ``test_traced_counts_repeat`` runs
the benchmark twice per workload in a subprocess (about 1-3 minutes
per run); select workloads with ``-k``.
"""

from __future__ import annotations

import csv
import filecmp
import json
import os
import subprocess
import sys
from collections import Counter, defaultdict

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_healthcare  # noqa: E402
import gen_tables  # noqa: E402

REF_COLS = gen_healthcare.COLUMNS[:-1]  # everything but the ingest ordinal


def _rows(path: str) -> list[dict]:
    with open(path, newline="") as f:
        return list(csv.DictReader(f))


@pytest.fixture(scope="module")
def hc_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("hc")
    gen_healthcare.generate(str(d / "a"), seed=3, n_batches=3)
    gen_healthcare.generate(str(d / "b"), seed=3, n_batches=3)
    return d


def test_hc_same_seed_gives_identical_files(hc_dir):
    a, b = hc_dir / "a", hc_dir / "b"
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b))
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors


def test_hc_other_seed_differs(tmp_path):
    gen_healthcare.generate(str(tmp_path / "x"), seed=4, n_batches=1)
    gen_healthcare.generate(str(tmp_path / "y"), seed=5, n_batches=1)
    assert not filecmp.cmp(tmp_path / "x" / "batch_00.csv", tmp_path / "y" / "batch_00.csv",
                           shallow=False)


def test_hc_properties(hc_dir):
    rows = _rows(str(hc_dir / "a" / "batch_00.csv"))
    assert list(rows[0]) == gen_healthcare.COLUMNS
    assert "Blood Type" in rows[0] and "Date of Admission" in rows[0]
    n = len(rows)
    assert n == 10_000

    # exact full-row duplicates (ingest ordinal aside): at least 3%
    full = Counter(tuple(r[c] for c in REF_COLS) for r in rows)
    assert sum(c - 1 for c in full.values()) >= 0.03 * n

    # nulls (empty CSV fields) in name and both dates: about 1% each
    for col in ("Name", "Date of Admission", "Discharge Date"):
        share = sum(1 for r in rows if r[col] == "") / n
        assert 0.005 <= share <= 0.02, (col, share)

    # one patient under several messy renderings; apostrophe/hyphen names
    variants = defaultdict(set)
    for r in rows:
        if r["Name"]:
            variants[r["Name"].strip().title()].add(r["Name"])
    assert max(len(v) for v in variants.values()) >= 3
    raw = {r["Name"] for r in rows if r["Name"]}
    assert any(x != x.strip() for x in raw)  # stray spaces
    assert any(x.strip() not in (x.strip().lower(), x.strip().title()) for x in raw)
    assert any("O'Brien" in k for k in variants)
    assert any("Smith-Jones" in k for k in variants)

    # same admission key, rows that differ only in doctor
    by_key = defaultdict(set)
    for r in rows:
        rest = tuple(r[c] for c in REF_COLS if c != "Doctor")
        by_key[rest].add(r["Doctor"])
    assert sum(1 for d in by_key.values() if len(d) > 1) >= 0.01 * n


def test_hc_manifest_matches_recount(hc_dir):
    with open(hc_dir / "a" / "manifest.json") as f:
        m = json.load(f)
    pats, adms = set(), set()
    for b in m["batches"]:
        rows = _rows(str(hc_dir / "a" / b["file"]))
        conv = []
        for r in rows:
            r = {k: (v if v != "" else None) for k, v in r.items()}
            r["Age"], r["Room Number"] = int(r["Age"]), int(r["Room Number"])
            conv.append(r)
        p = {gen_healthcare.patient_key(r) for r in conv}
        a = {gen_healthcare.admission_key(r) for r in conv}
        assert (len(p), len(a)) == (b["patients"], b["admissions"])
        assert b["rows"] == len(rows)
        pats |= p
        adms |= a
    assert (len(pats), len(adms)) == (m["epoch_patients"], m["epoch_admissions"])


def test_tables_deterministic_and_typed():
    a = gen_tables.build_tables(0.001, seed=42)
    b = gen_tables.build_tables(0.001, seed=42)
    assert set(a) == set(gen_tables.TABLES)
    for name in gen_tables.TABLES:
        assert a[name].equals(b[name]), name
    assert str(a["orders"].schema.field("o_orderdate").type) == "timestamp[us]"
    assert str(a["nation"].schema.field("n_nationkey").type) == "int32"
    assert str(a["embeddings"].schema.field("embedding").type) == "list<item: float>"
    assert a["lineitem"].num_rows == 6000 and a["documents"].num_rows == 500
    texts = a["documents"].column("text").to_pylist()
    assert sum(t.endswith(" dup") for t in texts) == len(texts) // 20


#: Counters that do not depend on machine load: two traced runs with one
#: seed must read them identically (run totals). README.md names the
#: counters that cannot repeat and why.
REPEATABLE = (
    "plans.py4j_calls",
    "plans.eager_jobs",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "streaming.batches",
    "sources.rows_appended",
)
#: Shuffle bytes are compressed map output, whose size depends on the
#: order records reach each partition (task timing); they repeat to a
#: few bytes in millions, not exactly.
NEAR_REPEATABLE = ("exec.shuffle_read_mb", "exec.shuffle_write_mb")


def _traced(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0
    return {k: v["value"] for k, v in res["metrics"].items()}


@pytest.mark.parametrize("workload", ["olap_mix", "hc_etl", "stream_replay", "llm_curation"])
def test_traced_counts_repeat(workload):
    a, b = _traced(workload, 7), _traced(workload, 7)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        assert set(a) == {m["name"] for m in json.load(f)["per_layer"]}
    diff = {
        k: (a[f"{k}.run_total"], b[f"{k}.run_total"])
        for k in REPEATABLE
        if a[f"{k}.run_total"] != b[f"{k}.run_total"]
    }
    diff.update(
        (k, (a[f"{k}.run_total"], b[f"{k}.run_total"]))
        for k in NEAR_REPEATABLE
        if a[f"{k}.run_total"] != pytest.approx(b[f"{k}.run_total"], rel=1e-4)
    )
    assert not diff, diff
