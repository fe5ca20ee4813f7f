"""The benchmark's workloads: what one operation is, the schedule of a
pass, and how outputs are checked.

A pass is a fixed multiset of operations in a seed-permuted order, so
every run times the same work. Catalog workloads run registered
catalog entries (``plans.QUERIES``) into the ``noop`` sink; ``hc_etl``
runs the reference pipeline over one generated CSV batch per
operation. README.md in this directory gives the reasons for each
workload and its size.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
from dataclasses import dataclass, field

OLAP_MIX = (
    "q01_pricing_summary q03_shipping_priority q05_region_revenue "
    "q06_forecast_revenue q07_volume_shipping q10_returned_items "
    "q12_shipmode_priority q13_customer_distribution q18_large_volume_customers "
    "q21_waiting_orders join_anti_customers_without_orders join_range_shipped_late "
    "rollup_region_nation_balance cube_status_priority "
    "window_top3_customers_per_nation window_running_revenue sort_topk_orders "
    "dedup_first_lineitem_per_order stats_percentiles_acctbal "
    "mad_outliers_order_price sql_cte_nation_revenue_rank sql_correlated_max_order "
    "json_extract_event_props tumbling_window_event_stats session_windows_per_user "
    "asof_latest_view_before_purchase series_monthly_orders_gapfill fd_audit_g3 "
    "poisson_bootstrap_ci_event_mean recursive_cte_bfs_hops abc_classification_parts "
    "try_arithmetic_null_on_error"
).split()

#: Layer probes carried by every olap_mix pass. ``stream_replay`` and
#: ``llm_curation`` do not fit the evaluation protocol's time budget,
#: so these two entries put the streaming drain (a micro-batch, state
#: store) and the Python-worker boundary (an Arrow pandas UDF) into a
#: workload that the protocol runs. Each probe adds about 1 s to the
#: measured pass and 2 s to the warm-up of every run.
OLAP_MIX_PROBES = ["streaming_tumbling_availablenow", "udf_pandas_quality_score"]

LLM_CURATION = (
    "doc_exact_dedup simhash_near_dup doc_fingerprint_minshingle winnowing_fingerprints "
    "tfidf_cosine_pairs_topk ppjoin_prefix_filter_pairs shingle_containment_pairs "
    "bigram_lm_doc_score doc_repetition_quality gopher_quality_rules_docs "
    "udf_pandas_quality_score embedding_topk_cosine embedding_cosine_near_dup "
    "ann_recall_ivf_at5 contamination_ngram_overlap token_count_bpe_regex "
    "multimodal_resize_thumbnails curation_pipeline_end_to_end"
).split()

STREAM_REPLAY = (
    "streaming_tumbling_availablenow streaming_sliding_availablenow "
    "streaming_session_availablenow streaming_dedup_availablenow "
    "streaming_join_availablenow streaming_apply_in_pandas_with_state_availablenow "
    "streaming_transform_with_state_availablenow "
    "streaming_ingest_idempotent_availablenow"
).split()

#: Entries without a DuckDB oracle: expected (row count, digest of the
#: sorted rows) on the generated sf0.1 tables (gen_tables, seed 42).
STABLE_DIGESTS = {
    "simhash_near_dup": (
        149,
        "25fbee4753713c7695274cfc1feff3b563a5eaeee7d9ad7e62c2699f2b074318",
    ),
}

#: hc_etl: batches per epoch, rows per batch, and one re-delivery per
#: this many operations (10 batches get 2 re-deliveries). An op costs
#: about 1.7 s at 5,000 or 10,000 rows alike, so the epoch length, not
#: the batch size, sets the run time: 10 batches keep a run within the
#: evaluation protocol's time budget.
HC_BATCHES = 10
HC_ROWS = 10_000
HC_REDELIVER_EVERY = 5
#: hc_etl warm-up deliveries. After a single delivery the first
#: measured ops still ran ~1.3x slower than after several (JIT); each
#: more costs ~2 s of set-up in every run.
HC_WARMUP_DELIVERIES = 3


class CheckFailed(Exception):
    """An operation's output differs from what it must be."""


@dataclass
class Op:
    """One scheduled operation."""

    entry: str  # catalog entry, or the hc batch file name
    redelivery: bool = False


@dataclass
class Workload:
    name: str
    tables_sf: float | None  # scale factor of the catalog tables it reads
    entries: list[str] = field(default_factory=list)

    @property
    def is_hc(self) -> bool:
        return self.name == "hc_etl"


def hc_epoch(seed: int) -> list[Op]:
    """One hc_etl epoch: every batch once in a seeded order, plus a
    re-delivery of one batch in ``HC_REDELIVER_EVERY`` operations, each
    placed somewhere after that batch's first delivery."""
    rng = random.Random(seed)
    order = [f"batch_{b:02d}.csv" for b in range(HC_BATCHES)]
    rng.shuffle(order)
    ops = [Op(e) for e in order]
    for e in rng.sample(order, HC_BATCHES // (HC_REDELIVER_EVERY - 1)):
        first = next(i for i, o in enumerate(ops) if o.entry == e and not o.redelivery)
        ops.insert(rng.randint(first + 1, len(ops)), Op(e, redelivery=True))
    return ops


WORKLOADS = {
    "olap_mix": Workload("olap_mix", 0.01, OLAP_MIX + OLAP_MIX_PROBES),
    "llm_curation": Workload("llm_curation", 0.1, LLM_CURATION),
    "hc_etl": Workload("hc_etl", None),
    "stream_replay": Workload("stream_replay", 0.1, STREAM_REPLAY),
}


def frame_digest(pdf) -> tuple[int, str]:
    """(rows, sha256) of a pandas frame, independent of row and column
    order."""
    from tests.oracle_harness import normalize

    return len(pdf), hashlib.sha256(
        normalize(pdf).to_csv(index=False).encode()
    ).hexdigest()


def check_catalog_outputs(sf_dir: str, collected: dict) -> dict[str, list[str]]:
    """Compare each collected entry output with its DuckDB oracle
    (through the test suite's own harness), or with its pinned digest
    when it has no oracle. Returns the problems per entry."""
    from projet5_spark.plans import ORACLE
    from tests.oracle_harness import compare, duck_connection

    class _Collected:  # compare() wants an object with toPandas()
        def __init__(self, pdf):
            self._pdf = pdf

        def toPandas(self):
            return self._pdf

    problems: dict[str, list[str]] = {}
    con = duck_connection(sf_dir)
    try:
        for name, pdf in collected.items():
            if name in ORACLE:
                p = compare(_Collected(pdf), con.execute(ORACLE[name]).df(), name)
            elif name in STABLE_DIGESTS:
                got = frame_digest(pdf)
                p = [] if got == STABLE_DIGESTS[name] else [f"{name}: digest {got}"]
            else:
                p = [f"{name}: no oracle and no pinned digest"]
            if p:
                problems[name] = p
    finally:
        con.close()
    return problems


class HcTargets:
    """The hc_etl sink tables (patients, admissions) under one directory,
    reset at each epoch boundary."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.patients = os.path.join(root, "patients")
        self.admissions = os.path.join(root, "admissions")

    def reset(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root)

    def files_and_bytes(self) -> tuple[int, int]:
        n = size = 0
        for base, _, files in os.walk(self.root):
            for f in files:
                if f.startswith("part-"):
                    n += 1
                    size += os.path.getsize(os.path.join(base, f))
        return n, size


def hc_epoch_check(spark, targets: HcTargets, manifest: dict) -> list[str]:
    """Epoch-end invariants of the reference pipeline's sinks."""
    from pyspark.sql import functions as F

    from projet5_spark.plans.healthcare import duplicate_patients_check

    pats = spark.read.parquet(targets.patients)
    adms = spark.read.parquet(targets.admissions)
    problems = []
    n_p = pats.count()
    if n_p != manifest["epoch_patients"]:
        problems.append(f"patients {n_p} != manifest {manifest['epoch_patients']}")
    row = adms.agg(F.count("*").alias("n"), F.countDistinct("admission_id").alias("d")).first()
    if row["n"] != manifest["epoch_admissions"]:
        problems.append(f"admissions {row['n']} != manifest {manifest['epoch_admissions']}")
    if row["d"] != row["n"]:
        problems.append(f"admission_id not unique: {row['d']} distinct of {row['n']}")
    dups = duplicate_patients_check(pats).count()
    if dups:
        problems.append(f"duplicate_patients_check: {dups} groups")
    return problems
