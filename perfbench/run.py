"""Closed-loop, single-client benchmark of the projet5_spark engine.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 10 --trace 0

One client submits the next operation after the previous one returns,
against the engine's public entry points, on ``local[nproc]``. A run is
a fresh process:

1. make the inputs (untimed benchmark work; cached under
   ``.perfbench/`` in the checkout);
2. set up: ``session.get_spark`` plus one untimed warm-up pass whose
   outputs are collected for the output checks;
3. measure one whole pass (more passes run, for their checks only, if
   it ends before ``--seconds``), cleaning up between operations as the
   engine's own bench does;
4. check every output (DuckDB oracles, pinned digests, hc_etl sink
   invariants) and print one JSON result as the last stdout line.

With ``--trace 0`` the result holds the end-to-end metrics; with
``--trace 1`` it holds the per-layer metrics of a traced run (spans are
written to ``.perfbench/trace/``). README.md explains the workloads
and every metric.
"""

from __future__ import annotations

import time

_T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import ExitStack, nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import gen_healthcare  # noqa: E402
import gen_tables  # noqa: E402
from workloads import (  # noqa: E402
    HC_BATCHES,
    HC_ROWS,
    HC_WARMUP_DELIVERIES,
    WORKLOADS,
    CheckFailed,
    HcTargets,
    Op,
    check_catalog_outputs,
    hc_epoch,
    hc_epoch_check,
)

#: Layer counters reported per operation (median) and per run (total).
OP_KEYS = (
    "plans.build_s",
    "plans.py4j_calls",
    "plans.eager_jobs",
    "catalyst.analysis_ms",
    "catalyst.optimization_ms",
    "catalyst.planning_ms",
    "exec.wall_s",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.cpu_s",
    "exec.parallelism",
    "exec.shuffle_read_mb",
    "exec.shuffle_write_mb",
    "exec.spill_mb",
    "exec.python_nodes",
    "sources.read_s",
    "sources.write_s",
    "sources.rows_appended",
    "sources.files_written",
    "operators.release_s",
    "operators.rdds_released",
    "streaming.drain_s",
    "streaming.batches",
    "streaming.input_rows",
    "streaming.trigger_ms",
    "streaming.state_rows",
)
#: Layer metrics with one value per run.
RUN_KEYS = (
    "session.get_spark_s",
    "session.warmup_s",
    "session.driver_rss_mb",
    "sources.write_amp",
    "trace.overhead",
    "trace.self_sum_err",
    "trace.unattributed_share",
)
#: Span names that hold a layer's wall time.
SPAN_KEYS = {
    "plans.build": "plans.build_s",
    "sources.read": "sources.read_s",
    "sources.write": "sources.write_s",
    "streaming.drain": "streaming.drain_s",
}

MB = 1 << 20
#: Passes whose operations make the metrics. One pass is what the
#: bounds in BENCHMARK.json were measured with.
MEASURED_PASSES = 1


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def tail_percentile(xs: list[float]) -> float:
    """The highest percentile with at least ten samples beyond it
    (nearest rank), and never below the median: with 21 or fewer
    samples it is the median."""
    s = sorted(xs)
    med = statistics.median(s)
    return max(med, s[len(s) - 11]) if len(s) > 10 else med


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(run_dir: str) -> None:
    """Point every scratch location of Spark, the JVM and Python into the
    run directory, and make the engine importable by Python workers."""
    for d in ("local", "tmp", "warehouse", "targets"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # spark-submit first runs a small launcher JVM; keep its perf-data
    # file and temp files out of the system temp dir too
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    )
    paths = [ROOT]
    try:
        import google.protobuf.descriptor  # noqa: F401
    except ImportError:
        # transformWithState needs protobuf; the test suite vendors a
        # pure-python copy (tests/_proto_shim) for boxes without it
        shim = os.path.join(ROOT, "tests", "_proto_shim")
        if os.path.isdir(shim):
            paths.insert(0, shim)
            sys.path.insert(0, shim)
            import importlib.util

            spec = importlib.util.spec_from_file_location(
                "_perfbench_proto_shim", os.path.join(shim, "sitecustomize.py")
            )
            spec.loader.exec_module(importlib.util.module_from_spec(spec))
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join(paths + ([old] if old else []))


def make_inputs(wl, seed: int) -> tuple[str, dict | None]:
    """Generate (or reuse) the workload's inputs; return their directory
    and, for hc_etl, the manifest."""
    if wl.is_hc:
        mod, name = gen_healthcare, f"hc-seed{seed}"
        gen = lambda tmp: gen_healthcare.generate(  # noqa: E731
            tmp, seed, n_batches=HC_BATCHES, rows=HC_ROWS
        )
    else:
        mod, name = gen_tables, f"tables-sf{wl.tables_sf}"
        gen = lambda tmp: gen_tables.write_tables(tmp, wl.tables_sf)  # noqa: E731
    # the cache key includes the generator's source, so an edited
    # generator never reuses stale inputs
    with open(mod.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(STATE, "data", f"{name}-{version}")
    if not os.path.isdir(d):
        tmp = f"{d}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen(tmp)
        os.replace(tmp, d)
    manifest = None
    if wl.is_hc:
        with open(os.path.join(d, "manifest.json")) as f:
            manifest = json.load(f)
    return d, manifest


class Bench:
    """One run: the session, the workload, and the tracing state."""

    def __init__(self, wl, seed: int, seconds: int, run_dir: str, data_dir: str,
                 manifest: dict | None) -> None:
        self.wl, self.seed, self.seconds = wl, seed, seconds
        self.run_dir, self.data_dir, self.manifest = run_dir, data_dir, manifest
        self.rng = random.Random(seed)
        self.seq = 0
        self.records: list[dict] = []  # per-op layer values (traced ops)
        self.problems: list[str] = []
        self.collected: dict = {}
        # (entry, latency[, (patients, admissions) appended]) of timed ops
        self.op_log: list[tuple] = []
        self.targets = HcTargets(os.path.join(run_dir, "targets"))
        self.epoch = hc_epoch(seed) if wl.is_hc else None
        self.tracing_now = False
        self.trace_s = 0.0  # time spent in tracing code during traced ops

    def schedule(self) -> list[Op]:
        """One pass: every catalog entry once in an order drawn from the
        seeded rng, or the run's fixed hc_etl epoch."""
        if self.wl.is_hc:
            return list(self.epoch)
        order = list(self.wl.entries)
        self.rng.shuffle(order)
        return [Op(e) for e in order]

    # -- session -------------------------------------------------------
    def start(self) -> None:
        from tracing import Py4jCounter, Spans

        t0 = time.perf_counter()
        from projet5_spark.session import get_spark

        tmp = os.environ["TMPDIR"]
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
                "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.get_spark_s = time.perf_counter() - t0
        self.spans = Spans()
        self.py4j = Py4jCounter()
        self.stream = None

    def enable_tracing(self, stack) -> None:
        """Install the tracing hooks for the rest of the run; ``stack``
        (an ExitStack) undoes the class patches."""
        from tracing import StatusStore, drain_spans, make_stream_counters

        self.py4j.install()
        stack.callback(self.py4j.uninstall)
        stack.enter_context(drain_spans(self.spans))
        self.store = StatusStore(self.spark)
        self.stream = make_stream_counters(self.spark)

    def stop(self) -> None:
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        gw = spark.sparkContext._gateway
        spark.stop()
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:  # the JVM exits once its stdin closes
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()

    # -- one operation -------------------------------------------------
    def span(self, name: str, **attrs):
        return self.spans.span(name, **attrs) if self.tracing_now else nullcontext({})

    def run_op(self, op, pass_no: int, collect: bool = False):
        """Run one operation; return (latency, output). Raises on failure."""
        self.seq += 1
        sc = self.spark.sparkContext
        group = f"perfbench-{self.seq}"
        sc.setJobGroup(group, f"{self.wl.name}:{op.entry}")
        rec: dict = {}
        tr = self.tracing_now
        if tr:
            z0 = time.perf_counter()
            self.spans.op_id = self.seq
            self.stream.reset()
            self.store.drain()
            self.store.new_jobs()
            self.trace_s += time.perf_counter() - z0
        self.last_rec = None
        try:
            t0 = time.perf_counter()
            with self.span("op", workload=self.wl.name, entry=op.entry, pass_no=pass_no,
                           seq=self.seq):
                if self.wl.is_hc:
                    out = self._hc_op(op, rec)
                else:
                    out = self._catalog_op(op, rec, collect)
            latency = time.perf_counter() - t0
            if tr:
                z0 = time.perf_counter()
                self._finish_record(group, rec, latency)
                self.trace_s += time.perf_counter() - z0 + rec["catalyst_s"]
        finally:
            self.spans.op_id = None
        if collect and not self.wl.is_hc:
            self.collected[op.entry] = out
        return latency, out

    def _catalog_op(self, op, rec: dict, collect: bool):
        from projet5_spark.plans import QUERIES

        with self.span("plans.build"), self._py4j_counting(rec):
            df = QUERIES[op.entry](self.spark, self.data_dir)
        if collect:
            return df.toPandas()
        self._phases([df], rec)
        rec["sink_t0_ms"] = time.time() * 1000
        with self.span("exec.sink"):
            df.write.format("noop").mode("overwrite").save()
        return None

    def _hc_op(self, op, rec: dict):
        from gen_healthcare import SCHEMA_DDL

        from projet5_spark.plans.healthcare import healthcare_pipeline
        from projet5_spark.sources.readers import read_csv
        from projet5_spark.sources.writers import append_if_absent

        path = os.path.join(self.data_dir, op.entry)
        with self.span("sources.read"):
            raw = read_csv(self.spark, path, schema=SCHEMA_DDL)
        with self.span("plans.build"), self._py4j_counting(rec):
            res = healthcare_pipeline(raw, ordinal_col="ingest_seq")
        self._phases([res.patients, res.admissions], rec)
        rec["sink_t0_ms"] = time.time() * 1000
        t = self.targets
        with self.span("sources.write"):
            n_p = append_if_absent(self.spark, res.patients, t.patients, ["patient_id"])
        with self.span("sources.write"):
            n_a = append_if_absent(self.spark, res.admissions, t.admissions, ["admission_id"])
        rec["sources.rows_appended"] = n_p + n_a
        rec["csv_bytes"] = os.path.getsize(path)
        if op.redelivery and (n_p or n_a):
            raise CheckFailed(f"re-delivery of {op.entry} appended {n_p}+{n_a} rows")
        return n_p, n_a

    def _py4j_counting(self, rec: dict):
        if not self.tracing_now:
            return nullcontext()
        return self.py4j.counting(rec, "plans.py4j_calls")

    def _phases(self, dfs, rec: dict) -> None:
        if not self.tracing_now:
            return
        from tracing import catalyst_phases

        z0 = time.perf_counter()
        with self.span("catalyst.phases"):
            for df in dfs:
                for k, v in catalyst_phases(df).items():
                    key = "exec.python_nodes" if k == "python_nodes" else f"catalyst.{k}"
                    rec[key] = rec.get(key, 0) + v
        rec["catalyst_s"] = time.perf_counter() - z0

    def _finish_record(self, group: str, rec: dict, latency: float) -> None:
        """Attribute status-store, listener and file counters to the op
        that just ran (untimed, but inside the measured wall).

        Jobs of the op's own job group submitted before the sink/write
        call are the entry's eager build jobs; every other job started
        during the op (the sink's, and streaming micro-batches, which
        run under their query's group) counts as execution."""
        self.store.drain()
        jobs = set(self.store.new_jobs())
        sink_t0 = rec.pop("sink_t0_ms", math.inf)
        mine = jobs & self.store.group_jobs(group)
        eager = {j for j in mine if self.store.submitted_ms(j) < sink_t0}
        tot = self.store.totals(jobs - eager)
        spans = [s for s in self.spans.records if s["op"] == self.seq]
        walls: dict[str, float] = {}
        for s in spans:
            key = SPAN_KEYS.get(s["name"])
            if key:
                walls[key] = walls.get(key, 0.0) + s["t1"] - s["t0"]
        exec_wall = sum(s["t1"] - s["t0"] for s in spans
                        if s["name"] in ("exec.sink", "sources.write"))
        rec.update(walls)
        rec["plans.eager_jobs"] = len(eager)
        rec["exec.wall_s"] = exec_wall
        rec["exec.jobs"] = tot["jobs"]
        rec["exec.stages"] = tot["stages"]
        rec["exec.tasks"] = tot["tasks"]
        rec["exec.cpu_s"] = tot["cpu_ns"] / 1e9
        rec["exec_run_s"] = tot["run_ms"] / 1e3
        busy = exec_wall + walls.get("streaming.drain_s", 0.0)
        rec["exec.parallelism"] = rec["exec_run_s"] / (busy * nproc()) if busy else 0.0
        rec["exec.shuffle_read_mb"] = tot["shuffle_read_b"] / MB
        rec["exec.shuffle_write_mb"] = tot["shuffle_write_b"] / MB
        rec["exec.spill_mb"] = tot["spill_b"] / MB
        for k, v in self.stream.totals.items():
            rec[f"streaming.{k}"] = v
        if self.wl.is_hc:
            n, size = self.targets.files_and_bytes()
            rec["sources.files_written"] = n - self._files[0]
            rec["bytes_written"] = size - self._files[1]
            self._files = (n, size)
        rec["latency_s"] = latency
        self.records.append(rec)
        self.last_rec = rec

    def cleanup(self) -> None:
        """Between-op hygiene: drop Python refs, unpersist cached RDDs,
        delete checkpoint scratch (the engine's bench does the same)."""
        from projet5_spark.operators.materialize import (
            release_persistent_rdds,
            sweep_checkpoint_scratch,
        )

        with self.span("operators.release") as s:
            gc.collect()
            n = release_persistent_rdds(self.spark)
            sweep_checkpoint_scratch(self.spark)
        if self.tracing_now and self.last_rec is not None:
            self.last_rec["operators.rdds_released"] = n
            self.last_rec["operators.release_s"] = s["t1"] - s["t0"]

    # -- passes --------------------------------------------------------
    def reset_epoch(self) -> None:
        self.targets.reset()
        self._files = (0, 0)

    def warmup(self) -> None:
        """One untimed pass; catalog outputs are collected for the checks.
        hc_etl warms up on a short epoch: the epoch's first
        ``HC_WARMUP_DELIVERIES`` batches (the first must append exactly
        its distinct keys into the empty targets) and a re-delivery of
        the first (which must append nothing)."""
        if self.wl.is_hc:
            self.reset_epoch()
            first = self.epoch[0]
            ops = [o for o in self.epoch if not o.redelivery][:HC_WARMUP_DELIVERIES]
            for i, op in enumerate(ops + [Op(first.entry, redelivery=True)]):
                try:
                    _, (n_p, n_a) = self.run_op(op, 0)
                except Exception as e:  # noqa: BLE001 -- reported as a failed check
                    self.problems.append(f"warm-up {op.entry}: {e!r}")
                    continue
                finally:
                    self.cleanup()
                b = next(x for x in self.manifest["batches"] if x["file"] == op.entry)
                if i == 0 and (n_p, n_a) != (b["patients"], b["admissions"]):
                    self.problems.append(
                        f"warm-up {op.entry}: appended {n_p}/{n_a}, manifest "
                        f"{b['patients']}/{b['admissions']}"
                    )
            return
        for op in self.schedule():
            try:
                self.run_op(op, 0, collect=True)
            except Exception as e:  # noqa: BLE001 -- reported as a failed check
                self.problems.append(f"warm-up {op.entry}: {e!r}")
            self.cleanup()

    def measure(self, traced: bool) -> dict:
        """Time ``MEASURED_PASSES`` whole passes and return their
        latencies and wall time, with the operation counts.

        The metrics come from those passes alone, so every run reports
        its statistics over the same multiset of operations however fast
        the engine is. If they end before ``seconds`` have elapsed,
        further untraced passes run until then. Their operations are
        checked and counted in ``attempted``/``failed`` but add no
        samples."""
        lat: list[float] = []
        attempted = failed = 0
        excluded = 0.0
        t0 = time.perf_counter()
        passes = 0
        wall = measured_wall = 0.0
        while passes < MEASURED_PASSES or wall < self.seconds:
            passes += 1
            timed = passes <= MEASURED_PASSES
            self.tracing_now = traced and timed
            if self.wl.is_hc:
                r0 = time.perf_counter()
                self.reset_epoch()
                excluded += time.perf_counter() - r0
            for op in self.schedule():
                attempted += 1
                try:
                    latency, out = self.run_op(op, passes)
                    if timed:
                        lat.append(latency)
                        self.op_log.append(
                            (op.entry, round(latency, 4)) + ((out,) if self.wl.is_hc else ())
                        )
                except Exception as e:  # noqa: BLE001 -- counted as a failed op
                    failed += 1
                    self.problems.append(f"pass {passes} {op.entry}: {e!r}")
                    log(traceback.format_exc())
                self.cleanup()
            if self.wl.is_hc:
                c0 = time.perf_counter()
                p = hc_epoch_check(self.spark, self.targets, self.manifest)
                if p:
                    failed += 1
                    self.problems.extend(f"epoch {passes}: {x}" for x in p)
                excluded += time.perf_counter() - c0
            wall = time.perf_counter() - t0 - excluded
            if timed:
                measured_wall = wall
        self.tracing_now = False
        return {"lat": lat, "attempted": attempted, "failed": failed,
                "wall": measured_wall, "passes": passes}


def driver_rss_mb(spark) -> float:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024
    return 0.0


def layer_metrics(b: Bench, traced: dict) -> dict:
    recs = b.records
    out: dict[str, float] = {}
    for k in OP_KEYS:
        vals = [float(r.get(k, 0.0)) for r in recs] or [0.0]
        out[f"{k}.op_p50"] = statistics.median(vals)
        out[f"{k}.run_total"] = sum(vals)
    # run-level parallelism is total executor time over total busy wall
    busy = sum(r.get("exec.wall_s", 0.0) + r.get("streaming.drain_s", 0.0) for r in recs)
    run_s = sum(r.get("exec_run_s", 0.0) for r in recs)
    out["exec.parallelism.run_total"] = run_s / (busy * nproc()) if busy else 0.0
    csv_bytes = sum(r.get("csv_bytes", 0) for r in recs)
    out["sources.write_amp"] = (
        sum(r.get("bytes_written", 0) for r in recs) / csv_bytes if csv_bytes else 0.0
    )
    out["session.get_spark_s"] = b.get_spark_s
    out["session.warmup_s"] = b.warmup_s
    out["session.driver_rss_mb"] = driver_rss_mb(b.spark)
    # traced ops_per_s over the same pass's rate with the time spent in
    # tracing code (phase forcing, status-store and listener reads) removed
    out["trace.overhead"] = (traced["wall"] - b.trace_s) / traced["wall"]
    # span self times of an op must add up to its wall time
    b.spans.finish()
    errs, unattributed = [], []
    by_op: dict[int, list[dict]] = {}
    for s in b.spans.records:
        if s["op"] is not None:
            by_op.setdefault(s["op"], []).append(s)
    for spans in by_op.values():
        root = next(s for s in spans if s["name"] == "op")
        errs.append(abs(sum(s["self_s"] for s in spans) - root["dur_s"]) / root["dur_s"])
        unattributed.append(root["self_s"] / root["dur_s"])
    out["trace.self_sum_err"] = max(errs) if errs else 0.0
    out["trace.unattributed_share"] = statistics.median(unattributed) if unattributed else 0.0
    return out


def write_spans(b: Bench, info: dict) -> str:
    d = os.path.join(STATE, "trace")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{b.wl.name}-seed{b.seed}.jsonl")
    with open(path, "w") as f:
        f.write(json.dumps({"run": info}) + "\n")
        for s in b.spans.records:
            f.write(json.dumps(s) + "\n")
    return path


def run(args, run_dir: str) -> dict:
    wl = WORKLOADS[args.workload]
    g0 = time.perf_counter()
    data_dir, manifest = make_inputs(wl, args.seed)
    gen_s = time.perf_counter() - g0
    prepare_env(run_dir)
    b = Bench(wl, args.seed, args.seconds, run_dir, data_dir, manifest)
    info = {
        "workload": wl.name,
        "seed": args.seed,
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "python": platform.python_version(),
        "loadavg_1m_start": os.getloadavg()[0],
    }
    try:
        b.start()
        import pyspark

        info["pyspark"] = pyspark.__version__
        info["java"] = b.spark.sparkContext._jvm.System.getProperty("java.version")
        w0 = time.perf_counter()
        b.warmup()
        b.warmup_s = time.perf_counter() - w0
        setup_s = time.perf_counter() - _T_START - gen_s
        if args.trace:
            with ExitStack() as stack:
                b.enable_tracing(stack)
                m = b.measure(traced=True)
            metrics = layer_metrics(b, m)
            info["spans"] = write_spans(b, info)
        else:
            m = b.measure(traced=False)
        if not wl.is_hc:
            # an entry whose output is wrong, or could not be collected in
            # the warm-up, counts as one failed operation
            wrong = check_catalog_outputs(data_dir, b.collected)
            m["failed"] += len(wrong) + len(set(wl.entries) - set(b.collected))
            b.problems.extend(p for ps in wrong.values() for p in ps)
    finally:
        info["loadavg_1m_end"] = os.getloadavg()[0]
        b.stop()
    if not args.trace:
        lat = m["lat"]
        metrics = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(lat) if lat else 0.0,
            "op_tail_s": tail_percentile(lat) if lat else 0.0,
            "ops_per_s": len(lat) / m["wall"],
        }
    info.update(ops=len(m["lat"]), passes=m["passes"], measured_wall_s=m["wall"],
                problems=b.problems[:50], op_latencies_s=b.op_log)
    log(json.dumps({"perfbench_run": info}))
    units = {"setup_s": "s", "op_p50_s": "s", "op_tail_s": "s", "ops_per_s": "1/s"}
    return {
        "correct": not b.problems,
        "attempted": m["attempted"],
        "failed": m["failed"],
        "metrics": {
            k: {"value": v, "unit": units.get(k, _layer_unit(k))} for k, v in metrics.items()
        },
    }


def _layer_unit(name: str) -> str:
    base = name.rsplit(".", 1)[0] if name.endswith((".op_p50", ".run_total")) else name
    if base.endswith("_s"):
        return "s"
    if base.endswith("_ms"):
        return "ms"
    if base.endswith("_mb"):
        return "MB"
    if base.endswith(("parallelism", "overhead", "write_amp", "_err", "_share")):
        return "ratio"
    return "count"


def main() -> int:
    ap = argparse.ArgumentParser(description="projet5_spark closed-loop benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "projet5_spark")):
        log(f"perfbench: engine package projet5_spark not found under {ROOT}")
        return 2
    os.makedirs(STATE, exist_ok=True)
    run_dir = os.path.join(STATE, f"run-{os.getpid()}")
    try:
        result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    sys.stderr.flush()
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
