"""Benchmark of the migration engine, run from the root of a checkout:

    python3 perfbench/run.py --workload reports --seed 1 --seconds 10 --trace 0

Each run is one fresh process and one closed-loop client: it sets up a
Spark session the way `session.get_spark` does, runs the workload's
calls one after another through the package's public functions, checks
every result against `perfbench/digests.json`, and prints one JSON
result line last on stdout. `--trace 0` prints the end-to-end metrics;
`--trace 1` turns on Spark's event log, tags every call with a job
group and prints the per-layer metrics. Both write a run record with
spans and per-call detail under `.perfbench/records/`.

Workloads (see README.md for why each exists and what it leaves out):
  reports  stage the warehouse, ingest every memo, then run a fixed
           slice of the bench headliners and streaming twins
  migrate  the reference's own job: assess, DDL rules + rewrite of a
           seeded reload script, generate + execute DDL, migrate
           tables from the raw source, reconcile, read the ledger

The seed fixes the order of the calls in each pass and the object
names in the generated reload script. The data is a committed copy of
the repo's seed-42 test tables under perfbench/data: sf0.01 by default,
sf0.001 (`--data sf0.001`) for the smoke test.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import pathlib
import random
import resource
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

_T0 = time.perf_counter()

BENCH_DIR = pathlib.Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
DATA_ROOT = BENCH_DIR / "data"
DEFAULT_DATA = "sf0.01"
DIGESTS = BENCH_DIR / "digests.json"
RUNS_DIR = ROOT / ".perfbench"

sys.path.insert(0, str(BENCH_DIR))
from digest import digest  # noqa: E402

# The 62 headliners bench.py selects, frozen: a missing name is
# registry drift and fails the run instead of shrinking the workload.
HEADLINERS = (
    "asof_purchase_attribution", "cohort_ltv_curve",
    "corpus_novelty_curve", "curation_grand_funnel",
    "customer_rfm_segments", "dedup_incremental_pairs",
    "dedup_minhash_lsh_pairs", "dedup_ngram_jaccard_pairs",
    "dedup_semdedup_clusters", "dedup_simhash_pairs",
    "events_fano_factor_hourly", "events_haar_energy_profile",
    "events_hourly_by_type", "events_peak_concurrency",
    "events_session_conversion", "events_type_mix_drift_tvd",
    "graph_cap_rank_mass_profile", "graph_clustering_topk",
    "graph_community_modularity", "graph_kcore_census",
    "graph_link_prediction_ra", "graph_pagerank_convergence_report",
    "graph_part_copurchase_communities", "graph_reciprocity_report",
    "graph_triangle_counts", "graph_user_pagerank_fixedpoint_top20",
    "hybrid_retrieval_rrf", "mlprep_chunk_dedup_stats",
    "mlprep_dedup_aware_weights", "mlprep_doc_chunks",
    "mlprep_sequence_packing", "mlprep_token_budget_selection",
    "orders_market_basket_lift", "q10_returned_items",
    "q1_pricing_summary", "q21_sole_return_suppliers",
    "q3_shipping_priority", "q5_region_volume", "q9_product_profit",
    "rag_context_packing", "sim_bruteforce_topk",
    "sim_ivf_incremental_topk", "sim_loo_centroid_confusion",
    "sim_mmr_diversified_topk", "sim_pq_adc_topk",
    "sim_quantization_rank_fidelity", "sketch_countmin_heavy_hitters",
    "sketch_countmin_weekly_rollup", "sketch_hll_overlap_matrix",
    "snapshot_version_diff", "text_bm25_topk", "text_boilerplate_ngrams",
    "text_contamination_13gram", "text_dsir_importance_weights",
    "text_dup_ngram_chars", "text_quality_scores", "text_tfidf_topk",
    "text_winnowing_fingerprints", "text_winnowing_match_pairs",
    "trade_flow_matrix", "trend_seasonal_decomposition_monthly",
    "trend_theil_sen_monthly_revenue",
)

# The 25 streaming twins, frozen the same way.
TWINS = (
    "stream_ab_test", "stream_boilerplate_gate", "stream_bot_score",
    "stream_bottomk_sample", "stream_dau_wau", "stream_dsir_gate",
    "stream_enriched_counts", "stream_exact_dedup", "stream_fano_factor",
    "stream_funnel_counts", "stream_gap_histogram", "stream_haar_energy",
    "stream_hourly_counts", "stream_incremental_dedup",
    "stream_lifecycle_stages", "stream_market_basket",
    "stream_mix_downsample", "stream_purchase_click_join",
    "stream_retention_cohorts", "stream_scd2_history",
    "stream_session_windows_native", "stream_sessionization",
    "stream_type_diversity", "stream_type_mix_drift", "stream_user_gini",
)

# What one run can afford (the whole matrix of runs shares one time
# budget): a TPC-H query, two memo consumers that also build with eager
# checkpoints (PPJoin, k-core), and two twins: a watermarked window
# with a state store, and a foreachBatch fold.
REPORTS_SLICE = (
    "q1_pricing_summary", "dedup_ngram_jaccard_pairs", "graph_kcore_census",
    "stream_hourly_counts", "stream_bottomk_sample",
)
MIGRATE_TABLES = ("lineitem", "nation")
DDL_COPIES = 50
DDL_OWNERS = ("app2",)  # one generated CREATE TABLE of the seven

# A pass is one call of every operation of the workload. A run makes
# this many passes per 10 `--seconds` (at least one), so the amount of
# work never depends on how fast a run happens to be.
PASSES_PER_10S = {"reports": 2, "migrate": 1}

RUN_LIMIT_S = 170  # past this the run is abandoned with a non-zero exit


class BenchError(Exception):
    """The benchmark cannot run here (missing package, data or names)."""


# ----------------------------------------------------------- host state

def foreign_spark_jvms() -> list[int]:
    """PIDs of Spark JVMs already live on the host: the same /proc
    cmdline test bench.py stamps its runs with."""
    pids = []
    for p in pathlib.Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            cmd = (p / "cmdline").read_bytes().replace(b"\0", b" ")
        except OSError:
            continue
        if b"java" in cmd and b"spark" in cmd.lower():
            pids.append(int(p.name))
    return pids


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process in MiB."""
    for line in pathlib.Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    return 0.0


def tree_cpu_seconds(root: int) -> float:
    """User + system CPU seconds used so far by `root` and its
    descendants: the driver, its JVM and Spark's Python workers. A
    descendant that has ended and been reaped counts in its parent's
    cutime + cstime, so its CPU stays in the total."""
    parent, cpu = {}, {}
    for d in pathlib.Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            fields = (d / "stat").read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while we looked
        parent[int(d.name)] = int(fields[1])
        cpu[int(d.name)] = sum(int(f) for f in fields[11:15])
    total = 0
    for pid, ticks in cpu.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += ticks
    return total / os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------ isolation

def isolate(run_dir: pathlib.Path, trace: bool) -> dict[str, pathlib.Path]:
    """Point every place the program writes at fresh dirs under run_dir,
    before the JVM starts. Stale state would turn set-up into a load:
    the LSH index and snapshot stage persist under the temp dir, and
    staging skips tables that are already there."""
    dirs = {k: run_dir / k for k in ("tmp", "local", "warehouse", "work",
                                     "eventlog", "stage", "migrate")}
    for d in dirs.values():
        d.mkdir(parents=True)
    os.environ["TMPDIR"] = str(dirs["tmp"])
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(dirs["local"])
    for var in ("SPARK_GRAFT_MEMO_DIR", "SPARK_GRAFT_WAREHOUSE",
                "SPARK_GRAFT_MASTER", "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(var, None)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # Spark's Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, str(ROOT))

    java_opts = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    args = ["--driver-memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
            "--driver-java-options", java_opts,
            "--conf", f"spark.sql.warehouse.dir={dirs['warehouse']}"]
    if trace:
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir={dirs['eventlog']}",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        shlex.quote(a) for a in args + ["pyspark-shell"])
    os.chdir(dirs["work"])
    return dirs


def check_checkout(data: str) -> pathlib.Path:
    """Fail before any JVM starts when the package or data is absent;
    returns the data dir."""
    if not (ROOT / "iq_to_hdl_migration_spark" / "__init__.py").is_file():
        raise BenchError(f"package iq_to_hdl_migration_spark not under {ROOT}")
    data_dir = DATA_ROOT / data
    if not (data_dir / "lineitem.parquet").is_file():
        raise BenchError(f"benchmark data missing: {data_dir}")
    return data_dir


def stored_answers(path: str, data: str) -> dict:
    """The stored answers for one data set: query digests and table row
    counts of that data, plus the data-independent DDL answers."""
    stored = json.loads(pathlib.Path(path).read_text())
    if data not in stored["data"]:
        raise BenchError(f"no stored digests for data {data} in {path}")
    return dict(stored["data"][data], ddl=stored["ddl"])


# ---------------------------------------------------------------- inputs

def reload_script(seed: int, copies: int = DDL_COPIES) -> list[str]:
    """The reload.sql the DDL rules rewrite: `copies` copies of the
    bundled fixture, each with seeded object names. Only names no rule
    matches are renamed, so the rule-hit counts do not depend on the
    seed."""
    fixture = (ROOT / "iq_to_hdl_migration_spark" / "ddl" / "fixtures"
               / "reload_fixture.sql").read_text().splitlines()
    head, body, tail = fixture[0], fixture[1:-1], fixture[-1]
    renamed = ("t_parent", "t_child", "fk_parent", "idx_lf_child",
               "idx_hg_child", "p_app_calc", "analyst2")
    rng = random.Random(seed)
    lines = [head]
    for i in range(copies):
        tag = f"{rng.randrange(16**6):06x}_{i}"
        for line in body:
            for name in renamed:
                line = line.replace(f'"{name}"', f'"{name}_{tag}"')
            lines.append(line)
    lines.append(tail)
    return lines


def rule_hit_counts(result) -> dict[str, int]:
    return dict(sorted(collections.Counter(
        f"{h['rule']}|{h['action']}" for h in result.hits).items()))


# ------------------------------------------------------------- the run

class Run:
    """Times calls, checks their results and keeps the spans."""

    def __init__(self, workload: str, seed: int, trace: bool,
                 data_dir: pathlib.Path, expected: dict) -> None:
        self.workload = workload
        self.data_dir = data_dir
        self.seed = seed
        self.trace = trace
        self.expected = expected
        self.spark = None
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.failures: list[dict] = []
        self.attempted = 0
        self.marks: dict[str, float] = {}
        self.pass_cpu: list[float] = []  # CPU seconds at the first call
        # and at the end of each pass
        self.layers: dict[str, float] = {}

    def end_pass(self, pass_no: int) -> None:
        if pass_no == 0:
            self.marks["first_pass_end"] = time.perf_counter()
        self.pass_cpu.append(tree_cpu_seconds(os.getpid()))

    def _tag(self, name: str) -> None:
        if self.trace and self.spark is not None:
            self.spark.sparkContext.setJobGroup(name, name)

    def span(self, name: str, fn, parent: str | None = None, **info):
        """Run fn() as one span; returns its value and the span."""
        self._tag(name)
        wall0, t0 = time.time(), time.perf_counter()
        try:
            return fn(), self._close(name, parent, wall0, t0, info)
        except Exception:
            self._close(name, parent, wall0, t0, info)
            raise

    def _close(self, name, parent, wall0, t0, info) -> dict:
        secs = time.perf_counter() - t0
        sp = dict(name=name, parent=parent, start=wall0, end=wall0 + secs,
                  seconds=secs, **info)
        self.spans.append(sp)
        return sp

    def op(self, name: str, pass_no: int, fn, check) -> None:
        """One timed operation: fn() does the work and returns
        (value, rows); check(value) returns an error string or None."""
        if "first_call" not in self.marks:
            self.marks["first_call"] = time.perf_counter()
            self.pass_cpu.append(tree_cpu_seconds(os.getpid()))
        self.attempted += 1
        rec = dict(name=name, pass_no=pass_no, rows=0, error=None)
        self._tag(name)
        wall0, t0 = time.time(), time.perf_counter()
        try:
            value, rec["rows"] = fn(rec)
        except Exception as exc:  # a failed call is counted, not fatal
            value = None
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
        rec["seconds"] = self._close(name, None, wall0, t0, dict(
            pass_no=pass_no, kind="op"))["seconds"]
        if rec["error"] is None:
            try:
                rec["error"] = check(value)
            except Exception as exc:
                rec["error"] = f"check {type(exc).__name__}: {exc}"
        if rec["error"] is not None:
            self.failures.append(dict(name=name, pass_no=pass_no,
                                      error=rec["error"]))
        self.ops.append(rec)

    def query_op(self, reg, name: str, pass_no: int, sf_dir: str) -> None:
        """A registry call split into build (fn) and collect spans."""
        def work(rec):
            df, b = self.span(f"{name}#{pass_no}:build",
                              lambda: reg[name].fn(self.spark, sf_dir),
                              parent=name, kind="build", pass_no=pass_no)
            rows, c = self.span(f"{name}#{pass_no}:collect", df.collect,
                                parent=name, kind="collect", pass_no=pass_no)
            rec["build_s"], rec["collect_s"] = b["seconds"], c["seconds"]
            return (df.columns, rows), len(rows)
        self.op(name, pass_no, work,
                lambda v: self.check_digest(name, digest(v[0], v[1])))

    def check_digest(self, name: str, got: dict) -> str | None:
        want = self.expected["queries"].get(name)
        if want is None:
            return f"no stored digest for {name}"
        if got != want:
            return f"digest {got} != stored {want}"
        return None


def passes_for(workload: str, seconds: int) -> int:
    return max(1, round(seconds * PASSES_PER_10S[workload] / 10))


def start_session(run: Run, app: str):
    from iq_to_hdl_migration_spark.session import get_spark
    spark, sp = run.span("session.start", lambda: get_spark(app))
    spark.sparkContext.setLogLevel("ERROR")
    run.spark = spark
    run.layers["session.start_s"] = sp["seconds"]
    return spark


def stage(run: Run, sf_dir: str, wh: pathlib.Path) -> None:
    from iq_to_hdl_migration_spark.sources.tables import stage_warehouse
    _, sp = run.span("tables.stage",
                     lambda: stage_warehouse(run.spark, sf_dir, str(wh)))
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(wh)
    files = [f for f in wh.rglob("*.parquet") if f.is_file()]
    run.layers.update({"tables.stage_s": sp["seconds"],
                       "tables.staged_files": len(files),
                       "tables.staged_bytes": sum(f.stat().st_size
                                                  for f in files)})


MEMO_FAMILIES = (
    ("dedup", "dedup_queries", "warm_dedup_memos"),
    ("events", "events_queries", "warm_events_memos"),
    ("similarity", "similarity_queries", "warm_similarity_memos"),
    ("graph", "sequence_queries", "warm_graph_memos"),
    ("text", "text_queries", "warm_text_memos"),
)


def ingest_memos(run: Run, sf_dir: str) -> None:
    """Untraced: the concurrent `warm_all_memos` users run. Traced: each
    family on its own, one after another, so its jobs and time can be
    told apart; `warm_all_memos` then runs to catch any memo the
    families missed (`memo.residual_s`)."""
    import importlib

    from iq_to_hdl_migration_spark.queries.warm import warm_all_memos
    t0 = time.perf_counter()
    if run.trace:
        for fam, mod, fn_name in MEMO_FAMILIES:
            fn = getattr(importlib.import_module(
                f"iq_to_hdl_migration_spark.queries.{mod}"), fn_name)
            _, sp = run.span(f"memo.{fam}", lambda: fn(run.spark, sf_dir),
                             parent="memo.ingest", kind="memo")
            run.layers[f"memo.{fam}_s"] = sp["seconds"]
        _, sp = run.span("memo.residual",
                         lambda: warm_all_memos(run.spark, sf_dir),
                         parent="memo.ingest", kind="memo")
        run.layers["memo.residual_s"] = sp["seconds"]
    else:
        run.span("memo.ingest", lambda: warm_all_memos(run.spark, sf_dir))
    run.layers["memo.ingest_s"] = time.perf_counter() - t0


def load_registry(names) -> dict:
    from iq_to_hdl_migration_spark.queries import load_all
    reg = load_all(strict=True)
    missing = sorted(set(names) - set(reg))
    if missing:
        raise BenchError(f"registry drift: frozen names missing {missing}")
    return reg


def run_reports(run: Run, dirs, seconds: int) -> None:
    sf = str(run.data_dir)
    reg = load_registry(HEADLINERS + TWINS)
    spark = start_session(run, "perfbench-reports")
    stage(run, sf, dirs["stage"])
    ingest_memos(run, sf)
    listener = progress_listener() if run.trace else None
    if listener is not None:
        spark.streams.addListener(listener)
    order = list(REPORTS_SLICE)
    for p in range(passes_for("reports", seconds)):
        random.Random(run.seed * 1000 + p).shuffle(order)
        for name in order:
            run.query_op(reg, name, p, sf)
        run.end_pass(p)
    if listener is not None:
        time.sleep(1.0)  # the listener bus delivers the last reports late
        spark.streams.removeListener(listener)
        stream_layers(run, list(listener.progress))


def progress_listener():
    """A StreamingQueryListener that keeps every progress report."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.progress = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            ops = p.stateOperators or []
            self.progress.append(dict(
                name=p.name, batch=p.batchId, input_rows=p.numInputRows,
                durations=dict(p.durationMs or {}),
                state_rows=sum(o.numRowsTotal for o in ops),
                state_mem=sum(o.memoryUsedBytes for o in ops)))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressLog()


def stream_layers(run: Run, prog: list[dict]) -> None:
    """Micro-batch figures of the twins in the slice (run record)."""
    run.stream_progress = prog
    dur = collections.defaultdict(float)
    for pr in prog:
        for k, v in pr["durations"].items():
            dur[k] += v / 1000
    trig = dur["triggerExecution"]
    drain_s = sum(o["build_s"] for o in run.ops
                  if o["name"].startswith("stream_"))
    rows = sum(pr["input_rows"] for pr in prog)
    run.layers.update({
        "stream.batches": len(prog),
        "stream.input_rows": rows,
        "stream.drain_s": drain_s,
        "stream.rows_per_s": rows / drain_s if drain_s else 0.0,
        "stream.trigger_s": trig,
        "stream.add_batch_s": dur["addBatch"],
        "stream.get_batch_s": dur["getBatch"],
        "stream.query_planning_s": dur["queryPlanning"],
        "stream.wal_commit_s": dur["walCommit"],
        "stream.overhead_share": (trig - dur["addBatch"]) / trig if trig
        else 0.0,
        "stream.state_rows_max": max((pr["state_rows"] for pr in prog),
                                     default=0),
        "stream.state_mem_bytes_max": max((pr["state_mem"] for pr in prog),
                                          default=0),
    })


def run_migrate(run: Run, dirs, seconds: int) -> None:
    sf = str(run.data_dir)
    reg = load_registry(("assessment_report",))
    lines = reload_script(run.seed)
    spark = start_session(run, "perfbench-migrate")

    from iq_to_hdl_migration_spark.catalog.fixture import ensure_catalog_views
    from iq_to_hdl_migration_spark.ddl import engine as E
    from iq_to_hdl_migration_spark.ddl import rules as R
    from iq_to_hdl_migration_spark.pipeline.migrate import (
        MigrationStatus, listing_reconcile, migrate_tables)
    from iq_to_hdl_migration_spark.schema.generate import generate_spark_ddl
    from iq_to_hdl_migration_spark.schema.load import execute_ddl
    from iq_to_hdl_migration_spark.sources.tables import load_tables

    exp = run.expected
    tables = list(MIGRATE_TABLES)
    for p in range(passes_for("migrate", seconds)):
        work = dirs["migrate"] / f"pass{p}"
        state: dict = {}

        def assess(rec):
            df = reg["assessment_report"].fn(spark, sf)
            rows = df.collect()
            return (df.columns, rows), len(rows)
        run.op("assess.report", p, assess, lambda v: run.check_digest(
            "assessment_report", digest(v[0], v[1])))

        def compile_rules(rec):
            ensure_catalog_views(spark)
            state["rules"] = R.compile_rules(spark,
                                             option_names=["Append_Load"])
            return state["rules"], len(state["rules"])
        run.op("ddl.compile_rules", p, compile_rules, lambda v: None if (
            len(v) == exp["ddl"]["rules"]) else
            f"{len(v)} rules != stored {exp['ddl']['rules']}")

        def rewrite(rec):
            res = E.rewrite(lines, state["rules"])
            return res, len(res.lines)
        run.op("ddl.rewrite", p, rewrite, lambda v: None if (
            rule_hit_counts(v) == exp["ddl"]["hits"]) else
            "rule-hit counts differ from the stored counts")

        def schema_ddl(rec):
            outs = execute_ddl(spark, generate_spark_ddl(
                spark, owners=DDL_OWNERS))
            return outs, len(outs)

        def check_ddl(outs):
            bad = [o.key for o in outs if not o.ok]
            if bad or len(outs) != exp["ddl"]["statements"]:
                return (f"{len(outs)} statements "
                        f"(stored {exp['ddl']['statements']}), failed {bad}")
            return None
        run.op("schema.execute_ddl", p, schema_ddl, check_ddl)

        def migrate(rec):
            status = MigrationStatus(spark, str(work / "status"))
            state["status"] = status
            outs = migrate_tables(spark, load_tables(spark, sf, tables),
                                  str(work / "staging"),
                                  str(work / "target"), status)
            return outs, sum(o.actual for o in outs if o.state == "loaded")

        def check_migrate(outs):
            got = {o.table_key: (o.state, o.expected, o.actual) for o in outs}
            want = {t: ("loaded", exp["tables"][t], exp["tables"][t])
                    for t in tables}
            return None if got == want else f"outcomes {got} != {want}"
        run.op("pipeline.migrate_tables", p, migrate, check_migrate)

        # the upload the reconcile step compares against: a plain copy
        # of the staged extract, made outside the timed calls
        upload = work / "upload"
        if (work / "staging").is_dir():
            shutil.copytree(work / "staging", upload)

        def reconcile(rec):
            rows = listing_reconcile(spark, str(work / "staging"),
                                     str(upload)).collect()
            return rows, len(rows)
        run.op("pipeline.reconcile", p, reconcile, lambda rows: None if (
            rows and all(r.status == "ok" for r in rows)) else
            f"reconcile statuses {collections.Counter(r.status for r in rows)}")

        def current(rec):
            rows = state["status"].current().collect()
            return rows, len(rows)
        run.op("pipeline.status", p, current, lambda rows: None if (
            sorted((r.table_key, r.state) for r in rows)
            == [(t, "loaded") for t in sorted(tables)]) else
            f"ledger {sorted((r.table_key, r.state) for r in rows)}")
        run.end_pass(p)
        if p == 0:
            migrate_layers(run, work, state.get("status"), lines)


def migrate_layers(run: Run, work: pathlib.Path, status, lines) -> None:
    """Per-layer detail of the first migrate pass (run record only)."""
    first = {o["name"]: o for o in run.ops if o["pass_no"] == 0}
    written = [f for d in ("staging", "target", "status")
               for f in (work / d).rglob("*")
               if f.is_file() and not f.name.startswith((".", "_"))]
    src_bytes = sum((run.data_dir / f"{t}.parquet").stat().st_size
                    for t in MIGRATE_TABLES)
    per_table = []
    if status is not None:
        ev = sorted(status.all_events().collect(), key=lambda r: r.ts)
        run.layers["pipeline.status_appends"] = len(ev)
        prev = next(s["start"] for s in run.spans
                    if s["name"] == "pipeline.migrate_tables")
        for r in ev:
            t = r.ts.timestamp()
            per_table.append(t - prev)
            prev = t
    run.layers.update({
        "assess.report_s": first["assess.report"]["seconds"],
        "ddl.compile_rules_s": first["ddl.compile_rules"]["seconds"],
        "ddl.rewrite_s": first["ddl.rewrite"]["seconds"],
        "ddl.rewrite_lines": len(lines),
        "schema.execute_ddl_s": first["schema.execute_ddl"]["seconds"],
        "pipeline.migrate_tables_s":
            first["pipeline.migrate_tables"]["seconds"],
        "pipeline.table_p50_s": (statistics.median(per_table)
                                 if per_table else 0.0),
        "pipeline.table_max_s": max(per_table, default=0.0),
        "pipeline.bytes_written": sum(f.stat().st_size for f in written),
        "pipeline.files_written": len(written),
        "pipeline.write_amplification": (
            sum(f.stat().st_size for f in written) / src_bytes),
        "pipeline.reconcile_s": first["pipeline.reconcile"]["seconds"],
    })


WORKLOADS = {"reports": run_reports, "migrate": run_migrate}


# -------------------------------------------------------------- metrics

def pass_seconds(run: Run) -> list[float]:
    walls = collections.defaultdict(float)
    for o in run.ops:
        walls[o["pass_no"]] += o["seconds"]
    return [walls[p] for p in sorted(walls)]


def best_pass_s(run: Run) -> float:
    """Sum over the operations of each one's fastest call: bench.py's
    best-of-N, which a noisy neighbour can only make slower."""
    best: dict[str, float] = {}
    for o in run.ops:
        best[o["name"]] = min(best.get(o["name"], o["seconds"]), o["seconds"])
    return sum(best.values())


def pass_rows(run: Run) -> int:
    """Rows one pass gives the user: result rows (reports), verified
    rows loaded (migrate)."""
    return sum(o["rows"] for o in run.ops if o["pass_no"] == 0 and (
        run.workload != "migrate" or o["name"] == "pipeline.migrate_tables"))


def end_to_end(run: Run) -> dict:
    cpu = run.pass_cpu
    return {
        "setup_s": (run.marks["first_call"] - _T0, "s"),
        "e2e_s": (run.marks["first_pass_end"] - _T0, "s"),
        "setup_cpu_s": (cpu[0], "s"),
        "pass_cpu_s": (statistics.median(
            b - a for a, b in zip(cpu, cpu[1:])), "s"),
    }


def per_layer(run: Run, trace, cores: int, rss: dict) -> dict:
    ops = [s for s in run.spans if s.get("kind") == "op"]
    att = trace.attribute(ops)
    wall = sum(s["seconds"] for s in ops)
    setup = run.marks["first_call"] - _T0
    return {
        "session.start_s": (run.layers["session.start_s"], "s"),
        "setup.after_session_s": (setup - run.layers["session.start_s"],
                                  "s"),
        "driver.nonjob_s": (wall - att["job_s"], "s"),
        "spark.job_s": (att["job_s"], "s"),
        "spark.jobs": (att["jobs"], "count"),
        "spark.stages": (att["stages"], "count"),
        "spark.tasks": (att["tasks"], "count"),
        "spark.task_busy_s": (att["task_busy_s"], "s"),
        "spark.slot_util": (att["task_busy_s"] / (wall * cores)
                            if wall else 0.0, "ratio"),
        "spark.shuffle_write_bytes": (att["shuffle_write_bytes"], "bytes"),
        "spark.spill_bytes": (att["spill_bytes"], "bytes"),
        "spark.gc_s": (att["gc_s"], "s"),
        "trace.e2e_s": (run.marks["first_pass_end"] - _T0, "s"),
        "first_pass_s": (pass_seconds(run)[0], "s"),
        "pass_s": (best_pass_s(run), "s"),
        "rows_per_s": (pass_rows(run) / best_pass_s(run), "1/s"),
        "op_p50_s": (statistics.median(o["seconds"] for o in run.ops), "s"),
        "rss.jvm_mb": (rss["jvm"], "MiB"),
        "rss.driver_mb": (rss["driver"], "MiB"),
    }


# ----------------------------------------------------------------- main

def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it. The
    py4j sockets close with the JVM (shutting the callback server down
    from Python first can block forever once a listener was used)."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def _abandon(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=DEFAULT_DATA,
                    help="data set under perfbench/data (default %(default)s)")
    ap.add_argument("--digests", default=str(DIGESTS),
                    help="stored digests to check results against")
    args = ap.parse_args(argv)

    signal.signal(signal.SIGALRM, _abandon)
    signal.alarm(RUN_LIMIT_S)
    try:
        data_dir = check_checkout(args.data)
        expected = stored_answers(args.digests, args.data)
    except (BenchError, OSError, ValueError, KeyError) as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2

    host = {"load_1m_start": os.getloadavg()[0],
            "foreign_spark_jvms": foreign_spark_jvms()}
    load_max = max(2.0, 0.25 * (os.cpu_count() or 8))
    host["exclusive"] = (not host["foreign_spark_jvms"]
                         and host["load_1m_start"] <= load_max)
    if not host["exclusive"]:
        print(f"perfbench: host not exclusive: {host}", file=sys.stderr)

    trace = bool(args.trace)
    run_dir = pathlib.Path(tempfile.mkdtemp(
        prefix=f"{args.workload}-s{args.seed}-", dir=_mkdir(RUNS_DIR / "tmp")))
    dirs = isolate(run_dir, trace)
    run = Run(args.workload, args.seed, trace, data_dir, expected)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    spark = None
    try:
        WORKLOADS[args.workload](run, dirs, args.seconds)
        spark = run.spark
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss = {"jvm": vm_hwm_mb(jvm_pid), "driver": resource.getrusage(
            resource.RUSAGE_SELF).ru_maxrss / 1024}
    except BenchError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
        signal.alarm(0)

    import trace_log
    log = trace_log.EventLog(dirs["eventlog"]) if trace else None
    metrics = (per_layer(run, log, cores, rss) if trace
               else end_to_end(run))
    record = {
        "workload": args.workload, "seed": args.seed, "data": args.data,
        "seconds": args.seconds, "trace": trace, "cores": cores,
        "host": host, "attempted": run.attempted,
        "failed": len(run.failures), "failures": run.failures,
        "failed_frac": len(run.failures) / max(1, run.attempted),
        "metrics": {k: v for k, (v, _) in metrics.items()},
        "layers": run.layers, "ops": run.ops, "spans": run.spans,
    }
    if trace:
        record["layers"].update(
            log.op_layers(run, cores, len(MIGRATE_TABLES)))
        record["jobs"] = log.job_rows()
    if hasattr(run, "stream_progress"):
        record["stream_progress"] = run.stream_progress
    out = _mkdir(RUNS_DIR / "records") / (
        f"{args.workload}-s{args.seed}-t{int(trace)}-{os.getpid()}.json")
    out.write_text(json.dumps(record, indent=1, default=str))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(f"perfbench: record {out}", file=sys.stderr)
    for f in run.failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


def _mkdir(p: pathlib.Path) -> pathlib.Path:
    p.mkdir(parents=True, exist_ok=True)
    return p


if __name__ == "__main__":
    sys.exit(main())
