"""Streaming twins must agree with their batch counterparts — the
semantics contract (SURVEY §2.10 streaming plan)."""

from __future__ import annotations

import ast
import os
import pathlib
from collections.abc import Callable
from dataclasses import dataclass

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window
from pyspark.sql.types import StructType

from iq_to_hdl_migration_spark.queries import load_all
from iq_to_hdl_migration_spark.queries.events_queries import (
    bot_report_from_counts)
from iq_to_hdl_migration_spark.session import local_frame
from iq_to_hdl_migration_spark.sources.tables import load_table
from iq_to_hdl_migration_spark.streaming import windows as W

REGISTRY = load_all()


def test_streaming_hourly_matches_batch(spark, sf_dir):
    # compare on epoch micros server-side: collecting a raw TIMESTAMP
    # renders it in the client OS timezone (round-5 TZ sweep finding)
    stream = (W.streaming_hourly_counts(spark, sf_dir, "t_hourly")
              .select(F.unix_micros("hour_ts").alias("hour_us"),
                      "event_type", "n_events").collect())
    batch = REGISTRY["events_hourly_by_type"].fn(spark, sf_dir).collect()
    s = {(r.hour_us, r.event_type): r.n_events for r in stream}
    b = {(r.hour_us, r.event_type): r.n_events for r in batch}
    assert s == b and len(s) > 0


def test_streaming_sessionization_matches_batch(spark, sf_dir):
    stream = W.streaming_sessionization(spark, sf_dir, "t_sess").collect()
    batch = REGISTRY["events_sessionization"].fn(spark, sf_dir).collect()
    s = {r.user_id: (r.n_sessions, r.n_events) for r in stream}
    b = {r.user_id: (r.n_sessions, r.n_events) for r in batch}
    assert s == b and len(s) > 0


def test_streaming_dedup_matches_batch_distinct(spark, sf_dir):
    from iq_to_hdl_migration_spark.streaming.windows import (
        streaming_dedup_count)
    streamed = streaming_dedup_count(spark, sf_dir)
    batch = load_table(spark, sf_dir, "events").dropDuplicates(["event_id"])
    assert streamed.count() == batch.count()
    assert streamed.select("event_id").distinct().count() == streamed.count()


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """Stream-stream interval join == the same predicate as a batch
    join (every purchase x same-user clicks in the prior hour)."""
    got = W.streaming_purchase_click_join(spark, sf_dir)

    ev = load_table(spark, sf_dir, "events")
    clicks = (ev.filter(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts")))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("user_id", "event_id", "ts"))
    want = purchases.join(
        clicks,
        F.expr("user_id = c_user AND "
               "ts BETWEEN click_ts AND click_ts + INTERVAL 1 HOUR"))

    assert got.count() == want.count()
    key = lambda r: (r["event_id"], r["click_id"])
    assert (sorted(map(key, got.collect()))
            == sorted(map(key, want.select("event_id", "click_id").collect())))


def test_streaming_incremental_dedup_equals_batch(spark, sf_dir):
    """The micro-batched incremental dedup (foreachBatch over an
    arrival stream, index extended per batch) must emit EXACTLY the
    single-shot batch result — pair set and estimates — regardless of
    micro-batch partitioning (3 files here vs one batch)."""
    reg = load_all()
    got = sorted(
        tuple(r) for r in
        reg["stream_incremental_dedup"].fn(spark, sf_dir).collect())
    want = sorted(
        tuple(r) for r in
        reg["dedup_incremental_pairs"].fn(spark, sf_dir)
        .select("id_a", "id_b", "est_jaccard").collect())
    assert got == want and len(got) > 0


def test_incremental_dedup_twins_share_one_index_build(spark, sf_dir,
                                                       tmp_path, monkeypatch):
    """The streaming twin dedups against the batch query's memoized
    index: the batch query followed by the twin builds the base index
    exactly once, from a cold temp dir and no persisted memo tier."""
    import tempfile

    from iq_to_hdl_migration_spark.operators import dedup
    from iq_to_hdl_migration_spark.sources import memo

    monkeypatch.delenv("SPARK_GRAFT_MEMO_DIR", raising=False)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    memo._MEMOS.pop("lsh_incremental_index", None)
    builds = []
    real_build = dedup.build_lsh_index
    monkeypatch.setattr(
        dedup, "build_lsh_index",
        lambda *a, **k: builds.append(1) or real_build(*a, **k))
    reg = load_all()
    reg["dedup_incremental_pairs"].fn(spark, sf_dir).collect()
    reg["stream_incremental_dedup"].fn(spark, sf_dir).collect()
    assert builds == [1]


def test_scd2_state_survives_restart(spark, sf_dir, tmp_path):
    """The CDC contract: land half the events, drain, STOP; land the
    rest, drain again over the SAME checkpoint. Per-user open runs
    must carry across the restart in state, so the union of both
    drains' closed rows equals the batch SCD2 history's closed rows
    over the full dataset — no duplicates, no holes at the seam."""
    from iq_to_hdl_migration_spark.streaming.windows import scd2_stream

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props")
    split_us = ev.agg(
        F.expr("percentile_cont(0.5) WITHIN GROUP "
               "(ORDER BY unix_micros(ts))")).collect()[0][0]
    land = tmp_path / "land"
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    schema = ev.schema

    def drain():
        stream = (spark.readStream.schema(schema)
                  .option("recursiveFileLookup", "true")
                  .parquet(str(land)))
        q = (scd2_stream(stream)
             .writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()

    (ev.where(F.unix_micros("ts") <= split_us)
     .coalesce(1).write.parquet(str(land / "batch1")))
    drain()
    n_first = spark.read.parquet(sink).count()
    (ev.where(F.unix_micros("ts") > split_us)
     .coalesce(1).write.parquet(str(land / "batch2")))
    drain()

    got = spark.read.parquet(sink)
    n_total = got.count()
    assert 0 < n_first < n_total, "both drains must emit closed rows"

    batch = (load_all()["scd2_user_type_history"].fn(spark, sf_dir)
             .where(F.col("valid_to_us").isNotNull())
             .select("user_id", "version", "event_type",
                     "valid_from_us", "valid_to_us", "n_events"))
    sym_diff = (got.select(*batch.columns).exceptAll(batch)
                .unionAll(batch.exceptAll(got.select(*batch.columns))))
    assert sym_diff.count() == 0, \
        "restarted streaming history must equal the batch history"


# ---------------------------------------------------------------------------
# Snapshot folds. Every step runs through the one drain (`W.run_fold`);
# each case below names the source frame, its id column, the state
# schema, the step, a view of the final snapshot and the single-shot
# batch frame that view must equal.

@dataclass(frozen=True)
class Fold:
    src: Callable      # (spark, sf_dir) -> source frame
    id_col: str
    state: str
    step: Callable     # source frame -> step
    view: Callable     # final snapshot -> compared frame
    want: Callable     # (spark, sf_dir, source frame) -> batch frame


def _events(*cols):
    return lambda spark, sf_dir: load_table(spark, sf_dir, "events").select(
        "event_id", *cols)


def _docs_hv(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select(
        "lang", F.col("doc_id").cast("bigint").alias("doc_id"),
        F.expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), "
               "16, 10) AS BIGINT)").alias("hv"))


def _docs_text(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text")


def _lineitem(spark, sf_dir):
    return load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey")


_BK = 5


def _bottomk_batch(spark, sf_dir, docs):
    w = Window.partitionBy("lang").orderBy("hv", "doc_id")
    return (docs.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= _BK).drop("_rn"))


def _basket_batch(spark, sf_dir, li):
    """Pair supports plus the one order-total row (both keys NULL)."""
    from iq_to_hdl_migration_spark.queries.cooccurrence_queries import (
        basket_pair_supports)

    baskets = (li.groupBy("l_orderkey")
               .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts")))
    tot = baskets.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit(None).cast("bigint").alias("part_a"),
        F.lit(None).cast("bigint").alias("part_b"), "n")
    return (basket_pair_supports(baskets)
            .select("part_a", "part_b", F.col("n_ab").alias("n"))
            .unionByName(tot))


def _shingles(docs):
    from iq_to_hdl_migration_spark.queries.corpus_queries import (
        _BP_N, _TOKS_SPARK)

    gs = (f"CASE WHEN size(t) >= {_BP_N} THEN "
          f"array_distinct(transform(sequence(1, size(t) - {_BP_N} + 1), "
          f"i -> concat_ws(' ', slice(t, i, {_BP_N})))) "
          f"ELSE array() END")
    return (docs.withColumn("t", F.expr(_TOKS_SPARK))
            .withColumn("nt", F.size("t").cast("bigint"))
            .withColumn("gs", F.expr(gs)))


def _boiler(docs):
    from iq_to_hdl_migration_spark.queries.corpus_queries import _BP_MIN_DOCS

    return (_shingles(docs)
            .select("doc_id", F.explode_outer("gs").alias("g"))
            .where(F.col("g").isNotNull())
            .groupBy("g").agg(F.countDistinct("doc_id").alias("c"))
            .where(F.col("c") >= _BP_MIN_DOCS)
            .select("g").localCheckpoint())


def _bp_step(docs):
    from iq_to_hdl_migration_spark.queries.corpus_queries import _BP_N

    return W.boilerplate_gate_step(_boiler(docs), _BP_N, 50)


def _bp_batch(spark, sf_dir, docs):
    g = _shingles(docs).select("doc_id", "source", "nt",
                               F.size("gs").alias("n_sh"),
                               F.explode_outer("gs").alias("g"))
    hits = (g.join(_boiler(docs), "g").groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("nb")))
    per = (g.select("doc_id", "source", "nt", "n_sh").distinct()
           .join(hits, "doc_id", "left")
           .withColumn("nb", F.coalesce("nb", F.lit(0))))
    return (per.where(F.col("nb") * 100 <= F.col("n_sh") * 50)
            .groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs_kept"),
                 F.sum("nt").cast("bigint").alias("n_tokens_kept")))


def _gap_report(snap):
    return (snap.where(F.col("gap_bucket").isNotNull())
            .groupBy("event_type",
                     F.col("gap_bucket").alias("gap_bucket_log2s"))
            .agg(F.sum("n_gaps").cast("bigint").alias("n_gaps")))


def _registered(name):
    return lambda spark, sf_dir, src: REGISTRY[name].fn(spark, sf_dir)


def _same(snap):
    return snap


FOLDS = {
    "bottomk_snapshot": Fold(
        _docs_hv, "doc_id", "lang string, doc_id bigint, hv bigint",
        lambda src: W.bottomk_step(_BK),
        _same, _bottomk_batch),
    "basket_fold": Fold(
        _lineitem, "l_orderkey", "part_a bigint, part_b bigint, n bigint",
        lambda src: W.basket_step,
        lambda snap: snap.where(F.col("part_b").isNotNull()
                                | F.col("part_a").isNull()),
        _basket_batch),
    "ab_test_fold": Fold(
        _events("user_id", "event_type"), "event_id",
        "user_id bigint, is_conv int", lambda src: W.ab_test_step, _same,
        lambda spark, sf_dir, ev: ev.groupBy("user_id").agg(
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("int").alias("is_conv"))),
    "boilerplate_gate_fold": Fold(
        _docs_text, "doc_id",
        "source string, n_docs_kept bigint, n_tokens_kept bigint",
        _bp_step, _same, _bp_batch),
    "user_count_fold": Fold(
        _events("user_id"), "event_id", "user_id bigint, n_events bigint",
        lambda src: W.keyed_count_step(["user_id"]), _same,
        lambda spark, sf_dir, ev: ev.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"))),
    "retention_fold": Fold(
        _events("user_id", "ts", "event_type"), "event_id",
        W.RETENTION_STATE_SCHEMA, lambda src: W.retention_step,
        W.retention_from_state, _registered("events_retention_cohorts")),
    "bot_fold": Fold(
        _events("user_id", "ts"), "event_id", W.BOT_STATE_SCHEMA,
        lambda src: W.bot_step,
        lambda snap: bot_report_from_counts(snap.drop("last_us")),
        _registered("events_bot_score_report")),
    "gap_hist_fold": Fold(
        _events("user_id", "event_type", "ts"), "event_id",
        W.GAP_HIST_STATE_SCHEMA, lambda src: W.gap_hist_step, _gap_report,
        _registered("events_gap_powerlaw_histogram")),
    "funnel_fold": Fold(
        _events("user_id", "event_type", "ts"), "event_id",
        W.FUNNEL_STATE_SCHEMA, lambda src: W.funnel_step,
        W.funnel_counts_from_state, _registered("events_funnel_counts")),
}


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _batches_read(q):
    """(batch id, first, last file-log offset) of each batch the drain
    ran: with one file per trigger, offset i is arrival file i."""
    def log_offset(o):   # PySpark renders the offset JSON as a dict repr
        return (ast.literal_eval(o) or {}).get("logOffset")
    return [(p.batchId, log_offset(p.sources[0].startOffset),
             log_offset(p.sources[0].endOffset))
            for p in q.recentProgress if p.numInputRows]


class _Chain:
    """Arrivals, snapshot and checkpoint dirs of one fold, seeded with
    the `00000_init` state."""
    def __init__(self, spark, tmp_path, state, init_rows=()):
        self.spark, self.tmp = spark, tmp_path
        self.arrivals, self.snaps, self.ckpt = (
            str(tmp_path / d) for d in ("arrivals", "snaps", "ckpt"))
        os.makedirs(self.arrivals)
        os.makedirs(self.snaps)
        local_frame(spark, init_rows, state).write.parquet(
            os.path.join(self.snaps, "00000_init"))

    def arrive(self, df, i):
        """Land `df` as arrival file i (mtime order = arrival order)."""
        tmp = str(self.tmp / f"slice_{i}")
        df.coalesce(1).write.parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.startswith("part-"))
        dst = os.path.join(self.arrivals, f"arr_{i:03d}.parquet")
        os.rename(os.path.join(tmp, part), dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))

    def fold(self, step, name):
        return W.run_fold(self.spark, self.arrivals, self.snaps, self.ckpt,
                          step, name)

    def latest(self):
        return sorted(os.listdir(self.snaps))[-1]

    def read(self, snap):
        return self.spark.read.parquet(os.path.join(self.snaps, snap))


def _halves(spark, sf_dir, tmp_path, key):
    case = FOLDS[key]
    src = case.src(spark, sf_dir)
    chain = _Chain(spark, tmp_path, case.state)
    cut = src.agg(F.expr(f"CAST(max({case.id_col}) / 2 AS BIGINT)")).first()[0]
    first = src.where(F.col(case.id_col) <= cut)
    second = src.where(F.col(case.id_col) > cut)
    return case, src, chain, first, second


def _restart(spark, sf_dir, tmp_path, key):
    """Two stream starts over one checkpoint: the first half of the
    source arrives, the fold drains and STOPS; the rest arrives and a
    fresh start resumes from the checkpoint. The second drain must read
    only the second arrival, and the final snapshot must equal the
    single-shot batch result — the snapshot chain, not the process, is
    the state (seam gaps and stage chains closed exactly once)."""
    case, src, chain, first, second = _halves(spark, sf_dir, tmp_path, key)
    step = case.step(src)
    chain.arrive(first, 0)
    chain.fold(step, f"t_{key}")
    assert chain.latest() != "00000_init", "first drain must write a snapshot"

    chain.arrive(second, 1)
    q = chain.fold(step, f"t_{key}")  # resumes
    assert _batches_read(q) == [(1, 0, 1)], "resume must not recompute"
    assert {p.name for p in q.recentProgress} == {f"t_{key}"}
    assert (_rows(case.view(chain.read(chain.latest())))
            == _rows(case.want(spark, sf_dir, src)))


def test_bottomk_snapshot_survives_restart(spark, sf_dir, tmp_path):
    _restart(spark, sf_dir, tmp_path, "bottomk_snapshot")


def test_basket_fold_survives_restart(spark, sf_dir, tmp_path):
    _restart(spark, sf_dir, tmp_path, "basket_fold")


def test_ab_test_fold_survives_restart(spark, sf_dir, tmp_path):
    _restart(spark, sf_dir, tmp_path, "ab_test_fold")


def test_boilerplate_gate_fold_survives_restart(spark, sf_dir, tmp_path):
    _restart(spark, sf_dir, tmp_path, "boilerplate_gate_fold")


def test_user_count_fold_survives_restart(spark, sf_dir, tmp_path):
    _restart(spark, sf_dir, tmp_path, "user_count_fold")


def test_retention_fold_survives_restart(spark, sf_dir, tmp_path):
    _restart(spark, sf_dir, tmp_path, "retention_fold")


def test_bot_fold_survives_restart(spark, sf_dir, tmp_path):
    _restart(spark, sf_dir, tmp_path, "bot_fold")


def test_gap_hist_fold_survives_restart(spark, sf_dir, tmp_path):
    _restart(spark, sf_dir, tmp_path, "gap_hist_fold")


def test_funnel_fold_survives_restart(spark, sf_dir, tmp_path):
    _restart(spark, sf_dir, tmp_path, "funnel_fold")


@pytest.mark.parametrize("key", list(FOLDS))
def test_fold_replays_same_rows(spark, sf_dir, tmp_path, key):
    """Lose the last batch's checkpoint commit: Spark re-executes that
    batch, which folds from the PRIOR snapshot (never its own output),
    so it rewrites its snapshot with exactly the same rows."""
    case, src, chain, first, second = _halves(spark, sf_dir, tmp_path, key)
    step = case.step(src)
    chain.arrive(first, 0)
    chain.arrive(second, 1)
    chain.fold(step, f"t_{key}")
    last = chain.latest()
    before = _rows(chain.read(last))

    for f in ("1", ".1.crc"):
        path = os.path.join(chain.ckpt, "commits", f)
        if os.path.exists(path):
            os.remove(path)
    q = chain.fold(step, f"t_{key}")
    assert _batches_read(q) == [(1, 0, 1)], "batch 1 must re-execute"
    assert chain.latest() == last and _rows(chain.read(last)) == before
    assert (_rows(case.view(chain.read(last)))
            == _rows(case.want(spark, sf_dir, src)))


_LATE_US = 1_800_000_000_000_000   # ~2027 in micros
# carried state row of user 7, event type of its late event (None: the
# fold's source has no event_type column)
_CARRIED = {"bot_fold": ((7, 3, 2, 0, 0, _LATE_US), None),
            "gap_hist_fold": ((7, "click", None, None, _LATE_US), "click"),
            "funnel_fold": ((7, _LATE_US, None, None, _LATE_US), "view")}


def _refuses_out_of_order(spark, tmp_path, key):
    """The ordered-fold contract is enforced in-plan BY THE REAL STEP
    (driving run_fold proves the guard survives column pruning): a
    batch whose 2024 event predates user 7's carried ~2027 last_us
    must raise."""
    case = FOLDS[key]
    carried, event_type = _CARRIED[key]
    chain = _Chain(spark, tmp_path, case.state, [carried])
    late = local_frame(
        spark, [(99, 7, event_type, "2024-01-01 00:00:01")],
        "event_id bigint, user_id bigint, event_type string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    if event_type is None:
        late = late.drop("event_type")
    chain.arrive(late, 0)
    with pytest.raises(Exception, match="not time-contiguous"):
        chain.fold(case.step(late), f"t_{key}")


def test_bot_fold_refuses_out_of_order_batch(spark, tmp_path):
    _refuses_out_of_order(spark, tmp_path, "bot_fold")


def test_gap_hist_fold_refuses_out_of_order_batch(spark, tmp_path):
    _refuses_out_of_order(spark, tmp_path, "gap_hist_fold")


def test_funnel_fold_refuses_out_of_order_batch(spark, tmp_path):
    _refuses_out_of_order(spark, tmp_path, "funnel_fold")


def test_fold_twin_on_empty_source_starts_no_stream(spark, tmp_path):
    """An empty source yields the empty init snapshot, with exactly the
    declared state schema, and no stream is started."""
    def step(prev, batch_df):
        raise AssertionError("no batch may run on an empty source")

    state = "k bigint, n_events bigint"
    out = W.fold_twin(spark, str(tmp_path), "empty",
                      local_frame(spark, [], "id bigint, k bigint"), "id",
                      state, step, "t_empty")
    assert out.count() == 0 and out.schema == StructType.fromDDL(state)
    work = W._STREAM_WORK_DIRS[(spark.sparkContext.applicationId,
                                str(tmp_path), "empty")]
    assert os.listdir(os.path.join(work, "arrivals")) == []
    assert not os.path.exists(os.path.join(work, "ckpt"))


def test_fold_twin_supersedes_its_own_tag_only(spark, tmp_path):
    """A second call for the same (sf_dir, tag) deletes the first
    call's work dir; other tags' dirs are left alone."""
    src = local_frame(spark, [], "id bigint")

    def work_dir(tag):
        W.fold_twin(spark, str(tmp_path), tag, src, "id", "n bigint",
                    None, f"t_{tag}")
        return W._STREAM_WORK_DIRS[(spark.sparkContext.applicationId,
                                    str(tmp_path), tag)]

    a1, b = work_dir("a"), work_dir("b")
    a2 = work_dir("a")
    assert not os.path.exists(a1)
    assert a2 != a1 and os.path.isdir(a2) and os.path.isdir(b)


def test_one_foreach_batch_drain():
    """One drain in the package: `foreachBatch` is called only inside
    `streaming.windows._drain`."""
    pkg = pathlib.Path(W.__file__).resolve().parents[1]
    hits = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        owner = {id(n): fn.name for fn in tree.body
                 if isinstance(fn, ast.FunctionDef) for n in ast.walk(fn)}
        hits += [(path.relative_to(pkg).as_posix(), owner.get(id(node)))
                 for node in ast.walk(tree)
                 if isinstance(node, ast.Call)
                 and isinstance(node.func, ast.Attribute)
                 and node.func.attr == "foreachBatch"]
    assert hits == [("streaming/windows.py", "_drain")]


def test_retention_fold_rejects_out_of_range_weeks(spark):
    """The one-BIGINT mask bound is enforced, not assumed: an event
    past week 62 — or ANY pre-epoch event, including the -6..-1 day
    range whose week truncates to 0 (the r11 review hole) — must
    raise in the delta computation instead of silently entering the
    mask."""
    for ts in ("2026-01-01 00:00:00",   # week > 62
               "2023-12-31 23:00:00"):  # datediff -1: truncates to 0
        bad = spark.createDataFrame(
            [(1, 7, ts, "click")],
            "event_id bigint, user_id bigint, ts string, "
            "event_type string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        with pytest.raises(Exception, match="retention fold supports"):
            W._retention_delta(bad).collect()
