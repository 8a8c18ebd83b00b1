"""Structured Streaming operators over the events stream.

The reference is batch-only with file checkpoints (SURVEY §2.10) — this
module is the brief's forward-looking streaming surface: the same
hourly/sessionization semantics as queries/events_queries.py, expressed
as continuous queries so a migration's change-feed (or any event
stream) can be processed incrementally.

  * hourly counts: watermarked tumbling window — late events beyond
    the watermark are dropped, state is bounded.
  * sessionization: applyInPandasWithState keyed by user_id — the
    stateful 30-minute-gap session counter; state carries (last seen
    timestamp, open session count) across micro-batches.
  * snapshot folds: the id-sliced twins of batch reports, each a pure
    step over one checkpointed foreachBatch drain (`fold_twin`,
    `run_fold`; see the section comment).

Tests run with trigger(availableNow=True) against the static events
parquet and assert equality with the batch twins — the semantics
contract between the two implementations.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable, Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from iq_to_hdl_migration_spark.session import local_frame
from iq_to_hdl_migration_spark.sources.tables import load_table

GAP_US = 1800 * 1_000_000

SESSION_OUT_SCHEMA = "user_id bigint, n_sessions bigint, n_events bigint"
SESSION_STATE_SCHEMA = "last_us bigint, n_sessions bigint, n_events bigint"


def _raw_events_schema(spark: SparkSession, path: str):
    """The file source needs a declared schema, and the on-disk flavor
    of events.ts varies by Spark version (TIMESTAMP(NANOS) -> long on
    <= 4.0 under nanosAsLong, TIMESTAMP_NTZ on >= 4.1) — so infer it
    from a batch read of the same files and normalize after."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    return spark.read.parquet(path).schema


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet, ts normalized to the
    same canonical micros TIMESTAMP as sources.tables.load_table."""
    from iq_to_hdl_migration_spark.sources.tables import (
        normalize_event_ts, table_path)

    schema = _raw_events_schema(spark, table_path(sf_dir, "events"))
    # the file source wants a directory; point at sf_dir and glob the
    # single events file
    raw = (spark.readStream.schema(schema)
           .option("pathGlobFilter", "events.parquet")
           .parquet(sf_dir.rstrip("/")))
    return normalize_event_ts(raw)


def hourly_counts_stream(events: DataFrame) -> DataFrame:
    """Watermarked tumbling 1h window x event_type counts."""
    return (events
            .withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("win.start").alias("hour_ts"), "event_type",
                    "n_events"))


def _session_fn(key: tuple, pdfs: Iterator, state: GroupState) -> Iterator:
    """Stateful session counter for one user (30-min gap)."""
    import pandas as pd

    if state.exists:
        last_us, n_sessions, n_events = state.get
    else:
        last_us, n_sessions, n_events = None, 0, 0
    for pdf in pdfs:
        for us in sorted(int(v) for v in pdf["us"]):
            if last_us is None or us - last_us > GAP_US:
                n_sessions += 1
            last_us = us
            n_events += 1
    state.update((last_us, n_sessions, n_events))
    yield pd.DataFrame([(key[0], n_sessions, n_events)],
                       columns=["user_id", "n_sessions", "n_events"])


def sessionize_stream(events: DataFrame) -> DataFrame:
    """applyInPandasWithState sessionization keyed by user (emits the
    running per-user totals each micro-batch)."""
    keyed = (events.select("user_id", F.unix_micros("ts").alias("us"))
             .groupBy("user_id"))
    return keyed.applyInPandasWithState(
        _session_fn,
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_stream(events: DataFrame) -> DataFrame:
    """Streaming exact dedup on event_id: dropDuplicatesWithinWatermark
    keys state by id and expires it past the watermark — bounded state,
    the streaming twin of `dropDuplicates` in the batch dedup operator
    (operators/dedup.py exact path)."""
    return (events.withWatermark("ts", "2 hours")
            .dropDuplicatesWithinWatermark(["event_id"]))


def run_to_memory(sdf: DataFrame, table_name: str,
                  output_mode: str = "complete") -> None:
    """Drain the stream with availableNow into an in-memory sink and
    block until done (test/driver harness helper)."""
    q = (sdf.writeStream.format("memory").queryName(table_name)
         .outputMode(output_mode)
         .trigger(availableNow=True).start())
    q.awaitTermination()


def streaming_hourly_counts(spark: SparkSession, sf_dir: str,
                            _query_name: str = "stream_hourly") -> DataFrame:
    """End-to-end: stream -> watermarked window agg -> memory sink ->
    result DataFrame (batch-collectable, so driver-checkable)."""
    events = read_events_stream(spark, sf_dir)
    run_to_memory(hourly_counts_stream(events), _query_name, "complete")
    return spark.table(_query_name)


def streaming_dedup_count(spark: SparkSession, sf_dir: str,
                          _query_name: str = "stream_dedup") -> DataFrame:
    """End-to-end: stream -> watermarked exact dedup -> memory sink;
    returns the deduplicated rows (append mode)."""
    events = read_events_stream(spark, sf_dir)
    run_to_memory(dedup_stream(events), _query_name, "append")
    return spark.table(_query_name)


def purchase_click_join_stream(events: DataFrame) -> DataFrame:
    """Stream-stream inner join with a time-range condition: each
    purchase joined to the same user's clicks in the preceding hour.
    Both sides carry watermarks so the join state is bounded — Spark
    evicts click state once the purchase-side watermark passes
    click_ts + 1h.  The batch twin (same predicate as a batch join) is
    the semantics contract in tests."""
    clicks = (events.filter(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts"))
              .withWatermark("click_ts", "2 hours"))
    purchases = (events.filter(F.col("event_type") == "purchase")
                 .select("user_id", "event_id", "ts")
                 .withWatermark("ts", "2 hours"))
    return purchases.join(
        clicks,
        F.expr("user_id = c_user AND "
               "ts BETWEEN click_ts AND click_ts + INTERVAL 1 HOUR"),
    ).select("user_id", "event_id", "click_id", "ts", "click_ts")


def streaming_purchase_click_join(spark: SparkSession, sf_dir: str,
                                  _query_name: str = "stream_ssjoin"
                                  ) -> DataFrame:
    events = read_events_stream(spark, sf_dir)
    run_to_memory(purchase_click_join_stream(events), _query_name, "append")
    return spark.table(_query_name)


def streaming_sessionization(spark: SparkSession, sf_dir: str,
                             _query_name: str = "stream_sessions"
                             ) -> DataFrame:
    events = read_events_stream(spark, sf_dir)
    run_to_memory(sessionize_stream(events), _query_name, "update")
    # update-mode sink may hold several emissions per key; keep the last
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (spark.table(_query_name)
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1).drop("_rn"))


def enrichment_stream(events: DataFrame, user_dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join: each micro-batch broadcast-joins
    the (small, slowly-changing) user dimension — the standard pattern
    for attaching segments/features to a live event feed. The static
    side is re-read per micro-batch, so dimension updates between
    batches are picked up without restarting the query."""
    enriched = events.join(F.broadcast(user_dim), "user_id", "left")
    return (enriched
            .groupBy(F.coalesce(F.col("segment"), F.lit("unknown"))
                     .alias("segment"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("decimal(18,6)"))
                     .alias("total_value")))


def streaming_enriched_counts(spark: SparkSession, sf_dir: str,
                              _query_name: str = "stream_enrich"
                              ) -> DataFrame:
    """End-to-end: event stream x static per-user segment dim (the
    user's first-ever event type — derived from the same parquet, so
    the batch oracle can reproduce it) -> per-segment rollup."""
    ev_static = load_table(spark, sf_dir, "events")
    user_dim = (ev_static.groupBy("user_id")
                .agg(F.min_by("event_type", "ts").alias("segment")))
    events = read_events_stream(spark, sf_dir)
    run_to_memory(enrichment_stream(events, user_dim), _query_name,
                  "complete")
    return spark.table(_query_name)


def session_windows_stream(events: DataFrame) -> DataFrame:
    """NATIVE session_window aggregation on the stream (the merging
    state-window operator, watermark-bounded): per (user, session)
    event counts with session bounds. The streaming counterpart of
    queries/events_queries.py::events_session_windows_native — same
    operator, so the batch oracle is the semantics contract."""
    return (events
            .withWatermark("ts", "2 hours")
            .groupBy(F.session_window("ts", "30 minutes").alias("w"),
                     "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("user_id",
                    F.unix_micros("w.start").alias("session_start_us"),
                    F.unix_micros("w.end").alias("session_end_us"),
                    F.col("n_events").cast("bigint").alias("n_events")))


def streaming_session_windows(spark: SparkSession, sf_dir: str,
                              _query_name: str = "stream_sessw") -> DataFrame:
    """End-to-end: stream -> watermarked native session_window ->
    memory sink. Complete mode so the availableNow drain emits every
    session including those still open at end-of-input (append mode
    would hold back sessions whose end exceeds the final watermark)."""
    events = read_events_stream(spark, sf_dir)
    run_to_memory(session_windows_stream(events), _query_name, "complete")
    return spark.table(_query_name)


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet — the change-feed
    shape of a corpus that grows in batches."""
    from iq_to_hdl_migration_spark.sources.tables import table_path

    schema = spark.read.parquet(table_path(sf_dir, "documents")).schema
    return (spark.readStream.schema(schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir.rstrip("/")))


def streaming_curation_counts(spark: SparkSession, sf_dir: str,
                              thresholds: DataFrame,
                              _query_name: str = "stream_curation"
                              ) -> DataFrame:
    """End-to-end streaming curation: stream of documents -> stream-
    static broadcast join against the (source, thr16) mixture
    thresholds -> deterministic md5-bucket keep filter -> running
    per-source kept counts (complete mode). The keep decision is
    content-addressed, so the streaming pass admits EXACTLY the same
    documents as the batch mix_apply_downsample — that equality is the
    registered oracle check, not just a test."""
    docs = read_documents_stream(spark, sf_dir)
    bucket16 = F.expr(
        "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10)"
        " AS BIGINT)")
    kept = (docs.join(F.broadcast(thresholds), "source")
            .where(bucket16 < F.col("thr16"))
            .select("source",
                    F.size(F.expr(r"split(lower(trim(text)), '\\s+')"))
                    .cast("bigint").alias("nt")))
    agg = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum("nt").alias("n_tokens_kept"))
    run_to_memory(agg, _query_name, "complete")
    return spark.table(_query_name)


# ---------------------------------------------------------------------------
# Snapshot folds: the streaming form of the reference's resume ledger.
# A twin's source is staged as FOLD_BATCHES id-contiguous parquet
# arrivals, drained one file per micro-batch (availableNow), and batch
# i writes snapshot snap_dir/{i+1:05d}_b computed by a pure
# `step(prev_snap, batch_df) -> DataFrame` from the newest snapshot
# OLDER than its own. That invalidation rule lives in `_latest_before`
# alone: a batch never reads its own snapshot, so a replayed batch
# (snapshot written, checkpoint commit lost) recomputes from the same
# inputs and rewrites its snapshot with the same rows. State lives in
# the snapshot chain and the checkpoint, not in the process, so a
# stopped fold resumes where it left off.
# ---------------------------------------------------------------------------

FOLD_BATCHES = 4

# live work dir per (applicationId, source dir, tag), see _work_dir
_STREAM_WORK_DIRS: dict = {}


def _work_dir(spark: SparkSession, sf_dir: str, tag: str,
              prefix: str) -> str:
    """Fresh work dir for one (application, source dir, tag).

    The dir must outlive the call (the returned DataFrame reads its
    parquet lazily) but not the process, and a long-lived session that
    re-invokes a twin (bench + correctness + retries) must not
    accumulate one copy of the source per invocation. So a second call
    for the same key deletes the first call's dir — including the files
    backing the frame it returned: callers must materialize an old
    result before re-invoking if they still need it. atexit covers
    process exit. NOT keyed on the query name: the registry wrapper
    mints a fresh name per invocation (q_stream_<twin>_<seq>), which
    would make every call a distinct key and resurrect the leak."""
    wkey = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), tag)
    prev = _STREAM_WORK_DIRS.pop(wkey, None)
    if prev is not None:
        shutil.rmtree(prev, ignore_errors=True)
    work = tempfile.mkdtemp(prefix=f"{prefix}_")
    _STREAM_WORK_DIRS[wkey] = work
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    return work


def _id_span(df: DataFrame, id_col: str) -> tuple[int | None, int | None]:
    """Inclusive [lo, hi] id domain for arrival slicing, fail-loud on
    NULL ids: an id-contiguous micro-batch plan cannot route a NULL-id
    row anywhere, and silently dropping it would break the advertised
    bit-for-bit equality with the shared batch oracle (which keeps
    every row). Slicing from the actual min also admits negative-id
    domains, which a hardcoded lo=0 would silently exclude.
    Returns (None, None) on an empty frame."""
    row = df.agg(F.min(id_col).alias("lo"), F.max(id_col).alias("hi"),
                 F.count(F.lit(1)).alias("n"),
                 F.count(id_col).alias("n_ids")).first()
    if row["n"] != row["n_ids"]:
        raise ValueError(
            f"{id_col}: {row['n'] - row['n_ids']} NULL ids — cannot "
            "slice into id-contiguous arrival batches without dropping "
            "rows the batch oracle keeps")
    return row["lo"], row["hi"]


def _stage_id_sliced_arrivals(df, id_col: str, lo: int, hi: int,
                              n_files: int, work: str,
                              arrivals_dir: str) -> None:
    """Write `df` as `n_files` id-contiguous single-file parquet
    arrivals with strictly increasing mtimes, so the file source
    drains them in arrival order."""
    span = max(1, (hi - lo + n_files) // n_files)
    for i in range(n_files):
        lo_i = lo + i * span
        hi_i = min(hi, lo_i + span - 1)
        slice_df = df.where(F.col(id_col).between(lo_i, hi_i))
        tmp_i = os.path.join(work, f"slice_{i}")
        slice_df.coalesce(1).write.parquet(tmp_i)
        part = next(f for f in os.listdir(tmp_i)
                    if f.startswith("part-"))
        dst = os.path.join(arrivals_dir, f"arr_{i:03d}.parquet")
        shutil.move(os.path.join(tmp_i, part), dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))
        shutil.rmtree(tmp_i)


def _drain(spark: SparkSession, src_dir: str, ckpt_dir: str,
           process: Callable[[DataFrame, int], None],
           name: str) -> StreamingQuery:
    """The one foreachBatch drain: the parquet files under `src_dir`,
    one file per micro-batch in mtime order, each handed to
    `process(batch_df, batch_id)` until the input available now is
    used up, as stream `name`. Resumes from `ckpt_dir`; returns the
    terminated query."""
    schema = spark.read.parquet(src_dir).schema
    q = (spark.readStream.schema(schema)
         .option("maxFilesPerTrigger", 1).parquet(src_dir)
         .writeStream.foreachBatch(process).queryName(name)
         .option("checkpointLocation", ckpt_dir)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return q


def _latest_before(snap_dir: str, batch_id: int) -> str:
    """The newest snapshot strictly older than batch `batch_id`'s own
    (`00000_init` sorts before every numbered one)."""
    subs = sorted(d for d in os.listdir(snap_dir)
                  if d < f"{batch_id + 1:05d}_b")
    return os.path.join(snap_dir, subs[-1])


def run_fold(spark: SparkSession, arrivals_dir: str, snap_dir: str,
             ckpt_dir: str, step: Callable[[DataFrame, DataFrame],
                                           DataFrame],
             name: str) -> StreamingQuery:
    """Drain `arrivals_dir` folding each batch into the snapshot chain
    under `snap_dir` (which must hold `00000_init`). A later call with
    the same `ckpt_dir` resumes where the stream left off. Returns the
    terminated query (its recentProgress shows what each batch read)."""
    def _process(batch_df: DataFrame, batch_id: int) -> None:
        prev = spark.read.parquet(_latest_before(snap_dir, batch_id))
        (step(prev, batch_df).write.mode("overwrite")
         .parquet(os.path.join(snap_dir, f"{batch_id + 1:05d}_b")))

    return _drain(spark, arrivals_dir, ckpt_dir, _process, name)


def fold_twin(spark: SparkSession, sf_dir: str, tag: str, src: DataFrame,
              id_col: str, state_schema: str,
              step: Callable[[DataFrame, DataFrame], DataFrame],
              name: str) -> DataFrame:
    """Fold `src` through `step` and return the final snapshot.

    Stages `src` as FOLD_BATCHES `id_col`-contiguous arrivals in a
    fresh work dir (superseding the previous call's for the same
    (sf_dir, tag), see `_work_dir`), seeds the chain with an empty
    `state_schema` snapshot and drains it as stream `name`. An empty
    source starts no stream and returns the empty init snapshot."""
    work = _work_dir(spark, sf_dir, tag, name)
    arrivals_dir, snap_dir, ckpt_dir = (
        os.path.join(work, d) for d in ("arrivals", "snaps", "ckpt"))
    os.makedirs(arrivals_dir)
    os.makedirs(snap_dir)
    local_frame(spark, [], state_schema).write.parquet(
        os.path.join(snap_dir, "00000_init"))
    lo, hi = _id_span(src, id_col)
    if hi is not None:
        _stage_id_sliced_arrivals(src, id_col, lo, hi, FOLD_BATCHES,
                                  work, arrivals_dir)
        run_fold(spark, arrivals_dir, snap_dir, ckpt_dir, step, name)
    final = sorted(os.listdir(snap_dir))[-1]
    return spark.read.parquet(os.path.join(snap_dir, final))


# arrival files of the incremental-dedup twin: its own split, kept
# apart from FOLD_BATCHES
_INC_DEDUP_BATCHES = 3


def streaming_incremental_dedup(spark: SparkSession, sf_dir: str,
                                _query_name: str = "stream_inc_dedup"
                                ) -> DataFrame:
    """Continuously-deduped corpus: a documents ARRIVAL stream deduped
    per micro-batch against a persisted LSH index that each batch then
    extends — the streaming form of dedup_incremental_pairs, and the
    100 TB production shape (the index is the only state; per-batch
    work is O(batch + collisions), never a corpus re-signature).

    Harness: the base index and its 60%-of-max-doc_id cut are the
    batch query's own memoized index (`dedup_queries.
    _incremental_lsh_index`: the corpus's one LSH index restricted to
    the cut, built once per corpus and shared by both twins and the
    pair graph); the documents above the cut are written as
    `_INC_DEDUP_BATCHES` id-contiguous parquet files drained one per
    micro-batch (maxFilesPerTrigger=1, availableNow). foreachBatch runs
    operators.dedup.lsh_batch_deltas: emit the batch's pairs, append
    the index deltas. Because pair emission is first-seen-wins on
    monotone ids and estimates come from the same stored minhash
    arrays, the unioned output is micro-batch-partition-INVARIANT and
    equals the single-shot batch result — that equality is the
    registered oracle check (and tests/test_streaming.py locks it
    against the batch operator directly)."""
    from iq_to_hdl_migration_spark.operators.dedup import lsh_batch_deltas
    from iq_to_hdl_migration_spark.queries.dedup_queries import (
        _incremental_lsh_index)

    docs = load_table(spark, sf_dir, "documents")
    # fail loud on NULL ids; `hi` bounds the arrival slices
    _lo, hi = _id_span(docs, "doc_id")
    if hi is None:
        # empty corpus: no arrivals to stream — return the empty pair
        # frame the batch twin would produce (same schema)
        return local_frame(
            spark, [], "id_a bigint, id_b bigint, est_jaccard double")
    base_bands, base_digests, cut = _incremental_lsh_index(spark, sf_dir)
    batch2 = docs.where(F.col("doc_id") > cut)

    work = _work_dir(spark, sf_dir, "inc_dedup", _query_name)
    bands_dir = os.path.join(work, "bands")
    digests_dir = os.path.join(work, "digests")
    arrivals_dir = os.path.join(work, "arrivals")
    pairs_dir = os.path.join(work, "pairs")
    ckpt_dir = os.path.join(work, "ckpt")
    for d in (bands_dir, digests_dir, arrivals_dir, pairs_dir):
        os.makedirs(d)

    def _batch_parts(path, exclude_batch=None) -> list[str]:
        """The per-batch subdirs under `path`, EXCLUDING the given
        batch's own subdir. A replay of a crashed batch (deltas
        written, checkpoint not committed) must compute against the
        PRE-batch index state: reading its own half-written deltas
        would make `remaining` empty, overwrite the good deltas with
        empty frames, and emit digest self-pairs."""
        return [os.path.join(path, d) for d in sorted(os.listdir(path))
                if d != f"b{exclude_batch}"]

    def _index(base, path, batch_id) -> DataFrame:
        subs = _batch_parts(path, exclude_batch=batch_id)
        return base.unionByName(spark.read.parquet(*subs)) if subs else base

    _stage_id_sliced_arrivals(batch2, "doc_id", cut + 1, hi,
                              _INC_DEDUP_BATCHES, work, arrivals_dir)

    def _process(batch_df, batch_id) -> None:
        # exclude_batch makes replay deterministic: the index read never
        # contains this batch's own (possibly half-written) deltas, so
        # recomputation yields byte-identical frames and the overwrites
        # below are true idempotent re-executions
        index_bands = _index(base_bands, bands_dir, batch_id)
        index_digests = _index(base_digests, digests_dir, batch_id)
        pairs, bands_delta, digests_delta = lsh_batch_deltas(
            batch_df, index_bands, index_digests)
        # the pairs and the deltas are written by separate actions over
        # the same batch postings: persisted, the batch is digested and
        # signed once, not once per write
        bands_delta.persist()
        # belt-and-braces: a digest self-match (only possible if the
        # index somehow contains this batch) must never emit (X, X)
        pairs = (pairs.where(F.col("id_a") != F.col("id_b"))
                 .dropDuplicates(["id_a", "id_b"]))
        # every write is an OVERWRITE of a batch_id-scoped subdir, so a
        # checkpoint replay of a half-finished batch is idempotent —
        # no duplicate pairs, no double-appended index deltas
        pairs.write.mode("overwrite").parquet(
            os.path.join(pairs_dir, f"b{batch_id}"))
        bands_delta.write.mode("overwrite").parquet(
            os.path.join(bands_dir, f"b{batch_id}"))
        digests_delta.write.mode("overwrite").parquet(
            os.path.join(digests_dir, f"b{batch_id}"))
        bands_delta.unpersist()

    _drain(spark, arrivals_dir, ckpt_dir, _process, _query_name)
    return spark.read.parquet(*_batch_parts(pairs_dir))


# ---------------------------------------------------------------------------
# Streaming SCD2: the change-data-capture shape of the batch
# gaps-and-islands history builder (queries/temporal_queries.py::
# scd2_user_type_history).  State per user is ONE open run (last type,
# version counter, run start, run length) — constant size per key, the
# honest streaming formulation (carrying the full history in state
# would grow without bound).  A type change CLOSES the open run and
# appends it as a finished [valid_from, valid_to) history row; the
# still-open run lives only in state, exactly like the "current" row
# of a warehouse dimension that hasn't versioned yet.  The batch twin
# restricted to closed rows (valid_to IS NOT NULL) is the oracle.

SCD2_OUT_SCHEMA = ("user_id bigint, version bigint, event_type string, "
                   "valid_from_us bigint, valid_to_us bigint, "
                   "n_events bigint")
SCD2_STATE_SCHEMA = ("cur_type string, version bigint, run_start_us bigint, "
                     "run_n bigint")


def _scd2_fn(key: tuple, pdfs: "Iterator", state: GroupState) -> "Iterator":
    import pandas as pd

    if state.exists:
        cur_type, version, run_start_us, run_n = state.get
    else:
        cur_type, version, run_start_us, run_n = None, 0, None, 0
    out: list[tuple] = []
    rows: list[tuple] = []
    for pdf in pdfs:
        rows.extend(zip((int(v) for v in pdf["us"]),
                        (int(v) for v in pdf["event_id"]),
                        pdf["event_type"]))
    # ts order (event_id tiebreak) within the drained batch — matches
    # the batch twin's window ordering
    for us, _eid, etype in sorted(rows):
        if cur_type is None:
            cur_type, version, run_start_us, run_n = etype, 1, us, 1
        elif etype == cur_type:
            run_n += 1
        else:
            out.append((key[0], version, cur_type, run_start_us, us,
                        run_n))
            cur_type, version, run_start_us, run_n = (etype, version + 1,
                                                      us, 1)
    state.update((cur_type, version, run_start_us, run_n))
    cols = ["user_id", "version", "event_type", "valid_from_us",
            "valid_to_us", "n_events"]
    yield pd.DataFrame(out, columns=cols)


def scd2_stream(events: DataFrame) -> DataFrame:
    """applyInPandasWithState SCD2 run-tracker keyed by user: appends a
    history row each time an event-type run closes."""
    keyed = (events.select("user_id", "event_id", "event_type",
                           F.unix_micros("ts").alias("us"))
             .groupBy("user_id"))
    return keyed.applyInPandasWithState(
        _scd2_fn,
        outputStructType=SCD2_OUT_SCHEMA,
        stateStructType=SCD2_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_scd2(spark: SparkSession, sf_dir: str,
                   _query_name: str = "stream_scd2") -> DataFrame:
    """End-to-end: event stream -> stateful SCD2 run closing ->
    append-mode memory sink of finished history rows."""
    events = read_events_stream(spark, sf_dir)
    run_to_memory(scd2_stream(events), _query_name, "append")
    return spark.table(_query_name)


def streaming_dsir_gate(spark: SparkSession, sf_dir: str,
                        tgt_counts: list, src_counts: list,
                        n_buckets: int, keep_ppm: int,
                        _query_name: str = "stream_dsir") -> DataFrame:
    """Streaming DSIR quality gate: documents arrival stream ->
    per-document target-affinity score against PRECOMPUTED hashed-
    unigram bucket tables (the index an offline job ships to the
    ingest path) -> integer keep decision -> running per-source kept
    counts (complete mode over the bounded source key set).

    The bucket tables arrive as plain lists (<= n_buckets entries —
    constant at any corpus size) and are baked into the expression as
    literal arrays, so the whole score is stateless per document: no
    stream-side aggregation, no shuffle before the final bounded
    groupBy. The keep rule is the INTEGER cross-multiplication
    numer * 1e6 >= denom * keep_ppm — admit documents whose add-1-
    smoothed target/source affinity exceeds the corpus-average ratio
    keep_ppm = floor(1e6 * target_tokens / source_tokens) — carried
    in DECIMAL(38,0) so the products can never wrap however large the
    corpus counts grow; streaming and batch admit exactly the same
    documents, and that equality is the registered oracle check."""
    docs = read_documents_stream(spark, sf_dir)
    tgt_sql = "array(" + ",".join(f"{int(x)}L" for x in tgt_counts) + ")"
    src_sql = "array(" + ",".join(f"{int(x)}L" for x in src_counts) + ")"
    bks = (r"transform(split(lower(trim(text)), '\\s+'), "
           r"t -> CAST(conv(substr(md5(CAST(t AS BINARY)), 1, 15), "
           f"16, 10) AS BIGINT) % {n_buckets})")
    numer = (f"aggregate({bks}, 0L, (acc, b) -> "
             f"acc + element_at({tgt_sql}, CAST(b + 1 AS INT)) + 1L)")
    denom = (f"aggregate({bks}, 0L, (acc, b) -> "
             f"acc + element_at({src_sql}, CAST(b + 1 AS INT)) + 1L)")
    kept = (docs.withColumn("numer", F.expr(numer))
            .withColumn("denom", F.expr(denom))
            .where(F.expr(f"CAST(numer AS DECIMAL(38,0)) * 1000000 >= "
                          f"CAST(denom AS DECIMAL(38,0)) * {keep_ppm}"))
            .select("source",
                    F.size(F.expr(r"split(lower(trim(text)), '\\s+')"))
                    .cast("bigint").alias("nt")))
    agg = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum("nt").cast("bigint").alias("n_tokens_kept"))
    run_to_memory(agg, _query_name, "complete")
    return spark.table(_query_name)

def bottomk_step(k: int) -> Callable[[DataFrame, DataFrame], DataFrame]:
    """Per-lang bottom-k by (hv, doc_id): merge = bottom-k of the prior
    snapshot ∪ the batch's bottom-k."""
    w = Window.partitionBy("lang").orderBy("hv", "doc_id")

    def _bottomk(df: DataFrame) -> DataFrame:
        return (df.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") <= k).drop("_rn"))

    def step(prev: DataFrame, batch_df: DataFrame) -> DataFrame:
        return _bottomk(prev.unionByName(
            _bottomk(batch_df.select("lang", "doc_id", "hv"))))
    return step


def streaming_bottomk_sample(spark: SparkSession, sf_dir: str, k: int,
                             _query_name: str = "stream_bottomk"
                             ) -> DataFrame:
    """Streaming twin of the consistent bottom-k-by-hash sampler: the
    documents corpus arrives as id-contiguous micro-batches; each
    batch folds into an on-disk per-lang bottom-k snapshot (merge =
    bottom-k of previous-snapshot ∪ batch's bottom-k — the
    mergeability property the batch query advertises and
    tests/test_properties.py locks for KMV, exercised here end-to-end
    with real micro-batch state). State per lang is k rows forever,
    independent of stream length. The final snapshot equals the
    single-shot batch sample — that equality is the registered oracle
    check."""
    docs = load_table(spark, sf_dir, "documents").select(
        "lang", F.col("doc_id").cast("bigint").alias("doc_id"),
        F.expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), "
               "16, 10) AS BIGINT)").alias("hv"))
    return fold_twin(spark, sf_dir, "bottomk", docs, "doc_id",
                     "lang string, doc_id bigint, hv bigint",
                     bottomk_step(k), _query_name)


def basket_step(prev: DataFrame, batch_df: DataFrame) -> DataFrame:
    """Fold a batch's pair/item/total basket supports into the unified
    additive snapshot (merge = sum per key)."""
    from iq_to_hdl_migration_spark.queries.cooccurrence_queries import (
        basket_pair_supports)

    baskets = (batch_df.groupBy("l_orderkey")
               .agg(F.sort_array(F.collect_set("l_partkey"))
                    .alias("parts")))
    pairs = basket_pair_supports(baskets).select(
        "part_a", "part_b", F.col("n_ab").alias("n"))
    items = (baskets.select(F.explode("parts").alias("part_a"))
             .groupBy("part_a")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
             .select("part_a", F.lit(None).cast("bigint")
                     .alias("part_b"), "n"))
    tot = (baskets.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
           .select(F.lit(None).cast("bigint").alias("part_a"),
                   F.lit(None).cast("bigint").alias("part_b"), "n"))
    delta = pairs.unionByName(items).unionByName(tot)
    return (prev.unionByName(delta)
            .groupBy("part_a", "part_b")
            .agg(F.sum("n").cast("bigint").alias("n")))


def streaming_market_basket(spark: SparkSession, sf_dir: str,
                            _query_name: str = "stream_basket"
                            ) -> DataFrame:
    """Streaming twin of orders_market_basket_lift: lineitem arrives as
    orderkey-contiguous micro-batches (a basket is an atomic order
    event, so every order lands whole in exactly one batch) and each
    batch folds ADDITIVELY into a unified support snapshot — rows
    (part_a, part_b, n) where part_b IS NULL marks an item-support row
    and both-NULL the order total. Merge = groupBy(keys).sum(n): pair/
    item/total supports are all additive across disjoint order sets,
    which is the mergeability the batch query's one-pass design
    advertises. The final report equals the single-shot batch result
    (shared oracle). State grows with distinct pairs — the production
    variant prunes below min-support with a lossy-counting bound; at
    this corpus the pair domain is orders x width^2."""
    from iq_to_hdl_migration_spark.queries.cooccurrence_queries import (
        _BASKET_MIN_SUP, basket_lift_report)

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey")
    snap = fold_twin(spark, sf_dir, "basket", li, "l_orderkey",
                     "part_a bigint, part_b bigint, n bigint",
                     basket_step, _query_name)
    pair_sup = (snap.where(F.col("part_b").isNotNull())
                .select("part_a", "part_b", F.col("n").alias("n_ab"))
                .where(F.col("n_ab") >= _BASKET_MIN_SUP))
    item_sup = (snap.where(F.col("part_b").isNull()
                           & F.col("part_a").isNotNull())
                .select(F.col("part_a").alias("l_partkey"), "n"))
    tot = (snap.where(F.col("part_a").isNull() & F.col("part_b").isNull())
           .select(F.col("n").alias("n_orders")))
    return basket_lift_report(pair_sup, item_sup, tot)


def ab_test_step(prev: DataFrame, batch_df: DataFrame) -> DataFrame:
    """Fold a batch's per-user conversion flags (merge = max per user,
    the idempotent OR-monoid)."""
    delta = (batch_df.groupBy("user_id")
             .agg(F.max(F.when(F.col("event_type") == "purchase", 1)
                        .otherwise(0)).cast("int").alias("is_conv")))
    return (prev.unionByName(delta)
            .groupBy("user_id")
            .agg(F.max("is_conv").cast("int").alias("is_conv")))


def streaming_ab_test(spark: SparkSession, sf_dir: str,
                      _query_name: str = "stream_ab") -> DataFrame:
    """Streaming twin of events_ab_test_report: events arrive as
    event_id-contiguous micro-batches (a user's events deliberately
    SPAN batches) and each batch folds into a per-user conversion
    snapshot — rows (user_id, is_conv), merge = groupBy(user_id).
    max(is_conv), the idempotent OR-monoid a streaming distinct-user
    aggregate needs. Variant assignment is a stateless md5 hash of the
    user id (content-addressed — no assignment table in state), so
    snapshot state is exactly one row per distinct user, the minimum
    any exact per-user metric can hold. The final report equals the
    single-shot batch result bit-for-bit (shared oracle)."""
    from iq_to_hdl_migration_spark.queries.cooccurrence_queries import (
        ab_test_report_tail)

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type")
    snap = fold_twin(spark, sf_dir, "ab_test", ev, "event_id",
                     "user_id bigint, is_conv int", ab_test_step,
                     _query_name)
    return ab_test_report_tail(_ab_assign(snap))


def _ab_assign(snap: DataFrame) -> DataFrame:
    """(user_id, is_conv) snapshot -> (in_a, is_conv): the stateless
    md5 variant split, identical to the batch query's expression."""
    return snap.select(
        F.when(F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)
               < "8", 1).otherwise(0).alias("in_a"),
        F.col("is_conv"))


def boilerplate_gate_step(boiler_set: DataFrame, n: int,
                          max_ratio_pct: int
                          ) -> Callable[[DataFrame, DataFrame], DataFrame]:
    """Per batch, score each document's boilerplate fraction against
    the frozen shingle set (stream-side shingles join the static index
    on the shingle key), admit docs at <= max_ratio_pct%, and fold
    per-source kept counts additively into the snapshot."""
    toks = r"split(lower(trim(text)), '\\s+')"
    gs = (f"CASE WHEN size(t) >= {n} THEN "
          f"array_distinct(transform(sequence(1, size(t) - {n} + 1), "
          f"i -> concat_ws(' ', slice(t, i, {n})))) "
          f"ELSE array() END")

    def step(prev: DataFrame, batch_df: DataFrame) -> DataFrame:
        g = (batch_df
             .withColumn("t", F.expr(toks))
             .withColumn("nt", F.size("t").cast("bigint"))
             .withColumn("gs", F.expr(gs))
             .select("doc_id", "source", "nt",
                     F.size("gs").alias("n_sh"),
                     F.explode_outer("gs").alias("g")))
        hits = (g.join(boiler_set, "g")
                .groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("n_boiler")))
        per_doc = (g.select("doc_id", "source", "nt", "n_sh").distinct()
                   .join(hits, "doc_id", "left")
                   .withColumn("n_boiler",
                               F.coalesce("n_boiler", F.lit(0))))
        # integer cross-multiplication: admit iff
        # n_boiler / n_sh <= max_ratio_pct / 100 (empty-shingle docs
        # have zero boilerplate and are admitted)
        kept = per_doc.where(F.col("n_boiler") * 100
                             <= F.col("n_sh") * max_ratio_pct)
        delta = (kept.groupBy("source")
                 .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs_kept"),
                      F.sum("nt").cast("bigint").alias("n_tokens_kept")))
        return (prev.unionByName(delta)
                .groupBy("source")
                .agg(F.sum("n_docs_kept").cast("bigint")
                     .alias("n_docs_kept"),
                     F.sum("n_tokens_kept").cast("bigint")
                     .alias("n_tokens_kept")))
    return step


def streaming_boilerplate_gate(spark: SparkSession, sf_dir: str,
                               boiler_set: DataFrame, n: int,
                               max_ratio_pct: int,
                               _query_name: str = "stream_bp"
                               ) -> DataFrame:
    """Streaming boilerplate gate: documents arrive as doc_id-contiguous
    micro-batches (a document is atomic) and each batch admits docs
    whose boilerplate-shingle fraction is <= max_ratio_pct% against a
    FROZEN boilerplate set — the offline-built index (distinct n-gram
    shingles recurring in >= _BP_MIN_DOCS base docs) that an ingest path
    ships, exactly like the DSIR gate's bucket tables but vocabulary-
    sized, so it stays a DataFrame joined ON THE SHINGLE KEY rather
    than a baked-in literal. Per-source kept counts fold ADDITIVELY
    into a snapshot chain (disjoint doc sets — the basket-fold
    mergeability); the final report equals the single-shot batch
    result (shared oracle)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text")
    return fold_twin(
        spark, sf_dir, "bp_gate", docs, "doc_id",
        "source string, n_docs_kept bigint, n_tokens_kept bigint",
        boilerplate_gate_step(boiler_set, n, max_ratio_pct), _query_name)


def keyed_count_step(keys: list[str]
                     ) -> Callable[[DataFrame, DataFrame], DataFrame]:
    """Fold a batch's per-key row counts into the snapshot (merge = sum
    per key — the additive count monoid)."""
    def step(prev: DataFrame, batch_df: DataFrame) -> DataFrame:
        delta = (batch_df.groupBy(*keys)
                 .agg(F.count(F.lit(1)).cast("bigint").alias("n_events")))
        return (prev.unionByName(delta)
                .groupBy(*keys)
                .agg(F.sum("n_events").cast("bigint").alias("n_events")))
    return step


def streaming_user_activity_gini(spark: SparkSession, sf_dir: str,
                                 _query_name: str = "stream_gini"
                                 ) -> DataFrame:
    """Streaming twin of events_poweruser_gini: events arrive as
    event_id-contiguous micro-batches (a user's events deliberately
    SPAN batches) and each batch folds per-user event counts into a
    snapshot — merge = groupBy(user_id).sum(n_events), the additive
    count monoid, so state is exactly one row per distinct user. The
    Gini itself is NOT computed incrementally (rank sums are not
    mergeable); the final snapshot feeds the SAME closed-form
    histogram tail as the batch query, so the report equals the
    single-shot batch result bit-for-bit (shared oracle)."""
    from iq_to_hdl_migration_spark.queries.events_queries import (
        gini_from_user_counts)

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    snap = fold_twin(spark, sf_dir, "user_gini", ev, "event_id",
                     "user_id bigint, n_events bigint",
                     keyed_count_step(["user_id"]), _query_name)
    return gini_from_user_counts(snap)


# ---------------------------------------------------------------------------
# Retention-cohort twin: per-user state = (cohort week, active-week
# bitmask). Both halves are true monoids — MIN for the signup cohort
# week, bitwise OR for the activity mask — so batches merge in any
# arrival split and a replayed batch recomputes byte-identically from
# the prior snapshot. The mask bounds state at ONE BIGINT per user for
# corpora up to 63 weeks (~14 months); longer corpora raise loudly in
# the delta instead of silently wrapping (the documented-bound
# discipline of the Gini rank sums).
# ---------------------------------------------------------------------------

_RET_MAX_WEEK = 62
RETENTION_STATE_SCHEMA = "user_id bigint, cohort_week int, week_mask bigint"


def _retention_week_col():
    # guard the RAW day offset, not the truncated week: datediff in
    # -6..-1 truncates to week 0 and would silently pass a pre-epoch
    # event into the mask (r11 review)
    dd = F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
    week = (dd / 7).cast("int")
    return (F.when((dd < 0) | (week > _RET_MAX_WEEK),
                   F.raise_error(F.concat(
                       F.lit("retention fold supports weeks 0.."
                             f"{_RET_MAX_WEEK} (one BIGINT mask); "
                             "violated at event_id="),
                       F.col("event_id").cast("string"))))
            .otherwise(week))


def _retention_delta(batch_df: DataFrame) -> DataFrame:
    week = _retention_week_col()
    return (batch_df
            .select("user_id", week.alias("w"),
                    F.col("event_type"))
            .groupBy("user_id")
            .agg(F.min(F.when(F.col("event_type") == "signup",
                              F.col("w"))).cast("int")
                 .alias("cohort_week"),
                 F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), w))")
                 .alias("week_mask")))


def retention_step(prev: DataFrame, batch_df: DataFrame) -> DataFrame:
    """Fold per-user (MIN cohort week, OR week mask)."""
    return (prev.unionByName(_retention_delta(batch_df))
            .groupBy("user_id")
            .agg(F.min("cohort_week").cast("int").alias("cohort_week"),
                 F.expr("bit_or(week_mask)").cast("bigint")
                 .alias("week_mask")))


def retention_from_state(snap: DataFrame) -> DataFrame:
    """Shared batch tail: derive the (cohort_week, week_offset,
    n_users) matrix from the folded per-user state — identical output
    to the single-shot events_retention_cohorts query (shared
    oracle)."""
    active = (snap.where(F.col("cohort_week").isNotNull())
              .select("cohort_week",
                      F.explode(F.expr(
                          f"filter(sequence(0, {_RET_MAX_WEEK}), "
                          "w -> (week_mask >> w) % 2 = 1)"))
                      .alias("active_week")))
    return (active.where(F.col("active_week") >= F.col("cohort_week"))
            .groupBy(F.col("cohort_week").cast("int")
                     .alias("cohort_week"),
                     (F.col("active_week") - F.col("cohort_week"))
                     .cast("int").alias("week_offset"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_users")))


def _retention_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type")


def streaming_retention_cohorts(spark: SparkSession, sf_dir: str,
                                _query_name: str = "stream_retention"
                                ) -> DataFrame:
    """Streaming twin of events_retention_cohorts: events arrive as
    event_id-contiguous micro-batches (a user's signup and activity
    deliberately SPAN batches); per-user state folds with the MIN/OR
    monoid pair above, and the final snapshot feeds the same cohort
    tail as the batch query — bit-for-bit equality (shared oracle)."""
    snap = fold_twin(spark, sf_dir, "retention",
                     _retention_events(spark, sf_dir), "event_id",
                     RETENTION_STATE_SCHEMA, retention_step, _query_name)
    return retention_from_state(snap)


def streaming_lifecycle_stages(spark: SparkSession, sf_dir: str,
                               _query_name: str = "stream_lifecycle"
                               ) -> DataFrame:
    """Streaming twin of events_lifecycle_stages (17th twin): the SAME
    per-user (MIN cohort week, OR active-week bitmask) fold as the
    retention twin — growth accounting needs only the mask half — with
    the final snapshot's masks exploded back into a distinct user-week
    frame and fed through the shared batch tail
    (events_queries.lifecycle_from_user_weeks). One fold shape, two
    registered reports: the state design is the point (a single BIGINT
    mask per user carries both cohort retention AND lifecycle
    classification exactly)."""
    from iq_to_hdl_migration_spark.queries.events_queries import (
        lifecycle_from_user_weeks)

    snap = fold_twin(spark, sf_dir, "lifecycle",
                     _retention_events(spark, sf_dir), "event_id",
                     RETENTION_STATE_SCHEMA, retention_step, _query_name)
    return lifecycle_from_user_weeks(user_weeks_from_state(snap))


def user_weeks_from_state(snap: DataFrame) -> DataFrame:
    """Explode the folded week bitmask back into the DISTINCT
    (user_id, week) frame the batch tails consume."""
    return snap.select(
        "user_id",
        F.explode(F.expr(
            f"filter(sequence(0, {_RET_MAX_WEEK}), "
            "w -> (week_mask >> w) % 2 = 1)")).alias("week"))


# ---------------------------------------------------------------------------
# Bot-cadence twin: per-user state = (n_events, n_gaps, n_subsec,
# n_night, last_us). Unlike the MIN/OR mask folds this is a
# SEAM-CARRYING left fold, not a commutative monoid: a user's
# inter-event gap can span two micro-batches, so each batch computes
# its within-batch gaps and then closes the one boundary gap against
# the carried last_us. Correct because (a) arrivals are
# event_id-contiguous and event ids are time-ordered per user
# (asserted in-plan below — the fold REFUSES data that breaks it), and
# (b) the snapshot chain replays batch i from snapshot i-1, so order
# and exactly-once both hold across restarts.
# ---------------------------------------------------------------------------

BOT_STATE_SCHEMA = ("user_id bigint, n_events bigint, n_gaps bigint, "
                    "n_subsec bigint, n_night bigint, last_us bigint")


def _bot_batch_delta(batch_df: DataFrame) -> DataFrame:
    """Per-user within-batch cadence stats + the batch's first/last
    event micros (for the boundary gap against the carried state)."""
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(us).over(w)
    o = batch_df.select("user_id", us.alias("us"),
                        prev.alias("prev_us"))
    return (o.groupBy("user_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("d_events"),
                 F.sum(F.when(F.col("prev_us").isNotNull(), 1)
                       .otherwise(0)).cast("bigint").alias("d_gaps"),
                 F.sum(F.when(F.col("prev_us").isNotNull()
                              & ((F.col("us") - F.col("prev_us"))
                                 < 1_000_000), 1).otherwise(0))
                 .cast("bigint").alias("d_subsec"),
                 F.sum(F.when(F.expr("(us div 3600000000) % 24") < 6,
                              1).otherwise(0))
                 .cast("bigint").alias("d_night"),
                 F.min("us").cast("bigint").alias("first_us"),
                 F.max("us").cast("bigint").alias("d_last_us")))


def bot_step(prev: DataFrame, batch_df: DataFrame) -> DataFrame:
    """Fold per-user cadence counts with the boundary-gap carry."""
    delta = _bot_batch_delta(batch_df)
    # the ordered-fold contract: a batch's events must all be LATER
    # than the carried last_us (id-contiguous arrivals over time-ordered
    # ids guarantee it; anything else corrupts the boundary gap, so
    # refuse loudly)
    joined = prev.join(delta, "user_id", "full")
    guarded = joined.withColumn(
        "first_us",
        F.when(F.col("last_us").isNotNull()
               & F.col("first_us").isNotNull()
               & (F.col("first_us") <= F.col("last_us")),
               F.raise_error(F.concat(
                   F.lit("bot fold: batch not time-contiguous "
                         "for user_id="),
                   F.col("user_id").cast("string"))))
        .otherwise(F.col("first_us")))
    boundary = (F.col("last_us").isNotNull()
                & F.col("first_us").isNotNull())
    bgap_subsec = F.when(
        boundary & ((F.col("first_us") - F.col("last_us"))
                    < 1_000_000), 1).otherwise(0)
    return guarded.select(
        "user_id",
        (F.coalesce("n_events", F.lit(0))
         + F.coalesce("d_events", F.lit(0))).cast("bigint")
        .alias("n_events"),
        (F.coalesce("n_gaps", F.lit(0))
         + F.coalesce("d_gaps", F.lit(0))
         + F.when(boundary, 1).otherwise(0)).cast("bigint")
        .alias("n_gaps"),
        (F.coalesce("n_subsec", F.lit(0))
         + F.coalesce("d_subsec", F.lit(0)) + bgap_subsec)
        .cast("bigint").alias("n_subsec"),
        (F.coalesce("n_night", F.lit(0))
         + F.coalesce("d_night", F.lit(0))).cast("bigint")
        .alias("n_night"),
        F.coalesce("d_last_us", "last_us").cast("bigint")
        .alias("last_us"))


def streaming_bot_score(spark: SparkSession, sf_dir: str,
                        _query_name: str = "stream_bot") -> DataFrame:
    """Streaming twin of events_bot_score_report (18th twin): the
    seam-carrying cadence fold above, with the final snapshot fed
    through the shared report tail — equal to the single-shot batch
    report bit-for-bit (shared oracle)."""
    from iq_to_hdl_migration_spark.queries.events_queries import (
        bot_report_from_counts)

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts")
    snap = fold_twin(spark, sf_dir, "bot_score", ev, "event_id",
                     BOT_STATE_SCHEMA, bot_step, _query_name)
    return bot_report_from_counts(snap.drop("last_us"))


# ---------------------------------------------------------------------------
# Gap-histogram twin: the second SEAM-CARRYING fold. Inter-event gaps
# per (user, event_type) are not a commutative monoid — a gap can span
# two micro-batches — so each batch closes the boundary gap against
# the carried last-event micros, exactly the bot fold's discipline,
# but the state is a bounded HISTOGRAM per key (≤ ~40 power-of-two
# buckets) instead of scalar counters: one parquet snapshot holds
# histogram rows (gap_bucket set, last_us NULL) and one seam row per
# (user, type) (gap_bucket NULL, last_us set). Like the bot fold it
# asserts time-contiguity in-plan and refuses out-of-order arrivals.
# ---------------------------------------------------------------------------

GAP_HIST_STATE_SCHEMA = ("user_id bigint, event_type string, "
                         "gap_bucket int, n_gaps bigint, last_us bigint")

_GAP_BUCKET_SQL = ("CAST(CASE WHEN gap_us <= 0 THEN 0 "
                   "ELSE length(bin(gap_us div 1000000)) END AS INT)")


def gap_hist_step(prev: DataFrame, batch_df: DataFrame) -> DataFrame:
    """Fold per-(user, type) gap-bucket histograms with the
    boundary-gap carry."""
    prev_hist = (prev.where(F.col("gap_bucket").isNotNull())
                 .select("user_id", "event_type", "gap_bucket", "n_gaps"))
    prev_seam = (prev.where(F.col("gap_bucket").isNull())
                 .select("user_id", "event_type", "last_us"))

    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    o = batch_df.select("user_id", "event_type", us.alias("us"),
                        F.lag(us).over(w).alias("prev_us"))
    d_hist = (o.where(F.col("prev_us").isNotNull())
              .withColumn("gap_us", F.col("us") - F.col("prev_us"))
              .select("user_id", "event_type",
                      F.expr(_GAP_BUCKET_SQL).alias("gap_bucket"))
              .groupBy("user_id", "event_type", "gap_bucket")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_gaps")))
    spans = (o.groupBy("user_id", "event_type")
             .agg(F.min("us").cast("bigint").alias("first_us"),
                  F.max("us").cast("bigint").alias("d_last_us")))

    # ordered-fold contract: refuse non-contiguous arrivals loudly
    joined = prev_seam.join(spans, ["user_id", "event_type"], "full")
    guarded = joined.withColumn(
        "first_us",
        F.when(F.col("last_us").isNotNull()
               & F.col("first_us").isNotNull()
               & (F.col("first_us") <= F.col("last_us")),
               F.raise_error(F.concat(
                   F.lit("gap fold: batch not time-contiguous "
                         "for user_id="),
                   F.col("user_id").cast("string"))))
        .otherwise(F.col("first_us")))
    boundary = (guarded
                .where(F.col("last_us").isNotNull()
                       & F.col("first_us").isNotNull())
                .withColumn("gap_us", F.col("first_us") - F.col("last_us"))
                .select("user_id", "event_type",
                        F.expr(_GAP_BUCKET_SQL).alias("gap_bucket"),
                        F.lit(1).cast("bigint").alias("n_gaps")))
    new_hist = (prev_hist.unionByName(d_hist).unionByName(boundary)
                .groupBy("user_id", "event_type", "gap_bucket")
                .agg(F.sum("n_gaps").cast("bigint").alias("n_gaps")))
    new_seam = guarded.select(
        "user_id", "event_type",
        F.coalesce("d_last_us", "last_us").cast("bigint").alias("last_us"))

    return (new_hist
            .withColumn("last_us", F.lit(None).cast("bigint"))
            .unionByName(new_seam
                         .withColumn("gap_bucket", F.lit(None).cast("int"))
                         .withColumn("n_gaps", F.lit(None).cast("bigint"))
                         .select("user_id", "event_type",
                                 "gap_bucket", "n_gaps", "last_us")))


def streaming_gap_histogram(spark: SparkSession, sf_dir: str,
                            _query_name: str = "stream_gap_hist"
                            ) -> DataFrame:
    """Streaming twin of events_gap_powerlaw_histogram: the
    seam-carrying histogram fold above; the final snapshot's histogram
    rows collapse onto (event_type, bucket) — the same report as the
    single-shot batch query, bit-for-bit (shared oracle)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts")
    snap = fold_twin(spark, sf_dir, "gap_hist", ev, "event_id",
                     GAP_HIST_STATE_SCHEMA, gap_hist_step, _query_name)
    return (snap.where(F.col("gap_bucket").isNotNull())
            .groupBy("event_type",
                     F.col("gap_bucket").alias("gap_bucket_log2s"))
            .agg(F.sum("n_gaps").cast("bigint").alias("n_gaps")))


# ---------------------------------------------------------------------------
# Ordered-funnel twin: the third ORDERED fold. The chained funnel
# (view -> later click -> later purchase) is not a commutative monoid
# — a stage's qualifying time depends on the previous stage's — but
# under the arrival contract (event_id-contiguous micro-batches over
# time-ordered ids, the same contract the bot and gap folds assert),
# a stage time is FINAL the moment it is set: every later batch's
# events are strictly later, so coalesce(carried, batch-candidate) is
# exact. State is three timestamps + the seam last_us per user.
# Within a batch the three stages chain exactly like the batch query,
# each constrained by the stage time resolved so far.
# ---------------------------------------------------------------------------

FUNNEL_STATE_SCHEMA = ("user_id bigint, t_view_us bigint, "
                       "t_click_us bigint, t_buy_us bigint, last_us bigint")


def funnel_step(prev: DataFrame, batch_df: DataFrame) -> DataFrame:
    """Fold per-user ordered-funnel stage times; refuses non-contiguous
    arrivals loudly."""
    us = F.unix_micros(F.col("ts"))
    b = batch_df.select("user_id", "event_type", us.alias("us"))
    per_user = (b.groupBy("user_id")
                .agg(F.min(F.when(F.col("event_type") == "view",
                                  F.col("us"))).alias("bv"),
                     F.min("us").cast("bigint").alias("first_us"),
                     F.max("us").cast("bigint").alias("d_last_us")))
    joined = prev.join(per_user, "user_id", "full")
    # the guard must ride a column the fold actually consumes
    # (d_last_us feeds every snapshot row's last_us), or column
    # pruning would silently drop the raise_error
    guarded = joined.withColumn(
        "d_last_us",
        F.when(F.col("last_us").isNotNull()
               & F.col("first_us").isNotNull()
               & (F.col("first_us") <= F.col("last_us")),
               F.raise_error(F.concat(
                   F.lit("funnel fold: batch not time-contiguous "
                         "for user_id="),
                   F.col("user_id").cast("string"))))
        .otherwise(F.col("d_last_us")))
    s1 = guarded.select(
        "user_id", "t_click_us", "t_buy_us",
        F.coalesce("t_view_us", "bv").cast("bigint").alias("t_view_us"),
        F.coalesce("d_last_us", "last_us").cast("bigint").alias("last_us"))
    # stage 2: first click strictly after the resolved view time
    clicks = (b.where(F.col("event_type") == "click")
              .join(s1.select("user_id", "t_view_us"), "user_id")
              .where(F.col("t_view_us").isNotNull()
                     & (F.col("us") > F.col("t_view_us")))
              .groupBy("user_id")
              .agg(F.min("us").cast("bigint").alias("bc")))
    s2 = (s1.join(clicks, "user_id", "left")
          .select("user_id", "t_view_us", "t_buy_us", "last_us",
                  F.coalesce("t_click_us", "bc").cast("bigint")
                  .alias("t_click_us")))
    buys = (b.where(F.col("event_type") == "purchase")
            .join(s2.select("user_id", "t_click_us"), "user_id")
            .where(F.col("t_click_us").isNotNull()
                   & (F.col("us") > F.col("t_click_us")))
            .groupBy("user_id")
            .agg(F.min("us").cast("bigint").alias("bb")))
    s3 = (s2.join(buys, "user_id", "left")
          .select("user_id", "t_view_us", "t_click_us",
                  F.coalesce("t_buy_us", "bb").cast("bigint")
                  .alias("t_buy_us"),
                  "last_us"))
    return s3.select("user_id", "t_view_us", "t_click_us", "t_buy_us",
                     "last_us")


def funnel_counts_from_state(snap: DataFrame) -> DataFrame:
    """Final snapshot -> the 1-row funnel report (shared tail shape
    with events_funnel_counts)."""
    return snap.agg(
        F.sum(F.when(F.col("t_view_us").isNotNull(), 1).otherwise(0))
        .cast("bigint").alias("n_view"),
        F.sum(F.when(F.col("t_click_us").isNotNull(), 1).otherwise(0))
        .cast("bigint").alias("n_view_click"),
        F.sum(F.when(F.col("t_buy_us").isNotNull(), 1).otherwise(0))
        .cast("bigint").alias("n_view_click_buy"))


def streaming_funnel_counts(spark: SparkSession, sf_dir: str,
                            _query_name: str = "stream_funnel"
                            ) -> DataFrame:
    """Streaming twin of events_funnel_counts: the ordered-funnel fold
    above; equal to the single-shot batch report bit-for-bit (shared
    oracle)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts")
    snap = fold_twin(spark, sf_dir, "funnel", ev, "event_id",
                     FUNNEL_STATE_SCHEMA, funnel_step, _query_name)
    return funnel_counts_from_state(snap)


# ---------------------------------------------------------------------------
# Composite-key count twins (type diversity, DAU/WAU, type-mix drift,
# Haar, Fano): per-key counts are the same additive count monoid as the
# Gini fold, keyed on (user_id, event_type), (user_id, day),
# (week, event_type) or (event_type, epoch-hour). State is one BIGINT
# per key, bounded by the key domain, not by the events. The reports
# themselves (Simpson concentration, distinct presence, TVD, Haar
# energy, Fano dispersion) are NOT incremental; the final snapshot
# feeds the same integer-exact tail as the batch query.
# ---------------------------------------------------------------------------

def streaming_type_diversity(spark: SparkSession, sf_dir: str,
                             _query_name: str = "stream_diversity"
                             ) -> DataFrame:
    """Streaming twin of events_user_type_diversity: events arrive as
    event_id-contiguous micro-batches (a user's events deliberately
    SPAN batches) and each batch folds per-(user, type) counts into a
    snapshot. The final snapshot feeds the SAME integer-exact
    Simpson-concentration tail as the batch query, so the report
    equals the single-shot result bit-for-bit (shared oracle)."""
    from iq_to_hdl_migration_spark.queries.events_queries import (
        diversity_from_type_counts)

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type")
    snap = fold_twin(spark, sf_dir, "type_diversity", ev, "event_id",
                     "user_id bigint, event_type string, n_events bigint",
                     keyed_count_step(["user_id", "event_type"]),
                     _query_name)
    return diversity_from_type_counts(snap)


def streaming_dau_wau(spark: SparkSession, sf_dir: str,
                      _query_name: str = "stream_dau_wau") -> DataFrame:
    """Streaming twin of events_dau_wau, riding the composite-key count
    fold: per-(user, day) counts are the additive count monoid, and
    DAU/WAU need only the DISTINCT (user, day) presence — which the
    count snapshot carries for free (count >= 1). State is one row per
    active (user, day) pair — the same frame the batch query shuffles
    once. Final snapshot feeds the shared tail, so the report equals
    the single-shot batch result bit-for-bit (shared oracle)."""
    from iq_to_hdl_migration_spark.queries.events_queries import (
        dau_wau_from_user_days)

    ev = (load_table(spark, sf_dir, "events")
          .select("event_id", "user_id", F.to_date("ts").alias("day")))
    snap = fold_twin(spark, sf_dir, "dau_wau", ev, "event_id",
                     "user_id bigint, day date, n_events bigint",
                     keyed_count_step(["user_id", "day"]), _query_name)
    return dau_wau_from_user_days(snap.select("user_id", "day"))


def streaming_type_mix_drift(spark: SparkSession, sf_dir: str,
                             _query_name: str = "stream_mix_drift"
                             ) -> DataFrame:
    """Streaming twin of events_type_mix_drift_tvd, riding the
    composite-key count fold on (week, event_type): the weekly
    type-count matrix is the additive count monoid, bounded by weeks x
    the fixed type vocabulary — the cheapest state of any twin. The
    final snapshot feeds the SAME exact-integer TVD tail as the batch
    query, so the drift report equals the single-shot result
    bit-for-bit (shared oracle)."""
    from iq_to_hdl_migration_spark.queries.events_queries import (
        type_mix_drift_from_counts)

    week = (F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
            / 7).cast("int")
    ev = (load_table(spark, sf_dir, "events")
          .select("event_id", week.alias("week"), "event_type"))
    snap = fold_twin(spark, sf_dir, "type_mix_drift", ev, "event_id",
                     "week int, event_type string, n_events bigint",
                     keyed_count_step(["week", "event_type"]), _query_name)
    return type_mix_drift_from_counts(
        snap.select("week", "event_type", F.col("n_events").alias("o")))


def _hourly_type_counts(spark: SparkSession, sf_dir: str, tag: str,
                        name: str) -> DataFrame:
    """Final (event_type, epoch-hour, c) count snapshot of the
    composite-key count fold shared by the Haar and Fano twins."""
    ev = (load_table(spark, sf_dir, "events")
          .select("event_id", "event_type",
                  F.expr("unix_micros(ts) div 3600000000").alias("h")))
    snap = fold_twin(spark, sf_dir, tag, ev, "event_id",
                     "event_type string, h bigint, n_events bigint",
                     keyed_count_step(["event_type", "h"]), name)
    return snap.select("event_type", "h", F.col("n_events").alias("c"))


def streaming_haar_energy(spark: SparkSession, sf_dir: str,
                          _query_name: str = "stream_haar") -> DataFrame:
    """Streaming twin of events_haar_energy_profile, riding the
    composite-key count fold on (event_type, epoch-hour): the hourly
    count spine is the additive count monoid bounded by hours x the
    fixed type vocabulary, and the final snapshot feeds the SAME
    exact-integer Haar tail, so the multi-resolution energy spectrum
    equals the single-shot result bit-for-bit (shared oracle)."""
    from iq_to_hdl_migration_spark.queries.events_queries import (
        haar_energy_from_hourly)

    return haar_energy_from_hourly(
        _hourly_type_counts(spark, sf_dir, "haar_energy", _query_name))


def streaming_fano_factor(spark: SparkSession, sf_dir: str,
                          _query_name: str = "stream_fano") -> DataFrame:
    """Streaming twin of events_fano_factor_hourly, riding the SAME
    composite-key count fold as the Haar twin (the (event_type,
    epoch-hour) count spine is the additive count monoid): the final
    snapshot feeds the shared exact-integer Fano tail
    (`fano_from_hourly`), whose spine bounds derive from the counts
    themselves, so the dispersion report equals the single-shot result
    bit-for-bit."""
    from iq_to_hdl_migration_spark.queries.events_queries import (
        fano_from_hourly)

    return fano_from_hourly(
        _hourly_type_counts(spark, sf_dir, "fano_factor", _query_name),
        step=1)
