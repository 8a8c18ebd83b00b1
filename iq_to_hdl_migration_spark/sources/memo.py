"""Session-scoped memos for derived structures that production
materializes once (indexes, edge tables, pair graphs) instead of
rebuilding per report.

Every memo is keyed on (tag, applicationId, sf_dir, staged-warehouse
env, driver-side source fingerprint [+ extras]): a re-stage, corpus
switch, or in-place rewrite of the source files misses the memo and
rebuilds, fail-closed. Values are whatever the builder returns
(usually a localCheckpointed DataFrame or a tuple of them); the
builder is responsible for materializing. Both memo kinds share one
lookup path (`_memo`): one key construction, one per-tag lock.

At 100 TB each memoized structure becomes a persisted table (see
docs/DEPLOY_100TB.md, "Materialized shared structures") — this module
is the single seam where that swap happens: `durable_memo` is the
persisted variant, backed by `sources.snapshots` versioned tables and
guarded by the same source fingerprint (a snapshot built from a
regenerated corpus is stale and is rebuilt, never served).
"""

from __future__ import annotations

import hashlib
import json
import os
import pathlib
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_MEMOS: dict[str, dict] = {}

# One build lock per memo tag (round 15): the ingest warm-up overlaps
# independent memo families on driver threads (guide §2.6), so two
# threads racing into the same tag must not both run build() — the
# structures are deterministic, but a double build doubles its ingest
# cost and the loser's checkpoint blocks leak until session end.
# Per-TAG (not global) locking keeps independent builds concurrent;
# cross-tag builder dependencies form a DAG, so nested lock
# acquisition cannot cycle.
_LOCKS_GUARD = threading.Lock()
_TAG_LOCKS: dict[str, threading.Lock] = {}


def _tag_lock(tag: str) -> threading.Lock:
    with _LOCKS_GUARD:
        return _TAG_LOCKS.setdefault(tag, threading.Lock())


def _memo(tag: str, spark: SparkSession, sf_dir: str, src: DataFrame,
          extra: tuple, make: Callable[[str], object]):
    """The one lookup path under both memo kinds. The key is
    (applicationId, sf_dir, staged-warehouse env, source fingerprint,
    *extra); a miss runs `make(fingerprint)` under the tag's build
    lock, re-checking the store first (double-checked: a racer may
    have built it while this thread waited). Each tag keeps one live
    entry — one corpus per session — so a new key evicts the old."""
    from iq_to_hdl_migration_spark.sources.bucketed import (
        _source_fingerprint)

    store = _MEMOS.setdefault(tag, {})
    fp = _source_fingerprint(src)
    key = (spark.sparkContext.applicationId, sf_dir,
           os.environ.get("SPARK_GRAFT_WAREHOUSE", ""), fp) + tuple(extra)
    hit = store.get(key)
    if hit is None:
        with _tag_lock(tag):
            hit = store.get(key)
            if hit is None:
                hit = make(fp)
                store.clear()
                store[key] = hit
    return hit


def session_memo(tag: str, spark: SparkSession, sf_dir: str,
                 src: DataFrame, build: Callable[[], object],
                 extra: tuple = ()):
    """Return the memoized structure for (tag, corpus), building it on
    first use. `src` is the frame whose backing files fingerprint the
    corpus; `extra` extends the key (e.g. hyperparameters)."""
    return _memo(tag, spark, sf_dir, src, extra, lambda _fp: build())


# A rebuild retains this many snapshot versions per part after vacuum:
# the new one plus its immediate parent, so an in-flight reader that
# resolved the meta pointer just before the flip still completes
# against intact files (old-or-new, never torn). Older history is GC'd
# — that bounds disk at <=2 versions per (tag, config) forever.
_KEEP_VERSIONS = 2


def _structure_dir(table_dir: str, tag: str, fkey: str) -> pathlib.Path:
    """On-disk home of one (tag, build-key) structure. The digest in
    the path keeps builds of one tag under different keys (another
    sf_dir, another hyperparameter stamp in `extra`) in independent
    snapshot tables instead of overwriting one pointer.

    Layout changed in round 10 (digest level added). The memo dir is a
    CACHE — pre-r10 layouts are simply never matched (fail-closed miss
    → rebuild); wipe $SPARK_GRAFT_MEMO_DIR to reclaim their space."""
    digest = hashlib.md5(fkey.encode()).hexdigest()[:16]
    return pathlib.Path(table_dir) / tag / digest


def _meta_path(sdir: pathlib.Path) -> pathlib.Path:
    return sdir / "_memo_meta.json"


def _persist_structure(parts: dict[str, DataFrame], table_dir: str,
                       tag: str, fkey: str) -> None:
    from iq_to_hdl_migration_spark.sources import snapshots

    sdir = _structure_dir(table_dir, tag, fkey)
    versions = {}
    for name, df in parts.items():
        versions[name] = snapshots.write_snapshot(
            df, str(sdir / name), mode="overwrite")
    mp = _meta_path(sdir)
    tmp = mp.with_suffix(".json.tmp")
    tmp.write_text(json.dumps({"key": fkey, "versions": versions},
                              sort_keys=True))
    tmp.rename(mp)  # atomic pointer flip: readers see old-or-new meta
    # this digest is live again — clear any supersession mark a past
    # corpus flip-flop may have left, so the deferred GC below never
    # deletes a dir that came back to life
    (sdir / _SUPERSEDED_MARK).unlink(missing_ok=True)
    # GC superseded history AFTER the flip commits — a same-key rebuild
    # (e.g. after a partial wipe) otherwise appends versions unboundedly
    for name in parts:
        snapshots.vacuum(str(sdir / name), keep_last=_KEEP_VERSIONS)
    _gc_stale_part_dirs(sdir, set(parts))
    _gc_superseded_digests(table_dir, tag, fkey, sdir)


def _gc_stale_part_dirs(sdir: pathlib.Path, live_parts: set[str]) -> None:
    """If a builder's part-NAME set changes under an unchanged build
    key, the old part dirs under this digest are no longer referenced
    by the meta (correctness is unaffected — loads existence-probe the
    manifest) but would leak disk forever. Remove every subdirectory
    the new meta doesn't reference (r10 advice)."""
    import shutil

    for child in sdir.iterdir():
        if child.is_dir() and child.name not in live_parts:
            shutil.rmtree(child, ignore_errors=True)


# marker dropped in a digest dir the first time a commit supersedes it;
# the dir is deleted only by a LATER commit that still finds it marked
_SUPERSEDED_MARK = "_superseded"


def _gc_superseded_digests(table_dir: str, tag: str, fkey: str,
                           live_sdir: pathlib.Path) -> None:
    """Cross-digest GC: a corpus regeneration changes the source
    fingerprint, which changes the digest, which would otherwise leave
    the previous corpus's full snapshot table on disk forever (the r10
    review's leak). A commit handles sibling digest dirs recording the
    SAME config (sf_dir + extra) but a different fingerprint — those
    are superseded corpora of this config — in TWO generations (r10
    advice): the commit that first supersedes a dir only MARKS it, and
    a later commit deletes dirs still marked. Same-digest vacuum keeps
    _KEEP_VERSIONS for in-flight readers; the deferral extends the
    same old-or-new guarantee across corpus regeneration — a reader
    that resolved the old corpus's meta survives the whole commit that
    superseded it. Sibling configs (different sf_dir or extra, e.g.
    an older layout stamp) are untouched, as is anything unparseable
    (be conservative: an unrecognized dir is never deleted)."""
    import shutil

    try:
        me = json.loads(fkey)
    except Exception:
        return
    tag_dir = pathlib.Path(table_dir) / tag
    for sib in tag_dir.iterdir():
        if sib == live_sdir or not sib.is_dir():
            continue
        smp = _meta_path(sib)
        try:
            other = json.loads(json.loads(smp.read_text())["key"])
        except Exception:
            continue
        if (other.get("sf_dir") == me.get("sf_dir")
                and other.get("extra") == me.get("extra")
                and other.get("fingerprint") != me.get("fingerprint")):
            mark = sib / _SUPERSEDED_MARK
            if mark.exists():
                shutil.rmtree(sib, ignore_errors=True)
            else:
                mark.touch()


def _load_structure(spark: SparkSession, table_dir: str, tag: str,
                    fkey: str) -> dict[str, DataFrame] | None:
    """Warm-start read: the persisted structure is served ONLY if its
    recorded build key (source fingerprint + hyperparameters) matches
    the current corpus — fail-closed on any mismatch, absence, or
    damage. Damage matters: a vacuumed/deleted data file under a
    still-valid meta must trigger a rebuild NOW, not a lazy read error
    mid-query, so every manifest-listed file is existence-probed here
    (driver-local stat calls, O(parts) metadata)."""
    from iq_to_hdl_migration_spark.sources import snapshots

    sdir = _structure_dir(table_dir, tag, fkey)
    mp = _meta_path(sdir)
    if not mp.exists():
        return None
    try:
        meta = json.loads(mp.read_text())
        if meta.get("key") != fkey:
            return None  # stale: corpus or config changed since the build
        out = {}
        for name, v in meta["versions"].items():
            part_dir = str(sdir / name)
            man = snapshots._load_manifest(part_dir, v)
            for f in man["files"]:
                if not (pathlib.Path(part_dir) / f).exists():
                    return None  # torn/vacuumed data under a live meta
            out[name] = snapshots.read_snapshot(spark, part_dir, version=v)
        # serving this digest makes it live again — clear any stale
        # supersession mark a corpus flip-flop left behind, or the next
        # superseding commit would delete it in ONE generation instead
        # of two (r11 review: the persist path alone clearing the mark
        # left warm-start loads holding a marked, deletable dir)
        (sdir / _SUPERSEDED_MARK).unlink(missing_ok=True)
        return out
    except Exception:
        return None  # any corruption → rebuild, never serve a broken read


def durable_memo(tag: str, spark: SparkSession, sf_dir: str,
                 src: DataFrame, build: Callable[[], dict[str, DataFrame]],
                 extra: tuple = (), table_dir: str | None = None
                 ) -> dict[str, DataFrame]:
    """`session_memo` with a persisted-snapshot tier underneath — the
    100 TB swap promised above, mechanized. `build` must return a dict
    of named DataFrame parts (e.g. {"cents": ..., "codes": ...}).

    Lookup order: in-process memo → persisted snapshot tables under
    `table_dir` (default $SPARK_GRAFT_MEMO_DIR; tier skipped when
    unset) → build(). A build-through commits each part as a versioned
    snapshot (`sources.snapshots`) plus an atomic meta pointer binding
    the version set to the build key, so a NEW session warm-starts by
    reading the snapshot instead of re-training; the key embeds the
    driver-side source fingerprint, so a regenerated corpus (same
    paths, new mtimes) misses and rebuilds rather than serving a stale
    index."""

    def make(fp: str) -> dict[str, DataFrame]:
        tdir = table_dir or os.environ.get("SPARK_GRAFT_MEMO_DIR")
        fkey = json.dumps({"fingerprint": fp, "sf_dir": sf_dir,
                           "extra": [str(x) for x in extra]},
                          sort_keys=True)
        parts = _load_structure(spark, tdir, tag, fkey) if tdir else None
        if parts is None:
            parts = build()
            assert isinstance(parts, dict), \
                "durable_memo builders must return named DataFrame parts"
            if tdir:
                _persist_structure(parts, tdir, tag, fkey)
        return parts

    return _memo(tag, spark, sf_dir, src, extra, make)
