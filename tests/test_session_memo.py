"""The session-memo seam (sources/memo.py) must be corpus-stale-safe:
same corpus -> same object back (no rebuild); a rewritten source file
(mtime change suffices — the fingerprint is path/size/mtime) -> memo
miss and rebuild. This is the staleness class the round-7 ADVICE
flagged on _COPURCHASE_MEMO, now locked at the shared seam."""

from __future__ import annotations

import os
import shutil

from iq_to_hdl_migration_spark.sources.memo import session_memo
from iq_to_hdl_migration_spark.sources.tables import load_table


def _copy_docs(sf_dir: str, tmp_path) -> str:
    src = os.path.join(sf_dir, "documents.parquet")
    dst_dir = str(tmp_path)
    os.makedirs(dst_dir, exist_ok=True)
    shutil.copy(src, os.path.join(dst_dir, "documents.parquet"))
    return dst_dir


def _part_dirs(memo_dir, tag: str, part: str) -> list[str]:
    """All on-disk snapshot tables for (tag, part) — one per live build
    key, since memo.py keys the layout by a digest of the key."""
    import glob
    return sorted(glob.glob(f"{memo_dir}/{tag}/*/{part}"))


def test_memo_hit_and_stale_miss(spark, sf_dir, tmp_path):
    work = _copy_docs(sf_dir, tmp_path)
    builds = []

    def get():
        docs = load_table(spark, work, "documents")
        return session_memo(
            "test_memo", spark, work, docs,
            lambda: builds.append(1) or docs.limit(1).localCheckpoint())

    a = get()
    b = get()
    assert b is a, "same corpus must hit the memo"
    assert len(builds) == 1

    # in-place rewrite: same path, same size, new mtime -> must rebuild
    f = os.path.join(work, "documents.parquet")
    st = os.stat(f)
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    c = get()
    assert c is not a, "rewritten source served a stale memo entry"
    assert len(builds) == 2


def test_durable_memo_warm_starts_from_snapshot(spark, sf_dir, tmp_path):
    """The memo→persisted-table swap, mechanized: a build-through
    commits the structure as fingerprint-guarded snapshot tables; a
    fresh session (simulated by killing the in-process memo) must
    warm-start from the snapshot — the builder is never re-run — and
    a changed build key must NOT be served the stale snapshot."""
    from iq_to_hdl_migration_spark.sources import memo

    work = _copy_docs(sf_dir, tmp_path / "corpus")
    snap = str(tmp_path / "memostore")
    docs = load_table(spark, work, "documents")
    builds = []

    def build():
        builds.append(1)
        return {"top": docs.select("doc_id").orderBy("doc_id").limit(5)
                .localCheckpoint()}

    out1 = memo.durable_memo("t_demo", spark, work, docs, build,
                             table_dir=snap)
    rows1 = sorted(tuple(r) for r in out1["top"].collect())
    assert builds == [1]

    memo._MEMOS.clear()  # fresh process: only the snapshot survives

    def must_not_build():
        raise AssertionError("warm start expected — builder re-ran")

    out2 = memo.durable_memo("t_demo", spark, work, docs, must_not_build,
                             table_dir=snap)
    assert sorted(tuple(r) for r in out2["top"].collect()) == rows1

    # staleness guard: a different build key misses the snapshot
    memo._MEMOS.clear()
    out3 = memo.durable_memo("t_demo", spark, work, docs, build,
                             extra=("cfg2",), table_dir=snap)
    assert builds == [1, 1]
    assert sorted(tuple(r) for r in out3["top"].collect()) == rows1

    # ...and persisting cfg2 must NOT have clobbered the original
    # config's pointer (the r9 ADVICE bug): the original still
    # warm-starts from disk after a session restart
    memo._MEMOS.clear()
    out4 = memo.durable_memo("t_demo", spark, work, docs, must_not_build,
                             table_dir=snap)
    assert sorted(tuple(r) for r in out4["top"].collect()) == rows1
    memo._MEMOS.clear()
    out5 = memo.durable_memo("t_demo", spark, work, docs, must_not_build,
                             extra=("cfg2",), table_dir=snap)
    assert sorted(tuple(r) for r in out5["top"].collect()) == rows1


def test_durable_memo_rebuild_vacuums_and_old_reader_survives(
        spark, sf_dir, tmp_path):
    """Lifecycle guarantees for the persisted tier: (a) repeated
    same-key rebuilds leave at most _KEEP_VERSIONS live snapshot
    versions (disk is bounded forever, not append-only); (b) a reader
    that resolved the pointer just before a rebuild+vacuum still
    completes against intact files — old-or-new, never torn."""
    from iq_to_hdl_migration_spark.sources import memo, snapshots

    work = _copy_docs(sf_dir, tmp_path / "corpus")
    snap = str(tmp_path / "memostore")
    docs = load_table(spark, work, "documents")
    builds = []

    def build():
        builds.append(1)
        return {"top": docs.select("doc_id").orderBy("doc_id").limit(5)
                .localCheckpoint()}

    def rebuild_through():
        # force a same-key build-through: kill the in-process memo AND
        # the meta pointer (a crashed/aborted prior commit looks like
        # this) while the data files stay behind
        memo._MEMOS.clear()
        sdir = next((tmp_path / "memostore" / "t_gc").iterdir())
        (sdir / "_memo_meta.json").unlink(missing_ok=True)
        return memo.durable_memo("t_gc", spark, work, docs, build,
                                 table_dir=snap)

    memo.durable_memo("t_gc", spark, work, docs, build, table_dir=snap)
    for _ in range(4):
        rebuild_through()
    (part_dir,) = _part_dirs(tmp_path / "memostore", "t_gc", "top")
    vs = snapshots.versions(part_dir)
    assert len(vs) <= memo._KEEP_VERSIONS, \
        f"vacuum did not bound history: {[m['version'] for m in vs]}"
    assert builds == [1] * 5

    # (b) hold a WARM-START reader — a lazy frame over the currently
    # live version's files — then supersede it with a rebuild+vacuum;
    # the held reader must still scan intact files
    memo._MEMOS.clear()

    def must_not_build():
        raise AssertionError("warm start expected")

    held = memo.durable_memo("t_gc", spark, work, docs, must_not_build,
                             table_dir=snap)["top"]
    rebuild_through()  # new version committed, vacuum ran
    assert held.count() == 5, "reader one version behind must complete"
    memo._MEMOS.clear()


def test_durable_memo_fail_closed_on_damaged_snapshot(spark, sf_dir,
                                                      tmp_path):
    """A valid meta pointer over missing data files (vacuumed by an
    over-eager GC, or deleted by hand) must trigger a rebuild at
    lookup time — not a lazy FileNotFound mid-query."""
    from iq_to_hdl_migration_spark.sources import memo

    work = _copy_docs(sf_dir, tmp_path / "corpus")
    snap = str(tmp_path / "memostore")
    docs = load_table(spark, work, "documents")
    builds = []

    def build():
        builds.append(1)
        return {"top": docs.select("doc_id").orderBy("doc_id").limit(5)
                .localCheckpoint()}

    r1 = memo.durable_memo("t_dmg", spark, work, docs, build,
                           table_dir=snap)["top"].collect()
    memo._MEMOS.clear()
    sdir = next((tmp_path / "memostore" / "t_dmg").iterdir())
    for pq in (sdir / "top").rglob("*.parquet"):
        pq.unlink()  # meta stays valid; data is gone
    r2 = memo.durable_memo("t_dmg", spark, work, docs, build,
                           table_dir=snap)["top"].collect()
    assert builds == [1, 1], "damaged snapshot must rebuild, not serve"
    assert sorted(map(tuple, r2)) == sorted(map(tuple, r1))
    memo._MEMOS.clear()


def test_pq_index_snapshot_serves_bit_identical(spark, sf_dir, tmp_path,
                                                monkeypatch):
    """End-to-end through the serving query: train+persist the
    trained-index memo the PQ codebooks and codes live in, kill the
    in-memory memo, reload from the snapshot table — the served top-k
    must be bit-identical, and the warm start must not write a single
    new snapshot version."""
    from iq_to_hdl_migration_spark.queries.similarity_queries import (
        sim_pq_adc_topk)
    from iq_to_hdl_migration_spark.sources import memo, snapshots

    monkeypatch.setenv("SPARK_GRAFT_MEMO_DIR", str(tmp_path))
    memo._MEMOS.pop("kmeans_index", None)
    r1 = sorted(tuple(r) for r in sim_pq_adc_topk(spark, sf_dir).collect())
    for part in ("cents", "assign"):
        dirs = _part_dirs(tmp_path, "kmeans_index", part)
        assert len(dirs) == 1
        assert snapshots.current_version(dirs[0]) == 1

    memo._MEMOS.pop("kmeans_index", None)

    def poisoned_write(*a, **k):
        raise AssertionError("warm start must not rebuild/rewrite")

    monkeypatch.setattr(snapshots, "write_snapshot", poisoned_write)
    r2 = sorted(tuple(r) for r in sim_pq_adc_topk(spark, sf_dir).collect())
    assert r2 == r1
    memo._MEMOS.pop("kmeans_index", None)  # no env-keyed entry leaks


def test_memo_extra_key_separates_configs(spark, sf_dir, tmp_path):
    work = _copy_docs(sf_dir, tmp_path)
    docs = load_table(spark, work, "documents")
    a = session_memo("test_cfg", spark, work, docs,
                     lambda: ("k4",), extra=(4,))
    b = session_memo("test_cfg", spark, work, docs,
                     lambda: ("k8",), extra=(8,))
    b2 = session_memo("test_cfg", spark, work, docs,
                      lambda: ("rebuilt",), extra=(8,))
    assert a == ("k4",) and b == ("k8",), "extra must separate keys"
    assert b2 is b, "the same extra must hit"
    a2 = session_memo("test_cfg", spark, work, docs,
                      lambda: ("k4 again",), extra=(4,))
    assert a2 == ("k4 again",), "one live entry per tag: k8 evicted k4"


def test_lsh_pair_graph_snapshot_serves_bit_identical(spark, sf_dir,
                                                      tmp_path,
                                                      monkeypatch):
    """The dedup pair graph — THE structure a 100 TB deployment
    persists — round-trips through durable_memo: build+persist, kill
    the in-memory memo, reload from the snapshot; the served pairs
    (and a thresholded consumer view) must be bit-identical, with no
    new snapshot version written on the warm start."""
    from iq_to_hdl_migration_spark.queries.dedup_queries import (
        minhash_pairs)
    from iq_to_hdl_migration_spark.sources import memo, snapshots

    monkeypatch.setenv("SPARK_GRAFT_MEMO_DIR", str(tmp_path))
    memo._MEMOS.pop("lsh_pair_graph", None)
    r1 = sorted(tuple(r) for r in minhash_pairs(spark, sf_dir).collect())
    hi1 = sorted(tuple(r) for r in
                 minhash_pairs(spark, sf_dir, threshold=0.7).collect())
    (pairs_dir,) = _part_dirs(tmp_path, "lsh_pair_graph", "pairs")
    assert snapshots.current_version(pairs_dir) == 1

    memo._MEMOS.pop("lsh_pair_graph", None)

    def poisoned_write(*a, **k):
        raise AssertionError("warm start must not rebuild/rewrite")

    monkeypatch.setattr(snapshots, "write_snapshot", poisoned_write)
    r2 = sorted(tuple(r) for r in minhash_pairs(spark, sf_dir).collect())
    hi2 = sorted(tuple(r) for r in
                 minhash_pairs(spark, sf_dir, threshold=0.7).collect())
    assert r2 == r1 and hi2 == hi1
    memo._MEMOS.pop("lsh_pair_graph", None)  # no env-keyed entry leaks


import pytest as _pytest

# every durable structure, with a serving query that consumes it —
# one uniform lock: build+persist, kill the in-process memo, poison
# the write path, re-serve bit-identically from the snapshot alone
_DURABLE_SERVING = [
    ("copurchase_edges", "graph_triangle_counts"),
    ("winnowing_index", "text_winnowing_similarity"),
    ("kmeans_index", "sim_ivf_fixedpoint_topk"),
    ("kmeans_index", "sim_pq_adc_topk"),
    ("fixedpoint_table", "sim_ivf_fixedpoint_topk"),
    ("dedup_components", "dedup_minhash_clusters"),
    ("quantized_corpus", "sim_quantized_topk"),
    ("lpa_labels", "graph_community_modularity"),
    ("lsh_incremental_index", "dedup_incremental_pairs"),
]


@_pytest.mark.parametrize("tag,query", _DURABLE_SERVING)
def test_durable_structures_warm_start(spark, sf_dir, tmp_path,
                                       monkeypatch, tag, query):
    from iq_to_hdl_migration_spark.queries import load_all
    from iq_to_hdl_migration_spark.sources import memo, snapshots

    fn = load_all()[query].fn
    monkeypatch.setenv("SPARK_GRAFT_MEMO_DIR", str(tmp_path))
    memo._MEMOS.pop(tag, None)
    r1 = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    assert os.path.isdir(f"{tmp_path}/{tag}"), f"{tag}: no snapshot written"

    memo._MEMOS.pop(tag, None)

    def poisoned_write(*a, **k):
        raise AssertionError(f"{tag}: warm start must not rebuild")

    monkeypatch.setattr(snapshots, "write_snapshot", poisoned_write)
    r2 = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    assert r2 == r1, f"{tag}: snapshot-served result diverged"
    memo._MEMOS.pop(tag, None)  # no env-keyed entry leaks to other tests


def test_durable_memo_gc_superseded_corpus_digests(spark, sf_dir,
                                                   tmp_path):
    """Cross-digest GC (r10 review, r10 advice): regenerating the
    corpus changes the fingerprint and thus the on-disk digest dir —
    the superseded corpus's snapshots must be GC'd, but DEFERRED one
    commit generation (first supersession only marks; the next commit
    deletes the still-marked dir) so a reader that resolved the old
    corpus's meta just before the flip still completes. A COEXISTING
    config (different extra key) of the same tag always survives."""
    import glob
    import os

    from iq_to_hdl_migration_spark.sources import memo

    work = _copy_docs(sf_dir, tmp_path / "corpus")
    snap = str(tmp_path / "memostore")

    def build_for(docs):
        return lambda: {"top": docs.select("doc_id").orderBy("doc_id")
                        .limit(5).localCheckpoint()}

    def regenerate():
        # bump the corpus mtime in place (new fingerprint, same path)
        f = os.path.join(work, "documents.parquet")
        st = os.stat(f)
        os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
        memo._MEMOS.clear()
        return load_table(spark, work, "documents")

    docs = load_table(spark, work, "documents")
    memo.durable_memo("t_xgc", spark, work, docs, build_for(docs),
                      table_dir=snap)
    memo.durable_memo("t_xgc", spark, work, docs, build_for(docs),
                      extra=("cfg2",), table_dir=snap)
    assert len(glob.glob(f"{snap}/t_xgc/*/")) == 2
    gen1 = {d for d in glob.glob(f"{snap}/t_xgc/*/")}

    docs2 = regenerate()
    memo.durable_memo("t_xgc", spark, work, docs2, build_for(docs2),
                      table_dir=snap)
    dirs = set(glob.glob(f"{snap}/t_xgc/*/"))
    # generation 1 of cfg-default is SUPERSEDED but still on disk
    # (marked, readable by an in-flight reader); new digest is live
    assert len(dirs) == 3, dirs
    marked = [d for d in dirs if os.path.exists(
        os.path.join(d, memo._SUPERSEDED_MARK))]
    assert len(marked) == 1 and marked[0] in gen1

    # a SECOND regeneration's commit deletes the still-marked gen-1
    # dir and marks gen 2 — disk stays bounded at <=1 superseded
    # generation per config
    docs3 = regenerate()
    memo.durable_memo("t_xgc", spark, work, docs3, build_for(docs3),
                      table_dir=snap)
    dirs = set(glob.glob(f"{snap}/t_xgc/*/"))
    assert len(dirs) == 3, dirs
    assert marked[0] not in dirs  # gen 1 gone
    docs2 = docs3
    memo._MEMOS.clear()
    # the surviving cfg2 dir still warm-starts for the OLD corpus...
    # but the corpus changed, so cfg2 must MISS (fail-closed) and
    # rebuild rather than serve the stale snapshot
    builds = []
    out = memo.durable_memo(
        "t_xgc", spark, work, docs2,
        lambda: builds.append(1) or {"top": docs2.select("doc_id")
                                     .limit(5).localCheckpoint()},
        extra=("cfg2",), table_dir=snap)
    assert builds == [1]
    memo._MEMOS.clear()


def test_persist_structure_removes_stale_part_dirs(spark, sf_dir,
                                                   tmp_path):
    """Part-name-set change under an unchanged build key (r10 advice):
    a re-persist whose builder returns different part names must
    remove the no-longer-referenced part dirs under the same digest —
    meta stops referencing them, so leaving them is a pure disk leak."""
    import json

    from iq_to_hdl_migration_spark.sources import memo

    docs = load_table(spark, sf_dir, "documents")
    top = docs.select("doc_id").orderBy("doc_id").limit(3).localCheckpoint()
    snap = str(tmp_path / "memostore")
    fkey = json.dumps({"fingerprint": "fp1", "sf_dir": sf_dir,
                       "extra": []}, sort_keys=True)
    memo._persist_structure({"a": top, "b": top}, snap, "t_parts", fkey)
    sdir = memo._structure_dir(snap, "t_parts", fkey)
    assert (sdir / "a").is_dir() and (sdir / "b").is_dir()

    memo._persist_structure({"a": top, "c": top}, snap, "t_parts", fkey)
    assert (sdir / "a").is_dir() and (sdir / "c").is_dir()
    assert not (sdir / "b").exists(), "stale part dir must be vacuumed"
    meta = json.loads(memo._meta_path(sdir).read_text())
    assert set(meta["versions"]) == {"a", "c"}
    # the persisted structure still loads cleanly after the vacuum
    out = memo._load_structure(spark, snap, "t_parts", fkey)
    assert out is not None and set(out) == {"a", "c"}
    assert out["a"].count() == 3
    memo._MEMOS.clear()


def test_superseded_mark_cleared_on_warm_start(spark, sf_dir, tmp_path):
    """Corpus flip-flop (r11 review): digest dA superseded by B gets
    marked; the corpus then flips BACK to A and dA is served from the
    warm-start path — that serve must clear the mark, or the next
    superseding commit deletes dA in ONE generation and a reader that
    just resolved dA's meta loses its files mid-scan."""
    import glob
    import os

    from iq_to_hdl_migration_spark.sources import memo

    work = _copy_docs(sf_dir, tmp_path / "corpus")
    snap = str(tmp_path / "memostore")
    f = os.path.join(work, "documents.parquet")
    orig_ns = os.stat(f).st_mtime_ns

    def build_for(docs):
        return lambda: {"top": docs.select("doc_id").orderBy("doc_id")
                        .limit(3).localCheckpoint()}

    def set_mtime(ns):
        st = os.stat(f)
        os.utime(f, ns=(st.st_atime_ns, ns))
        memo._MEMOS.clear()
        return load_table(spark, work, "documents")

    docs_a = load_table(spark, work, "documents")
    memo.durable_memo("t_flip", spark, work, docs_a, build_for(docs_a),
                      table_dir=snap)
    (d_a,) = glob.glob(f"{snap}/t_flip/*/")

    docs_b = set_mtime(orig_ns + 1_000_000)  # corpus B supersedes A
    memo.durable_memo("t_flip", spark, work, docs_b, build_for(docs_b),
                      table_dir=snap)
    assert os.path.exists(os.path.join(d_a, memo._SUPERSEDED_MARK))

    docs_a2 = set_mtime(orig_ns)             # flip BACK to corpus A
    builds = []
    memo.durable_memo(
        "t_flip", spark, work, docs_a2,
        lambda: builds.append(1) or build_for(docs_a2)(),
        table_dir=snap)
    assert builds == [], "flip-back must warm-start from dA"
    assert not os.path.exists(os.path.join(d_a, memo._SUPERSEDED_MARK)), \
        "serving dA must clear its stale supersession mark"

    docs_c = set_mtime(orig_ns + 2_000_000)  # corpus C supersedes A
    memo.durable_memo("t_flip", spark, work, docs_c, build_for(docs_c),
                      table_dir=snap)
    # dA survives the FIRST superseding commit again (marked, intact)
    assert os.path.isdir(d_a)
    assert os.path.exists(os.path.join(d_a, memo._SUPERSEDED_MARK))
    memo._MEMOS.clear()


def test_memo_builds_once_under_concurrent_callers(spark, sf_dir):
    """Round 15: the ingest warm-up overlaps memo families on driver
    threads, so racing callers of the SAME tag must serialize on the
    per-tag build lock — build() runs exactly once and every caller
    gets the same object (a double build would double that memo's
    ingest cost and leak the loser's checkpoint blocks)."""
    import threading

    from iq_to_hdl_migration_spark.sources.memo import durable_memo

    docs = load_table(spark, sf_dir, "documents")
    calls = []
    gate = threading.Barrier(4)

    def build():
        calls.append(1)
        return {"t": docs.limit(1).localCheckpoint()}

    results = [None] * 4

    def run(i):
        gate.wait()
        results[i] = durable_memo(
            "test_concurrent_once", spark, sf_dir, docs, build)

    threads = [threading.Thread(target=run, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(calls) == 1, f"build ran {len(calls)} times"
    assert all(r is results[0] for r in results)


def test_staged_history_restages_on_source_rewrite(spark, sf_dir,
                                                   tmp_path, monkeypatch):
    """The snapshot stage is a session memo keyed on the orders
    fingerprint: a second call is a hit (no commit), and bumping the
    orders file's mtime mid-session restages a fresh v1..v3 history."""
    import shutil

    from iq_to_hdl_migration_spark.queries import snapshot_queries
    from iq_to_hdl_migration_spark.sources import snapshots

    work = tmp_path / "corpus"
    work.mkdir()
    shutil.copy(os.path.join(sf_dir, "orders.parquet"), work)
    commits = []
    real_write = snapshots.write_snapshot
    monkeypatch.setattr(snapshots, "write_snapshot",
                        lambda *a, **k: commits.append(1)
                        or real_write(*a, **k))

    d1 = snapshot_queries._staged_history(spark, str(work))
    assert snapshots.current_version(d1) == 3 and len(commits) == 3
    assert snapshot_queries._staged_history(spark, str(work)) == d1
    assert len(commits) == 3, "same source must hit the memo"

    f = work / "orders.parquet"
    st = f.stat()
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    d2 = snapshot_queries._staged_history(spark, str(work))
    try:
        assert d2 != d1, "rewritten source served the stale stage"
        assert snapshots.current_version(d2) == 3 and len(commits) == 6
    finally:
        shutil.rmtree(d1, ignore_errors=True)
        shutil.rmtree(d2, ignore_errors=True)


def test_load_table_racers_share_one_relation(spark, sf_dir, tmp_path,
                                              monkeypatch):
    """Threads that resolve the same table at once (the concurrent
    `warm_all_memos` families) must all get the ONE stored relation,
    so memo keys that fingerprint it agree."""
    import shutil
    import threading

    monkeypatch.delenv("SPARK_GRAFT_WAREHOUSE", raising=False)
    shutil.copy(os.path.join(sf_dir, "documents.parquet"), tmp_path)
    n = 6
    barrier = threading.Barrier(n)
    got = [None] * n

    def resolve(i):
        barrier.wait()
        got[i] = load_table(spark, str(tmp_path), "documents")

    threads = [threading.Thread(target=resolve, args=(i,))
               for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert all(df is got[0] for df in got), "racers got distinct relations"
    assert load_table(spark, str(tmp_path), "documents") is got[0]


def test_no_module_level_memo_dict_outside_the_seam():
    """sources/memo.py is the one memo seam: no other module binds a
    module-level `*_MEMO` name or an empty mutable container (`{}`,
    `[]`, `set()`, `dict()`, `list()`, `WeakSet()`) — the shape every
    ad-hoc process-wide cache starts as. The exceptions are the
    relation memo in sources/tables.py, which sits BELOW the seam
    (memo keys fingerprint the relations it returns), and four
    registries that hold no derived data: the memo seam's per-tag
    locks, the streaming twins' work dirs, the query registry and the
    catalog fixture's registered sessions."""
    import ast
    import pathlib
    import re

    import iq_to_hdl_migration_spark

    def empty_container(v) -> bool:
        if isinstance(v, ast.Dict):
            return not v.keys
        if isinstance(v, (ast.List, ast.Set)):
            return not v.elts
        if isinstance(v, ast.Call) and not v.args and not v.keywords:
            f = v.func
            name = (f.id if isinstance(f, ast.Name)
                    else f.attr if isinstance(f, ast.Attribute) else "")
            return name in {"dict", "list", "set", "WeakSet"}
        return False

    pkg = pathlib.Path(iq_to_hdl_migration_spark.__file__).parent
    allowed = {("sources/memo.py", "_MEMOS"),
               ("sources/memo.py", "_TAG_LOCKS"),
               ("sources/tables.py", "_RELATION_MEMO"),
               ("streaming/windows.py", "_STREAM_WORK_DIRS"),
               ("queries/__init__.py", "REGISTRY"),
               ("catalog/fixture.py", "_REGISTERED")}
    found = set()
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        for node in ast.parse(path.read_text()).body:
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target]
                       if isinstance(node, ast.AnnAssign) else [])
            value = getattr(node, "value", None)
            for t in targets:
                if isinstance(t, ast.Name) and (
                        re.search(r"_MEMOS?$", t.id)
                        or empty_container(value)):
                    found.add((rel, t.id))
    assert found == allowed, found ^ allowed
