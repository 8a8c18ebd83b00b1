"""Semantic tests for the near-dup operators with planted duplicates —
this is the correctness lock for the rows-only LSH/SimHash queries."""

from __future__ import annotations

import pytest

from iq_to_hdl_migration_spark.operators import dedup

BASE = ("the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm window sill in the afternoon sun")
NEAR = BASE.replace("afternoon", "evening")          # 1-word edit
FAR = ("completely different content about spark query engines and "
       "distributed shuffle partitioning strategies at scale today")


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(1, BASE), (2, NEAR), (3, FAR),
            (4, "tiny doc"), (5, BASE)]  # 5 = exact copy of 1
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_lsh_finds_planted_near_dups(docs):
    pairs = {(r.id_a, r.id_b): r.est_jaccard
             for r in dedup.lsh_candidate_pairs(docs, threshold=0.5).collect()}
    assert (1, 5) in pairs and pairs[(1, 5)] == 1.0   # exact copy
    assert (1, 2) in pairs                             # near dup
    assert (1, 3) not in pairs and (2, 3) not in pairs  # unrelated


def test_simhash_finds_exact_and_near(docs):
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in dedup.simhash_candidate_pairs(docs, max_hamming=3)
             .collect()}
    assert pairs.get((1, 5)) == 0
    assert (1, 3) not in pairs


def test_jaccard_within_groups(spark):
    rows = [("s1", 1, BASE), ("s1", 2, NEAR), ("s1", 3, FAR),
            ("s2", 4, BASE)]  # 4 in another group: never paired with 1
    df = spark.createDataFrame(rows, ["source", "doc_id", "text"])
    out = dedup.jaccard_pairs_within_groups(
        df, ["source"], min_jaccard=0.5).collect()
    keys = {(r.id_a, r.id_b) for r in out}
    assert (1, 2) in keys
    assert all(not (a == 1 and b == 4) for a, b in keys)
    row12 = next(r for r in out if (r.id_a, r.id_b) == (1, 2))
    assert 0.8 < row12.jaccard < 1.0


def test_minhash_signature_deterministic(docs, spark):
    a = dedup.with_minhash(docs).orderBy("doc_id").collect()
    b = dedup.with_minhash(docs).orderBy("doc_id").collect()
    assert [r.minhash for r in a] == [r.minhash for r in b]
    assert all(len(r.minhash) == dedup.N_HASHES for r in a)


def test_ppjoin_matches_bruteforce_on_random_corpora(spark):
    """Losslessness of the full PPJoin candidate pipeline (rarest-first
    prefix cut + hapax drop + length filter + positional filter)
    against a brute-force all-pairs reference on seeded random corpora
    — including duplicate floods, empty docs, and sub-threshold noise
    that the fixed oracle corpus doesn't exercise."""
    import random
    import re

    for seed in (1, 7, 23):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(30)]
        rows = []
        for i in range(36):
            n = rng.randint(0, 10)
            toks = rng.choices(vocab, k=n)  # duplicates exercised
            rows.append((i, " ".join(toks), "s"))
        # planted: exact-dup flood + a near-dup + an empty-doc pair
        rows.append((100, rows[0][1], "s"))
        rows.append((101, rows[0][1], "s"))
        rows.append((102, rows[1][1] + " extraword", "s"))
        rows.append((103, "", "s"))
        rows.append((104, "", "s"))
        df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
        got = {(r.id_a, r.id_b): (r.n_inter, r.n_union)
               for r in dedup.jaccard_pairs_within_groups(
                   df, ["source"], min_jaccard=0.5).collect()}
        # brute force with the exact same tokenizer semantics
        # (split('\s+') on trimmed-lower text; empty text -> {''})
        sets = {i: set(re.split(r"\s+", t.lower().strip()))
                for i, t, _ in rows}
        want = {}
        ids = sorted(sets)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = ids[x], ids[y]
                inter = len(sets[a] & sets[b])
                union = len(sets[a] | sets[b])
                if union and inter / union >= 0.5:
                    want[(a, b)] = (inter, union)
        assert got == want, f"seed={seed}"


def test_incremental_lsh_equals_full_recompute(spark, sf_dir):
    """build_lsh_index(batch1) + lsh_batch_deltas(batch2) pairs must
    reproduce exactly the pairs of a full-corpus recompute (old-old
    pairs from batch1's own run, everything touching batch2 from the
    incremental pass), with identical est_jaccard values — valid
    whenever no bucket exceeds the cap and ids are monotone in arrival
    order (both asserted/true here). The corpus-wide index restricted
    to the cut is row for row the batch1 index: the stored index
    serves both the pair graph and the incremental query."""
    import pyspark.sql.functions as F

    from iq_to_hdl_migration_spark.operators.dedup import (
        BUCKET_CAP, build_lsh_index, lsh_batch_deltas)
    from iq_to_hdl_migration_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    cut = docs.agg(F.expr("percentile_approx(doc_id, 0.6)")).first()[0]
    batch1 = docs.where(F.col("doc_id") <= cut)
    batch2 = docs.where(F.col("doc_id") > cut)

    # precondition: no truncation in the full run at this scale
    census = dedup.minhash_bucket_census(docs).collect()
    assert all(r.n_overflow_buckets == 0 for r in census)

    full = {(r.id_a, r.id_b): r.est_jaccard
            for r in dedup.lsh_candidate_pairs(docs).collect()}
    old = {(r.id_a, r.id_b): r.est_jaccard
           for r in dedup.lsh_candidate_pairs(batch1).collect()}
    bands, digests, _links = build_lsh_index(batch1)
    all_bands, all_digests, _all_links = build_lsh_index(docs)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    assert rows(all_bands.where(F.col("id") <= cut)) == rows(bands)
    assert (rows(all_digests.where(F.col("keep_id") <= cut))
            == rows(digests))
    inc = {(r.id_a, r.id_b): r.est_jaccard
           for r in lsh_batch_deltas(
               batch2, bands, digests, bucket_cap=BUCKET_CAP)[0].collect()}
    # incremental pairs all touch batch2
    assert all(b > cut for _, b in inc)
    combined = dict(old)
    combined.update(inc)
    assert combined == full


def test_lsh_index_persistence_and_staleness_guard(spark, sf_dir, tmp_path,
                                                   monkeypatch):
    """The incremental LSH index is a `durable_memo` structure: it
    builds and persists under $SPARK_GRAFT_MEMO_DIR; a new session
    (in-process memo cleared, snapshot writes poisoned) reloads it and
    serves the same incremental pairs; a regenerated source and a
    changed `_INDEX_PARAMS` each rebuild instead of serving the stale
    index."""
    import glob
    import os
    import shutil

    from iq_to_hdl_migration_spark.queries.dedup_queries import (
        dedup_incremental_pairs)
    from iq_to_hdl_migration_spark.sources import memo, snapshots

    work = tmp_path / "corpus"
    work.mkdir()
    shutil.copy(os.path.join(sf_dir, "documents.parquet"), work)
    memo_dir = tmp_path / "memo"
    monkeypatch.setenv("SPARK_GRAFT_MEMO_DIR", str(memo_dir))
    memo._MEMOS.pop("lsh_incremental_index", None)
    builds = []
    real_build = dedup.build_lsh_index
    monkeypatch.setattr(
        dedup, "build_lsh_index",
        lambda *a, **k: builds.append(1) or real_build(*a, **k))

    def pairs():
        return sorted(tuple(r) for r in
                      dedup_incremental_pairs(spark, str(work)).collect())

    want = pairs()
    assert builds == [1]
    for part in ("bands", "digests", "cut"):
        (part_dir,) = glob.glob(f"{memo_dir}/lsh_incremental_index/*/{part}")
        assert snapshots.current_version(part_dir) == 1

    memo._MEMOS.pop("lsh_incremental_index", None)
    real_write = snapshots.write_snapshot

    def poisoned_write(*a, **k):
        raise AssertionError("reload must not rebuild or rewrite")

    monkeypatch.setattr(snapshots, "write_snapshot", poisoned_write)
    assert pairs() == want
    assert builds == [1]
    monkeypatch.setattr(snapshots, "write_snapshot", real_write)

    # regenerated source: same content, new mtime -> rebuild
    f = work / "documents.parquet"
    st = f.stat()
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    assert pairs() == want
    assert builds == [1, 1]

    # changed banding/format params -> rebuild, even for this corpus
    monkeypatch.setattr(dedup, "_INDEX_PARAMS",
                        dedup._INDEX_PARAMS + ["changed"])
    assert pairs() == want
    assert builds == [1, 1, 1]
    memo._MEMOS.pop("lsh_incremental_index", None)


def test_dedup_ingest_signs_the_corpus_once(spark, sf_dir, monkeypatch):
    """From a cold memo, the dedup ingest computes minhash signatures
    in ONE pass: the pair graph and the incremental index read the
    same stored LSH index instead of each signing the corpus."""
    from iq_to_hdl_migration_spark.queries.dedup_queries import (
        warm_dedup_memos)
    from iq_to_hdl_migration_spark.sources import memo

    monkeypatch.delenv("SPARK_GRAFT_MEMO_DIR", raising=False)
    tags = ("lsh_incremental_index", "lsh_pair_graph", "dedup_components")
    for tag in tags:
        memo._MEMOS.pop(tag, None)
    signs = []
    real_sign = dedup.with_minhash
    monkeypatch.setattr(
        dedup, "with_minhash",
        lambda *a, **k: signs.append(1) or real_sign(*a, **k))
    warm_dedup_memos(spark, sf_dir)
    assert signs == [1]


def test_containment_matches_bruteforce_on_random_corpora(spark):
    """Losslessness of the asymmetric-prefix containment candidates
    (small-side prefix x big-side full postings, hapax pruned) against
    brute force on seeded random corpora, including planted exact
    subsets and empty docs."""
    import random
    import re

    for seed in (3, 11):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(25)]
        rows = []
        for i in range(30):
            n = rng.randint(0, 12)
            rows.append((i, " ".join(rng.choices(vocab, k=n)), "s"))
        # planted: strict subset (tokens of doc 0 plus extras), exact
        # copy, and empty docs
        rows.append((100, rows[0][1] + " extra1 extra2 extra3", "s"))
        rows.append((101, rows[0][1], "s"))
        rows.append((102, "", "s"))
        rows.append((103, "", "s"))
        df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
        got = {(r.id_small, r.id_big): r.n_inter
               for r in dedup.containment_pairs_within_groups(
                   df, ["source"], min_containment=0.9).collect()}
        sets = {i: set(re.split(r"\s+", t.lower().strip()))
                for i, t, _ in rows}
        want = {}
        ids = sorted(sets)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = ids[x], ids[y]
                inter = len(sets[a] & sets[b])
                small, big = ((a, b) if len(sets[a]) < len(sets[b])
                              else (b, a) if len(sets[b]) < len(sets[a])
                              else (min(a, b), max(a, b)))
                denom = min(len(sets[a]), len(sets[b]))
                if denom and inter / denom >= 0.9:
                    want[(small, big)] = inter
        assert got == want, f"seed={seed}"
