"""Versioned snapshot tables: manifest-based time travel, CDC diffs
and vacuum — the lakehouse table layer a 100 TB migration target needs
(the reference's checkpoint/resume ledger, SURVEY §2 S14, tracks
*progress*; this tracks *table states*, so an earlier version stays
readable after a bad load).

Layout under a table directory:

    data/v{N}/part-*.parquet   -- files written BY commit N (append
                                  commits write only their delta)
    _manifests/v{N}.json       -- {"version", "parent", "op",
                                  "files": [relative paths], "n_rows"}

A manifest lists every file visible at that version, so a read is
"load manifest, scan exactly those files" — O(1) metadata, no
directory listing of the whole table, and old versions stay readable
until vacuumed.  Appends never rewrite existing data; an overwrite
starts a fresh file list.  Vacuum deletes data files no manifest in
the retained window references.

Single-writer by design (like the reference's migrate pipeline);
manifest IO is driver-local and fail-closed on non-local URIs with a
clear error (the data files themselves go through Spark writers, which
are scheme-agnostic).  Deliberate parallels: Iceberg/Delta snapshot
isolation, reduced to the minimum a migration pipeline needs.
"""

from __future__ import annotations

import json
import pathlib
import shutil

from pyspark.sql import DataFrame, SparkSession

from iq_to_hdl_migration_spark.session import local_frame

__all__ = ["write_snapshot", "read_snapshot", "versions", "vacuum",
           "current_version", "diff_snapshots"]


def _local_dir(table_dir: str) -> pathlib.Path:
    if "://" in table_dir and not table_dir.startswith("file://"):
        raise ValueError(
            f"snapshot manifests are driver-local; got non-local URI "
            f"{table_dir!r} — mount it or use a file:// path")
    return pathlib.Path(table_dir.removeprefix("file://"))


def _manifest_dir(table_dir: str) -> pathlib.Path:
    return _local_dir(table_dir) / "_manifests"


def _load_manifest(table_dir: str, version: int) -> dict:
    p = _manifest_dir(table_dir) / f"v{version}.json"
    if not p.exists():
        raise ValueError(f"no snapshot v{version} under {table_dir}")
    return json.loads(p.read_text())


def versions(table_dir: str) -> list[dict]:
    """All manifests, oldest first."""
    md = _manifest_dir(table_dir)
    if not md.exists():
        return []
    out = [json.loads(p.read_text()) for p in md.glob("v*.json")]
    return sorted(out, key=lambda m: m["version"])


def current_version(table_dir: str) -> int | None:
    vs = versions(table_dir)
    return vs[-1]["version"] if vs else None


def _write_manifest(table_dir: str, manifest: dict) -> None:
    md = _manifest_dir(table_dir)
    md.mkdir(parents=True, exist_ok=True)
    p = md / f"v{manifest['version']}.json"
    if p.exists():
        raise RuntimeError(f"concurrent write detected: {p} exists")
    tmp = p.with_suffix(".json.tmp")
    tmp.write_text(json.dumps(manifest, indent=1, sort_keys=True))
    tmp.rename(p)  # atomic on POSIX — readers never see a torn manifest


def write_snapshot(df: DataFrame, table_dir: str,
                   mode: str = "append") -> int:
    """Commit `df` as a new version. `mode='append'` adds its files to
    the parent's; `mode='overwrite'` starts the file list fresh.
    Returns the new version number."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    root = _local_dir(table_dir)
    parent = current_version(table_dir)
    new_v = (parent or 0) + 1
    if parent is not None:
        pm = _load_manifest(table_dir, parent)
        if pm["schema"] != df.schema.simpleString():
            raise ValueError(
                "schema mismatch vs parent snapshot: "
                f"{pm['schema']} != {df.schema.simpleString()}")
    data_dir = root / "data" / f"v{new_v}"
    df.write.mode("errorifexists").parquet(str(data_dir))
    new_files = sorted(
        f"data/v{new_v}/{f.name}" for f in data_dir.iterdir()
        if f.name.startswith("part-") and f.name.endswith(".parquet"))
    files = new_files
    if mode == "append" and parent is not None:
        files = sorted(_load_manifest(table_dir, parent)["files"]
                       + new_files)
    spark = df.sparkSession
    # parquet-footer count over exactly the committed file set (no
    # data read), so the manifest carries an audited row count
    n_rows = spark.read.parquet(
        *(str(root / f) for f in files)).count() if files else 0
    _write_manifest(table_dir, {
        "version": new_v, "parent": parent, "op": mode,
        "files": files, "n_rows": n_rows,
        "schema": df.schema.simpleString(),
    })
    return new_v


def read_snapshot(spark: SparkSession, table_dir: str,
                  version: int | None = None) -> DataFrame:
    """Read the table as of `version` (default: latest)."""
    v = current_version(table_dir) if version is None else version
    if v is None:
        raise ValueError(f"no snapshots under {table_dir}")
    m = _load_manifest(table_dir, v)
    root = _local_dir(table_dir)
    if not m["files"]:
        return local_frame(spark, [], m["schema"])
    return spark.read.parquet(*(str(root / f) for f in m["files"]))


def vacuum(table_dir: str, keep_last: int = 2) -> dict:
    """Delete data files referenced by NO manifest in the retained
    window (the latest `keep_last` versions), and drop the expired
    manifests. Time travel before the window is gone afterwards —
    that's the storage/history trade this operation exists to make."""
    vs = versions(table_dir)
    if len(vs) <= keep_last:
        return {"n_files_deleted": 0, "n_bytes_freed": 0,
                "n_manifests_dropped": 0}
    keep, drop = vs[-keep_last:], vs[:-keep_last]
    referenced = {f for m in keep for f in m["files"]}
    root = _local_dir(table_dir)
    n_files = n_bytes = 0
    for m in drop:
        for f in m["files"]:
            if f in referenced:
                continue
            p = root / f
            if p.exists():
                n_bytes += p.stat().st_size
                p.unlink()
                n_files += 1
            referenced.add(f)  # count each file once
        (_manifest_dir(table_dir) / f"v{m['version']}.json").unlink()
    # remove now-empty per-version data dirs
    data_root = root / "data"
    if data_root.exists():
        for d in data_root.iterdir():
            if d.is_dir() and not any(d.iterdir()):
                shutil.rmtree(d)
    return {"n_files_deleted": n_files, "n_bytes_freed": n_bytes,
            "n_manifests_dropped": len(drop)}


def diff_snapshots(spark: SparkSession, table_dir: str,
                   v_old: int, v_new: int) -> DataFrame:
    """Row-level change feed between two versions: the CDC view of a
    snapshot history.  Returns new-version rows absent from the old
    version tagged `insert`, and old-version rows absent from the new
    tagged `delete` (an update surfaces as delete+insert, the
    standard multiset-diff CDC convention).  exceptAll compiles to a
    hash anti-semantics shuffle on the full row — at 100 TB, diff a
    PARTITION's snapshots, not the whole table, exactly like the
    per-table content diff in operators/diff.py (V11)."""
    from pyspark.sql import functions as F

    new_m = _load_manifest(table_dir, v_new)
    old_m = _load_manifest(table_dir, v_old)
    old_files, new_files = set(old_m["files"]), set(new_m["files"])

    def _read(files: list[str], schema: str) -> DataFrame:
        root = _local_dir(table_dir)
        if not files:
            return local_frame(spark, [], schema)
        return spark.read.parquet(*(str(root / f) for f in files))

    # Manifest fast path (round 14, guide §6: manifests make change
    # detection metadata work): snapshot data files are immutable
    # (appends write only their delta dir, overwrites start a fresh
    # list, nothing is ever rewritten in place), so when one version's
    # file set CONTAINS the other's, the versions differ exactly by
    # the extra files and the change feed is a direct read of them —
    # no exceptAll over either side. This is multiset-exact:
    # (old ⊎ delta) ∖ old = delta and old ∖ (old ⊎ delta) = ∅, which
    # is precisely what the general path computes. Covers append
    # chains (inserts only), a diff back to an ancestor (deletes only),
    # and identical file sets (empty feed).
    if old_files <= new_files:
        ins = _read(sorted(new_files - old_files), new_m["schema"])
        return ins.withColumn("_change", F.lit("insert"))
    if new_files <= old_files:
        dels = _read(sorted(old_files - new_files), old_m["schema"])
        return dels.withColumn("_change", F.lit("delete"))

    new_df = read_snapshot(spark, table_dir, v_new)
    old_df = read_snapshot(spark, table_dir, v_old)
    ins = new_df.exceptAll(old_df).withColumn("_change", F.lit("insert"))
    dels = old_df.exceptAll(new_df).withColumn("_change", F.lit("delete"))
    return ins.unionByName(dels)
