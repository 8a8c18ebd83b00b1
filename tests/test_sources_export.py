"""S2-S6 export sinks, S11 listing reconcile, S13 rule tables."""

from __future__ import annotations

import gzip

from iq_to_hdl_migration_spark.pipeline.migrate import listing_reconcile
from iq_to_hdl_migration_spark.sources.export import (
    export_chunked_parquet, export_gzip_csv)
from iq_to_hdl_migration_spark.sources.rule_tables import (
    load_login_policy_defaults, load_option_names)
from iq_to_hdl_migration_spark.sources.tables import load_table


def test_chunked_parquet_caps_file_size(spark, sf_dir, tmp_path):
    li = load_table(spark, sf_dir, "lineitem")
    out = tmp_path / "chunks"
    export_chunked_parquet(li, str(out), max_records_per_file=1000,
                           num_partitions=2)
    files = list(out.glob("*.parquet"))
    assert len(files) >= li.count() // 1000  # chunk cap respected
    assert spark.read.parquet(str(out)).count() == li.count()


def test_gzip_csv_roundtrip_with_null_marker(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, None)], ["id", "v"])
    out = tmp_path / "gz"
    export_gzip_csv(df, str(out))
    gz_files = list(out.glob("*.csv.gz"))
    assert gz_files, "expected gzip members"
    text = "".join(gzip.decompress(f.read_bytes()).decode()
                   for f in gz_files)
    assert "NULL" in text  # NULL('NULL') convention (migration.py:2335)
    back = (spark.read.option("header", "true").option("nullValue", "NULL")
            .csv(str(out)))
    assert back.count() == 2
    assert back.where("v IS NULL").count() == 1


def test_lob_binary_roundtrip_inline(spark, tmp_path):
    """S5/S6 collapse: binary (BLOB) column round-trips inline."""
    rows = [(1, bytearray(b"\x00\x01\xffbinary-lob")), (2, None)]
    df = spark.createDataFrame(rows, "id int, blob binary")
    out = tmp_path / "lob"
    export_chunked_parquet(df, str(out))
    back = spark.read.parquet(str(out)).orderBy("id").collect()
    assert bytes(back[0].blob) == b"\x00\x01\xffbinary-lob"
    assert back[1].blob is None


def test_listing_reconcile_detects_drift(spark, tmp_path):
    src, tgt = tmp_path / "src", tmp_path / "tgt"
    for d in (src, tgt):
        d.mkdir()
    (src / "a.bin").write_bytes(b"x" * 100)
    (src / "b.bin").write_bytes(b"y" * 50)
    (tgt / "a.bin").write_bytes(b"x" * 100)
    (tgt / "b.bin").write_bytes(b"y" * 49)   # short copy
    (tgt / "c.bin").write_bytes(b"z")        # stray file
    by_path = {r.path: r.status
               for r in listing_reconcile(spark, str(src), str(tgt))
               .collect()}
    assert by_path == {"a.bin": "ok", "b.bin": "size_mismatch",
                       "c.bin": "extra_target"}


def test_rule_tables_load(spark):
    names = load_option_names()
    # full vendor dbopts list (109 names, packaged verbatim)
    assert "checkpoint_time" in names and len(names) == 109
    assert all("#" not in n for n in names)
    hos = load_option_names("hosparams_noncustomer.csv")
    assert "Append_Load" in hos and len(hos) == 664
    defaults = load_login_policy_defaults()
    assert defaults["locked"] == "OFF"


def test_charset_resolution_remaps_reference_spelling():
    from iq_to_hdl_migration_spark.sources.export import resolve_charset
    assert (resolve_charset("Extended_UNIX_Code_Packed_Format_for_Japanese")
            == "EUC-JP")
    assert resolve_charset(None) == "UTF-8"
    assert resolve_charset("ISO-8859-1") == "ISO-8859-1"


def test_latin1_csv_roundtrip(spark, tmp_path):
    """A non-UTF8 source charset survives write -> raw bytes -> read
    (Common/common.py:342-347 charset plumbing, V10's checked property)."""
    from iq_to_hdl_migration_spark.sources.export import read_csv

    rows = [(1, "café"), (2, "Über"), (3, None)]
    df = spark.createDataFrame(rows, "id int, name string")
    out = tmp_path / "latin1"
    export_gzip_csv(df, str(out), charset="ISO-8859-1")

    raw = b"".join(gzip.decompress(f.read_bytes())
                   for f in sorted(out.glob("*.csv.gz")))
    assert "café".encode("latin-1") in raw      # true latin-1 bytes,
    assert "café".encode("utf-8") not in raw    # not utf-8

    back = read_csv(spark, str(out), schema="id int, name string",
                    charset="ISO-8859-1")
    got = {r.id: r.name for r in back.collect()}
    assert got == {1: "café", 2: "Über", 3: None}


def test_latin1_foreign_file_ingest(spark, tmp_path):
    """A latin-1 CSV produced outside Spark decodes correctly at
    ingest — the first thing a non-UTF8 migration touches."""
    from iq_to_hdl_migration_spark.sources.export import read_csv

    p = tmp_path / "legacy"
    p.mkdir()
    (p / "data.csv").write_bytes(
        "id,name\n1,sésame\n2,NULL\n".encode("latin-1"))
    back = read_csv(spark, str(p), schema="id int, name string",
                    charset="ISO-8859-1")
    got = {r.id: r.name for r in back.collect()}
    assert got == {1: "sésame", 2: None}
