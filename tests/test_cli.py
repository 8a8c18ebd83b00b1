"""CLI surface tests — drive main() the way a user would."""

from __future__ import annotations

from iq_to_hdl_migration_spark.cli import main
from iq_to_hdl_migration_spark.operators.planning import suggest_partitions


def test_suggest_partitions():
    mb = 1024 * 1024
    assert suggest_partitions(10 * mb) == 1
    assert suggest_partitions(129 * mb) == 2
    assert suggest_partitions(0) == 1
    assert suggest_partitions(10**18) == 10_000  # capped


def test_cli_migrate_and_report(spark, sf_dir, tmp_path, capsys):
    rc = main(["--sf-dir", sf_dir, "migrate",
               "--workdir", str(tmp_path), "--tables", "region,nation"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "region: loaded" in out and "nation: loaded" in out

    rc = main(["report", "--workdir", str(tmp_path)])
    out = capsys.readouterr().out
    assert rc == 0 and "loaded" in out

    # resume: second run is a no-op
    rc = main(["--sf-dir", sf_dir, "migrate",
               "--workdir", str(tmp_path), "--tables", "region,nation"])
    out = capsys.readouterr().out
    assert rc == 0 and "loaded" not in out


def test_cli_query_and_unknown(spark, sf_dir, capsys):
    rc = main(["--sf-dir", sf_dir, "query", "q6_revenue_forecast"])
    assert rc == 0
    assert "revenue" in capsys.readouterr().out

    rc = main(["--sf-dir", sf_dir, "query", "nope_not_real"])
    assert rc == 2
    assert "unknown query" in capsys.readouterr().err


def test_cli_assess(spark, sf_dir, capsys):
    rc = main(["--sf-dir", sf_dir, "assess"])
    assert rc == 0
    assert "external_procedures" in capsys.readouterr().out
