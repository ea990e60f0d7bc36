"""CLI surface: list works without a Spark session and names the
registered queries."""

from __future__ import annotations


def test_cli_list(capsys):
    from financial_data_warehouse_automation_spark.cli import main

    assert main(["list", "--tag", "dedup"]) == 0
    out = capsys.readouterr().out
    assert "doc_exact_dedup" in out and "doc_minhash_lsh_pairs" in out


def test_cli_unknown_query(capsys):
    from financial_data_warehouse_automation_spark.cli import main

    assert main(["explain", "no_such_query"]) == 2


def test_cli_profile_unknown_query(capsys):
    from financial_data_warehouse_automation_spark.cli import main

    assert main(["profile", "pricing_summary", "no_such_query"]) == 2
