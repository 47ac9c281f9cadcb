"""CLI surface: list/oracle paths (no Spark session needed)."""

from __future__ import annotations

from python_kinesis_streaming_spark.__main__ import main


def test_cli_list_filters(capsys):
    assert main(["list", "--filter", "dedup_exact"]) == 0
    out = capsys.readouterr().out
    assert "dedup_exact\tsql-oracled\tllm.dedup" in out


def test_cli_list_names_each_ops_module(capsys):
    assert main(["list", "--filter", "sim_"]) == 0
    rows = [line.split("\t") for line in capsys.readouterr().out.splitlines()]
    assert len(rows) == 25
    assert {module for _name, _mark, module in rows} == {"llm.similarity"}


def test_cli_oracle_prints_sql(capsys):
    assert main(["oracle", "agg_groupby_q1"]) == 0
    out = capsys.readouterr().out
    assert "SELECT" in out and "lineitem" in out


def test_cli_unknown_op_is_an_error(capsys):
    assert main(["oracle", "nope_not_an_op"]) == 2


def test_cli_audit_emits_plan_summary(monkeypatch, spark, sf_dir, capsys):
    """`audit <op>` prints one JSON object with the hygiene keys; knn's
    zero-shuffle TakeOrdered plan is the canonical fixture."""
    import json

    monkeypatch.setenv("SPARK_GRAFT_MASTER", "local[4]")
    assert main(["audit", "sim_knn_cosine", "--sf-dir", sf_dir]) == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["shuffles"] == 0
    assert payload["take_ordered"] is True
    assert payload["global_window_unbounded"] == []
