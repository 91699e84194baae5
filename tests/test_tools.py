"""The measurement tools run end to end in-process, so a tool still
calling a removed or renamed name fails here rather than at its next
manual use."""

import importlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = ["q1_pricing_summary", "sim_pagerank"]


@pytest.fixture
def tool_env(monkeypatch, spark, sf_dir):
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPS", "1")
    return monkeypatch


def test_standalone_bench_main(tool_env, capsys):
    mod = importlib.import_module("tools.standalone_bench")
    tool_env.setattr(sys, "argv", ["standalone_bench.py", *QUERIES])
    mod.main()
    lines = capsys.readouterr().out.splitlines()
    for name in QUERIES:
        assert any(l.startswith(f"{name}: median=") for l in lines), lines


def test_ab_spread_main(tool_env, capsys):
    from odbc2parquet_spark import catalog
    from odbc2parquet_spark.queries import QUERIES as REGISTRY

    mod = importlib.import_module("tools.ab_spread")
    tool_env.setattr(sys, "argv", ["ab_spread.py", "lineitem", *QUERIES])
    mod.main()
    lines = capsys.readouterr().out.splitlines()
    for name in QUERIES:
        assert any(
            l.startswith(f"{name} table=lineitem: A(natural) med=") for l in lines
        ), lines
    # the B arm's monkeypatch is undone on every query module
    for name in QUERIES:
        qmod = importlib.import_module(REGISTRY[name].__module__)
        assert qmod.load_table is catalog.load_table
    # and so is the identity spread_scan both arms run with
    from odbc2parquet_spark.queries import dedup, textops

    assert catalog.spread_scan.__name__ == "spread_scan"
    assert dedup.spread_scan is textops.spread_scan is catalog.spread_scan


def test_check_correctness_rejects_unregistered_names_before_spark(monkeypatch):
    from odbc2parquet_spark import session

    def no_session(*a, **k):
        raise AssertionError("a Spark session was started")

    mod = importlib.import_module("tools.check_correctness")
    monkeypatch.setattr(session, "get_spark", no_session)
    argv = ["check_correctness.py", "/nonexistent", "q1_pricing_summary", "dd_minhas_lsh"]
    monkeypatch.setattr(sys, "argv", argv)
    with pytest.raises(SystemExit, match="not registered: dd_minhas_lsh$"):
        mod.main()
