"""``tools/check_correctness.py`` refuses a typo instead of a false green.

A missing sf dir used to fall through as a query-name filter that matched
nothing, so the gate ran zero queries and printed ALL OK. Both cases run
as subprocesses: the refusal must come before any Spark session starts.
"""

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("argv", [
    ["/nonexistent/sf0.1"],             # typo'd sf dir
    ["no_such_query"],                  # typo'd query name
    [REPO, "no_such_query"],            # real dir, typo'd query name
])
def test_check_correctness_rejects_unknown_argument(argv):
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "check_correctness.py"),
         *argv],
        capture_output=True, text=True, timeout=120)
    # exit 2 is the usage refusal; a run that reached Spark would print a
    # per-query line and exit 0 or 1
    assert out.returncode == 2, out.stdout + out.stderr
    assert "not a directory or a registered query" in out.stderr
    assert "ALL OK" not in out.stdout and "FAIL" not in out.stdout


@pytest.mark.parametrize("oracle, code", [
    # nullable Spark int vs a DuckDB DOUBLE: pandas makes both float64 with
    # a NaN, but the declared kinds differ, so the driver's hash would too
    ("SELECT * FROM (VALUES (12.0::DOUBLE), (NULL)) t(x)", 1),
    # control: the same column against a nullable DuckDB BIGINT passes
    ("SELECT * FROM (VALUES (12::BIGINT), (NULL)) t(x)", 0),
])
def test_kind_check_uses_declared_types(spark, monkeypatch, capsys,
                                        oracle, code):
    import importlib.util
    import types

    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(REPO, "tools", "check_correctness.py"))
    cc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cc)
    ent = types.ModuleType("__spark_entry__")
    ent.queries = lambda: {"nullable_int": lambda s, sf: s.createDataFrame(
        [(12,), (None,)], "x int")}
    ent.oracle_sql = lambda: {"nullable_int": oracle}
    monkeypatch.setitem(sys.modules, "__spark_entry__", ent)
    monkeypatch.setattr("canal_spark.session.get_spark",
                        lambda *a, **k: spark)
    monkeypatch.setattr(sys, "argv", ["check_correctness.py", "nullable_int"])
    monkeypatch.delenv("SPARK_GRAFT_CORRECTNESS_SF_DIR", raising=False)
    assert cc.main() == code
    out = capsys.readouterr().out
    if code:
        assert "FAIL nullable_int: column 'x': type kind mismatch" in out
    else:
        assert "ALL OK" in out
