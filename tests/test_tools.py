"""The Spark-vs-DuckDB harness's tables and the verify docs stay in
step with the suite and the tools tree. Pure Python — no Spark
session needed."""
import os
import re

from detanalysis_spark import suite
from tools import duckdb_compare as dc

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_duckdb_compare_tables_name_oracled_queries():
    assert set(dc.EXCLUDED) <= set(suite.ORACLES)
    assert all(reason.strip() for reason in dc.EXCLUDED.values())
    assert set(dc.PARITY) <= set(suite.ORACLES)
    assert set(dc.FAMILIES) <= set(suite.ORACLES)
    assert set(dc.gated()) == set(suite.ORACLES) - set(dc.EXCLUDED)


def test_verify_docs_name_existing_tools():
    with open(os.path.join(ROOT, "README.md")) as f:
        readme = f.read().split("\n## Verify", 1)[1].split("\n## ", 1)[0]
    with open(os.path.join(ROOT, ".claude/skills/verify/SKILL.md")) as f:
        skill = f.read()
    for doc in (readme, skill):
        paths = set(re.findall(r"tools/\w+\.py", doc))
        assert paths
        assert [p for p in sorted(paths)
                if not os.path.exists(os.path.join(ROOT, p))] == []


def test_gate_stops_at_lost_jvm(monkeypatch, tmp_path, capsys):
    from tools import check_oracles as co
    from py4j.protocol import Py4JNetworkError
    names = sorted(suite.QUERIES)[:5]
    calls = []

    def stub(name, spark, con, sf_dir):
        calls.append(name)
        if len(calls) == 2:
            raise ConnectionRefusedError(111, "Connection refused")
        return True, "ok"

    monkeypatch.setattr(co, "compare", stub)
    assert co.gate(names, None, str(tmp_path)) == 4
    assert calls == names[:2]
    out = capsys.readouterr().out
    assert f"PASS {names[0]}" in out
    assert f"FAIL {names[1]}: JVM lost: ConnectionRefusedError" in out
    assert [ln for ln in out.splitlines() if ln.startswith("NOT RUN")] == [
        f"NOT RUN {n}" for n in names[2:]]
    assert "1/5 pass" in out

    def lost(name, spark, con, sf_dir):
        raise Py4JNetworkError("Answer from Java side is empty")

    monkeypatch.setattr(co, "compare", lost)
    assert co.gate(names, None, str(tmp_path)) == 5
    assert capsys.readouterr().out.count("NOT RUN") == 4
    # any other exception is one query's failure, and the gate goes on
    monkeypatch.setattr(co, "compare", lambda *a: 1 / 0)
    assert co.gate(names, None, str(tmp_path)) == 5
    assert capsys.readouterr().out.count("ZeroDivisionError") == 5


def test_vanilla_session_puts_repo_root_on_worker_path():
    """Python UDFs import the package on workers from any cwd; the
    vanilla session keeps Spark's stock daemon."""
    from tools import check_oracles as co
    conf = co.VANILLA_CONF
    assert conf["spark.executorEnv.PYTHONPATH"].split(os.pathsep) == [ROOT]
    assert os.path.isdir(os.path.join(ROOT, "detanalysis_spark"))
    assert "spark.python.daemon.module" not in conf


def test_every_public_name_resolves():
    """Every name in every ``detanalysis_spark`` module's ``__all__``
    exists on that module — a deleted function must leave the export
    lists with it."""
    import importlib
    import pkgutil

    import detanalysis_spark as pkg
    mods = [pkg] + [importlib.import_module(m.name) for m in
                    pkgutil.walk_packages(pkg.__path__, pkg.__name__ + ".")]
    names = [(m.__name__, n) for m in mods for n in getattr(m, "__all__", ())]
    assert len(names) > 400
    assert [(m, n) for m, n in names
            if not hasattr(importlib.import_module(m), n)] == []
