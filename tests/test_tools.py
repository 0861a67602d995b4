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
