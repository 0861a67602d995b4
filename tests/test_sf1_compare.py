"""The sf1 head-to-head's algorithm-parity SQL must stay honest:
`psl_parity` has to reproduce domain_curation_stats' correctness
oracle exactly (proof the SQL implements the same PSL algorithm on
the same construction), and `lsh_parity` has to recover every true
near-dup pair the all-pairs oracle finds (recall 1 at the planted
jaccard >= 0.96 — the same 16x4-band argument the streaming screen
documents). Pure-DuckDB tests — no Spark session needed."""
import duckdb
import pytest


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.execute("CREATE VIEW documents AS SELECT * FROM "
              "read_parquet('/root/testdata/sf0.001/documents.parquet')")
    return c


def test_psl_parity_matches_oracle(con):
    from tools.duckdb_compare import install_psl_tables, psl_parity_sql
    from detanalysis_spark import suite
    md = install_psl_tables(con)
    parity = con.execute(psl_parity_sql(md)).fetchdf() \
        .sort_values("domain").reset_index(drop=True)
    oracle = con.execute(suite.ORACLES["domain_curation_stats"]) \
        .fetchdf().sort_values("domain").reset_index(drop=True)
    import pandas as pd
    pd.testing.assert_frame_equal(parity, oracle)


def test_lsh_parity_recovers_all_true_pairs(con):
    from tools.duckdb_compare import LSH_PARITY_SQL
    from detanalysis_spark import suite
    truth = set(map(tuple, con.execute(
        f"SELECT id_a, id_b FROM "
        f"({suite.ORACLES['near_dup_pairs_minhash']})").fetchall()))
    parity = set(map(tuple, con.execute(
        f"SELECT id_a, id_b FROM ({LSH_PARITY_SQL})").fetchall()))
    # banding with DuckDB's own hash family: recall must be 1 on the
    # planted >=0.96-jaccard pairs; extra candidates are filtered by
    # the exact-jaccard threshold, so the sets are equal
    assert parity == truth and truth
