"""Spark vs DuckDB on the declared query suite: one value gate, one timer.

Both engines read the same parquet: sf0.1 (``$SPARK_GRAFT_SF_DIR``) by
default, or with ``--sf1`` an sf1-equivalent dir
(``$SPARK_GRAFT_SF1_DIR``) that the tool first materializes from sf0.1
(~6M lineitem, 1M events, 50k documents, 20k embeddings; kept between
runs, rebuilt with ``--force-rebuild``). Replication is deterministic:

- fact tables: primary ids shifted by copy*1e9 (distinct identities,
  FK columns into dimension tables untouched);
- documents: doc_id shifted, text suffixed with the COPY index only —
  within-copy duplicate structure (planted dup groups) is preserved
  exactly (10x the groups) and copies never merge;
- embeddings: vec_id shifted, vectors perturbed per copy (no 10-way
  cosine ties);
- dimension tables copied as-is.

``--gate`` runs the value gate of ``tools/check_oracles.py`` in-process
on the gated set: every oracled suite query not in ``EXCLUDED``, which
says why each other query stays out. Without it the tool times both
engines, min of ``--runs``: Spark runs the engine plan; DuckDB runs the
query's ``PARITY`` SQL when the oracle does different work (a planted
construction, an all-pairs check, or no write), else the oracle. The
default timed set is ``FAMILIES``. Output: one JSON line (stdout) plus
a Markdown table (stderr).

Usage: python tools/duckdb_compare.py [--sf1] [--gate] [--force-rebuild]
                                      [--runs N] [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from detanalysis_spark import suite
from detanalysis_spark.session import get_spark
from tools.check_oracles import duck_views, gate

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SF1_DIR = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/detanalysis_sf1x")
COPIES = 10
SHIFT = 1_000_000_000

# per-table amplification SQL (c = copy index 0..COPIES-1)
_AMPLIFY = {
    "lineitem": "SELECT l_orderkey + c*{S} AS l_orderkey, "
                "* EXCLUDE (l_orderkey) FROM t, range({K}) r(c)",
    "orders": "SELECT o_orderkey + c*{S} AS o_orderkey, "
              "* EXCLUDE (o_orderkey) FROM t, range({K}) r(c)",
    "events": "SELECT event_id + c*{S} AS event_id, "
              "user_id + c*{S} AS user_id, "
              "* EXCLUDE (event_id, user_id) FROM t, range({K}) r(c)",
    "documents": "SELECT doc_id + c*{S} AS doc_id, "
                 "text || ' copytoken' || c AS text, "
                 "* EXCLUDE (doc_id, text) FROM t, range({K}) r(c)",
    "embeddings": "SELECT vec_id + c*{S} AS vec_id, "
                  "list_transform(embedding, x -> x + c * 1e-3) "
                  "AS embedding, "
                  "* EXCLUDE (vec_id, embedding) FROM t, range({K}) r(c)",
}
_COPY_AS_IS = ["region", "nation", "customer", "supplier", "part"]

_QUADRATIC = ("all-pairs DuckDB oracle while the engine prunes "
              "candidates; hours at 10x")
_COPY0 = ("its doc_id < N filter keeps copy 0's N rows, so 10x reads no more "
          "rows than sf0.1")
_SKETCH = ("sketch exact-mode bound (4096) exceeded at 10x: the sketch "
           "goes approximate by design while the SQL stays exact")

# why each oracled query stays out of the gate; the gated set is
# suite.ORACLES minus these
EXCLUDED = {
    "near_dup_pairs_minhash": _QUADRATIC,
    "near_dup_cluster_sizes": _QUADRATIC,
    "embedding_near_dup_pairs": _QUADRATIC,
    "semantic_dedup_stats": _QUADRATIC + " (within-cluster NOT EXISTS)",
    "semantic_curation_stats": _QUADRATIC + " (within-cluster NOT EXISTS)",
    "streaming_near_dup_screen_stats": _QUADRATIC + " (stream x corpus)",
    "curated_corpus_stats": _QUADRATIC + " (near-dedup leg)",
    "jaccard_pairs_exact": _QUADRATIC,
    "jaccard_pairs_prefix_filtered": _QUADRATIC,
    "jaccard_prefix_longtail_pairs": _QUADRATIC,
    "containment_superset_pairs": _QUADRATIC,
    "incremental_cluster_update_sizes": _QUADRATIC + " plus recursive CTE",
    "knn_graph_label_blocks": ("label-blocked all-pairs oracle: 10x blocks "
                               "grow the pair count ~100x"),
    "interval_overlap_stats": ("the overlap-pair count itself grows ~100x "
                               "under value-range-preserving 10x copies"),
    "token_cosine_near_dup": _COPY0,
    "audio_fingerprint_pairs": _COPY0,
    "hashed_classifier_scores": _COPY0,
    "multimodal_jpeg_stats": _COPY0,
    "image_header_survey": _COPY0,
    "multimodal_quarantine_stats": _COPY0,
    "wet_quarantine_stats": _COPY0,
    "fuzzy_join_typos": ("reads only part, which is copied as-is, so 10x "
                         "repeats sf0.1"),
    "pii_protection_stats": ("reads only customer, which is copied as-is, "
                             "so 10x repeats sf0.1"),
    "grouped_spectrum_fits": ("builds its spectra from spark.range and "
                              "reads no table, so 10x repeats sf0.1"),
    "theta_split_overlap": _SKETCH,
    "sketch_rollup_day_profile": _SKETCH,
}

# the default timed set; the median ratio of its CORE rows is the
# headline number
CORE = ("curated_corpus_exact_stats", "span_dedup_stats",
        "trimmed_price_stats", "training_pipeline_stats",
        "domain_curation_stats", "near_dup_pairs_minhash")
FAMILIES = CORE + ("heavy_hitter_tokens", "upsert_merge_stats",
                   "language_id_counts", "text_quality_by_source",
                   "tfidf_top_terms", "bpe_first_merge_pairs",
                   "sequence_packing_stats", "dedup_exact_documents")

# near_dup_pairs_minhash: the oracle is all-pairs exact Jaccard, so the
# fair side is the SAME banded MinHash LSH in DuckDB (64 signatures
# over 3-gram shingles with DuckDB's own hash(), 16x4 banding, bucket
# self-join, exact Jaccard on candidates only). Hash families differ,
# so candidate sets differ at the margin; the work shape is identical.
LSH_PARITY_SQL = r"""
WITH t AS (
  SELECT doc_id, list_distinct([array_to_string(toks[i:i+3], ' ')
                                for i in range(1, len(toks)-2)]) AS sh
  FROM (SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
                                   x -> x <> '') AS toks
        FROM documents)),
sig AS (
  SELECT doc_id, sh,
         list_transform(range(64), i -> list_min(
             list_transform(sh, s -> hash(s || '#' || i)))) AS mh
  FROM t WHERE len(sh) > 0),
bb AS (
  SELECT doc_id, b,
         hash(array_to_string(mh[b*4+1:b*4+4], ',')) AS bucket
  FROM sig, range(16) r(b)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bb a JOIN bb b ON a.b = b.b AND a.bucket = b.bucket
                      AND a.doc_id < b.doc_id),
j AS (
  SELECT id_a, id_b,
         len(list_intersect(ta.sh, tb.sh))::DOUBLE /
         len(list_distinct(list_concat(ta.sh, tb.sh))) AS jaccard
  FROM cand JOIN t ta ON ta.doc_id = id_a
            JOIN t tb ON tb.doc_id = id_b)
SELECT id_a, id_b, round(jaccard, 6) AS jaccard
FROM j WHERE jaccard >= 0.5
"""


def install_psl_tables(con) -> int:
    """The engine's own rule tables, loaded into DuckDB per depth —
    the same broadcast-probe shape the Spark matcher uses."""
    from detanalysis_spark.llm.psl import default_psl
    rules = default_psl()
    merged: dict[int, dict[str, list[bool]]] = {}

    def put(s, d, kind):
        ent = merged.setdefault(d, {}).setdefault(s, [False] * 3)
        ent[kind] = True

    for s in rules.exact:
        d = s.count(".") + 1
        if d > 1:
            put(s, d, 0)
    for s in rules.wildcard:
        put(s, s.count(".") + 1, 1)
    for s in rules.exception:
        put(s, s.count(".") + 1, 2)
    for d, tbl in merged.items():
        con.execute(f"CREATE TEMP TABLE psl_d{d} "
                    "(s VARCHAR, e BOOLEAN, w BOOLEAN, x BOOLEAN)")
        con.executemany(
            f"INSERT INTO psl_d{d} VALUES (?, ?, ?, ?)",
            [(s, *fl) for s, fl in tbl.items()])
    return max(merged)


def psl_parity_sql(max_depth: int) -> str:
    """domain_curation_stats' oracle replays a planted construction with
    no suffix matching, so the fair side is the same construction and
    the same PSL algorithm in SQL: per-depth candidate suffix probes
    against the rule tables, exception > longest-match > implicit-'*'
    precedence, then the blocklist filter and the domain profile
    aggregate."""
    cand_cols, joins, depth_terms, exc_terms = [], [], ["1"], []
    for d in range(2, max_depth + 1):
        cand_cols.append(
            f"CASE WHEN n >= {d} THEN "
            f"array_to_string(parts[n-{d}+1:n], '.') END AS c{d}")
        joins.append(f"LEFT JOIN psl_d{d} r{d} ON hp.c{d} = r{d}.s")
        depth_terms.append(
            f"CASE WHEN coalesce(r{d}.e, false) THEN {d} ELSE 1 END")
        depth_terms.append(
            f"CASE WHEN coalesce(r{d}.w, false) AND n >= {d}+1 "
            f"THEN {d}+1 ELSE 1 END")
        exc_terms.append(
            f"WHEN coalesce(r{d}.x, false) THEN {d}-1")
    exc = (" CASE " + " ".join(reversed(exc_terms))
           + " ELSE greatest(" + ", ".join(depth_terms) + ") END")
    return f"""
WITH u AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END) || source ||
         (CASE WHEN doc_id % 5 = 0 THEN '.co.uk' ELSE '.com' END) AS host
  FROM documents),
hp AS (
  SELECT doc_id, host, string_split(host, '.') AS parts,
         len(string_split(host, '.')) AS n,
         {', '.join(cand_cols)}
  FROM u),
m AS (
  SELECT hp.doc_id, hp.host, hp.parts, hp.n, {exc} AS ps_depth
  FROM hp {' '.join(joins)}),
reg AS (
  SELECT doc_id, host,
         CASE WHEN n > ps_depth
              THEN array_to_string(parts[n-ps_depth:n], '.') END AS domain
  FROM m),
f AS (SELECT * FROM reg
      WHERE domain NOT IN ('src0.co.uk', 'src1.com')),
g AS (SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT host) AS BIGINT) AS n_hosts
      FROM f GROUP BY domain)
SELECT domain, n_docs, n_hosts,
       round(n_docs / (SELECT sum(n_docs) FROM g), 6) AS share
FROM g
"""


# upsert_merge_stats builds the COW table (full write) and
# MERGE-rewrites the touched buckets (second write); the parity side
# materializes the base table to parquet and then writes the merged
# table to parquet (';;'-separated statements, run in order), instead
# of replaying the merge as a logical CTE with no write cost.
MERGE_PARITY_SQL = """
COPY (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders)
TO '{tmp}/duck_merge_base.parquet' (FORMAT PARQUET)
;;
COPY (
WITH upd AS (
  SELECT o_orderkey, 'U' AS o_orderstatus,
         o_totalprice + 1000.0 AS o_totalprice
  FROM read_parquet('{tmp}/duck_merge_base.parquet')
  WHERE o_orderkey % 10 = 3
  UNION ALL
  SELECT o_orderkey + 10000000, 'N', o_totalprice
  FROM read_parquet('{tmp}/duck_merge_base.parquet')
  WHERE o_orderkey % 100 = 7)
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM read_parquet('{tmp}/duck_merge_base.parquet')
WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
UNION ALL SELECT * FROM upd
) TO '{tmp}/duck_merge_out.parquet' (FORMAT PARQUET)
;;
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
         AS price_cents,
       CAST(min(o_orderkey) AS BIGINT) AS min_key,
       CAST(max(o_orderkey) AS BIGINT) AS max_key
FROM read_parquet('{tmp}/duck_merge_out.parquet')
GROUP BY o_orderstatus
"""


def psl_parity(con, tmp: str) -> str:
    return psl_parity_sql(install_psl_tables(con))


def lsh_parity(con, tmp: str) -> str:
    return LSH_PARITY_SQL


def merge_parity(con, tmp: str) -> str:
    return MERGE_PARITY_SQL.format(tmp=tmp)


# the DuckDB side for queries whose oracle does different work; each
# builds its SQL on the timing connection with a scratch dir
PARITY = {
    "domain_curation_stats": psl_parity,
    "near_dup_pairs_minhash": lsh_parity,
    "upsert_merge_stats": merge_parity,
}


def gated() -> list[str]:
    return [q for q in suite.ORACLES if q not in EXCLUDED]


def materialize(force: bool = False) -> None:
    os.makedirs(SF1_DIR, exist_ok=True)
    con = duckdb.connect()
    for t in _COPY_AS_IS + list(_AMPLIFY):
        dst = f"{SF1_DIR}/{t}.parquet"
        if os.path.exists(dst) and not force:
            continue
        src = f"{SF_DIR}/{t}.parquet"
        if not os.path.exists(src):
            continue
        sql = _AMPLIFY.get(t, "SELECT * FROM t").format(K=COPIES, S=SHIFT)
        con.execute(f"COPY (WITH t AS (SELECT * FROM read_parquet('{src}')) "
                    f"{sql}) TO '{dst}' (FORMAT PARQUET)")
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{dst}')").fetchone()[0]
        print(f"# materialized {t}: {n} rows", file=sys.stderr)


def time_queries(names, spark, sf_dir: str, runs: int) -> dict:
    """Min-of-``runs`` wall for each query on both engines."""
    con = duck_views(sf_dir)
    # warm both engines (JVM + parquet footers / DuckDB catalog)
    suite.QUERIES["flagship_event_cut_stats"](spark, sf_dir).collect()
    con.execute(suite.ORACLES["flagship_event_cut_stats"]).fetchall()
    rows = []
    with tempfile.TemporaryDirectory(prefix="duck_parity_") as tmp:
        for name in names:
            sql = (PARITY[name](con, tmp) if name in PARITY
                   else suite.ORACLES[name])
            st, dt = [], []
            for _ in range(runs):
                t0 = time.time()
                suite.QUERIES[name](spark, sf_dir).collect()
                st.append(time.time() - t0)
                t0 = time.time()
                for stmt in sql.split(";;"):
                    con.execute(stmt).fetchall()
                dt.append(time.time() - t0)
            s, d = min(st), min(dt)
            rows.append({"query": name, "core": name in CORE,
                         "duckdb_impl": (PARITY[name].__name__
                                         if name in PARITY else "oracle"),
                         "spark_s": round(s, 3), "duckdb_s": round(d, 3),
                         "ratio": round(s / max(d, 1e-9), 2)})
    core_ratios = [r["ratio"] for r in rows if r["core"]]
    return {"sf_dir": sf_dir, "runs": runs,
            "core_median_ratio": (round(statistics.median(core_ratios), 2)
                                  if core_ratios else None),
            "rows": rows}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sf1", action="store_true",
                    help="use (and first materialize) the 10x dir")
    ap.add_argument("--gate", action="store_true",
                    help="value gate instead of timing")
    ap.add_argument("--force-rebuild", action="store_true")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("queries", nargs="*")
    a = ap.parse_args()
    sf_dir = SF_DIR
    if a.sf1:
        materialize(force=a.force_rebuild)
        sf_dir = SF1_DIR

    spark = get_spark("duckdb-compare")
    if a.gate:
        return 1 if gate(a.queries or gated(), spark, sf_dir) else 0

    out = time_queries(a.queries or FAMILIES, spark, sf_dir, a.runs)
    print(json.dumps(out))
    print("\n| query | core | duckdb impl | spark s | duckdb s "
          "| spark/duckdb |", file=sys.stderr)
    print("|---|---|---|---|---|---|", file=sys.stderr)
    for r in out["rows"]:
        print(f"| {r['query']} | {'y' if r['core'] else ''} "
              f"| {r['duckdb_impl']} | {r['spark_s']} | {r['duckdb_s']} "
              f"| {r['ratio']} |", file=sys.stderr)
    print(f"\ncore median ratio: {out['core_median_ratio']}",
          file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
