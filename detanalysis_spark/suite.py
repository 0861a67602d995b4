"""Declared query suite: every entry pairs a Spark plan (built on the
engine API) with an ANSI-SQL oracle DuckDB can run on the same parquet.

Hash-stability rules (the driver compares order-insensitive value
hashes):
- Money sums use exact integer cents: ``sum(cast(round(x*100) as
  bigint))`` — integer addition is associative, so Spark's partial
  aggregation order cannot change the result, and DuckDB produces the
  identical integer. Derived stats (averages) are computed from those
  exact integers with textually identical formulas on both sides.
- Percentile/interpolation outputs are rounded to 6 decimals.
- No raw timestamps in outputs — formatted strings or epoch integers.
- Every computed column is aliased identically on both sides.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .analyzer import Analyzer, EVENT_INDEX
from .operators import hist1d_df, bucket_expr, assign_bin
from .operators.stats import SIGMA_LO_PCT, SIGMA_HI_PCT
from .semiautocut import Semiautocut, MasterSemiautocuts, _SIG_LO, _SIG_HI
from .sources import load_table
from .util import fan_out_small as _FAN
from .util import local_frame as _LF
from .util import write_small_parquet

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


def _scratch_dir(sf_dir: str, tag: str) -> str:
    """Fresh scratch path ``<tmp>/detanalysis_spark_<pid>/<sf>_<tag>``
    for a query's write-then-read dataset, staged stream input or
    streaming checkpoint. Removed first, not created. The PID
    namespace keeps concurrent suite runs from racing on one dataset
    (one session's overwrite would delete files under the other's
    read); the pre-clean gives every call a fresh checkpoint."""
    path = os.path.join(
        tempfile.gettempdir(), f"detanalysis_spark_{os.getpid()}",
        f"{os.path.basename(os.path.normpath(sf_dir))}_{tag}")
    shutil.rmtree(path, ignore_errors=True)
    return path


def cents(col: F.Column) -> F.Column:
    """Exact integer cents of a 2-decimal double (hash-stable sums)."""
    return F.round(col * 100).cast("long")


# ----------------------------------------------------------------------
# flagship: Analyzer lifecycle — load → feature → cut → global filter →
# grouped stats (SURVEY §3.1 / M0). Exercises S1, S6, P1, P5, E2, A1, A2.
# ----------------------------------------------------------------------
@query("flagship_event_cut_stats", oracle="""
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_value_cents,
       round(sum(CAST(round(value*100) AS BIGINT)) / 100.0 / count(*), 6) AS avg_value
FROM events
WHERE value > 1.0 AND event_type IN ('click','view','purchase')
GROUP BY event_type
""")
def flagship_event_cut_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ana = Analyzer(load_table(spark, sf_dir, "events"))
    ana.register_cut("event_type IN ('click','view','purchase')", "c_web")
    ana.apply_global_filter("value > 1.0")
    view = ana._subset_df(ana.df, "c_web")
    return (view.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(cents(F.col("value"))).alias("sum_value_cents"))
            .withColumn("avg_value",
                        F.round(F.col("sum_value_cents") / 100.0 / F.col("n"), 6)))


# ----------------------------------------------------------------------
# TPC-H Q1-style pricing summary (A1/A2 at bench scale; headline query)
# ----------------------------------------------------------------------
@query("tpch_q1_pricing_summary", oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
       round(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                 * (100 - CAST(round(l_discount*100) AS BIGINT))) / 10000.0, 2)
         AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""")
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # disc_price summed as exact 4-decimal fixed point: integer addition is
    # associative, so Spark partial-agg order can't flip the last bit.
    disc_units = cents(F.col("l_extendedprice")) * (100 - cents(F.col("l_discount")))
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(cents(F.col("l_quantity"))).alias("sum_qty_cents"),
                 F.sum(cents(F.col("l_extendedprice"))).alias("sum_base_cents"),
                 F.round(F.sum(disc_units) / 10000.0, 2).alias("sum_disc_price"),
                 F.count(F.lit(1)).alias("count_order")))


# ----------------------------------------------------------------------
# P4 box cut (register_cut_box): AND of betweens, pushed to the scan
# ----------------------------------------------------------------------
@query("box_cut_counts", oracle="""
SELECT l_returnflag, count(*) AS n
FROM lineitem
WHERE l_quantity BETWEEN 10 AND 40 AND l_discount BETWEEN 0.02 AND 0.08
GROUP BY l_returnflag
""")
def box_cut_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ana = Analyzer(load_table(spark, sf_dir, "lineitem"))
    ana.register_cut_box(["l_quantity", "l_discount"],
                         [[10, 40], [0.02, 0.08]], "c_box")
    return (ana._subset_df(ana.df, "c_box")
            .groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n")))


# ----------------------------------------------------------------------
# P5 global filter boolean algebra: replace → and → or → subtract chain
# ----------------------------------------------------------------------
@query("global_filter_algebra", oracle="""
SELECT event_type, count(*) AS n
FROM events
WHERE ((value > 2.0 AND user_id % 2 = 0) OR event_type = 'error')
  AND NOT value > 400.0
GROUP BY event_type
""")
def global_filter_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    ana = Analyzer(load_table(spark, sf_dir, "events"))
    ana.apply_global_filter("value > 2.0")
    ana.apply_global_filter("user_id % 2 = 0", mode="and")
    ana.apply_global_filter("event_type = 'error'", mode="or")
    ana.apply_global_filter("value > 400.0", mode="subtract")
    return ana.df.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


# ----------------------------------------------------------------------
# E2 xor combination of two cuts
# ----------------------------------------------------------------------
@query("cut_algebra_xor", oracle="""
SELECT count(*) AS n_xor
FROM lineitem
WHERE (l_quantity > 25) <> (l_discount > 0.05)
""")
def cut_algebra_xor(spark: SparkSession, sf_dir: str) -> DataFrame:
    ana = Analyzer(load_table(spark, sf_dir, "lineitem"))
    ana.register_cut("l_quantity > 25", "c_qty")
    ana.register_cut("l_discount > 0.05", "c_disc")
    ana.combine_cuts(["c_qty", "c_disc"], "c_x", mode="xor")
    return ana.df.agg(F.sum(ana.resolve_cut("c_x").cast("long")).alias("n_xor"))


# ----------------------------------------------------------------------
# J1 semi-join on row identity: lineitems of high-value orders
# ----------------------------------------------------------------------
@query("semi_join_high_value", oracle="""
SELECT l_returnflag, count(*) AS n,
       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_price_cents
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 300000)
GROUP BY l_returnflag
""")
def semi_join_high_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    keys = orders.filter("o_totalprice > 300000").select(
        F.col("o_orderkey").alias("l_orderkey"))
    return (li.join(keys, "l_orderkey", "left_semi")
            .groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(cents(F.col("l_extendedprice"))).alias("sum_price_cents")))


# ----------------------------------------------------------------------
# J1 anti-join: customers with no orders (the fail-side of a semi-join)
# ----------------------------------------------------------------------
@query("anti_join_customers_no_orders", oracle="""
SELECT c_mktsegment, count(*) AS n_inactive
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
GROUP BY c_mktsegment
""")
def anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (cust.join(orders.select(F.col("o_custkey").alias("c_custkey")),
                      "c_custkey", "left_anti")
            .groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n_inactive")))


# ----------------------------------------------------------------------
# J2 broadcast lookup join: fact ⋈ small dim (part) — explicitly
# broadcast so no shuffle of the fact side
# ----------------------------------------------------------------------
@query("broadcast_part_revenue", oracle="""
SELECT p.p_brand,
       count(*) AS n_items,
       round(sum(CAST(round(l.l_extendedprice*100) AS BIGINT))/100.0, 2) AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_size <= 20
GROUP BY p.p_brand
""")
def broadcast_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter("p_size <= 20")
    return (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .groupBy("p_brand")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.round(F.sum(cents(F.col("l_extendedprice"))) / 100.0, 2)
                  .alias("revenue")))


# ----------------------------------------------------------------------
# multi-way join with broadcast dims: revenue by nation (TPC-H Q5 shape)
# ----------------------------------------------------------------------
@query("join_revenue_by_nation", oracle="""
SELECT n.n_name,
       round(sum(CAST(round(l.l_extendedprice*100) AS BIGINT))/100.0, 2) AS revenue,
       count(*) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderstatus = 'F'
GROUP BY n.n_name
""")
def join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter("o_orderstatus = 'F'")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    # customer scales with sf (1.5M rows/sf) — let AQE pick its join
    # strategy; only nation (25 rows, constant) is force-broadcast
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .groupBy("n_name")
            .agg(F.round(F.sum(cents(F.col("l_extendedprice"))) / 100.0, 2)
                  .alias("revenue"),
                 F.count(F.lit(1)).alias("n_items")))


# ----------------------------------------------------------------------
# A3 exact percentiles per group (threshold estimation core)
# ----------------------------------------------------------------------
@query("percentile_quantity_by_flag", oracle="""
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.25), 6) AS p25,
       round(quantile_cont(l_quantity, 0.50), 6) AS p50,
       round(quantile_cont(l_quantity, 0.75), 6) AS p75
FROM lineitem GROUP BY l_returnflag
""")
def percentile_quantity_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = F.percentile(F.col("l_quantity"), F.lit([0.25, 0.5, 0.75]))
    return (li.groupBy("l_returnflag")
            .agg(F.round(p.getItem(0), 6).alias("p25"),
                 F.round(p.getItem(1), 6).alias("p50"),
                 F.round(p.getItem(2), 6).alias("p75")))


# ----------------------------------------------------------------------
# A5 robust sigma per group (reference math, semiautocuts.py:589-627)
# ----------------------------------------------------------------------
@query("robust_sigma_by_event_type", oracle=f"""
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS med,
       round((abs(quantile_cont(value, {SIGMA_LO_PCT/100!r}) - quantile_cont(value, 0.5))
            + abs(quantile_cont(value, 0.5) - quantile_cont(value, {SIGMA_HI_PCT/100!r}))) / 2, 6) AS sigma
FROM events GROUP BY event_type
""")
def robust_sigma_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = F.percentile(F.col("value"),
                     F.lit([SIGMA_LO_PCT / 100, 0.5, SIGMA_HI_PCT / 100]))
    med = p.getItem(1)
    sig = (F.abs(p.getItem(0) - med) + F.abs(med - p.getItem(2))) / 2
    return (ev.groupBy("event_type")
            .agg(F.round(med, 6).alias("med"), F.round(sig, 6).alias("sigma")))


# ----------------------------------------------------------------------
# A6 1-D histogram with fixed limits (driver-comparable lazy form)
# ----------------------------------------------------------------------
@query("hist1d_event_value", oracle="""
SELECT CAST(CASE WHEN value = 500.0 THEN 49
            ELSE floor((value - 0.0) / 10.0) END AS INT) AS bucket,
       count(*) AS n
FROM events
WHERE value IS NOT NULL AND value >= 0.0 AND value <= 500.0
GROUP BY 1 ORDER BY 1
""")
def hist1d_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return hist1d_df(ev, "value", shape=50, lo=0.0, hi=500.0)


# ----------------------------------------------------------------------
# A7 2-D histogram on a fixed grid
# ----------------------------------------------------------------------
@query("hist2d_quantity_discount", oracle="""
SELECT CAST(CASE WHEN l_quantity = 50.0 THEN 9 ELSE floor((l_quantity - 0.0)/5.0) END AS INT) AS bx,
       CAST(CASE WHEN l_discount = 0.1 THEN 4 ELSE floor((l_discount - 0.0)/0.02) END AS INT) AS by,
       count(*) AS n
FROM lineitem
WHERE l_quantity BETWEEN 0.0 AND 50.0 AND l_discount BETWEEN 0.0 AND 0.1
GROUP BY 1, 2
""")
def hist2d_quantity_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    bx = bucket_expr(F.col("l_quantity"), 0.0, 50.0, 10).alias("bx")
    by = bucket_expr(F.col("l_discount"), 0.0, 0.1, 5).alias("by")
    return (li.filter("l_quantity BETWEEN 0.0 AND 50.0 AND l_discount BETWEEN 0.0 AND 0.1")
            .groupBy(bx, by).agg(F.count(F.lit(1)).alias("n")))


# ----------------------------------------------------------------------
# A8/A9 passage fractions: exact integer numerators/denominators
# ----------------------------------------------------------------------
@query("passage_fraction_counts", oracle="""
SELECT event_type,
       count(*) AS n_total,
       CAST(sum(CASE WHEN value > 5.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       round(sum(CASE WHEN value > 5.0 THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS frac
FROM events GROUP BY event_type
""")
def passage_fraction_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    flag = (F.col("value") > 5.0).cast("long")
    return (ev.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_total"),
                 F.sum(flag).alias("n_pass"))
            .withColumn("frac", F.round(F.col("n_pass") * 1.0 / F.col("n_total"), 6)))


@query("passfrac_sequential_matrix", oracle="""
SELECT count(*) AS total,
       CAST(sum(CASE WHEN c0 THEN 1 ELSE 0 END) AS BIGINT) AS den_0,
       CAST(sum(CASE WHEN c0 AND c1 THEN 1 ELSE 0 END) AS BIGINT) AS den_1,
       CAST(sum(CASE WHEN c0 AND c1 AND c2 THEN 1 ELSE 0 END) AS BIGINT) AS den_2,
       CAST(sum(CASE WHEN c0 AND c1 THEN 1 ELSE 0 END) AS BIGINT) AS num_1_0,
       CAST(sum(CASE WHEN c0 AND c2 THEN 1 ELSE 0 END) AS BIGINT) AS num_2_0,
       CAST(sum(CASE WHEN c0 AND c1 AND c2 THEN 1 ELSE 0 END) AS BIGINT) AS num_2_1
FROM (SELECT l_quantity > 25 AS c0, l_discount > 0.05 AS c1, l_tax > 0.04 AS c2
      FROM lineitem)
""")
def passfrac_sequential_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    c0 = F.col("l_quantity") > 25
    c1 = F.col("l_discount") > 0.05
    c2 = F.col("l_tax") > 0.04
    s = lambda c: F.sum(c.cast("long"))  # noqa: E731
    return li.agg(
        F.count(F.lit(1)).alias("total"),
        s(c0).alias("den_0"), s(c0 & c1).alias("den_1"),
        s(c0 & c1 & c2).alias("den_2"),
        s(c0 & c1).alias("num_1_0"), s(c0 & c2).alias("num_2_0"),
        s(c0 & c1 & c2).alias("num_2_1"))


# ----------------------------------------------------------------------
# W2 equal-frequency bins via ntile over event_time ordering
# ----------------------------------------------------------------------
@query("ntile_time_bins", oracle="""
SELECT bin, count(*) AS n,
       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM (SELECT value, ntile(8) OVER (ORDER BY ts, event_id) - 1 AS bin FROM events)
GROUP BY bin
""")
def ntile_time_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.orderBy("ts", "event_id")
    return (ev.withColumn("bin", F.ntile(8).over(w) - 1)
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(cents(F.col("value"))).alias("sum_value_cents")))


# ----------------------------------------------------------------------
# W4-style explicit uneven bins (assign_bin CASE-chain, no UDF)
# ----------------------------------------------------------------------
@query("uneven_bins_extendedprice", oracle="""
SELECT CASE
         WHEN l_extendedprice >= 50000.0 THEN 3
         WHEN l_extendedprice >= 20000.0 AND l_extendedprice < 50000.0 THEN 2
         WHEN l_extendedprice >= 5000.0  AND l_extendedprice < 20000.0 THEN 1
         WHEN l_extendedprice >= 0.0     AND l_extendedprice < 5000.0  THEN 0
       END AS bin,
       count(*) AS n,
       CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_cents
FROM lineitem
WHERE l_extendedprice >= 0.0
GROUP BY 1
""")
def uneven_bins_extendedprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    edges = [0.0, 5000.0, 20000.0, 50000.0, 1e12]
    b = assign_bin(F.col("l_extendedprice"), edges, last_unbounded=True)
    return (li.filter("l_extendedprice >= 0.0")
            .groupBy(b.alias("bin"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(cents(F.col("l_quantity"))).alias("sum_qty_cents")))


# ----------------------------------------------------------------------
# O4 + window: top-k per group with deterministic tie-break
# ----------------------------------------------------------------------
@query("topk_orders_per_priority", oracle="""
SELECT o_orderpriority, o_orderkey, round(o_totalprice, 2) AS total
FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders)
WHERE rk <= 3
""")
def topk_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (orders.withColumn("rk", F.row_number().over(w))
            .filter("rk <= 3")
            .select("o_orderpriority", "o_orderkey",
                    F.round("o_totalprice", 2).alias("total")))


# ----------------------------------------------------------------------
# E1 union-all of two scans (per-file frame union, S2)
# ----------------------------------------------------------------------
@query("union_all_scan", oracle="""
SELECT event_type, count(*) AS n FROM (
  SELECT event_type FROM events WHERE user_id % 2 = 0
  UNION ALL
  SELECT event_type FROM events WHERE user_id % 2 = 1
) GROUP BY event_type
""")
def union_all_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter("user_id % 2 = 0").select("event_type")
    b = ev.filter("user_id % 2 = 1").select("event_type")
    return a.unionByName(b).groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


# ----------------------------------------------------------------------
# A11 distinct values (sorted small result)
# ----------------------------------------------------------------------
@query("distinct_event_types", oracle="""
SELECT DISTINCT event_type FROM events
""")
def distinct_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select("event_type").distinct()


# ----------------------------------------------------------------------
# A10/W5: time-binned count with bin-level exclusion — bins (by day)
# whose event count exceeds a threshold are dropped entirely, then
# per-type stats over the surviving rows (de-noising windows)
# ----------------------------------------------------------------------
@query("time_binned_count_exclusion", oracle="""
WITH binned AS (
  SELECT *, CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS day_bin FROM events
), cnts AS (
  SELECT day_bin, count(*) AS cnt FROM binned GROUP BY day_bin
), thr AS (
  SELECT quantile_cont(cnt, 0.5) AS med FROM cnts
), keep AS (
  SELECT day_bin FROM cnts, thr WHERE cnt <= med
)
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM binned WHERE day_bin IN (SELECT day_bin FROM keep)
GROUP BY event_type
""")
def time_binned_count_exclusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # threshold is relative (median of per-bin counts) so the query is
    # non-trivial at every scale factor — the reference's
    # percentile-over-bin-counts threshold mode (semiautocuts.py:783-795)
    ev = load_table(spark, sf_dir, "events")
    binned = ev.withColumn(
        "day_bin", F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / F.lit(86400.0)).cast("long"))
    cnts = binned.groupBy("day_bin").agg(F.count(F.lit(1)).alias("cnt"))
    # two-pass scalar like the histogram limits: cnts is one row per day
    # bin, so the median is a driver-side scalar, not a join
    med = cnts.agg(F.expr("percentile(cnt, 0.5)")).first()[0]
    keep = cnts.filter(F.col("cnt") <= F.lit(med)).select("day_bin")
    return (binned.join(F.broadcast(keep), "day_bin", "left_semi")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(cents(F.col("value"))).alias("sum_value_cents")))


# ----------------------------------------------------------------------
# text analysis: token counts + quality ratios over documents
# ----------------------------------------------------------------------
@query("doc_token_stats", oracle=r"""
SELECT source,
       count(*) AS n_docs,
       CAST(sum(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))) AS BIGINT) AS total_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY source
""")
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tokens = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return (docs.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(tokens.cast("long")).alias("total_tokens"),
                 F.sum("n_chars").alias("total_chars")))


# ----------------------------------------------------------------------
# exact dedup over documents: md5 grouping, keep lowest doc_id
# ----------------------------------------------------------------------
@query("dedup_exact_documents", oracle="""
SELECT md5(text) AS text_hash,
       CAST(min(doc_id) AS BIGINT) AS keep_id,
       count(*) AS n_copies
FROM documents GROUP BY md5(text)
""")
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (docs.groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash"))
            .agg(F.min("doc_id").alias("keep_id"),
                 F.count(F.lit(1)).alias("n_copies")))


# ======================================================================
# Semiautocut engine (SURVEY §2.5 W1-W5, A3-A5, A10; M3)
# ======================================================================

# ----------------------------------------------------------------------
# simple sigma cut, thresholds conditioned on a previous cut but applied
# to ALL rows (semiautocuts.py:497-498 semantics)
# ----------------------------------------------------------------------
@query("semiauto_sigma_cut", oracle=f"""
WITH cond AS (SELECT value FROM events WHERE event_type <> 'error'),
s AS (SELECT quantile_cont(value, 0.5) AS med,
             abs(((quantile_cont(value, {_SIG_LO!r}) - quantile_cont(value, 0.5))
                + (quantile_cont(value, 0.5) - quantile_cont(value, {_SIG_HI!r}))) / 2) AS sig
      FROM cond)
SELECT e.event_type, count(*) AS n
FROM events e, s
WHERE e.value > s.med - 2.0 * s.sig AND e.value < s.med + 2.0 * s.sig
GROUP BY e.event_type
""")
def semiauto_sigma_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    ana = Analyzer(load_table(spark, sf_dir, "events"))
    ana.register_cut("event_type <> 'error'", "cut_pre")
    sac = Semiautocut(ana, "value", "", {"sigma": 2.0}, cut_rq_name_override=True)
    sac.do_cut(include_previous_cuts=["cut_pre"])
    return (ana._subset_df(ana.df, sac.cut_name)
            .groupBy("event_type").agg(F.count(F.lit(1)).alias("n")))


# ----------------------------------------------------------------------
# time-binned percent cut with a per-bin exception override (W4)
# ----------------------------------------------------------------------
@query("semiauto_time_binned_cut", oracle="""
WITH e AS (SELECT CAST(epoch(CAST(ts AS TIMESTAMP)) AS DOUBLE) AS t, value, event_type
           FROM events),
mm AS (SELECT min(t) AS lo, max(t) AS hi FROM e),
st AS (SELECT lo, hi, (hi - lo) / 4 AS step FROM mm),
bins AS (SELECT i AS bin, lo + step * i AS blo, lo + step * (i + 1) AS bhi
         FROM st, range(4) r(i)),
thr AS (SELECT b.bin, b.blo, b.bhi,
               CASE WHEN b.bin = 1 THEN 300.0
                    ELSE quantile_cont(e.value, 0.85) END AS up
        FROM bins b JOIN e ON e.t > b.blo AND e.t < b.bhi
        GROUP BY b.bin, b.blo, b.bhi)
SELECT e.event_type, count(*) AS n
FROM e JOIN thr ON e.t > thr.blo AND e.t < thr.bhi AND e.value < thr.up
GROUP BY e.event_type
""")
def semiauto_time_binned_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    ana = Analyzer(load_table(spark, sf_dir, "events"))
    ana.register_feature(F.col("ts").cast("double"), "event_time")
    sac = Semiautocut(ana, "value", "", {"percent_upper": 0.85}, time_bins=4,
                      exceptions_dict={1: {"val_upper": 300.0}},
                      cut_rq_name_override=True)
    sac.do_cut()
    return (ana._subset_df(ana.df, sac.cut_name)
            .groupBy("event_type").agg(F.count(F.lit(1)).alias("n")))


# ----------------------------------------------------------------------
# ofamp-binned percent cut: min/0.0/even-spaced edges, last bin to data
# max (W3/W4, semiautocuts.py:272-292, 855-871)
# ----------------------------------------------------------------------
@query("semiauto_ofamp_binned_cut", oracle="""
WITH base AS (SELECT value, value - 250.0 AS amp, event_type FROM events),
mm AS (SELECT min(amp) AS mn, max(amp) AS mx FROM base),
ed AS (SELECT mn, mx, mx / 3 AS s FROM mm),
bins AS (
  SELECT 0 AS bin, mn AS lo, 0.0 AS hi FROM ed
  UNION ALL SELECT 1, 0.0, s * 1 FROM ed
  UNION ALL SELECT 2, s * 1, s * 2 FROM ed
  UNION ALL SELECT 3, s * 2, s * 3 FROM ed
  UNION ALL SELECT 4, s * 3, mx FROM ed),
thr AS (SELECT b.bin, b.lo, b.hi, quantile_cont(base.value, 0.7) AS up
        FROM bins b JOIN base ON base.amp > b.lo AND base.amp < b.hi
        GROUP BY b.bin, b.lo, b.hi)
SELECT base.event_type, count(*) AS n
FROM base JOIN thr
  ON base.amp > thr.lo AND base.amp < thr.hi AND base.value < thr.up
GROUP BY base.event_type
""")
def semiauto_ofamp_binned_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    ana = Analyzer(load_table(spark, sf_dir, "events"))
    ana.register_feature(F.col("value") - 250.0, "amp_centered")
    sac = Semiautocut(ana, "value", "", {"percent_upper": 0.7}, ofamp_bins=5,
                      ofamp_rq="amp_centered", cut_rq_name_override=True)
    sac.do_cut()
    return (ana._subset_df(ana.df, sac.cut_name)
            .groupBy("event_type").agg(F.count(F.lit(1)).alias("n")))


# ----------------------------------------------------------------------
# time-binned COUNT cut: bins with too many in-range events are dropped
# wholesale; rows outside every bin survive (A10/W5, semiautocuts.py:738-811)
# ----------------------------------------------------------------------
_COUNT_CUT_EDGES = [1704067200.0, 1704499200.0, 1704931200.0,
                    1705363200.0, 1705795200.0, 1706227200.0]
_COUNT_CUT_SQL_BINS = ", ".join(
    f"({i}, {_COUNT_CUT_EDGES[i]!r}, {_COUNT_CUT_EDGES[i+1]!r})"
    for i in range(len(_COUNT_CUT_EDGES) - 1))

@query("semiauto_count_cut", oracle=f"""
WITH e AS (SELECT CAST(epoch(CAST(ts AS TIMESTAMP)) AS DOUBLE) AS t, value, event_type
           FROM events),
bins(bin, lo, hi) AS (VALUES {_COUNT_CUT_SQL_BINS},
   ({len(_COUNT_CUT_EDGES) - 1}, {_COUNT_CUT_EDGES[-1]!r}, (SELECT max(t) FROM e))),
cnt AS (SELECT b.bin, b.lo, b.hi,
        (SELECT count(*) FROM e
         WHERE e.t > b.lo AND e.t < b.hi
           AND e.value > 100.0 AND e.value < 400.0) AS n
        FROM bins b),
bad AS (SELECT lo, hi FROM cnt WHERE n > 1000)
SELECT event_type, count(*) AS n
FROM e
WHERE NOT EXISTS (SELECT 1 FROM bad WHERE e.t > bad.lo AND e.t < bad.hi)
GROUP BY event_type
""")
def semiauto_count_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    ana = Analyzer(load_table(spark, sf_dir, "events"))
    ana.register_feature(F.col("ts").cast("double"), "event_time")
    sac = Semiautocut(ana, "value", "", {"time_arr_num": [1000, 100.0, 400.0]},
                      time_bins=_COUNT_CUT_EDGES, cut_rq_name_override=True)
    sac.do_cut()
    return (ana._subset_df(ana.df, sac.cut_name)
            .groupBy("event_type").agg(F.count(F.lit(1)).alias("n")))


# ----------------------------------------------------------------------
# time-interval cut: OR of strict betweens (T-type, semiautocuts.py:461-489
# documented intent)
# ----------------------------------------------------------------------
@query("semiauto_interval_cut", oracle="""
WITH e AS (SELECT CAST(epoch(CAST(ts AS TIMESTAMP)) AS DOUBLE) AS t, event_type
           FROM events)
SELECT event_type, count(*) AS n
FROM e
WHERE (t > 1704240000.0 AND t < 1704844800.0)
   OR (t > 1705449600.0 AND t < 1706054400.0)
GROUP BY event_type
""")
def semiauto_interval_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    ana = Analyzer(load_table(spark, sf_dir, "events"))
    ana.register_feature(F.col("ts").cast("double"), "event_time")
    sac = Semiautocut(ana, "event_time", "",
                      {"time_arr": [[1704240000.0, 1704844800.0],
                                    [1705449600.0, 1706054400.0]]})
    sac.do_cut()
    return (ana._subset_df(ana.df, sac.cut_name)
            .groupBy("event_type").agg(F.count(F.lit(1)).alias("n")))


# ----------------------------------------------------------------------
# MasterSemiautocuts recipe: load value-cut dicts, AND-fold, saturation
# OR (E3, semiautocuts.py:2066-2159)
# ----------------------------------------------------------------------
@query("semiauto_master_combine", oracle="""
SELECT l_returnflag, count(*) AS n
FROM lineitem
WHERE ((l_quantity > 5.0 AND l_quantity < 45.0) AND l_discount < 0.08)
   OR l_extendedprice > 90000.0
GROUP BY l_returnflag
""")
def semiauto_master_combine(spark: SparkSession, sf_dir: str) -> DataFrame:
    ana = Analyzer(load_table(spark, sf_dir, "lineitem"))
    master = {
        "creation": [],
        "cuts": [
            {"cut_name": "cut_qty", "cut_rq": "l_quantity",
             "time_bins": None, "time_bins_arr": None,
             "ofamp_bins": None, "ofamp_bins_arr": None,
             "ofamp_rq": "l_extendedprice", "chi2_rq": "l_tax",
             "values_lower": [5.0], "values_upper": [45.0]},
            {"cut_name": "cut_disc", "cut_rq": "l_discount",
             "time_bins": None, "time_bins_arr": None,
             "ofamp_bins": None, "ofamp_bins_arr": None,
             "ofamp_rq": "l_extendedprice", "chi2_rq": "l_tax",
             "values_lower": [-1e8], "values_upper": [0.08]},
        ],
        "combo": {"cut_name": "cut_all_li", "sat_pass_threshold": 90000.0},
    }
    msc = MasterSemiautocuts(ana, [], "", ofamp_rq="l_extendedprice")
    msc.create_load_combine_cuts(master, time_col="l_shipdate")
    return (ana._subset_df(ana.df, "cut_all_li")
            .groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n")))


# ======================================================================
# Trace-layer array kernels (F-arr/U4/A17; detanalysis_spark/traces.py)
# The embeddings table's array<float> column stands in for waveforms at
# oracle scale — the kernels are written against array<double> traces.
# ======================================================================
from . import traces as _T  # noqa: E402


def _emb_double(emb_df: DataFrame) -> DataFrame:
    return emb_df.withColumn(
        "vec", F.transform(F.col("embedding"), lambda x: x.cast("double")))


# ----------------------------------------------------------------------
# baseline subtraction (photon_calibration.py:990): per-array mean after
# subtracting the "pretrigger" (first-8-element) mean — pure built-in
# transform/aggregate, whole-stage codegen
# ----------------------------------------------------------------------
@query("array_baseline_centered_mean", oracle="""
SELECT label, count(*) AS n,
       round(avg(
         list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)), 'sum')
           / len(embedding)
         - list_aggregate(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE)), 'sum')
           / 8.0
       ), 6) AS avg_centered_mean
FROM embeddings GROUP BY label
""")
def array_baseline_centered_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb_double(load_table(spark, sf_dir, "embeddings"))
    centered = _T.baseline_subtract(F.col("vec"), 8)
    cmean = (F.aggregate(centered, F.lit(0.0), lambda a, x: a + x)
             / F.size(F.col("vec")))
    return (emb.groupBy("label")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg(cmean), 6).alias("avg_centered_mean")))


# ----------------------------------------------------------------------
# energy integral sum(trace)/fs (A17, photon_calibration.py:2063-2073)
# ----------------------------------------------------------------------
@query("array_energy_by_label", oracle="""
SELECT label, count(*) AS n,
       round(avg(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                'sum') / 1000.0), 6) AS avg_energy,
       round(max(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                'sum') / 1000.0), 6) AS max_energy
FROM embeddings GROUP BY label
""")
def array_energy_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb_double(load_table(spark, sf_dir, "embeddings"))
    energy = _T.trace_energy(F.col("vec"), 1000.0)
    return (emb.groupBy("label")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg(energy), 6).alias("avg_energy"),
                 F.round(F.max(energy), 6).alias("max_energy")))


# ----------------------------------------------------------------------
# pandas_udf low-pass kernel (F-arr) — numerics covered by pytest vs a
# numpy oracle (tests/test_traces.py); rows-only check here exercises
# the Arrow batch path end-to-end on real parquet input
# ----------------------------------------------------------------------
# Planted-sinusoid construction (same move as photon_fft_dpdi):
# trace(vec_id) = a·cos(2πkn/64) + b over n = 0..63 at fs = 1024 Hz,
# cutoff 128 Hz, so rfftfreq's d = 1/1024 is exactly representable and
# f_k/fc = 0.125·k is dyadic — the zero-phase Butterworth gain
# g = 1/(1 + (0.125k)^4) is the same double in both engines. The
# filtered trace is closed-form (y[n] = b + a·g·cos(2πkn/64)), so the
# UDF's rfft → gain → irfft round trip, first/middle samples, the
# energy integral Σy/fs, and the L2 sum Σy² (= 64b² + 32(a·g)² by
# orthogonality) all get exact SQL values. round+0.0 normalizes the
# −0.0 that rounding FFT noise can produce. The value set depends only
# on vec_id mod lcm(16,8,5)=80, so sf0.01 already exercises every
# distinct row this oracle can produce.
@query("lowpass_kernel_embeddings", oracle="""
WITH r AS (
  SELECT vec_id,
         (CAST(vec_id % 16 AS DOUBLE) + 1) / 8 AS a,
         (CAST(vec_id % 8  AS DOUBLE) - 3) / 4 AS b,
         CAST(vec_id % 5 + 1 AS DOUBLE) AS k
  FROM embeddings),
g AS (
  SELECT vec_id, a, b, k,
         1.0 / (1.0 + pow(0.125 * k, 4)) AS gain
  FROM r)
SELECT vec_id,
       round(a * gain + b, 6) + 0.0 AS y0,
       round(b + a * gain * (CASE WHEN CAST(k AS INT) % 2 = 0
                                  THEN 1.0 ELSE -1.0 END), 6) + 0.0
         AS y_mid,
       round(64 * b / 1024, 6) + 0.0 AS lp_energy,
       round(64 * b * b + 32 * (a * gain) * (a * gain), 6) + 0.0 AS l2
FROM g
""")
def lowpass_kernel_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id")
    a = ((F.col("vec_id") % 16).cast("double") + 1) / 8
    b = ((F.col("vec_id") % 8).cast("double") - 3) / 4
    k = (F.col("vec_id") % 5 + 1).cast("double")
    w = F.lit(2.0 * math.pi / 64.0)
    trace = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda n: a * F.cos(w * k * n.cast("double")) + b)
    lp = _T.lowpass_filter_udf(1024.0, 128.0)(trace)
    z = F.lit(0.0)
    l2 = F.aggregate(lp, F.lit(0.0), lambda acc, x: acc + x * x)
    return emb.select(
        "vec_id",
        (F.round(F.element_at(lp, 1), 6) + z).alias("y0"),
        (F.round(F.element_at(lp, 33), 6) + z).alias("y_mid"),
        (F.round(_T.trace_energy(lp, 1024.0), 6) + z).alias("lp_energy"),
        (F.round(l2, 6) + z).alias("l2"))


# ======================================================================
# LLM-data-pipeline pillar (dedup / similarity / text analysis) —
# detanalysis_spark/llm/*.py
# ======================================================================
from .llm import dedup as _DD, text as _TX  # noqa: E402
from .llm.similarity import cosine_topk as _cosine_topk  # noqa: E402
from .llm.similarity import RandomHyperplaneLSH as _RHP  # noqa: E402


# ----------------------------------------------------------------------
# exact dedup via the engine operator: one shuffle keyed by content
# hash, rank-1 per group (llm/dedup.py:dedup_exact)
# ----------------------------------------------------------------------
@query("dedup_exact_by_key", oracle="""
WITH kept AS (
  SELECT * FROM (
    SELECT doc_id, lang, source, n_chars,
           row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
    FROM documents) WHERE rn = 1)
SELECT lang, count(*) AS n_kept,
       CAST(sum(n_chars) AS BIGINT) AS kept_chars,
       CAST(min(doc_id) AS BIGINT) AS min_keep_id
FROM kept GROUP BY lang
""")
def dedup_exact_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    kept = _DD.dedup_exact(docs, ["lang", "source"], "doc_id")
    return (kept.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.sum("n_chars").alias("kept_chars"),
                 F.min("doc_id").alias("min_keep_id")))


# ----------------------------------------------------------------------
# MinHash→LSH→verify near-dup pairs vs an all-pairs SQL oracle. The
# Spark side never materializes all pairs: banded buckets make the
# candidate set ~|true dups| (25 candidates vs 124,750 pairs at sf0.01)
# ----------------------------------------------------------------------
@query("near_dup_pairs_minhash", oracle=r"""
WITH t AS (
  SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
                                for i in range(1, len(toks)-1)]) AS sh
  FROM (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        FROM documents))
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.sh, b.sh))::DOUBLE /
             len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
      len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
""")
def near_dup_pairs_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    nd = _DD.near_dup_pairs(docs, "doc_id", "text", threshold=0.5)
    return nd.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


# ----------------------------------------------------------------------
# persisted on-disk LSH index screen (round 12): build the index over
# the corpus half (initial write + an incremental APPEND — both paths
# under the hash), probe the batch half against it WITHOUT re-signing
# the corpus, verify candidates with exact Jaccard. The oracle is the
# all-cross-pairs Jaccard join — exact because the full-band screen
# has complete recall at this threshold/family on this data (the same
# argument that oracles near_dup_pairs_minhash).
# ----------------------------------------------------------------------
@query("lsh_index_screen_stats", oracle=r"""
WITH t AS (
  SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
                                for i in range(1, len(toks)-1)]) AS sh
  FROM (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        FROM documents))
SELECT a.doc_id AS probe_id, b.doc_id AS corpus_id,
       round(len(list_intersect(a.sh, b.sh))::DOUBLE /
             len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
FROM t a JOIN t b ON a.doc_id < 100 AND b.doc_id >= 100
WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
      len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
""")
def lsh_index_screen_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.dedup import (append_lsh_index, lsh_index_probe,
                            verify_candidates, write_lsh_index)
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter("doc_id >= 100")
    probe = docs.filter("doc_id < 100")
    path = _scratch_dir(sf_dir, "lsh_index")
    write_lsh_index(corpus.filter("doc_id < 300"), path)
    append_lsh_index(spark, path, corpus.filter("doc_id >= 300"))
    cand = (lsh_index_probe(spark, path, probe)
            .withColumnRenamed("probe_id", "id_a")
            .withColumnRenamed("corpus_id", "id_b"))
    ver = verify_candidates(docs, cand, "doc_id", threshold=0.5)
    return ver.select(F.col("id_a").alias("probe_id"),
                      F.col("id_b").alias("corpus_id"),
                      F.round("jaccard", 6).alias("jaccard"))


# ----------------------------------------------------------------------
# connected components over the near-dup graph (iterative min-label
# propagation) vs a recursive-CTE transitive-closure oracle
# ----------------------------------------------------------------------
@query("near_dup_cluster_sizes", oracle=r"""
WITH RECURSIVE t AS (
  SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
                                for i in range(1, len(toks)-1)]) AS sh
  FROM (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        FROM documents)),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM t a JOIN t b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
        len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
e AS (SELECT id_a AS src, id_b AS dst FROM p
      UNION ALL SELECT id_b, id_a FROM p),
reach(src, dst) AS (
  SELECT src, dst FROM e
  UNION
  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
lbl AS (SELECT src AS id, least(src, min(dst)) AS cluster_id
        FROM reach GROUP BY src)
SELECT CAST(cluster_id AS BIGINT) AS cluster_id, count(*) AS n_members
FROM lbl GROUP BY cluster_id
""")
def near_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # lazy pairs: the driver fast path consumes them exactly once (the
    # bounded probe collect); the distributed fallback checkpoints
    # inside near_dup_clusters — one job saved in the common case
    pairs = _DD.near_dup_pairs(docs, "doc_id", "text", threshold=0.5)
    cl = _DD.near_dup_clusters(pairs, checkpoint_fallback=True)
    return cl.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_members"))


# ----------------------------------------------------------------------
# incremental cluster maintenance (round 12): cluster the OLD half's
# pairs, then fold the new batch's pairs in via the super-node
# reduction (update_near_dup_clusters) — the oracle is the SAME
# recursive-CTE transitive closure over the FULL graph, so the
# incremental path must land exactly where a from-scratch CC lands.
# ----------------------------------------------------------------------
@query("incremental_cluster_update_sizes", oracle=r"""
WITH RECURSIVE t AS (
  SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
                                for i in range(1, len(toks)-1)]) AS sh
  FROM (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        FROM documents)),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM t a JOIN t b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
        len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
e AS (SELECT id_a AS src, id_b AS dst FROM p
      UNION ALL SELECT id_b, id_a FROM p),
reach(src, dst) AS (
  SELECT src, dst FROM e
  UNION
  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
lbl AS (SELECT src AS id, least(src, min(dst)) AS cluster_id
        FROM reach GROUP BY src)
SELECT CAST(cluster_id AS BIGINT) AS cluster_id, count(*) AS n_members
FROM lbl GROUP BY cluster_id
""")
def incremental_cluster_update_sizes(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = _DD.near_dup_pairs(docs, "doc_id", "text",
                               threshold=0.5).localCheckpoint(eager=True)
    old_pairs = pairs.filter((F.col("id_a") < 250)
                             & (F.col("id_b") < 250))
    new_pairs = pairs.filter(~((F.col("id_a") < 250)
                               & (F.col("id_b") < 250)))
    base = _DD.near_dup_clusters(old_pairs)
    upd = _DD.update_near_dup_clusters(base, new_pairs)
    return upd.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"))


# ----------------------------------------------------------------------
# EXACT n-gram-Jaccard similarity join (inverted shingle index, NEW
# round 9) vs the same all-pairs SQL oracle family as the MinHash
# path — but here the Spark side guarantees every qualifying pair
# (llm/dedup.py:jaccard_index_pairs): gram-keyed postings self-join
# with the PPJoin size-ratio bound applied before the pair shuffle,
# never an all-pairs product and never a signature miss. Threshold
# 0.4 (vs the MinHash query's 0.5) so the two queries pin different
# cut surfaces of the same corpus.
# ----------------------------------------------------------------------
@query("jaccard_pairs_exact", oracle=r"""
WITH t AS (
  SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
                                for i in range(1, len(toks)-1)]) AS sh
  FROM (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        FROM documents))
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.sh, b.sh))::DOUBLE /
             (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
             6) AS jaccard
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE len(a.sh) >= 1 AND len(b.sh) >= 1
  AND len(list_intersect(a.sh, b.sh))::DOUBLE /
      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.4
""")
def jaccard_pairs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = _DD.jaccard_index_pairs(docs, "doc_id", "text",
                                    threshold=0.4)
    return pairs.select("id_a", "id_b",
                        F.round("jaccard", 6).alias("jaccard"))


# ----------------------------------------------------------------------
# PPJoin prefix-filtered exact Jaccard (NEW round 9) — the same
# no-miss contract as jaccard_pairs_exact but candidates come from
# each doc's rarest |X|-⌈t|X|⌉+1 grams only (llm/dedup.py
# _jaccard_prefix_filtered, Bayardo et al. WWW'07). Same all-pairs
# oracle family at a different threshold: a prefix-lemma bug (one
# gram too few indexed) silently drops pairs and flips the hash.
# ----------------------------------------------------------------------
@query("jaccard_pairs_prefix_filtered", oracle=r"""
WITH t AS (
  SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
                                for i in range(1, len(toks)-1)]) AS sh
  FROM (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        FROM documents))
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.sh, b.sh))::DOUBLE /
             (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
             6) AS jaccard
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE len(a.sh) >= 1 AND len(b.sh) >= 1
  AND len(list_intersect(a.sh, b.sh))::DOUBLE /
      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.6
""")
def jaccard_pairs_prefix_filtered(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = _DD.jaccard_index_pairs(docs, "doc_id", "text",
                                    threshold=0.6, prefix_filter=True)
    return pairs.select("id_a", "id_b",
                        F.round("jaccard", 6).alias("jaccard"))


# ----------------------------------------------------------------------
# Prefix tier on its FAVORABLE corpus shape (NEW round 10, VERDICT r9
# #7): a planted web-text-shaped gram distribution — ~80% of each
# doc's shingles are rare (48 pair-shared u-tokens; consecutive doc
# pairs share their u-block, nothing else), the rest come from a
# 100-token boilerplate pool (12 c-tokens per doc, sliding window),
# so the common trigrams carry df ≈ N/50 while the bulk of the
# vocabulary is df ≤ 2. That is exactly the regime the PPJoin prefix
# filter exists for: the full inverted index pays Σ df² over the
# boilerplate grams (~100× the output pairs), while the prefix tier
# posts only each doc's rarest |X|−⌈t|X|⌉+1 grams — all df ≤ 2 here —
# and never joins through the boilerplate at all.
# CROSSOVER.json records the two tiers head-to-head on this corpus;
# the oracle is the exact all-pairs Jaccard over the same
# construction, so the tier's losslessness (prefix lemma) is what the
# hash gate pins.
# ----------------------------------------------------------------------
@query("jaccard_prefix_longtail_pairs", oracle=r"""
WITH d AS (
  SELECT doc_id,
         list_transform(range(48),
                        i -> 'u' || ((doc_id // 2) * 1000 + i))
         || list_transform(range(12), i -> 'c' || ((doc_id + i) % 100))
         AS toks
  FROM documents),
t AS (
  SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
                                for i in range(1, len(toks)-1)]) AS sh
  FROM d)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.sh, b.sh))::DOUBLE /
             (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
             6) AS jaccard
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.6
""")
def jaccard_prefix_longtail_pairs(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    corpus = _longtail_corpus(spark, sf_dir)
    pairs = _DD.jaccard_index_pairs(corpus, "doc_id", "text",
                                    threshold=0.6, prefix_filter=True)
    return pairs.select("id_a", "id_b",
                        F.round("jaccard", 6).alias("jaccard"))


def _longtail_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The planted long-tailed corpus of
    ``jaccard_prefix_longtail_pairs`` (shared with the crossover
    probe): 48 pair-shared rare tokens + 12 tokens from a 100-token
    boilerplate pool per doc."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pair = F.floor(F.col("doc_id") / F.lit(2)).cast("long")
    utoks = F.transform(
        F.sequence(F.lit(0), F.lit(47)),
        lambda i: F.concat(F.lit("u"),
                           (pair * 1000 + i).cast("string")))
    ctoks = F.transform(
        F.sequence(F.lit(0), F.lit(11)),
        lambda i: F.concat(F.lit("c"),
                           ((F.col("doc_id") + i) % 100)
                           .cast("string")))
    return docs.select(
        "doc_id",
        F.concat_ws(" ", F.concat(utoks, ctoks)).alias("text"))


# ----------------------------------------------------------------------
# Containment (near-superset) pairs (NEW round 9) — Broder's
# asymmetric resemblance: |A ∩ B| / min(|A|,|B|). Jaccard is blind to
# quote-inclusion (a doc embedded in a 10x larger one scores ~0.1), so
# curation needs this measure to catch wrapped/expanded duplicates.
# The corpus plants one wrapper per doc_id % 7 == 0 (prologue + full
# text + epilogue): the wrapped original's trigram set survives intact
# inside the wrapper, so containment is exactly 1.0 — and the oracle
# computes all-pairs containment over the SAME constructed corpus, so
# any false pair or missed real near-superset among the base docs also
# flips the hash.
# ----------------------------------------------------------------------
@query("containment_superset_pairs", oracle=r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000,
         'wrapper prologue preamble ' || text ||
         ' epilogue appendix wrapper'
  FROM documents WHERE doc_id % 7 = 0),
t AS (
  SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
                                for i in range(1, len(toks)-1)]) AS sh
  FROM (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        FROM corpus))
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.sh, b.sh))::DOUBLE /
             least(len(a.sh), len(b.sh)), 6) AS containment
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE least(len(a.sh), len(b.sh)) >= 2
  AND len(list_intersect(a.sh, b.sh))::DOUBLE /
      least(len(a.sh), len(b.sh)) >= 0.9
""")
def containment_superset_pairs(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    wrapped = (docs.filter(F.col("doc_id") % 7 == 0)
               .select((F.col("doc_id") + 1000000).alias("doc_id"),
                       F.concat(F.lit("wrapper prologue preamble "),
                                F.col("text"),
                                F.lit(" epilogue appendix wrapper"))
                       .alias("text")))
    corpus = docs.select("doc_id", "text").unionByName(wrapped)
    pairs = _DD.containment_pairs(corpus, "doc_id", "text",
                                  threshold=0.9, min_shingles=2)
    return pairs.select("id_a", "id_b",
                        F.round("containment", 6).alias("containment"))


# ----------------------------------------------------------------------
# text quality signals (llm/text.py) — portable-regex parity with RE2
# ----------------------------------------------------------------------
@query("text_quality_by_source", oracle=r"""
WITH q AS (
  SELECT source,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks,
         len(text) AS n_chars,
         len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS bpe,
         len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS digits
  FROM documents)
SELECT source, count(*) AS n_docs,
       round(avg(list_aggregate(list_transform(toks, t -> len(t)), 'sum')::DOUBLE
                 / greatest(len(toks), 1)), 6) AS avg_token_len,
       round(avg(len(list_filter(toks,
           t -> list_contains(['a','and','in','is','of','that','the','to'],
                              lower(t))))::DOUBLE
                 / greatest(len(toks), 1)), 6) AS avg_stopword_ratio,
       round(avg(digits::DOUBLE / greatest(n_chars, 1)), 6) AS avg_digit_ratio,
       CAST(sum(bpe) AS BIGINT) AS total_bpe_tokens
FROM q GROUP BY source
""")
def text_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _FAN(load_table(spark, sf_dir, "documents"))
    q = _TX.quality_struct(F.col("text"))
    return (docs
            .select("source", q.alias("q"),
                    _TX.bpe_ish_token_count(F.col("text")).alias("bpe"))
            .select("source",
                    F.col("q.mean_token_len").alias("mtl"),
                    F.col("q.stopword_ratio").alias("swr"),
                    F.col("q.digit_ratio").alias("dgr"),
                    "bpe")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.avg("mtl"), 6).alias("avg_token_len"),
                 F.round(F.avg("swr"), 6).alias("avg_stopword_ratio"),
                 F.round(F.avg("dgr"), 6).alias("avg_digit_ratio"),
                 F.sum(F.col("bpe").cast("long")).alias("total_bpe_tokens")))


# ----------------------------------------------------------------------
# language ID heuristic — stopword-profile argmax with a fixed
# tie-break order, mirrored exactly in the CASE chain
# ----------------------------------------------------------------------
@query("language_id_counts", oracle=r"""
WITH s AS (
  SELECT lang AS true_lang,
         len(list_filter(low, t -> list_contains(
             ['a','and','in','is','of','that','the','to'], t))) AS s_en,
         len(list_filter(low, t -> list_contains(
             ['das','der','die','ein','ist','nicht','und','zu'], t))) AS s_de,
         len(list_filter(low, t -> list_contains(
             ['est','et','la','le','les','pas','que','une'], t))) AS s_fr,
         len(list_filter(low, t -> list_contains(
             ['el','es','la','los','no','que','una','y'], t))) AS s_es
  FROM (SELECT lang, list_transform(list_filter(string_split_regex(text, '\s+'), x -> x <> ''),
                                    t -> lower(t)) AS low
        FROM documents))
SELECT true_lang,
       CASE WHEN greatest(s_en, s_de, s_fr, s_es) <= 0 THEN 'und'
            WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
            WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
            WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
            ELSE 'es' END AS pred_lang,
       count(*) AS n
FROM s GROUP BY true_lang, pred_lang
""")
def language_id_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (load_table(spark, sf_dir, "documents"))
    return (docs
            .select(F.col("lang").alias("true_lang"),
                    _TX.language_id(F.col("text")).alias("pred_lang"))
            .groupBy("true_lang", "pred_lang")
            .agg(F.count(F.lit(1)).alias("n")))


# ----------------------------------------------------------------------
# normalized-content fingerprint (md5 of lower/ws-collapsed text)
# ----------------------------------------------------------------------
@query("doc_fingerprint_stats", oracle=r"""
SELECT lang, count(*) AS n_docs,
       count(DISTINCT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))))
         AS n_distinct_fp
FROM documents GROUP BY lang
""")
def doc_fingerprint_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (docs
            .select("lang", _TX.doc_fingerprint(F.col("text")).alias("fp"))
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.countDistinct("fp").alias("n_distinct_fp")))


# ----------------------------------------------------------------------
# brute-force cosine top-k over embeddings — exact ANN baseline; probes
# broadcast, one corpus scan, per-probe window. Oracle: DuckDB
# list_cosine_similarity on DOUBLE[] (bit-identical fold order,
# verified at sf0.01)
# ----------------------------------------------------------------------
@query("ann_cosine_topk", oracle="""
WITH s AS (
  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                CAST(p.embedding AS DOUBLE[])) AS sim
  FROM embeddings c,
       (SELECT * FROM embeddings WHERE vec_id < 8) p
  WHERE c.vec_id <> p.vec_id),
r AS (SELECT probe_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY sim DESC, neighbor_id ASC) AS rank
      FROM s)
SELECT probe_id, CAST(rank AS INT) AS rank, neighbor_id,
       round(sim, 6) AS sim
FROM r WHERE rank <= 5
""")
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    bf = _cosine_topk(emb, emb.filter(F.col("vec_id") < 8), k=5)
    return bf.select("probe_id", "rank", "neighbor_id",
                     F.round("sim", 6).alias("sim"))


# ----------------------------------------------------------------------
# kNN-graph build (NEW round 9) — exact top-k neighbors for EVERY row,
# blocked by label (the IVF-cell-shaped partitioner at toy scale):
# llm/similarity.py:knn_graph, one applyInPandas gram chunk per block,
# no cross-block pairs, the only shuffle a hash exchange on the block
# key. The oracle replays the label-blocked ranking with DuckDB's own
# cosine — ranks, ids, and rounded scores all hash.
# ----------------------------------------------------------------------
@query("knn_graph_label_blocks", oracle="""
WITH s AS (
  SELECT a.vec_id AS id, b.vec_id AS neighbor_id,
         list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                CAST(b.embedding AS DOUBLE[])) AS sim
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id <> b.vec_id),
r AS (SELECT id, neighbor_id, sim,
             row_number() OVER (PARTITION BY id
                                ORDER BY sim DESC, neighbor_id ASC)
               AS rank
      FROM s)
SELECT id, CAST(rank AS INT) AS rank, neighbor_id,
       round(sim, 6) AS cosine
FROM r WHERE rank <= 3
""")
def knn_graph_label_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.similarity import knn_graph
    emb = load_table(spark, sf_dir, "embeddings")
    g = knn_graph(emb, k=3, block_col="label")
    return g.select("id", "rank", "neighbor_id",
                    F.round("cosine", 6).alias("cosine"))


# ----------------------------------------------------------------------
# streaming micro-batch ANN (zero aggregation state): probes arrive as
# a 2-file stream, each micro-batch ranks via foreachBatch against the
# static corpus. n_probe == n_centroids makes the IVF search EXHAUSTIVE
# and exactly equal to brute-force cosine, so the unbounded-safe
# streaming path gets a full DuckDB value-hash oracle.
# ----------------------------------------------------------------------
@query("streaming_ann_microbatch_topk", oracle="""
WITH s AS (
  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                CAST(p.embedding AS DOUBLE[])) AS sim
  FROM embeddings c,
       (SELECT * FROM embeddings WHERE vec_id < 8) p
  WHERE c.vec_id <> p.vec_id),
r AS (SELECT probe_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY sim DESC, neighbor_id ASC) AS rank
      FROM s)
SELECT probe_id, CAST(rank AS INT) AS rank, neighbor_id,
       round(sim, 6) AS sim
FROM r WHERE rank <= 5
""")
def streaming_ann_microbatch_topk(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    from .llm.similarity import IVFIndex
    from .streaming.continuous import streaming_ann_topk_microbatch

    emb = load_table(spark, sf_dir, "embeddings")
    ivf = IVFIndex(n_centroids=4, n_probe=4, seed=2).fit(emb)
    base = _scratch_dir(sf_dir, "ann_mb")
    probes = emb.filter(F.col("vec_id") < 8)
    # fixture staging is driver-side (bounded rows): a Spark write job
    # per few-KB fixture file is pure stage-launch overhead
    write_small_parquet(spark, probes.filter(F.col("vec_id") < 4),
                        f"{base}/in/a")
    write_small_parquet(spark, probes.filter(F.col("vec_id") >= 4),
                        f"{base}/in/b")
    sdf = (spark.readStream.schema(probes.schema)
           .option("maxFilesPerTrigger", 1)
           .option("recursiveFileLookup", "true")
           .parquet(f"{base}/in"))
    streaming_ann_topk_microbatch(
        sdf, ivf, emb, f"{base}/out", f"{base}/ck", k=5,
        query_name="ann_mb_suite")
    hits = spark.read.parquet(f"{base}/out").drop("__batch_id__")
    out = (hits.select("probe_id", "rank", "neighbor_id",
                       F.round("sim", 6).alias("sim"))
           .localCheckpoint(eager=True))   # detach from the tmp files
    shutil.rmtree(base, ignore_errors=True)
    return out


# ----------------------------------------------------------------------
# streaming stateful ANN (complete-mode aggregation state): the same
# exhaustive-IVF trick (n_probe == n_centroids ⇒ identical to
# brute-force cosine) gives the collect_list-ranked STATEFUL streaming
# path (streaming_ann_topk) a full DuckDB value-hash oracle — the
# microbatch query above covers the zero-state foreachBatch twin.
# ----------------------------------------------------------------------
@query("streaming_ann_state_topk", oracle="""
WITH s AS (
  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                CAST(p.embedding AS DOUBLE[])) AS sim
  FROM embeddings c,
       (SELECT * FROM embeddings
        WHERE vec_id >= 8 AND vec_id < 16) p
  WHERE c.vec_id <> p.vec_id),
r AS (SELECT probe_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY sim DESC, neighbor_id ASC) AS rank
      FROM s)
SELECT probe_id, CAST(rank AS INT) AS rank, neighbor_id,
       round(sim, 6) AS sim
FROM r WHERE rank <= 5
""")
def streaming_ann_state_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.similarity import IVFIndex
    from .streaming.continuous import run_available_now, streaming_ann_topk

    emb = load_table(spark, sf_dir, "embeddings")
    ivf = IVFIndex(n_centroids=4, n_probe=4, seed=2).fit(emb)
    base = _scratch_dir(sf_dir, "ann_state")
    probes = emb.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 16))
    write_small_parquet(spark, probes, f"{base}/in")
    sdf = (spark.readStream.schema(probes.schema)
           .option("maxFilesPerTrigger", 1).parquet(f"{base}/in"))
    got = run_available_now(
        streaming_ann_topk(sdf, ivf, emb, k=5),
        f"ann_state_suite_{os.getpid()}", output_mode="complete",
        shuffle_partitions=8)
    out = (got.select("probe_id", "rank", "neighbor_id",
                      F.round("sim", 6).alias("sim"))
           .localCheckpoint(eager=True))
    shutil.rmtree(base, ignore_errors=True)
    return out


# ----------------------------------------------------------------------
# streaming near-dup screen + exact verify: odd-id documents stream in
# against the even-id corpus's precomputed LSH band buckets; the drain
# emits candidate (stream, corpus) PAIRS (append-mode dropDuplicates
# state) — the stream side is signed exactly once, in the drain — and
# the batch exact-Jaccard verify consumes the drained pairs directly.
# Output depends on the DRAINED pair set
# (a missed stream hit drops a row → hash mismatch), while the
# all-pairs SQL oracle stays exact because planted near-dups sit at
# jaccard ≥ 0.96 where 16-band/4-row LSH recall is 1 - ~1e-15.
# ----------------------------------------------------------------------
@query("streaming_near_dup_screen_stats", oracle=r"""
WITH t AS (
  SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
                                for i in range(1, len(toks)-1)]) AS sh
  FROM (SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
                                   x -> x <> '') AS toks
        FROM documents)),
p AS (
  SELECT o.doc_id AS doc_id,
         len(list_intersect(o.sh, e.sh))::DOUBLE /
         len(list_distinct(list_concat(o.sh, e.sh))) AS j
  FROM t o JOIN t e
    ON o.doc_id % 2 = 1 AND e.doc_id % 2 = 0
  WHERE len(list_intersect(o.sh, e.sh))::DOUBLE /
        len(list_distinct(list_concat(o.sh, e.sh))) >= 0.5)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
       round(max(j), 6) AS max_jaccard
FROM p GROUP BY doc_id
""")
def streaming_near_dup_screen_stats(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    from .streaming.continuous import (run_available_now,
                                       streaming_near_dup_hits)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    stream_docs = docs.filter(F.col("doc_id") % 2 == 1)

    corpus_sigs = _DD.minhash_signatures(corpus)
    buckets = _DD.lsh_band_buckets(corpus_sigs, "doc_id", "minhash",
                                   16, 4).localCheckpoint(eager=True)
    # the bucket table is materialized once and probed by every
    # micro-batch of the drain (stream-static join)

    base = _scratch_dir(sf_dir, "nd_screen")
    # 2 part files = 2 micro-batches; the drained pair set is
    # batch-composition independent (append-mode distinct pairs)
    write_small_parquet(spark, stream_docs, f"{base}/in", n_files=2)
    sdf = (spark.readStream.schema(stream_docs.schema)
           .option("maxFilesPerTrigger", 1).parquet(f"{base}/in"))
    # the drain emits CANDIDATE PAIRS (stream id, corpus id) — the
    # stream side is MinHash-signed exactly once, inside the drain;
    # the batch verify below consumes the drained pairs directly
    # instead of re-signing the stream docs (signing is the dominant
    # screen cost at scale; one minhash_signatures call per side)
    pairs = run_available_now(
        streaming_near_dup_hits(sdf, buckets, emit="pairs"),
        f"nd_screen_suite_{os.getpid()}", output_mode="append",
        shuffle_partitions=8).localCheckpoint(eager=True)
    shutil.rmtree(base, ignore_errors=True)

    # candidates-only exact verify (batch), gated on the drained
    # pairs — never all-pairs: |flagged| × bucket-colliding corpus docs
    cand = pairs.select(F.col("doc_id").alias("id_a"),
                        F.col("corpus_id").alias("id_b"))
    ver = _DD.verify_candidates(docs, cand, "doc_id", threshold=0.5)
    return (ver.groupBy(F.col("id_a").alias("doc_id"))
            .agg(F.count(F.lit(1)).alias("n_matches"),
                 F.round(F.max("jaccard"), 6).alias("max_jaccard")))


# ----------------------------------------------------------------------
# LSH-bucketed ANN (hyperplane sign projection): exact cosine only on
# bucket candidates — the 100 TB path. The hyperplanes are pinned to
# the first 6 coordinate axes, so the bucket id is a plain sign-bit
# sum the oracle replays in SQL (Σ (v[j]>0)·2^j); the signature UDF,
# bucket equi-join, and windowed top-k are the exact code path the
# seeded-random configuration uses (recall of that configuration vs
# brute force stays pytest'd).
# ----------------------------------------------------------------------
# 6 sign bits → 64 buckets: selective enough to prove the bucket join
# prunes (≈1/64 of the corpus scored per probe), dense enough that
# every probe ranks a real top-5 at sf0.01's 500 vectors
_LSH_BUCKET_SQL = " + ".join(
    f"(CASE WHEN embedding[{j + 1}] > 0 THEN {1 << j} ELSE 0 END)"
    for j in range(6))


@query("ann_lsh_topk", oracle=f"""
WITH b AS (
  SELECT vec_id, embedding,
         {_LSH_BUCKET_SQL} AS bucket
  FROM embeddings),
s AS (
  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                CAST(p.embedding AS DOUBLE[])) AS sim
  FROM b c JOIN b p ON c.bucket = p.bucket
  WHERE p.vec_id < 8 AND c.vec_id <> p.vec_id),
r AS (SELECT probe_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY sim DESC, neighbor_id ASC) AS rank
      FROM s)
SELECT probe_id, CAST(rank AS INT) AS rank, neighbor_id,
       round(sim, 6) AS sim
FROM r WHERE rank <= 5
""")
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    emb = load_table(spark, sf_dir, "embeddings")
    planes = np.zeros((1, 6, 64))
    planes[0, np.arange(6), np.arange(6)] = 1.0   # axis-aligned
    lsh = _RHP(dim=64, bits=6, tables=1, planes=planes)
    ap = lsh.topk(emb, emb.filter(F.col("vec_id") < 8), k=5)
    return ap.select("probe_id", "rank", "neighbor_id",
                     F.round("sim", 6).alias("sim"))


# ----------------------------------------------------------------------
# SimHash + native hamming distance over planted candidate pairs. The
# per-token hash is pinned to the token's own numeric value (three
# decimal tokens per doc derived from doc_id), so the pandas-UDF
# majority vote must reproduce the bitwise 3-way median
# (a&b)|(a&c)|(b&c) — a full SQL oracle THROUGH the vote kernel and
# the native popcount, including the fingerprint VALUES (a single
# flipped vote bit shifts a hamming distance → hash mismatch). The
# xxhash64-hashed production configuration rides the same kernel and
# keeps its numpy-differential pytest.
# ----------------------------------------------------------------------
@query("simhash_candidate_distances", oracle="""
WITH s AS (
  SELECT doc_id,
         ((doc_id*7+1) & (doc_id*13+5))
         | ((doc_id*7+1) & (doc_id*31+11))
         | ((doc_id*13+5) & (doc_id*31+11)) AS sh
  FROM documents),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sha, b.sh AS shb
  FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id % 2 = 0)
SELECT id_a, id_b,
       CAST(bit_count(xor(sha, shb)) AS INT) AS hamming
FROM p
""")
def simhash_candidate_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    toks = docs.select(
        "doc_id",
        F.concat_ws(" ",
                    (F.col("doc_id") * 7 + 1).cast("string"),
                    (F.col("doc_id") * 13 + 5).cast("string"),
                    (F.col("doc_id") * 31 + 11).cast("string"))
        .alias("text"))
    sh = toks.select(
        "doc_id",
        _DD.simhash(F.col("text"),
                    token_hash=lambda t: t.cast("long")).alias("sh"))
    cand = (docs.filter(F.col("doc_id") % 2 == 0)
            .select(F.col("doc_id").alias("id_a"),
                    (F.col("doc_id") + 1).alias("id_b"))
            .join(docs.select(F.col("doc_id").alias("id_b")), "id_b"))
    return (cand
            .join(sh.select(F.col("doc_id").alias("id_a"),
                            F.col("sh").alias("sh_a")), "id_a")
            .join(sh.select(F.col("doc_id").alias("id_b"),
                            F.col("sh").alias("sh_b")), "id_b")
            .select("id_a", "id_b",
                    _DD.hamming_distance(F.col("sh_a"), F.col("sh_b"))
                    .alias("hamming")))


# ======================================================================
# Vibration/spectral engine (A12, A16, ST5; detanalysis_spark/vibration.py)
# — sweep-shaped frame derived deterministically from `events`
# (testdata has no sweep table; pytest covers FIXTURES §3 semantics)
# ======================================================================
from . import vibration as _V  # noqa: E402

# T = 1000 ms → Δf = 1 Hz → the 1/√Δf normalization is exactly 1,
# keeping the SQL oracle free of normalization constants
_SWEEP_SQL_BASE = """
  SELECT CAST(user_id % 5 AS DOUBLE) AS frequency_hz,
         value / 100.0            AS ra, (value - 250.0) / 100.0 AS ia,
         value / 200.0 + 1.0      AS rb, -value / 300.0          AS ib
  FROM events
"""


def _sweep_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        (F.col("user_id") % 5).cast("double").alias("frequency_hz"),
        F.lit(1000.0).alias("trace_length_msec"),
        (F.col("value") / 100.0).alias("amp_real_chA"),
        ((F.col("value") - 250.0) / 100.0).alias("amp_imag_chA"),
        (F.col("value") / 200.0 + 1.0).alias("amp_real_chB"),
        (-F.col("value") / 300.0).alias("amp_imag_chB"))


@query("vibration_sweep_moments", oracle=f"""
WITH base AS ({_SWEEP_SQL_BASE})
SELECT frequency_hz, count(*) AS n,
       round(avg(ra), 6) AS m_re_a, round(avg(ia), 6) AS m_im_a,
       round(avg(ra*ra + ia*ia), 6) AS s_aa,
       round(avg(rb*rb + ib*ib), 6) AS s_bb,
       round(avg(ra*rb + ia*ib), 6) AS s_ab_re,
       round(avg(ia*rb - ra*ib), 6) AS s_ab_im,
       round(avg((ra*ra + ia*ia) * (rb*rb + ib*ib)), 6) AS r_ab
FROM base GROUP BY frequency_hz
""")
def vibration_sweep_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    mom = _V.sweep_moments(_sweep_frame(spark, sf_dir), ["chA", "chB"],
                           trace_length_msec=1000.0)
    return mom.select(
        "frequency_hz", "n",
        F.round("m_re__chA", 6).alias("m_re_a"),
        F.round("m_im__chA", 6).alias("m_im_a"),
        F.round("S_re__chA__chA", 6).alias("s_aa"),
        F.round("S_re__chB__chB", 6).alias("s_bb"),
        F.round("S_re__chA__chB", 6).alias("s_ab_re"),
        F.round("S_im__chA__chB", 6).alias("s_ab_im"),
        F.round("R__chA__chB", 6).alias("r_ab"))


@query("vibration_psd_by_channel", oracle=f"""
WITH base AS ({_SWEEP_SQL_BASE}),
mom AS (SELECT frequency_hz, count(*) AS n,
               avg(ra*ra + ia*ia) AS s_aa, avg(rb*rb + ib*ib) AS s_bb,
               avg((ra*ra + ia*ia) * (ra*ra + ia*ia)) AS r_aa,
               avg((rb*rb + ib*ib) * (rb*rb + ib*ib)) AS r_bb
        FROM base GROUP BY frequency_hz)
SELECT frequency_hz, 'chA' AS channel, round(s_aa, 6) AS psd,
       round(greatest(r_aa - s_aa*s_aa, 0) / (n - 1) / (4*s_aa), 6)
         AS asd_variance
FROM mom
UNION ALL
SELECT frequency_hz, 'chB', round(s_bb, 6),
       round(greatest(r_bb - s_bb*s_bb, 0) / (n - 1) / (4*s_bb), 6)
FROM mom
""")
def vibration_psd_by_channel(spark: SparkSession, sf_dir: str) -> DataFrame:
    mom = _V.sweep_moments(_sweep_frame(spark, sf_dir), ["chA", "chB"],
                           trace_length_msec=1000.0)
    psd = _V.psd_from_moments(mom, ["chA", "chB"])
    return psd.select("frequency_hz", "channel",
                      F.round("psd", 6).alias("psd"),
                      F.round("asd_variance", 6).alias("asd_variance"))


@query("vibration_transfer_functions", oracle=f"""
WITH base AS ({_SWEEP_SQL_BASE}),
mom AS (SELECT frequency_hz, count(*) AS n,
               avg(ra*ra + ia*ia) AS s_ii, avg(rb*rb + ib*ib) AS s_oo,
               avg(rb*ra + ib*ia) AS c_re, avg(ib*ra - rb*ia) AS c_im,
               avg((ra*ra + ia*ia) * (ra*ra + ia*ia)) AS r_ii,
               avg((rb*rb + ib*ib) * (rb*rb + ib*ib)) AS r_oo,
               avg((rb*rb + ib*ib) * (ra*ra + ia*ia)) AS r_oi
        FROM base GROUP BY frequency_hz),
v AS (SELECT *,
             greatest(r_oo - s_oo*s_oo, 0) / (n - 1) AS var_o,
             greatest(r_ii - s_ii*s_ii, 0) / (n - 1) AS var_i,
             greatest(r_oi - (c_re*c_re + c_im*c_im), 0) / (n - 1) AS var_c
      FROM mom)
SELECT frequency_hz, 'rms-ratio' AS method,
       round(sqrt(s_oo / s_ii), 6) AS tf_re, 0.0 AS tf_im,
       round(sqrt(s_oo / s_ii)
             * 0.5 * sqrt(var_o / (s_oo*s_oo) + var_i / (s_ii*s_ii)), 6)
         AS tf_sigma
FROM v
UNION ALL
SELECT frequency_hz, 'cross-correlation',
       round(c_re / s_ii, 6), round(c_im / s_ii, 6),
       round(sqrt(c_re*c_re + c_im*c_im) / s_ii
             * sqrt(var_c / (c_re*c_re + c_im*c_im)
                    + var_i / (s_ii*s_ii)), 6)
FROM v
""")
def vibration_transfer_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    mom = _V.sweep_moments(_sweep_frame(spark, sf_dir), ["chA", "chB"],
                           trace_length_msec=1000.0)
    tf = _V.transfer_functions(mom, [("chB", "chA")],
                               methods=["rms-ratio", "cross-correlation"])
    return tf.select("frequency_hz", "method",
                     F.round("tf_re", 6).alias("tf_re"),
                     F.round("tf_im", 6).alias("tf_im"),
                     F.round("tf_sigma", 6).alias("tf_sigma"))


# ======================================================================
# Photon calibration (A14, A15, U3; detanalysis_spark/photon.py) —
# embeddings arrays stand in for traces, label for the photon peak
# ======================================================================
from . import photon as _P  # noqa: E402


# ----------------------------------------------------------------------
# native CASE peak assignment (photon_cut_dict analog)
# ----------------------------------------------------------------------
@query("photon_peak_counts", oracle="""
SELECT CASE WHEN abs(value - 0.0)   < 2.0 * 40.0 THEN 0
            WHEN abs(value - 250.0) < 2.0 * 50.0 THEN 1
            WHEN abs(value - 500.0) < 2.0 * 60.0 THEN 2
            END AS peak,
       count(*) AS n,
       round(avg(value), 6) AS avg_amp
FROM events GROUP BY peak
""")
def photon_peak_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    peak = _P.photon_peak_expr("value", 250.0, [40.0, 50.0, 60.0],
                               n_sigma=2.0)
    return (ev.groupBy(peak.alias("peak"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("value"), 6).alias("avg_amp")))


# ----------------------------------------------------------------------
# grouped trace averaging (A14): posexplode → groupBy(peak,pos).avg,
# baseline = mean of the averaged pulse's first 8 samples
# ----------------------------------------------------------------------
@query("photon_average_pulses", oracle="""
WITH m AS (
  SELECT label AS peak, i AS pos,
         avg(CAST(embedding[i + 1] AS DOUBLE)) AS raw
  FROM embeddings, range(64) r(i)
  GROUP BY label, i),
b AS (SELECT peak, avg(raw) AS base FROM m WHERE pos < 8 GROUP BY peak)
SELECT m.peak, CAST(m.pos AS INT) AS pos,
       round(m.raw - b.base, 6) AS value
FROM m JOIN b ON m.peak = b.peak
""")
def photon_average_pulses(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb_double(load_table(spark, sf_dir, "embeddings"))
    avg = _P.average_pulses(
        emb.select(F.col("label").alias("peak"),
                   F.col("vec").alias("trace")),
        baseline_samples=8)
    return avg.select("peak", "pos", F.round("value", 6).alias("value"))


# ----------------------------------------------------------------------
# per-bin FFT ensemble stats + dPdI application (A15) — pandas_udf FFT
# → rows-only; numerics pytest'd vs numpy (tests/test_photon.py)
# ----------------------------------------------------------------------
# Planted-sinusoid construction: trace(vec_id) = a·cos(2πkn/64)
# + c·sin(2πkn/64) + b with k = peak+1 and dyadic a/b/c derived from
# vec_id, sampled over n = 0..63 at fs = 64 Hz so the 1/√(n·fs)
# normalization is exactly 1/64. The DFT is then closed-form — bin 0
# carries b, bin k carries (a/2, −c/2), every other bin is zero — so
# the ensemble means/stds and the dPdI complex multiply + error
# propagation are plain SQL aggregates over the same planted values:
# a full value-hash oracle THROUGH the numpy-rfft pandas UDF, the
# explode/groupBy ensemble, and apply_dpdi (a wrong FFT bin, vote, or
# propagation constant shifts a rounded value → mismatch). The
# arbitrary-waveform path keeps its analytic pytest fixtures.
# round(x,6) + 0.0 normalizes the −0.0 that rounding the FFT's ~1e−13
# zero-bin noise can produce (IEEE: −0.0 + 0.0 = +0.0) so both engines
# hash identical bytes.
@query("photon_fft_dpdi", oracle="""
WITH r AS (
  SELECT vec_id, vec_id % 4 AS peak,
         (CAST(vec_id % 16 AS DOUBLE) + 1) / 8 AS a,
         (CAST(vec_id % 8  AS DOUBLE) - 3) / 4 AS b,
         (CAST(vec_id % 12 AS DOUBLE) - 5) / 8 AS c
  FROM embeddings),
g AS (
  SELECT peak, count(*) AS m,
         avg(a) AS ma, avg(b) AS mb, avg(c) AS mc,
         stddev_pop(a) AS sa, stddev_pop(b) AS sb, stddev_pop(c) AS sc
  FROM r GROUP BY peak),
stats AS (
  SELECT peak, bin,
         CASE WHEN bin = 0 THEN mb
              WHEN bin = peak + 1 THEN ma / 2 ELSE 0 END AS mean_re,
         CASE WHEN bin = peak + 1 THEN -mc / 2 ELSE 0 END AS mean_im,
         CASE WHEN bin = 0 THEN sb / sqrt(m)
              WHEN bin = peak + 1 THEN sa / 2 / sqrt(m)
              ELSE 0 END AS std_re,
         CASE WHEN bin = peak + 1 THEN sc / 2 / sqrt(m)
              ELSE 0 END AS std_im
  FROM g CROSS JOIN (SELECT CAST(j AS INT) AS bin
                     FROM range(33) t(j))),
d AS (
  SELECT CAST(j AS INT) AS bin,
         1.0 + j * 0.1 AS d_re, 0.5 - j * 0.01 AS d_im,
         0.01 AS e_re, 0.02 AS e_im,
         sqrt((1.0 + j*0.1)*(1.0 + j*0.1)
              + (0.5 - j*0.01)*(0.5 - j*0.01)) AS mag
  FROM range(33) t(j))
SELECT CAST(s.peak AS BIGINT) AS peak, s.bin AS bin,
       round(mean_re*d_re - mean_im*d_im, 6) + 0.0 AS mean_p_re,
       round(mean_re*d_im + mean_im*d_re, 6) + 0.0 AS mean_p_im,
       round(sqrt((mean_re*e_re)*(mean_re*e_re)
                  + (std_re*mag)*(std_re*mag)), 6) + 0.0 AS std_p_re,
       round(sqrt((mean_im*e_im)*(mean_im*e_im)
                  + (std_im*mag)*(std_im*mag)), 6) + 0.0 AS std_p_im
FROM stats s JOIN d ON s.bin = d.bin
""")
def photon_fft_dpdi(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id")
    a = ((F.col("vec_id") % 16).cast("double") + 1) / 8
    b = ((F.col("vec_id") % 8).cast("double") - 3) / 4
    c = ((F.col("vec_id") % 12).cast("double") - 5) / 8
    k = (F.col("vec_id") % 4 + 1).cast("double")
    w = F.lit(2.0 * math.pi / 64.0)
    trace = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda n: a * F.cos(w * k * n.cast("double"))
        + c * F.sin(w * k * n.cast("double")) + b)
    traces = emb.select((F.col("vec_id") % 4).alias("peak"),
                        trace.alias("trace"))
    stats = _P.fft_ensemble_stats(traces, fs=64.0)
    dpdi = spark.range(33).select(
        F.col("id").alias("freq_index"),
        (1.0 + F.col("id") * 0.1).alias("value_real"),
        (0.5 - F.col("id") * 0.01).alias("value_imag"),
        F.lit(0.01).alias("err_real"), F.lit(0.02).alias("err_imag"))
    out = _P.apply_dpdi(stats, dpdi)
    z = F.lit(0.0)
    return out.select("peak", "bin",
                      (F.round("mean_p_re", 6) + z).alias("mean_p_re"),
                      (F.round("mean_p_im", 6) + z).alias("mean_p_im"),
                      (F.round("std_p_re", 6) + z).alias("std_p_re"),
                      (F.round("std_p_im", 6) + z).alias("std_p_im"))


# ======================================================================
# Structured Streaming (ST1/ST3; detanalysis_spark/streaming/) — the
# same unbounded-source + incremental-aggregation machinery the
# continuous-trace path uses, driven over the events table with
# AvailableNow so the result is a bounded, oracle-checkable frame.
# (ST2 stateful rechunker is pytest'd against the batch engine.)
# ======================================================================
import uuid as _uuid  # noqa: E402


@query("streaming_event_counts", oracle="""
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events GROUP BY event_type
""")
def streaming_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming import run_available_now
    schema = load_table(spark, sf_dir, "events").schema
    # the file-stream source wants a directory: scan sf_dir with a glob
    # pinned to the events table file
    sdf = (spark.readStream.schema(schema)
           .option("pathGlobFilter", "events.parquet").parquet(sf_dir))
    agg = (sdf.groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(cents(F.col("value"))).alias("sum_cents")))
    name = f"sec_{_uuid.uuid4().hex[:8]}"
    return run_available_now(agg, name, output_mode="complete")


# ======================================================================
# Multimodal binary columns (llm/multimodal.py) — documents' utf-8
# bytes stand in as RAW8 image payloads (testdata has no binary table);
# decode truncates/zero-pads to the declared 16×4 shape, so the SQL
# oracle can mirror it with ord(substr(...)) over the first 64 chars
# (the corpus is ASCII)
# ======================================================================
from .llm import multimodal as _MM  # noqa: E402


@query("multimodal_image_stats", oracle="""
WITH px AS (
  SELECT doc_id, lang,
         [CASE WHEN i < len(text)
               THEN ord(substr(text, i + 1, 1)) ELSE 0 END
          for i in range(64)] AS bytes64
  FROM documents),
lum AS (SELECT doc_id, lang,
               list_aggregate(bytes64, 'sum') / 255.0 / 64.0 AS mean_lum
        FROM px)
SELECT lang, count(*) AS n,
       round(avg(mean_lum), 6) AS avg_lum,
       round(min(mean_lum), 6) AS min_lum
FROM lum GROUP BY lang
""")
def multimodal_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    imgs = docs.select(
        "doc_id", "lang",
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.lit(16).alias("width"), F.lit(4).alias("height"),
        F.lit(1).alias("channels"), F.lit("RAW8").alias("format"))
    feats = _MM.image_features(imgs, "doc_id", out_w=2, out_h=2)
    return (feats.join(docs.select("doc_id", "lang"), "doc_id")
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("mean_lum"), 6).alias("avg_lum"),
                 F.round(F.min("mean_lum"), 6).alias("min_lum")))


# ----------------------------------------------------------------------
# baseline-JPEG multimodal path with an EXACT value oracle: at
# quality=100 the scaled quant tables are all ones, and a grayscale
# image whose 8x8 blocks are each constant decodes bit-exactly (DC-only
# blocks, integer DC, unit quant) — so DuckDB can replay the whole
# decode as block arithmetic. The stream still exercises the real
# codec end-to-end: marker/DQT/DHT parsing, huffman entropy decode,
# DRI/RSTn restarts, IDCT, clipping. Lossy-path accuracy is pytest'd
# (round-trip RMSE at the quantization-error scale).
# ----------------------------------------------------------------------
@query("multimodal_jpeg_stats", oracle="""
WITH b AS (
  SELECT doc_id, lang,
         length(text) % 256 AS b1, (doc_id * 37) % 256 AS b2
  FROM documents WHERE doc_id < 200),
m AS (SELECT lang, (b1 + b2) / 2.0 / 255.0 AS mean_lum FROM b)
SELECT lang, count(*) AS n,
       round(avg(mean_lum), 6) AS avg_lum,
       round(min(mean_lum), 6) AS min_lum
FROM m GROUP BY lang
""")
def multimodal_jpeg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.types import BinaryType

    def _planted(b1, b2):
        import numpy as np
        from .llm.jpeg import encode_jpeg

        def build(v1: int, v2: int) -> bytes:
            img = np.empty((8, 16, 1))
            img[:, :8, 0] = v1 / 255.0
            img[:, 8:, 0] = v2 / 255.0
            return encode_jpeg(img, quality=100, restart_interval=1)

        return pd.Series([build(int(a), int(b))
                          for a, b in zip(b1, b2)])

    # real (non-string) annotations: the module-wide postponed
    # evaluation would otherwise hand pandas_udf unresolvable strings
    _planted.__annotations__ = {"b1": pd.Series, "b2": pd.Series,
                                "return": pd.Series}
    planted_jpeg = F.pandas_udf(_planted, BinaryType())

    docs = (load_table(spark, sf_dir, "documents")
                .filter("doc_id < 200"))
    imgs = docs.select(
        "doc_id", "lang",
        planted_jpeg(F.length("text") % 256,
                     (F.col("doc_id") * 37) % 256).alias("payload"),
        F.lit(16).alias("width"), F.lit(8).alias("height"),
        F.lit(1).alias("channels"), F.lit("JPEG").alias("format"))
    feats = _MM.image_features(imgs, "doc_id", out_w=2, out_h=2)
    return (feats.join(docs.select("doc_id", "lang"), "doc_id")
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("mean_lum"), 6).alias("avg_lum"),
                 F.round(F.min("mean_lum"), 6).alias("min_lum")))


# ----------------------------------------------------------------------
# corrupt-payload quarantine (VERDICT r10 #1): the same planted
# quality-100 JPEG corpus as multimodal_jpeg_stats, but two planted
# corruption classes — doc_id%7==3 payloads truncated to 12 bytes
# (dies in marker parse → ValueError) and doc_id%11==5 payloads with
# the SOF0 marker swapped to SOF9 (arithmetic-coded → unsupported,
# NotImplementedError). on_error="quarantine" must carry every row
# through with NULL features + a classified corrupt_reason; good rows
# keep the exact constant-block decode, so the oracle replays counts
# AND values. The job-survival property itself is pytest'd
# (tests/test_multimodal.py).
# ----------------------------------------------------------------------
@query("multimodal_quarantine_stats", oracle="""
WITH b AS (
  SELECT doc_id, lang,
         length(text) % 256 AS b1, (doc_id * 37) % 256 AS b2,
         (doc_id % 7 = 3) AS is_trunc,
         (doc_id % 11 = 5 AND doc_id % 7 <> 3) AS is_arith
  FROM documents WHERE doc_id < 300)
SELECT lang, count(*) AS n_total,
       CAST(sum(CASE WHEN is_trunc THEN 1 ELSE 0 END) AS BIGINT)
         AS n_truncated,
       CAST(sum(CASE WHEN is_arith THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unsupported,
       round(avg(CASE WHEN NOT (is_trunc OR is_arith)
                      THEN (b1 + b2) / 2.0 / 255.0 END), 6)
         AS avg_good_lum
FROM b GROUP BY lang
""")
def multimodal_quarantine_stats(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.types import BinaryType

    def _planted(doc_id, b1, b2):
        import numpy as np
        from .llm.jpeg import encode_jpeg

        def build(d: int, v1: int, v2: int) -> bytes:
            img = np.empty((8, 16, 1))
            img[:, :8, 0] = v1 / 255.0
            img[:, 8:, 0] = v2 / 255.0
            payload = encode_jpeg(img, quality=100, restart_interval=1)
            if d % 7 == 3:
                return payload[:12]                   # truncated stream
            if d % 11 == 5:
                # quality-100 quant tables are all ones (no 0xFF bytes
                # before the frame header), so the first FFC0 is SOF0
                return payload.replace(b"\xff\xc0", b"\xff\xc9", 1)
            return payload

        return pd.Series([build(int(d), int(a), int(b))
                          for d, a, b in zip(doc_id, b1, b2)])

    _planted.__annotations__ = {"doc_id": pd.Series, "b1": pd.Series,
                                "b2": pd.Series, "return": pd.Series}
    planted_jpeg = F.pandas_udf(_planted, BinaryType())

    docs = (load_table(spark, sf_dir, "documents")
                .filter("doc_id < 300"))
    imgs = docs.select(
        "doc_id", "lang",
        planted_jpeg(F.col("doc_id"), F.length("text") % 256,
                     (F.col("doc_id") * 37) % 256).alias("payload"),
        F.lit(16).alias("width"), F.lit(8).alias("height"),
        F.lit(1).alias("channels"), F.lit("JPEG").alias("format"))
    feats = _MM.image_features(imgs, "doc_id", out_w=2, out_h=2,
                               on_error="quarantine")
    return (feats.join(docs.select("doc_id", "lang"), "doc_id")
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_total"),
                 F.sum(F.coalesce(F.col("corrupt_reason")
                        .startswith("ValueError").cast("long"),
                        F.lit(0))).alias("n_truncated"),
                 F.sum(F.coalesce(F.col("corrupt_reason")
                        .startswith("NotImplementedError").cast("long"),
                        F.lit(0))).alias("n_unsupported"),
                 F.round(F.avg(F.when(F.col("corrupt_reason").isNull(),
                                      F.col("mean_lum"))), 6)
                  .alias("avg_good_lum")))


# ----------------------------------------------------------------------
# Header-only image metadata survey (round 11; hardened round 12): at
# 100 TB you filter by format/dimensions BEFORE paying any decode —
# sniff_image_header reads magic + frame headers only (PNG IHDR, JPEG
# SOF, GIF logical screen, BMP DIB header), never pixels. Payloads
# plant all four formats (real encode_png/encode_jpeg output for the
# two real codecs, spec-built headers for GIF/BMP) plus the
# valid-but-rare classes a crawl contains (VERDICT r11 #2): JPEGs with
# spec-legal 0xFF fill bytes between segments, and legacy 12-byte
# BITMAPCOREHEADER BMPs with uint16 dims — alongside a corrupt class;
# the oracle replays per-format counts and dimension sums from the
# planting formulas. Quarantine semantics are the default here — a
# header survey IS the intake audit.
# ----------------------------------------------------------------------
@query("image_header_survey", oracle="""
WITH b AS (
  SELECT doc_id, doc_id % 7 AS cls FROM documents WHERE doc_id < 500)
SELECT CASE cls WHEN 0 THEN 'PNG' WHEN 1 THEN 'JPEG' WHEN 2 THEN 'JPEG'
                WHEN 3 THEN 'GIF' WHEN 4 THEN 'BMP' WHEN 5 THEN 'BMP'
                ELSE 'CORRUPT' END AS format,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE cls WHEN 0 THEN 3 + doc_id % 4
                         WHEN 1 THEN 16 WHEN 2 THEN 16
                         WHEN 3 THEN doc_id % 100 + 1
                         WHEN 4 THEN doc_id % 80 + 1
                         WHEN 5 THEN doc_id % 70 + 1 END) AS BIGINT)
         AS sum_w,
       CAST(sum(CASE cls WHEN 0 THEN 2 + doc_id % 3
                         WHEN 1 THEN 8 WHEN 2 THEN 8
                         WHEN 3 THEN doc_id % 50 + 1
                         WHEN 4 THEN doc_id % 60 + 1
                         WHEN 5 THEN doc_id % 40 + 1 END) AS BIGINT)
         AS sum_h
FROM b GROUP BY 1
""")
def image_header_survey(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.types import BinaryType

    def _payload(doc_id):
        import struct

        import numpy as np

        from .llm.jpeg import encode_jpeg
        from .llm.multimodal import encode_png

        jp = encode_jpeg(np.full((8, 16, 1), 0.3), quality=100)
        # spec-legal padding: extra 0xFF fill bytes before the first
        # post-SOI marker (T.81 B.1.1.2) — same image, same dims
        jp_fill = jp[:2] + b"\xff\xff\xff" + jp[2:]

        def build(d: int) -> bytes:
            cls = d % 7
            if cls == 0:
                w, h = 3 + d % 4, 2 + d % 3
                return encode_png(np.full((h, w, 1), (d % 7) / 10.0))
            if cls == 1:
                return jp
            if cls == 2:
                return jp_fill
            if cls == 3:
                return (b"GIF89a"
                        + struct.pack("<HH", d % 100 + 1, d % 50 + 1)
                        + b"\x00" * 6)
            if cls == 4:                 # BITMAPINFOHEADER, top-down
                return (b"BM" + b"\x00" * 12 + struct.pack("<I", 40)
                        + struct.pack("<ii", d % 80 + 1,
                                      -(d % 60 + 1))
                        + b"\x00" * 8)
            if cls == 5:                 # legacy BITMAPCOREHEADER
                return (b"BM" + b"\x00" * 12 + struct.pack("<I", 12)
                        + struct.pack("<HH", d % 70 + 1, d % 40 + 1)
                        + b"\x00" * 8)
            return b"\x00\x01corrupt" + bytes([d % 251])

        return pd.Series([build(int(d)) for d in doc_id])

    _payload.__annotations__ = {"doc_id": pd.Series, "return": pd.Series}
    planted = F.pandas_udf(_payload, BinaryType())

    docs = (load_table(spark, sf_dir, "documents")
                .filter("doc_id < 500"))
    imgs = docs.select("doc_id", planted(F.col("doc_id")).alias("payload"))
    info = _MM.image_header_info(imgs, "doc_id")   # quarantine default
    return (info.groupBy(F.coalesce("format", F.lit("CORRUPT"))
                         .alias("format"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("width").alias("sum_w"),
                 F.sum("height").alias("sum_h")))


# ======================================================================
# Polynomial cut (F-poly): Horner-evaluated chi2-vs-amp style
# predicate as one native expression (operators/sampling.py:polyval)
# ======================================================================
from .operators import polyval as _polyval  # noqa: E402


@query("polynomial_cut_counts", oracle="""
SELECT l_returnflag, count(*) AS n,
       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)
         AS sum_price_cents
FROM lineitem
WHERE l_tax < 0.01 + 1.5 * l_discount + (-2.0) * l_discount * l_discount
GROUP BY l_returnflag
""")
def polynomial_cut_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    poly = _polyval([0.01, 1.5, -2.0], "l_discount")
    return (li.filter(F.col("l_tax") < poly)
            .groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(cents(F.col("l_extendedprice")))
                  .alias("sum_price_cents")))


# ----------------------------------------------------------------------
# embedding-cosine near-dup pairs (exact path vs DuckDB all-pairs;
# the LSH-bucketed scale path is pytest'd on planted duplicates)
# ----------------------------------------------------------------------
from .llm.similarity import cosine_near_dup_pairs as _cos_nd  # noqa: E402


@query("embedding_near_dup_pairs", oracle="""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6)
         AS cosine
FROM (SELECT * FROM embeddings WHERE vec_id % 10 = 0) a
JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= 0.4
""")
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # probe side bounded to a deterministic 10% slice BEFORE the join:
    # the small slice broadcasts and the corpus streams through once,
    # so only |slice|x|corpus| pairs are ever scored; unrestricted
    # corpora take the LSH-bucketed path
    nd = _cos_nd(emb, 0.4, probes=emb.filter(F.col("vec_id") % 10 == 0))
    return nd.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


# ----------------------------------------------------------------------
# semantic decontamination (round 12): corpus embeddings scored against
# a broadcast benchmark set — the embedding-space counterpart of the
# n-gram decontamination gate (paraphrased eval leakage shares no
# 8-gram but still lands near the benchmark). Full oracle: DuckDB
# replays the cross cosine join and the anti-join arithmetic.
# ----------------------------------------------------------------------
@query("semantic_decontamination_stats", oracle="""
WITH c AS (SELECT * FROM embeddings WHERE vec_id >= 100),
b AS (SELECT * FROM embeddings WHERE vec_id < 20),
h AS (SELECT c.vec_id AS corpus_id, b.vec_id AS bench_id,
             list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])) AS cos
      FROM c, b
      WHERE list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])) >= 0.3)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_corpus,
       CAST(count(DISTINCT corpus_id) AS BIGINT) AS n_flagged,
       (SELECT count(*) FROM c) - count(DISTINCT corpus_id)
         AS n_survivors,
       CAST(count(*) AS BIGINT) AS n_hit_pairs,
       round(max(cos), 6) AS max_cosine
FROM h
""")
def semantic_decontamination_stats(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    from .llm.similarity import (semantic_contamination_hits,
                                 semantic_decontaminate)
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 100)
    bench = emb.filter(F.col("vec_id") < 20)
    hits = semantic_contamination_hits(corpus, bench, 0.3) \
        .localCheckpoint(eager=True)
    survivors = semantic_decontaminate(corpus, hits,
                                       id_col="vec_id")
    n_surv = survivors.agg(
        F.count(F.lit(1)).alias("n_survivors"))
    n_corp = corpus.agg(F.count(F.lit(1)).alias("n_corpus"))
    hstats = hits.agg(
        F.countDistinct("corpus_id").alias("n_flagged"),
        F.count(F.lit(1)).alias("n_hit_pairs"),
        F.round(F.max("cosine"), 6).alias("max_cosine"))
    return (n_corp.crossJoin(F.broadcast(hstats))
            .crossJoin(F.broadcast(n_surv))
            .select("n_corpus", "n_flagged", "n_survivors",
                    "n_hit_pairs", "max_cosine"))


# ----------------------------------------------------------------------
# SemDeDup semantic dedup (Abbas et al., arXiv:2303.09540): cluster the
# embedding space, keep-lowest-index inside each cluster among points
# with cosine >= threshold. Clusters here are the label column (any
# assignment works — IVF cells are the unsupervised scale path); the
# pairwise step is an equi-join keyed by cluster, never all-pairs.
# ----------------------------------------------------------------------
from .llm.similarity import semantic_dedup as _sem_dedup  # noqa: E402


@query("semantic_dedup_stats", oracle="""
SELECT e.label, count(*) AS n_kept, min(e.vec_id) AS first_kept
FROM embeddings e
WHERE NOT EXISTS (
  SELECT 1 FROM embeddings d
  WHERE d.label = e.label AND d.vec_id < e.vec_id
    AND list_cosine_similarity(CAST(d.embedding AS DOUBLE[]),
                               CAST(e.embedding AS DOUBLE[])) >= 0.30)
GROUP BY e.label
""")
def semantic_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    kept = _sem_dedup(emb, 0.30, cluster_col="label")
    return (kept.groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.min("vec_id").alias("first_kept")))


# ----------------------------------------------------------------------
# headless point-pick (ScatterPlotter analog, picker.py): nearest-k
# events to a clicked (x, y) under display-normalized distance —
# TakeOrderedAndProject top-k, never a global sort
# ----------------------------------------------------------------------
from .picker import TracePicker  # noqa: E402


@query("nearest_event_pick", oracle="""
WITH r AS (
  SELECT min(value) AS xlo, max(value) AS xhi,
         CAST(min(user_id) AS DOUBLE) AS ylo,
         CAST(max(user_id) AS DOUBLE) AS yhi
  FROM events)
SELECT event_id, event_type,
       round(sqrt(((value - 500.0)/(xhi - xlo)) * ((value - 500.0)/(xhi - xlo))
                + ((user_id - 50.0)/(yhi - ylo)) * ((user_id - 50.0)/(yhi - ylo))),
             6) AS pick_dist
FROM events, r
ORDER BY pick_dist, event_id
LIMIT 5
""")
def nearest_event_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = TracePicker(ev, "value", "CAST(user_id AS DOUBLE)",
                    tiebreak=["event_id"])
    return (p.nearest_events(500.0, 50.0, n=5)
            .select("event_id", "event_type",
                    F.round("pick_dist", 6).alias("pick_dist")))


# ----------------------------------------------------------------------
# MasterSemiautocuts randoms passage-fraction matrix
# (semiautocuts.py:2471-2531): lower-triangular sequential passfracs
# over the randoms population, all cells from ONE aggregate pass.
# trigger_type is derived (events has none): event_id % 3 == 0 → random.
# Integer passed-counts keep the compare hash-exact.
# ----------------------------------------------------------------------
@query("master_randoms_passfrac", oracle="""
WITH b AS (SELECT (value > 1.0) AS c0, (value < 8.0) AS c1,
                  (event_type <> 'error') AS c2,
                  (event_id % 3 = 0) AS r
           FROM events)
SELECT 0 AS i, 0 AS j, CAST(count(*) FILTER (WHERE c0 AND r) AS BIGINT) AS passed FROM b
UNION ALL SELECT 1, 0, count(*) FILTER (WHERE c1 AND c0 AND r) FROM b
UNION ALL SELECT 1, 1, count(*) FILTER (WHERE c1 AND c0 AND r) FROM b
UNION ALL SELECT 2, 0, count(*) FILTER (WHERE c2 AND c0 AND r) FROM b
UNION ALL SELECT 2, 1, count(*) FILTER (WHERE c2 AND c0 AND c1 AND r) FROM b
UNION ALL SELECT 2, 2, count(*) FILTER (WHERE c2 AND c0 AND c1 AND r) FROM b
""")
def master_randoms_passfrac(spark: SparkSession, sf_dir: str) -> DataFrame:
    ana = Analyzer(load_table(spark, sf_dir, "events"))
    ana.register_feature(
        "CASE WHEN event_id % 3 = 0 THEN 3.0 ELSE 4.0 END", "trigger_type")
    ana.register_cut("value > 1.0", "c0")
    ana.register_cut("value < 8.0", "c1")
    ana.register_cut("event_type <> 'error'", "c2")
    m = MasterSemiautocuts(ana, ["c0", "c1", "c2"])
    # nrand rides along in the matrix aggregate — ONE job total
    mat, _, nrand = m.get_randoms_passfrac_table(return_nrand=True)
    rows = [(i, j, int(round(mat[i, j] * nrand)))
            for i in range(3) for j in range(i + 1)]
    return _LF(spark, rows, "i int, j int, passed bigint")


# ----------------------------------------------------------------------
# Semiautocut passage fraction under the reference's trigger-type
# selections (semiautocuts.py:1846-1896): randoms-only / triggers-only
# / both, one engine call each; counts emitted as exact integers.
# ----------------------------------------------------------------------
@query("passfrac_trigger_splits", oracle=f"""
WITH b AS (SELECT value, (event_id % 3 = 0) AS is_rand FROM events),
s AS (SELECT quantile_cont(value, 0.5) AS med,
             abs(((quantile_cont(value, {_SIG_LO!r}) - quantile_cont(value, 0.5))
                + (quantile_cont(value, 0.5) - quantile_cont(value, {_SIG_HI!r}))) / 2) AS sig
      FROM b)
SELECT 'randoms' AS sel,
       CAST(count(*) FILTER (WHERE is_rand) AS BIGINT) AS n,
       CAST(count(*) FILTER (WHERE is_rand AND value > med - 2*sig
                               AND value < med + 2*sig) AS BIGINT) AS passed
FROM b, s
UNION ALL
SELECT 'triggers', count(*) FILTER (WHERE NOT is_rand),
       count(*) FILTER (WHERE NOT is_rand AND value > med - 2*sig
                          AND value < med + 2*sig)
FROM b, s
UNION ALL
SELECT 'both', count(*), count(*) FILTER (WHERE value > med - 2*sig
                                            AND value < med + 2*sig)
FROM b, s
""")
def passfrac_trigger_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    ana = Analyzer(load_table(spark, sf_dir, "events"))
    ana.register_feature(
        "CASE WHEN event_id % 3 = 0 THEN 3.0 ELSE 4.0 END", "trigger_type")
    sac = Semiautocut(ana, "value", "", {"sigma": 2.0},
                      cut_rq_name_override=True)
    sac.do_cut()
    splits = sac.get_passage_fraction_splits()
    rows = [(sel, n, passed)
            for sel, (n, passed, _frac) in splits.items()]
    return _LF(spark, rows, "sel string, n bigint, passed bigint")


# ----------------------------------------------------------------------
# save_current_selection (analyzer.py:359-377): freeze the global
# filter as a named cut, drop the filter, count under the saved cut.
# ----------------------------------------------------------------------
@query("saved_selection_counts", oracle="""
SELECT event_type, count(*) AS n
FROM events
WHERE value > 2.0 AND user_id % 2 = 0
GROUP BY event_type
""")
def saved_selection_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ana = Analyzer(load_table(spark, sf_dir, "events"))
    ana.apply_global_filter("value > 2.0")
    ana.apply_global_filter("user_id % 2 = 0", mode="and")
    ana.save_current_selection("frozen")
    ana.drop_global_filter()
    return (ana._subset_df(ana.df, "frozen")
            .groupBy("event_type").agg(F.count(F.lit(1)).alias("n")))


# ----------------------------------------------------------------------
# IVF ANN over embeddings: spherical k-means coarse quantizer, probe
# searches n_probe cells. With n_probe == n_centroids the search is
# exhaustive, so the brute-force DuckDB cosine oracle applies exactly —
# this checks the whole IVF machinery (fit → assign → cell join → rank)
# end-to-end. The partial-probe scale path is covered by pytest recall
# tests on planted clusters.
# ----------------------------------------------------------------------
@query("ann_ivf_topk", oracle="""
WITH s AS (
  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                CAST(p.embedding AS DOUBLE[])) AS sim
  FROM embeddings c,
       (SELECT * FROM embeddings WHERE vec_id < 4) p
  WHERE c.vec_id <> p.vec_id),
r AS (SELECT probe_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY sim DESC, neighbor_id ASC) AS rank
      FROM s)
SELECT probe_id, CAST(rank AS INT) AS rank, neighbor_id,
       round(sim, 6) AS sim
FROM r WHERE rank <= 5
""")
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.similarity import IVFIndex
    emb = load_table(spark, sf_dir, "embeddings")
    ivf = IVFIndex(n_centroids=8, n_probe=8, seed=7).fit(
        emb, sample_size=2000)
    return (ivf.topk(emb, emb.filter("vec_id < 4"), k=5)
            .withColumn("sim", F.round("sim", 6)))


# ----------------------------------------------------------------------
# IVFADC + exact re-rank compose (llm/similarity.py
# ivf_pq_topk_from_corpus, round 11) with a FULL value oracle: corpus
# scalars quantize onto a 1/8 grid (floor-based, identical in both
# engines) and the PQ codebooks are hand-set to exactly that grid
# (m=64, sub=1), so encoding is LOSSLESS and the ADC shortlist ranking
# equals true asymmetric L2² — the oracle replays the exact algorithm
# (L2² shortlist of 50 including self, cosine re-rank excluding self,
# top-5) with no metric-agreement assumption. All 4 cells are probed
# (n_probe = n_centroids) so the oracle needs no cell logic; the
# partition-pruning evidence lives in pytest + ANN_RECALL.json.
# ----------------------------------------------------------------------
@query("ann_ivf_pq_topk", oracle="""
WITH qv AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> floor(x * 8 + 0.5) / 8) AS e
  FROM embeddings),
p AS (SELECT * FROM qv WHERE vec_id < 4),
d AS (
  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         list_distance(c.e, p.e) AS adist
  FROM qv c, p),
short AS (
  SELECT probe_id, neighbor_id,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY adist ASC, neighbor_id ASC) AS sr
  FROM d),
rr AS (
  SELECT s.probe_id, s.neighbor_id,
         list_cosine_similarity(c.e, p.e) AS sim
  FROM short s
  JOIN qv c ON c.vec_id = s.neighbor_id
  JOIN p ON p.vec_id = s.probe_id
  WHERE s.sr <= 50 AND s.neighbor_id <> s.probe_id),
r AS (SELECT probe_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY sim DESC, neighbor_id ASC)
               AS rank
      FROM rr)
SELECT probe_id, CAST(rank AS INT) AS rank, neighbor_id,
       round(sim, 6) AS sim
FROM r WHERE rank <= 5
""")
def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from .llm.similarity import (IVFIndex, PQCodebook,
                                 ivf_pq_topk_from_corpus,
                                 write_pq_corpus)

    emb = load_table(spark, sf_dir, "embeddings")
    # toy-scale exhibit: one partition keeps the two corpus writes +
    # compose at a handful of tasks (the wall here is stage launches,
    # not data; the scale path is the same operator over a corpus
    # written once, measured in ANN_RECALL.json)
    q = emb.select(
        "vec_id",
        F.transform("embedding",
                    lambda x: F.floor(x * 8 + F.lit(0.5)) / 8)
         .alias("embedding")).coalesce(1)
    ivf = IVFIndex(n_centroids=4, n_probe=4, seed=7).fit(
        q, sample_size=2000)
    pq = PQCodebook(m=64, k=17, normalize=False)
    pq.codebooks = np.tile(
        (np.arange(-8, 9) / 8.0).reshape(1, 17, 1), (64, 1, 1))
    base = _scratch_dir(sf_dir, "ivfpq")
    raw, coded = base + "/raw", base + "/coded"
    ivf.write_corpus(q, raw, mode="overwrite")
    write_pq_corpus(q, ivf, pq, coded)
    res = ivf_pq_topk_from_corpus(
        spark, ivf, pq, coded, raw, q.filter("vec_id < 4"),
        k=5, shortlist=50)
    out = (res.withColumn("sim", F.round("sim", 6))
           .localCheckpoint(eager=True))   # detach from the tmp files
    shutil.rmtree(base, ignore_errors=True)
    return out


# ----------------------------------------------------------------------
# End-to-end training-data pipeline: language-ID gate → quality filter
# → exact dedup (first-wins by doc_id) → per-source corpus stats.
# Composes llm.text + llm.dedup as one lazy plan: the filters reach the
# scan, the only shuffle is the dedup hash partition + final groupBy.
# ----------------------------------------------------------------------
@query("training_pipeline_stats", oracle=r"""
WITH f AS (
  SELECT doc_id, source, text,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks,
         list_transform(list_filter(string_split_regex(text, '\s+'), x -> x <> ''),
                        t -> lower(t)) AS low,
         len(text) AS n_chars
  FROM documents),
s AS (
  SELECT doc_id, source, text, len(toks) AS n_tokens,
         len(list_filter(low, t -> list_contains(
             ['a','and','in','is','of','that','the','to'], t))) AS s_en,
         len(list_filter(low, t -> list_contains(
             ['das','der','die','ein','ist','nicht','und','zu'], t))) AS s_de,
         len(list_filter(low, t -> list_contains(
             ['est','et','la','le','les','pas','que','une'], t))) AS s_fr,
         len(list_filter(low, t -> list_contains(
             ['el','es','la','los','no','que','una','y'], t))) AS s_es,
         len(list_filter(low, t -> list_contains(
             ['a','and','in','is','of','that','the','to'], t)))::DOUBLE
           / greatest(len(toks), 1) AS stop_ratio,
         (n_chars - len(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
           / greatest(n_chars, 1) AS digit_ratio
  FROM f),
kept AS (
  SELECT doc_id, source, text, n_tokens FROM s
  WHERE greatest(s_en, s_de, s_fr, s_es) > 0
    AND s_en = greatest(s_en, s_de, s_fr, s_es)
    AND stop_ratio > 0.04 AND digit_ratio < 0.2 AND n_tokens >= 5),
uniq AS (
  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY text
                                              ORDER BY doc_id) AS rn
                 FROM kept) WHERE rn = 1)
SELECT source, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM uniq GROUP BY source
""")
def training_pipeline_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.dedup import dedup_exact
    from .llm.text import language_id, token_count, with_quality

    docs = load_table(spark, sf_dir, "documents")
    kept = (docs
            .filter(language_id(F.col("text")) == "en")
            .filter(with_quality(
                F.col("text"),
                lambda q: (q["stopword_ratio"] > 0.04)
                & (q["digit_ratio"] < 0.2)
                & (q["n_tokens"] >= 5))))
    uniq = dedup_exact(kept, ["text"], "doc_id")
    return (uniq.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(token_count(F.col("text"))).alias("total_tokens")))


# ----------------------------------------------------------------------
# Multimodal audio: PCM16 payloads (synthesized deterministically from
# the documents' ASCII bytes — little-endian byte pairs) → RMS via the
# mapInPandas DSP kernel; the oracle recomputes the identical math with
# DuckDB list comprehensions. Exercises the real plumbing: binary
# payload column, Arrow batches, vectorized decode.
# ----------------------------------------------------------------------
@query("multimodal_audio_stats", oracle="""
WITH c AS (SELECT doc_id, lang,
                  substr(regexp_replace(text, '[^ -~]', '', 'g'), 1, 64) AS t
           FROM documents),
s AS (SELECT doc_id, lang,
             [CASE WHEN 2*i+2 <= len(t)
                   THEN ord(substr(t, 2*i+1, 1)) + 256 * ord(substr(t, 2*i+2, 1))
              END for i in range(32)] AS raw
      FROM c),
v AS (SELECT doc_id, lang,
             list_transform(list_filter(raw, x -> x IS NOT NULL),
                            x -> (CASE WHEN x >= 32768 THEN x - 65536
                                       ELSE x END) / 32768.0) AS x
      FROM s)
SELECT lang, count(*) AS n,
       round(avg(sqrt(coalesce(list_aggregate(list_transform(x, e -> e * e),
                                              'sum'), 0.0)
                      / greatest(len(x), 1))), 6) AS avg_rms
FROM v GROUP BY lang
""")
def multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    clean = F.regexp_replace(F.col("text"), "[^ -~]", "")
    pcm = docs.select(
        "doc_id", "lang",
        F.encode(F.substring(clean, 1, 64), "utf-8").alias("payload"))
    feats = _MM.audio_features(pcm, "doc_id", frame_samples=8)
    return (feats.join(docs.select("doc_id", "lang"), "doc_id")
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("rms"), 6).alias("avg_rms")))


# ----------------------------------------------------------------------
# FLAC multimodal path with an EXACT value oracle: FLAC is lossless,
# so int16 PCM derived from text bytes survives a full encode → frame/
# subframe/Rice decode round trip bit-exactly — DuckDB replays the PCM
# derivation directly while Spark runs the real codec end-to-end
# (CRC-8/16 verified, FIXED-predictor subframes, Rice residuals).
# ----------------------------------------------------------------------
@query("multimodal_flac_stats", oracle="""
WITH c AS (SELECT doc_id, lang,
                  substr(regexp_replace(text, '[^ -~]', '', 'g'), 1, 64) AS t
           FROM documents),
s AS (SELECT doc_id, lang,
             [CASE WHEN 2*i+2 <= len(t)
                   THEN ord(substr(t, 2*i+1, 1)) + 256 * ord(substr(t, 2*i+2, 1))
              END for i in range(32)] AS raw
      FROM c),
v AS (SELECT doc_id, lang,
             list_transform(list_filter(raw, x -> x IS NOT NULL),
                            x -> (CASE WHEN x >= 32768 THEN x - 65536
                                       ELSE x END) / 32768.0) AS x
      FROM s)
SELECT lang, count(*) AS n,
       round(avg(sqrt(coalesce(list_aggregate(list_transform(x, e -> e * e),
                                              'sum'), 0.0)
                      / greatest(len(x), 1))), 6) AS avg_rms
FROM v GROUP BY lang
""")
def multimodal_flac_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.types import BinaryType

    def _planted(texts):
        import numpy as np
        from .llm.flac import encode_flac

        def build(t: str) -> bytes:
            clean = "".join(ch for ch in t if " " <= ch <= "~")[:64]
            b = clean.encode("ascii")
            n = len(b) // 2
            if n == 0:
                return encode_flac(np.zeros(0), 16000, mode="fixed")
            v = np.frombuffer(b[:2 * n], dtype="<i2").astype(np.float64)
            return encode_flac(v / 32768.0, 16000, mode="fixed")

        return pd.Series([build(t) for t in texts])

    _planted.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    planted_flac = F.pandas_udf(_planted, BinaryType())

    docs = load_table(spark, sf_dir, "documents")
    payloads = _FAN(docs.select("doc_id", "lang", "text")) \
        .select("doc_id", "lang",
                planted_flac(F.col("text")).alias("payload"))
    feats = _MM.audio_features(payloads, "doc_id", frame_samples=8,
                               payload_format="FLAC")
    return (feats.join(docs.select("doc_id", "lang"), "doc_id")
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("rms"), 6).alias("avg_rms")))


# ----------------------------------------------------------------------
# every-Nth downsample (O6, vibration_analyzer.py:397-401): pure modulo
# filter — no shuffle, pushdown-eligible
# ----------------------------------------------------------------------
from .operators.sampling import every_nth as _every_nth  # noqa: E402


@query("every_nth_downsample", oracle="""
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events
WHERE event_id % 7 = 0
GROUP BY event_type
""")
def every_nth_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (_every_nth(ev, "event_id", 7)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(cents(F.col("value"))).alias("sum_value_cents")))


# ----------------------------------------------------------------------
# describe (analyzer.py:116-133): one agg pass over every numeric
# column; exact-integer means via cents for hash stability
# ----------------------------------------------------------------------
@query("describe_events", oracle="""
SELECT 'value' AS feature,
       CAST(count(value) AS BIGINT) AS n,
       round(min(value), 6) AS min_v,
       round(max(value), 6) AS max_v,
       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
UNION ALL
SELECT 'user_id', count(user_id),
       round(min(user_id), 6), round(max(user_id), 6),
       CAST(sum(user_id) * 100 AS BIGINT)
FROM events
""")
def describe_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ana = Analyzer(load_table(spark, sf_dir, "events"))
    rows = []
    desc = ana.describe(["value", "user_id"])
    # exact integer sums recomputed for hash stability (describe's
    # float mean is display-side); min/max come from the same pass
    sums = ana.df.agg(
        F.sum(cents(F.col("value"))).alias("v"),
        (F.sum("user_id") * 100).alias("u")).collect()[0]
    rows.append(("value", int(desc["value"]["count"]),
                 round(float(desc["value"]["min"]), 6),
                 round(float(desc["value"]["max"]), 6), int(sums["v"])))
    rows.append(("user_id", int(desc["user_id"]["count"]),
                 round(float(desc["user_id"]["min"]), 6),
                 round(float(desc["user_id"]["max"]), 6), int(sums["u"])))
    return _LF(spark, 
        rows, "feature string, n bigint, min_v double, max_v double, sum_cents bigint")


# ----------------------------------------------------------------------
# deterministic mixture sampling + normalization-aware dedup grouping:
# the data-mixing / canonicalization steps of a training pipeline
# ----------------------------------------------------------------------
@query("mixture_sample_stats", oracle="""
SELECT source, count(*) AS n,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE (source = 'web' AND doc_id % 10000 < 2500)
   OR (source = 'wiki' AND doc_id % 10000 < 7500)
   OR (source NOT IN ('web', 'wiki'))
GROUP BY source
""")
def mixture_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.dedup import stratified_sample_mod
    docs = load_table(spark, sf_dir, "documents")
    mixed = stratified_sample_mod(docs, "source",
                                  {"web": 0.25, "wiki": 0.75}, "doc_id")
    return (mixed.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("n_chars").alias("total_chars")))


@query("normalized_dedup_groups", oracle=r"""
WITH norm AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM documents)
SELECT CAST(count(DISTINCT t) AS BIGINT) AS n_normalized,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM norm
""")
def normalized_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.text import normalize_text
    docs = (load_table(spark, sf_dir, "documents"))
    norm = docs.select(
        "doc_id",
        normalize_text(F.col("text"), strip_punct=False).alias("t"))
    return norm.agg(
        F.countDistinct("t").alias("n_normalized"),
        F.countDistinct("doc_id").alias("n_docs"))


# ----------------------------------------------------------------------
# training-window chunking: overlapping token windows per document,
# exploded to one row per context — pure projection + explode
# ----------------------------------------------------------------------
@query("chunked_documents_stats", oracle=r"""
WITH t AS (SELECT doc_id, source,
                  list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
c AS (SELECT doc_id, source,
             [array_to_string(toks[i:i+49], ' ')
              for i in range(1, greatest(len(toks), 1) + 1, 40)] AS chunks
      FROM t),
e AS (SELECT source, unnest(chunks) AS chunk_text FROM c)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(len(list_filter(string_split_regex(chunk_text, '\s+'), x -> x <> '')))
            AS BIGINT) AS total_chunk_tokens
FROM e GROUP BY source
""")
def chunked_documents_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.text import chunk_documents
    docs = load_table(spark, sf_dir, "documents")
    ch = chunk_documents(docs, window_tokens=50, stride_tokens=40)
    ch = ch.join(docs.select("doc_id", "source"), "doc_id")
    return (ch.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_chunks"),
                 F.sum("n_tokens").alias("total_chunk_tokens")))


# ----------------------------------------------------------------------
# salted join (hot-key skew fallback): result is EXACTLY the plain
# equi-join, so the plain-SQL oracle applies — the salt only reshapes
# the shuffle. Revenue by brand through the salted path.
# ----------------------------------------------------------------------
@query("salted_join_brand_revenue", oracle="""
SELECT p.p_brand AS brand,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(round(l.l_extendedprice*100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_quantity > 45
GROUP BY p.p_brand
""")
def salted_join_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.joins import salted_join
    li = load_table(spark, sf_dir, "lineitem").filter("l_quantity > 45")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = salted_join(li.withColumnRenamed("l_partkey", "p_partkey"),
                    part, "p_partkey", salt=4)
    return (j.groupBy(F.col("p_brand").alias("brand"))
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.sum(cents(F.col("l_extendedprice"))).alias("revenue_cents")))


# ----------------------------------------------------------------------
# semi-structured props: JSON extraction as a native expression
# (get_json_object → DuckDB json_extract) — the metadata-sidecar
# pattern for multimodal/typed payload columns
# ----------------------------------------------------------------------
@query("json_props_stats", oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS sum_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS max_k
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
GROUP BY event_type
""")
def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (ev.withColumn("k", k).filter(F.col("k") >= 50)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("k").alias("sum_k"),
                 F.max("k").alias("max_k")))


# ----------------------------------------------------------------------
# distributed per-label embedding centroids (the k-means M-step /
# class-prototype computation): posexplode + groupBy, map-side combined
# ----------------------------------------------------------------------
@query("embedding_centroids_by_label", oracle="""
WITH e AS (
  SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x,
         generate_subscripts(embedding, 1) - 1 AS pos
  FROM embeddings)
SELECT label AS "group", CAST(pos AS INT) AS pos,
       round(avg(x), 6) AS mean
FROM e WHERE pos < 4
GROUP BY label, pos
""")
def embedding_centroids_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.similarity import embedding_centroids
    emb = load_table(spark, sf_dir, "embeddings")
    cents = embedding_centroids(emb, "label")
    return (cents.filter(F.col("pos") < 4)
            .select(F.col("group"), F.col("pos").cast("int").alias("pos"),
                    F.round("mean", 6).alias("mean")))


# ----------------------------------------------------------------------
# as-of join (operators/joins.py): latest error event at-or-before each
# purchase, per user. DuckDB has a native ASOF JOIN — a perfect oracle
# for an operator Spark lacks. Outputs are exact integers (counts +
# summed microsecond lags).
# ----------------------------------------------------------------------
@query("asof_join_purchase_error_lag", oracle="""
WITH l AS (SELECT user_id, epoch_us(ts) AS t_us
           FROM events WHERE event_type = 'purchase'),
r AS (SELECT user_id, epoch_us(ts) AS t_us
      FROM events WHERE event_type = 'error')
SELECT CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(count(r.t_us) AS BIGINT) AS n_with_prior_error,
       CAST(coalesce(sum(l.t_us - r.t_us), 0) AS BIGINT) AS total_lag_us
FROM l ASOF LEFT JOIN r
  ON l.user_id = r.user_id AND l.t_us >= r.t_us
""")
def asof_join_purchase_error_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.joins import asof_join
    ev = load_table(spark, sf_dir, "events") \
        .withColumn("t_us", F.unix_micros(F.col("ts")))
    left = ev.filter("event_type = 'purchase'").select("user_id", "t_us")
    right = ev.filter("event_type = 'error'").select("user_id", "t_us")
    j = asof_join(left, right, on="t_us", by="user_id")
    return j.agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.count("t_us_right").alias("n_with_prior_error"),
        F.coalesce(F.sum(F.col("t_us") - F.col("t_us_right")),
                   F.lit(0)).cast("long").alias("total_lag_us"))


# ----------------------------------------------------------------------
# binned range join: event values against literal intervals (the same
# VALUES list inlined in the oracle) — exact containment counts
# ----------------------------------------------------------------------
_RANGE_INTERVALS = [(i, i * 0.5, i * 0.5 + 1.0) for i in range(20)]


@query("range_join_value_intervals", oracle=f"""
WITH iv(iid, lo, hi) AS (VALUES {", ".join(f"({i}, {lo!r}, {hi!r})" for i, lo, hi in _RANGE_INTERVALS)})
SELECT iv.iid, CAST(count(*) AS BIGINT) AS n_events
FROM events e JOIN iv ON e.value >= iv.lo AND e.value < iv.hi
GROUP BY iv.iid
""")
def range_join_value_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.joins import range_join_binned
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    iv = _LF(spark, _RANGE_INTERVALS, "iid int, lo double, hi double")
    j = range_join_binned(ev, iv, "value", "lo", "hi", bin_width=1.0)
    return j.groupBy("iid").agg(F.count(F.lit(1)).alias("n_events"))


# ----------------------------------------------------------------------
# gap-based sessionization: per-user sessions with a 30-minute gap rule
# — lag + running sum in ONE window partition (single shuffle by user)
# ----------------------------------------------------------------------
@query("sessionized_event_counts", oracle="""
WITH marked AS (
  SELECT user_id,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
               OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
-- every session has exactly one new_sess=1 row (the first event is
-- always a session start), so the session count is the marker sum
SELECT CAST(sum(new_sess) AS BIGINT) AS n_sessions,
       CAST(count(*) AS BIGINT) AS n_events
FROM marked
""")
def sessionized_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import sessionize
    ev = (load_table(spark, sf_dir, "events")
          .withColumn("t_us", F.unix_micros(F.col("ts"))))
    s = sessionize(ev, "user_id", "t_us", gap=1_800_000_000)
    return s.agg(
        F.countDistinct("user_id", "session_id").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"))


# ----------------------------------------------------------------------
# W2 scale path: equal-frequency (exact-percentile) edges + CASE-chain
# bin assignment — the distributed replacement for the un-partitioned
# ntile window. Per-quintile counts and purchase fractions.
# ----------------------------------------------------------------------
@query("eqfreq_binned_passfrac", oracle="""
WITH e AS (SELECT quantile_cont(value, 0.0) AS e0,
                  quantile_cont(value, 0.2) AS e1,
                  quantile_cont(value, 0.4) AS e2,
                  quantile_cont(value, 0.6) AS e3,
                  quantile_cont(value, 0.8) AS e4,
                  quantile_cont(value, 1.0) AS e5
           FROM events),
b AS (SELECT CASE WHEN value >= e0 AND value < e1 THEN 0
                  WHEN value >= e1 AND value < e2 THEN 1
                  WHEN value >= e2 AND value < e3 THEN 2
                  WHEN value >= e3 AND value < e4 THEN 3
                  WHEN value >= e4 AND value <= e5 THEN 4 END AS bin,
             event_type
      FROM events, e)
SELECT bin, CAST(count(*) AS BIGINT) AS n,
       CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
         AS n_purchase
FROM b WHERE bin IS NOT NULL
GROUP BY bin
""")
def eqfreq_binned_passfrac(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.binning import equal_frequency_edges
    ev = load_table(spark, sf_dir, "events")
    edges = equal_frequency_edges(ev, "value", 5, exact=True)
    b = assign_bin(F.col("value"), edges)
    return (ev.withColumn("bin", b).filter(F.col("bin").isNotNull())
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum((F.col("event_type") == "purchase").cast("long"))
                 .alias("n_purchase")))


# ----------------------------------------------------------------------
# cleaning pillar (llm/cleaning.py): PII detection/redaction over a
# deterministically PII-seeded derivation of the documents table —
# pure codegen regex projection, no shuffle
# ----------------------------------------------------------------------
from .llm import cleaning as _CL  # noqa: E402


@query("pii_redaction_stats", oracle=r"""
WITH d AS (
  SELECT source,
         text || ' contact user' || doc_id || '@example.com at 10.0.'
              || (doc_id % 256) || '.7' AS t
  FROM documents),
r AS (
  SELECT source, t,
         len(regexp_extract_all(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}')) AS n_email,
         len(regexp_extract_all(t,
             '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}')) AS n_ipv4,
         regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}', '[PII]', 'g'),
             '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}', '[PII]', 'g')
           AS red
  FROM d)
SELECT source, count(*) AS n_docs,
       CAST(sum(n_email) AS BIGINT) AS total_emails,
       CAST(sum(n_ipv4) AS BIGINT) AS total_ipv4,
       CAST(sum(len(t) - len(red)) AS BIGINT) AS chars_redacted
FROM r GROUP BY source
""")
def pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (load_table(spark, sf_dir, "documents"))
    seeded = docs.select(
        "source",
        F.concat(F.col("text"), F.lit(" contact user"),
                 F.col("doc_id").cast("string"), F.lit("@example.com at 10.0."),
                 (F.col("doc_id") % 256).cast("string"), F.lit(".7")).alias("t"))
    counts = _CL.pii_counts(F.col("t"))
    red = _CL.redact_pii(F.col("t"), kinds=["email", "ipv4"])
    return (seeded
            .select("source", counts["email"].alias("n_email"),
                    counts["ipv4"].alias("n_ipv4"),
                    (F.length("t") - F.length(red)).alias("delta"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.col("n_email").cast("long")).alias("total_emails"),
                 F.sum(F.col("n_ipv4").cast("long")).alias("total_ipv4"),
                 F.sum(F.col("delta").cast("long")).alias("chars_redacted")))


# ----------------------------------------------------------------------
# Gopher-style repetition quality gates — native array expressions
# ----------------------------------------------------------------------
@query("repetition_quality_stats", oracle=r"""
WITH t AS (
  SELECT lang, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
  FROM documents WHERE len(trim(text)) > 0),
s AS (
  SELECT lang,
         1 - len(list_distinct(toks))::DOUBLE / len(toks) AS dup_tok,
         CASE WHEN len(toks) >= 2 THEN
           1 - len(list_distinct([array_to_string(toks[i:i+1], ' ')
                                  for i in range(1, len(toks))]))::DOUBLE
               / (len(toks) - 1)
         ELSE 0.0 END AS dup_gram,
         list_max(list_transform(list_distinct(toks),
             t2 -> len(list_filter(toks, x -> x = t2))))::DOUBLE
           / len(toks) AS max_tok
  FROM t)
SELECT lang, count(*) AS n_docs,
       round(avg(dup_tok), 6) AS avg_dup_token_ratio,
       round(avg(dup_gram), 6) AS avg_dup_bigram_ratio,
       round(avg(max_tok), 6) AS avg_max_token_ratio,
       CAST(count(*) FILTER (WHERE dup_tok > 0.7) AS BIGINT) AS n_flagged
FROM s GROUP BY lang
""")
def repetition_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (load_table(spark, sf_dir, "documents")
                .filter(F.length(F.trim(F.col("text"))) > 0))
    s = _CL.repetition_struct(F.col("text"), n=2)
    return (docs
            .select("lang", s.alias("r"))
            .select("lang", F.col("r.dup_token_ratio").alias("dup_tok"),
                    F.col("r.dup_ngram_ratio").alias("dup_gram"),
                    F.col("r.max_token_ratio").alias("max_tok"))
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.avg("dup_tok"), 6).alias("avg_dup_token_ratio"),
                 F.round(F.avg("dup_gram"), 6).alias("avg_dup_bigram_ratio"),
                 F.round(F.avg("max_tok"), 6).alias("avg_max_token_ratio"),
                 F.sum((F.col("dup_tok") > 0.7).cast("long"))
                 .alias("n_flagged")))


# ----------------------------------------------------------------------
# benchmark decontamination — every 25th doc acts as the "benchmark";
# corpus docs are flagged by distinct word-3-gram overlap against the
# broadcast benchmark gram set (corpus side never shuffles)
# ----------------------------------------------------------------------
@query("decontamination_stats", oracle=r"""
WITH g AS (
  SELECT doc_id, source,
         list_distinct([array_to_string(toks[i:i+2], ' ')
                        for i in range(1, len(toks)-1)]) AS grams
  FROM (SELECT doc_id, source,
               list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        FROM documents)),
b AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 25 = 0),
d AS (SELECT doc_id, source, grams FROM g WHERE doc_id % 25 <> 0),
e AS (SELECT doc_id, unnest(grams) AS gram FROM d),
h AS (SELECT e.doc_id, count(*) AS n_hits
      FROM e JOIN b USING (gram) GROUP BY e.doc_id)
SELECT source, count(*) AS n_docs,
       CAST(count(*) FILTER (WHERE coalesce(n_hits, 0) >= 1) AS BIGINT)
         AS n_contaminated,
       CAST(sum(coalesce(n_hits, 0)) AS BIGINT) AS total_hits
FROM d LEFT JOIN h USING (doc_id) GROUP BY source
""")
def decontamination_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (load_table(spark, sf_dir, "documents"))
    bench = docs.filter(F.col("doc_id") % 25 == 0)
    corpus = docs.filter(F.col("doc_id") % 25 != 0)
    grams = _CL.benchmark_ngrams(bench, n=3)
    ov = _CL.contamination_overlap(corpus, grams, n=3,
                                   carry_cols=("source",))
    return (ov.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum((F.col("n_hits") >= 1).cast("long"))
                 .alias("n_contaminated"),
                 F.sum(F.col("n_hits").cast("long")).alias("total_hits")))


# ----------------------------------------------------------------------
# sequence packing — concat-and-chunk documents into fixed-budget
# context windows per source stream (one window shuffle, no driver
# state); per-source pack counts and fill stats
# ----------------------------------------------------------------------
@query("sequence_packing_stats", oracle=r"""
WITH d AS (
  SELECT doc_id, source,
         len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_tok
  FROM documents WHERE len(trim(text)) > 0),
p AS (
  SELECT source, n_tok,
         coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS start
  FROM d)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT start // 256) AS BIGINT) AS n_packs_started,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       CAST(max(start // 256) + 1 AS BIGINT) AS n_windows
FROM p GROUP BY source
""")
def sequence_packing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.text import pack_documents, token_count
    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.length(F.trim(F.col("text"))) > 0)
            .select("doc_id", "source",
                    token_count(F.col("text")).cast("long").alias("n_tok")))
    packed = pack_documents(docs, "n_tok", budget=256,
                            partition_cols=["source"])
    return (packed.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.countDistinct("pack_id").alias("n_packs_started"),
                 F.sum("n_tok").alias("total_tokens"),
                 (F.max("pack_id") + 1).alias("n_windows")))


# ----------------------------------------------------------------------
# deterministic domain cap — keep first-15-per-source (curation stage
# that bounds over-represented domains); per-lang survivor counts
# ----------------------------------------------------------------------
@query("domain_cap_counts", oracle="""
WITH r AS (
  SELECT lang, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM r WHERE rn <= 15 GROUP BY lang
""")
def domain_cap_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import cap_per_key
    docs = (load_table(spark, sf_dir, "documents"))
    capped = cap_per_key(docs, ["source"], 15, "doc_id")
    return (capped.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.col("n_chars").cast("long")).alias("total_chars")))


# ----------------------------------------------------------------------
# distributed embedding covariance (one mapInPandas pass; only d×d
# partials reach the driver) vs DuckDB covar_pop per dimension pair
# ----------------------------------------------------------------------
@query("embedding_covariance_stats", oracle="""
SELECT CAST(ri.range AS BIGINT) AS i, CAST(rj.range AS BIGINT) AS j,
       round(covar_pop(CAST(embedding AS DOUBLE[])[CAST(ri.range + 1 AS INT)],
                       CAST(embedding AS DOUBLE[])[CAST(rj.range + 1 AS INT)]),
             6) AS cov
FROM embeddings, range(4) ri, range(4) rj
GROUP BY i, j
""")
def embedding_covariance_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.similarity import embedding_covariance
    emb = load_table(spark, sf_dir, "embeddings")
    cov = embedding_covariance(emb)
    rows = [(i, j, round(float(cov[i, j]), 6))
            for i in range(4) for j in range(4)]
    return _LF(spark, rows, "i long, j long, cov double")


# ----------------------------------------------------------------------
# A4 approx percentile — mergeable-sketch scale path. The raw sketch
# VALUES are engine-specific by construction (DuckDB's approx_quantile
# is a different sketch), so they can never hash-match; what CAN be
# pinned is the sketch's accuracy CONTRACT (round 10, VERDICT r9 #3a):
# percentile_approx(accuracy=A) guarantees the returned value's rank
# is within N/A of the target rank. The query runs the real sketch,
# then EXACTLY recounts each returned value's rank window
# (count(< v), count(<= v) — one more aggregate over the corpus) and
# certifies rank-window ∩ tolerance-band ≠ ∅ per quantile. The oracle
# replays N and the certification verdict; a sketch that breaks its
# bound (or a rank recount that drifts) flips the hash. n_rows pins
# that both engines saw the same corpus.
# ----------------------------------------------------------------------
@query("approx_percentile_profile", oracle="""
WITH qs(q) AS (VALUES (1.0), (25.0), (50.0), (75.0), (99.0)),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM lineitem)
SELECT q, n_rows, CAST(1 AS INT) AS within_contract
FROM qs, n
""")
def approx_percentile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math
    li = load_table(spark, sf_dir, "lineitem")
    qs = [1.0, 25.0, 50.0, 75.0, 99.0]
    acc = 10000
    price = F.col("l_extendedprice")
    row = li.agg(
        F.percentile_approx(price, F.lit([q / 100.0 for q in qs]),
                            F.lit(acc)).alias("p"),
        F.count(price).alias("n")).collect()[0]
    vals, n = [float(v) for v in row["p"]], int(row["n"])
    # exact rank recount of every sketch output in ONE aggregate
    ranks = li.agg(*[a for i, v in enumerate(vals) for a in (
        F.sum((price < F.lit(v)).cast("long")).alias(f"lt{i}"),
        F.sum((price <= F.lit(v)).cast("long")).alias(f"le{i}"),
    )]).collect()[0]
    tol = math.ceil(n / acc) + 1
    out = []
    for i, q in enumerate(qs):
        target = q / 100.0 * n
        lo_band, hi_band = math.floor(target) - tol, math.ceil(target) + tol
        # v occupies ranks [count(<v)+1, count(<=v)]; contract holds
        # iff that window intersects the tolerance band
        ok = int(not (int(ranks[f"le{i}"]) < lo_band
                      or int(ranks[f"lt{i}"]) + 1 > hi_band))
        out.append((q, n, ok))
    return _LF(spark, 
        out, "q double, n_rows long, within_contract int")


# ----------------------------------------------------------------------
# substring-level (span) dedup — cross-document duplicated 5-token
# spans (the distributed analog of suffix-array exact-substring dedup)
# rolled up per source, exact-integer counts
# ----------------------------------------------------------------------
@query("span_dedup_stats", oracle=r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t FROM documents),
pos AS (
  SELECT doc_id, unnest([array_to_string(t[i:i+4], ' ')
                         for i in range(1, len(t)-3)]) AS gram
  FROM toks),
dg AS (
  SELECT gram FROM (SELECT gram, count(DISTINCT doc_id) AS nd
                    FROM pos GROUP BY gram) WHERE nd >= 2),
per AS (
  SELECT doc_id, count(*) AS n_spans,
         sum(CASE WHEN gram IN (SELECT gram FROM dg) THEN 1 ELSE 0 END) AS n_dup
  FROM pos GROUP BY doc_id)
SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(coalesce(sum(p.n_spans), 0) AS BIGINT) AS total_spans,
       CAST(coalesce(sum(p.n_dup), 0) AS BIGINT) AS dup_spans,
       round(coalesce(sum(p.n_dup), 0)::DOUBLE /
             greatest(coalesce(sum(p.n_spans), 0), 1), 6) AS dup_fraction
FROM documents d LEFT JOIN per p USING (doc_id)
GROUP BY d.source
""")
def span_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    st = _DD.span_dup_stats(docs, "doc_id", "text", span_tokens=5, min_docs=2)
    return (st.join(docs.select("doc_id", "source"), "doc_id")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_spans").alias("total_spans"),
                 F.sum("n_dup_spans").alias("dup_spans"))
            .withColumn("dup_fraction",
                        F.round(F.col("dup_spans").cast("double") /
                                F.greatest(F.col("total_spans"), F.lit(1)), 6)))


# ----------------------------------------------------------------------
# TF-IDF top-k characteristic terms per document — integer-tuple
# ranking (tf desc, df asc, term asc) so ordering is bit-exact across
# engines; the float score is informational (rounded)
# ----------------------------------------------------------------------
@query("tfidf_top_terms", oracle=r"""
WITH tf AS (
  SELECT doc_id, term, count(*) AS tf FROM (
    SELECT doc_id, lower(unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))) AS term
    FROM documents) WHERE len(term) > 0 GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS N FROM documents),
s AS (SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             tf.tf * (ln((1.0 + N) / (1.0 + dfreq.df)) + 1.0) AS score,
             row_number() OVER (PARTITION BY tf.doc_id
                                ORDER BY tf.tf DESC, dfreq.df ASC,
                                         tf.term ASC) AS rank
      FROM tf JOIN dfreq USING (term), n)
SELECT doc_id, CAST(rank AS BIGINT) AS rank, term,
       CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       round(score, 6) AS score
FROM s WHERE rank <= 3 AND doc_id < 100
""")
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = _TX.tfidf_topk(docs, "doc_id", "text", k=3)
    return (out.filter(F.col("doc_id") < 100)
            .select("doc_id", F.col("rank").cast("long").alias("rank"),
                    "term", "tf", "df",
                    F.round("score", 6).alias("score")))


# ----------------------------------------------------------------------
# deterministic training shuffle + batch assignment — seeded md5 key,
# two-pass global rank (no single-partition window); per-batch stats
# ----------------------------------------------------------------------
@query("training_batch_stats", oracle="""
WITH r AS (
  SELECT n_chars,
         row_number() OVER (ORDER BY md5(concat('7:', CAST(doc_id AS VARCHAR))))
           - 1 AS rk
  FROM documents)
SELECT CAST(rk // 256 AS BIGINT) AS batch, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM r GROUP BY batch
""")
def training_batch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import assign_batches
    docs = load_table(spark, sf_dir, "documents")
    ab = assign_batches(docs, "doc_id", 256, seed=7)
    return (ab.groupBy("batch")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.col("n_chars").cast("long")).alias("total_chars")))


# ----------------------------------------------------------------------
# unigram LM quality score — per-doc mean NLL under the corpus's own
# unigram distribution (cheap perplexity gate); exact-integer counts,
# float only in the final log-space division
# ----------------------------------------------------------------------
@query("unigram_nll_scores", oracle=r"""
WITH tf AS (
  SELECT doc_id, term, count(*) AS tf FROM (
    SELECT doc_id, lower(unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))) AS term
    FROM documents) WHERE len(term) > 0 GROUP BY doc_id, term),
ctf AS (SELECT term, sum(tf) AS ctf FROM tf GROUP BY term),
tot AS (SELECT sum(ctf) AS T FROM ctf)
SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
       round(-sum(tf.tf * ln(ctf.ctf / T)) / sum(tf.tf), 6) AS nll
FROM tf JOIN ctf USING (term), tot
WHERE tf.doc_id < 100
GROUP BY tf.doc_id
""")
def unigram_nll_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sc = _TX.unigram_logprob_scores(docs)
    return (sc.filter(F.col("doc_id") < 100)
            .select("doc_id", "n_tokens", F.round("nll", 6).alias("nll")))


# ----------------------------------------------------------------------
# int8 embedding quantization audit — symmetric per-vector scale,
# round-trip error + cosine vs the original (both sides fold arrays in
# element order, so the float expressions match bit-for-bit)
# ----------------------------------------------------------------------
@query("embedding_quantization_stats", oracle="""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id < 50),
q AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
  FROM base),
d AS (
  SELECT vec_id, v, scale,
         [round(v[i+1] / scale) * scale for i in range(len(v))] AS deq
  FROM q)
SELECT vec_id, round(scale, 6) AS scale,
       round(list_max([abs(v[i+1] - deq[i+1]) for i in range(len(v))]),
             6) AS max_abs_err,
       round(list_aggregate([v[i+1] * deq[i+1] for i in range(len(v))], 'sum')
             / sqrt(list_aggregate([x * x for x in v], 'sum'))
             / sqrt(list_aggregate([x * x for x in deq], 'sum')),
             6) AS cos_sim
FROM d
""")
def embedding_quantization_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.similarity import quantization_error
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    qe = quantization_error(emb)
    return qe.select("vec_id", F.round("scale", 6).alias("scale"),
                     F.round("max_abs_err", 6).alias("max_abs_err"),
                     F.round("cos_sim", 6).alias("cos_sim"))


# ----------------------------------------------------------------------
# incremental ingest dedup — new batch (doc_id >= split) exact-deduped
# against the already-ingested corpus (doc_id < split) via hash
# anti-join; per-lang survivor stats
# ----------------------------------------------------------------------
@query("incremental_dedup_stats", oracle="""
WITH seen AS (
  SELECT md5(concat(text)) AS h FROM documents WHERE doc_id % 5 <> 0),
batch AS (
  SELECT * FROM (
    SELECT doc_id, lang, n_chars,
           row_number() OVER (PARTITION BY md5(concat(text))
                              ORDER BY doc_id) AS rn,
           md5(concat(text)) AS h
    FROM documents WHERE doc_id % 5 = 0)
  WHERE rn = 1 AND h NOT IN (SELECT h FROM seen))
SELECT lang, CAST(count(*) AS BIGINT) AS n_new,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM batch GROUP BY lang
""")
def incremental_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    seen = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    kept = _DD.dedup_incremental(new, seen, ["text"], "doc_id")
    return (kept.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_new"),
                 F.sum(F.col("n_chars").cast("long")).alias("total_chars")))


# ----------------------------------------------------------------------
# Bloom-prefiltered incremental dedup — the corpus hashes build a
# 2^18-bit Bloom filter (one pass + bounded bitmap merge); the new
# batch is screened by k native bit probes, definite-new rows skip the
# anti-join entirely, and only filter-accepted rows (true dups + the
# ~fp sliver) pay the exact hash anti-join. No false negatives means
# the result EQUALS the plain anti-join — which is exactly what this
# full value-hash oracle checks.
# ----------------------------------------------------------------------
@query("bloom_incremental_dedup_stats", oracle="""
WITH seen AS (
  SELECT md5(concat(text)) AS h FROM documents WHERE doc_id % 3 <> 0),
batch AS (
  SELECT * FROM (
    SELECT doc_id, source,
           row_number() OVER (PARTITION BY md5(concat(text))
                              ORDER BY doc_id) AS rn,
           md5(concat(text)) AS h
    FROM documents WHERE doc_id % 2 = 0)
  WHERE rn = 1 AND h NOT IN (SELECT h FROM seen))
SELECT source, CAST(count(*) AS BIGINT) AS n_new,
       CAST(sum(doc_id) AS BIGINT) AS sum_ids
FROM batch GROUP BY source
""")
def bloom_incremental_dedup_stats(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    from .llm.bloom import dedup_incremental_bloom
    docs = load_table(spark, sf_dir, "documents")
    seen = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 2 == 0)
    kept = dedup_incremental_bloom(batch, seen, ["text"], "doc_id",
                                   m_bits=1 << 18, k=5)
    return (kept.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_new"),
                 F.sum(F.col("doc_id")).alias("sum_ids")))


# ----------------------------------------------------------------------
# JSONL corpus ingest round trip — documents shard out as gzip JSONL
# (the arrival format of web-scale corpora), three corrupt lines are
# planted, and the quarantining reader recovers every valid row
# exactly (full value-hash oracle over the original table) while
# counting the corrupt lines — all from ONE text-scan plan, no
# inference pass, no cache ceremony.
# ----------------------------------------------------------------------
@query("jsonl_ingest_stats", oracle="""
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(min(doc_id) AS BIGINT) AS min_id
FROM documents GROUP BY lang
UNION ALL
SELECT '__corrupt__', CAST(3 AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
""")
def jsonl_ingest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.textio import read_jsonl_quarantine, write_jsonl
    docs = load_table(spark, sf_dir, "documents")
    path = _scratch_dir(sf_dir, "docs_jsonl")
    write_jsonl(docs, path, compression="gzip")
    _LF(spark, 
        [("{\"doc_id\": 1, \"text\": truncated",),
         ("plain text noise — not json",),
         ("[1, 2",)], "value string") \
        .write.mode("append").option("compression", "gzip").text(path)
    good, bad = read_jsonl_quarantine(
        spark, path,
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    stats = (good.groupBy("lang")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum("n_chars").alias("total_chars"),
                  F.min("doc_id").alias("min_id")))
    corrupt = (bad.agg(F.count(F.lit(1)).alias("n_docs"))
               .select(F.lit("__corrupt__").alias("lang"),
                       F.col("n_docs"),
                       F.lit(None).cast("long").alias("total_chars"),
                       F.lit(None).cast("long").alias("min_id")))
    return stats.unionByName(corrupt)


# ----------------------------------------------------------------------
# CSV corpus ingest round trip (NEW round 9) — documents shard out
# through the native CSV writer (quoteAll exercises the quote/escape
# state machine), two malformed lines are planted (type mismatch,
# unclosed quote), and the PERMISSIVE quarantining reader
# (sources/textio.py:read_csv_corpus) recovers every valid row exactly
# — text_chars pins the text round trip itself, not just row counts.
# ----------------------------------------------------------------------
@query("csv_ingest_stats", oracle="""
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(length(text)) AS BIGINT) AS text_chars,
       CAST(min(doc_id) AS BIGINT) AS min_id
FROM documents GROUP BY lang
UNION ALL
SELECT '__corrupt__', CAST(2 AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
""")
def csv_ingest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.textio import read_csv_corpus
    docs = load_table(spark, sf_dir, "documents")
    path = _scratch_dir(sf_dir, "docs_csv")
    (docs.select("doc_id", "text", "lang", "source", "n_chars")
         .write.mode("overwrite").option("header", "false")
         .option("quoteAll", "true").csv(path))
    _LF(spark, 
        [('notanumber,"free text",en,src0,12',),
         ('"unclosed quote here,en,src1,5',)], "value string") \
        .write.mode("append").text(path)
    good, bad = read_csv_corpus(
        spark, path,
        "doc_id long, text string, lang string, source string, "
        "n_chars long", header=False)
    stats = (good.groupBy("lang")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum("n_chars").alias("total_chars"),
                  F.sum(F.length("text")).alias("text_chars"),
                  F.min("doc_id").alias("min_id")))
    # the count must also reference a DATA column: Spark disallows CSV
    # plans whose only referenced column is the corrupt record
    # (QUERY_ONLY_CORRUPT_RECORD_COLUMN); line is never null in `bad`
    corrupt = (bad.agg(F.count(F.coalesce(
                   F.col("line"), F.col("doc_id").cast("string")))
                   .alias("n_docs"))
               .select(F.lit("__corrupt__").alias("lang"),
                       F.col("n_docs"),
                       F.lit(None).cast("long").alias("total_chars"),
                       F.lit(None).cast("long").alias("text_chars"),
                       F.lit(None).cast("long").alias("min_id")))
    return stats.unionByName(corrupt)


# ----------------------------------------------------------------------
# URL/domain provenance curation — deterministic URLs derived from
# documents, parsed back through native parse_url, registered-domain
# (eTLD+1) extraction incl. second-level suffixes (co.uk), a domain
# blocklist gate (pure projection for the literal list — corpus never
# shuffles), and a per-domain profile. The oracle derives the domains
# arithmetically, so the engine's URL parsing is what's under test.
# ----------------------------------------------------------------------
@query("domain_curation_stats", oracle="""
WITH u AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END) || source ||
         (CASE WHEN doc_id % 5 = 0 THEN '.co.uk' ELSE '.com' END) AS host,
         source ||
         (CASE WHEN doc_id % 5 = 0 THEN '.co.uk' ELSE '.com' END) AS domain
  FROM documents),
f AS (SELECT * FROM u WHERE domain NOT IN ('src0.co.uk', 'src1.com')),
g AS (SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT host) AS BIGINT) AS n_hosts
      FROM f GROUP BY domain)
SELECT domain, n_docs, n_hosts,
       round(n_docs / (SELECT sum(n_docs) FROM g), 6) AS share
FROM g
""")
def domain_curation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.cleaning import (domain_blocklist_filter, domain_profile,
                               with_registered_domain)
    docs = (load_table(spark, sf_dir, "documents"))
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.col("source"),
        F.when(F.col("doc_id") % 5 == 0,
               F.lit(".co.uk")).otherwise(F.lit(".com")),
        F.lit("/doc/"), F.col("doc_id"))
    tagged = docs.withColumn("url", url)
    # run the PSL matcher ONCE; both gates reuse the column
    dom = with_registered_domain(tagged, "url", out_col="__dom__")
    kept = domain_blocklist_filter(dom.select(*tagged.columns,
                                              "__host__", "__dom__"),
                                   "url", ["src0.co.uk", "src1.com"],
                                   domain_col="__dom__")
    prof = domain_profile(kept, "url", domain_col="__dom__")
    return prof.select("domain", "n_docs", "n_hosts",
                       F.round("share", 6).alias("share"))


# ----------------------------------------------------------------------
# IVF index MAINTENANCE — absorb() updates centroids from a vector
# batch via one mergeable per-cell (count, Σx) aggregate, no refit.
# Hand-set one-hot centroids make the cell assignment SQL-expressible
# (argmax over the first 4 embedding components, first-index
# tie-break = numpy argmax), so the maintained state — per-cell
# counts and the unit-projected running means — gets a full DuckDB
# value-hash oracle. The engine path (assign → posexplode → groupBy)
# is exactly the 100 TB maintenance pass.
# ----------------------------------------------------------------------
@query("ivf_absorb_centroid_stats", oracle="""
WITH a AS (
  SELECT CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
c AS (
  SELECT emb,
         CASE greatest(emb[1], emb[2], emb[3], emb[4])
              WHEN emb[1] THEN 0 WHEN emb[2] THEN 1
              WHEN emb[3] THEN 2 ELSE 3 END AS cell
  FROM a),
m AS (
  SELECT cell, pos, avg(x) AS mean, count(*) AS n
  FROM (SELECT cell, unnest(emb) AS x,
               generate_subscripts(emb, 1) AS pos
        FROM c)
  GROUP BY cell, pos),
nrm AS (SELECT cell, sqrt(sum(mean * mean)) AS nv FROM m GROUP BY cell)
SELECT CAST(m.cell AS BIGINT) AS cell, CAST(m.pos - 1 AS INT) AS pos,
       CAST(m.n AS BIGINT) AS n_absorbed,
       round(m.mean / nrm.nv, 6) AS centroid_value
FROM m JOIN nrm ON m.cell = nrm.cell
""")
def ivf_absorb_centroid_stats(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    import numpy as np

    from .llm.similarity import IVFIndex

    emb = load_table(spark, sf_dir, "embeddings")
    dim = 64
    ivf = IVFIndex(n_centroids=4, n_probe=1)
    C = np.zeros((4, dim))
    for i in range(4):
        C[i, i] = 1.0       # one-hot quantizer: cell = argmax emb[0:4]
    ivf.centroids = C
    ivf.absorb(emb)
    rows = [(int(c), int(p), int(ivf.cell_counts[c]),
             round(float(v), 6))
            for c in range(4) if ivf.cell_counts[c] > 0
            for p, v in enumerate(ivf.centroids[c])]
    return _LF(spark, 
        rows, "cell long, pos int, n_absorbed long, "
              "centroid_value double")


# ----------------------------------------------------------------------
# WET (WARC conversion) ingest round trip — documents shard out as
# WET-style records (the Common Crawl text arrival format, ISO
# 28500), read_wet splits/parses them natively (wholetext → record
# split → header regexes, no Python in the row path), the warcinfo
# preamble records are filtered by type, and the per-source stats
# must reproduce the original table exactly (payload chars AND the
# parsed Content-Length header, in OCTETS per ISO 28500, must agree
# with DuckDB's strlen = UTF-8 byte count).
# ----------------------------------------------------------------------
@query("wet_ingest_stats", oracle="""
SELECT source, CAST(count(*) AS BIGINT) AS n_records,
       CAST(sum(length(text)) AS BIGINT) AS payload_chars,
       CAST(sum(strlen(text)) AS BIGINT) AS header_octets,
       CAST(min(doc_id) AS BIGINT) AS min_id
FROM documents GROUP BY source
""")
def wet_ingest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.textio import read_wet, write_wet
    docs = load_table(spark, sf_dir, "documents")
    path = _scratch_dir(sf_dir, "docs_wet")
    tagged = docs.withColumn(
        "uri", F.concat(F.lit("https://"), F.col("source"),
                        F.lit(".example/d/"), F.col("doc_id")))
    write_wet(tagged.coalesce(4), path, "uri", "text",
              compression="gzip")
    recs = read_wet(spark, path)     # warcinfo filtered by default
    src = F.regexp_extract("target_uri", r"^https://([^.]+)\.example", 1)
    doc_id = F.regexp_extract("target_uri", r"/d/(\d+)$", 1).cast("long")
    return (recs.select(src.alias("source"), doc_id.alias("doc_id"),
                        F.length("payload").alias("pc"),
                        "content_length")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_records"),
                 F.sum("pc").alias("payload_chars"),
                 F.sum("content_length").alias("header_octets"),
                 F.min("doc_id").alias("min_id")))


# ----------------------------------------------------------------------
# Shard-level corrupt-payload quarantine (round 11, the WET twin of
# multimodal_quarantine_stats): the documents corpus lands as gzip WET
# shards, then a TRUNCATED gzip member and an over-cap gzip bomb are
# planted alongside. read_wet_quarantine must carry every record of
# the intact shards through (payload chars/octets under the hash) and
# report exactly the two bad shards, the bomb classified by its
# max_shard_bytes reason. The job-survival property itself (and the
# streaming twin) is pytest'd in tests/test_sources.py.
# ----------------------------------------------------------------------
@query("wet_quarantine_stats", oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_records,
       CAST(sum(length(text)) AS BIGINT) AS payload_chars,
       CAST(sum(strlen(text)) AS BIGINT) AS payload_octets,
       CAST(2 AS BIGINT) AS n_quarantined,
       CAST(1 AS BIGINT) AS n_over_cap
FROM documents WHERE doc_id < 200
""")
def wet_quarantine_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import gzip

    from .sources.textio import read_wet_quarantine, write_wet
    docs = load_table(spark, sf_dir, "documents").filter("doc_id < 200")
    path = _scratch_dir(sf_dir, "docs_wetq")
    tagged = docs.withColumn(
        "uri", F.concat(F.lit("https://"), F.col("source"),
                        F.lit(".example/d/"), F.col("doc_id")))
    write_wet(tagged.coalesce(2), path, "uri", "text",
              compression="gzip")
    with open(os.path.join(path, "zz_truncated.txt.gz"), "wb") as f:
        f.write(gzip.compress(b"x" * 4096)[:12])
    with open(os.path.join(path, "zz_bomb.txt.gz"), "wb") as f:
        f.write(gzip.compress(b"A" * (8 << 20)))
    recs, bad = read_wet_quarantine(spark, path,
                                    max_shard_bytes=4 << 20)
    stats = recs.agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum(F.length("payload")).alias("payload_chars"),
        F.sum(F.octet_length("payload")).alias("payload_octets"))
    badstats = bad.agg(
        F.count(F.lit(1)).alias("n_quarantined"),
        F.sum(F.col("corrupt_reason").contains("max_shard_bytes")
               .cast("long")).alias("n_over_cap"))
    return stats.crossJoin(F.broadcast(badstats))


# ----------------------------------------------------------------------
# column-level PII protection (round 12): native-AES encryption
# (deterministic ECB for joinable pseudonymization, randomized GCM for
# at-rest), decryption round trip, and keyed one-way sha2
# pseudonymization — all JVM expressions. The oracle replays the
# deterministic properties (cipher cardinality == plaintext
# cardinality, round-trip equality, exact sha256 tokens) from the
# plain table; GCM's randomness cancels because only DECRYPTED values
# are aggregated.
# ----------------------------------------------------------------------
@query("pii_protection_stats", oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT c_name) AS BIGINT) AS n_name_ciphers,
       CAST(count(*) AS BIGINT) AS n_name_roundtrip,
       CAST(sum(length(c_name)) AS BIGINT) AS name_chars,
       CAST(sum(length(c_mktsegment)) AS BIGINT) AS seg_chars,
       CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_key_tokens,
       min(substr(sha256('s7' || chr(31) ||
                         CAST(c_custkey AS VARCHAR)), 1, 16))
         AS min_key_token
FROM customer
""")
def pii_protection_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.privacy import (decrypt_columns, encrypt_columns,
                                    pseudonymize)
    key = "0123456789abcdef"
    cust = load_table(spark, sf_dir, "customer")
    e = encrypt_columns(cust, ["c_name"], key, deterministic=True,
                        suffix="_cipher")
    e = encrypt_columns(e, ["c_mktsegment"], key, suffix="_cipher")
    e = pseudonymize(e, ["c_custkey"], "s7")
    e = (e.withColumn("c_name_rt", F.col("c_name_cipher"))
         .withColumn("c_seg_rt", F.col("c_mktsegment_cipher")))
    d = decrypt_columns(e, ["c_name_rt"], key, deterministic=True)
    d = decrypt_columns(d, ["c_seg_rt"], key)
    return d.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("c_name_cipher").alias("n_name_ciphers"),
        F.sum((F.col("c_name_rt") == F.col("c_name")).cast("long"))
         .alias("n_name_roundtrip"),
        F.sum(F.length("c_name_rt")).alias("name_chars"),
        F.sum(F.length("c_seg_rt")).alias("seg_chars"),
        F.countDistinct("c_custkey").alias("n_key_tokens"),
        F.min("c_custkey").alias("min_key_token"))


# ----------------------------------------------------------------------
# WebDataset-style tar-shard export round trip (round 12): documents
# exported as {doc_id}.txt / {doc_id}.src members across deterministic
# hash shards, read back through the binaryFile + tar parse path, and
# audited per member extension. The oracle replays counts and utf-8
# octet sums straight from the table — the whole write/read machinery
# (member framing, shard assignment, manifest) is under the hash.
# ----------------------------------------------------------------------
@query("wds_roundtrip_stats", oracle="""
SELECT 'src' AS ext, CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(strlen(source)) AS BIGINT) AS sum_octets
FROM documents
UNION ALL
SELECT 'txt', CAST(count(*) AS BIGINT),
       CAST(sum(strlen(text)) AS BIGINT)
FROM documents
""")
def wds_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.wds import read_tar_shards, write_tar_shards
    docs = load_table(spark, sf_dir, "documents")
    path = _scratch_dir(sf_dir, "docs_wds")
    write_tar_shards(docs, path, "doc_id",
                     {"text": "txt", "source": "src"}, n_shards=4)
    back = read_tar_shards(spark, path)
    return (back.groupBy("ext")
            .agg(F.count(F.lit(1)).alias("n_members"),
                 F.sum(F.octet_length("payload")).alias("sum_octets")))


# ----------------------------------------------------------------------
# Full-WARC response ingest round trip (NEW round 9) — documents wrap
# as HTTP responses inside WARC response records (write_warc:
# status line, Content-Type, byte-exact HTTP Content-Length), then
# read_warc parses WARC headers AND the HTTP envelope back out. The
# oracle rebuilds the exact HTTP message per doc in SQL and takes its
# strlen (octets), so the status-line parse, the envelope strip, and
# the double Content-Length accounting (WARC over HTTP) are all under
# the hash.
# ----------------------------------------------------------------------
@query("warc_ingest_stats", oracle="""
WITH m AS (
  SELECT source, doc_id,
         '<p>' || text || '</p>' AS body,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 200
              WHEN 1 THEN 404 ELSE 301 END AS status
  FROM documents),
h AS (
  SELECT source, doc_id, body, status,
         'HTTP/1.1 ' || status || ' ' ||
         CASE status WHEN 200 THEN 'OK'
              WHEN 404 THEN 'Not Found'
              ELSE 'Moved Permanently' END || chr(10) ||
         'Content-Type: text/html' || chr(10) ||
         'Content-Length: ' || strlen(body) || chr(10) || chr(10) ||
         body AS msg
  FROM m)
SELECT source, CAST(status AS INT) AS http_status,
       CAST(count(*) AS BIGINT) AS n_records,
       CAST(sum(length(body)) AS BIGINT) AS body_chars,
       CAST(sum(strlen(msg)) AS BIGINT) AS msg_octets,
       CAST(min(doc_id) AS BIGINT) AS min_id
FROM h GROUP BY source, status
""")
def warc_ingest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.textio import read_warc, write_warc
    docs = load_table(spark, sf_dir, "documents")
    path = _scratch_dir(sf_dir, "docs_warc")
    v = (F.col("doc_id") % 3).cast("int")
    tagged = docs.select(
        F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".example/d/"), F.col("doc_id")).alias("uri"),
        F.concat(F.lit("<p>"), F.col("text"), F.lit("</p>"))
        .alias("html"),
        (F.when(v == 0, 200).when(v == 1, 404).otherwise(301))
        .alias("code"))
    write_warc(tagged.coalesce(4), path, "uri", "html",
               status_col="code", compression="gzip")
    recs = read_warc(spark, path)    # warcinfo filtered by default
    src = F.regexp_extract("target_uri", r"^https://([^.]+)\.example", 1)
    doc_id = F.regexp_extract("target_uri", r"/d/(\d+)$", 1).cast("long")
    return (recs.select(src.alias("source"), "http_status",
                        doc_id.alias("doc_id"),
                        F.length("body").alias("bc"),
                        "content_length")
            .groupBy("source", "http_status")
            .agg(F.count(F.lit(1)).alias("n_records"),
                 F.sum("bc").alias("body_chars"),
                 F.sum("content_length").alias("msg_octets"),
                 F.min("doc_id").alias("min_id")))


# ----------------------------------------------------------------------
# Unicode hygiene (NEW round 9) — planted per-doc markers: combining
# sequences that NFC must compose (e+U+0301 → é, A+U+030A → Å) and a
# zero-width space that strip_invisible must remove. The engine runs
# strip_invisible (native regex, identical RE2 pattern string in the
# oracle) then the nfc_normalize pandas UDF; DuckDB replays with its
# own regexp_replace + nfc_normalize — an independent Unicode
# implementation, so a normalization or class-membership bug on either
# side breaks the value hash.
# ----------------------------------------------------------------------
from .llm.cleaning import INVISIBLE_CLASS as _INVIS  # noqa: E402
from .llm.text import SCRIPT_CLASSES as _SCRIPTS  # noqa: E402


# ----------------------------------------------------------------------
# Luhn-validated payment-card PII (NEW round 9) — planted card
# numbers (plain, dash-separated, and a checksum-invalid twin) over
# the corpus; the engine's two-stage detector (wide candidate regex →
# native Luhn checksum fold, llm/cleaning.py:credit_card_count) must
# count exactly the valid ones. The oracle re-implements Luhn as a
# DuckDB list comprehension — an independent checksum evaluation, so
# a parity/doubling/length-gate bug on either side flips the hash.
# ----------------------------------------------------------------------
@query("pii_card_luhn_stats", oracle=r"""
WITH m AS (
  SELECT source, doc_id,
         text || CASE CAST(doc_id % 4 AS INT)
                 WHEN 1 THEN ' card 4111111111111111 ok'
                 WHEN 2 THEN ' card 4111-1111-1111-1111 ok'
                 WHEN 3 THEN ' bad 4111111111111112 no'
                 ELSE '' END AS t
  FROM documents),
c AS (
  SELECT source, doc_id,
         len(list_filter(
           list_transform(
             regexp_extract_all(t, '[0-9](?:[ -]?[0-9]){12,18}'),
             c -> regexp_replace(c, '[ -]', '', 'g')),
           d -> strlen(d) >= 13 AND
                list_sum([CASE WHEN i % 2 = 0 THEN
                            CASE WHEN 2*CAST(substring(reverse(d), i, 1) AS INT) > 9
                                 THEN 2*CAST(substring(reverse(d), i, 1) AS INT) - 9
                                 ELSE 2*CAST(substring(reverse(d), i, 1) AS INT) END
                          ELSE CAST(substring(reverse(d), i, 1) AS INT) END
                          for i in range(1, strlen(d)+1)]) % 10 = 0))
           AS n_cards
  FROM m)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_cards) AS BIGINT) AS total_cards,
       CAST(sum(CASE WHEN n_cards > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_with_cards
FROM c GROUP BY source
""")
def pii_card_luhn_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.cleaning import credit_card_count
    docs = (load_table(spark, sf_dir, "documents"))
    v = (F.col("doc_id") % 4).cast("int")
    mark = (F.when(v == 1, F.lit(" card 4111111111111111 ok"))
            .when(v == 2, F.lit(" card 4111-1111-1111-1111 ok"))
            .when(v == 3, F.lit(" bad 4111111111111112 no"))
            .otherwise(F.lit("")))
    work = docs.select(
        "source",
        credit_card_count(F.concat(F.col("text"), mark))
        .alias("n_cards"))
    return (work.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.col("n_cards").cast("long"))
                 .alias("total_cards"),
                 F.sum((F.col("n_cards") > 0).cast("long"))
                 .alias("docs_with_cards")))


# ----------------------------------------------------------------------
# Writing-system (script) detection (NEW round 9) — four planted
# script variants (Cyrillic / CJK / Greek / digits-only) over the
# Latin base corpus; the engine's dominant_script votes over native
# per-class regex counts (llm/text.py:SCRIPT_CLASSES — the same
# portable class strings are interpolated into the oracle, where RE2
# evaluates them independently) and the oracle replays the argmax +
# min-ratio + tie chain as a CASE. A class-range bug, a vote-order
# difference, or a min_ratio boundary slip flips the hash.
# ----------------------------------------------------------------------
@query("script_detection_stats", oracle=f"""
WITH m AS (
  SELECT doc_id, CASE CAST(doc_id % 5 AS INT)
         WHEN 1 THEN 'Привет мир это тестовый текст для скрипта'
         WHEN 2 THEN '你好世界这是脚本检测的测试文本'
         WHEN 3 THEN 'Γειά σου Κόσμε αυτό είναι ένα δοκιμαστικό κείμενο'
         WHEN 4 THEN '0123 4567 89'
         ELSE text END AS t
  FROM documents),
c AS (
  SELECT doc_id, length(t) AS total,
         length(t) - length(regexp_replace(t, '{_SCRIPTS["latin"]}', '', 'g')) AS latin,
         length(t) - length(regexp_replace(t, '{_SCRIPTS["cyrillic"]}', '', 'g')) AS cyrillic,
         length(t) - length(regexp_replace(t, '{_SCRIPTS["greek"]}', '', 'g')) AS greek,
         length(t) - length(regexp_replace(t, '{_SCRIPTS["cjk"]}', '', 'g')) AS cjk,
         length(t) - length(regexp_replace(t, '{_SCRIPTS["arabic"]}', '', 'g')) AS arabic,
         length(t) - length(regexp_replace(t, '{_SCRIPTS["hebrew"]}', '', 'g')) AS hebrew
  FROM m),
d AS (
  SELECT doc_id, total,
         latin + cyrillic + greek + cjk + arabic + hebrew AS letters,
         CASE
           WHEN latin = greatest(latin, cyrillic, greek, cjk, arabic, hebrew)
                AND latin >= 0.3 * total AND latin > 0 THEN 'latin'
           WHEN cyrillic = greatest(latin, cyrillic, greek, cjk, arabic, hebrew)
                AND cyrillic >= 0.3 * total AND cyrillic > 0 THEN 'cyrillic'
           WHEN greek = greatest(latin, cyrillic, greek, cjk, arabic, hebrew)
                AND greek >= 0.3 * total AND greek > 0 THEN 'greek'
           WHEN cjk = greatest(latin, cyrillic, greek, cjk, arabic, hebrew)
                AND cjk >= 0.3 * total AND cjk > 0 THEN 'cjk'
           WHEN arabic = greatest(latin, cyrillic, greek, cjk, arabic, hebrew)
                AND arabic >= 0.3 * total AND arabic > 0 THEN 'arabic'
           WHEN hebrew = greatest(latin, cyrillic, greek, cjk, arabic, hebrew)
                AND hebrew >= 0.3 * total AND hebrew > 0 THEN 'hebrew'
           ELSE 'unknown' END AS script
  FROM c)
SELECT script, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(total) AS BIGINT) AS total_chars,
       CAST(sum(letters) AS BIGINT) AS letter_chars
FROM d GROUP BY script
""")
def script_detection_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.text import dominant_script, script_counts
    docs = (load_table(spark, sf_dir, "documents"))
    v = (F.col("doc_id") % 5).cast("int")
    t = (F.when(v == 1, F.lit(
            "Привет мир это тестовый текст для скрипта"))
         .when(v == 2, F.lit("你好世界这是脚本检测的测试文本"))
         .when(v == 3, F.lit(
            "Γειά σου Κόσμε αυτό είναι ένα δοκιμαστικό κείμενο"))
         .when(v == 4, F.lit("0123 4567 89"))
         .otherwise(F.col("text")))
    work = docs.select(t.alias("t")) \
        .select(dominant_script(F.col("t")).alias("script"),
                script_counts(F.col("t")).alias("sc")) \
        .select("script", F.col("sc.total").alias("total"),
                (F.col("sc.latin") + F.col("sc.cyrillic")
                 + F.col("sc.greek") + F.col("sc.cjk")
                 + F.col("sc.arabic") + F.col("sc.hebrew"))
                .alias("letters"))
    return (work.groupBy("script")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("total").alias("total_chars"),
                 F.sum("letters").alias("letter_chars")))


@query("unicode_cleaning_stats", oracle=f"""
WITH m AS (
  SELECT source, doc_id,
         text || CASE CAST(doc_id % 4 AS INT)
                 WHEN 1 THEN ' cafe' || chr(769)
                 WHEN 2 THEN chr(8203) || 'zw'
                 WHEN 3 THEN ' A' || chr(778)
                 ELSE '' END AS raw
  FROM documents),
s AS (
  SELECT source, raw,
         regexp_replace(raw, '{_INVIS}', '', 'g') AS stripped
  FROM m),
c AS (
  SELECT source, raw, stripped,
         nfc_normalize(stripped) AS clean
  FROM s)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN stripped <> raw THEN 1 ELSE 0 END)
            AS BIGINT) AS n_stripped,
       CAST(sum(CASE WHEN clean <> stripped THEN 1 ELSE 0 END)
            AS BIGINT) AS n_composed,
       CAST(sum(length(raw)) AS BIGINT) AS chars_raw,
       CAST(sum(length(clean)) AS BIGINT) AS chars_clean
FROM c GROUP BY source
""")
def unicode_cleaning_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.cleaning import nfc_normalize, strip_invisible
    docs = (load_table(spark, sf_dir, "documents"))
    v = (F.col("doc_id") % 4).cast("int")
    marker = (F.when(v == 1, F.lit(" cafe\u0301"))
              .when(v == 2, F.lit("\u200bzw"))
              .when(v == 3, F.lit(" A\u030a"))
              .otherwise(F.lit("")))
    raw = F.concat(F.col("text"), marker)
    work = docs.select("source", raw.alias("raw"))
    work = work.withColumn("stripped", strip_invisible(F.col("raw")))
    work = work.withColumn("clean", nfc_normalize(F.col("stripped")))
    return (work.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum((F.col("stripped") != F.col("raw"))
                       .cast("long")).alias("n_stripped"),
                 F.sum((F.col("clean") != F.col("stripped"))
                       .cast("long")).alias("n_composed"),
                 F.sum(F.length("raw")).alias("chars_raw"),
                 F.sum(F.length("clean")).alias("chars_clean")))


# ----------------------------------------------------------------------
# Mojibake repair (NEW round 9) — planted UTF-8-decoded-as-Latin-1
# corruption ("caf\u00e9" carried as chr(195)||chr(169)); the
# engine's fix_mojibake re-encodes and strict-decodes per row, the
# oracle replays the planted construction arithmetically (corrupt
# marker in, repaired marker out), so a wrong repair OR a
# false-positive repair of the clean ASCII body flips counts/char
# sums -> hash mismatch.
# ----------------------------------------------------------------------
@query("mojibake_repair_stats", oracle="""
WITH m AS (
  SELECT source, doc_id,
         text || CASE CAST(doc_id % 3 AS INT)
                 WHEN 1 THEN ' caf' || chr(195) || chr(169)
                 WHEN 2 THEN ' na' || chr(195) || chr(175) || 've '
                      || 'r' || chr(195) || chr(169) || 'sum'
                      || chr(195) || chr(169)
                 ELSE '' END AS raw,
         text || CASE CAST(doc_id % 3 AS INT)
                 WHEN 1 THEN ' caf' || chr(233)
                 WHEN 2 THEN ' na' || chr(239) || 've '
                      || 'r' || chr(233) || 'sum' || chr(233)
                 ELSE '' END AS fixed
  FROM documents)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN fixed <> raw THEN 1 ELSE 0 END)
            AS BIGINT) AS n_repaired,
       CAST(sum(length(raw)) AS BIGINT) AS chars_raw,
       CAST(sum(length(fixed)) AS BIGINT) AS chars_fixed
FROM m GROUP BY source
""")
def mojibake_repair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.cleaning import fix_mojibake
    docs = (load_table(spark, sf_dir, "documents"))
    v = (F.col("doc_id") % 3).cast("int")
    mark = (F.when(v == 1, F.lit(" caf\u00c3\u00a9"))
            .when(v == 2, F.lit(
                " na\u00c3\u00afve r\u00c3\u00a9sum\u00c3\u00a9"))
            .otherwise(F.lit("")))
    raw = F.concat(F.col("text"), mark)
    work = docs.select("source", raw.alias("raw")) \
               .withColumn("fixed", fix_mojibake(F.col("raw")))
    return (work.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum((F.col("fixed") != F.col("raw"))
                       .cast("long")).alias("n_repaired"),
                 F.sum(F.length("raw")).alias("chars_raw"),
                 F.sum(F.length("fixed")).alias("chars_fixed")))


# ----------------------------------------------------------------------
# URL canonicalization — four deterministic messy variants per page
# (scheme/host case + default port + trailing slash, duplicate
# slashes + tracking params, unsorted query + fragment) built from
# documents; normalize_url must collapse the first three onto one
# canonical identity per page and keep the real-query variant
# distinct. The oracle derives the canonical strings arithmetically,
# so the engine's parse + rebuild chain is what's under test —
# min_canonical pins the exact output formatting, not just counts.
# ----------------------------------------------------------------------
@query("url_normalization_stats", oracle="""
WITH c AS (
  SELECT doc_id, source,
         'https://' || source || '.com/d/' ||
         CAST(doc_id // 4 AS VARCHAR) ||
         (CASE WHEN doc_id % 4 = 3 THEN '?a=1&b=2' ELSE '' END)
           AS canonical
  FROM documents)
SELECT source, CAST(count(*) AS BIGINT) AS n_urls,
       CAST(count(DISTINCT canonical) AS BIGINT) AS n_canonical,
       CAST(sum(CASE WHEN canonical LIKE '%?%' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_with_query,
       min(canonical) AS min_canonical
FROM c GROUP BY source
""")
def url_normalization_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.cleaning import normalize_url
    docs = (load_table(spark, sf_dir, "documents"))
    page = (F.col("doc_id") / 4).cast("long").cast("string")
    v = F.col("doc_id") % 4
    url = (F.when(v == 0, F.concat(
                F.lit("https://"), F.col("source"), F.lit(".com/d/"),
                page))
           .when(v == 1, F.concat(
                F.lit("HTTPS://"), F.upper(F.col("source")),
                F.lit(".COM:443/d/"), page, F.lit("/")))
           .when(v == 2, F.concat(
                F.lit("https://"), F.col("source"), F.lit(".com//d//"),
                page, F.lit("?utm_source=x&ref=y")))
           .otherwise(F.concat(
                F.lit("https://"), F.col("source"), F.lit(".com/d/"),
                page, F.lit("?b=2&a=1#sec"))))
    tagged = docs.withColumn("canonical", normalize_url(url))
    return (tagged.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_urls"),
                 F.count_distinct("canonical").alias("n_canonical"),
                 F.sum(F.col("canonical").contains("?").cast("long"))
                 .alias("n_with_query"),
                 F.min("canonical").alias("min_canonical")))


# ----------------------------------------------------------------------
# small-file compaction — events scatter out as 32 tiny parquet files
# (a streaming sink's signature failure mode), compact_parquet_dir
# bin-packs them shuffle-free (coalesce merges input splits in place),
# and the layout-invariant aggregate proves content preservation
# against the original table.
# ----------------------------------------------------------------------
@query("compacted_scan_stats", oracle="""
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)
         AS value_cents,
       CAST(min(event_id) AS BIGINT) AS min_id,
       CAST(max(event_id) AS BIGINT) AS max_id
FROM events GROUP BY event_type
""")
def compacted_scan_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.layout import compact_parquet_dir
    ev = load_table(spark, sf_dir, "events") \
        .select("event_id", "event_type", "value")
    path = _scratch_dir(sf_dir, "events_small")
    ev.repartition(32).write.mode("overwrite").parquet(path)
    stats = compact_parquet_dir(spark, path, target_file_bytes=64 << 20)
    assert stats["files_after"] < stats["files_before"]
    return (spark.read.parquet(path)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(cents(F.col("value"))).alias("value_cents"),
                 F.min("event_id").alias("min_id"),
                 F.max("event_id").alias("max_id")))


# ----------------------------------------------------------------------
# Copy-on-write keyed upsert / MERGE (NEW round 9) — orders land in a
# bucket-partitioned COW table (sources/layout.py:cow_write), a
# deterministic update batch (price bump + status flip on key%10==3,
# brand-new keys on key%100==7) merges in via upsert_parquet — only
# the touched bucket directories rewrite — and the post-merge table
# aggregates by status. The oracle replays MERGE semantics
# relationally (anti-join + union), so a lost update, a surviving
# superseded row, or a dropped untouched bucket all flip the hash.
# ----------------------------------------------------------------------
@query("upsert_merge_stats", oracle="""
WITH upd AS (
  SELECT o_orderkey, 'U' AS o_orderstatus,
         o_totalprice + 1000.0 AS o_totalprice
  FROM orders WHERE o_orderkey % 10 = 3
  UNION ALL
  SELECT o_orderkey + 10000000, 'N', o_totalprice
  FROM orders WHERE o_orderkey % 100 = 7),
merged AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
  UNION ALL SELECT * FROM upd)
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
         AS price_cents,
       CAST(min(o_orderkey) AS BIGINT) AS min_key,
       CAST(max(o_orderkey) AS BIGINT) AS max_key
FROM merged GROUP BY o_orderstatus
""")
def upsert_merge_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.layout import cow_write, read_cow, upsert_parquet
    orders = load_table(spark, sf_dir, "orders") \
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    path = _scratch_dir(sf_dir, "orders_cow")
    cow_write(orders, path, "o_orderkey", num_buckets=8)
    upd = (orders.filter(F.col("o_orderkey") % 10 == 3)
           .select("o_orderkey", F.lit("U").alias("o_orderstatus"),
                   (F.col("o_totalprice") + 1000.0)
                   .alias("o_totalprice")))
    ins = (orders.filter(F.col("o_orderkey") % 100 == 7)
           .select((F.col("o_orderkey") + 10_000_000)
                   .alias("o_orderkey"),
                   F.lit("N").alias("o_orderstatus"),
                   F.col("o_totalprice")))
    upsert_parquet(spark, path, upd.unionByName(ins))
    return (read_cow(spark, path)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(cents(F.col("o_totalprice")))
                 .alias("price_cents"),
                 F.min("o_orderkey").alias("min_key"),
                 F.max("o_orderkey").alias("max_key")))


# ----------------------------------------------------------------------
# Streaming COW MERGE twin (NEW round 10, VERDICT r9 #5) — the same
# keyed MERGE as upsert_merge_stats, but the updates arrive as a
# stream: readStream → streaming_upsert (foreachBatch → one winner
# per key → upsert_parquet, _cow_stream_meta batch-id idempotence).
# The oracle replays the merge logically, so a double-applied batch,
# a lost bucket swap, or a wrong dedupe winner flips the hash; the
# idempotent-re-drain property is pytest'd (test_streaming.py).
# ----------------------------------------------------------------------
@query("streaming_upsert_stats", oracle="""
WITH upd AS (
  SELECT o_orderkey, 'U' AS o_orderstatus,
         o_totalprice + 1000.0 AS o_totalprice
  FROM orders WHERE o_orderkey % 10 = 3
  UNION ALL
  SELECT o_orderkey + 10000000, 'N', o_totalprice
  FROM orders WHERE o_orderkey % 100 = 7),
merged AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
  UNION ALL SELECT * FROM upd)
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
         AS price_cents,
       CAST(min(o_orderkey) AS BIGINT) AS min_key,
       CAST(max(o_orderkey) AS BIGINT) AS max_key
FROM merged GROUP BY o_orderstatus
""")
def streaming_upsert_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.layout import cow_write, read_cow
    from .streaming import streaming_upsert
    orders = load_table(spark, sf_dir, "orders") \
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    path = _scratch_dir(sf_dir, "orders_scow_table")
    ckpt = _scratch_dir(sf_dir, "orders_scow_ckpt")
    # 4 buckets: the update batch touches every bucket at this scale
    # anyway (keys are uniform), so extra buckets only multiply the
    # fixed per-bucket rename/commit jobs the query wall is made of
    cow_write(orders, path, "o_orderkey", num_buckets=4)
    sorders = (spark.readStream
               .schema(load_table(spark, sf_dir, "orders").schema)
               .option("pathGlobFilter", "orders.parquet")
               .parquet(sf_dir)
               .select("o_orderkey", "o_orderstatus", "o_totalprice"))
    upd = (sorders.filter(F.col("o_orderkey") % 10 == 3)
           .select("o_orderkey", F.lit("U").alias("o_orderstatus"),
                   (F.col("o_totalprice") + 1000.0)
                   .alias("o_totalprice")))
    ins = (sorders.filter(F.col("o_orderkey") % 100 == 7)
           .select((F.col("o_orderkey") + 10_000_000)
                   .alias("o_orderkey"),
                   F.lit("N").alias("o_orderstatus"),
                   F.col("o_totalprice")))
    streaming_upsert(upd.unionByName(ins), path, ckpt,
                     query_name=f"sup_{_uuid.uuid4().hex[:8]}")
    return (read_cow(spark, path)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(cents(F.col("o_totalprice")))
                 .alias("price_cents"),
                 F.min("o_orderkey").alias("min_key"),
                 F.max("o_orderkey").alias("max_key")))


# ----------------------------------------------------------------------
# HTML → text extraction (WET-style) — documents wrapped in a markup
# shell (script/style/comment blocks, heading, entities), stripped
# back through the native regexp chain. The oracle replays the SAME
# pipeline in DuckDB (RE2), so Java-regex/RE2 parity of every pattern
# is what's under test; parity holds for ANY text content by
# construction since both sides transform identically.
# ----------------------------------------------------------------------
@query("html_extraction_stats", oracle=r"""
WITH h AS (
  SELECT doc_id, lang,
         '<HTML><head><script type="x">var hidden = "<p>x</p>";'
         || '</script><STYLE>p { color: red; }</STYLE></head><body><h1>'
         || source || '</h1><!-- note --><p>' || text
         || ' &amp; more&nbsp;&lt;end&gt;</p></body></HTML>' AS html
  FROM documents),
s AS (
  SELECT doc_id, lang, trim(regexp_replace(
    replace(replace(replace(replace(replace(replace(replace(
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        html,
        '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        '(?s)<!--.*?-->', ' ', 'g'),
        '(?i)<[^>]*>', ' ', 'g'),
      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
      '&#39;', chr(39)), '&apos;', chr(39)), '&nbsp;', ' '),
      '&amp;', '&'),
    '\s+', ' ', 'g')) AS t
  FROM h)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(t)) AS BIGINT) AS total_chars,
       CAST(count(DISTINCT t) AS BIGINT) AS n_distinct
FROM s GROUP BY lang
""")
def html_extraction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.cleaning import strip_html
    docs = (load_table(spark, sf_dir, "documents"))
    html = F.concat(
        F.lit('<HTML><head><script type="x">var hidden = "<p>x</p>";'
              '</script><STYLE>p { color: red; }</STYLE></head>'
              '<body><h1>'),
        F.col("source"),
        F.lit('</h1><!-- note --><p>'),
        F.col("text"),
        F.lit(' &amp; more&nbsp;&lt;end&gt;</p></body></HTML>'))
    stripped = docs.select("lang", strip_html(html).alias("t"))
    return (stripped.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.length("t")).alias("total_chars"),
                 F.count_distinct("t").alias("n_distinct")))


# ----------------------------------------------------------------------
# perceptual image hashing — deterministic 8x8 RAW8 images derived
# from doc_id run through the real decode → aHash → band-bucket path;
# the oracle replays the pixel rule arithmetically (bit i set when
# pixel_i exceeds the image mean; 4 x 16-bit bands), so the decode,
# hash packing, and shiftrightunsigned band extraction are under test.
# ----------------------------------------------------------------------
@query("image_phash_band_stats", oracle="""
WITH px AS (
  SELECT doc_id, CAST(i AS INT) AS i,
         CAST((doc_id*31 + i) % 256 AS DOUBLE) AS p
  FROM documents, range(64) r(i)),
m AS (SELECT doc_id, avg(p) AS mu FROM px GROUP BY doc_id),
bits AS (SELECT px.doc_id, i, CASE WHEN p > mu THEN 1 ELSE 0 END AS b
         FROM px JOIN m USING (doc_id)),
bands AS (SELECT doc_id, i // 16 AS band,
                 CAST(sum(b * (CAST(1 AS BIGINT) << (i % 16))) AS BIGINT)
                   AS bucket
          FROM bits GROUP BY doc_id, i // 16)
SELECT CAST(band AS INT) AS band,
       CAST(count(DISTINCT bucket) AS BIGINT) AS n_buckets,
       CAST(sum(bucket) AS BIGINT) AS sum_buckets
FROM bands GROUP BY band
""")
def image_phash_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from .llm.multimodal import image_phash

    def _mk(ids):
        return ids.map(lambda d: bytes(
            [(int(d) * 31 + i) % 256 for i in range(64)]))
    _mk.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    mk_payload = F.pandas_udf(_mk, "binary")

    docs = (load_table(spark, sf_dir, "documents").select("doc_id"))
    imgs = docs.select(
        "doc_id", mk_payload("doc_id").alias("payload"),
        F.lit(8).alias("width"), F.lit(8).alias("height"),
        F.lit(1).alias("channels"), F.lit("RAW8").alias("format"))
    hashes = image_phash(imgs, "doc_id")
    bb = _DD.hash_band_explode(hashes, "doc_id", "phash", bands=4)
    return (bb.groupBy("band")
            .agg(F.count_distinct("bucket").alias("n_buckets"),
                 F.sum("bucket").alias("sum_buckets")))


# ----------------------------------------------------------------------
# BM25 retrieval scoring — three bag-of-words queries against a
# bounded document corpus; term-keyed postings join (cost tracks
# postings touched, never |queries|x|corpus|); Lucene-style idf. The
# oracle replays the full formula, so tokenization, the corpus-stats
# literals (N, avgdl), and the scoring join are all under test.
# ----------------------------------------------------------------------
@query("bm25_retrieval_scores", oracle=r"""
WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM (
    SELECT doc_id, lower(unnest(list_filter(
           string_split_regex(text, '\s+'), x -> x <> ''))) AS term
    FROM d) WHERE len(term) > 0 GROUP BY doc_id, term),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
st AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
q(query_id, query_text) AS (VALUES (0, 'spark join order'),
                                   (1, 'hash merge sort'),
                                   (2, 'window agg stream')),
qt AS (SELECT DISTINCT query_id, lower(unnest(list_filter(
           string_split_regex(query_text, '\s+'), x -> x <> ''))) AS term
       FROM q),
s AS (
  SELECT qt.query_id, tf.doc_id,
         sum(ln(1 + (st.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * tf.tf * 2.2
             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)))
           AS score
  FROM qt JOIN tf USING (term) JOIN dfreq USING (term)
          JOIN dl USING (doc_id), st
  GROUP BY qt.query_id, tf.doc_id)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
       round(score, 6) AS score
FROM s
""")
def bm25_retrieval_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.text import bm25_scores
    docs = load_table(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") < 300)
    queries = _LF(spark, 
        [(0, "spark join order"), (1, "hash merge sort"),
         (2, "window agg stream")], "query_id long, query_text string")
    out = bm25_scores(docs, queries)
    return out.select("query_id", "doc_id",
                      F.round("score", 6).alias("score"))


# ----------------------------------------------------------------------
# temperature-α mixture rebalancing (mT5-style α-sampling) — the
# skewed lang distribution (en ~4x fr) downsamples toward n^α shares;
# the smallest stratum keeps exactly everything, the keep rule is the
# deterministic pmod ticket (row-local, pushdown-eligible), and the
# oracle replays count → fraction → floor-threshold → predicate in
# SQL with the identical expression shapes.
# ----------------------------------------------------------------------
@query("temperature_mixture_stats", oracle="""
WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
mn AS (SELECT min(n) AS nmin FROM c),
f AS (SELECT lang,
             CAST(floor(pow(CAST(nmin AS DOUBLE) / n, 1.0 - 0.7) * 10000)
                  AS BIGINT) AS thr
      FROM c, mn),
kept AS (SELECT d.doc_id, d.lang
         FROM documents d JOIN f USING (lang)
         WHERE d.doc_id % 10000 < f.thr)
SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(doc_id) AS BIGINT) AS sum_ids
FROM kept GROUP BY lang
""")
def temperature_mixture_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.dedup import temperature_mixture_sample
    docs = load_table(spark, sf_dir, "documents")
    kept = temperature_mixture_sample(docs, "lang", "doc_id", alpha=0.7)
    return (kept.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.sum("doc_id").alias("sum_ids")))


# ----------------------------------------------------------------------
# audio fingerprint near-dup screen — CONSTRUCTIBLE clips: each clip is
# 9 frames of 9 exact-bin sinusoids whose per-(frame, band) energies
# are the 2D prefix-sum of a designed ±1 grid, so the Haitsma-Kalker
# double-delta sign (the fingerprint bit at t*8+b) equals the designed
# bit exactly — integer-period bins have zero spectral leakage and the
# ±0.5 energy margin dwarfs int16 quantization noise (~1e-4). The real
# decode → FFT → log-band pool → sign → band-bucket LSH path runs end
# to end; the oracle replays the designed bit rule and counts bit
# disagreements per pair (hamming ≤ 2 < 16 bands ⇒ pigeonhole-exact
# recall, so banding cannot change the pair set). One planted quieter
# copy per 50-block (offset 1 = offset 0's bits with bit 5 flipped,
# played at 0.7x volume) pins hamming-1 pairs; volume invariance of
# the sign rule is exercised for real, not just asserted.
# ----------------------------------------------------------------------
@query("audio_fingerprint_pairs", oracle="""
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 300),
bits AS (
  SELECT doc_id, CAST(i AS INT) AS i,
         CASE WHEN doc_id % 50 = 1 AND i = 5
              THEN 1 - (CASE WHEN ((doc_id - 1) * 167 + i * 97
                                   + (doc_id - 1) * i * 59) % 311 < 124
                        THEN 1 ELSE 0 END)
              ELSE (CASE WHEN ((CASE WHEN doc_id % 50 <= 1
                                THEN doc_id - doc_id % 50
                                ELSE doc_id END) * (167 + i * 59)
                               + i * 97) % 311 < 124
                    THEN 1 ELSE 0 END)
         END AS b
  FROM ids, range(64) r(i)),
ham AS (
  SELECT ba.doc_id AS id_a, bb.doc_id AS id_b,
         sum(CASE WHEN ba.b <> bb.b THEN 1 ELSE 0 END) AS hamming
  FROM bits ba JOIN bits bb
    ON ba.i = bb.i AND ba.doc_id < bb.doc_id
  GROUP BY ba.doc_id, bb.doc_id)
SELECT id_a, id_b, CAST(hamming AS INT) AS hamming
FROM ham WHERE hamming <= 2
""")
def audio_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from .llm.multimodal import audio_near_dup_pairs

    def _mk(ids):
        import numpy as np
        kbins = [1, 2, 3, 5, 9, 15, 25, 44, 75]  # first FFT bin of each
        n = np.arange(256)                       # log band (256-pt frame)

        def clip(d):
            d = int(d)
            off = d % 50
            k = d - off if off <= 1 else d
            # modulus 311 > max id (no residue-class aliasing between
            # distinct ids) and a k*i cross-term (per-doc step, so one
            # doc's pattern is not a rotation of another's)
            bits = np.array([((k * 167 + i * 97 + k * i * 59) % 311) < 124
                             for i in range(64)])
            if off == 1:
                bits[5] = ~bits[5]
            V = np.where(bits.reshape(8, 8), 1.0, -1.0)
            P = np.zeros((9, 9))
            P[1:, 1:] = V.cumsum(0).cumsum(1)    # E[t,b]: ΔtΔb E = V
            A = np.sqrt(0.5 * (P + 100.0) / 16384.0)
            x = np.concatenate(
                [sum(A[t, b] * np.sin(2 * np.pi * kbins[b] * n / 256.0)
                     for b in range(9)) for t in range(9)])
            if off == 1:
                x = 0.7 * x                      # planted quieter copy
            return (x * 32767).astype("<i2").tobytes()
        return ids.map(clip)
    _mk.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    mk_payload = F.pandas_udf(_mk, "binary")

    docs = (load_table(spark, sf_dir, "documents")
                .filter(F.col("doc_id") < 300).select("doc_id"))
    clips = docs.select("doc_id", mk_payload("doc_id").alias("payload"))
    pairs = audio_near_dup_pairs(clips, "doc_id", max_hamming=2)
    return pairs.select("id_a", "id_b",
                        F.col("hamming").cast("int").alias("hamming")) \
                .orderBy("id_a", "id_b")


# ----------------------------------------------------------------------
# product quantization, exact mode — with k >= corpus size every
# distinct subvector becomes its own centroid, so the ADC distance is
# exactly the squared L2 between unit vectors (= 2 − 2·cos) and the
# full cosine oracle applies: the same n_probe=all trick that oracles
# ann_ivf_topk. The real engine path (fit → encode → broadcast
# distance tables → table-lookup scoring → top-k) runs end to end.
# ----------------------------------------------------------------------
@query("pq_adc_exact_topk", oracle="""
WITH c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 400),
s AS (
  SELECT p.vec_id AS probe_id, c.vec_id,
         2.0 - 2.0 * list_cosine_similarity(
             CAST(c.embedding AS DOUBLE[]),
             CAST(p.embedding AS DOUBLE[])) AS dist
  FROM c, (SELECT * FROM c WHERE vec_id < 3) p),
r AS (SELECT probe_id, vec_id, dist,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY dist ASC, vec_id ASC) AS rk
      FROM s)
SELECT probe_id, vec_id, round(dist, 6) AS approx_dist
FROM r WHERE rk <= 5
""")
def pq_adc_exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.similarity import PQCodebook
    emb = load_table(spark, sf_dir, "embeddings").filter("vec_id < 400")
    pq = PQCodebook(m=8, k=512, seed=7).fit(emb, sample_size=1000)
    coded = pq.encode(emb)
    probes = emb.filter("vec_id < 3") \
        .withColumnRenamed("vec_id", "probe_id")
    out = pq.adc_topk(coded, probes, k=5)
    return out.select("probe_id", "vec_id",
                      F.round("approx_dist", 6).alias("approx_dist"))


# ----------------------------------------------------------------------
# ORC interchange round trip — the other major lake columnar format
# (Spark-native, splittable, predicate-pushdown capable): orders write
# out as zlib ORC, read back with a pushed-down filter, and the
# aggregate holds a full value-hash oracle against the original table.
# ----------------------------------------------------------------------
@query("orc_ingest_stats", oracle="""
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
         AS total_cents,
       CAST(min(o_orderkey) AS BIGINT) AS min_key,
       CAST(max(o_orderkey) AS BIGINT) AS max_key
FROM orders WHERE o_totalprice > 1000.0
GROUP BY o_orderstatus
""")
def orc_ingest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders") \
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    path = _scratch_dir(sf_dir, "orders_orc")
    orders.write.mode("overwrite").option("compression", "zlib").orc(path)
    back = spark.read.orc(path).filter(F.col("o_totalprice") > 1000.0)
    return (back.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(cents(F.col("o_totalprice"))).alias("total_cents"),
                 F.min("o_orderkey").alias("min_key"),
                 F.max("o_orderkey").alias("max_key")))


# ----------------------------------------------------------------------
# events-as-datasets HDF5 trace ingest round trip — the raw-DAQ file
# family (reference analyzer.py:1030-1046 fetches these through
# pytesio). Two files are planted from `events` rows with
# deterministic per-sample arithmetic (trace[i] = value + i, chanB
# offset +100), walked into the trace parquet schema by
# trace_hdf5_to_parquet (one Spark task per file), and aggregated per
# (series, channel) — the SQL oracle replays the construction
# arithmetic, so the walker's (series, event, channel, trace) mapping
# and sample payloads are what is under test.
# ----------------------------------------------------------------------
@query("trace_hdf5_ingest_stats", oracle="""
WITH e AS (SELECT event_id, round(value, 3) AS v FROM events
           WHERE event_id < 64),
x AS (SELECT event_id % 2 + 1 AS series_number, event_id,
             chan, CASE WHEN chan = 'chanB' THEN v + 100.0 ELSE v END
               AS base
      FROM e, unnest(['chanA', 'chanB']) AS t(chan))
SELECT CAST(series_number AS BIGINT) AS series_number, chan AS channel,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(event_id) AS BIGINT) AS sum_event_ids,
       CAST(sum(CAST(round((16 * base + 120) * 1000) AS BIGINT))
            AS BIGINT) AS sum_trace_milli
FROM x GROUP BY series_number, chan
""")
def trace_hdf5_ingest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.hdf5 import _require_h5py, load_trace_hdf5
    h5py = _require_h5py()

    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("event_id") < 64)
          .select("event_id", F.round("value", 3).alias("v"))
          .collect())                      # bounded: < 64 rows
    base = _scratch_dir(sf_dir, "trace_h5")
    os.makedirs(base)
    for s in (1, 2):
        with h5py.File(os.path.join(base, f"series_{s}.hdf5"), "w") as f:
            ga = f.create_group("chanA")
            gb = f.create_group("chanB")
            for r in ev:
                if r.event_id % 2 + 1 != s:
                    continue
                ga.create_dataset(
                    f"event_{r.event_id}",
                    data=[r.v + i for i in range(16)], dtype="float64")
                gb.create_dataset(
                    f"event_{r.event_id}",
                    data=[r.v + 100.0 + i for i in range(16)],
                    dtype="float64")
    tdf = load_trace_hdf5(spark, base, os.path.join(base, "pq"))
    out = (tdf.groupBy("series_number", "channel")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.sum("event_number").alias("sum_event_ids"),
                F.sum(F.round(F.aggregate(
                    "trace", F.lit(0.0), lambda a, x: a + x) * 1000)
                    .cast("long")).alias("sum_trace_milli"))
           .localCheckpoint(eager=True))
    shutil.rmtree(base, ignore_errors=True)
    return out


# ----------------------------------------------------------------------
# interval-overlap join (interval × interval) — value windows derived
# from two event slices; the engine's bin-exploded equi-join (no
# BroadcastNestedLoop) must produce exactly the pairs the oracle's
# brute-force inequality join does. Excluded from the sf1 gate: the
# ORACLE is quadratic (the engine is not).
# ----------------------------------------------------------------------
@query("interval_overlap_stats", oracle="""
WITH l AS (SELECT event_id AS lid, value AS llo, value + 20.0 AS lhi
           FROM events WHERE event_id % 97 = 0),
r AS (SELECT event_id AS rid, value AS rlo, value + 15.0 AS rhi
      FROM events WHERE event_id % 89 = 1),
p AS (SELECT lid, rid,
             least(lhi, rhi) - greatest(llo, rlo) AS ov
      FROM l JOIN r ON llo < rhi AND rlo < lhi)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(lid) AS BIGINT) AS sum_lid,
       CAST(sum(rid) AS BIGINT) AS sum_rid,
       CAST(sum(CAST(round(ov*100) AS BIGINT)) AS BIGINT)
         AS overlap_cents
FROM p
""")
def interval_overlap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.joins import interval_overlap_join
    ev = load_table(spark, sf_dir, "events")
    left = (ev.filter(F.col("event_id") % 97 == 0)
            .select(F.col("event_id").alias("lid"),
                    F.col("value").alias("llo"),
                    (F.col("value") + 20.0).alias("lhi")))
    right = (ev.filter(F.col("event_id") % 89 == 1)
             .select(F.col("event_id").alias("rid"),
                     F.col("value").alias("rlo"),
                     (F.col("value") + 15.0).alias("rhi")))
    pairs = interval_overlap_join(left, right, "llo", "lhi",
                                  "rlo", "rhi", bin_width=25.0)
    ov = F.least(F.col("lhi"), F.col("rhi")) \
        - F.greatest(F.col("llo"), F.col("rlo"))
    return (pairs.agg(F.count(F.lit(1)).alias("n_pairs"),
                      F.sum("lid").alias("sum_lid"),
                      F.sum("rid").alias("sum_rid"),
                      F.sum(cents(ov)).alias("overlap_cents")))


# ----------------------------------------------------------------------
# document-level term PMI — association mining over a broadcast
# vocabulary (per-doc distinct vocab terms, doc-keyed pair join,
# map-side-combined pair counts; N rides as an eager literal). The
# oracle replays tokenize → vocab filter → co-occurrence → ln PMI.
# ----------------------------------------------------------------------
@query("term_pmi_stats", oracle=r"""
WITH toks AS (
  SELECT DISTINCT doc_id, term FROM (
    SELECT doc_id, lower(unnest(list_filter(
           string_split_regex(text, '\s+'), x -> x <> ''))) AS term
    FROM documents)
  WHERE term IN ('table','value','fast','scan',
                 'window','agg','spark','hash')),
n AS (SELECT count(*) AS N FROM documents),
cnt AS (SELECT term, count(*) AS n_t FROM toks GROUP BY term),
co AS (SELECT a.term AS term_a, b.term AS term_b, count(*) AS n_ab
       FROM toks a JOIN toks b
         ON a.doc_id = b.doc_id AND a.term < b.term
       GROUP BY a.term, b.term),
f AS (SELECT * FROM co WHERE n_ab >= 10)
SELECT term_a, term_b, CAST(n_ab AS BIGINT) AS n_ab,
       CAST(ca.n_t AS BIGINT) AS n_a, CAST(cb.n_t AS BIGINT) AS n_b,
       round(ln((CAST(n_ab AS DOUBLE) * N) / (ca.n_t * cb.n_t)), 6)
         AS pmi
FROM f JOIN cnt ca ON term_a = ca.term
       JOIN cnt cb ON term_b = cb.term, n
""")
def term_pmi_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.text import doc_term_pmi
    docs = load_table(spark, sf_dir, "documents")
    vocab = _LF(spark, 
        [(w,) for w in ("table", "value", "fast", "scan",
                        "window", "agg", "spark", "hash")],
        "term string")
    out = doc_term_pmi(docs, vocab, min_docs=10)
    return out.select("term_a", "term_b", "n_ab", "n_a", "n_b",
                      F.round("pmi", 6).alias("pmi"))


# ----------------------------------------------------------------------
# exact-count stratified eval carve — exactly 20 docs per language
# chosen by the seeded md5 shuffle key (engine-portable inclusion:
# the oracle re-derives the identical sample row for row).
# ----------------------------------------------------------------------
@query("exact_stratified_sample_stats", oracle="""
WITH r AS (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(concat('11:', CAST(doc_id AS VARCHAR))) ASC,
                    doc_id ASC) AS rk
  FROM documents)
SELECT lang, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(doc_id) AS BIGINT) AS sum_ids,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM r WHERE rk <= 20 GROUP BY lang
""")
def exact_stratified_sample_stats(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    from .operators.sampling import exact_stratified_sample
    docs = load_table(spark, sf_dir, "documents")
    picked = exact_stratified_sample(docs, "lang", 20, "doc_id", seed=11)
    return (picked.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("doc_id").alias("sum_ids"),
                 F.sum(F.col("n_chars").cast("long"))
                 .alias("total_chars")))


# ----------------------------------------------------------------------
# percentile outlier trim — two-pass: exact [p1, p99] band from one
# aggregate, then a pushdown BETWEEN filter; summary stats after trim
# ----------------------------------------------------------------------
@query("trimmed_price_stats", oracle="""
WITH band AS (
  SELECT quantile_cont(l_extendedprice, 0.01) AS lo,
         quantile_cont(l_extendedprice, 0.99) AS hi
  FROM lineitem)
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)
         AS sum_price_cents
FROM lineitem, band
WHERE l_extendedprice BETWEEN lo AND hi
GROUP BY l_returnflag
""")
def trimmed_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.stats import trim_outliers
    li = load_table(spark, sf_dir, "lineitem")
    # auto tier: exact band while the distinct-value estimate is
    # shuffle-sized (every measurable scale — CROSSOVER.json shows the
    # exact plan beating DuckDB 0.82× at 60M rows), mergeable sketch
    # only where the distinct-value histogram would outgrow memory
    trimmed = trim_outliers(li, "l_extendedprice", 1.0, 99.0,
                            exact="auto")
    return (trimmed.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(cents(F.col("l_extendedprice")))
                  .alias("sum_price_cents")))


# ----------------------------------------------------------------------
# A6 'what' grammar — binned statistic (mean of one column per bucket
# of another), same single bucket-keyed aggregate as the count path
# ----------------------------------------------------------------------
@query("hist1d_mean_quantity", oracle="""
SELECT CAST(CASE WHEN l_extendedprice = 60000.0 THEN 19
            ELSE floor((l_extendedprice - 0.0) / 3000.0) END AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       round(avg(l_quantity), 6) AS mean_qty
FROM lineitem
WHERE l_extendedprice IS NOT NULL
  AND l_extendedprice >= 0.0 AND l_extendedprice <= 60000.0
GROUP BY 1
""")
def hist1d_mean_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.histogram import bucket_expr
    li = load_table(spark, sf_dir, "lineitem")
    col = F.col("l_extendedprice")
    b = bucket_expr(col, 0.0, 60000.0, 20)
    return (li.filter(col.isNotNull() & (col >= 0.0) & (col <= 60000.0))
            .groupBy(b.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("l_quantity"), 6).alias("mean_qty")))


# ----------------------------------------------------------------------
# tokenizer vocabulary induction — top-V corpus terms (TakeOrdered
# top-k; the rank window runs over only the V surviving rows)
# ----------------------------------------------------------------------
@query("vocab_top_terms", oracle=r"""
WITH tf AS (
  SELECT doc_id, term, count(*) AS tf FROM (
    SELECT doc_id, lower(unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))) AS term
    FROM documents) WHERE len(term) > 0 GROUP BY doc_id, term),
stats AS (SELECT term, sum(tf) AS ctf, count(*) AS df FROM tf GROUP BY term),
ranked AS (
  SELECT term, ctf, df,
         row_number() OVER (ORDER BY ctf DESC, term ASC) AS rank
  FROM stats)
SELECT CAST(rank AS BIGINT) AS rank, term, CAST(ctf AS BIGINT) AS ctf,
       CAST(df AS BIGINT) AS df
FROM ranked WHERE rank <= 200
""")
def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    v = _TX.build_vocab(docs, size=200)
    return v.select(F.col("rank").cast("long").alias("rank"),
                    "term", "ctf", "df")


# ----------------------------------------------------------------------
# boilerplate line removal — strip lines repeated across >= 2% of the
# corpus (crawl headers/footers), preserve surviving line order; md5 of
# the rebuilt text pins the reconstruction exactly
# ----------------------------------------------------------------------
@query("boilerplate_removal_stats", oracle=r"""
WITH d AS (
  SELECT doc_id, source,
         concat('HDR ', coalesce(source, ''), chr(10),
                coalesce(text, ''), chr(10), 'FOOT') AS mtext
  FROM documents),
tot AS (SELECT greatest(3, CAST(ceil(0.02 * count(*)) AS BIGINT)) AS thr FROM d),
lz AS (SELECT doc_id, source,
              unnest([{'line': p[i], 'pos': i}
                      for i in range(1, len(p)+1)]) AS s
       FROM (SELECT doc_id, source, string_split(mtext, chr(10)) AS p FROM d)),
l AS (SELECT doc_id, source, s.line AS line, s.pos AS pos FROM lz),
f AS (SELECT line FROM l, tot GROUP BY line, thr
      HAVING count(DISTINCT doc_id) >= thr),
k AS (SELECT l.* FROM l LEFT JOIN f USING (line) WHERE f.line IS NULL),
r AS (SELECT doc_id, coalesce(string_agg(line, chr(10) ORDER BY pos), '') AS clean
      FROM k GROUP BY doc_id),
rr AS (SELECT d.doc_id, d.source, coalesce(r.clean, '') AS clean
       FROM d LEFT JOIN r USING (doc_id))
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(clean)) AS BIGINT) AS total_clean_chars,
       CAST(count(DISTINCT md5(clean)) AS BIGINT) AS n_unique_clean
FROM rr GROUP BY source
""")
def boilerplate_removal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (load_table(spark, sf_dir, "documents"))
    # coalesce on BOTH sides: Spark concat_ws silently drops NULL
    # elements while DuckDB concat keeps the separators around one —
    # normalizing nulls to '' makes the construction engine-agnostic
    d = docs.select(
        "doc_id", "source",
        F.concat_ws("\n",
                    F.concat(F.lit("HDR "),
                             F.coalesce(F.col("source"), F.lit(""))),
                    F.coalesce(F.col("text"), F.lit("")),
                    F.lit("FOOT")).alias("mtext"))
    import math
    thr = max(3, math.ceil(0.02 * d.count()))
    clean = _CL.remove_boilerplate_lines(d, id_col="doc_id",
                                         text_col="mtext", min_docs=thr)
    return (clean.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.length("clean_text")).alias("total_clean_chars"),
                 F.countDistinct(F.md5(F.col("clean_text").cast("binary")))
                 .alias("n_unique_clean")))


# ----------------------------------------------------------------------
# per-group spectrum fits on the executors (U3 scale path) — NOW a
# full constructible oracle (round 10, same move as photon_fft_dpdi):
# three groups of planted samples whose 120-bin histogram equals the
# Gaussian-comb model floor(model+0.5) exactly (integer sample values
# + two half-bin sentinels pin lo=-0.5/hi=119.5 so bin centers land
# on the integers), so the bounded-LM least-squares optimum IS the
# planted parameter vector up to rounding noise ≪ the pin granularity
# (verified margins: spacing ±1e-4 @ 0.1 pin, stds ±0.02 @ 0.1 pin,
# heights ±1.2 @ 10 pin). The REAL operator (fit_spectrum_grouped:
# grouped min/max agg → binned counts shuffle → applyInPandas LM per
# group) runs unchanged; the oracle replays the planted construction
# arithmetically and emits the planted parameters — a fit that lands
# anywhere but the planted optimum flips the hash. cost_ok certifies
# the residual stayed at rounding-noise level.
# ----------------------------------------------------------------------
@query("grouped_spectrum_fits", oracle="""
WITH grid AS (
  SELECT CAST(i // 120 AS BIGINT) AS g, CAST(i % 120 AS DOUBLE) AS b
  FROM range(360) t(i)),
c AS (
  SELECT g, b,
         floor((200 + 10*g) * exp(-pow(b - 0*(20 + 2*g), 2)
                                  / (2 * pow(2 + 0.3*g, 2)))
             + (160 + 10*g) * exp(-pow(b - 1*(20 + 2*g), 2)
                                  / (2 * pow(2 + 0.3*g, 2)))
             + (120 + 10*g) * exp(-pow(b - 2*(20 + 2*g), 2)
                                  / (2 * pow(2 + 0.3*g, 2)))
             + 0.5) AS cnt
  FROM grid)
SELECT CAST(g AS VARCHAR) AS "group",
       CAST(sum(cnt) + 2 AS BIGINT) AS n_events,
       CAST(20 + 2*g AS DOUBLE) AS spacing_r,
       CAST(2 + 0.3*g AS DOUBLE) AS std0_r,
       CAST(2 + 0.3*g AS DOUBLE) AS std1_r,
       CAST(2 + 0.3*g AS DOUBLE) AS std2_r,
       CAST(200 + 10*g AS DOUBLE) AS h0_r,
       CAST(160 + 10*g AS DOUBLE) AS h1_r,
       CAST(120 + 10*g AS DOUBLE) AS h2_r,
       CAST(1 AS INT) AS cost_ok
FROM c GROUP BY g
""")
def grouped_spectrum_fits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .photon import fit_spectrum_grouped
    g = (F.col("id") / 120).cast("long")
    b = (F.col("id") % 120).cast("double")

    def gauss(h_base, k):
        sp = 20 + 2 * g.cast("double")
        s = 2 + 0.3 * g.cast("double")
        h = h_base + 10 * g.cast("double")
        return h * F.exp(-F.pow(b - k * sp, F.lit(2.0))
                         / (2 * F.pow(s, F.lit(2.0))))

    cnt = F.floor(gauss(F.lit(200.0), 0) + gauss(F.lit(160.0), 1)
                  + gauss(F.lit(120.0), 2) + F.lit(0.5)).cast("int")
    samples = (spark.range(360)
               .select(g.alias("g"), b.alias("value"), cnt.alias("c"))
               .filter(F.col("c") > 0)
               .select("g", F.explode(F.sequence(F.lit(1), F.col("c")))
                       .alias("_i"), "value")
               .select("g", "value"))
    sentinels = (spark.range(3).select(F.col("id").alias("g"))
                 .select("g", F.explode(F.array(F.lit(-0.5),
                                                F.lit(119.5)))
                         .alias("value")))
    planted = samples.unionByName(sentinels)
    fits = fit_spectrum_grouped(planted, "value", "g",
                                npeaks=3, bins=120)
    p = lambda i: F.element_at("popt", i)  # noqa: E731
    return fits.select(
        "group", "n_events",
        F.round(p(1), 1).alias("spacing_r"),
        F.round(p(2), 1).alias("std0_r"),
        F.round(p(3), 1).alias("std1_r"),
        F.round(p(4), 1).alias("std2_r"),
        (F.round(p(5) / 10, 0) * 10).alias("h0_r"),
        (F.round(p(6) / 10, 0) * 10).alias("h1_r"),
        (F.round(p(7) / 10, 0) * 10).alias("h2_r"),
        (F.col("fit_cost") < 50).cast("int").alias("cost_ok"))


# ----------------------------------------------------------------------
# one-pass table profile (data-quality intake survey): per-column
# counts, nulls, cardinality, min/max — exact count_distinct here so
# the oracle matches; the operator's approx=True HLL path is the 100 TB
# default (pytest'd against the exact path)
# ----------------------------------------------------------------------
@query("orders_table_profile", oracle="""
WITH m AS (
  SELECT 'o_orderkey' AS col, count(*) AS n, sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS nul,
         count(DISTINCT o_orderkey) AS dis, CAST(min(o_orderkey) AS VARCHAR) AS mn, CAST(max(o_orderkey) AS VARCHAR) AS mx FROM orders
  UNION ALL
  SELECT 'o_custkey', count(*), sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END),
         count(DISTINCT o_custkey), CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR) FROM orders
  UNION ALL
  SELECT 'o_orderstatus', count(*), sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END),
         count(DISTINCT o_orderstatus), min(o_orderstatus), max(o_orderstatus) FROM orders
  UNION ALL
  SELECT 'o_totalprice', count(*), sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END),
         count(DISTINCT o_totalprice), CAST(min(o_totalprice) AS VARCHAR), CAST(max(o_totalprice) AS VARCHAR) FROM orders
  UNION ALL
  SELECT 'o_orderpriority', count(*), sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END),
         count(DISTINCT o_orderpriority), min(o_orderpriority), max(o_orderpriority) FROM orders)
SELECT col AS column, CAST(n AS BIGINT) AS n_rows, CAST(nul AS BIGINT) AS n_nulls,
       CAST(dis AS BIGINT) AS n_distinct, mn AS min_value, mx AS max_value
FROM m
""")
def orders_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.stats import profile_table
    orders = load_table(spark, sf_dir, "orders")
    return profile_table(
        orders, ["o_orderkey", "o_custkey", "o_orderstatus",
                 "o_totalprice", "o_orderpriority"], approx=False)


# ----------------------------------------------------------------------
# token-budget mixture subsample: per-source greedy doc_id-ordered
# prefix until 2000 tokens (overshoot <= one doc)
# ----------------------------------------------------------------------
@query("token_budget_sample_stats", oracle=r"""
WITH d AS (
  SELECT doc_id, source,
         len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_tok
  FROM documents WHERE len(trim(text)) > 0),
p AS (
  SELECT doc_id, source, n_tok,
         coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS before
  FROM d)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       CAST(max(doc_id) AS BIGINT) AS last_doc_id
FROM p WHERE before < 2000 GROUP BY source
""")
def token_budget_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.text import take_token_budget, token_count
    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.length(F.trim(F.col("text"))) > 0)
            .select("doc_id", "source",
                    token_count(F.col("text")).cast("long").alias("n_tok")))
    sampled = take_token_budget(docs, "n_tok", budget=2000,
                                partition_cols=["source"])
    return (sampled.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tok").alias("total_tokens"),
                 F.max("doc_id").alias("last_doc_id")))


# ----------------------------------------------------------------------
# deterministic split assignment: portable seeded-md5 hex-threshold
# rule, verified verbatim against the DuckDB rendering of the same rule
# ----------------------------------------------------------------------
@query("split_assignment_counts", oracle="""
WITH k AS (
  SELECT lang, substr(md5(concat('5:', CAST(doc_id AS VARCHAR))), 1, 8) AS k8
  FROM documents)
SELECT CASE WHEN k8 < 'cccccccc' THEN 'train'
            WHEN k8 < 'e6666666' THEN 'val'
            ELSE 'test' END AS split,
       lang, CAST(count(*) AS BIGINT) AS n_docs
FROM k GROUP BY split, lang
""")
def split_assignment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import assign_split
    docs = load_table(spark, sf_dir, "documents")
    sp = assign_split(docs, "doc_id",
                      {"train": 0.8, "val": 0.1, "test": 0.1}, seed=5)
    return (sp.groupBy("split", "lang")
            .agg(F.count(F.lit(1)).alias("n_docs")))


# ----------------------------------------------------------------------
# one-call curation pipeline (capstone), exact-dedup variant: with
# near_dup_threshold=None every stage is deterministic and
# SQL-expressible, so the full composition gets a value-hash oracle —
# the SQL chains the per-stage oracles (PII redaction → token/
# repetition quality gates → 3-gram benchmark decontamination → exact
# dedup on normalized text, keep-min-id → seeded-md5 split) in
# pipeline order, each CTE feeding the next so inter-stage ordering
# (dedup canonical chosen among filter SURVIVORS) is exercised too.
# ----------------------------------------------------------------------
@query("curated_corpus_exact_stats", oracle=r"""
WITH red AS (
  SELECT doc_id, lang, n_chars,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}',
                 '[PII]', 'g'),
               '[0-9]{3}-[0-9]{2}-[0-9]{4}', '[PII]', 'g'),
             '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}', '[PII]', 'g'),
           '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}',
           '[PII]', 'g') AS t
  FROM documents WHERE doc_id % 25 <> 0),
tok AS (
  SELECT *, list_filter(string_split_regex(t, '\s+'), x -> x <> '') AS toks FROM red
  WHERE len(trim(t)) > 0),
q AS (
  SELECT * FROM tok
  WHERE len(toks) >= 5
    AND 1 - len(list_distinct(toks))::DOUBLE / len(toks) <= 0.6
    AND list_max(list_transform(list_distinct(toks),
          x -> len(list_filter(toks, y -> y = x))))::DOUBLE
        / len(toks) <= 0.3),
bg AS (
  SELECT DISTINCT unnest([array_to_string(btoks[i:i+2], ' ')
                          for i in range(1, len(btoks)-1)]) AS gram
  FROM (SELECT list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS btoks
        FROM documents WHERE doc_id % 25 = 0)),
dg AS (
  SELECT doc_id, unnest([array_to_string(toks[i:i+2], ' ')
                         for i in range(1, len(toks)-1)]) AS gram
  FROM q),
bad AS (SELECT DISTINCT dg.doc_id FROM dg JOIN bg USING (gram)),
dc AS (SELECT q.* FROM q LEFT JOIN bad ON q.doc_id = bad.doc_id
       WHERE bad.doc_id IS NULL),
nm AS (
  SELECT *, trim(regexp_replace(regexp_replace(lower(t),
             '[.,;:!?''"()\[\]{}<>/@#$%^&*_+=~`|\\-]', '', 'g'),
             '\s+', ' ', 'g')) AS norm
  FROM dc),
dd AS (
  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY norm
                                              ORDER BY doc_id) AS rn
                 FROM nm)
  WHERE rn = 1),
sp AS (
  SELECT lang, n_chars,
         CASE WHEN substr(md5(concat('11:', CAST(doc_id AS VARCHAR))),
                          1, 8) < 'e6666666'
              THEN 'train' ELSE 'val' END AS split
  FROM dd)
SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM sp GROUP BY split, lang
""")
def curated_corpus_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.pipeline import CurationConfig, curate_corpus
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 25 == 0)
    corpus = docs.filter(F.col("doc_id") % 25 != 0)
    cfg = CurationConfig(min_tokens=5, bench=bench,
                         decontaminate_ngram=3,
                         near_dup_threshold=None,
                         split_fractions={"train": 0.9, "val": 0.1},
                         split_seed=11)
    out, _ = curate_corpus(corpus, cfg)
    return (out.groupBy("split", "lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.col("n_chars").cast("long")).alias("total_chars")))


# ----------------------------------------------------------------------
# one-call curation pipeline (capstone): normalize → PII → quality →
# decontaminate → exact dedup → MinHash near-dedup → split, one lazy
# plan. FULL oracle (upgraded round 9 from rows-only): the exact
# pipeline replays CTE-for-CTE as in curated_corpus_exact_stats, and
# the MinHash near-dedup leg replays as all-pairs exact Jaccard (the
# LSH layer's recall argument: this corpus's true >= 0.5 pairs sit at
# planted jaccard >= 0.96, where 16-band/4-row miss probability is
# ~1e-15 — the same argument that oracles near_dup_pairs_minhash and
# near_dup_cluster_sizes) + recursive-CTE connected components +
# keep-cluster-minimum. A missed LSH hit, a wrong cluster label, or a
# wrong keep rule changes (split, lang) counts → hash mismatch.
# ----------------------------------------------------------------------
@query("curated_corpus_stats", oracle=r"""
WITH RECURSIVE red AS (
  SELECT doc_id, lang, n_chars,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}',
                 '[PII]', 'g'),
               '[0-9]{3}-[0-9]{2}-[0-9]{4}', '[PII]', 'g'),
             '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}', '[PII]', 'g'),
           '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}',
           '[PII]', 'g') AS t
  FROM documents WHERE doc_id % 25 <> 0),
tok AS (
  SELECT *, list_filter(string_split_regex(t, '\s+'), x -> x <> '') AS toks FROM red
  WHERE len(trim(t)) > 0),
q AS (
  SELECT * FROM tok
  WHERE len(toks) >= 5
    AND 1 - len(list_distinct(toks))::DOUBLE / len(toks) <= 0.6
    AND list_max(list_transform(list_distinct(toks),
          x -> len(list_filter(toks, y -> y = x))))::DOUBLE
        / len(toks) <= 0.3),
bg AS (
  SELECT DISTINCT unnest([array_to_string(btoks[i:i+2], ' ')
                          for i in range(1, len(btoks)-1)]) AS gram
  FROM (SELECT list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS btoks
        FROM documents WHERE doc_id % 25 = 0)),
dg AS (
  SELECT doc_id, unnest([array_to_string(toks[i:i+2], ' ')
                         for i in range(1, len(toks)-1)]) AS gram
  FROM q),
bad AS (SELECT DISTINCT dg.doc_id FROM dg JOIN bg USING (gram)),
dc AS (SELECT q.* FROM q LEFT JOIN bad ON q.doc_id = bad.doc_id
       WHERE bad.doc_id IS NULL),
nm AS (
  SELECT *, trim(regexp_replace(regexp_replace(lower(t),
             '[.,;:!?''"()\[\]{}<>/@#$%^&*_+=~`|\\-]', '', 'g'),
             '\s+', ' ', 'g')) AS norm
  FROM dc),
dd AS (
  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY norm
                                              ORDER BY doc_id) AS rn
                 FROM nm)
  WHERE rn = 1),
sh2 AS (
  SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
                                for i in range(1, len(toks)-1)]) AS sh
  FROM dd),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh2 a JOIN sh2 b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
        len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
e AS (SELECT id_a AS src, id_b AS dst FROM p
      UNION ALL SELECT id_b, id_a FROM p),
reach(src, dst) AS (
  SELECT src, dst FROM e
  UNION
  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
lbl AS (SELECT src AS id, least(src, min(dst)) AS cluster_id
        FROM reach GROUP BY src),
keep AS (
  SELECT dd.* FROM dd LEFT JOIN lbl ON dd.doc_id = lbl.id
  WHERE lbl.id IS NULL OR lbl.cluster_id = dd.doc_id),
sp AS (
  SELECT lang, n_chars,
         CASE WHEN substr(md5(concat('11:', CAST(doc_id AS VARCHAR))),
                          1, 8) < 'e6666666'
              THEN 'train' ELSE 'val' END AS split
  FROM keep)
SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM sp GROUP BY split, lang
""")
def curated_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.pipeline import CurationConfig, curate_corpus
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 25 == 0)
    corpus = docs.filter(F.col("doc_id") % 25 != 0)
    cfg = CurationConfig(min_tokens=5, bench=bench,
                         decontaminate_ngram=3,
                         near_dup_threshold=0.5,
                         split_fractions={"train": 0.9, "val": 0.1},
                         split_seed=11)
    out, _ = curate_corpus(corpus, cfg)
    return (out.groupBy("split", "lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.col("n_chars").cast("long")).alias("total_chars")))


# ----------------------------------------------------------------------
# Native multi-level aggregation exhibits: ROLLUP with grouping id,
# pivot (FILTER-agg equivalent), and a frame-bounded moving window.
# All three stay entirely in whole-stage codegen — rollup/pivot are ONE
# hash aggregate each (rollup expands grouping sets map-side; pivot is
# conditional aggregation, not a join), and the moving average is one
# window shuffle keyed by user. Money sums use integer cents so the
# totals are associativity-exact across engines.
# ----------------------------------------------------------------------
@query("rollup_order_revenue", oracle="""
SELECT o_orderpriority, o_orderstatus,
       GROUPING(o_orderpriority, o_orderstatus) AS gid,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
""")
def rollup_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (orders.rollup("o_orderpriority", "o_orderstatus")
            .agg(F.grouping_id().alias("gid"),
                 F.count(F.lit(1)).alias("n_orders"),
                 F.sum(cents).alias("revenue_cents"))
            .select("o_orderpriority", "o_orderstatus", "gid",
                    "n_orders", "revenue_cents"))


@query("pivot_priority_by_status", oracle="""
SELECT o_orderpriority,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
            FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS "O",
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
            FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS "F",
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
            FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS "P"
FROM orders
GROUP BY o_orderpriority
""")
def pivot_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    # explicit value list => no extra distinct-values job, stable schema
    return (orders.withColumn("cents", cents)
            .groupBy("o_orderpriority")
            .pivot("o_orderstatus", ["O", "F", "P"])
            .agg(F.sum("cents")))


@query("moving_avg_event_value", oracle="""
WITH w AS (
  SELECT event_type,
         avg(value) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id
                          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
           AS mov
  FROM events)
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       round(avg(mov), 6) AS mean_moving_avg
FROM w GROUP BY event_type
""")
def moving_avg_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id")
         .orderBy("ts", "event_id")
         .rowsBetween(-3, Window.currentRow))
    return (events.withColumn("mov", F.avg("value").over(w))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("mov"), 6).alias("mean_moving_avg")))


# ----------------------------------------------------------------------
# BPE tokenizer training statistics (Sennrich et al., arXiv:1508.07909):
# the weighted adjacent-pair counts the first merge maximizes, over the
# distinct-word frequency table. Corpus is scanned once (word counts);
# the pair aggregate runs on the SMALL word table — the shape that lets
# the full train_bpe merge loop run at 100 TB (merge rounds never touch
# the corpus). Top-20 with (count desc, pair asc) tie-break; the full
# trainer + segmenter are pytest-verified against a pure-python replay.
# ----------------------------------------------------------------------
@query("bpe_first_merge_pairs", oracle=r"""
WITH wf AS (
  SELECT word, count(*) AS freq
  FROM (SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS word
        FROM documents)
  WHERE length(word) > 0 GROUP BY word),
ch AS (
  SELECT freq,
         list_append([word[i] for i in range(1, len(word)+1)], '</w>')
           AS syms
  FROM wf),
p AS (
  SELECT unnest([{'a': syms[i], 'b': syms[i+1]}
                 for i in range(1, len(syms))]) AS pr, freq
  FROM ch)
SELECT pr.a AS a, pr.b AS b, CAST(sum(freq) AS BIGINT) AS pair_count
FROM p GROUP BY 1, 2 ORDER BY pair_count DESC, a, b LIMIT 20
""")
def bpe_first_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.text import bpe_pair_counts, word_frequencies
    docs = load_table(spark, sf_dir, "documents")
    wf = word_frequencies(docs)
    return (bpe_pair_counts(wf)
            .orderBy(F.col("pair_count").desc(), F.col("a").asc(),
                     F.col("b").asc())
            .limit(20))


# ----------------------------------------------------------------------
# Grouped closed-form least squares + correlation: the distributed
# regression pattern — sufficient statistics (n, Σx, Σy, Σxx, Σxy) are
# associative, so the whole fit is ONE map-side-combined aggregate per
# group; native regr_*/corr aggregates keep it in codegen. The same
# shape the reference's fitting UDAFs reduce to when the model is
# linear in its parameters.
# ----------------------------------------------------------------------
@query("grouped_regression_stats", oracle="""
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       round(regr_slope(value, user_id), 6) AS slope,
       round(regr_intercept(value, user_id), 6) AS intercept,
       round(corr(value, user_id), 6) AS r
FROM events
GROUP BY event_type
""")
def grouped_regression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    y, x = F.col("value"), F.col("user_id").cast("double")
    return (events.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.regr_slope(y, x), 6).alias("slope"),
                 F.round(F.regr_intercept(y, x), 6).alias("intercept"),
                 F.round(F.corr(y, x), 6).alias("r")))


# ----------------------------------------------------------------------
# Streaming gap-based sessionization: native session_window over an
# unbounded read of the events table, drained with AvailableNow, then a
# batch cohort rollup of the emitted sessions. The oracle replays the
# identical gap rule (new session when the per-user delta ≥ gap; the
# session extends gap past its last event) with window functions. No
# inter-event delta in the data lands exactly ON the 1-hour gap, so the
# strict/non-strict boundary cannot diverge between engines.
# ----------------------------------------------------------------------
@query("streaming_session_stats", oracle="""
WITH s AS (
  SELECT user_id, event_id, epoch(ts) AS t,
         CASE WHEN lag(epoch(ts)) OVER w IS NULL
                OR epoch(ts) - lag(epoch(ts)) OVER w >= 3600.0
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
g AS (
  SELECT user_id, t,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM s),
sess AS (
  SELECT user_id, sid, count(*) AS n_ev,
         CAST(round((max(t) - min(t) + 3600.0) * 1e6) AS BIGINT) AS dur_us
  FROM g GROUP BY user_id, sid)
SELECT CAST(user_id % 10 AS BIGINT) AS cohort,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(n_ev) AS BIGINT) AS n_events,
       CAST(sum(dur_us) AS BIGINT) AS total_dur_us
FROM sess GROUP BY cohort
""")
def streaming_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming import run_available_now, streaming_session_counts
    schema = load_table(spark, sf_dir, "events").schema
    sdf = (spark.readStream.schema(schema)
           .option("pathGlobFilter", "events.parquet").parquet(sf_dir))
    sess = streaming_session_counts(sdf, "ts", gap="1 hour",
                                    group_cols=["user_id"])
    name = f"sess_{_uuid.uuid4().hex[:8]}"
    t = run_available_now(sess, name, output_mode="complete",
                          shuffle_partitions=8)
    dur = F.expr(
        "timestampdiff(MICROSECOND, session_start, session_end)")
    return (t.withColumn("dur_us", dur)
            .groupBy((F.col("user_id") % 10).alias("cohort"))
            .agg(F.count(F.lit(1)).alias("n_sessions"),
                 F.sum("n_events").alias("n_events"),
                 F.sum("dur_us").alias("total_dur_us")))


# ----------------------------------------------------------------------
# Streaming watermarked tumbling-window aggregation (ST4) with a full
# oracle: 7-day event-time windows per event_type, drained with
# AvailableNow, then rolled up per type. Window starts are epoch-floor
# aligned in both engines (Spark tumbling windows anchor at the 1970
# epoch; the oracle floors epoch seconds to the same 604800 s grid).
# ----------------------------------------------------------------------
@query("streaming_windowed_stats", oracle="""
WITH w AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 604800.0) * 604800 AS BIGINT) AS win,
         count(*) AS n
  FROM events GROUP BY event_type, win)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_windows,
       CAST(sum(n) AS BIGINT) AS n_events,
       CAST(max(n) AS BIGINT) AS max_in_window,
       CAST(min(win) AS BIGINT) AS first_window
FROM w GROUP BY event_type
""")
def streaming_windowed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import StructType, TimestampNTZType

    from .streaming import run_available_now, streaming_windowed_counts
    # read ts as TIMESTAMP_NTZ: epoch-aligned tumbling windows on a
    # naive timestamp are session-timezone independent (an LTZ column
    # would align window boundaries to the session zone and shift
    # first_window on a non-UTC driver session)
    schema = StructType([
        f if f.name != "ts" else type(f)("ts", TimestampNTZType())
        for f in load_table(spark, sf_dir, "events").schema.fields])
    sdf = (spark.readStream.schema(schema)
           .option("pathGlobFilter", "events.parquet").parquet(sf_dir))
    # no watermark: NTZ event time keeps the epoch alignment
    # session-tz-independent; the bounded AvailableNow drain in
    # complete mode doesn't need eviction (the watermark path is
    # pytest-covered on LTZ in tests/test_streaming.py)
    agg = streaming_windowed_counts(sdf, "ts", "7 days", None,
                                    group_cols=["event_type"])
    name = f"win_{_uuid.uuid4().hex[:8]}"
    t = run_available_now(agg, name, output_mode="complete",
                          shuffle_partitions=8)
    win = F.expr("timestampdiff(SECOND, "
                 "TIMESTAMP_NTZ '1970-01-01 00:00:00', window_start)")
    return (t.withColumn("win", win)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_windows"),
                 F.sum("n").alias("n_events"),
                 F.max("n").alias("max_in_window"),
                 F.min("win").alias("first_window")))


# ----------------------------------------------------------------------
# Incremental append (S4) + ingest row-id assignment (S6) as an
# official hash-checked row: loading the events table and appending the
# same file again must yield 2n rows with 2n DISTINCT dense ids (the
# second batch's ids re-offset past the current max — the round-1
# duplicate-id bug class, now graded every round).
# ----------------------------------------------------------------------
@query("incremental_append_ids", oracle="""
SELECT CAST(2 * count(*) AS BIGINT) AS n_rows,
       CAST(2 * count(*) AS BIGINT) AS n_distinct_ids,
       CAST(2 * count(*) - 1 AS BIGINT) AS max_id,
       CAST(0 AS BIGINT) AS min_id
FROM events
""")
def incremental_append_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = f"{sf_dir}/events.parquet"
    ana = Analyzer.from_parquet(spark, path)
    ana.add_files(path)
    idc = F.col(EVENT_INDEX)
    return ana.df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(idc).alias("n_distinct_ids"),
        F.max(idc).alias("max_id"),
        F.min(idc).alias("min_id"))


# ----------------------------------------------------------------------
# Corpus-wide first-occurrence exact line dedup (the C4/RefinedWeb
# rule), exhibited at word granularity (the synthetic docs are
# single-line): every token occurrence is dropped unless it is the
# corpus-FIRST occurrence ordered by (doc_id, position). The engine
# path is remove_duplicate_lines — a line-keyed min-struct aggregate
# (no corpus-wide window) + order-exact rebuild; the oracle replays the
# same first-occurrence rule with a composite (doc, pos) key.
# ----------------------------------------------------------------------
@query("line_dedup_first_occurrence", oracle=r"""
WITH w AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS word,
         generate_subscripts(list_filter(string_split_regex(text, '\s+'), x -> x <> ''), 1) - 1
           AS pos
  FROM documents),
f AS (SELECT word, min(doc_id * 1000000 + pos) AS fk FROM w GROUP BY word),
k AS (SELECT w.doc_id FROM w JOIN f ON w.word = f.word
      WHERE w.doc_id * 1000000 + w.pos = f.fk)
SELECT d.lang,
       CAST(count(DISTINCT d.doc_id) AS BIGINT) AS n_docs_with_first,
       CAST(count(*) AS BIGINT) AS n_first_words
FROM k JOIN documents d USING (doc_id) GROUP BY d.lang
""")
def line_dedup_first_occurrence(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    from .llm.cleaning import remove_duplicate_lines
    docs = (load_table(spark, sf_dir, "documents"))
    norm = docs.withColumn(
        "text", F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    out = remove_duplicate_lines(norm, delim=" ")
    return (out.filter(F.col("n_lines_kept") > 0)
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs_with_first"),
                 F.sum("n_lines_kept").alias("n_first_words")))


# ----------------------------------------------------------------------
# Deterministic weighted sampling without replacement (Efraimidis-
# Spirakis A-ES): key = ln(u)/w with a portable seeded-md5 uniform;
# top-n keys are the sample. One projection + TakeOrdered — no global
# sort, no corpus shuffle. The oracle re-derives the identical keys
# (md5 and ln agree across engines; the uniform construction is
# bit-identical integer arithmetic).
# ----------------------------------------------------------------------
@query("weighted_sample_stats", oracle="""
WITH k AS (
  SELECT doc_id, n_chars, lang,
         ln((('0x' || substr(md5(concat('7:', CAST(doc_id AS VARCHAR))),
                             1, 15))::UBIGINT + 1.0)
            / 1152921504606846976.0)
           / CAST(n_chars AS DOUBLE) AS aes_key
  FROM documents WHERE n_chars > 0
  ORDER BY aes_key DESC LIMIT 50)
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(doc_id) AS BIGINT) AS id_sum,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
FROM k
""")
def weighted_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import weighted_sample
    docs = load_table(spark, sf_dir, "documents")
    picked = weighted_sample(docs, "doc_id", "n_chars", 50, seed=7)
    return picked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("doc_id").alias("id_sum"),
        F.count_distinct("lang").alias("n_langs"))


# ----------------------------------------------------------------------
# Embedding outlier screen: distance to the label centroid, z-scored
# within the label (threshold 2.0 — every vector sits ≥0.007 z away
# from the cut at all SFs, so engine/oracle float roundings cannot flip
# a count). Centroids broadcast as arrays; the corpus never shuffles.
# ----------------------------------------------------------------------
@query("embedding_outlier_stats", oracle="""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings),
x AS (SELECT vec_id, label, unnest(emb) AS v,
             generate_subscripts(emb, 1) AS p FROM e),
c AS (SELECT label, p, avg(v) AS m FROM x GROUP BY label, p),
d AS (SELECT x.vec_id, x.label,
             sqrt(sum((x.v - c.m) * (x.v - c.m))) AS dist
      FROM x JOIN c ON x.label = c.label AND x.p = c.p
      GROUP BY x.vec_id, x.label),
s AS (SELECT label, avg(dist) AS mu, stddev_samp(dist) AS sd
      FROM d GROUP BY label)
SELECT d.label, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN (dist - mu) / sd > 2.0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
       round(avg(dist), 6) AS mean_dist
FROM d JOIN s USING (label) GROUP BY d.label
""")
def embedding_outlier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.similarity import embedding_outliers
    emb = load_table(spark, sf_dir, "embeddings")
    out = embedding_outliers(emb, "label", z_threshold=2.0)
    return (out.groupBy("label")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("is_outlier").cast("long"))
                 .alias("n_outliers"),
                 F.round(F.avg("dist"), 6).alias("mean_dist")))


# ----------------------------------------------------------------------
# Cross-modal curation capstone: text quality gate → embedding join →
# SemDeDup semantic dedup among the survivors — the text and embedding
# pillars composed in one plan. The join is id-keyed (AQE broadcasts
# the gated side when small); the pairwise step stays cluster-keyed.
# Fully deterministic → full chained DuckDB oracle.
# ----------------------------------------------------------------------
@query("semantic_curation_stats", oracle=r"""
WITH q AS (
  SELECT d.doc_id, d.lang, d.n_chars, e.label,
         CAST(e.embedding AS DOUBLE[]) AS emb
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
  WHERE len(list_filter(string_split_regex(d.text, '\s+'), x -> x <> '')) >= 5
    AND length(trim(d.text)) > 0)
SELECT x.lang, x.label,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(x.n_chars) AS BIGINT) AS total_chars
FROM q x
WHERE NOT EXISTS (
  SELECT 1 FROM q y
  WHERE y.label = x.label AND y.doc_id < x.doc_id
    AND list_cosine_similarity(y.emb, x.emb) >= 0.30)
GROUP BY x.lang, x.label
""")
def semantic_curation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.text import token_count
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    gated = docs.filter(token_count(F.col("text")) >= 5)
    joined = (gated.join(emb, gated["doc_id"] == emb["vec_id"])
              .select("doc_id", "lang", "n_chars", "label", "embedding"))
    kept = _sem_dedup(joined, 0.30, id_col="doc_id", cluster_col="label")
    return (kept.groupBy("lang", "label")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.sum(F.col("n_chars").cast("long"))
                 .alias("total_chars")))


# ----------------------------------------------------------------------
# Per-group adaptive quality gate: keep documents clearing their OWN
# language's median quality score (a single global threshold tuned on
# the dominant language deletes whole low-resource languages). One
# percentile aggregate keyed by language + a broadcast threshold join —
# the corpus never shuffles.
# ----------------------------------------------------------------------
@query("adaptive_quality_stats", oracle="""
WITH t AS (SELECT lang, quantile_cont(n_chars, 0.5) AS q
           FROM documents GROUP BY lang)
SELECT d.lang, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(d.n_chars) AS BIGINT) AS total_chars,
       CAST(min(d.n_chars) AS BIGINT) AS min_chars
FROM documents d JOIN t ON d.lang = t.lang
WHERE d.n_chars >= t.q
GROUP BY d.lang
""")
def adaptive_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.cleaning import adaptive_quality_filter
    docs = (load_table(spark, sf_dir, "documents"))
    kept = adaptive_quality_filter(docs, "n_chars", "lang", quantile=0.5)
    return (kept.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.sum(F.col("n_chars").cast("long")).alias("total_chars"),
                 F.min(F.col("n_chars").cast("long")).alias("min_chars")))


# ----------------------------------------------------------------------
# bigram LM perplexity gate — stupid backoff (Brants et al. 2007),
# trained on the even-id half of the corpus, scoring held-out odd-id
# docs so the backoff path is genuinely exercised. LM tables are
# vocabulary-bound; all joins gram-keyed (AQE broadcasts the LM side).
# ----------------------------------------------------------------------
@query("bigram_nll_scores", oracle=r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(list_transform(list_filter(string_split_regex(text, '\s+'), x -> x <> ''),
                                    t -> lower(t)),
                     t -> len(t) > 0) AS tk
  FROM documents),
t AS (SELECT doc_id, unnest(tk) AS w, generate_subscripts(tk, 1) AS p
      FROM toks),
c1 AS (SELECT w, count(*) AS c FROM t WHERE doc_id % 2 = 0 GROUP BY w),
tot AS (SELECT sum(c) AS T FROM c1),
c12 AS (SELECT a.w AS w1, b.w AS w2, count(*) AS c
        FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.p = a.p + 1
        WHERE a.doc_id % 2 = 0 GROUP BY a.w, b.w),
sb AS (SELECT a.doc_id, a.w AS w1, b.w AS w2, count(*) AS tf
       FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.p = a.p + 1
       WHERE a.doc_id % 2 = 1 AND a.doc_id < 200
       GROUP BY a.doc_id, a.w, b.w),
sc AS (SELECT sb.doc_id, sb.tf,
              CASE WHEN c12.c IS NOT NULL THEN c12.c * 1.0 / u1.c
                   ELSE 0.4 * coalesce(u2.c, 1) * 1.0 / T END AS p
       FROM sb
       LEFT JOIN c12 ON sb.w1 = c12.w1 AND sb.w2 = c12.w2
       LEFT JOIN c1 u1 ON sb.w1 = u1.w
       LEFT JOIN c1 u2 ON sb.w2 = u2.w, tot)
SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
       round(-sum(tf * ln(p)) / sum(tf), 6) AS nll
FROM sc GROUP BY doc_id
""")
def bigram_nll_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    lm = _TX.train_bigram_lm(docs.filter(F.col("doc_id") % 2 == 0))
    held_out = docs.filter((F.col("doc_id") % 2 == 1)
                           & (F.col("doc_id") < 200))
    sc = _TX.bigram_logprob_scores(held_out, lm)
    return sc.select("doc_id", "n_bigrams",
                     F.round("nll", 6).alias("nll"))


# ----------------------------------------------------------------------
# hot-key skew diagnostic — the pre-flight check that decides between a
# plain hash join, a salted join, and an AQE skew split. One map-side-
# combined groupBy(key); top-k is a TakeOrdered, never a global sort.
# ----------------------------------------------------------------------
@query("key_skew_profile_orders", oracle="""
WITH c AS (SELECT o_custkey AS key, count(*) AS cnt
           FROM orders GROUP BY o_custkey),
tot AS (SELECT sum(cnt) AS n, count(*) AS k FROM c),
h AS (SELECT key, cnt,
             row_number() OVER (ORDER BY cnt DESC, key ASC) AS rank
      FROM c ORDER BY cnt DESC, key ASC LIMIT 10)
SELECT CAST(rank AS INTEGER) AS rank, key, cnt,
       round(cnt * 1.0 / n, 6) AS share,
       round(cnt * 1.0 * k / n, 6) AS skew
FROM h, tot
""")
def key_skew_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.stats import key_skew_profile
    orders = load_table(spark, sf_dir, "orders")
    prof = key_skew_profile(orders, "o_custkey", top=10)
    return prof.select("rank", "key", "cnt",
                       F.round("share", 6).alias("share"),
                       F.round("skew", 6).alias("skew"))


# ----------------------------------------------------------------------
# file-skipping exhibit — events rewritten Z-order-clustered on
# (value, user_id), then scanned through the parquet-footer min-max
# manifest: files whose range provably misses the predicate are never
# opened, and the surviving files still get the exact filter (pruning
# is an optimization, never a filter). The aggregate is layout-
# invariant, so the plain-SQL oracle checks the whole path end-to-end.
# ----------------------------------------------------------------------
@query("manifest_pruned_scan", oracle="""
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS value_cents,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
       CAST(min(event_id) AS BIGINT) AS min_id,
       CAST(max(event_id) AS BIGINT) AS max_id
FROM events
WHERE value >= 20.0 AND value <= 40.0
""")
def manifest_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.layout import zorder_write, pruned_parquet
    events = load_table(spark, sf_dir, "events") \
        .select("event_id", "user_id", "event_type", "value")
    path = _scratch_dir(sf_dir, "events")
    zorder_write(events, ["value", "user_id"], path, n_files=8)
    pruned = pruned_parquet(spark, path, {"value": (20.0, 40.0)})
    return (pruned.filter((F.col("value") >= 20.0)
                          & (F.col("value") <= 40.0))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(cents(F.col("value"))).alias("value_cents"),
                 F.count_distinct("event_type").alias("n_types"),
                 F.min("event_id").alias("min_id"),
                 F.max("event_id").alias("max_id")))


# ----------------------------------------------------------------------
# fasttext-style hashed linear quality score — md5-derived buckets are
# engine-portable, so the deterministic formula weights make the whole
# scoring rule SQL-expressible. The trained-weights path (distributed
# normal equations) is covered by pytest vs a dense numpy solve.
# ----------------------------------------------------------------------
@query("hashed_classifier_scores", oracle=r"""
WITH tf AS (
  SELECT doc_id, term, count(*) AS tf FROM (
    SELECT doc_id,
           lower(unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))) AS term
    FROM documents WHERE doc_id < 300) WHERE len(term) > 0
  GROUP BY doc_id, term),
b AS (SELECT doc_id, tf,
             ('0x' || substr(md5(term), 1, 15))::UBIGINT % 256 AS bucket
      FROM tf)
SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
       round(sum(tf * ((bucket % 997) / 996.0 - 0.5)) / sum(tf), 6)
         AS score
FROM b GROUP BY doc_id
""")
def hashed_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.classifier import score_hashed_linear
    docs = load_table(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") < 300)
    sc = score_hashed_linear(docs, dim=256)
    return sc.select("doc_id", "n_tokens",
                     F.round("score", 6).alias("score"))


# ----------------------------------------------------------------------
# Gopher/MassiveText quality rules (Rae et al. 2021, Appendix A) as one
# shuffle-free projection + a single-row rollup: per-rule pass counts
# and the conjunction. min_words=30 so the synthetic 10-99-word docs
# split non-trivially; all seven rules mirrored exactly in the oracle.
# ----------------------------------------------------------------------
@query("gopher_rule_counts", oracle=r"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(list_filter(string_split_regex(text, '\s+'), x -> x <> ''),
                     w -> len(w) > 0) AS tk,
         list_filter(string_split(text, chr(10)),
                     l -> len(trim(l)) > 0) AS ln
  FROM documents),
m AS (
  SELECT doc_id, len(tk) AS n_words,
    list_aggregate(list_transform(tk, w -> len(w)), 'sum') * 1.0
      / greatest(len(tk), 1) AS mean_len,
    ((len(text) - len(replace(text, '#', '')))
     + (len(text) - len(replace(text, '...', ''))) / 3
     + (len(text) - len(replace(text, '…', '')))) * 1.0
      / greatest(len(tk), 1) AS sym,
    len(list_filter(ln, l -> starts_with(ltrim(l), '-')
                          OR starts_with(ltrim(l), '*'))) * 1.0
      / greatest(len(ln), 1) AS bullet,
    len(list_filter(ln, l -> ends_with(rtrim(l), '...')
                          OR ends_with(rtrim(l), '…'))) * 1.0
      / greatest(len(ln), 1) AS ell,
    len(list_filter(tk, w -> regexp_matches(w, '[A-Za-z]'))) * 1.0
      / greatest(len(tk), 1) AS alpha,
    len(list_filter(['a', 'and', 'in', 'is', 'of', 'that', 'the', 'to'],
                    s -> list_contains(list_transform(tk, w -> lower(w)),
                                       s))) AS stops
  FROM t),
f AS (
  SELECT doc_id,
    (n_words >= 30 AND n_words <= 100000) AS word_count_ok,
    (mean_len >= 3.0 AND mean_len <= 10.0) AS mean_word_len_ok,
    sym <= 0.1 AS symbol_ratio_ok,
    bullet <= 0.9 AS bullet_ratio_ok,
    ell <= 0.3 AS ellipsis_ratio_ok,
    alpha >= 0.8 AS alpha_ratio_ok,
    stops >= 2 AS stopword_ok
  FROM m)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(CASE WHEN word_count_ok THEN 1 ELSE 0 END) AS BIGINT)
    AS n_word_count,
  CAST(sum(CASE WHEN mean_word_len_ok THEN 1 ELSE 0 END) AS BIGINT)
    AS n_mean_len,
  CAST(sum(CASE WHEN symbol_ratio_ok THEN 1 ELSE 0 END) AS BIGINT)
    AS n_symbol,
  CAST(sum(CASE WHEN bullet_ratio_ok THEN 1 ELSE 0 END) AS BIGINT)
    AS n_bullet,
  CAST(sum(CASE WHEN ellipsis_ratio_ok THEN 1 ELSE 0 END) AS BIGINT)
    AS n_ellipsis,
  CAST(sum(CASE WHEN alpha_ratio_ok THEN 1 ELSE 0 END) AS BIGINT)
    AS n_alpha,
  CAST(sum(CASE WHEN stopword_ok THEN 1 ELSE 0 END) AS BIGINT)
    AS n_stopword,
  CAST(sum(CASE WHEN word_count_ok AND mean_word_len_ok
            AND symbol_ratio_ok AND bullet_ratio_ok
            AND ellipsis_ratio_ok AND alpha_ratio_ok
            AND stopword_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
FROM f
""")
def gopher_rule_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.cleaning import gopher_quality_struct
    docs = _FAN(load_table(spark, sf_dir, "documents"))
    # struct selected once, expanded in a second projection: each row
    # is tokenized once for all eight flags (see gopher_quality_struct)
    g = docs.select(
        gopher_quality_struct(F.col("text"), min_words=30).alias("g"))
    one = lambda c: F.sum(F.col(f"g.{c}").cast("int")).cast("long")  # noqa: E731
    return g.agg(
        F.count(F.lit(1)).alias("n_docs"),
        one("word_count_ok").alias("n_word_count"),
        one("mean_word_len_ok").alias("n_mean_len"),
        one("symbol_ratio_ok").alias("n_symbol"),
        one("bullet_ratio_ok").alias("n_bullet"),
        one("ellipsis_ratio_ok").alias("n_ellipsis"),
        one("alpha_ratio_ok").alias("n_alpha"),
        one("stopword_ok").alias("n_stopword"),
        one("gopher_pass").alias("n_pass"))


# ----------------------------------------------------------------------
# continuous-aggregate maintenance — events absorbed as TWO batches
# into a day-bucket rollup of mergeable sufficient statistics
# (n, Σx, Σx², min, max), then finalized. The oracle recomputes from
# scratch with the identical formulas, proving merge(build(b1),
# build(b2)) == build(full) without ever re-scanning history.
# ----------------------------------------------------------------------
@query("incremental_rollup_stats", oracle="""
WITH b AS (
  SELECT epoch_us(ts) - epoch_us(ts) % 86400000000 AS bucket_us,
         event_type, CAST(value AS DOUBLE) AS v
  FROM events),
r AS (
  SELECT bucket_us, event_type, count(v) AS n, sum(v) AS s,
         sum(v * v) AS s2, min(v) AS mn, max(v) AS mx
  FROM b GROUP BY bucket_us, event_type)
SELECT bucket_us, event_type, CAST(n AS BIGINT) AS n,
       round(s / n, 6) AS mean,
       round(sqrt(greatest(s2 / n - (s / n) * (s / n), 0.0)), 6) AS std,
       round(mn, 6) AS mn, round(mx, 6) AS mx
FROM r
""")
def incremental_rollup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.rollup import (build_rollup, merge_rollups,
                                   finalize_rollup)
    ev = load_table(spark, sf_dir, "events")
    day = 86_400_000_000
    b1 = build_rollup(ev.filter(F.col("event_id") % 2 == 0), "ts",
                      "value", keys=["event_type"], width_us=day)
    b2 = build_rollup(ev.filter(F.col("event_id") % 2 == 1), "ts",
                      "value", keys=["event_type"], width_us=day)
    fin = finalize_rollup(merge_rollups(b1, b2, keys=["event_type"]))
    return fin.select("bucket_us", "event_type", "n",
                      F.round("mean", 6).alias("mean"),
                      F.round("std", 6).alias("std"),
                      F.round("mn", 6).alias("mn"),
                      F.round("mx", 6).alias("mx"))


# ----------------------------------------------------------------------
# Mergeable sketch layer (operators/sketches.py + rollup sketch
# columns). Theta sketches are EXACT below their nominal 4096 entries
# and KLL below its nominal k rows per bucket, so at gate scale the
# estimates hash-match an exact SQL oracle while the same plan stays
# merge-able (and merely approximate) at any corpus size. The KLL
# quantile is the sketch's inclusive-rank rule — the stored value at
# 1-indexed position ceil(q*n) — which the oracle states explicitly
# via row_number rather than relying on any engine's quantile flavor.
# ----------------------------------------------------------------------
@query("theta_split_overlap", oracle="""
WITH s AS (
  SELECT DISTINCT event_id % 3 AS split, user_id FROM events),
cnt AS (SELECT split, count(*) AS n FROM s GROUP BY split),
pairs AS (
  SELECT a.split AS sa, b.split AS sb
  FROM cnt a JOIN cnt b ON a.split < b.split),
inter AS (
  SELECT a.split AS sa, b.split AS sb, count(*) AS ni
  FROM s a JOIN s b ON a.user_id = b.user_id AND a.split < b.split
  GROUP BY a.split, b.split)
SELECT p.sa AS split_a, p.sb AS split_b,
       ca.n AS n_a, cb.n AS n_b,
       COALESCE(i.ni, 0) AS n_intersection,
       ca.n + cb.n - COALESCE(i.ni, 0) AS n_union,
       ca.n - COALESCE(i.ni, 0) AS n_only_a,
       cb.n - COALESCE(i.ni, 0) AS n_only_b,
       CAST(COALESCE(i.ni, 0) AS DOUBLE)
         / (ca.n + cb.n - COALESCE(i.ni, 0)) AS jaccard
FROM pairs p
JOIN cnt ca ON ca.split = p.sa
JOIN cnt cb ON cb.split = p.sb
LEFT JOIN inter i ON i.sa = p.sa AND i.sb = p.sb
""")
def theta_split_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test key-leakage audit via theta-sketch algebra: the
    corpus is scanned once (one sketch per split), the pairwise
    intersection/union matrix is then algebra over KB-sized sketches —
    never a distinct-key self-join. Exact below 4096 distinct keys per
    split (this dataset), ~1% error beyond."""
    from .operators.sketches import split_overlap_audit
    ev = load_table(spark, sf_dir, "events")
    ev = ev.withColumn("split", F.pmod(F.col("event_id"), F.lit(3)))
    return split_overlap_audit(ev, "split", "user_id")


# ----------------------------------------------------------------------
# Streaming count-min sketch (NEW round 9) — the sketch build is ONE
# streaming groupBy aggregate (cm_sketch applied to a readStream
# frame, complete-mode AvailableNow drain): the depth×width state IS
# the streaming state, bounded regardless of stream length — the
# canonical "sketches are the streaming answer" exhibit. Point
# lookups then run batch-side against the drained state; same
# exactness-window argument as the batch CM query, so the plain
# GROUP BY oracle hash-matches.
# ----------------------------------------------------------------------
@query("streaming_cm_sketch_counts", oracle="""
SELECT event_type, CAST(count(*) AS BIGINT) AS est_count
FROM events WHERE event_type IS NOT NULL
GROUP BY event_type
""")
def streaming_cm_sketch_counts(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from .operators.sketches import cm_lookup, cm_sketch
    from .streaming import run_available_now
    schema = load_table(spark, sf_dir, "events").schema
    sdf = (spark.readStream.schema(schema)
           .option("pathGlobFilter", "events.parquet").parquet(sf_dir))
    name = f"cms_{_uuid.uuid4().hex[:8]}"
    sk = run_available_now(cm_sketch(sdf, "event_type"), name,
                           output_mode="complete",
                           shuffle_partitions=8)
    probes = (load_table(spark, sf_dir, "events")
              .select("event_type").distinct())
    # explicit geometry (validated against the sketch's embedded
    # columns at execution) — skips the derive-from-sketch extra pass
    return cm_lookup(sk, probes, "event_type", width=2048, depth=4)


# ----------------------------------------------------------------------
# PageRank power iteration (NEW round 9) — link-authority weighting
# over a constructed 2-regular doc graph (edges i→i+1, i→i+7 mod N):
# on a k-regular graph PageRank is EXACTLY uniform at every iteration
# (closed form; the pytest covers irregular graphs against a numpy
# power-iteration replay). The query returns rank AND both degrees
# per node, so a propagation bug, a dangling-mass slip, or a degree
# miscount all flip the hash. operators/graph.py:pagerank — one
# edge join + one map-side-combined sum per round, lineage
# checkpointed every 5 rounds.
# ----------------------------------------------------------------------
@query("pagerank_doc_graph", oracle="""
WITH n AS (SELECT count(*) AS n FROM documents)
SELECT CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS node,
       round(1.0 / (SELECT n FROM n), 6) AS rank,
       CAST(2 AS BIGINT) AS out_degree,
       CAST(2 AS BIGINT) AS in_degree
FROM documents
""")
def pagerank_doc_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .analyzer import ensure_event_index
    from .operators.graph import degree_profile, pagerank
    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    # dense 0..N-1 node ids via the two-pass range-exchange rank (doc
    # ids need not be contiguous — at sf1x they're shifted per copy)
    ids = (ensure_event_index(docs.select("doc_id"),
                              order_by=["doc_id"])
           .select(F.col("__event_index__").alias("src")))
    edges = (ids.select("src", F.pmod(F.col("src") + 1, F.lit(n))
                        .alias("dst"))
             .unionByName(
                 ids.select("src", F.pmod(F.col("src") + 7, F.lit(n))
                            .alias("dst"))))
    pr = pagerank(edges, iterations=4)
    deg = degree_profile(edges)
    return (pr.join(deg, "node")
            .select("node", F.round("rank", 6).alias("rank"),
                    "out_degree", "in_degree"))


# ----------------------------------------------------------------------
# Count-min frequency sketch (NEW round 9) — the frequency complement
# of the theta/HLL distinct sketches (operators/sketches.py:
# cm_sketch/cm_merge/cm_lookup): two half-corpus sketches MERGE (an
# exactly-additive union — the mergeability that makes sketches the
# 100 TB answer) and point lookups run against the merged state. With
# ~8 distinct event types against width 2048 the sketch sits deep in
# its exactness window (same argument as the theta queries), so the
# plain GROUP BY oracle hash-matches — a bucketing or merge bug
# surfaces as an overestimate and flips it.
# ----------------------------------------------------------------------
@query("cm_sketch_event_counts", oracle="""
SELECT event_type, CAST(count(*) AS BIGINT) AS est_count
FROM events WHERE event_type IS NOT NULL
GROUP BY event_type
""")
def cm_sketch_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sketches import cm_lookup, cm_merge, cm_sketch
    ev = load_table(spark, sf_dir, "events")
    sk1 = cm_sketch(ev.filter(F.col("event_id") % 2 == 0),
                    "event_type")
    sk2 = cm_sketch(ev.filter(F.col("event_id") % 2 == 1),
                    "event_type")
    merged = cm_merge(sk1, sk2)
    probes = ev.select("event_type").distinct()
    # explicit geometry (validated against the sketch's embedded
    # columns at execution) — skips the derive-from-sketch extra pass
    return cm_lookup(merged, probes, "event_type", width=2048, depth=4)


# ----------------------------------------------------------------------
# Zipf corpus-health fit (NEW round 9) — slope/R² of log(freq) on
# log(rank) over the head of the word-frequency table (llm/text.py:
# zipf_fit). Natural corpora fit ≈ −1; templated/generated text goes
# flat. Both sides rank (freq desc, word asc) — a total order — and
# run the closed-form regression via regr_slope/regr_r2, so the hash
# pins the ranking AND the sufficient-statistic math.
# ----------------------------------------------------------------------
@query("zipf_corpus_fit", oracle=r"""
WITH wf AS (
  SELECT u.x AS word, count(*) AS freq
  FROM documents,
       unnest(list_filter(string_split_regex(text, '\s+'),
                          x -> x <> '')) u(x)
  GROUP BY u.x),
r AS (SELECT word, freq,
             row_number() OVER (ORDER BY freq DESC, word ASC) AS rank
      FROM wf)
SELECT CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum(freq) AS BIGINT) AS n_tokens,
       round(regr_slope(ln(freq), ln(rank)), 6) AS zipf_slope,
       round(regr_r2(ln(freq), ln(rank)), 6) AS zipf_r2
FROM r WHERE rank <= 200
""")
def zipf_corpus_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.text import zipf_fit
    docs = (load_table(spark, sf_dir, "documents"))
    return zipf_fit(docs, max_rank=200)


# ----------------------------------------------------------------------
# Sorted-neighborhood blocking (NEW round 9) — Hernández & Stolfo's
# merge/purge candidate generator (llm/dedup.py:
# sorted_neighborhood_pairs): documents ordered by (n_chars, doc_id),
# every pair within 2 positions becomes a candidate. The engine ranks
# via the two-pass range-exchange id (no single-partition window) and
# joins on neighborhood buckets; the oracle replays with a plain
# row_number + rank-band join — any rank disagreement (range-partition
# boundary bug, tie-break slip) flips counts and gap sums.
# ----------------------------------------------------------------------
@query("sorted_neighborhood_stats", oracle="""
WITH r AS (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (ORDER BY n_chars, doc_id) AS rk
  FROM documents),
p AS (
  SELECT a.lang AS lang, b.rk - a.rk AS gap,
         abs(a.n_chars - b.n_chars) AS d
  FROM r a JOIN r b ON b.rk - a.rk BETWEEN 1 AND 2)
SELECT lang, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(d) AS BIGINT) AS char_gap_sum,
       CAST(sum(gap) AS BIGINT) AS rank_gap_sum
FROM p GROUP BY lang
""")
def sorted_neighborhood_stats(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    from .llm.dedup import sorted_neighborhood_pairs
    docs = load_table(spark, sf_dir, "documents")
    pairs = sorted_neighborhood_pairs(docs, "doc_id", "n_chars",
                                      window=3)
    lang = docs.select(F.col("doc_id").alias("id_a"), "lang")
    return (pairs.join(lang, "id_a")
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.sum(F.abs(F.col("key_a") - F.col("key_b")))
                 .alias("char_gap_sum"),
                 F.sum("rank_gap").alias("rank_gap_sum")))


# ----------------------------------------------------------------------
# Fuzzy (edit-distance) join (NEW round 9) — SymSpell
# deletion-neighborhood blocking + native levenshtein verify
# (operators/joins.py:fuzzy_join): the vocabulary is the part table's
# distinct leading color words, the right side a deterministic typo of
# each (3rd char dropped / 'x' appended). The oracle is the all-pairs
# levenshtein filter, so a lossy blocking key (the SymSpell guarantee
# broken) or an edit-distance disagreement flips the hash.
# ----------------------------------------------------------------------
@query("fuzzy_join_typos", oracle="""
WITH w AS (
  SELECT DISTINCT u.x AS word
  FROM part, unnest(string_split(p_name, ' ')) u(x)),
t AS (
  SELECT DISTINCT CASE WHEN strlen(word) > 4
              THEN substr(word, 1, 2) || substr(word, 4, strlen(word))
              ELSE word || 'x' END AS typo
  FROM w)
SELECT w.word, t.typo,
       CAST(levenshtein(w.word, t.typo) AS INT) AS edit_distance
FROM w, t
WHERE levenshtein(w.word, t.typo) <= 1
""")
def fuzzy_join_typos(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.joins import fuzzy_join
    part = load_table(spark, sf_dir, "part")
    words = part.select(F.explode(F.split(F.col("p_name"), " "))
                        .alias("word")).distinct()
    typo = (F.when(F.length("word") > 4,
                   F.concat(F.substring("word", 1, 2),
                            F.expr("substring(word, 4)")))
            .otherwise(F.concat(F.col("word"), F.lit("x"))))
    typos = words.select(typo.alias("typo")).distinct()
    fj = fuzzy_join(words, typos, "word", "typo", max_distance=1)
    return fj.select("word", "typo",
                     F.col("edit_distance").cast("int")
                     .alias("edit_distance"))


# ----------------------------------------------------------------------
# EXACT φ-heavy-hitters (round 9; adaptive tier round 10) —
# operators/sketches.py:heavy_hitters with strategy="auto": one cheap
# (count, HLL-distinct) aggregate sizes the vocabulary, then the
# operator picks the one-shuffle naive plan (distinct below the
# measured-crossover threshold — this corpus) or the two-pass
# Misra–Gries plan whose token tail never shuffles (web-scale vocab).
# Both plans are exact, so the plain groupBy-HAVING oracle gates
# either; CROSSOVER.json records where they cross.
# ----------------------------------------------------------------------
@query("heavy_hitter_tokens", oracle=r"""
WITH t AS (
  SELECT lower(u.x) AS tok
  FROM documents,
       unnest(list_filter(string_split_regex(text, '\s+'),
                          x -> x <> '')) AS u(x)),
n AS (SELECT count(*) AS n FROM t)
SELECT tok, CAST(count(*) AS BIGINT) AS count,
       round(count(*) / (SELECT n FROM n), 6) AS freq
FROM t GROUP BY tok
HAVING count(*) > 0.003 * (SELECT n FROM n)
""")
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sketches import heavy_hitters
    docs = (load_table(spark, sf_dir, "documents"))
    toks = (docs.select(F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
                .alias("tok"))
            .filter(F.col("tok") != ""))
    hh = heavy_hitters(toks, "tok", 0.003)
    return hh.select("tok", F.col("count"),
                     F.round("freq", 6).alias("freq"))


@query("sketch_rollup_day_profile", oracle="""
WITH base AS (
  SELECT epoch_us(ts) - epoch_us(ts) % 86400000000 AS bucket_us,
         user_id, CAST(value AS DOUBLE) AS v
  FROM events),
agg AS (
  SELECT bucket_us, count(*) AS n,
         count(DISTINCT user_id) AS n_users
  FROM base GROUP BY bucket_us),
med AS (
  SELECT bucket_us, v AS value_p50 FROM (
    SELECT bucket_us, v,
           row_number() OVER (PARTITION BY bucket_us ORDER BY v) AS rn,
           count(*) OVER (PARTITION BY bucket_us) AS cnt
    FROM base)
  WHERE rn = CAST(ceil(0.5 * cnt) AS BIGINT))
SELECT a.bucket_us AS bucket_us, a.n AS n, a.n_users AS n_users,
       m.value_p50 AS value_p50
FROM agg a JOIN med m ON m.bucket_us = a.bucket_us
""")
def sketch_rollup_day_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous aggregate with sketch columns: two half-batches each
    build a day rollup carrying a theta sketch (distinct users) and a
    KLL sketch (value quantiles); the halves MERGE by sketch union —
    absorbing a batch never re-scans history, which plain
    count-distinct/percentile rollups cannot do. Estimates are exact
    at this scale (theta < 4096 distinct/bucket, KLL < 2048
    rows/bucket) and hash-match the exact oracle."""
    from .operators.rollup import (build_rollup, merge_rollups,
                                   finalize_rollup)
    ev = load_table(spark, sf_dir, "events")
    kw = dict(distinct_cols=["user_id"], quantile_cols=["value"],
              kll_k=16384)
    halves = [build_rollup(ev.filter(F.col("event_id") % 2 == i),
                           "ts", "value", **kw) for i in (0, 1)]
    fin = finalize_rollup(merge_rollups(*halves))
    return fin.select("bucket_us", "n",
                      F.col("user_id_n_distinct").alias("n_users"),
                      "value_p50")


# ----------------------------------------------------------------------
# STREAMING continuous-aggregate maintenance with a full oracle: the
# same day-rollup as incremental_rollup_stats, but maintained by the
# exactly-once streaming delta path (each micro-batch reduced to
# mergeable sufficient statistics, landed as a batch-id partition;
# merged at read). Two micro-batches by construction; the result must
# equal the batch rollup over all events, which DuckDB replays.
# ----------------------------------------------------------------------
@query("streaming_rollup_day_stats", oracle="""
WITH b AS (
  SELECT epoch_us(ts) - epoch_us(ts) % 86400000000 AS bucket_us,
         event_type, CAST(value AS DOUBLE) AS v
  FROM events),
r AS (
  SELECT bucket_us, event_type, count(v) AS n, sum(v) AS s,
         sum(v * v) AS s2, min(v) AS mn, max(v) AS mx
  FROM b GROUP BY bucket_us, event_type)
SELECT bucket_us, event_type, CAST(n AS BIGINT) AS n,
       round(s / n, 6) AS mean,
       round(mn, 6) AS mn, round(mx, 6) AS mx
FROM r
""")
def streaming_rollup_day_stats(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from .operators.rollup import finalize_rollup
    from .streaming.continuous import (read_rollup_from_deltas,
                                       streaming_rollup_deltas)

    ev = load_table(spark, sf_dir, "events")
    base = _scratch_dir(sf_dir, "roll_mb")
    write_small_parquet(spark, ev.filter(F.col("event_id") % 2 == 0),
                        f"{base}/in/a")
    write_small_parquet(spark, ev.filter(F.col("event_id") % 2 == 1),
                        f"{base}/in/b")
    sdf = (spark.readStream.schema(ev.schema)
           .option("maxFilesPerTrigger", 1)
           .option("recursiveFileLookup", "true")
           .parquet(f"{base}/in"))
    streaming_rollup_deltas(sdf, f"{base}/out", f"{base}/ck",
                            ts_col="ts", value_col="value",
                            keys=("event_type",),
                            query_name="rollup_mb_suite")
    fin = finalize_rollup(read_rollup_from_deltas(
        spark, f"{base}/out", keys=("event_type",)))
    out = (fin.select("bucket_us", "event_type", "n",
                      F.round("mean", 6).alias("mean"),
                      F.round("mn", 6).alias("mn"),
                      F.round("mx", 6).alias("mx"))
           .localCheckpoint(eager=True))   # detach from the tmp files
    shutil.rmtree(base, ignore_errors=True)
    return out


# ----------------------------------------------------------------------
# Streaming PSD drain (ST2 + ST3) as a full hash-checked row: planted
# integer-valued 2-sample traces from events are rechunked to N=4
# chunks (stateful rechunker) and reduced to per-(channel, bin)
# auto-spectrum moments. N=4 keeps every rfft twiddle in {0, ±1}, so
# the DFT is exact integer arithmetic on both engines and the DuckDB
# oracle is the closed-form 3-bin DFT; one-sided PSD scales 1/16 and
# 1/8 are exact binary fractions. The incomplete per-channel tail is
# dropped at end-of-stream, mirrored by the n_chunks cap in the oracle.
# ----------------------------------------------------------------------
@query("streaming_psd_stats", oracle="""
WITH ev AS (
  -- rank BEFORE the unnest: a window over the cross-joined relation
  -- would hand the two per-event sample rows distinct ranks
  SELECT event_type AS channel, value,
         row_number() OVER (PARTITION BY event_type ORDER BY event_id)
           - 1 AS rn
  FROM events),
samp AS (
  SELECT channel, rn * 2 + k.k AS idx,
         CASE k.k WHEN 0 THEN CAST(floor(value) AS BIGINT) % 10
                  ELSE CAST(floor(value / 10) AS BIGINT) % 10 END AS x
  FROM ev CROSS JOIN (SELECT unnest([0, 1]) AS k) k),
chunked AS (
  SELECT channel, idx // 4 AS chunk_id, idx % 4 AS pos,
         CAST(x AS DOUBLE) AS x
  FROM samp),
nfull AS (
  SELECT channel, count(*) // 4 AS n_chunks FROM chunked GROUP BY channel),
fullc AS (
  SELECT c.channel, c.chunk_id, c.pos, c.x
  FROM chunked c JOIN nfull USING (channel)
  WHERE c.chunk_id < n_chunks),
dft AS (
  SELECT channel, chunk_id,
         sum(x) AS re0,
         sum(CASE pos WHEN 0 THEN x WHEN 2 THEN -x ELSE 0.0 END) AS re1,
         sum(CASE pos WHEN 1 THEN -x WHEN 3 THEN x ELSE 0.0 END) AS im1,
         sum(CASE WHEN pos % 2 = 0 THEN x ELSE -x END) AS re2
  FROM fullc GROUP BY channel, chunk_id),
p AS (
  SELECT channel, b.bin,
         CASE b.bin WHEN 0 THEN re0*re0 / 16
                    WHEN 1 THEN (re1*re1 + im1*im1) / 8
                    ELSE re2*re2 / 16 END AS p2
  FROM dft CROSS JOIN (SELECT unnest([0, 1, 2]) AS bin) b)
SELECT channel, CAST(bin AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       round(avg(p2), 6) AS s_ii, round(avg(p2 * p2), 6) AS r_ii
FROM p GROUP BY channel, bin
""")
def streaming_psd_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import StructType, TimestampNTZType

    from .streaming import (rechunk_stream, run_available_now,
                            streaming_psd_moments)
    # NTZ ts like streaming_windowed_stats: the column is unused but the
    # readStream schema must match the file's physical micros-NTZ type
    schema = StructType([
        f if f.name != "ts" else type(f)("ts", TimestampNTZType())
        for f in load_table(spark, sf_dir, "events").schema.fields])
    sdf = (spark.readStream.schema(schema)
           .option("pathGlobFilter", "events.parquet").parquet(sf_dir))
    trace = F.array(
        (F.floor(F.col("value")) % 10).cast("double"),
        (F.floor(F.col("value") / 10) % 10).cast("double"))
    s = sdf.select(F.col("event_type").alias("channel"),
                   F.col("event_id").alias("event_id"),
                   trace.alias("trace"))
    agg = streaming_psd_moments(
        rechunk_stream(s, 4, key_col="channel", order_col="event_id"),
        fs=4.0)
    name = f"psd_{_uuid.uuid4().hex[:8]}"
    t = run_available_now(agg, name, output_mode="complete",
                          shuffle_partitions=8)
    return t.select("channel", F.col("bin").cast("long").alias("bin"),
                    "n",
                    F.round("s_ii", 6).alias("s_ii"),
                    F.round("r_ii", 6).alias("r_ii"))


# ----------------------------------------------------------------------
# CROSS-spectral streaming twin (round 11: streaming_cross_deltas →
# parquet delta log → read_cross_moments_from_deltas), full oracle:
# two channels derive from the SAME event rows (digit 1 / digit 2 of
# value), so their sample counts and chunk ids align by construction —
# the twin's strict gather contract. Chunks are 4 samples, so the
# whole rFFT is a hand-written 4-point DFT in SQL; pair products carry
# the one-sided scale (1/(fs·n) at DC/Nyquist, 2/(fs·n) interior) and
# the oracle replays S_re/S_im/R for all four channel pairs exactly.
# ----------------------------------------------------------------------
@query("streaming_cross_stats", oracle="""
WITH ev AS (
  SELECT value, row_number() OVER (ORDER BY event_id) - 1 AS rn
  FROM events),
chunked AS (
  SELECT rn // 4 AS chunk_id, rn % 4 AS pos,
         CAST(CAST(floor(value) AS BIGINT) % 10 AS DOUBLE) AS xa,
         CAST(CAST(floor(value / 10) AS BIGINT) % 10 AS DOUBLE) AS xb
  FROM ev),
nfull AS (SELECT count(*) // 4 AS n_chunks FROM chunked),
fullc AS (SELECT c.* FROM chunked c, nfull WHERE chunk_id < n_chunks),
dft AS (
  SELECT chunk_id,
         sum(xa) AS a0,
         sum(CASE pos WHEN 0 THEN xa WHEN 2 THEN -xa ELSE 0.0 END) AS a1r,
         sum(CASE pos WHEN 1 THEN -xa WHEN 3 THEN xa ELSE 0.0 END) AS a1i,
         sum(CASE WHEN pos % 2 = 0 THEN xa ELSE -xa END) AS a2,
         sum(xb) AS b0,
         sum(CASE pos WHEN 0 THEN xb WHEN 2 THEN -xb ELSE 0.0 END) AS b1r,
         sum(CASE pos WHEN 1 THEN -xb WHEN 3 THEN xb ELSE 0.0 END) AS b1i,
         sum(CASE WHEN pos % 2 = 0 THEN xb ELSE -xb END) AS b2
  FROM fullc GROUP BY chunk_id),
bins AS (
  SELECT chunk_id, b.bin,
         CASE b.bin WHEN 0 THEN a0 WHEN 1 THEN a1r ELSE a2 END AS are,
         CASE b.bin WHEN 1 THEN a1i ELSE 0.0 END AS aim,
         CASE b.bin WHEN 0 THEN b0 WHEN 1 THEN b1r ELSE b2 END AS bre,
         CASE b.bin WHEN 1 THEN b1i ELSE 0.0 END AS bim,
         CASE b.bin WHEN 1 THEN 1.0/8 ELSE 1.0/16 END AS sc
  FROM dft CROSS JOIN (SELECT unnest([0, 1, 2]) AS bin) b),
prod AS (
  SELECT bin,
         (are*are + aim*aim) * sc AS sraa,
         (are*bre + aim*bim) * sc AS srab,
         (aim*bre - are*bim) * sc AS siab,
         (bre*are + bim*aim) * sc AS srba,
         (bim*are - bre*aim) * sc AS siba,
         (bre*bre + bim*bim) * sc AS srbb,
         (are*are + aim*aim) * (are*are + aim*aim) * sc * sc AS raa,
         (are*are + aim*aim) * (bre*bre + bim*bim) * sc * sc AS rab,
         (bre*bre + bim*bim) * (bre*bre + bim*bim) * sc * sc AS rbb
  FROM bins)
SELECT CAST(bin AS DOUBLE) AS frequency_hz,
       CAST(count(*) AS BIGINT) AS n,
       round(avg(sraa), 6) AS "S_re__a__a",
       round(avg(srab), 6) AS "S_re__a__b",
       round(avg(siab), 6) AS "S_im__a__b",
       round(avg(srba), 6) AS "S_re__b__a",
       round(avg(siba), 6) AS "S_im__b__a",
       round(avg(srbb), 6) AS "S_re__b__b",
       round(avg(raa), 6) AS "R__a__a",
       round(avg(rab), 6) AS "R__a__b",
       round(avg(rbb), 6) AS "R__b__b"
FROM prod GROUP BY bin
""")
def streaming_cross_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import StructType, TimestampNTZType

    from .streaming import (read_cross_moments_from_deltas,
                            rechunk_stream, streaming_cross_deltas)

    schema = StructType([
        f if f.name != "ts" else type(f)("ts", TimestampNTZType())
        for f in load_table(spark, sf_dir, "events").schema.fields])
    sdf = (spark.readStream.schema(schema)
           .option("pathGlobFilter", "events.parquet").parquet(sf_dir))
    xa = F.array((F.floor(F.col("value")) % 10).cast("double"))
    xb = F.array((F.floor(F.col("value") / 10) % 10).cast("double"))
    s = (sdf.select(
            "event_id",
            F.explode(F.array(
                F.struct(F.lit("a").alias("channel"), xa.alias("trace")),
                F.struct(F.lit("b").alias("channel"), xb.alias("trace"))))
             .alias("p"))
         .select("event_id", "p.channel", "p.trace"))
    base = _scratch_dir(sf_dir, "cross")
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        streaming_cross_deltas(
            rechunk_stream(s, 4, key_col="channel",
                           order_col="event_id"),
            ["a", "b"], 4.0, base + "/deltas", base + "/ckpt",
            query_name=f"cross_{_uuid.uuid4().hex[:8]}")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
    m = read_cross_moments_from_deltas(
        spark, base + "/deltas", ["a", "b"], 4.0, 4)
    cols = ["S_re__a__a", "S_re__a__b", "S_im__a__b", "S_re__b__a",
            "S_im__b__a", "S_re__b__b", "R__a__a", "R__a__b",
            "R__b__b"]
    out = (m.select("frequency_hz", "n",
                    *[F.round(c, 6).alias(c) for c in cols])
           .localCheckpoint(eager=True))   # detach from the tmp files
    shutil.rmtree(base, ignore_errors=True)
    return out


# ----------------------------------------------------------------------
# gap-filled daily series (time_bucket_gapfill analog) — rare events
# (value > 250) leave empty days; the dense spine is a JVM-native
# sequence explode per key, missing days get n=0, and the day-sum is
# carried forward LOCF. One aggregate + one join + one key-partitioned
# window.
# ----------------------------------------------------------------------
@query("gapfilled_daily_series", oracle="""
WITH b AS (
  SELECT event_type,
         epoch_us(ts) - epoch_us(ts) % 86400000000 AS bucket_us,
         CAST(value AS DOUBLE) AS v
  FROM events WHERE value > 250.0),
r AS (SELECT event_type, bucket_us, count(*) AS n, sum(v) AS s
      FROM b GROUP BY event_type, bucket_us),
k AS (SELECT event_type, min(bucket_us) AS lo, max(bucket_us) AS hi
      FROM r GROUP BY event_type),
spine AS (SELECT event_type,
                 unnest(generate_series(lo, hi, 86400000000))
                   AS bucket_us
          FROM k),
j AS (SELECT sp.event_type, sp.bucket_us,
             coalesce(r.n, 0) AS n, r.s
      FROM spine sp LEFT JOIN r
        ON sp.event_type = r.event_type
       AND sp.bucket_us = r.bucket_us)
SELECT event_type, bucket_us, CAST(n AS BIGINT) AS n,
       round(last_value(s IGNORE NULLS) OVER (
         PARTITION BY event_type ORDER BY bucket_us
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
         AS s_locf
FROM j
""")
def gapfilled_daily_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.rollup import build_rollup, gapfill_buckets
    day = 86_400_000_000
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 250.0)
    r = build_rollup(ev, "ts", "value", keys=["event_type"],
                     width_us=day)
    dense = gapfill_buckets(r, day, keys=["event_type"],
                            locf_cols=["s"])
    return dense.select("event_type", "bucket_us", "n",
                        F.round("s", 6).alias("s_locf"))


# ----------------------------------------------------------------------
# k-anonymity audit over (user_id, event_type) — ONE map-side-combined
# aggregate over the quasi-identifier group sizes; the k=2 suppression
# survivor count falls out algebraically (rows − rows-in-unique-groups,
# exactly what suppress_small_groups keeps — pytest pins the identity).
# ----------------------------------------------------------------------
@query("k_anonymity_events", oracle="""
WITH g AS (SELECT user_id, event_type, count(*) AS n
           FROM events GROUP BY user_id, event_type)
SELECT CAST(min(n) AS BIGINT) AS k_min,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN n < 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unique_groups,
       CAST(sum(CASE WHEN n < 2 THEN n ELSE 0 END) AS BIGINT)
         AS n_unique_rows,
       CAST(sum(CASE WHEN n >= 2 THEN n ELSE 0 END) AS BIGINT)
         AS n_kept_k2
FROM g
""")
def k_anonymity_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.privacy import k_anonymity_profile
    ev = load_table(spark, sf_dir, "events")
    p = k_anonymity_profile(ev, ["user_id", "event_type"])
    return p.select(
        "k_min", "n_groups", "n_rows", "n_unique_groups",
        "n_unique_rows",
        (F.col("n_rows") - F.col("n_unique_rows")).alias("n_kept_k2"))


# ----------------------------------------------------------------------
# inverted-index token-cosine similarity join — exact TF cosine over a
# bounded slice (doc_id < 100); candidates come from the term-keyed
# self-join, never an all-pairs product. The scale path adds max_df
# frequent-term pruning (pytest-covered lower-bound semantics).
# ----------------------------------------------------------------------
@query("token_cosine_near_dup", oracle=r"""
WITH tf AS (
  SELECT doc_id, term, count(*) AS tf FROM (
    SELECT doc_id,
           lower(unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))) AS term
    FROM documents WHERE doc_id < 100) WHERE len(term) > 0
  GROUP BY doc_id, term),
n AS (SELECT doc_id, sqrt(sum(tf * tf)) AS nrm FROM tf GROUP BY doc_id),
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             sum(a.tf * b.tf) AS dot
      FROM tf a JOIN tf b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
SELECT id_a, id_b,
       round(dot / (na.nrm * nb.nrm), 6) AS sim
FROM p JOIN n na ON p.id_a = na.doc_id JOIN n nb ON p.id_b = nb.doc_id
WHERE dot / (na.nrm * nb.nrm) >= 0.8
""")
def token_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm.dedup import token_cosine_pairs
    docs = load_table(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") < 100)
    pairs = token_cosine_pairs(docs, threshold=0.8)
    return pairs.select("id_a", "id_b", F.round("sim", 6).alias("sim"))


# ----------------------------------------------------------------------
# Gopher character-fraction repetition signals (Rae et al. 2021 App. A
# continued): per-language averages of top/duplicated-2-gram character
# coverage — shuffle-free per-row projection + one aggregate. Gram
# token chars = len(gram) - 1 (the single separator), identical on
# both sides.
# ----------------------------------------------------------------------
@query("repetition_char_frac_stats", oracle=r"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(list_transform(list_filter(string_split_regex(text, '\s+'), x -> x <> ''),
                                    t -> lower(t)),
                     t -> len(t) > 0) AS tk
  FROM documents),
t AS (SELECT doc_id, unnest(tk) AS w, generate_subscripts(tk, 1) AS p
      FROM toks),
tc AS (SELECT doc_id, sum(len(w)) AS tok_chars FROM t GROUP BY doc_id),
g AS (SELECT a.doc_id, a.w || ' ' || b.w AS gram, count(*) AS cnt
      FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.p = a.p + 1
      GROUP BY a.doc_id, a.w || ' ' || b.w),
-- most-frequent gram by count (ties toward the larger gram) via the
-- combined key cnt*1e6 + chars; coverage decoded from the winner
d AS (SELECT doc_id,
             max(cnt * 1000000 + (len(gram) - 1)) AS best,
             sum((cnt - 1) * (len(gram) - 1)) AS dup_chars
      FROM g GROUP BY doc_id),
f AS (SELECT toks.doc_id, toks.lang,
             coalesce((d.best // 1000000) * (d.best % 1000000), 0)
               * 1.0
               / greatest(coalesce(tc.tok_chars, 0), 1) AS topf,
             coalesce(d.dup_chars, 0) * 1.0
               / greatest(coalesce(tc.tok_chars, 0), 1) AS dupf
      FROM toks LEFT JOIN tc ON toks.doc_id = tc.doc_id
      LEFT JOIN d ON toks.doc_id = d.doc_id)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(topf), 6) AS avg_top2_char_frac,
       round(avg(dupf), 6) AS avg_dup2_char_frac
FROM f GROUP BY lang
""")
def repetition_char_frac_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the relational (explode + map-side-combined aggregate) form: at
    # corpus scale it beats the interpreter-bound per-row array folds
    # by ~an order of magnitude; pytest pins both forms equal
    from .llm.cleaning import repetition_char_fractions_grouped
    docs = (load_table(spark, sf_dir, "documents"))
    per_doc = repetition_char_fractions_grouped(docs, n=2)
    scored = per_doc.join(docs.select("doc_id", "lang"), "doc_id")
    return (scored.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.avg("top_2gram_char_frac"), 6)
                 .alias("avg_top2_char_frac"),
                 F.round(F.avg("dup_2gram_char_frac"), 6)
                 .alias("avg_dup2_char_frac")))


# ----------------------------------------------------------------------
# interval union (gaps-and-islands) — overlapping [value, value+5]
# windows per event type merged with running-max island semantics; one
# key-partitioned sort+window. The pre-step that turns an OR-of-
# betweens interval cut into O(islands) predicate terms.
# ----------------------------------------------------------------------
@query("merged_interval_islands", oracle="""
-- rn gives the two windows ONE total order: with duplicate (lo, hi)
-- rows, independent tie-breaking between the running-max frame and the
-- island counter frame can place a duplicate group's island marker
-- mid-group and mis-assign islands (observed in DuckDB at 10x
-- replicated data; Spark evaluates both frames over a single sorted
-- run and is tie-stable by construction)
WITH iv AS (
  SELECT event_type AS k, value AS lo, value + 5.0 AS hi
  FROM events WHERE event_id % 10 = 0),
o AS (SELECT k, lo, hi,
             row_number() OVER (PARTITION BY k ORDER BY lo, hi) AS rn
      FROM iv),
m AS (SELECT k, lo, hi, rn,
             max(hi) OVER (PARTITION BY k ORDER BY lo, hi, rn
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS pmh
      FROM o),
isl AS (SELECT k, lo, hi,
               sum(CASE WHEN pmh IS NULL OR lo > pmh THEN 1 ELSE 0 END)
                 OVER (PARTITION BY k ORDER BY lo, hi, rn
                       ROWS UNBOUNDED PRECEDING) AS island
        FROM m),
g AS (SELECT k, island, min(lo) AS lo, max(hi) AS hi, count(*) AS n
      FROM isl GROUP BY k, island)
SELECT k AS event_type, CAST(count(*) AS BIGINT) AS n_islands,
       CAST(sum(n) AS BIGINT) AS n_intervals,
       round(sum(hi - lo), 6) AS covered
FROM g GROUP BY k
""")
def merged_interval_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.joins import merge_intervals
    ev = load_table(spark, sf_dir, "events") \
        .filter(F.col("event_id") % 10 == 0) \
        .select(F.col("event_type"), F.col("value").alias("lo"),
                (F.col("value") + 5.0).alias("hi"))
    merged = merge_intervals(ev, "lo", "hi", ["event_type"])
    return (merged.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_islands"),
                 F.sum("n_merged").alias("n_intervals"),
                 F.round(F.sum(F.col("hi") - F.col("lo")), 6)
                 .alias("covered")))


# ----------------------------------------------------------------------
# per-group percent-rank score calibration — the continuous companion
# of adaptive_quality_stats: one window shuffle keyed by language,
# tie-stable percent_rank identical across engines.
# ----------------------------------------------------------------------
@query("rank_normalized_quality", oracle="""
WITH r AS (SELECT doc_id, lang, n_chars,
                  percent_rank() OVER (PARTITION BY lang
                                       ORDER BY n_chars) AS pct
           FROM documents)
SELECT lang, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN pct >= 0.8 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_top,
       round(avg(pct), 6) AS avg_pct
FROM r GROUP BY lang
""")
def rank_normalized_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.stats import rank_normalize
    docs = load_table(spark, sf_dir, "documents")
    r = rank_normalize(docs, "n_chars", ["lang"], out_col="pct")
    return (r.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum((F.col("pct") >= 0.8).cast("long")).alias("n_top"),
                 F.round(F.avg("pct"), 6).alias("avg_pct")))


# ----------------------------------------------------------------------
# snapshot diff (CDC audit) — events vs a deterministically perturbed
# next load (drops, updates, inserts); ONE full-outer id-keyed join,
# null-safe struct change detection.
# ----------------------------------------------------------------------
@query("snapshot_diff_counts", oracle="""
WITH old AS (SELECT event_id, value FROM events),
new AS (
  SELECT event_id,
         CASE WHEN event_id % 7 = 0 THEN value + 1.0 ELSE value END
           AS value
  FROM events WHERE event_id % 13 <> 0
  UNION ALL
  SELECT event_id + 1000000000, value FROM events
  WHERE event_id % 11 = 0),
j AS (SELECT o.event_id AS oid, n.event_id AS nid,
             o.value AS ov, n.value AS nv
      FROM old o FULL OUTER JOIN new n ON o.event_id = n.event_id)
SELECT CASE WHEN oid IS NULL THEN 'added'
            WHEN nid IS NULL THEN 'removed'
            WHEN ov IS DISTINCT FROM nv THEN 'changed'
            ELSE 'unchanged' END AS status,
       CAST(count(*) AS BIGINT) AS n
FROM j GROUP BY 1
""")
def snapshot_diff_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.tables import table_diff
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    new = (ev.filter(F.col("event_id") % 13 != 0)
           .withColumn("value",
                       F.when(F.col("event_id") % 7 == 0,
                              F.col("value") + 1.0)
                       .otherwise(F.col("value")))
           .unionByName(
               ev.filter(F.col("event_id") % 11 == 0)
               .withColumn("event_id",
                           F.col("event_id") + 1_000_000_000)))
    d = table_diff(ev, new, "event_id", ["value"])
    return d.groupBy("status").agg(F.count(F.lit(1)).alias("n"))


# ----------------------------------------------------------------------
# Deequ-style constraint suite over orders — every scalar check folds
# into ONE aggregate pass; uniqueness is a group-size aggregate and the
# customer FK an anti-join (dimension side broadcast). The
# 150k-price-cap check is deliberately violated so pass AND fail paths
# are both hash-checked.
# ----------------------------------------------------------------------
@query("data_quality_orders", oracle="""
SELECT 'foreign_key(o_custkey)' AS check,
       (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_rows,
       (SELECT CAST(count(*) AS BIGINT) FROM orders o
        WHERE o.o_custkey IS NOT NULL AND NOT EXISTS
          (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
         AS n_violations
UNION ALL
SELECT 'in_range(o_totalprice,0.0,150000.0)',
       (SELECT count(*) FROM orders),
       (SELECT count(*) FROM orders
        WHERE o_totalprice IS NOT NULL
          AND (o_totalprice < 0.0 OR o_totalprice > 150000.0))
UNION ALL
SELECT 'matches(o_orderpriority)',
       (SELECT count(*) FROM orders),
       (SELECT count(*) FROM orders
        WHERE o_orderpriority IS NOT NULL
          AND NOT regexp_matches(o_orderpriority, '^[1-5]-'))
UNION ALL
SELECT 'not_null(o_custkey)',
       (SELECT count(*) FROM orders),
       (SELECT count(*) FROM orders WHERE o_custkey IS NULL)
UNION ALL
SELECT 'unique(o_orderkey)',
       (SELECT count(*) FROM orders),
       (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) FROM
         (SELECT count(*) AS n FROM orders
          GROUP BY o_orderkey HAVING count(*) > 1))
""")
def data_quality_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.quality import (check_table, foreign_key, in_range,
                                    matches, not_null, unique)
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    out = check_table(orders, [
        not_null("o_custkey"),
        unique("o_orderkey"),
        in_range("o_totalprice", 0.0, 150000.0),
        matches("o_orderpriority", "^[1-5]-"),
        foreign_key("o_custkey", customer, "c_custkey"),
    ])
    return out.select("check", "n_rows", "n_violations")
