"""Interleaved A/B of `_jaccard_prefix_filtered` candidate-stage shapes
(VERDICT r12 #2: `jaccard_prefix_longtail_pairs` regressed 3.91 -> ~4.6 s
when the r11 window-rank + self-join shape was replaced by the r12
per-doc-aggregate rank + posting-list kernel).

Dimensions:
  rank:  'agg'  - per-doc collect_list + array_sort (r12)
         'win'  - Exchange + Sort + row_number window  (r11)
  pairs: 'kernel' - _posting_list_pairs + min-rn aggregate + positional
                    prune (r12)
         'join'   - gram-keyed self-join + distinct (r11)
  fan:   fan_out_small on the shingle input or not (r11 had none)

Run on the LONGTAIL corpus (the regressed query) and the regular
documents corpus (the improved sibling, which must not regress back).
All variants end in the same `verify_candidates`; the result multiset
is asserted identical across variants before timing.

Usage: python tools/prefix_shape_ab.py [longtail|documents|both] [reps]
"""
from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from detanalysis_spark.session import get_spark
from detanalysis_spark.llm import dedup as _DD
from detanalysis_spark.llm.dedup import (_posting_list_pairs,
                                         verify_candidates, word_shingles)
from detanalysis_spark.util import fan_out_small

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def build(docs: DataFrame, t: float, rank: str, pairs: str,
          fan: bool) -> DataFrame:
    id_col, text_col, shingle_n, shingle_fn = "doc_id", "text", 3, word_shingles
    base = docs.select(F.col(id_col), F.col(text_col))
    if fan:
        base = fan_out_small(base)
    sh = base.select(F.col(id_col).alias("__id__"),
                     shingle_fn(F.col(text_col), shingle_n).alias("__sh__"))
    posts = sh.select("__id__", F.size("__sh__").alias("__sz__"),
                      F.explode("__sh__").alias("__gram__"))
    dfreq = posts.groupBy("__gram__").agg(F.count(F.lit(1)).alias("__df__"))
    ranked = posts.join(dfreq.filter(F.col("__df__") > 1), "__gram__")
    prefix_len = (F.col("__sz__")
                  - F.ceil(F.lit(t) * F.col("__sz__") - 1e-9)
                  + F.lit(1)).cast("int")
    if rank == "agg":
        per_doc = (ranked.groupBy("__id__")
                   .agg(F.first("__sz__").alias("__sz__"),
                        F.collect_list(F.struct("__df__", "__gram__"))
                        .alias("__gs__")))
        pre = (per_doc.select(
                "__id__", "__sz__",
                F.posexplode(F.slice(F.array_sort("__gs__"), F.lit(1),
                                     prefix_len)).alias("__pos__", "__g__"))
               .select(F.col("__g__.__gram__").alias("__gram__"),
                       "__id__", "__sz__",
                       (F.col("__pos__") + 1).alias("__rn__")))
    else:
        w = Window.partitionBy("__id__").orderBy(F.col("__df__").asc(),
                                                 F.col("__gram__").asc())
        pre = (ranked.withColumn("__rn__", F.row_number().over(w))
               .filter(F.col("__rn__") <= prefix_len)
               .select("__gram__", "__id__", "__sz__", "__rn__"))
    size_ok = (F.least("sz_a", "sz_b")
               >= t * F.greatest("sz_a", "sz_b") - 1e-9)
    if pairs == "kernel":
        pp = (_posting_list_pairs(pre.filter(F.col("__id__").isNotNull()),
                                  ["__gram__"],
                                  ["__id__", "__sz__", "__rn__"])
              .select(F.col("__x__.__id__").alias("id_a"),
                      F.col("__x__.__sz__").alias("sz_a"),
                      F.col("__x__.__rn__").alias("rn_a"),
                      F.col("__y__.__id__").alias("id_b"),
                      F.col("__y__.__sz__").alias("sz_b"),
                      F.col("__y__.__rn__").alias("rn_b")))
        alpha = F.ceil(F.lit(t / (1.0 + t))
                       * (F.col("sz_a") + F.col("sz_b")) - 1e-9)
        cand = (pp.filter((F.col("id_a") < F.col("id_b")) & size_ok)
                .groupBy("id_a", "id_b")
                .agg(F.min("rn_a").alias("__mra__"),
                     F.min("rn_b").alias("__mrb__"),
                     F.first("sz_a").alias("sz_a"),
                     F.first("sz_b").alias("sz_b"))
                .filter(F.lit(1)
                        + F.least(F.col("sz_a") - F.col("__mra__"),
                                  F.col("sz_b") - F.col("__mrb__"))
                        >= alpha)
                .select("id_a", "id_b"))
    else:
        a = pre.select("__gram__", F.col("__id__").alias("id_a"),
                       F.col("__sz__").alias("sz_a"))
        b = pre.select("__gram__", F.col("__id__").alias("id_b"),
                       F.col("__sz__").alias("sz_b"))
        cand = (a.join(b, "__gram__")
                .filter((F.col("id_a") < F.col("id_b")) & size_ok)
                .select("id_a", "id_b").distinct())
    out = verify_candidates(docs, cand, id_col, text_col, shingle_n,
                            t, shingle_fn)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def main() -> int:
    which = sys.argv[1] if len(sys.argv) > 1 else "both"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    spark = get_spark("prefix_shape_ab")
    from detanalysis_spark import suite

    corpora = {}
    if which in ("longtail", "both"):
        corpora["longtail"] = (suite._longtail_corpus(spark, SF_DIR), 0.6)
    if which in ("documents", "both"):
        corpora["documents"] = (
            suite.load_table(spark, SF_DIR, "documents"), 0.6)

    variants = [
        ("agg+kernel+fan", dict(rank="agg", pairs="kernel", fan=True)),   # r12
        ("agg+join+fan", dict(rank="agg", pairs="join", fan=True)),
        ("win+join+fan", dict(rank="win", pairs="join", fan=True)),
        ("win+join+nofan", dict(rank="win", pairs="join", fan=False)),    # r11
        ("win+kernel+fan", dict(rank="win", pairs="kernel", fan=True)),
        ("agg+kernel+nofan", dict(rank="agg", pairs="kernel", fan=False)),
    ]

    for cname, (corpus, t) in corpora.items():
        print(f"== corpus {cname} t={t} ==", flush=True)
        # result-equality gate (sorted rows), one pass
        ref = None
        for vname, kw in variants:
            rows = sorted(map(tuple, build(corpus, t, **kw).collect()))
            if ref is None:
                ref = rows
                print(f"  {vname}: {len(rows)} pairs (reference)",
                      flush=True)
            elif rows != ref:
                raise RuntimeError(
                    f"{vname} result mismatch on {cname}")
        times: dict[str, list[float]] = {v: [] for v, _ in variants}
        for rep in range(reps):
            for vname, kw in variants:
                spark.sparkContext.setJobDescription(
                    f"ab:{cname}:{vname}:{rep}")
                t0 = time.time()
                build(corpus, t, **kw).collect()
                times[vname].append(time.time() - t0)
        for vname, _ in variants:
            s = times[vname]
            print(f"  {vname}: median {statistics.median(s):.3f}s "
                  f"samples {[round(x, 2) for x in s]}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
