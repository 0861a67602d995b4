"""Benchmark harness: runs the declared query suite at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed to completion (``collect``) — every suite query
returns a small aggregate, so collect measures the full distributed
plan without driver-transfer noise.

Regression-grade timing: pass 1 runs every query once (doubling as the
per-query warm-up — parquet footers cached, code generated, broadcast
vars built), then the slowest ``TOP_K`` queries are re-run twice more
and reported as MEDIAN-of-3. Single-shot cold numbers on a shared box
showed 2-4x swings on unchanged plans between rounds; medians over
warmed runs are what cross-round comparisons should read. Machine-load
context (1/5/15-min load averages at start and end, CPU count) is
recorded alongside so a loaded-box round is identifiable after the
fact. Full detail (per-run samples, spread) goes to BENCH_DETAIL.json;
stdout stays compact because the driver records only a ~2000-char tail.

Per-query profile (BENCH_DETAIL ``profile``): pass 1 times ``fn()``
(plan build plus eager builder work) apart from its ``collect()``, as
``build_s`` / ``first_collect_s`` for every query. ``exec_s`` (the
exec-only pass below) and Catalyst phase walls cover the ``TOP_K``
slowest queries only; over all 178 queries ``exec_s`` summed to 14.8 s
of 207.6 s in r12 (OPTIMIZATION_r12.md).
"""

from __future__ import annotations

import gc
import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.harness import cpu_times, steal_pct

TOP_K = 20          # slowest queries re-run for median-of-3
EXTRA_RUNS = 2      # re-runs on top of the pass-1 sample


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from detanalysis_spark.session import get_spark
    from detanalysis_spark import suite

    spark = get_spark("bench")

    # Load guard (VERDICT r7 #3: a +30% noise artifact shipped as the
    # official number because the box was already at load 11.7 when the
    # timed pass started). Wait — up to SPARK_GRAFT_BENCH_MAX_WAIT
    # seconds — for the 1-minute load to drop below the threshold
    # before timing; never abort (the driver needs a BENCH line), but
    # record the guard outcome so a still-loaded run is flagged in the
    # artifact instead of silently poisoning the cross-round series.
    # VERDICT r8 #2: r8 passed a 1-min-only guard (1-min 3.21) while
    # the 5-/15-min averages were 10.25/15.05 — the box was still
    # draining work and the suite wall rode it. The guard now demands
    # the 1-minute average below the threshold AND the 5-minute
    # average below 1.5x it (the 5-min trails a just-ended burst, so
    # its bar is slightly looser but still excludes a draining box).
    max_load = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_LOAD", "4"))
    max_wait = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_WAIT", "600"))
    # VERDICT r12 #1: r12's official numbers landed in a host-steal
    # window the loadavg guard cannot see (guest loadavg was quiet while
    # measured CPU steal burst to 10% and inflated totals 13-25%). Gate
    # the timed pass on a short measured steal sample too.
    max_steal = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_STEAL", "0.5"))

    def loaded() -> bool:
        l1, l5, _ = os.getloadavg()
        return l1 > max_load or l5 > max_load * 1.5

    def steal_sample(window_sec: float) -> float:
        """Measured steal%% over a sleep window (the sample doubles as
        the guard's wait tick). loadavg only sees guest-runnable
        threads; a noisy-neighbor host shows up as steal time and
        inflates wall clocks by 2-4x in bursts (measured round 12:
        0.1% -> 10% swings within minutes). The basis is the first 8
        kernel CPU-time fields (user..steal; guest time is already
        folded into user/nice) from r13 on; earlier
        BENCH_HISTORY rows summed every field, so the r12→r13 step in
        the cpu_steal_pct series is this basis change, not the host."""
        t0 = cpu_times()
        time.sleep(window_sec)
        return steal_pct(t0, cpu_times())

    # the first steal sample is mandatory and reported on its own;
    # waited_sec counts only the guard's extra wait ticks
    steal_window = 15.0
    steal_now = steal_sample(steal_window)
    waited = 0.0
    while (loaded() or steal_now > max_steal) and waited < max_wait:
        l1, l5, l15 = os.getloadavg()
        print(f"# bench load guard: load {l1:.1f}/{l5:.1f}/{l15:.1f} "
              f"steal {steal_now:.2f}% "
              f"(need 1-min<={max_load}, 5-min<={max_load * 1.5}, "
              f"steal<={max_steal}%), waiting ({waited:.0f}s)",
              file=sys.stderr)
        steal_now = steal_sample(steal_window)
        waited += steal_window
    load_start = os.getloadavg()
    load_guard = {
        "threshold": max_load,
        "threshold_5min": max_load * 1.5,
        "threshold_steal_pct": max_steal,
        "steal_pct_at_start": round(steal_now, 2),
        "steal_sample_sec": steal_window,
        "waited_sec": round(waited, 1),
        "quiet": not loaded() and steal_now <= max_steal,
    }
    cpus = spark.sparkContext.defaultParallelism
    steal0 = cpu_times()
    # warm up the JVM + parquet footers once so per-query numbers measure
    # the plans, not session startup
    suite.QUERIES["flagship_event_cut_stats"](spark, sf_dir).collect()

    def run_once(name: str) -> tuple[float, float]:
        """(build_s, first_collect_s) of one ``fn()`` + ``collect()``."""
        df = None
        t0 = time.time()
        try:
            df = suite.QUERIES[name](spark, sf_dir)
            t1 = time.time()
            df.collect()
            split = (t1 - t0, time.time() - t1)
        except Exception as e:  # noqa: BLE001
            print(f"# bench error in {name}: {e}", file=sys.stderr)
            split = (float("nan"), float("nan"))
        # release localCheckpoint RDDs / broadcasts pinned by dropped
        # DataFrame refs so earlier queries' executor storage doesn't
        # inflate later ones (GC runs outside the timed window)
        df = None
        gc.collect()
        return split

    # pass 1: every query once (cold sample = warm-up for pass 2)
    samples: dict[str, list[float]] = {}
    profile: dict[str, dict] = {}
    for name in suite.QUERIES:
        b, c = run_once(name)
        samples[name] = [b + c]
        profile[name] = {"build_s": round(b, 4),
                         "first_collect_s": round(c, 4)}

    # pass 2: median-of-3 for the slowest TOP_K (NaN errors excluded)
    top = sorted((n for n, s in samples.items() if s[0] == s[0]),
                 key=lambda n: samples[n][0], reverse=True)[:TOP_K]
    for _ in range(EXTRA_RUNS):
        for name in top:
            samples[name].append(sum(run_once(name)))

    # exec-only pass: re-collect the SAME DataFrame object for each top
    # query. Spark caches the analyzed/optimized plan on the DataFrame,
    # so for a pure-lazy query this isolates distributed execution from
    # per-query plan build + Catalyst analysis/codegen — the
    # steady-state number a production pipeline (build once, run per
    # batch) actually pays. Example split (gopher_rule_counts, sf0.1):
    # 0.42 s Python plan build + 0.96 s analysis/codegen vs 0.05 s
    # execution. CAVEAT: queries whose builder runs eager stages
    # (checkpoints, scalar thresholds, layout writes, streaming drains)
    # did that work during fn(); their exec_s covers only the
    # returned final plan and is a LOWER bound, not the full exec cost.
    for name in top:
        try:
            df = suite.QUERIES[name](spark, sf_dir)
            df.collect()  # analyze + codegen this exact DataFrame
            t0 = time.time()
            df.collect()
            profile[name]["exec_s"] = round(time.time() - t0, 4)
            # Catalyst phase walls (analysis/optimization/planning)
            phases, it = {}, (df._jdf.queryExecution().tracker()
                              .phases().iterator())
            while it.hasNext():
                kv = it.next()
                phases[str(kv._1())] = round(
                    (kv._2().endTimeMs() - kv._2().startTimeMs()) / 1000.0, 4)
            profile[name]["phases"] = phases
        except Exception as e:  # noqa: BLE001
            print(f"# bench exec-only error in {name}: {e}",
                  file=sys.stderr)
        gc.collect()

    def reported(s: list[float]) -> float:
        good = [x for x in s if x == x]
        return statistics.median(good) if good else float("nan")

    timings = {n: round(reported(s), 4) for n, s in samples.items()}
    total = sum(v for v in timings.values() if v == v)
    load_end = os.getloadavg()
    steal_run = steal_pct(steal0, cpu_times())
    machine = {
        "cpus": cpus,
        "load_avg_start": [round(x, 2) for x in load_start],
        "load_avg_end": [round(x, 2) for x in load_end],
        "load_guard": load_guard,
        "cpu_steal_pct": round(steal_run, 2),
    }

    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    spread = {
        n: {"samples": [round(x, 4) for x in s],
            "median": timings[n],
            "spread_pct": round(100.0 * (max(s) - min(s))
                                / max(timings[n], 1e-9), 1)}
        for n, s in samples.items() if len(s) > 1 and all(x == x for x in s)
    }
    with open(detail_path, "w") as f:
        json.dump(
            {
                "metric": "suite_wall_clock",
                "value": round(total, 4),
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "n_queries": len(timings),
                "timing_method": f"median-of-{1 + EXTRA_RUNS} for the "
                                 f"{TOP_K} slowest (warmed), single-shot "
                                 "(after one suite-wide warm-up pass) "
                                 "otherwise",
                "top_query_spread": spread,
                "profile": profile,
                "machine": machine,
            },
            f,
            indent=1,
            sort_keys=True,
        )

    # Per-round full-map history (VERDICT r11 #7): BENCH_DETAIL.json is
    # overwritten every run, and the driver's BENCH_r{N}.json keeps only
    # a top-10 slice — so cross-round regression checks on the other
    # ~160 queries had no committed record. Append the complete timing
    # map per run; one JSON line each, grep-able by timestamp.
    history_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_HISTORY.jsonl")
    with open(history_path, "a") as f:
        f.write(json.dumps({
            "ts": round(time.time(), 1),
            "total_sec": round(total, 2),
            "sf": sf,
            "cpus": cpus,
            "n_queries": len(timings),
            "load_guard_quiet": load_guard["quiet"],
            "load_avg_end": [round(x, 2) for x in load_end],
            "cpu_steal_pct": round(steal_run, 2),
            "queries": timings,
        }, sort_keys=True, separators=(",", ":")) + "\n")

    top10 = dict(
        sorted(
            ((k, v) for k, v in timings.items() if v == v),
            key=lambda kv: kv[1],
            reverse=True,
        )[:10]
    )
    print(
        json.dumps(
            {
                "metric": "suite_wall_clock",
                "value": round(total, 2),
                "unit": "sec",
                "queries": {k: round(v, 2) for k, v in top10.items()},
                "sf": sf,
                "n_queries": len(timings),
                "timing": f"median{1 + EXTRA_RUNS}xtop{TOP_K}",
                "load_avg": [round(x, 2) for x in load_end],
                "cpu_steal_pct": round(steal_run, 2),
                "load_guard_quiet": load_guard["quiet"],
                "detail": "BENCH_DETAIL.json",
            },
            separators=(",", ":"),
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
