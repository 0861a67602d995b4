#!/usr/bin/env python3
"""perfbench: the repository benchmark.

    python3 perfbench/run.py --workload rq_session --seed 1 --seconds 10 \
        --trace 0

Run from the repository root. Generates the workload's inputs from the
seed under ``.perfbench_work/`` (excluded from every metric), sets the
engine up and runs one untimed warm-up pass, then runs whole
closed-loop passes (one client) for at least ``--seconds``. Every op's
output is checked.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes and reports the per-layer metrics. The last
stdout line is one JSON object: correct, attempted, failed, metrics.
Exits non-zero without a result when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAX_WALL_S = 150.0


def pin_env(work: str) -> dict:
    """Pin cores, heap, worker import path and scratch dirs before the
    JVM starts; returns the record printed with every result."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    heap_mb = min(2048, mem_kb // 1024 // 4)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    pp = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "")
                         .split(os.pathsep) if p]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(pp),
        # -XX:-UsePerfData: the JVM would write /tmp/hsperfdata_<user>
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # a fixed, pre-touched heap (-Xms = -Xmx): G1 sized the heap
        # differently from run to run, which moved the JVM's RSS between
        # 1.2 and 2.6 GB and its GC work with it. Heap pressure now shows
        # as GC time and spill; peak RSS moves with off-heap and Python
        "PYSPARK_SUBMIT_ARGS": (f"--conf 'spark.driver.extraJavaOptions="
                                f"-Xms{heap_mb}m -XX:+AlwaysPreTouch' "
                                f"pyspark-shell"),
    })
    os.chdir(work)
    return {"cpus": cpus, "driver_heap_mb": heap_mb,
            "mem_total_mb": mem_kb // 1024}


class Runner:
    def __init__(self, wl, trace: bool):
        import harness as H
        self.H, self.wl, self.trace = H, wl, trace
        self.tracer = H.Tracer(enabled=False)
        self.reader = None
        self.jobs: dict = {}          # job id -> (JobInfo, span sid)
        self.failures: list = []
        self.counters: dict = {}
        self.op_id = 0
        self.cpu = H.CpuClock()
        self.setup_parts: dict = {}
        self.clock_off = time.time() - time.perf_counter()

    # ------------------------------------------------------------------
    def sub(self, name: str, layer: str):
        return self.H.span(self.tracer, name, layer, self.op_id)

    def run_op(self, op, st, record: list) -> None:
        from pyspark.sql import DataFrame
        H, tr = self.H, self.tracer
        self.op_id += 1
        traced = tr.enabled
        pre = getattr(self.wl, "before_traced_op", None)
        if traced and pre:
            with self.sub("harness.probe", "harness"):
                pre(st, op, self.counters)
        cpu0 = self.cpu.read()
        try:
            with H.span(tr, op.name, op.layer, self.op_id) as sp:
                res = op.fn(self.sub)
                if op.action and isinstance(res, DataFrame):
                    if traced:
                        with self.sub("spark.plan", "spark"):
                            res._jdf.queryExecution().executedPlan()
                    with self.sub("spark.action", "spark"):
                        res = (res.collect() if op.action == "collect"
                               else res.count())
            record.append((op, sp.end - sp.start, self.cpu.read() - cpu0))
            if hasattr(res, "recentProgress"):
                from workloads import progress
                sp.attrs["run_id"] = str(res.runId)
                sp.attrs["progress"] = progress(res)
            if op.check:
                op.check(res)
            post = getattr(self.wl, "after_traced_op", None)
            if traced and post:
                with self.sub("harness.probe", "harness"):
                    post(st, op, res, self.counters)
        except Exception as e:  # noqa: BLE001 — an op failure is a result
            from workloads import CheckFailed
            self.failures.append((op.name, op.layer, tr.pass_no,
                                  f"{type(e).__name__}: {e}"))
            print(f"# op failed: {op.name}: {type(e).__name__}: {e}",
                  file=sys.stderr)
            if not isinstance(e, CheckFailed):
                traceback.print_exc(file=sys.stderr)
            if record and record[-1][0] is op:
                record[-1] = (op, None, None)
            else:
                record.append((op, None, None))
        if traced:
            self.collect_jobs()

    def collect_jobs(self) -> None:
        if self.reader is None:
            return
        run_ids = {s.attrs["run_id"]: s.sid for s in self.tracer.spans
                   if "run_id" in s.attrs}
        for j in self.reader.new_jobs():
            sid = None
            if j.group and j.group.startswith("perfbench:"):
                sid = int(j.group.split(":")[1])
            elif j.group in run_ids:
                sid = run_ids[j.group]
            elif j.start is not None:
                t = j.start - self.clock_off
                inside = [s for s in self.tracer.spans
                          if s.start <= t <= (s.end or float("inf"))]
                if inside:
                    sid = max(inside, key=lambda s: s.start).sid
            self.jobs[j.jid] = (j, sid)

    # ------------------------------------------------------------------
    def setup(self):
        """Start the session (launching the JVM) and register the inputs,
        then run one untimed warm-up pass. Returns (spark, state)."""
        from detanalysis_spark import get_spark
        parts = self.setup_parts
        t0 = time.perf_counter()
        self.op_id += 1
        with self.sub("session.get_spark", "session"):
            spark = get_spark("perfbench")
        sc = spark.sparkContext
        self.tracer.bind(sc)
        if self.trace:
            self.reader = self.H.JobReader(sc)
        t1 = time.perf_counter()
        st = self.wl.register(spark, self.sub)
        t2 = time.perf_counter()
        self.collect_jobs()
        self.wl.before_pass(st, self.tracer.pass_no)
        record: list = []
        for op in self.wl.ops(st):
            self.run_op(op, st, record)
        parts.update(session_s=t1 - t0, register_s=t2 - t1,
                     warmup_pass_s=time.perf_counter() - t2)
        return spark, st

    def measure(self, st, seconds: float, t_proc: float) -> dict:
        H = self.H
        passes = []         # (pass_no, traced, [(op, wall_s, cpu_s)])
        t_start = time.perf_counter()
        pass_no = 0
        while True:
            el = time.perf_counter() - t_start
            least = 2 if self.trace else 1
            if len(passes) >= least and (
                    el >= seconds
                    or time.perf_counter() - t_proc > MAX_WALL_S):
                break
            traced = self.trace and pass_no % 2 == 1
            try:
                self.wl.before_pass(st, pass_no)
            except StopIteration:
                print("# staged input exhausted; stopping early",
                      file=sys.stderr)
                break
            self.tracer.pass_no = pass_no
            self.tracer.enabled = traced
            if traced and self.reader is not None:
                self.reader.skip_existing()
            record: list = []
            for op in self.wl.ops(st):
                self.run_op(op, st, record)
            self.tracer.enabled = False
            passes.append((pass_no, traced, record))
            pass_no += 1
        return {"passes": passes,
                "wall": time.perf_counter() - t_start,
                "t_start": t_start}


# ----------------------------------------------------------------------
# metrics
# ----------------------------------------------------------------------
def end_to_end(runner, wl, m, rss_kb) -> tuple[dict, dict]:
    """The gated metrics count process-tree CPU time per op and per pass;
    the wall-clock twins go to the record. Wall time on a shared host
    moves with the CPU time the hypervisor steals, by 30% between runs
    minutes apart; CPU time does not. Op latency covers the ops a user
    waits on one at a time (analyst calls, stream drains and reads);
    batch corpus ops count only in the per-pass rate."""
    H = runner.H
    plain = [rec for _, traced, rec in m["passes"] if not traced]
    ok = [(w, c) for rec in plain for op, w, c in rec
          if w is not None and op.latency]
    wall, cpu = [w for w, _ in ok], [c for _, c in ok]
    pass_wall = [sum(w for _, w, _ in rec if w is not None) for rec in plain]
    pass_cpu = [sum(c for _, _, c in rec if c is not None) for rec in plain]
    metrics = {
        "setup_s": (runner.setup_parts["setup_s"], "s"),
        "rows_per_cpu_s": (wl.rows_per_pass / H.median(pass_cpu),
                           "rows/cpu-s"),
    }
    extra = {"passes": len(plain), "op_samples": len(cpu),
             "rows_per_s": wl.rows_per_pass / H.median(pass_wall),
             **runner.setup_parts}
    if cpu:
        tail, pct, beyond = H.tail_percentile(cpu)
        metrics.update(op_p50_cpu_ms=(1000 * H.median(cpu), "ms"),
                       op_tail_cpu_ms=(1000 * tail, "ms"))
        extra.update(tail_percentile=pct, tail_samples_beyond=beyond,
                     op_p50_ms=1000 * H.median(wall),
                     op_tail_ms=1000 * H.tail_percentile(wall)[0])
    metrics["peak_rss_mb"] = (rss_kb / 1024.0, "MB")
    return metrics, extra


def per_layer(runner, wl, m) -> dict:
    H = runner.H
    spans = runner.tracer.spans
    traced_no = {p[0] for p in m["passes"] if p[1]}
    plain_no = {p[0] for p in m["passes"] if not p[1]}
    n_tr = max(len(traced_no), 1)
    by_sid = {s.sid: s for s in spans}

    def owner(s):
        while s is not None and s.layer not in H.LAYERS:
            s = by_sid.get(s.parent)
        return s

    out = {f"{ly}.{f}": 0.0 for ly in H.LAYERS for f in H.LAYER_FIELDS}
    tspans = [s for s in spans if s.pass_no in traced_no]
    selfs = H.self_times(tspans)
    for s in tspans:
        if s.layer in H.LAYERS:
            out[f"{s.layer}.calls"] += 1
            out[f"{s.layer}.self_s"] += selfs[s.sid]
    stage_iv: dict = {}                      # op_id -> [(start, end)]
    n_stages = n_skipped = 0
    peak_dedup = 0.0
    for j, sid in runner.jobs.values():
        s = by_sid.get(sid)
        if s is None or s.pass_no not in traced_no:
            continue
        o = owner(s)
        if o is None:
            continue
        out[f"{o.layer}.jobs"] += 1
        for st in j.stages:
            if st.status == "SKIPPED":
                n_skipped += 1
                continue
            n_stages += 1
            out[f"{o.layer}.task_s"] += st.run_s
            out[f"{o.layer}.shuffle_mb"] += st.shuffle_mb
            out[f"{o.layer}.spill_mb"] += st.spill_mb
            if o.layer == "llm.dedup":
                peak_dedup = max(peak_dedup, st.peak_mem_mb)
            if st.start is not None and st.end is not None:
                stage_iv.setdefault(s.op_id, []).append(
                    (st.start - runner.clock_off, st.end - runner.clock_off))
    for name, layer, pass_no, _ in runner.failures:
        if pass_no in traced_no and layer in H.LAYERS:
            out[f"{layer}.failed"] += 1
    for k in list(out):
        out[k] /= n_tr

    # session layer: the one set-up (JVM launch and get_spark)
    sess = [s for s in spans if s.layer == "session"]
    out["session.calls"] = len(sess)
    out["session.self_s"] = sum(s.end - s.start for s in sess)
    out["session.jobs"] = out["session.task_s"] = 0.0
    for j, sid in runner.jobs.values():
        s = by_sid.get(sid)
        if s is not None and s.layer == "session":
            out["session.jobs"] += 1
            out["session.task_s"] += sum(x.run_s for x in j.stages)

    # Spark's share of each op's terminal action
    plan = sum(s.end - s.start for s in tspans if s.name == "spark.plan")
    has_action = {s.op_id for s in tspans if s.name == "spark.action"}
    windows = [s for s in tspans if s.name == "spark.action"] + \
        [s for s in tspans if s.parent is None and s.layer in H.LAYERS
         and s.op_id not in has_action]
    exec_s = sched_s = 0.0
    for w in windows:
        cov = H.union_length((max(a, w.start), min(b, w.end))
                             for a, b in stage_iv.get(w.op_id, ()))
        exec_s += cov
        sched_s += (w.end - w.start) - cov
    out.update({"spark.plan_s": plan / n_tr, "spark.exec_s": exec_s / n_tr,
                "spark.sched_s": sched_s / n_tr,
                "spark.stages": n_stages / n_tr,
                "spark.stages_skipped": n_skipped / n_tr})

    # waste and memory ratios
    c = runner.counters
    cand, ver = c.get("candidate_pairs", 0), c.get("verified_pairs", 0)
    out["llm.dedup.candidate_pairs"] = cand / n_tr
    out["llm.dedup.verified_pairs"] = ver / n_tr
    out["llm.dedup.candidate_yield"] = ver / cand if cand else 0.0
    out["llm.dedup.peak_exec_mem_mb"] = peak_dedup
    dropped = c.get("semdedup_dropped", 0)
    out["llm.similarity.scored_per_result"] = (
        c.get("semdedup_scored", 0) / dropped if dropped else 0.0)

    prog = [(s, p) for s in tspans for p in s.attrs.get("progress", ())]
    drains = [s for s in tspans if "progress" in s.attrs]
    out["streaming.batches"] = len(prog) / n_tr
    out["streaming.add_batch_ms_p50"] = H.median(
        p["durationMs"].get("addBatch", 0) for _, p in prog)
    out["streaming.commit_ms_p50"] = H.median(
        p["durationMs"].get("walCommit", 0)
        + p["durationMs"].get("commitOffsets", 0) for _, p in prog)
    out["streaming.start_stop_ms_p50"] = H.median(
        1000 * (s.end - s.start)
        - sum(p["durationMs"].get("triggerExecution", 0)
              for p in s.attrs["progress"]) for s in drains)
    out["streaming.state_rows"] = sum(
        sum(o.get("numRowsTotal", 0) for o in s.attrs["progress"][-1]
            .get("stateOperators", ()))
        for s in drains if s.attrs["progress"]) / n_tr
    landed = c.get("landed_bytes", 0)
    out["sources.write_amp"] = (c.get("written_bytes", 0) / landed
                                if landed else 0.0)
    out["sources.files_rewritten"] = c.get("files_rewritten", 0) / n_tr

    def op_time(nos):
        return H.median(sum(w for _, w, _ in rec if w is not None)
                        for no, _, rec in m["passes"] if no in nos)
    out["trace_overhead_pct"] = 100.0 * (op_time(traced_no)
                                         / op_time(plain_no) - 1.0)
    top = sum(s.end - s.start for s in spans
              if s.pass_no >= 0 and s.parent is None
              and s.layer in H.LAYERS)
    out["span_coverage_pct"] = 100.0 * top / m["wall"]
    return out


PER_LAYER_UNITS = {"calls": "count", "self_s": "s", "jobs": "count",
                   "task_s": "s", "shuffle_mb": "MB", "spill_mb": "MB",
                   "failed": "count", "plan_s": "s", "exec_s": "s",
                   "sched_s": "s", "stages": "count",
                   "stages_skipped": "count", "candidate_pairs": "count",
                   "verified_pairs": "count", "candidate_yield": "ratio",
                   "peak_exec_mem_mb": "MB", "scored_per_result": "ratio",
                   "batches": "count", "add_batch_ms_p50": "ms",
                   "commit_ms_p50": "ms", "start_stop_ms_p50": "ms",
                   "state_rows": "count", "write_amp": "ratio",
                   "files_rewritten": "count", "trace_overhead_pct": "%",
                   "span_coverage_pct": "%"}


def unit_of(name: str) -> str:
    return PER_LAYER_UNITS[name.rsplit(".", 1)[-1]]


# ----------------------------------------------------------------------
def stop_spark(spark) -> None:
    """Stop the session, the JVM and every process it started, and wait
    for each to end."""
    import harness as H
    from pyspark import SparkContext
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — subprocess.TimeoutExpired
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while time.time() < deadline:
        left = [p for p in H.tree_pids(os.getpid()) if p != os.getpid()]
        if not left:
            return
        time.sleep(0.2)
    for p in left:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=json.loads, default=None,
                    help="JSON dict overriding the workload's sizes")
    a = ap.parse_args(argv)
    import harness as H
    t_proc = time.perf_counter()
    t_born = t_proc - H.process_age_s()

    if not os.path.isdir(os.path.join(ROOT, "detanalysis_spark")):
        print("perfbench: no detanalysis_spark package next to perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401
        import detanalysis_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    imports_s = time.perf_counter() - t_born
    from workloads import WORKLOADS
    if a.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{a.workload}-s{a.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    spark = None
    try:
        env = pin_env(work)
        wl = WORKLOADS[a.workload](a.size)
        t = time.perf_counter()
        sizes = wl.generate(a.seed, os.path.join(work, "inputs"))
        gen_s = time.perf_counter() - t

        runner = Runner(wl, bool(a.trace))
        spark, st = runner.setup()
        # from process start until the first measured op is ready, less
        # input generation
        runner.setup_parts.update(
            setup_s=time.perf_counter() - t_born - gen_s,
            imports_s=imports_s)
        warm_failed = len(runner.failures)

        # start every measured phase from a collected heap, so its GC work
        # does not depend on the garbage the warm-up pass left behind
        spark.sparkContext._jvm.System.gc()
        load1 = os.getloadavg()[0]
        cpu0 = H.cpu_times()
        runner.cpu.read()
        tree0, over0 = H.tree_cpu_s(), runner.cpu.overhead_s()
        jit0 = runner.cpu.jit_s
        with H.RssSampler() as rss:
            runner.cpu.sampler = rss
            m = runner.measure(st, a.seconds, t_proc)
        steal = H.steal_pct(cpu0, H.cpu_times())
        runner.cpu.read()
        harness_cpu = runner.cpu.overhead_s() - over0
        jit_cpu = runner.cpu.jit_s - jit0
        harness_share = harness_cpu / max(H.tree_cpu_s() - tree0, 1e-9)

        attempted = sum(len(rec) for _, _, rec in m["passes"])
        failed = sum(1 for _, _, rec in m["passes"]
                     for _, w, _ in rec if w is None)
        e2e, extra = end_to_end(runner, wl, m, rss.peak_kb)
        record = {"workload": a.workload, "seed": a.seed,
                  "trace": a.trace, "sizes": sizes, "gen_s": gen_s,
                  **env, "loadavg_1m": load1, "steal_pct": steal,
                  "measured_wall_s": m["wall"], "warmup_failed": warm_failed,
                  "harness_cpu_s": harness_cpu,
                  "harness_cpu_share": harness_share,
                  "jit_cpu_s": jit_cpu, "peak_rss_parts": rss.peak_parts,
                  "fail_ratio": failed / max(attempted, 1), **extra}
        if a.trace:
            layer = per_layer(runner, wl, m)
            metrics = {k: {"value": v, "unit": unit_of(k)}
                       for k, v in layer.items()}
        else:
            metrics = {k: {"value": v, "unit": u}
                       for k, (v, u) in e2e.items()}
        for k, v in {**{k: {"value": v, "unit": u}
                        for k, (v, u) in e2e.items()},
                     **metrics}.items():
            print(f"# {k} = {v['value']:.6g} {v['unit']}")
        lat = (f", op_p50_ms = {extra['op_p50_ms']:.6g} ms, "
               f"op_tail_ms = {extra['op_tail_ms']:.6g} ms "
               f"(p{extra['tail_percentile']} of {extra['op_samples']})"
               if "op_p50_ms" in extra else "")
        print(f"# wall: rows_per_s = {extra['rows_per_s']:.6g} rows/s{lat}, "
              f"steal {steal:.3g}%, harness CPU {100 * harness_share:.2g}%")
        print(f"# fail_ratio = {record['fail_ratio']:.6g} "
              f"({failed}/{attempted})")
        print("# record " + json.dumps(record, default=str))
        dump = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-"
                            f"trace{a.trace}.json")
        with open(dump, "w") as f:
            json.dump({"record": record, "failures": runner.failures,
                       "ops": [(no, op.name, w, c)
                               for no, _, rec in m["passes"]
                               for op, w, c in rec],
                       "spans": runner.tracer.dump()}, f, default=str)
        result = {"correct": failed == 0 and warm_failed == 0,
                  "attempted": attempted, "failed": failed,
                  "metrics": metrics}
    finally:
        os.chdir(ROOT)
        try:
            stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
