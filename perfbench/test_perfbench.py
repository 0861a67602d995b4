"""Self-tests of the benchmark harness.

    python3 -m pytest perfbench/test_perfbench.py -q

The unit tests need no Spark. The smoke tests run each workload end to
end at a small size in a child process, and one in-process test
corrupts an op's output to show that the failure is counted.
"""

import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import harness as H  # noqa: E402

SMOKE = {"rq_session": {"n_events": 4000},
         "curation_ingest": {"n_docs": 400, "n_keys": 300,
                             "batch_rows": 100, "rounds": 8}}


# ----------------------------------------------------------------------
# pure arithmetic
# ----------------------------------------------------------------------
@pytest.mark.parametrize("n,pct,beyond", [(1000, 99, 10), (100, 90, 10),
                                          (40, 75, 10), (20, 50, 10)])
def test_tail_percentile_keeps_ten_samples_beyond(n, pct, beyond):
    xs = list(range(n, 0, -1))                 # order must not matter
    value, p, k = H.tail_percentile(xs)
    assert (p, k) == (pct, beyond)
    assert sum(x > value for x in xs) == beyond


def test_tail_percentile_is_highest_qualifying():
    for n in range(20, 400):
        _, p, k = H.tail_percentile(range(n))
        assert k >= 10
        if p < 99:                             # one step up has < 10 beyond
            nxt = -(-(p + 1) * n // 100)
            assert n - nxt < 10


def test_tail_percentile_small_sample_falls_back_to_maximum():
    for xs in ([5.0, 1.0, 3.0, 4.0], list(range(19))):
        value, p, k = H.tail_percentile(xs)
        assert (value, p, k) == (max(xs), 100, 0)


def test_union_length_merges_overlaps():
    assert H.union_length([(0, 2), (1, 3), (5, 6), (6, 7), (4, 4)]) == 5


def test_self_time_subtracts_children_coverage():
    parent = H.Span(0, "op", "analyzer", 1, None, 0.0, 10.0)
    kids = [H.Span(1, "a", "traces", 1, 0, 1.0, 3.0),
            H.Span(2, "b", "spark", 1, 0, 2.0, 5.0),     # overlaps a
            H.Span(3, "c", "spark", 1, 0, 8.0, 12.0)]    # runs past parent
    grandchild = H.Span(4, "d", "spark", 1, 1, 1.5, 2.5)
    got = H.self_times([parent, *kids, grandchild])
    assert got[0] == pytest.approx(10 - (4 + 2))
    assert got[1] == pytest.approx(2 - 1)
    assert got[2] == pytest.approx(3)
    assert got[4] == pytest.approx(1)


def test_cpu_clock_takes_out_sampler_time(monkeypatch):
    readings = iter([10.0, 12.0])
    monkeypatch.setattr(H, "tree_pids", lambda root: [])
    monkeypatch.setattr(H, "tree_cpu_s", lambda pids=None: next(readings))

    class Sampler:
        cpu_s = 0.0
    clock = H.CpuClock()
    clock.sampler = Sampler
    before = clock.read()
    Sampler.cpu_s = 0.5
    assert clock.read() - before == pytest.approx(1.5, abs=1e-3)


def test_jit_clock_keeps_retired_compiler_threads(monkeypatch):
    tasks = {"/proc/7/task": ["1", "2"]}
    names = {"/proc/7/comm": "java",
             "/proc/7/task/1/comm": "C2 CompilerThre",
             "/proc/7/task/2/comm": "Executor task l"}
    ticks = {"/proc/7/task/1/stat": 300, "/proc/7/task/2/stat": 900}
    monkeypatch.setattr(H, "_comm", lambda path: names.get(path, ""))
    monkeypatch.setattr(H, "_stat_fields", lambda path: (
        ["0"] * 11 + [str(ticks[path]), "0"] if path in ticks else None))
    monkeypatch.setattr(H.os, "listdir", lambda path: tasks[path])
    clock = H.JitClock()
    assert clock.read([7]) == pytest.approx(300 / H._CLK_TCK)
    tasks["/proc/7/task"] = ["2"]              # the compiler thread exits
    assert clock.read([7]) == pytest.approx(300 / H._CLK_TCK)


def test_op_latency_counts_only_latency_ops():
    import run
    from workloads import Op

    drain = Op("drain", "streaming", None)
    batch = Op("pairs", "llm.dedup", None, latency=False)

    class Runner:
        H = H
        setup_parts = {"setup_s": 1.0}

    class Workload:
        rows_per_pass = 10
    m = {"passes": [(0, False, [(drain, 0.1, 0.2), (batch, 5.0, 9.0)])]}
    e2e, extra = run.end_to_end(Runner, Workload, m, 1024)
    assert e2e["op_p50_cpu_ms"][0] == pytest.approx(200)
    assert e2e["op_tail_cpu_ms"][0] == pytest.approx(200)
    assert e2e["rows_per_cpu_s"][0] == pytest.approx(10 / 9.2)
    assert extra["op_samples"] == 1


def test_steal_pct_uses_eighth_field():
    before = [0] * 8
    after = [50, 0, 30, 10, 0, 0, 0, 10]
    assert H.steal_pct(before, after) == pytest.approx(10.0)


# ----------------------------------------------------------------------
# end to end at smoke size
# ----------------------------------------------------------------------
def _run(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "3", "--seconds", "0", "--trace", str(trace),
         "--size", json.dumps(SMOKE[workload])],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(SMOKE))
def test_workload_runs_with_checks_passing(workload):
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    res = _run(workload, 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    assert set(res["metrics"]) == {m["name"] for m in bench["end_to_end"]}
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_traced_run_reports_every_layer_metric():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    res = _run("curation_ingest", 1)
    assert res["correct"]
    assert set(res["metrics"]) == {m["name"] for m in bench["per_layer"]}
    m = {k: v["value"] for k, v in res["metrics"].items()}
    for layer in ("llm.text", "llm.dedup", "llm.similarity", "streaming",
                  "vibration", "sources"):
        assert m[f"{layer}.calls"] > 0 and m[f"{layer}.jobs"] > 0, layer
    assert m["analyzer.calls"] == 0
    assert m["llm.dedup.candidate_pairs"] >= m["llm.dedup.verified_pairs"] > 0
    assert m["streaming.batches"] > 0 and m["sources.write_amp"] > 0
    assert m["spark.exec_s"] > 0 and m["span_coverage_pct"] > 50


def test_corrupted_output_is_counted_as_failed(tmp_path, monkeypatch):
    import run
    from workloads import RqSession

    monkeypatch.chdir(ROOT)
    for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM",
              "SPARK_LOCAL_DIRS", "TMPDIR", "PYTHONPATH",
              "JAVA_TOOL_OPTIONS", "PYSPARK_SUBMIT_ARGS"):
        monkeypatch.setenv(k, os.environ.get(k, ""))
    run.pin_env(str(tmp_path / "work"))
    wl = RqSession(SMOKE["rq_session"])
    wl.generate(5, str(tmp_path / "inputs"))
    ops = wl.ops

    def corrupted(st):
        out = ops(st)
        for op in out:
            if op.name == "analyzer.filtered_hist":
                fn = op.fn
                op.fn = (lambda sub, fn=fn:
                         (fn(sub)[0] + 1, fn(sub)[1]))
        return out

    wl.ops = corrupted
    runner = run.Runner(wl, trace=False)
    spark, st = runner.setup()
    try:
        m = runner.measure(st, 0.0, time.perf_counter())
    finally:
        spark.stop()
    rec = [x for _, _, r in m["passes"] for x in r]
    n_bad = sum(op.name == "analyzer.filtered_hist" for op, _, _ in rec)
    assert n_bad > 0
    assert sum(w is None for _, w, _ in rec) == n_bad
    assert {f[0] for f in runner.failures} == {"analyzer.filtered_hist"}
