"""Session configuration and the Python worker daemon
(``detanalysis_spark._pydaemon``)."""
import os
import subprocess
import sys
import textwrap
import zipfile

from pyspark.sql import functions as F

from detanalysis_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAEMON = "spark.python.daemon.module"
PP = "spark.executorEnv.PYTHONPATH"
DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"


def test_session_conf_daemon_on_local_masters_only():
    conf = session.session_conf("local[4]")
    assert conf[DAEMON] == "detanalysis_spark._pydaemon"
    assert conf[PP].split(os.pathsep) == [ROOT]
    for master in ("spark://head:7077", "yarn", "k8s://https://api:6443"):
        conf = session.session_conf(master)
        assert DAEMON not in conf and PP not in conf
    # extras override the defaults: the stock daemon needs no import path
    conf = session.session_conf("local[2]", **{DAEMON: "pyspark.daemon"})
    assert conf[DAEMON] == "pyspark.daemon" and PP not in conf
    # a caller's worker path is kept behind the package root
    conf = session.session_conf("local[2]", **{PP: "/opt/a" + os.pathsep + "/opt/b"})
    assert conf[PP].split(os.pathsep) == [ROOT, "/opt/a", "/opt/b"]
    conf = session.session_conf("local[2]", **{PP: ROOT})
    assert conf[PP] == ROOT


def test_column_calls_skip_call_site_capture(spark, monkeypatch):
    """Without call-site capture a Column or DataFrame call is a few
    py4j round trips; with it, 24 and 25."""
    import py4j.clientserver as cs
    from pyspark.errors import utils
    assert spark.conf.get(DEBUGGING) == "false"
    # PySpark caches the flag at its first wrapped call: read it afresh
    monkeypatch.setattr(utils, "_enable_debugging_cache", None)
    sent = []
    send = cs.ClientServerConnection.send_command

    def counted(self, command):
        sent.append(command)
        return send(self, command)

    monkeypatch.setattr(cs.ClientServerConnection, "send_command", counted)
    df = spark.range(3)

    def round_trips(fn):
        fn()                    # the first call also reads the flag
        sent.clear()
        fn()
        return len(sent)

    assert round_trips(lambda: F.col("a") > 1) <= 4
    assert round_trips(lambda: df.filter(F.col("id") > 1)) <= 5
    assert utils._enable_debugging_cache is False


def test_codegen_cache_holds_a_session_working_set(spark):
    """60 distinct aggregate shapes (~125 generated classes) run twice:
    the second run compiles nothing. Spark's default cache (100 entries
    in 4 segments) recompiles ~120 of them."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    df = spark.range(64, numPartitions=2)

    def run_shapes():
        for k in range(2, 62):
            df.groupBy((F.col("id") % 3).alias("g")).agg(
                F.sum(F.col("id") * k).alias("s")).collect()
        return metrics.METRIC_COMPILATION_TIME().getCount()

    compiled = run_shapes()
    assert run_shapes() - compiled == 0


def test_default_driver_memory_is_half_of_ram(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    real = os.sysconf
    gib = 2**30

    def host(ram_bytes):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": ram_bytes // 4096}
        monkeypatch.setattr(session.os, "sysconf",
                            lambda k: pages[k] if k in pages else real(k))
        return session.session_conf("local[4]")["spark.driver.memory"]

    assert host(16 * gib) == "8192m"
    assert host(256 * gib) == "49152m"    # capped at 48g
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert host(16 * gib) == "2g"


def test_daemon_rereads_a_zip_only_when_it_changes(spark, tmp_path):
    """Worker-side: each zip importer keeps its ``_files`` dict across
    tasks until its archive's stat stamp changes."""
    def zip_importers(_):
        import os
        import sys
        import zipimport
        import _sd_probe_mod  # noqa: F401 — puts an importer on the probe zip
        yield os.getpid(), {k: (imp.archive, id(imp._files))
                            for k, imp in sys.path_importer_cache.items()
                            if isinstance(imp, zipimport.zipimporter)}

    def by_pid():
        n = 2 * spark.sparkContext.defaultParallelism
        return dict(spark.sparkContext.parallelize(range(n), n)
                    .mapPartitions(zip_importers).collect())

    assert spark.sparkContext.getConf().get(DAEMON) == "detanalysis_spark._pydaemon"
    probe = tmp_path / "sd_probe.zip"
    with zipfile.ZipFile(probe, "w") as z:
        z.writestr("_sd_probe_mod.py", "VALUE = 1\n")
    spark.sparkContext.addPyFile(str(probe))

    first, second = by_pid(), by_pid()
    shared = set(first) & set(second)
    assert shared, "no Python worker was reused across the two jobs"
    for pid in shared:
        stock = {k: v for k, v in second[pid].items() if "pyspark.zip" in v[0]}
        assert len(stock) > 1        # package importers share one read
        assert stock == {k: first[pid][k] for k in stock}

    archive = next(a for a, _ in second[min(shared)].values()
                   if a.endswith("sd_probe.zip"))
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    third = by_pid()
    shared = set(second) & set(third)
    assert shared
    rereads = 0
    for pid in shared:
        for key, (arch, files_id) in third[pid].items():
            if key not in second[pid]:
                continue
            if arch == archive:
                assert files_id != second[pid][key][1]    # re-read
                rereads += 1
            else:
                assert files_id == second[pid][key][1]
    assert rereads >= len(shared)


def test_daemon_imports_from_any_cwd(tmp_path):
    """Workers find the daemon module though neither the cwd nor the
    inherited PYTHONPATH names the repo."""
    script = tmp_path / "udf.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        import pandas as pd
        from pyspark.sql import functions as F
        from detanalysis_spark import get_spark

        spark = get_spark("daemon-cwd", master="local[1]")
        assert spark.sparkContext.getConf().get({DAEMON!r}) == \\
            "detanalysis_spark._pydaemon"

        @F.pandas_udf("long")
        def plus1(s: pd.Series) -> pd.Series:
            return s + 1

        print(sum(r[0] for r in spark.range(4).select(plus1("id")).collect()))
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "SPARK_GRAFT_CPUS")}
    env["SPARK_GRAFT_DRIVER_MEM"] = "512m"
    cwd = tmp_path / "elsewhere"
    cwd.mkdir()
    r = subprocess.run([sys.executable, str(script)], cwd=cwd, env=env,
                       capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-2000:]
    assert r.stdout.split()[-1] == "10"
