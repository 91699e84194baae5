"""Session construction: the host-sized default and the driver JVM's
class-data-sharing (CDS) archive.

The helpers are tested without a JVM. The subprocess tests start the CLI
with its own cache directory (``XDG_CACHE_HOME``) and check that no
archive state fails a session or writes to stdout.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from odbc2parquet_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SQL = "SELECT r_regionkey, r_name FROM region"


def test_local_cpus_defaults_to_the_host():
    host = str(len(os.sched_getaffinity(0)))
    assert session.local_cpus({}) == host
    assert session.local_cpus({"SPARK_GRAFT_CPUS": "3"}) == "3"
    master, conf = session.session_conf(env={})
    assert master == f"local[{host}]"
    assert conf["spark.sql.shuffle.partitions"] == host
    assert conf["spark.driver.memory"] == "48g"


def _fake_install(root):
    """A JDK and a Spark home with just the files the key reads."""
    java, spark = root / "jdk", root / "spark"
    (java / "lib" / "server").mkdir(parents=True)
    (java / "release").write_text('JAVA_VERSION="17.0.20"\n')
    (java / "lib" / "server" / "libjvm.so").write_bytes(b"\0" * 64)
    (spark / "jars").mkdir(parents=True)
    (spark / "jars" / "a.jar").write_bytes(b"PK")
    (spark / "conf").mkdir()
    return java, spark


def test_cds_key_tracks_jdk_jars_options_and_memory(tmp_path):
    java, spark = _fake_install(tmp_path)

    def key(options="-Xlog:disable", memory="48g"):
        return session.cds_key(str(java), str(spark), "/conf", options, memory)

    base = key()
    assert key() == base
    assert key(options="-Xlog:disable -XX:ReservedCodeCacheSize=256m") != base
    assert key(memory="8g") != base
    jar = spark / "jars" / "a.jar"
    st = jar.stat()
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    assert key() != base
    base = key()
    (java / "release").write_text('JAVA_VERSION="17.0.21"\n')
    assert key() != base


def test_cds_conf_dir_rule(tmp_path):
    """A template-only conf dir is swapped for an empty one; a real conf
    file is never hidden, so CDS is skipped."""
    java, spark = _fake_install(tmp_path)
    env = {"JAVA_HOME": str(java), "SPARK_HOME": str(spark), "XDG_CACHE_HOME": str(tmp_path / "cache")}
    conf = {"spark.driver.extraJavaOptions": "-Xlog:disable", "spark.driver.memory": "48g"}
    (spark / "conf" / "log4j2.properties.template").write_text("")
    assert session.real_conf_files(str(spark / "conf")) == []
    plan = session.cds_plan(conf, env)
    assert plan.state == "dumping"
    assert plan.conf_dir == str(tmp_path / "cache" / "odbc2parquet_spark" / "empty-conf")
    assert plan.options.startswith(f"-XX:ArchiveClassesAtExit={plan.detail} ")

    (spark / "conf" / "spark-defaults.conf").write_text("spark.master local[2]\n")
    plan = session.cds_plan(conf, env)
    assert plan.state == "skipped" and "spark-defaults.conf" in plan.detail
    assert plan.options == "" and plan.conf_dir is None


def test_cds_needs_a_jdk_with_dynamic_archives(tmp_path):
    java, spark = _fake_install(tmp_path)
    env = {"JAVA_HOME": str(java), "SPARK_HOME": str(spark), "XDG_CACHE_HOME": str(tmp_path / "cache")}
    (java / "release").write_text('JAVA_VERSION="11.0.2"\n')
    assert session.cds_plan({}, env).state == "skipped"
    (java / "release").write_text('JAVA_VERSION="1.8.0_392"\n')
    assert session.cds_plan({}, env).state == "skipped"
    (java / "release").write_text('JAVA_VERSION="21"\n')
    assert session.cds_plan({}, env).state == "dumping"


def test_cds_publish_only_after_a_clean_exit(tmp_path):
    part = tmp_path / f"k1.{os.getpid()}.part"
    part.write_bytes(b"x" * 10)
    assert session.publish_cds(str(part), 1) is None
    assert not part.exists()
    part.write_bytes(b"x" * 10)
    assert session.publish_cds(str(part), None) is None
    assert list(tmp_path.iterdir()) == []
    part.write_bytes(b"x" * 10)
    assert session.publish_cds(str(part), 0) == str(tmp_path / "k1.10.jsa")
    assert [p.name for p in tmp_path.iterdir()] == ["k1.10.jsa"]


def test_cds_prune_keeps_sized_archives_within_the_bound(tmp_path):
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()

    def put(name, size, age):
        p = tmp_path / name
        p.write_bytes(b"x" * size)
        os.utime(p, (1_000_000 - age, 1_000_000 - age))

    put("k1.5.jsa", 5, age=1)
    put("k1.6.jsa", 6, age=2)  # an older archive of the same key
    put("k2.9.jsa", 4, age=0)  # truncated: its name records 9 bytes
    put("k3.3.jsa", 3, age=3)
    put("k4.3.jsa", 3, age=4)  # beyond CDS_KEEP
    put(f"k5.{dead.pid}.part", 3, age=0)  # a dead process's partial dump
    put(f"k6.{os.getpid()}.part", 3, age=0)  # a live one's
    assert session.CDS_KEEP == 2
    assert session.prune_cds_cache(str(tmp_path)) == {
        "k1": str(tmp_path / "k1.5.jsa"),
        "k3": str(tmp_path / "k3.3.jsa"),
    }
    assert sorted(p.name for p in tmp_path.iterdir()) == ["k1.5.jsa", "k3.3.jsa", f"k6.{os.getpid()}.part"]


# ------------------------------------------------ the CLI in a subprocess
#
# One CLI run per archive state, all started at once (each JVM start costs
# ~15 s, a dumping one ~40 s with its exit): the fixture plants the state
# and starts the process, each test waits for its own.

CASES = ("missing", "garbage", "truncated", "unwritable", "mismatched")


def _env(cache) -> dict:
    env = dict(os.environ, XDG_CACHE_HOME=str(cache), PYTHONPATH=REPO, SPARK_GRAFT_CPUS="2")
    for k in ("SPARK_GRAFT_DRIVER_MEM", "SPARK_CONF_DIR"):
        env.pop(k, None)
    return env


def _mismatched_archive(tmp_path, memory: str) -> bytes:
    """A real dynamic archive of another classpath: the driver JVM warns
    that it cannot use it (by default on stdout)."""
    from pyspark.find_spark_home import _find_spark_home

    jars = os.path.join(os.environ.get("SPARK_HOME") or _find_spark_home(), "jars")
    launcher = next(n for n in sorted(os.listdir(jars)) if n.startswith("spark-launcher"))
    jar = tmp_path / "other.jar"
    jar.write_bytes(open(os.path.join(jars, launcher), "rb").read())
    jsa = tmp_path / "other.jsa"
    subprocess.run(
        [os.path.join(session._java_home(os.environ), "bin", "java"), f"-Xmx{memory}",
         f"-XX:ArchiveClassesAtExit={jsa}", "-cp", str(jar), "org.apache.spark.launcher.Main"],
        capture_output=True, timeout=60,
    )
    return jsa.read_bytes()


def _plant(tmp_path, case: str, env: dict) -> tuple[str | None, str | None]:
    """Put the cache of ``env`` into ``case``'s state; returns (archive
    key, the planted file)."""
    if case == "unwritable":
        with open(env["XDG_CACHE_HOME"], "w") as f:
            f.write("a file where the cache directory should be")
        return None, None
    conf = session.session_conf(env=env)[1]
    plan = session.cds_plan(conf, env)
    assert plan.state == "dumping", plan
    cache, name = os.path.split(plan.detail)
    key = name.partition(".")[0]
    data = {
        "missing": None,
        "garbage": os.urandom(4096),
        "truncated": b"\0" * 4096,
        "mismatched": _mismatched_archive(tmp_path, conf["spark.driver.memory"]),
    }[case]
    if data is None:
        return key, None
    # a truncated file keeps the name of the size it was published with
    planted = os.path.join(cache, f"{key}.{2 * len(data) if case == 'truncated' else len(data)}.jsa")
    with open(planted, "wb") as f:
        f.write(data)
    return key, planted


@pytest.fixture(scope="module")
def cli_runs(tmp_path_factory, sf_dir):
    """case -> (cache env, key, planted file, the running ``query … -``)."""
    runs = {}
    for case in CASES:
        tmp = tmp_path_factory.mktemp(case)
        env = _env(tmp / "cache")
        key, planted = _plant(tmp, case, env)
        proc = subprocess.Popen(
            [sys.executable, "-m", "odbc2parquet_spark", "-v", "query", "--tables-dir", sf_dir, "-", SQL],
            env=env, cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        )
        runs[case] = (env, key, planted, proc)
    yield runs
    for *_, proc in runs.values():
        proc.kill()
        proc.communicate()


def _finish(run) -> str:
    """Wait for a CLI run; returns its stderr after checking that stdout
    is exactly one parquet file of the query's rows."""
    proc = run[3]
    out, err = proc.communicate(timeout=300)
    err = err.decode(errors="replace")
    assert proc.returncode == 0, err[-3000:]
    table = pq.read_table(pa.BufferReader(out))
    assert table.num_rows == 5 and table.column_names == ["r_regionkey", "r_name"]
    return err


def test_cds_unusable_archive_keeps_stdout_clean(cli_runs):
    err = _finish(cli_runs["mismatched"])
    assert f"class-data sharing: used ({cli_runs['mismatched'][2]})" in err
    assert "Unable to use shared archive" in err  # the JVM's warning went to stderr


@pytest.mark.parametrize("case", CASES[:4])
def test_cds_no_archive_state_fails_a_session(cli_runs, case):
    env, key, planted, _ = cli_runs[case]
    err = _finish(cli_runs[case])
    if case == "unwritable":
        assert "class-data sharing: skipped" in err
        return
    if case == "garbage":
        assert f"class-data sharing: used ({planted})" in err
        return
    # missing, or deleted for its size: this run wrote and published one
    assert "class-data sharing: dumping" in err
    cache = session.cds_cache_dir(env)
    published = [n for n in os.listdir(cache) if n.endswith(".jsa")]
    assert len(published) == 1 and published[0].startswith(key + "."), published
    assert os.path.getsize(os.path.join(cache, published[0])) == int(published[0].split(".")[1]) > 0
    assert not any(n.endswith(".part") for n in os.listdir(cache))


def test_worker_daemon_only_where_workers_import_the_package(tmp_path, monkeypatch):
    key = "spark.python.daemon.module"
    monkeypatch.chdir(tmp_path)
    assert not session.workers_import_package({})
    assert key not in session.session_conf(env={})[1]
    env = {"PYTHONPATH": os.pathsep.join([str(tmp_path), REPO])}
    assert session.session_conf(env=env)[1][key] == "odbc2parquet_spark.worker_daemon"
    # executors on a cluster have neither the driver's directory nor its path
    assert key not in session.session_conf("spark://host:7077", env=env)[1]
    monkeypatch.chdir(REPO)
    assert session.workers_import_package({})


def test_worker_daemon_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    """Without Spark: an unchanged archive keeps its directory object
    through ``invalidate_caches``; a rewritten one is re-read, and a
    second importer of it adopts the new directory."""
    import zipfile
    import zipimport

    from odbc2parquet_spark import worker_daemon

    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_if_changed
    )
    path = str(tmp_path / "lib.zip")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pkg/__init__.py", "")
        z.writestr("a.py", "x = 1\n")
    imp, sub = zipimport.zipimporter(path), zipimport.zipimporter(os.path.join(path, "pkg"))
    imp.invalidate_caches()  # the first call reads and stamps
    files = zipimport._zip_directory_cache[path]
    for _ in range(3):
        imp.invalidate_caches()
        sub.invalidate_caches()
    assert zipimport._zip_directory_cache[path] is files
    assert imp._files is files and sub._files is files
    with zipfile.ZipFile(path, "w") as z:  # same inode, new size and mtime
        z.writestr("pkg/__init__.py", "")
        z.writestr("a.py", "x = 1\n")
        z.writestr("b.py", "y = 2\n")
    imp.invalidate_caches()
    reread = zipimport._zip_directory_cache[path]
    assert reread is not files and "b.py" in reread
    sub.invalidate_caches()
    assert sub._files is reread
    assert imp.find_spec("b") is not None


def test_python_tasks_run_under_the_package_daemon(spark):
    """A Python task is forked by the package daemon, and the per-task
    ``importlib.invalidate_caches()`` leaves pyspark.zip's directory, the
    one every pyspark import reads, as it was."""

    def probe(_):
        import importlib
        import zipimport

        main = sys.modules["__main__"].__spec__
        archive = next(a for a in zipimport._zip_directory_cache if a.endswith("pyspark.zip"))
        before = zipimport._zip_directory_cache[archive]
        importlib.invalidate_caches()
        yield main and main.name, zipimport._zip_directory_cache[archive] is before

    got = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    assert got == [("odbc2parquet_spark.worker_daemon", True)]


def test_building_a_column_skips_the_origin_capture(spark):
    """PySpark's per-call origin capture is off for the whole session, so
    building an expression costs py4j round trips for the expression
    alone. With the capture on, each of the 9 wrapped calls below adds
    about four more (a JVM class lookup, a conf read, a set and a clear):
    79 round trips against 19."""
    from unittest import mock

    import py4j.clientserver
    from pyspark.sql import functions as F

    key = "spark.python.sql.dataFrameDebugging.enabled"
    assert session.session_conf(env={})[1][key] == "false"

    def build():
        return F.when(F.col("a") > 1, F.col("b") + F.lit(2)).otherwise(F.lit(0)).alias("c")

    build()  # the first wrapped call reads and caches the flag
    send = py4j.clientserver.ClientServerConnection.send_command
    calls = []

    def counting(self, command):
        calls.append(command)
        return send(self, command)

    with mock.patch.object(py4j.clientserver.ClientServerConnection, "send_command", counting):
        build()
    assert 0 < len(calls) <= 30, len(calls)
