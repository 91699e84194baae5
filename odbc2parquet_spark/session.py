"""SparkSession construction.

Local test/bench runs use ``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs
this process may run on); on a real cluster the same builder is used
without the master override (spark-submit supplies it). Every knob here is
chosen for the 100 TB target, then scaled down by env for local runs:

- AQE on (runtime coalescing, skew-join splitting) — at 1000 executors the
  static shuffle-partition guess is always wrong somewhere.
- shuffle partitions default to cores locally; a cluster run should set
  ``spark.sql.shuffle.partitions`` ~ 2-3x total cores (AQE coalesces down).
- Arrow enabled: every pandas_udf / toPandas boundary is Arrow-batched.
- session timezone pinned UTC so timestamp semantics are deterministic and
  match the reference's instant-normalization behavior
  (reference src/query/timestamp_tz.rs:92-108 normalizes to UTC).
- JVM logging goes to stderr only: stdout may carry the parquet file of
  ``query … -`` or the JSON of ``list-drivers``.

Driver start-up from a class-data-sharing archive
-------------------------------------------------
Starting the driver JVM and loading Spark's classes costs seconds in every
process. ``get_spark`` starts it with a JDK dynamic class-data-sharing
(CDS) archive, a file of pre-parsed classes the JVM maps instead of
loading them from jars. Archives live in
``${XDG_CACHE_HOME:-~/.cache}/odbc2parquet_spark/``, named by a key that
hashes everything the JVM checks against an archive: the JDK build, the
driver classpath (jar names, sizes and mtimes, the conf directory), the
driver's JVM options and its memory (which decides compressed oops).

- An archive published for the key: the JVM maps it
  (``-XX:SharedArchiveFile -Xshare:auto``); one it cannot use only costs
  the normal class loading.
- None: the JVM writes one when it exits (``-XX:ArchiveClassesAtExit``) to
  a name of this process. An ``atexit`` hook closes the JVM's stdin (its
  signal to exit), waits, and publishes the file by an atomic rename only
  if the JVM exited 0. The published name records the byte size; a file
  whose size differs is deleted, never mapped (a truncated archive
  crashes the JVM).
- Skipped: the JVM cannot archive with a non-empty directory on its
  classpath. A conf directory that holds only ``*.template`` files is
  swapped for an empty one for the launch; one with a real file
  (``spark-defaults.conf``, ``spark-env.sh``…) is never hidden, so CDS is
  skipped. It is also skipped for a JDK older than 13, when other
  variables add to the classpath, when the cache is unusable, and when the
  JVM was started outside this process.

``CDS`` records the path the last launch took; ``-v`` prints it.

Python workers
--------------
``session_conf`` sets ``spark.python.daemon.module`` to
:mod:`odbc2parquet_spark.worker_daemon`, which forks Python workers like
``pyspark.daemon`` does. Every Python task calls
``importlib.invalidate_caches()``, and on Python 3.12 and older that makes
each cached zip importer re-read its archive's directory: ~0.27 s a task
on a 4-core local[4] session, spent re-reading ``pyspark.zip`` and the
spark-core jar. The package daemon re-reads an archive only when its
inode, size or mtime changed. It is set only for a local master, and only
when a worker can import the package (from the working directory,
``$PYTHONPATH`` or a site directory): a worker's path is not this
process's ``sys.path``, and a cluster's executors share neither. The
daemon conf is no JVM option, so the archive key does not move.

Building queries
----------------
PySpark wraps every ``Column`` method and every ``pyspark.sql.functions``
call so that a runtime error can name the Python line that built the
failing expression. Each wrapped call then costs about four py4j round
trips (the JVM origin class, a conf read, a set and a clear) and a walk
of the Python stack. ``session_conf`` turns that off with
``spark.python.sql.dataFrameDebugging.enabled=false``. Building each of
the 319 registry queries once at sf0.001 on a 4-core local[4] session
took 414,501 round trips and 76.3 s with the capture, 235,991 and 61.2 s
without (one session, the flag toggled per query; faster without for
301 queries). PySpark reads the flag once, at the first wrapped call, so
it belongs to the session build, not to a runtime ``spark.conf.set``.
The cost: an error raised from a DataFrame-API expression no longer
carries its Python file and line. An error in SQL text still points into
that text. It is no JVM option, so the archive key does not move.
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import hashlib
import os
import re
import shutil
import site
import subprocess
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.sql import SparkSession

#: published archives kept across all keys, newest first (one is ~140 MB)
CDS_KEEP = 2
#: how long the exit hook waits for a dumping JVM (measured 14-18 s)
CDS_DUMP_TIMEOUT_S = 120
#: environment variables that put more entries on the driver classpath
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH", "SPARK_PREPEND_CLASSES")


@dataclass(frozen=True)
class Cds:
    """The class-data-sharing path of a driver JVM launch."""

    state: str  # "used", "dumping" or "skipped"
    detail: str  # the archive (or partial dump) path, or why it was skipped
    options: str = ""  # appended to spark.driver.extraJavaOptions
    conf_dir: str | None = None  # SPARK_CONF_DIR for the launch

    def __str__(self) -> str:
        return f"{self.state} ({self.detail})"


#: what the driver JVM of this process was started with; None before then
CDS: Cds | None = None


#: the Python worker daemon (see "Python workers" above)
WORKER_DAEMON = "odbc2parquet_spark.worker_daemon"


def workers_import_package(env=os.environ) -> bool:
    """Whether a Python worker started from this process can import the
    package: workers run in its working directory with ``$PYTHONPATH``
    and the site directories on their path."""
    root = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))
    paths = [os.getcwd(), *env.get("PYTHONPATH", "").split(os.pathsep)]
    paths += [*site.getsitepackages(), site.getusersitepackages()]
    return any(p and os.path.realpath(p) == root for p in paths)


def local_cpus(env=os.environ) -> str:
    """$SPARK_GRAFT_CPUS, else the CPUs this process may run on."""
    return env.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def _jvm_options() -> str:
    """Driver/executor JVM flags (same reasoning both sides; a real
    cluster puts these on spark.executor.extraJavaOptions via submit)."""
    return (
        "-XX:+UnlockExperimentalVMOptions -XX:G1NewSizePercent=40"
        " -XX:G1MaxNewSizePercent=70"
        # the JVM's default log output is stdout
        " -Xlog:disable -Xlog:all=warning:stderr"
    )


def cds_cache_dir(env=os.environ) -> str:
    base = env.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "odbc2parquet_spark")


def real_conf_files(conf_dir: str) -> list[str]:
    """Entries of a Spark conf directory that are not ``*.template``."""
    try:
        return sorted(n for n in os.listdir(conf_dir) if not n.endswith(".template"))
    except FileNotFoundError:
        return []


def cds_key(java_home: str, spark_home: str, conf_dir: str, driver_options: str, driver_memory: str) -> str:
    """Hash of what the JVM checks an archive against; OSError when the
    JDK files are missing."""
    h = hashlib.sha256(b"cds-key 1\n")

    def add(*parts) -> None:
        h.update("\0".join(map(str, parts)).encode() + b"\n")

    with open(os.path.join(java_home, "release"), "rb") as f:
        h.update(f.read())
    st = os.stat(os.path.join(java_home, "lib", "server", "libjvm.so"))
    add("libjvm", st.st_size, st.st_mtime_ns)
    for jar in sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar"))):
        st = os.stat(jar)
        add(jar, st.st_size, st.st_mtime_ns)
    add("conf", conf_dir)
    add("options", driver_options)
    add("memory", driver_memory)
    return h.hexdigest()[:20]


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def prune_cds_cache(cache: str) -> dict[str, str]:
    """Delete partial dumps (``<key>.<pid>.part``) of dead processes,
    archives (``<key>.<size>.jsa``) whose size differs from their name,
    all but the newest archive of each key and all but the newest
    ``CDS_KEEP``. Returns key -> kept archive."""
    archives = []
    for name in os.listdir(cache):
        path = os.path.join(cache, name)
        key, _, rest = name.partition(".")
        number, _, suffix = rest.partition(".")
        with contextlib.suppress(OSError):
            if suffix == "part" and number.isdigit() and not _pid_alive(int(number)):
                os.remove(path)
            elif suffix == "jsa":
                st = os.stat(path)
                if number.isdigit() and st.st_size == int(number):
                    archives.append((st.st_mtime_ns, key, path))
                else:
                    os.remove(path)
    kept: dict[str, str] = {}
    for _, key, path in sorted(archives, reverse=True):
        if key in kept or len(kept) >= CDS_KEEP:
            with contextlib.suppress(OSError):
                os.remove(path)
        else:
            kept[key] = path
    return kept


def publish_cds(part: str, returncode: int | None) -> str | None:
    """Publish a partial dump as ``<key>.<size>.jsa`` when its JVM exited
    0, else delete it. Returns the published path."""
    with contextlib.suppress(OSError):
        size = os.path.getsize(part)
        if returncode == 0 and size:
            cache, name = os.path.split(part)
            final = os.path.join(cache, f"{name.partition('.')[0]}.{size}.jsa")
            os.replace(part, final)
            prune_cds_cache(cache)
            return final
        os.remove(part)
    return None


def _java_home(env) -> str:
    if env.get("JAVA_HOME"):
        return env["JAVA_HOME"]
    java = shutil.which("java")
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else ""


def cds_plan(conf: dict[str, str], env=os.environ) -> Cds:
    """How to start the driver JVM for ``conf``; changes only the cache."""
    from pyspark.find_spark_home import _find_spark_home

    if "PYSPARK_GATEWAY_PORT" in env:
        return Cds("skipped", "the driver JVM was started outside this process")
    for var in _CLASSPATH_ENV:
        if env.get(var):
            return Cds("skipped", f"${var} adds to the driver classpath")
    java_home = _java_home(env)
    try:
        with open(os.path.join(java_home, "release")) as f:
            version = re.search(r'^JAVA_VERSION="(?:1\.)?(\d+)', f.read(), re.M)
    except OSError:
        version = None
    if not version or int(version.group(1)) < 13:
        return Cds("skipped", f"no JDK 13+ with dynamic archives at {java_home!r}")
    spark_home = env.get("SPARK_HOME") or _find_spark_home()
    conf_dir = env.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    real = real_conf_files(conf_dir)
    if real:
        return Cds("skipped", f"{conf_dir} holds {', '.join(real)} and stays on the driver classpath")
    cache = cds_cache_dir(env)
    if any(c.isspace() for c in cache):
        return Cds("skipped", f"the cache path {cache!r} has whitespace")
    empty_conf = os.path.join(cache, "empty-conf")
    try:
        os.makedirs(empty_conf, exist_ok=True)
        if os.listdir(empty_conf):
            return Cds("skipped", f"{empty_conf} is not empty")
        key = cds_key(
            java_home, spark_home, empty_conf,
            conf.get("spark.driver.extraJavaOptions", ""), conf.get("spark.driver.memory", ""),
        )
        archive = prune_cds_cache(cache).get(key)
        if archive:
            os.utime(archive)  # newest = last used
            return Cds("used", archive, f"-XX:SharedArchiveFile={archive} -Xshare:auto", empty_conf)
    except OSError as e:
        return Cds("skipped", f"the cache {cache} is unusable: {e}")
    part = os.path.join(cache, f"{key}.{os.getpid()}.part")
    # the dump logs a warning for each class it leaves out (~650 lines)
    return Cds("dumping", part, f"-XX:ArchiveClassesAtExit={part} -Xlog:cds=error:stderr", empty_conf)


def _publish_at_exit(proc, part: str) -> None:
    """Stop the session, let the gateway JVM exit (it does on EOF on
    stdin), then publish the archive it wrote."""
    sc = SparkContext._active_spark_context
    if sc is not None:
        # first, or pyspark's accumulator server reports the JVM's exit
        with contextlib.suppress(Exception):
            sc.stop()
    with contextlib.suppress(OSError):
        proc.stdin.close()
    try:
        rc = proc.wait(timeout=CDS_DUMP_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = None
    publish_cds(part, rc)


@contextlib.contextmanager
def _launch_env(name: str, value: str | None):
    """``os.environ[name] = value`` while the gateway JVM is launched."""
    old = os.environ.get(name)
    if value is not None:
        os.environ[name] = value
    try:
        yield
    finally:
        if value is not None:
            if old is None:
                os.environ.pop(name)
            else:
                os.environ[name] = old


def session_conf(master: str | None = None, env=os.environ) -> tuple[str, dict[str, str]]:
    """(master, Spark conf) of a session; ``master=None`` -> local[cpus]."""
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.compression.codec": "zstd",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Broadcast decisions: the STATIC threshold stays at the stock
        # 10 MB because static sizeInBytes estimates are only trustworthy
        # in the file-backed regime (scan size x column pruning) — after
        # an explode/aggregate/window chain they stay scan-sized while the
        # true relation grows with the corpus. At amplified sf31 the
        # 64 MB static threshold used through round 10 broadcast the
        # corpus-sized distinct-shingle and candidate-pair tables inside
        # minhash_near_duplicates (estimated <64 MB, actual >1 GiB: the
        # materialization died on spark.driver.maxResultSize). The
        # aggressive 64 MB threshold moves to the ADAPTIVE knob, which
        # decides from MEASURED shuffle sizes at runtime: genuinely small
        # sides (dims, per-doc count tables) still become broadcasts, a
        # data-sized intermediate never can. Bench-scale (sf0.1) plans are
        # unchanged — every side there is both estimated and actually tiny.
        "spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024),
        "spark.sql.adaptive.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # G1 young generation sized for 32 allocation-heavy tasks in one
        # JVM: the decimal-exact aggregation contract allocates per row
        # (sum buffers above precision 18 leave the unsafe fixed-width
        # path), and G1's default adaptive young gen collapses per-thread
        # throughput ~20x under that pressure (measured at amplified sf10,
        # one decimal(18,6) sum over 60M rows: 18.8s default G1, 5.5s
        # ParallelGC, 3.4s G1 with a 40-70% young gen — which also keeps
        # G1's better behavior on the scan/write-heavy queries where
        # ParallelGC cost 15-25%). Same flags belong on
        # spark.executor.extraJavaOptions on a real cluster.
        "spark.driver.extraJavaOptions": _jvm_options(),
        "spark.executor.extraJavaOptions": _jvm_options(),
        # default 100 thrashes on multi-query sessions (the bench's ~70
        # workloads evict every compiled stage between repetitions; the
        # big composed plans then pay multi-second recompiles per run —
        # measured 11s vs 4.5s warm for prepare_corpus). Memory cost is
        # bounded: cached entries are generated classes, not data.
        "spark.sql.codegen.cache.maxEntries": "2000",
        # see "Building queries" above
        "spark.python.sql.dataFrameDebugging.enabled": "false",
    }
    cpus = local_cpus(env)
    if master is None:
        master = f"local[{cpus}]"
    if master.startswith("local"):
        conf["spark.sql.shuffle.partitions"] = cpus
        conf["spark.driver.memory"] = env.get("SPARK_GRAFT_DRIVER_MEM", "48g")
        # local workers share the driver's working directory and path
        if workers_import_package(env):
            conf["spark.python.daemon.module"] = WORKER_DAEMON
    return master, conf


def get_spark(app_name: str = "odbc2parquet_spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) the session. ``master=None`` -> local[$SPARK_GRAFT_CPUS]."""
    global CDS
    master, conf = session_conf(master)
    builder = SparkSession.builder.appName(app_name)
    if master.startswith("local"):
        builder = builder.master(master)
    # one driver JVM per process: only its first session launches it
    plan = cds_plan(conf) if SparkContext._gateway is None else None
    if plan is not None and plan.options:
        conf["spark.driver.extraJavaOptions"] += " " + plan.options
    for k, v in conf.items():
        builder = builder.config(k, v)
    with _launch_env("SPARK_CONF_DIR", plan and plan.conf_dir):
        spark = builder.getOrCreate()
    if plan is not None:
        CDS = plan
        proc = getattr(SparkContext._gateway, "proc", None)
        if plan.state == "dumping" and proc is not None:
            atexit.register(_publish_at_exit, proc, plan.detail)
    return spark
