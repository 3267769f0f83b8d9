"""SparkSession factory.

Local mode is a single JVM with N executor threads; on a real cluster the
same settings hold except memory sizing moves to executor configs.  All
knobs here are chosen for the 100 TB design point and merely *also* work
at test scale:

- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast).
- ``spark.sql.shuffle.partitions`` ~ cores locally; on a cluster AQE's
  coalescing makes the initial number mostly a ceiling.
- Session timezone pinned to UTC so timestamp semantics are deterministic
  and match the DuckDB oracle (naive-UTC).
- Arrow enabled for any pandas interchange (Pandas UDFs, toPandas).
- Driver heap sized to the machine: half of physical RAM, capped at 24g
  (:func:`default_driver_memory`); ``$SPARK_DRIVER_MEMORY`` overrides.
- Parallelism sized to the CPUs this process may run on, not to the
  host (:func:`default_cpus`); ``$SPARK_GRAFT_CPUS`` overrides.
- The driver JVM starts from a class-data-sharing archive (JEP 350) of
  the Spark/Scala classes it loads (:func:`_archive_plan`).  A one-shot
  batch job pays the JVM start on every run, and parsing and verifying
  those classes from the jars is most of it: the archive roughly halves
  the session start.  It holds class metadata only, so results cannot
  change.  It lives in ``$XDG_CACHE_HOME/processo_etl_spark/`` (default
  ``~/.cache``), keyed on the JDK and the Spark jar list, and pays off
  only where that cache persists between runs: the dump costs its run
  ~3 s of start and ~10 s of JVM exit.  So the first run on a cache
  only marks it, a later run (once the first has ended) dumps the
  archive at JVM exit, and the runs after it map it.  The archive is
  trusted like code, so it is used only from a directory and file that
  this uid owns and nobody else can write.  It is off, and the launch is
  exactly Spark's own, when ``$SPARK_CONF_DIR`` holds a real file (the
  JDK refuses a non-empty directory on an archived classpath), when the
  JVM is already up, or when the caller's java options name the archive
  or ``-Xshare`` themselves.  :data:`CDS_STATE` says what the running
  driver JVM got.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import stat
import subprocess
from typing import NamedTuple

from pyspark import SparkContext, StorageLevel
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import DataFrame, SparkSession


DRIVER_MEMORY_CAP_MB = 24 * 1024

# The class-data-sharing state of the running driver JVM: "hit" (started
# from the archive), "dump" (writes the archive when it exits) or "off".
CDS_STATE = "off"
# Java options that mean the caller manages class-data sharing.
_CDS_FLAGS = ("SharedArchiveFile", "ArchiveClassesAtExit", "-Xshare")
# Launcher classpath sources besides the conf dir and the jars: any of
# them may add a directory, on which the JDK refuses to dump.
_CLASSPATH_ENV = ("SPARK_CLASSPATH", "SPARK_DIST_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR")
_CALLER_OWNED_CONF = (
    "spark.driver.defaultJavaOptions",
    "spark.driver.extraClassPath",
    "spark.driver.defaultExtraClassPath",
)


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` default: ``$SPARK_DRIVER_MEMORY`` if set,
    else half of ``MemTotal`` (the driver JVM shares the machine with its
    Python workers and the OS page cache), capped at
    ``DRIVER_MEMORY_CAP_MB``; the cap alone where ``meminfo`` is
    unreadable."""
    override = os.environ.get("SPARK_DRIVER_MEMORY")
    if override:
        return override
    try:
        with open(meminfo) as f:
            total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return f"{DRIVER_MEMORY_CAP_MB}m"
    return f"{min(total_kb // 2048, DRIVER_MEMORY_CAP_MB)}m"


def default_cpus() -> int:
    """Local parallelism default: ``$SPARK_GRAFT_CPUS`` if set, else the
    CPUs this process may run on (its affinity mask, which ``taskset`` or
    a cgroup cpuset narrows; ``os.cpu_count`` is the whole host)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", 0)) or len(os.sched_getaffinity(0))


def _private(path: str, is_kind) -> bool:
    """``path`` is of the given kind (no symlink), owned by this uid and
    writable by nobody else."""
    try:
        st = os.lstat(path)
    except OSError:
        return False
    return is_kind(st.st_mode) and st.st_uid == os.getuid() and not st.st_mode & 0o022


def _identity(pid: int) -> str | None:
    """``<pid>-<start time>`` of a running process (the start time is
    field 22 of ``/proc/<pid>/stat``), None when there is none: a pid
    alone may name a later process that reused it."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f"{pid}-{f.read().rpartition(')')[2].split()[19]}"
    except (OSError, IndexError):
        return None


def _alive(identity: str) -> bool:
    """The process ``identity`` names still runs.  This process never
    counts: it plans a launch only while it has no JVM."""
    pid = identity.partition("-")[0]
    return pid.isdigit() and int(pid) != os.getpid() and _identity(int(pid)) == identity


def _java_home() -> str | None:
    """The JDK Spark's launcher runs: ``$JAVA_HOME``, else ``java`` on
    ``PATH``."""
    if os.environ.get("JAVA_HOME"):
        return os.environ["JAVA_HOME"]
    java = shutil.which("java")
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else None


def _archive_key(java_home: str, spark_home: str) -> str | None:
    """Hash of what an archive depends on: the JDK build (its ``release``
    file, ``libjvm.so`` and the base archive ``classes.jsa`` that a
    dynamic archive extends; the JVM skips the dynamic one silently once
    the base is regenerated) and the Spark jars (name, size, mtime).
    Pure file reads, so a hit spawns no process."""
    h = hashlib.sha256()
    try:
        with open(os.path.join(java_home, "release"), "rb") as f:
            h.update(f.read())
        for lib in ("libjvm.so", "classes.jsa"):
            st = os.stat(os.path.join(java_home, "lib", "server", lib))
            h.update(f"{lib} {st.st_size} {st.st_mtime_ns}\n".encode())
        with os.scandir(os.path.join(spark_home, "jars")) as it:
            jars = sorted((e.name, e.stat()) for e in it)
    except OSError:
        return None
    for name, st in jars:
        h.update(f"{name} {st.st_size} {st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _conf_dir_unused(spark_home: str) -> bool:
    """Spark's conf dir holds nothing Spark reads: it is missing, or holds
    only ``*.template`` files."""
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        names = os.listdir(conf)
    except FileNotFoundError:
        return True
    except OSError:
        return False
    return all(n.endswith(".template") for n in names)


def _archive_valid(java_home: str, archive: str, classpath: str) -> bool:
    """``java -Xshare:on`` maps ``archive`` or exits 1: a truncated,
    corrupt or mismatched archive fails here, never in a session."""
    try:
        return subprocess.run(
            [os.path.join(java_home, "bin", "java"), "-Xshare:on",
             f"-XX:SharedArchiveFile={archive}", "-cp", classpath, "-version"],
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=120,
        ).returncode == 0
    except (OSError, subprocess.SubprocessError):
        return False


def _remove(*paths: str) -> None:
    for p in paths:
        with contextlib.suppress(OSError):
            os.remove(p)


def _dump_record(path: str) -> tuple[str, str] | None:
    """``(JVM identity, classpath)`` from a dump record; None while the
    JVM is still starting (the record is empty) or when it is
    unreadable."""
    try:
        with open(path) as f:
            jvm, _, classpath = f.read().partition("\n")
    except OSError:
        return None
    return (jvm, classpath) if jvm else None


def _outlived_a_run(cache: str, me: str) -> bool:
    """The cache's ``seen`` file names a process that has ended: the
    cache persists from one run to the next, so an archive dumped now is
    there for later runs.  Otherwise ``seen`` names this process (if it
    names none yet) and the answer is no: a cache that starts empty on
    every run would pay a dump on every run and never map an archive."""
    path = os.path.join(cache, "seen")
    try:
        with open(path) as f:
            writer = f.read()
    except FileNotFoundError:
        writer = ""
    if not writer:
        with open(path, "w") as f:
            f.write(me)
        return False
    return writer != me and not _alive(writer)


class ArchivePlan(NamedTuple):
    state: str  # "hit", "dump" or "off"
    java_options: str | None = None
    conf_dir: str | None = None
    dump_record: str | None = None  # dump: get_spark writes the JVM's pid and classpath here


def _archive_plan(extra_conf: dict[str, str]) -> ArchivePlan:
    """How the next driver JVM uses the class-data-sharing archive.

    The cache holds ``<key>.jsa``, the archive a "hit" maps, and per dump
    a record ``<key>.<id>.dump`` (``id`` is the dumping Python process's
    :func:`_identity`) beside the JVM's output ``<key>.<id>.tmp``, which
    it writes when it exits.  The record exists from before the launch,
    so a dump in flight is visible; once the JVM is up it names the JVM's
    identity and classpath.  When neither process is alive, the tmp is
    promoted with ``os.replace`` if :func:`_archive_valid` accepts it
    under that classpath, and deleted otherwise; while one is alive, the
    plan is "off".  Archives of other keys are deleted.  With no archive,
    the plan dumps only once :func:`_outlived_a_run` shows that the cache
    persists, and is "off" before.  The conf dir is an empty one in the
    cache, standing in for Spark's template-only conf dir so that the
    classpath holds only jars."""
    off = ArchivePlan("off")
    if (
        any(f in extra_conf.get("spark.driver.extraJavaOptions", "") for f in _CDS_FLAGS)
        # The caller's value would replace the engine's, or put a
        # possibly non-empty directory on the classpath.
        or any(k in extra_conf for k in _CALLER_OWNED_CONF)
        or any(os.environ.get(v) for v in _CLASSPATH_ENV)
        or "PYSPARK_GATEWAY_PORT" in os.environ  # the JVM is started elsewhere
    ):
        return off
    java_home, spark_home = _java_home(), _find_spark_home()
    key = java_home and _archive_key(java_home, spark_home)
    me = _identity(os.getpid())
    if not key or not me or not _conf_dir_unused(spark_home):
        return off
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    cache = os.path.join(base, "processo_etl_spark")
    conf = os.path.join(cache, "conf")
    try:
        for d in (cache, conf):
            os.makedirs(d, mode=0o700, exist_ok=True)
            if not _private(d, stat.S_ISDIR):
                return off
        if os.listdir(conf):
            return off
        names = os.listdir(cache)
    except OSError:
        return off
    archive = os.path.join(cache, f"{key}.jsa")
    dumping = False
    for name in names:
        stem, _, ext = name.rpartition(".")
        owner, _, dumper = stem.partition(".")
        path = os.path.join(cache, name)
        if ext == "jsa" and owner != key:
            _remove(path)  # built for another JDK or jar set
        elif ext == "tmp" and f"{stem}.dump" not in names:
            _remove(path)  # output whose record is gone
        elif ext == "dump":
            record = _dump_record(path)
            if _alive(dumper) or (record and _alive(record[0])):
                dumping = dumping or owner == key
                continue
            tmp = os.path.join(cache, f"{stem}.tmp")
            if (
                owner == key
                and record
                and not os.path.exists(archive)
                and _private(path, stat.S_ISREG)
                and _private(tmp, stat.S_ISREG)
                and _archive_valid(java_home, tmp, record[1])
            ):
                with contextlib.suppress(OSError):  # a concurrent plan promoted it first
                    os.replace(tmp, archive)
            _remove(tmp, path)
    # JVM warnings go to stdout; a dump alone logs thousands of lines.
    quiet = "-Xlog:cds*=off"
    if os.path.exists(archive):
        if not _private(archive, stat.S_ISREG):
            return off
        return ArchivePlan("hit", f"-XX:SharedArchiveFile={archive} {quiet}", conf)
    stem = os.path.join(cache, f"{key}.{me}")
    try:
        if dumping or not _outlived_a_run(cache, me):
            return off
        os.close(os.open(stem + ".dump", os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o600))
    except OSError:
        return off
    return ArchivePlan("dump", f"-XX:ArchiveClassesAtExit={stem}.tmp {quiet}", conf, stem + ".dump")


def get_spark(
    app_name: str = "processo_etl_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cpus`` defaults to :func:`default_cpus`.  On a real cluster, drop
    the ``master`` call and submit with ``spark-submit``; everything else
    is identical.
    """
    global CDS_STATE
    cpus = cpus or default_cpus()
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Whole-stage-codegen COMPILE cache: the default 100
        # entries thrash on any long-lived session running this
        # engine's registry (37 headline / 296 registered queries hold
        # far more distinct codegen units), so every re-run recompiled
        # its evicted stages on the driver — measured 6.7 s → 4.4 s on
        # the in-suite pagerank steady pass alone (REST: zero GC delta,
        # task time ≈ wall, pure per-stage compile serialization).
        # 2000 entries ≈ a few tens of MB of compiled classes; sized to
        # the registry, not to this machine.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    extra_conf = extra_conf or {}
    # A running gateway JVM keeps the options it was started with.
    plan = _archive_plan(extra_conf) if SparkContext._gateway is None else ArchivePlan(CDS_STATE)
    if plan.java_options:
        # Spark appends the caller's extraJavaOptions after these, so a
        # caller's own flag still wins.
        builder = builder.config("spark.driver.defaultJavaOptions", plan.java_options)
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    saved = os.environ.get("SPARK_CONF_DIR")
    if plan.conf_dir:
        # The gateway launch copies os.environ; the caller's is restored
        # as soon as the JVM is up.
        os.environ["SPARK_CONF_DIR"] = plan.conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        if plan.conf_dir:
            if saved is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = saved
    sc = spark.sparkContext
    CDS_STATE = plan.state
    if plan.dump_record:
        with open(plan.dump_record, "w") as f:
            jvm = _identity(sc._gateway.proc.pid) or ""
            f.write(f"{jvm}\n{sc._jvm.java.lang.System.getProperty('java.class.path')}")
    sc.setLogLevel("WARN")
    return spark


def persist_once(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER
) -> DataFrame:
    """``df.persist(level)`` unless the session's cache manager already
    holds ``df``'s plan (a re-run of the same query, or a sibling query
    sharing the relation), where Spark keeps the first entry anyway and
    only logs "Asked to cache already cached data".  Chains with
    ``df.transform(persist_once)``; ``unpersist`` frees the shared entry
    either way."""
    if df.storageLevel == StorageLevel.NONE:
        df.persist(level)
    return df
