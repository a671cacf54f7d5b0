"""SparkSession builder.

Local testing runs a single JVM (``local[N]``); the configuration is
nevertheless the one we would ship to a 1000-executor cluster reading
100 TB:

- AQE on (runtime coalescing of shuffle partitions, skew-join splitting
  for hub keys -- the trade graph's China/US analogs).
- ``spark.sql.shuffle.partitions`` sized to the core count locally; on a
  real cluster this is a starting point that AQE re-plans per stage.
- Arrow enabled so the Pandas-UDF path (multimodal decode, grouped ops)
  transfers columnar batches, not pickled rows.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (and any other engine) bit-for-bit.
- The driver JVM starts from an application class-data archive (JDK
  AppCDS) when the classpath allows it: it maps the ~13k classes an
  earlier JVM loaded instead of loading, parsing and verifying them
  again, which halves session start.  The first JVM writes the archive
  at exit (:func:`class_archive` says which one a session mapped).

Operators never change a session conf for good: a loop that needs
different physical settings runs inside :func:`scoped_conf`, which puts
the caller's values back when the loop exits, by return or by raise.

A query owns what its build made: each build runs in a scope
(:func:`scoped_build`) of the checkpoints, broadcasts and spill dirs it
made, released when the build raises, when a later registry entry finds
its result unreferenced, or by :func:`clear_scratch`.
"""

from __future__ import annotations

import functools
import gc
import hashlib
import os
import shutil
import subprocess
import tempfile
import uuid
import weakref
from collections.abc import Iterator, Mapping
from contextlib import contextmanager, suppress
from contextvars import ContextVar
from dataclasses import dataclass, field

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession


def local_cpus() -> int:
    """Cores of the local master: ``SPARK_GRAFT_CPUS``, else the host's
    core count."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


@contextmanager
def scoped_conf(spark: SparkSession,
                confs: Mapping[str, str]) -> Iterator[None]:
    """Set session ``confs`` for the body of a ``with`` block and put
    the values read on entry back on exit, including when the body
    raises.  Nested scopes unwind in order, so the outermost scope
    restores what the caller had.

    Spark plans a DataFrame when an action or a checkpoint runs, not
    when it is built, so a loop that wants its settings applied to a
    lazy result must checkpoint that result (``eager=False`` costs no
    job) before the scope closes."""
    prior = {key: spark.conf.get(key) for key in confs}
    for key, value in confs.items():
        spark.conf.set(key, value)
    try:
        yield
    finally:
        for key, value in prior.items():
            spark.conf.set(key, value)


def _default_driver_memory() -> str:
    """Half the host's physical memory, capped at 48g: the JVM heap
    grows with GC timing, and a heap allowed past physical memory gets
    the process OOM-killed instead of collected (``SPARK_DRIVER_MEM``
    overrides)."""
    mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(48 * 1024, mb)}m"


#: Application class-data archives of the driver JVM, in the checkout
#: beside the package: ``<key>.jsa`` per JDK and Spark jar set, the
#: ``<key>.<id>.part`` a JVM writes at exit with that JVM's pid in
#: ``<key>.<id>.part.pid``, and ``conf/``, an empty stand-in for a
#: Spark conf dir that holds only templates.
_CDS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".cds")

#: Variables the Spark launcher adds to the driver's classpath.  The
#: JVM will not archive classes from a classpath that lists a non-empty
#: directory, so any of them turns the archive off.
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
                  "SPARK_PREPEND_CLASSES", "SPARK_TESTING")

#: The JVM that writes an archive warns on stdout, where tools print
#: their results, about each class it skips (~600 lines at exit: signed
#: jars, JFR events, pre-JDK-6 generated accessors); keep only errors,
#: on stderr.
_CDS_LOG = ("-Xlog:cds*=off", "-Xlog:cds*=error:stderr")


def _java_home() -> str | None:
    """The JDK the Spark launcher runs: ``JAVA_HOME``, else the one of
    the ``java`` on ``PATH``."""
    if os.environ.get("JAVA_HOME"):
        return os.environ["JAVA_HOME"]
    java = shutil.which("java")
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) \
        if java else None


def _archive_key(java_home: str, spark_home: str) -> str:
    """A hash of the JDK's ``release`` file and the name, size and mtime
    of every Spark jar.  The heap size is left out: an archive written
    by a 2g-heap JVM maps into an 8g-heap one."""
    h = hashlib.sha256()
    with open(os.path.join(java_home, "release"), "rb") as f:
        h.update(f.read())
    for entry in sorted(os.scandir(os.path.join(spark_home, "jars")),
                        key=lambda e: e.name):
        st = entry.stat()
        h.update(f"{entry.name} {st.st_size} {st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _starts_from(archive: str) -> bool:
    """Whether ``java -version`` started from ``archive`` exits 0.  A
    truncated archive kills the JVM that maps it (SIGBUS); one that
    does not fit is ignored, which the caller finds out after start."""
    java = os.path.join(_java_home(), "bin", "java")
    try:
        return subprocess.run(
            [java, f"-XX:SharedArchiveFile={archive}",
             "-XX:-CreateCoredumpOnCrash", "-XX:ErrorFile=/dev/null",
             "-version"], stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL, timeout=60).returncode == 0
    except subprocess.TimeoutExpired:
        return False


def _writing(pidfile: str, part: str) -> bool:
    """Whether the JVM recorded in ``pidfile`` still runs (and may still
    be writing ``part``); the command line tells a reused pid apart."""
    try:
        with open(pidfile) as f:
            pid = int(f.read())
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return part.encode() in f.read()
    except (OSError, ValueError):
        return False


def _settle_parts() -> None:
    """Publish the archives of JVMs that have exited, or delete them.

    A ``.part`` becomes ``<key>.jsa`` only through ``os.replace``, only
    after the JVM recorded beside it has exited, and only when a child
    JVM starts from it; every other leftover is deleted."""
    parts = {n.removesuffix(".pid") for n in os.listdir(_CDS_DIR)
             if n.endswith((".part", ".part.pid"))}
    for name in parts:
        part = os.path.join(_CDS_DIR, name)
        pidfile = part + ".pid"
        if _writing(pidfile, part):
            continue
        archive = os.path.join(_CDS_DIR, name.split(".", 1)[0] + ".jsa")
        if (os.path.exists(part) and os.path.exists(pidfile)
                and not os.path.exists(archive) and _starts_from(part)):
            with suppress(FileNotFoundError):
                os.replace(part, archive)
        for path in (part, pidfile):
            with suppress(FileNotFoundError):
                os.remove(path)


def _archive_plan() -> tuple[list[str], dict[str, str]]:
    """JVM flags and launch environment for a new driver JVM: map the
    archive when a complete one exists, else write one at exit.
    ``([], {})`` when the classpath rules the archive out.

    The launcher puts the Spark conf dir on the classpath.  A caller's
    ``SPARK_CONF_DIR`` is never replaced: it must be empty.  Unset, it
    points at the empty ``conf/`` here when ``$SPARK_HOME/conf`` holds
    only ``*.template`` files, which Spark never reads."""
    java_home, spark_home = _java_home(), _find_spark_home()
    if java_home is None or any(os.environ.get(v) for v in _CLASSPATH_ENV):
        return [], {}
    conf = os.path.join(_CDS_DIR, "conf")
    try:
        key = _archive_key(java_home, spark_home)
        if os.environ.get("SPARK_CONF_DIR"):
            if os.listdir(os.environ["SPARK_CONF_DIR"]):
                return [], {}
            env = {}
        elif all(n.endswith(".template")
                 for n in os.listdir(os.path.join(spark_home, "conf"))):
            env = {"SPARK_CONF_DIR": conf}
        else:
            return [], {}
        os.makedirs(conf, exist_ok=True)
        _settle_parts()
    except OSError:
        return [], {}
    archive = os.path.join(_CDS_DIR, f"{key}.jsa")
    if os.path.exists(archive):
        flag = f"-XX:SharedArchiveFile={archive}"
    else:
        part = os.path.join(_CDS_DIR, f"{key}.{uuid.uuid4().hex}.part")
        flag = f"-XX:ArchiveClassesAtExit={part}"
    return [flag, *_CDS_LOG], env


@contextmanager
def _environ(env: Mapping[str, str]) -> Iterator[None]:
    """``os.environ`` updated with ``env`` for the body, then restored."""
    prior = {key: os.environ.get(key) for key in env}
    os.environ.update(env)
    try:
        yield
    finally:
        for key, value in prior.items():
            if value is None:
                del os.environ[key]
            else:
                os.environ[key] = value


def _jvm_pid(spark: SparkSession) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def class_archive(spark: SparkSession) -> str | None:
    """The application class-data archive the driver JVM has mapped,
    read from ``/proc/<pid>/maps``, or None when the JVM loaded its
    classes from the jars."""
    cds = os.path.realpath(_CDS_DIR) + os.sep
    with open(f"/proc/{_jvm_pid(spark)}/maps") as f:
        for line in f:
            fields = line.split(maxsplit=5)
            if len(fields) == 6:
                path = fields[5].rstrip("\n")
                if path.startswith(cds) and path.endswith(".jsa"):
                    return path
    return None


def _after_start(spark: SparkSession, flags: list[str]) -> None:
    """Record the pid of a JVM that writes an archive at exit, and delete
    an archive the JVM did not map (garbage, or one written for another
    classpath) so that the next start writes a good one."""
    if not flags:
        return
    option, _, path = flags[0].partition("=")
    if option == "-XX:ArchiveClassesAtExit":
        with open(path + ".pid", "w") as f:
            f.write(str(_jvm_pid(spark)))
    elif class_archive(spark) is None:
        with suppress(FileNotFoundError):
            os.remove(path)


def get_spark(app_name: str = "graphdb_cia_factbook_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = local_cpus()
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    # the archive flags only reach a JVM this call launches
    launches = (SparkContext._gateway is None
                and "PYSPARK_GATEWAY_PORT" not in os.environ)
    flags, env = _archive_plan() if launches else ([], {})
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory())
        # whole-stage codegen emits a class per stage; a long session
        # (60+ queries) fills the default 240m JIT code cache, after
        # which HotSpot stops compiling and everything runs interpreted
        # (observed 10x+ slowdowns late in a session)
        .config("spark.driver.extraJavaOptions", " ".join(
            ["-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
             *flags]))
        # generated methods above HotSpot's 8000-bytecode HugeMethodLimit
        # are NEVER JIT-compiled; wide fused stages (12-column min-hash
        # aggregates) hit this and run interpreted with pathological
        # compile-queue stalls in long sessions -- fall back to the
        # Volcano path for such stages instead (observed 6-20x on the
        # MinHash pipeline late in a session)
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        # compiled whole-stage classes are cached by source text in an
        # LRU of 100 entries by default, below one warm pass of the
        # benchmark's scan_curation queries (about 160 distinct
        # classes; graph_loops 71), so the LRU evicted every class
        # before its next use and each pass recompiled them all with
        # Janino (~0.8s/pass).  2000 is well above one session's
        # working set.  A static conf: only a fresh session takes it.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.ui.enabled", "false")
    )
    with _environ(env):
        spark = builder.getOrCreate()
    _after_start(spark, flags)
    spark.sparkContext.setLogLevel("WARN")
    return spark


@dataclass(eq=False)
class _Scope:
    """What one build made, the application it ran in, and a weak
    reference to its result (None: what operators registered outside a
    build, which only :func:`clear_scratch` releases)."""
    app: str | None = None
    rdds: frozenset[int] = frozenset()
    broadcasts: list = field(default_factory=list)
    dirs: list[str] = field(default_factory=list)
    result: weakref.ref | None = None


#: The one registry of what the engine made: every unreleased scope.
_SCOPES: list[_Scope] = []
_BUILDING: ContextVar[_Scope | None] = ContextVar("_BUILDING", default=None)


def _owner() -> _Scope:
    """The running build's scope, else a new scope without a result."""
    scope = _BUILDING.get()
    if scope is None:
        scope = _Scope()
        _SCOPES.append(scope)
    return scope


def track_broadcast(bc):
    """Hand an operator-created broadcast to the running build's scope,
    which unpersists it on release.  Returns ``bc`` unchanged."""
    _owner().broadcasts.append(bc)
    return bc


def spill_dir(name: str) -> str:
    """A new path for parquet that an operator spills and its result
    reads lazily, below Spark's local dir (the first ``SPARK_LOCAL_DIRS``
    entry, else the temp dir); the running build's scope deletes it."""
    root = (os.environ.get("SPARK_LOCAL_DIRS", "").split(",")[0]
            or tempfile.gettempdir())
    path = os.path.join(root, f"{name}_{uuid.uuid4().hex[:12]}")
    _owner().dirs.append(path)
    return path


def _persistent_rdds(spark: SparkSession) -> set[int]:
    """Ids of the context's persistent RDDs, read in one py4j call."""
    keys = spark.sparkContext._jsc.getPersistentRDDs().keySet().toString()
    return {int(k) for k in keys.strip("[]").split(",") if k.strip()}


def _unpersist(spark: SparkSession, rdds, local_only: bool = False) -> int:
    """Unpersist (blocking) each of ``rdds`` still persistent, only the
    locally checkpointed ones with ``local_only``; returns how many."""
    jrdds = spark.sparkContext._jsc.getPersistentRDDs()
    dropped = 0
    for rid in rdds:
        jrdd = jrdds.get(rid)
        if jrdd is None or (local_only
                            and not jrdd.rdd().isLocallyCheckpointed()):
            continue
        jrdd.unpersist(True)
        dropped += 1
    return dropped


def _release(spark: SparkSession, scopes: list[_Scope]) -> int:
    """Forget ``scopes``, unpersist their RDDs and broadcasts and delete
    their spill dirs; a scope of another SparkContext unpersists nothing
    (RDD ids restart in a new context).  Returns the RDDs unpersisted."""
    app = spark.sparkContext.applicationId
    dropped = 0
    for scope in scopes:
        _SCOPES.remove(scope)
        if scope.app in (None, app):
            dropped += _unpersist(spark, scope.rdds)
            for bc in scope.broadcasts:
                # non-blocking: a live DataFrame that still reads it
                # re-broadcasts from the driver copy
                with suppress(Exception):
                    bc.unpersist(blocking=False)
        for path in scope.dirs:
            shutil.rmtree(path, ignore_errors=True)
    return dropped


def scoped_build(build):
    """Decorator: run a query builder ``build(spark, *args)`` in a scope
    of its own, which its result owns.  The scope takes the RDDs that
    became persistent during the build (a diff of the context's ids: a
    caller's ``cache()`` registers only at the caller's action) and what
    the operators register.  A build that raises has its scope released
    at once."""
    @functools.wraps(build)
    def run(spark: SparkSession, *args):
        scope = _Scope(app=spark.sparkContext.applicationId)
        before = _persistent_rdds(spark)
        token = _BUILDING.set(scope)
        try:
            result = build(spark, *args)
            scope.result = weakref.ref(result)
            return result
        finally:
            _BUILDING.reset(token)
            scope.rdds = frozenset(_persistent_rdds(spark) - before)
            _SCOPES.append(scope)
            if scope.result is None:  # the build raised
                _release(spark, [scope])
    return run


def release_unreferenced(spark: SparkSession) -> int:
    """Release the scopes whose results are no longer referenced and
    those of another SparkContext; returns the RDDs unpersisted."""
    app = spark.sparkContext.applicationId
    return _release(spark, [
        s for s in _SCOPES if s.app not in (None, app)
        or (s.result is not None and s.result() is None)])


def clear_scratch(spark: SparkSession) -> int:
    """Release everything the engine made, once the consumers of the
    queries built so far are done: every scope, then every locally
    checkpointed RDD still persistent (operators called outside a
    build).  A caller's ``cache()``, the catalog cache and the session
    confs are left alone.  Returns the number of RDDs unpersisted."""
    owned = any(s.broadcasts or s.dirs for s in _SCOPES)
    dropped = _release(spark, list(_SCOPES))
    dropped += _unpersist(spark, _persistent_rdds(spark), local_only=True)
    # gc frees the py4j handles of what was dropped so the JVM can free
    # it; ~20ms of overhead when nothing was, as for most queries
    if dropped or owned:
        gc.collect()
    return dropped
