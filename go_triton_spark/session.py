"""SparkSession builder tuned for the engine.

Defaults are chosen for correctness at small SF and sane behavior at
cluster scale: AQE on (runtime re-planning, skew-join handling,
partition coalescing), Arrow on (all our Python-side codecs are
Pandas-UDF/Arrow batched), broadcast threshold left to Spark —
bounded dims (region/nation/band literals) broadcast explicitly,
SF-scaling dims are deliberately unhinted (registry.scaling_dim) so
the size-based planner/AQE decides per scale.

File listing stays on the driver under a local master. Spark lists
more than ``spark.sql.sources.parallelPartitionDiscovery.threshold``
(32) paths with a distributed job of one task per path. The streaming
file source hands every micro-batch's new files over as explicit
paths, and ``cat`` hands over every part file of its range, so past 32
files each micro-batch and each replay paid a listing job. Under
``local[...]`` those tasks run in the driver's own JVM, where they
only compete with the write or scan they precede, and each stats one
local file. The builder therefore raises the threshold past any path
count when the master is ``local`` or ``local[...]``. Every other
master (a cluster, ``local-cluster``) keeps Spark's default, under
which executors share the listing, as they should for an object store
on a real cluster. Like every default here, ``SPARK_GRAFT_EXTRA_CONFS``
can override it.

Python workers fork from the engine's own daemon,
``go_triton_spark.pyworker``, named in Spark's
``spark.python.daemon.module``. pyspark's worker calls
``importlib.invalidate_caches()`` before every task, which made each
zip importer on its ``sys.path`` (pyspark.zip, py4j, the spark-core
jar) re-parse its archive: ~0.18 s of every Python task. The daemon's
importers re-read only an archive that changed. It starts with ``-m``,
so this package must be importable on every executor, which every
decoder closure already requires (``PYTHONPATH`` below locally,
``--py-files`` or an install on a cluster).

PySpark's DataFrame call-site capture is off
(``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
every ``Column`` method and every ``pyspark.sql.functions`` call
records its Python ``file:line`` in the JVM first: about five py4j
round trips plus a failed ``import IPython`` per call, hundreds per
query build. What is lost is that Python fragment in the query
context of a DataFrame error. Errors themselves stay loud: an
unresolved column still raises ``AnalysisException`` with its SQL
context. To get the fragment back, set the key to ``true`` through
``SPARK_GRAFT_EXTRA_CONFS`` before the process makes its first
DataFrame call; PySpark reads it once per process.

The driver JVM starts from a class-data-sharing archive (JDK 17
dynamic AppCDS, JEP 350). Every session loads and verifies the same
~24k Spark, Scala and Hadoop classes from the 287 jars of
``$SPARK_HOME/jars``: about half of its 9-10 s of setup before the
first job. Mapping them from an archive instead cuts session start
from ~5-6 s to ~3 s and the first job from ~3 s to ~2 s. The first
session on a machine finds no archive and starts with
``-XX:ArchiveClassesAtExit``; its exit hook closes the gateway's stdin,
waits while the JVM writes the ~145-175 MB archive (~15 s, once) and
moves it into place. It waits because a caller may kill the process
group right after the Python process exits, which would cut an orphaned
dump short. Every later session starts with
``-XX:SharedArchiveFile``. Only one process dumps at a time; the
others start without the archive meanwhile.

The archive lives in ``$XDG_CACHE_HOME/go_triton_spark/`` (default
``~/.cache/go_triton_spark/``); deleting that directory resets it. Its
name carries a key of the JDK (the java binary's real path and its
``release`` file), the conf directory and the name, size and mtime of
every jar, so a new JDK or Spark install dumps a fresh archive and
deletes the old one. A stamp file records the size and mtime the
archive had when it was moved into place: a file at the key path that
does not match is not handed to the JVM (a truncated archive crashes
JDK 17 with SIGBUS) but dumped afresh. An archive the JVM declines
(a different classpath, say) is removed at exit, so the next session
dumps one that fits.

The JDK cannot archive a classpath that holds a non-empty directory,
and Spark's launcher always puts ``$SPARK_CONF_DIR`` (default
``$SPARK_HOME/conf``) first on it. A stock install's conf directory
holds only ``*.template`` files, which Spark never reads, so when the
user has not set ``SPARK_CONF_DIR`` and the default one holds nothing
else, the builder points ``SPARK_CONF_DIR`` at an empty directory
beside the archive. An empty conf directory is used as it is. Any
other (real files such as a ``spark-defaults.conf`` or a
``log4j2.properties``, or a ``SPARK_CONF_DIR`` the user set that is
not empty) is kept, and the session starts without the archive,
saying why in one line on stderr.

The JVM's own logging goes to stderr (``-Xlog:all=warning:stderr``):
the dumping session warns about every class it skips, and by default
the JVM writes those lines to stdout, which ``cli cat`` owns. The
flags go in front of any ``spark.driver.extraJavaOptions`` from
``SPARK_GRAFT_EXTRA_CONFS``, so the user's own ``-Xlog`` settings
still apply; options that already name ``-Xshare``,
``SharedArchiveFile`` or ``ArchiveClassesAtExit`` get no flags added.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import re
import shutil
import sys

from pyspark.sql import SparkSession

JAVA_OPTS = "spark.driver.extraJavaOptions"
_LOG_TO_STDERR = "-Xlog:disable -Xlog:all=warning:stderr"
_notes: set[str] = set()        # stderr lines this process has printed
_dumps: set[str] = set()        # archives this process has claimed to dump
_hooked = False                 # _finish_archives is registered


def _note(msg: str) -> None:
    if msg not in _notes:
        _notes.add(msg)
        print(f"go_triton_spark: {msg}", file=sys.stderr)


def _cache_dir() -> str:
    return os.path.join(os.environ.get("XDG_CACHE_HOME")
                        or os.path.expanduser("~/.cache"), "go_triton_spark")


def _archive_key(spark_home: str, conf_dir: str) -> str:
    """What the archive was dumped for: JDK, conf directory, jars."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.realpath(os.path.join(java_home, "bin", "java")
                            if java_home else shutil.which("java") or "java")
    h = hashlib.sha256(f"{java}\n{conf_dir}\n".encode())
    try:
        with open(os.path.join(os.path.dirname(os.path.dirname(java)),
                               "release"), "rb") as fh:
            h.update(fh.read())
    except OSError:
        pass
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)):
        st = os.stat(os.path.join(jars, name))
        h.update(f"{name} {st.st_size} {st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _stamp(path: str) -> str:
    st = os.stat(path)
    return f"{st.st_size} {st.st_mtime_ns}"


def _stamped(archive: str) -> bool:
    try:
        with open(archive + ".stamp") as fh:
            return fh.read() == _stamp(archive)
    except OSError:
        return False


def _unlink(path: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.unlink(path)


def _holder(claim: str) -> int | None:
    try:
        with open(claim) as fh:
            return int(fh.read())
    except (OSError, ValueError):
        return None


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _claim(archive: str) -> bool:
    """Take the right to dump ``archive``; False while a live peer holds it.

    The claim file is linked into place whole, so a reader never sees it
    without its pid. A dead holder's claim and partial dump are removed
    and the claim is retaken."""
    claim, me = archive + ".dumping", os.getpid()
    mine = f"{claim}.{me}"
    with open(mine, "w") as fh:
        fh.write(str(me))
    try:
        for _attempt in (0, 1):
            try:
                os.link(mine, claim)
                return True
            except FileExistsError:
                holder = _holder(claim)
                if holder == me:
                    return True
                if holder is None or _alive(holder):
                    return False
                _unlink(claim)
                _unlink(f"{archive}.{holder}.tmp")
        return False
    finally:
        _unlink(mine)


def _cds_options(user_opts: str) -> str:
    """The JVM options that start the driver from the class-data archive
    (see the module docstring), or "" when it cannot be used."""
    if (re.search(r"-Xshare|SharedArchiveFile|ArchiveClassesAtExit",
                  user_opts) or "PYSPARK_GATEWAY_PORT" in os.environ):
        return ""       # the user's own CDS setup, or a JVM already running
    from pyspark.find_spark_home import _find_spark_home

    try:
        spark_home, cache = _find_spark_home(), _cache_dir()
        if re.search(r"[\s'\"\\]", cache):
            _note(f"no class-data archive: {cache} would need quoting")
            return ""
        conf = (os.environ.get("SPARK_CONF_DIR")
                or os.path.join(spark_home, "conf"))
        held = os.listdir(conf) if os.path.isdir(conf) else []
        if held and (os.environ.get("SPARK_CONF_DIR")
                     or any(not n.endswith(".template") for n in held)):
            _note(f"no class-data archive: {conf} is not empty, and the "
                  "JDK cannot archive a classpath holding it")
            return ""
        os.makedirs(os.path.join(cache, "conf"), exist_ok=True)
        if held:
            conf = os.path.join(cache, "conf")
            os.environ["SPARK_CONF_DIR"] = conf
        archive = os.path.join(cache,
                               f"spark-{_archive_key(spark_home, conf)}.jsa")
        if _stamped(archive):
            flag = f"-XX:SharedArchiveFile={archive}"
        else:
            if os.path.exists(archive):
                _note(f"{archive} is stale or corrupt; dumping a fresh "
                      "one at exit")
            if not _claim(archive):
                return _LOG_TO_STDERR
            _dumps.add(archive)
            flag = f"-XX:ArchiveClassesAtExit={archive}.{os.getpid()}.tmp"
    except OSError as exc:
        _note(f"no class-data archive: {exc}")
        return ""
    global _hooked
    if not _hooked:
        atexit.register(_finish_archives)
        _hooked = True
    return f"{_LOG_TO_STDERR} {flag}"


def _finish_archives() -> None:
    """Exit hook: move an archive this process dumped into place, or
    remove one its JVM was given but did not map."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    args = " ".join(proc.args) if proc is not None else ""
    used = re.search(r"-XX:SharedArchiveFile=(\S+)", args)
    if used and proc.poll() is None:
        try:
            with open(f"/proc/{proc.pid}/maps") as fh:
                mapped = used[1] in fh.read()
        except OSError:
            mapped = True       # no /proc to ask
        if not mapped:
            _note(f"the JVM did not map {used[1]}; removed it, the next "
                  "session dumps a fresh one")
            _unlink(used[1] + ".stamp")
            _unlink(used[1])
    for archive in _dumps:
        tmp = f"{archive}.{os.getpid()}.tmp"
        try:
            if (f"-XX:ArchiveClassesAtExit={tmp}" in args
                    and proc.poll() is None):
                _note(f"writing the class-data archive {archive} "
                      "(once per JDK and Spark install)")
                proc.stdin.close()
                if proc.wait(timeout=600) == 0 and os.path.getsize(tmp):
                    stamp = _stamp(tmp)
                    os.replace(tmp, archive)
                    with open(archive + ".stamp", "w") as fh:
                        fh.write(stamp)
                    cache, name = os.path.split(archive)
                    for old in os.listdir(cache):
                        if (old.startswith("spark-") and not
                                old.startswith(name) and
                                old.endswith((".jsa", ".jsa.stamp"))):
                            _unlink(os.path.join(cache, old))
        except Exception as exc:  # noqa: BLE001 — never fail the exit
            _note(f"class-data archive {archive} not written: {exc!r}")
        finally:
            _unlink(tmp)
            if _holder(archive + ".dumping") == os.getpid():
                _unlink(archive + ".dumping")


def builder(app_name: str = "go-triton-spark", master: str | None = None,
            shuffle_partitions: int | None = None,
            extra_confs: str | None = None) -> SparkSession.Builder:
    """Return a pre-configured SparkSession.Builder.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*]);
    on a real cluster pass ``None`` via spark-submit and the conf wins.
    ``extra_confs`` defaults to ``$SPARK_GRAFT_EXTRA_CONFS``; pass ``""``
    to build a session that ignores it without touching the environment.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
    # Make this package importable inside executor Python workers (our
    # mapInPandas codecs close over it). On a real cluster, ship the package
    # with --py-files / pip instead; this covers local + driver-side sys.path.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (pkg_root + os.pathsep + existing) if existing else pkg_root
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing + skew-join splitting. At 100 TB
        # the static shuffle-partition number is always wrong for some stage;
        # AQE re-plans from actual map-output sizes.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for every pandas_udf / mapInPandas boundary (the .tri codec,
        # multimodal decode, embedding ops). Row-at-a-time Python UDFs are
        # banned in this codebase's hot paths.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Parquet: snappy to mirror the reference's archive compression
        # (triton/store.go:134 uses snappy framing; parquet uses snappy blocks).
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Lets Spark 4 read TIMESTAMP(NANOS) parquet columns (as bigint,
        # see registry.load_table) instead of erroring. The gated corpora
        # store timestamps as MICROS; this serves externally supplied
        # NANOS files (test_cached_schema_equals_a_fresh_read).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        # workers fork from the engine's daemon (see the module docstring)
        .config("spark.python.daemon.module", "go_triton_spark.pyworker")
        # no call-site capture per Column/F.* call (see the module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if master == "local" or master.startswith("local["):
        # list leaf files on the driver (see the module docstring)
        b = b.config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                     str(2**31 - 1))
    # escape hatch for experiments/ops: semicolon-separated k=v pairs
    # applied LAST so they override any default above (e.g. the scale
    # profiler sets spark.ui.enabled=true to read per-stage shuffle
    # bytes from the status REST API)
    if extra_confs is None:
        extra_confs = os.environ.get("SPARK_GRAFT_EXTRA_CONFS", "")
    extra = {}
    for kv in filter(None, extra_confs.split(";")):
        k, _, v = kv.partition("=")
        if k.strip() and v.strip():
            extra[k.strip()] = v.strip()
    # the class-data flags go in front of the user's own JVM options
    java_opts = " ".join(filter(None, (_cds_options(extra.get(JAVA_OPTS, "")),
                                       extra.get(JAVA_OPTS))))
    if java_opts:
        extra[JAVA_OPTS] = java_opts
    for k, v in extra.items():
        b = b.config(k, v)
    return b


def get_spark(app_name: str = "go-triton-spark", **kwargs) -> SparkSession:
    """Get-or-create the engine's SparkSession."""
    return builder(app_name, **kwargs).getOrCreate()
