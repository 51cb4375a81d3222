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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
        # The driver's testdata parquet uses TIMESTAMP(NANOS); this flag lets
        # Spark 4 read those columns (as timestamp_ntz) instead of erroring.
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
    for kv in filter(None, extra_confs.split(";")):
        k, _, v = kv.partition("=")
        if k.strip() and v.strip():
            b = b.config(k.strip(), v.strip())
    return b


def get_spark(app_name: str = "go-triton-spark", **kwargs) -> SparkSession:
    """Get-or-create the engine's SparkSession."""
    return builder(app_name, **kwargs).getOrCreate()
