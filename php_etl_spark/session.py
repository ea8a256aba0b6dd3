"""SparkSession factory with scale-oriented defaults.

The reference engine has no runtime tuning beyond hard-coded batch
sizes (/root/reference/sdk/process.php:137 batches 500 keys per
worker process). Here partitioning/parallelism is Spark's job; we
pick defaults that hold from a laptop up to a large cluster: AQE on
(runtime coalescing + skew-join splitting), a shuffle partition count
sized to the local core count but overridable, and Arrow enabled for
the few pandas-UDF code paths.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession


def local_cpus() -> int:
    """Cores a local session uses, and its default shuffle partition
    count: ``SPARK_GRAFT_CPUS`` when set, else the CPUs this process
    may run on (its affinity mask, which honours a container's cpuset
    where ``os.cpu_count`` reports the whole host)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


# Entries in Spark's generated-class cache (Spark's default is 100).
# Working sets measured on local[4] on a 4-vCPU VM: the perfbench query
# mix generates 116 distinct classes and the ETL migration 73 (sf0.01),
# the 35-key headline suite 641 (sf0.001). With 100 entries every warm
# pass recompiles through Janino what the previous pass compiled.
# Retaining 641 classes cost +15 MB heap after a full GC and +3 MB
# metaspace, about 25 KB a class, so 4096 entries bound retention near
# 100 MB of the 4 GiB driver heap.
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(
    app_name: str = "php-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Defaults are chosen for scale-out behavior:

    - ``spark.sql.adaptive.enabled``: runtime re-planning — coalesces
      tiny shuffle partitions, converts sort-merge to broadcast when a
      side turns out small, splits skewed partitions.
    - ``spark.sql.adaptive.skewJoin.enabled``: the salting fallback the
      reference never needed (its "partitioner" was a 500-key batch
      spawner, /root/reference/sdk/process.php:129-147).
    - Arrow for pandas UDF exchange (vectorized Python boundary).
    - ``spark.sql.codegen.cache.maxEntries``: sized to
      ``CODEGEN_CACHE_ENTRIES`` so a session compiles each generated
      class once. Spark's 100 entries are fewer than one pass of the
      query mix (116 classes) or the headline suite (641) generates,
      so every warm pass recompiled them. The conf is static: it
      reaches only sessions this function creates, not a session
      handed to ``tune_session``.
    - ``spark.python.sql.dataFrameDebugging.enabled`` off: PySpark
      otherwise wraps every ``functions`` and ``Column`` call to send
      its Python call site to the JVM, which Spark documents as "a
      non-trivial performance overhead because of the stack trace
      collection". Off, one warm pass of the perfbench query mix sends
      1,777 py4j calls and lookups instead of 4,627. Errors keep their
      class, error condition and ``== DataFrame ==`` context; only the
      Python ``file:line`` after "was called from" becomes a JVM frame.
      Pass
      ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled":
      "true"}`` to get it back while debugging. The conf has to be on
      ``SparkSession.builder``: it is a core conf that
      ``spark.conf.set`` rejects, and PySpark caches it per process at
      the first wrapped call, so ``tune_session`` cannot turn it off on
      a session it is handed.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{local_cpus()}]")
        # local mode defaults to a 1 GiB JVM heap — far too small for
        # 32 concurrent tasks; static conf, applies on first creation
        .config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g")
        )
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or local_cpus()),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # events.parquet stores TIMESTAMP(NANOS); Spark ≥4.x reads it
        # as TIMESTAMP_NTZ (the legacy nanosAsLong conf is a no-op
        # there) and the catalog normalizes it to TimestampType.
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if os.environ.get("SPARK_GRAFT_METRICS") and not getattr(
        spark, "_php_etl_stream_metrics", False
    ):
        # O6 observability: stream progress (per-batch rows/sec) into
        # the metrics JSONL alongside the runner's per-table records.
        # getOrCreate reuses sessions — attach once, not per call.
        from php_etl_spark.observability import attach_streaming_metrics

        attach_streaming_metrics(spark)
        spark._php_etl_stream_metrics = True
    return spark


@contextmanager
def conf_override(spark: SparkSession, key: str, value: str) -> Iterator[None]:
    """Set the runtime conf ``key`` to ``value`` for the block, then
    restore its previous value (or unset it if it had none)."""
    try:
        prev = spark.conf.get(key)
    except Exception:  # noqa: BLE001 — unset conf
        prev = None
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


_SCRATCH_ROOT: list[str] = []


def scratch_root() -> str:
    """This process's scratch directory, made under the temp dir
    (``tempfile.gettempdir()``) on first use and removed with all it
    holds at interpreter exit. Everything the engine writes for its own
    use goes under it: default streaming checkpoints, streaming output,
    and the destinations the registry's sink and scan keys write and
    read back. Frames over those files stay readable until the process
    ends."""
    if not _SCRATCH_ROOT:
        root = tempfile.mkdtemp(prefix="php_etl_spark_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _SCRATCH_ROOT.append(root)
    return _SCRATCH_ROOT[0]


def scratch_dir(prefix: str) -> str:
    """A new empty directory under the scratch root, named ``prefix``
    plus a random suffix."""
    path = os.path.join(scratch_root(), prefix + uuid.uuid4().hex[:12])
    os.mkdir(path)
    return path


def _ship_package(spark: SparkSession) -> None:
    """Ship the engine package to Python workers (``addPyFile`` — the
    runtime form of ``spark-submit --py-files``). Executors unpickle
    UDF closures that reference module-level helpers by module path;
    without this, a driver running from another directory hits
    ``ModuleNotFoundError: php_etl_spark`` inside mapInPandas."""
    import zipfile

    import php_etl_spark

    pkg_dir = os.path.dirname(os.path.abspath(php_etl_spark.__file__))
    zip_path = os.path.join(scratch_root(), "php_etl_spark_pyfiles.zip")
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        arc = os.path.join(
                            "php_etl_spark", os.path.relpath(full, pkg_dir)
                        )
                        zf.write(full, arc)
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception as exc:  # noqa: BLE001 — inspect, don't swallow
        # re-adding the same zip in one session is benign; anything
        # else (stopped context, unreadable zip) silently disabling
        # worker shipping would resurface ModuleNotFoundError in
        # executors — surface it
        msg = str(exc).lower()
        if "already" in msg and ("registered" in msg or "added" in msg or "exists" in msg):
            return
        raise


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply engine runtime confs to an externally-created session.

    The verification driver hands us its own SparkSession; settable
    runtime confs are applied here so catalog reads behave the same.
    Static and core confs, such as the generated-class cache size and
    PySpark's call-site capture, cannot be set on a running session,
    so that session keeps Spark's defaults for them.
    """
    _ship_package(spark)
    for k, v in [
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.shuffle.partitions", str(local_cpus())),
    ]:
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — catalog has a fallback
    return spark
