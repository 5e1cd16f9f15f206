"""SparkSession factory with the engine's required configuration."""

from __future__ import annotations

import os
import sys
import threading
import zipimport
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "dude_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a session.

    - ``mapKeyDedupPolicy=LAST_WIN`` pins the reference's later-wins map-merge
      semantics in the flatten aggregation (``dude/base.py:610-622``, FIXME
      at ``:617`` — duplicate keys resolved by update order).
    - Arrow enabled end-to-end: every Python crossing is a batched pandas UDF.
    - UTC session TZ for DuckDB-oracle comparability.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(
        len(os.sched_getaffinity(0))
    )
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = cpus if cpus != "*" else os.cpu_count() or 8
        shuffle_partitions = int(n)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # bound pandas-UDF batch memory: html pages are heavy rows — at
        # ~150KB/page even 1024-row Arrow batches are ~150MB of buffer churn
        # per concurrent task, which turned into GC-driven 2-3× run-to-run
        # variance; 128-row (~20MB) batches measured both faster and stable
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "128")
        # batch engine: favor throughput GC over pause-time GC. GC threads
        # capped at 8: the JVM defaults to ~23 on a 32-core box and at 32
        # mutator threads they contend for the same saturated memory
        # controllers — capping measured +20% wide-round throughput at
        # local[32] (3/3 interleaved A/B wins on a 32-core host) and was
        # neutral in the 9-round regime (BASELINE.md, scaling history). A
        # real cluster's 4-8-core executor JVMs default to ≤8 GC threads
        # anyway — local mode was uniquely mis-defaulted.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:+UseParallelGC -XX:ParallelGCThreads=8",
        )
        .config("spark.locality.wait", "0s")
        # NOTE: spark.sql.limit.initialNumPartitions is deliberately NOT set
        # here. The crawl loop's hybrid collect scopes it to its own
        # limit-guarded job (crawl.py _conf_override) — session-wide it made
        # every unrelated small .take()/.isEmpty() scan all partitions in
        # one job (ADVICE r4).
        # The defaults batch 10k rows per in-memory-columnar cache batch and
        # compress each column: with ~50KB html blobs that is a ~500MB
        # builder per batch × one per task — measured 85s + a multi-hundred-
        # second GC storm to cache a 4GB page corpus, and 2s/scan after.
        # 256-row uncompressed batches build the same cache in 2.6s and scan
        # in 0.2s. (Compression on page-sized binary rows is parquet's job
        # at rest, not the scan cache's.)
        .config("spark.sql.inMemoryColumnarStorage.batchSize", "256")
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
    )
    env_conf = os.environ.get("SPARK_GRAFT_CONF_JSON")
    if env_conf:
        import json

        for k, v in json.loads(env_conf).items():
            b = b.config(k, str(v))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def _default_driver_memory() -> str:
    """Half of this machine's RAM, capped at 24g. In local mode the driver
    JVM runs every task, and a heap sized past the RAM it can actually get
    grows until the kernel kills it (24g on a 16 GB box reached ~13 GB RSS
    and lost the JVM mid-run)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{min(int(line.split()[1]) // 2048, 24 * 1024)}m"
    except (OSError, ValueError):
        pass
    return "24g"


def _ship_package(spark: SparkSession) -> None:
    """Ship dude_spark to executor Python workers (≙ spark-submit
    --py-files): UDF closures are cloudpickled *by reference* to the module,
    so workers must be able to import it regardless of their cwd."""
    import hashlib
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # one zip per checkout: two checkouts on one box must not ship each
    # other's package to their workers
    tag = hashlib.sha1(pkg_dir.encode()).hexdigest()[:12]
    zip_path = os.path.join(
        os.environ.get("TMPDIR", "/tmp"), f"dude_spark_pyfiles_{tag}.zip"
    )
    src_mtime = max(
        os.path.getmtime(os.path.join(root, fn))
        for root, _dirs, files in os.walk(pkg_dir)
        for fn in files
        if fn.endswith(".py")
    )
    if not os.path.exists(zip_path) or os.path.getmtime(zip_path) < src_mtime:
        with zipfile.ZipFile(zip_path + ".tmp", "w") as z:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        z.write(full, rel)
        os.replace(zip_path + ".tmp", zip_path)
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception:  # already added in this context
        pass


_CONF_OVERRIDE_LOCK = threading.RLock()


@contextmanager
def _conf_override(spark: SparkSession, pairs: dict):
    """Set runtime SQL confs for one driver-side operation, then restore.

    Spark's runtime-conf is session-global, so any concurrent planner
    thread COULD observe the temporary value. A module lock serializes all
    dude_spark override sections (two concurrent crawls on one session
    can't interleave set/restore); the residual assumption — user driver
    threads outside dude_spark don't plan Arrow conversions mid-override —
    is documented per ADVICE r4 and holds for the single-threaded driver
    the engine targets."""
    conf = spark.conf
    _CONF_OVERRIDE_LOCK.acquire()
    old = {k: conf.get(k, None) for k in pairs}
    for k, v in pairs.items():
        conf.set(k, v)
    try:
        yield
    finally:
        try:
            for k, v in old.items():
                if v is not None:
                    conf.set(k, v)
                else:
                    conf.unset(k)
        finally:
            _CONF_OVERRIDE_LOCK.release()


def _schemas(schema):
    """(StructType, Arrow schema) of a DDL string or StructType: the one
    DDL → Arrow conversion behind driver-built frames and driver-side
    parquet writes, so both carry the column types Spark gives the DDL."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    return schema, to_arrow_schema(schema)


def _local_relation(spark: SparkSession, data, schema) -> DataFrame:
    """True LocalRelation (``LocalTableScan``) of ``data`` — a pandas frame
    (columns taken by name) or a sequence of row tuples — typed by
    ``schema``, a DDL string or a StructType. Every frame the engine builds
    on the driver comes from here.

    The list-based ``createDataFrame`` path, and the pandas path for an
    EMPTY frame or with Arrow off, parallelize to a pickled PythonRDD:
    every scan of it launches one Python-worker task per partition, even
    for one row or none. Here the rows go driver-side
    into an Arrow table, whatever the session's Arrow conf: scans are
    JVM-only, a broadcast of it builds with NO Spark job, and an empty
    ``data`` plans to an empty LocalTableScan (an ``EmptyRDD`` of 0
    partitions) whose schema is still ``schema``. The Arrow batch size is
    raised for the one conversion (the session default of 128 rows exists
    for ~150 KB page payloads, not 10-column frontier rows; at 128 a
    15k-row frontier would shred into ~120 batches/partitions)."""
    import pyarrow as pa

    schema, arrow = _schemas(schema)
    if not len(data):
        table = arrow.empty_table()
    elif hasattr(data, "columns"):
        table = pa.Table.from_pandas(
            data[schema.names], schema=arrow, preserve_index=False
        )
    else:
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(zip(*data), arrow)],
            schema=arrow,
        )
    with _conf_override(
        spark, {"spark.sql.execution.arrow.maxRecordsPerBatch": "8388608"}
    ):
        return spark.createDataFrame(table, schema)


# -- Python workers ----------------------------------------------------------
#
# pyspark calls importlib.invalidate_caches() at the start of every task
# (worker_util.setup_spark_files). Below Python 3.13 that makes every
# zipimporter in sys.path_importer_cache — one per imported package
# directory of pyspark.zip and of the shipped package zip — re-read its
# whole archive directory (pyspark.zip has 1,328 entries): ~0.1 s of CPU
# per task with the 14 importers a pyspark worker holds (4-core x86 VM).
# 3.13's zipimporter only drops the cached entry.

_WORKER_READY = False


def worker_setup() -> None:
    """Once-per-process set-up of a Python worker; the first statement of
    every engine ``mapInPandas`` body. Installs the stamped
    zip-invalidation (``_lazy_zip_invalidation``) on workers below Python
    3.13; does nothing on the driver, on 3.13+ and after the first call."""
    global _WORKER_READY
    if _WORKER_READY:
        return
    _WORKER_READY = True
    from pyspark import TaskContext

    if sys.version_info < (3, 13) and TaskContext.get() is not None:
        _lazy_zip_invalidation()


def _zip_stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _lazy_zip_invalidation() -> None:
    """Replace ``zipimporter.invalidate_caches`` with one that re-reads an
    archive's directory only when the archive's ``(st_mtime_ns, st_size)``
    differs from the stamp stored on that importer (a missing archive is
    always re-read: the original then empties the importer). Importers
    alive now are stamped with their archive as it is: this task's
    ``setup_spark_files`` has just re-read every one of them, and the task's
    files were fetched before it started. An importer created later is
    re-read once, by its first invalidation."""
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        stamp = _zip_stamp(self.archive)
        if stamp is None or stamp != getattr(self, "_dude_stamp", None):
            reread(self)
            self._dude_stamp = stamp

    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, zipimport.zipimporter):
            imp._dude_stamp = _zip_stamp(imp.archive)
    zipimport.zipimporter.invalidate_caches = invalidate_caches
