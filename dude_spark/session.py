"""SparkSession factory with the engine's required configuration."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
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
        # local[32] (3/3 interleaved A/B wins; BENCH/BASELINE.md "8→32
        # gap"). A real cluster's 4-8-core executor JVMs default to ≤8 GC
        # threads anyway — local mode was uniquely mis-defaulted.
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
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
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
