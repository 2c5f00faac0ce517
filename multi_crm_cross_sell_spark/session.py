"""SparkSession factory with scale-oriented defaults.

The engine targets a large multi-executor cluster; locally we run
``local[$SPARK_GRAFT_CPUS]``. All tuning lives here so tests, bench and
the driver harness share one config surface:

- AQE on (runtime coalescing, skew-join splitting, dynamic join
  strategy switch) — at 100 TB the static plan is always wrong
  somewhere; AQE fixes partition counts and skew at runtime.
- shuffle.partitions sized for the local harness (32); in batch plans
  AQE's coalescing makes a high initial value safe. Streaming queries
  are sized apart: AQE never coalesces a streaming shuffle, so a
  stateful operator would run 32 tasks and state stores in every
  micro-batch. streaming/trigger.available_now runs them at the
  session's defaultParallelism instead.
- Arrow enabled for any pandas-UDF path (vectorized, batched transfer).
- Session timezone pinned to UTC: the testdata timestamps are naive
  (timestamp_ntz) and the DuckDB oracle is timezone-less, so every
  date/time derivation must be wall-clock-stable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session.

    Used both by :func:`get_spark` and on driver-provided sessions
    (the verify harness passes its own SparkSession).
    """
    conf = spark.conf
    conf.set("spark.sql.session.timeZone", "UTC")
    conf.set("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # Whole-stage codegen bails out above 100 fields by default; the
    # banded-simhash vote aggregate carries 8 bands × 30 bit counters
    # (241 columns) and falls back to the interpreted row path without
    # this — measured 80s → ~2s at sf0.1 on that stage alone. Codegen
    # splits wide update functions into sub-methods, so larger field
    # counts compile fine; 512 bounds it far above any plan we build.
    conf.set("spark.sql.codegen.maxFields", "512")
    # The events table is written with parquet TIMESTAMP(NANOS) which the
    # Spark vectorized reader cannot decode natively; read as long nanos
    # and convert (sources/bronze.py floors to micros, matching DuckDB).
    conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make the engine package importable in PYTHON WORKERS regardless
    of the driver process's cwd/PYTHONPATH. Pandas-UDF closures
    (extractive_summary, the ML pipeline, stateful streaming)
    reference this package by name; cloudpickle serializes them by
    reference, so a worker spawned by a driver that imported us via a
    sys.path hack from another cwd raises ModuleNotFoundError at the
    first UDF batch. addPyFile of a package zip fixes that for every
    session shape. Idempotent per JVM (the zip's name is a digest of
    its contents, and addPyFile dedups by name)."""
    import tempfile

    spark.sparkContext.addPyFile(_package_zip(tempfile.gettempdir()))


def _package_zip(out_dir: str) -> str:
    """Path of a zip of this package's ``.py`` sources in ``out_dir``,
    built if absent. The file name carries a digest of the sources and
    the archive is deterministic (sorted entries, fixed timestamps), so
    identical sources give byte-identical zips and different sources
    (an edited module, another checkout) never share a name. Spark
    refuses a second, different file under a name it has already
    shipped, and a stale zip would hand Python workers old UDF code."""
    import hashlib
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root, pkg = os.path.split(pkg_dir)
    sources = sorted(
        os.path.relpath(os.path.join(dirpath, fn), root)
        for dirpath, _dirnames, filenames in os.walk(pkg_dir)
        for fn in filenames
        if fn.endswith(".py")
    )
    digest = hashlib.sha256()
    contents = []
    for rel in sources:
        with open(os.path.join(root, rel), "rb") as f:
            data = f.read()
        contents.append((rel, data))
        digest.update(rel.encode() + b"\0" + data + b"\0")
    path = os.path.join(out_dir, f"{pkg}_pkg_{digest.hexdigest()[:16]}.zip")
    if not os.path.exists(path):
        # Written under a private name and renamed into place, so a
        # concurrent session never reads a half-written zip.
        tmp = f"{path}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for rel, data in contents:
                info = zipfile.ZipInfo(rel, date_time=(1980, 1, 1, 0, 0, 0))
                info.compress_type = zipfile.ZIP_DEFLATED
                info.external_attr = 0o644 << 16
                z.writestr(info, data)
        os.replace(tmp, path)
    return path


def get_spark(
    app_name: str = "multi-crm-cross-sell-spark",
    master: str | None = None,
    shuffle_partitions: str | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS,
        )
        # local mode = one JVM for driver+executors: with 32 concurrent
        # tasks, an 8g heap GC-thrashes once a few queries' broadcast
        # and shuffle state accumulates. Size for the harness box.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        # Shuffle/spill files on tmpfs: local-mode shuffles are small
        # (MBs) but the backing block device occasionally stalls for
        # seconds; RAM-backed local dirs remove that variance. On a
        # real cluster this maps to fast local NVMe for shuffle.
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # STATIC conf (builder-only): the generated-class cache holds
        # 100 entries; a session that runs the full query catalog
        # executes well over 100 codegen stages, so the LARGEST class
        # (the banded-simhash vote aggregate, Janino compile measured
        # in seconds) gets evicted between repeat runs and recompiled
        # EVERY run — measured as ngram_jaccard_dedup at ~12s inside
        # the 22-query bench vs ~4s isolated, with min-of-5 unable to
        # recover. 1000 entries keeps the whole catalog warm; the
        # cache stores compiled classes, so the cost is tens of MB.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # The other half of the same failure mode, one layer down: the
        # JVM's JIT code cache (ReservedCodeCacheSize, default 240 MB)
        # holds the C2-COMPILED native code for those generated
        # classes. A catalog-wide session compiles hundreds of codegen
        # stages; once the code cache fills, HotSpot stops (or, with
        # flushing, keeps evicting) compilation — and the largest
        # class (the banded-simhash vote aggregate) runs INTERPRETED,
        # measured ~10s in-bench vs ~1.3s once C2-compiled in a
        # dedicated session, with min-of-n unable to recover. 1 GB
        # keeps every stage's native code resident.
        # CAVEAT (like every builder-only conf here): driver JVM
        # options only apply when THIS call launches the JVM; under
        # getOrCreate against an existing SparkContext, or in
        # spark-submit client mode (where the JVM pre-exists), they
        # are silently ignored — deployments there pass
        # --driver-java-options themselves. Any options the caller
        # already set via SPARK_GRAFT_DRIVER_JAVA_OPTIONS or the
        # spark.driver.extraJavaOptions env-conf are MERGED in front
        # rather than clobbered.
        .config(
            "spark.driver.extraJavaOptions",
            (
                os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTIONS", "")
                + " -XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing"
            ).strip(),
        )
        .config("spark.ui.enabled", "false")
    )
    return tune(builder.getOrCreate())
