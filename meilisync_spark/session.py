"""SparkSession construction and runtime tuning.

Two layers:

- :func:`get_spark` builds a session for local runs (tests, bench) with
  scale-appropriate static conf.
- :func:`tune` applies only *runtime-settable* conf to an existing
  session. The correctness driver passes us its own session, so every
  public query entry point calls ``tune`` first — it must be safe and
  idempotent on any session.

Scale notes (100 TB target, tested on local[32]):

- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  plan re-optimization replace any hand-scheduling.
- ``spark.sql.session.timeZone=UTC``: the engine's canonical timestamp
  semantics (reference converts datetimes to epoch seconds,
  meilisync/schemas.py:21-22); also keeps ``unix_timestamp`` consistent
  with the DuckDB oracle's ``epoch()``.
- shuffle partitions default to cores locally (``SPARK_GRAFT_CPUS``,
  the bench contract's knob); on a real cluster set
  ``SPARK_GRAFT_INITIAL_SHUFFLE_PARTITIONS`` to a high value (e.g.
  4x total cluster cores) and AQE's coalescing works DOWN from it per
  query — the scale-correct shape, since no single constant suits
  both a 2k-row probe and a 100 TB scan. Locally it defaults to the
  shuffle-partition count itself, i.e. no behavior change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable conf applied to ANY session (ours or the driver's).
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # Read parquet timestamps as session-tz TIMESTAMP (not NTZ) so the
    # epoch-seconds normalization (F1) is a plain cast; with UTC session
    # tz this matches DuckDB's naive epoch().
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Nanosecond parquet timestamps (events.ts) are otherwise an illegal
    # type for the vectorized reader; read them as raw nanos and let the
    # loader convert (truncate) to micros — same floor semantics DuckDB
    # applies when narrowing ns → µs.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for the few pandas-UDF paths (multimodal, embeddings).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ANSI off: engine follows the reference's permissive coercions
    # (e.g. delete-path pk stringification, meilisync/meili.py:137).
    "spark.sql.ansi.enabled": "false",
    # List partition directories on the driver. Above the default of 32
    # paths Spark starts a listing job with one task per directory: a
    # read of a 64-bucket index (operators/bucketed.py) paid ~300 ms
    # per micro-batch, check and refresh for it. The bucketed layout is
    # POSIX-only (its swaps are os.rename), where the driver lists a
    # directory in microseconds; an object-store layout would need to
    # revisit this.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "4096",
}


def _ship_package(spark: SparkSession) -> None:
    """Make ``meilisync_spark`` importable on PYTHON WORKERS regardless
    of the driver's cwd/PYTHONPATH. Workers inherit the environment,
    not the driver's ``sys.path`` mutations — so a pickled UDF that
    references a module global (cloudpickle serializes those by module
    reference) dies with ModuleNotFoundError whenever the session was
    launched from outside the repo, which is exactly how the
    correctness driver runs us. Shipping the package once per session
    via ``addPyFile`` closes that for every current and future UDF;
    the hot closures additionally bind their globals as defaults so
    the common paths never even need the import."""
    sc = spark.sparkContext
    if sc._jsc is None or getattr(sc, "_mls_pkg_shipped", False):
        return
    import tempfile
    import zipfile

    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zpath = os.path.join(
        tempfile.gettempdir(), f"mls_pkg_{os.getuid()}_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _, files in os.walk(os.path.join(pkg_root, "meilisync_spark")):
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    z.write(p, os.path.relpath(p, pkg_root))
    try:
        sc.addPyFile(zpath)
        sc._mls_pkg_shipped = True
    except Exception:
        pass  # a session that disallows addPyFile still works repo-cwd


def tune(spark: SparkSession, shuffle_partitions: int | None = None) -> SparkSession:
    """Apply runtime conf to an existing session. Safe + idempotent."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime conf on some builds; keep going
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # Cluster knob: a high AQE starting width that coalescing shrinks
    # per query (the scale-adaptive form — see the module docstring).
    # Defaults to the plain shuffle-partition count, so local runs and
    # the driver's bench are byte-identical unless explicitly set.
    initial = int(
        os.environ.get(
            "SPARK_GRAFT_INITIAL_SHUFFLE_PARTITIONS", str(shuffle_partitions)
        )
    )
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(initial),
        )
    except Exception:
        pass
    _ship_package(spark)
    return spark


def _default_driver_mem() -> str:
    """Driver-heap default: ``SPARK_GRAFT_DRIVER_MEM`` if set, else
    min(48g, ~40% of the host's MemTotal), floored at 2g. 48g is sized
    for the 128 GiB bench box (where local[32] task threads make the
    driver heap the executor memory); a blanket 48g on a smaller host
    would trade Spark's spill machinery for the OS OOM-killer."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_kb = int(line.split()[1])
                    break
            else:
                return "8g"
    except OSError:
        return "8g"
    gb = max(2, min(48, int(total_kb * 0.40 / 1024 / 1024)))
    return f"{gb}g"


def get_spark(
    app_name: str = "meilisync-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a tuned local session."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # At 100 TB these two govern scan parallelism: 128 MB split
        # targets keep partitions executor-memory-sized.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "67108864")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Local mode runs all 32 task threads in the driver JVM, so this
        # IS the executor memory: 8g caused a GC/eviction cliff at 1M
        # docs (localCheckpoint'd band tables stop fitting; old gen
        # pinned ~90%, minhash_lsh_pairs 27s@500k -> 600s@1M). Default
        # scales with the host — min(48g, ~40% of MemTotal) — so a
        # smaller box gets Spark spill instead of the OS OOM-killer /
        # a cgroup-limited JVM start failure; the env var always wins.
        .config("spark.driver.memory", _default_driver_mem())
        # Dead localCheckpoint blocks release via the ContextCleaner,
        # which only learns a frame is dead when a JVM GC processes its
        # weak reference — and a barely-pressured 48g heap can go many
        # minutes without one. Spark's default periodic-GC interval is
        # 30 MINUTES: long-lived sessions running checkpoint-pinning
        # queries back-to-back accumulated gigabytes of dead pins until
        # the block manager evicted to disk (round-8 diagnosis: the
        # same 500k-doc pipeline cell measured 44 s or 8+ min of spill
        # thrash depending on whether a GC happened to run between two
        # invocations). 2 minutes bounds the dead-pin window at a
        # negligible GC cost.
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    tune(spark, shuffle_partitions=shuffle_partitions)
    spark.sparkContext.setLogLevel("WARN")
    return spark
