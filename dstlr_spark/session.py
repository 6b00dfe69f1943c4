"""SparkSession factory tuned for this engine.

Local mode stands in for a multi-executor cluster; every knob here is
chosen so the same code scales to 1000 executors:

- AQE on (runtime coalesce, skew-join splitting) — at 100 TB the static
  plan is always wrong somewhere.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster this is 2-3x total cores (the reference used 2048 partitions
  for 32x8 cores, bin/extract.sh:9).
- Arrow enabled for every pandas-UDF boundary; batch size bounded so a
  single pathological conversation cannot blow a Python worker
  (reference analog: Neo4j batch size 10000, LoadTriples.scala:49).
- UTC session timezone so results hash-compare cleanly against DuckDB.
"""

from __future__ import annotations

import logging
import os
import tempfile

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

#: the default driver heap is this or 65% of physical RAM, whichever is less
MAX_DRIVER_MEM_MB = 48 * 1024
#: spark.local.dir goes to RAM-backed /dev/shm only with this much free
SHM_MIN_FREE_BYTES = 4 << 30


def default_driver_mem(meminfo: str = "/proc/meminfo") -> str:
    """``min(48g, 65% of MemTotal)`` as a JVM size; 48g when ``meminfo``
    cannot be read. A heap larger than the host lets the driver grow
    until the machine, not the JVM, runs out of memory."""
    try:
        with open(meminfo) as f:
            total_kb = next(
                int(line.split()[1]) for line in f if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration):
        return f"{MAX_DRIVER_MEM_MB}m"
    return f"{min(MAX_DRIVER_MEM_MB, total_kb * 65 // 100 // 1024)}m"


def default_local_dir() -> str:
    """``/dev/shm`` when it has ``SHM_MIN_FREE_BYTES`` free, else the temp
    dir: shuffle files and DISK_ONLY blocks written to a full tmpfs fail
    the job (ENOSPC) and take RAM from the heap."""
    try:
        st = os.statvfs("/dev/shm")
    except OSError:
        return tempfile.gettempdir()
    free = st.f_bavail * st.f_frsize
    if free >= SHM_MIN_FREE_BYTES:
        return "/dev/shm/dstlr_spark_local"
    log.warning(
        "/dev/shm has %d MiB free (< %d MiB); spark.local.dir falls back to %s",
        free >> 20, SHM_MIN_FREE_BYTES >> 20, tempfile.gettempdir(),
    )
    return tempfile.gettempdir()


def get_spark(
    app_name: str = "dstlr_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-appropriate defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*]).
    On a real cluster this function is a no-op passthrough: spark-submit
    supplies master/memory and this only layers SQL conf.
    """
    # One BLAS thread per Python worker: Spark already runs one task per
    # core, so letting each worker's OpenBLAS spawn its own threads only
    # oversubscribes the host (guide §4.2). Respect an explicit user
    # setting; local-mode workers fork from this process and inherit it.
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    n = os.cpu_count() or 8 if cpus == "*" else int(cpus)
    shuffle_partitions = shuffle_partitions or max(8, n)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.python.worker.reuse", "true")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem(),
        )
        # Long sessions accumulate localCheckpoint blocks and broadcasts
        # whose cleanup waits on a driver GC (ContextCleaner is
        # reference-triggered); the default periodicGC.interval of 30min
        # never fires inside a bench/gate run, so storage fills and GC
        # stalls bleed into later queries (guide §5). Five minutes keeps
        # the storage region bounded; in local mode the driver IS the
        # executor, so its heap is the whole engine's memory.
        .config("spark.cleaner.periodicGC.interval", "5min")
        # Shuffle files and DISK_ONLY cache blocks live in
        # spark.local.dir. The sandbox's /tmp is VM-backed ext4 measured
        # at ~300 MB/s with high variance, while /dev/shm is tmpfs at
        # ~2 GB/s; shuffle-heavy phases were measured swinging 7 s ->
        # 47 s run-to-run on /tmp. On a real cluster this is the
        # standard "local dirs on fast local disk/NVMe" deployment knob
        # (guide §2.1) — override with SPARK_GRAFT_LOCAL_DIR.
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_GRAFT_LOCAL_DIR") or default_local_dir(),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark


def ship_package(spark: SparkSession) -> None:
    """Make ``dstlr_spark`` importable inside Python WORKERS.

    Workers never inherit the driver's sys.path, so a mapInPandas UDF
    pickled by module reference raises ModuleNotFoundError whenever the
    process was launched from a cwd outside the repo and no --py-files
    was passed. Zipping our own package once per session and registering
    it with addPyFile makes every entrypoint location-independent.
    """
    if getattr(spark, "_dstlr_pyfiles_added", False):
        return
    import tempfile
    import zipfile
    from pathlib import Path

    pkg = Path(__file__).resolve().parent
    if not pkg.is_dir():
        # imported from a zip (spark-submit --py-files dist/dstlr_spark.zip):
        # the archive is already on every executor's path — nothing to ship,
        # and rglob over a zip member path would build an empty archive
        spark._dstlr_pyfiles_added = True
        return
    fd, zpath = tempfile.mkstemp(prefix="dstlr_spark_", suffix=".zip")
    os.close(fd)
    with zipfile.ZipFile(zpath, "w") as z:
        for p in sorted(pkg.rglob("*.py")):
            z.write(p, f"dstlr_spark/{p.relative_to(pkg)}")
    spark.sparkContext.addPyFile(zpath)
    spark._dstlr_pyfiles_added = True
