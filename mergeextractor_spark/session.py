"""SparkSession factory.

Local testing runs on local[N] (single JVM), N = $SPARK_GRAFT_CPUS or the
CPUs this process may run on; the driver heap is $SPARK_DRIVER_MEMORY or
half the host's memory, at most 48g.  The configs below are chosen so
the same logical plans survive a 1000-executor cluster: AQE on (runtime
coalesce + skew-join), shuffle partitions sized to cores locally (on a
real cluster AQE re-coalesces), Arrow enabled for the few pandas-UDF
stages, UTC session timezone for oracle parity.
"""

from __future__ import annotations

import os

import pyspark.errors.utils as _errors_utils
from pyspark.sql import SparkSession


_SCRATCH_MIN_GB = 4.0
_MAX_DRIVER_HEAP_MB = 48 * 1024


def _scratch_min_gb() -> float:
    """Free-space floor for the tmpfs scratch default, in GiB:
    SPARK_GRAFT_SCRATCH_MIN_GB, or 4 when unset or not a number."""
    raw = os.environ.get("SPARK_GRAFT_SCRATCH_MIN_GB")
    if raw is None:
        return _SCRATCH_MIN_GB
    try:
        return float(raw)
    except ValueError:
        import warnings

        warnings.warn(
            f"SPARK_GRAFT_SCRATCH_MIN_GB={raw!r} is not a number; using "
            f"the {_SCRATCH_MIN_GB:g} GiB floor.",
            stacklevel=3,
        )
        return _SCRATCH_MIN_GB


def _default_local_dir() -> str | None:
    """Pick spark.local.dir: the SPARK_GRAFT_LOCAL_DIR override wins
    (empty string = explicitly keep Spark's default), else RAM-backed
    /dev/shm/spark-local — but ONLY when the tmpfs has headroom, so a
    large local job whose spills exceed free shm does not hit ENOSPC.
    The floor is SPARK_GRAFT_SCRATCH_MIN_GB (default 4 GiB free); below
    it the factory falls back to the Spark default (disk-backed
    java.io.tmpdir) and warns."""
    override = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if override is not None:
        return override or None
    if not os.path.isdir("/dev/shm"):
        return None
    import shutil

    try:
        free = shutil.disk_usage("/dev/shm").free
    except OSError:
        return None
    min_gb = _scratch_min_gb()
    if free < min_gb * (1 << 30):
        import warnings

        warnings.warn(
            f"/dev/shm has only {free / (1 << 30):.1f} GiB free "
            f"(< {min_gb} GiB floor); leaving spark.local.dir on the "
            "disk-backed default. Set SPARK_GRAFT_LOCAL_DIR to force a "
            "scratch path, or SPARK_GRAFT_SCRATCH_MIN_GB to move the "
            "floor.",
            stacklevel=2,
        )
        return None
    d = "/dev/shm/spark-local"
    os.makedirs(d, exist_ok=True)
    return d


def _driver_heap_default(meminfo: str) -> str:
    """spark.driver.memory for a host whose /proc/meminfo reads
    ``meminfo``: half of MemTotal, capped at 48g."""
    kb = next(
        int(line.split()[1]) for line in meminfo.splitlines() if line.startswith("MemTotal:")
    )
    return f"{min(kb // 2048, _MAX_DRIVER_HEAP_MB)}m"


def default_cpus() -> str:
    """Local-mode cores: SPARK_GRAFT_CPUS, else the CPUs this process may
    run on."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def default_driver_memory() -> str:
    """Driver heap: SPARK_DRIVER_MEMORY, else half of the host's memory
    (at most 48g)."""
    override = os.environ.get("SPARK_DRIVER_MEMORY")
    if override:
        return override
    with open("/proc/meminfo") as f:
        return _driver_heap_default(f.read())


def get_spark(
    app_name: str = "mergeextractor-spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """``extra_conf`` overrides builder confs (bench.py re-enables the UI
    so the /api/v1 status endpoint serves per-stage executorCpuTime /
    shuffle bytes; everything else keeps the UI off: it is pure overhead
    for tests and the operator gate)."""
    cpus = default_cpus()
    # Shuffle/spill scratch on tmpfs (guide §2.1: local disk bandwidth can
    # be the tighter limit for shuffle files).  On a VM whose root disk is
    # a virtio volume with host-side page reclaim, every shuffle write/read
    # re-faults pages at fault-storm rates charged to task threads as
    # SYSTEM time: a bare 5000-row repartition measured 5.5-7.1 s
    # executor-CPU on /tmp vs 0.6-0.8 s on /dev/shm (OPTIMIZATION_r14.md).
    # RAM-backed scratch is the local analogue of the fast NVMe a
    # real cluster mounts for spark.local.dir; SPARK_GRAFT_LOCAL_DIR
    # overrides (set it to the NVMe array in production; spills larger
    # than RAM need a disk-backed dir), and a free-space floor guards the
    # tmpfs default (_default_local_dir).
    local_dir = _default_local_dir()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # DataFrame-debugging call-site capture costs 1-2 py4j round
        # trips + a Python stack walk on EVERY DataFrame API call (plan
        # CONSTRUCTION was a third to half of several ANN/rank keys'
        # bench medians; this conf alone cut warm construction 25-50%
        # across the suite).  Debug-only
        # feature — it enriches error messages with the user call site;
        # results and plans are unchanged.  Flip it back on when
        # debugging a failing query.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def apply_session_tuning(spark: SparkSession) -> SparkSession:
    """Idempotent runtime tuning for a session we did not create (the driver
    hands us one in ``__spark_entry__``). Only runtime-settable confs, plus
    PySpark's cached DataFrame-debugging switch."""
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    except Exception:
        pass
    # DataFrame-debugging call-site capture (driver-side construction
    # overhead — see get_spark). Its conf is static, so a running session
    # cannot change it; PySpark reads it once per process into a module
    # global, which is the switch left to turn it off.
    if hasattr(_errors_utils, "_enable_debugging_cache"):
        _errors_utils._enable_debugging_cache = False
    return spark
