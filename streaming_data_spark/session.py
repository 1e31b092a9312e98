"""SparkSession factory.

One place to configure the engine so every entry point (tests, bench,
driver contract, jobs) gets identical semantics:

- AQE on (runtime re-planning, skew-join handling) — the 100 TB story:
  partition counts chosen at runtime from real sizes, not guesses.
- Arrow on for the few Pandas-UDF operators (vectorized transfer).
- Session timezone pinned to UTC so timestamp semantics are stable and
  oracle-comparable (DuckDB timestamps are UTC-naive).
- ``spark.sql.shuffle.partitions`` defaults to 4x the local core
  count and AQE coalesces DOWN per query; on a real cluster the same
  rule scales to the few-thousand a 100 TB shuffle needs. The 4x
  headroom is measured, not aesthetic: x31_bigram_lm at x100 reads
  30.0 s with initial=cores (32) and 5.0 s at 128 — the explode-
  amplified bigram shuffle spills at 32 sort segments, and AQE can
  coalesce an over-provisioned shuffle but never split an
  under-provisioned one (the r13/r14 scale finding). Small queries
  pay nothing: AQE merges their shuffles back to a handful of
  partitions at runtime.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def local_cores() -> int:
    """The session's core count: $SPARK_GRAFT_CPUS, else the host's."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def _default_shuffle_partitions(cores: int) -> int:
    """4x cores: AQE coalesces over-provisioned shuffles down at
    runtime but cannot split an under-provisioned one, so the initial
    count carries headroom for explode-amplified shuffles (measured:
    x31_bigram_lm at x100, 32 -> 30.0 s vs 128 -> 5.0 s)."""
    return 4 * cores


def _default_driver_memory(mem_total_kb: int) -> str:
    """Half the host's RAM, at least 1g and at most 32g: in local[N]
    the one driver JVM hosts every task slot, and a heap past physical
    memory grows into the OS instead of spilling."""
    return f"{max(1, min(32, mem_total_kb // (2 << 20)))}g"


def _mem_total_kb() -> int:
    """MemTotal from /proc/meminfo; a host without it gets the 32g cap."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 64 << 20


def get_session(
    app_name: str = "streaming-data-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Local mode defaults to ``local[$SPARK_GRAFT_CPUS]`` with shuffle
    partitions = 4x cores (AQE coalesces small shuffles back down;
    see _default_shuffle_partitions for the measured rationale).
    """
    cores = local_cores()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cores}]")
        # -- correctness-critical session semantics --------------------
        .config("spark.sql.session.timeZone", "UTC")
        # -- adaptive execution: the scale story -----------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # -- JVM sizing: in local[N] the ONE driver JVM hosts all N
        # task slots, and Spark's 1g default heap starves 32-way
        # parallel shuffles (observed: q21's triple self-join OOMs at
        # 10x sf0.1), so the default is sized from host RAM. Only
        # consulted at JVM launch — a getOrCreate against a live
        # session keeps its existing heap. On a real cluster
        # executors size their own JVMs and this is moot.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM")
            or _default_driver_memory(_mem_total_kb()),
        )
        # -- shuffle sizing -------------------------------------------
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions is not None
                else _default_shuffle_partitions(cores)),
        )
        # -- Python data sources: allow pushFilters() (rest_pages) -----
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # -- Arrow for pandas_udf / mapInPandas / toPandas -------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # -- quieter local runs ---------------------------------------
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# -- input-bytes-aware shuffle sizing (r13 scale finding) ---------------
#
# AQE coalesces small shuffle partitions DOWN from the initial
# ``spark.sql.shuffle.partitions`` but — skew-join splitting aside —
# never splits past that initial count, so an initial count sized for
# the small scale silently becomes a spill cliff at the large one
# (measured: x35_lm_score at x1000, ~1B token instances — 32
# partitions -> 117 s, 256 -> 75 s; plan identical, pure spill).  The
# asymmetry dictates the rule: derive the INITIAL count from input
# bytes and round UP — overshooting is cheap (AQE trims empty/small
# partitions at runtime), undershooting is the expensive direction
# (AQE cannot add partitions).  This is the standard cluster knob
# (inputs / target partition bytes); here it is automatic.

# Target is ENCODED (parquet-on-disk) bytes per shuffle partition.
# Parquet's dictionary/RLE + snappy encode row data ~3-5x smaller than
# its in-memory/shuffle representation, and shuffle sort/hash volume
# tracks ROW bytes — so 32 MB of encoded input per partition keeps the
# in-memory partition near the classic 128 MB envelope. Measured (r16,
# q3_shipping_priority at x1000: 12 GB encoded over 3 tables): the old
# 128 MB-encoded target gave 128 partitions and a spill-bound 66.9 s;
# 256 -> 41.0 s; 512 (~24 MB encoded/part) -> 32.0 s with an identical
# plan — the same pure-spill signature as the r13 x35_lm_score finding
# (32 parts -> 117 s, 256 -> 75 s).
_SHUFFLE_TARGET_BYTES = 32 << 20
# Runaway guard only: 1 TB encoded input at 32 MB/part. A real
# 1000-executor cluster runs tens of thousands of shuffle partitions
# routinely; the cap exists to bound a pathological byte-count, not to
# tune.
_SHUFFLE_PARTITION_CAP = 32768


def input_bytes(spark: SparkSession, *paths: str) -> int:
    """Total bytes under ``paths`` via the Hadoop FileSystem API (so
    HDFS/S3/file: URIs all work on a real cluster); falls back to a
    local walk for plain paths when the JVM gateway is unavailable."""
    try:
        # Py4JError is the common base of Py4JJavaError (Java raised),
        # Py4JNetworkError (gateway died mid-call), and protocol
        # faults — ALL of which mean the gateway was LIVE enough to be
        # the real diagnosis. Only a genuinely absent gateway
        # (ImportError here, AttributeError/RuntimeError below) may
        # route to the local-walk fallback (r15 advice).
        from py4j.protocol import Py4JError
    except ImportError:  # pragma: no cover — no py4j, no Java side
        Py4JError = ()
    total = 0
    for path in paths:
        # Resolve the filesystem first; only a missing JVM gateway
        # routes to the local fallback. Once the FS resolves, a
        # missing path is a distinct, honest FileNotFoundError and any
        # OTHER fault (auth error, transient S3/HDFS unreachability)
        # re-raises as-is — conflating them sent remote-but-reachable
        # URIs to a local fallback that could never see them (r14
        # advice).
        fs = jpath = None
        try:
            jvm = spark._jvm
            jpath = jvm.org.apache.hadoop.fs.Path(path)
            fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        except Py4JError:
            # The gateway is LIVE and the py4j call itself failed —
            # Java rejected the path/scheme (no FileSystem for scheme,
            # missing connector jar, auth init failure) or the
            # connection faulted mid-call: that is the real diagnosis;
            # the local fallback could only mask it as "nonexistent"
            # or, worse, return a coincidental local path's bytes.
            raise
        except Exception:  # noqa: BLE001 — gateway/py4j unavailable
            pass
        if fs is not None:
            if not fs.exists(jpath):
                # A typo'd/unmounted path must FAIL here, not silently
                # contribute 0 bytes: a zero-byte reading floors the
                # partition count at core parallelism, which is the
                # exact spill cliff autosizing exists to prevent.
                raise FileNotFoundError(
                    f"input_bytes: no such path {path!r} (Hadoop FS "
                    "resolved, path absent)")
            total += fs.getContentSummary(jpath).getLength()
            continue
        # Local fallback (no JVM): strip a file: scheme so local URIs
        # still resolve.
        local = path
        for prefix in ("file://", "file:"):
            if local.startswith(prefix):
                local = local[len(prefix):]
                break
        if os.path.isfile(local):
            total += os.path.getsize(local)
        elif os.path.isdir(local):
            for root, _dirs, files in os.walk(local):
                total += sum(
                    os.path.getsize(os.path.join(root, f)) for f in files
                )
        else:
            raise FileNotFoundError(
                f"input_bytes: no such path {path!r} (no JVM gateway; "
                "local walk found nothing)"
            )
    return total


def autosize_shuffle_partitions(
    spark: SparkSession,
    *paths: str,
    target_bytes: int = _SHUFFLE_TARGET_BYTES,
    floor: int | None = None,
    cap: int = _SHUFFLE_PARTITION_CAP,
) -> int:
    """Set ``spark.sql.shuffle.partitions`` from the bytes under
    ``paths`` (the tables the upcoming queries read — passing the
    whole dataset dir is correct: the count is an initial CEILING
    that AQE coalesces down per-query, so unread tables only ever
    round it up, never hurt).  Returns the count applied.

    ``n = clamp(floor, ceil(bytes / target_bytes), cap)`` with
    ``floor`` defaulting to max(core parallelism, the session's
    CURRENT setting) — autosizing only ever RAISES the count (the
    same asymmetry as the 4x default: undershoot is the direction
    AQE cannot repair). A caller that needs a fixed count passes
    ``floor``/``cap`` or sets ``spark.sql.shuffle.partitions`` itself.
    """
    if floor is not None:
        lo = floor
    else:
        try:
            current = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except Exception:
            current = 0
        lo = max(spark.sparkContext.defaultParallelism, current)
    n = min(cap, max(lo, -(-input_bytes(spark, *paths) // target_bytes)))
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    return n
