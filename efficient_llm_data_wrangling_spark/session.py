"""SparkSession construction and tuning.

Scale posture: these defaults are written for a real multi-executor
cluster (AQE on, broadcast threshold sized for dimension tables, shuffle
partitions sized to cores) and degrade gracefully on ``local[N]`` for
tests. Runtime-settable confs are also applied defensively to sessions
we did not create (the correctness driver hands us its own session).
"""

from __future__ import annotations

import os
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession

_MIB = 1024**2
_GIB = 1024**3
#: Ceiling and floor of the default driver heap; the floor is Spark's own default.
_MAX_DRIVER_HEAP = 12 * _GIB
_MIN_DRIVER_HEAP = 1 * _GIB
#: cgroup v2, then v1: the memory limit a container runs under.
_CGROUP_MEMORY_LIMIT_FILES = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)


def _cgroup_memory_limit() -> int | None:
    """Bytes of this process's cgroup memory limit, or None if unlimited/unreadable."""
    for path in _CGROUP_MEMORY_LIMIT_FILES:
        try:
            text = Path(path).read_text().strip()
        except OSError:
            continue
        if text.isdigit():
            return int(text)
    return None


def default_driver_memory() -> str:
    """Default ``spark.driver.memory``: half the memory this process may
    use, clamped to [1 GiB, 12 GiB].

    The memory is physical RAM, or the cgroup limit where that is lower
    (inside a container ``SC_PHYS_PAGES`` reports the host's RAM). Falls
    back to ``12g`` where physical memory cannot be read.
    """
    try:
        physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return "12g"
    if physical <= 0:
        return "12g"
    limit = _cgroup_memory_limit()
    budget = min(physical, limit) if limit else physical
    heap = max(_MIN_DRIVER_HEAP, min(_MAX_DRIVER_HEAP, budget // 2))
    return f"{heap // _GIB}g" if heap % _GIB == 0 else f"{heap // _MIB}m"


#: Confs that must be set before the session starts.
STARTUP_CONFS: dict[str, str] = {
    # Local mode runs driver and executors in ONE JVM whose default
    # heap is 1 GiB — a 50-headliner bench session at sf0.1
    # accumulates checkpoint blocks + broadcast builds well past that
    # (three independent OOMs traced to it in the r12 second session:
    # the full-suite cascade, the sweep's unigram plan, and
    # skipgram's bench broadcast). The heap is min(12 GiB, half of the
    # host's memory), never below 1 GiB: the other half holds what
    # sits beside the heap, measured over a full test-suite run — the
    # JVM's resident size exceeds -Xmx by ~1.3 GiB, the pytest driver
    # process reaches 2.9 GB, and each local[8] pandas-UDF worker takes
    # ~66 MB. A fixed 12 GiB on a 15.7 GiB host let the JVM reach
    # 13.9 GB and the kernel's OOM killer end it mid-suite. Hosts with
    # >= 24 GiB keep 12 GiB; get_spark(extra_conf=...) overrides it.
    "spark.driver.memory": default_driver_memory(),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.ui.enabled": "false",
    # Spark 4 turned ANSI mode on by default; its per-operation
    # overflow/bounds checks cost ~2x on this engine's hot integer
    # kernels (measured: the 64-term unrolled squared-L2 over 1M
    # cached pairs runs 2.2-3.0 s ANSI-on vs 1.1-1.4 s ANSI-off,
    # interleaved A/B). Every kernel here carries an explicit int64
    # bounds analysis in its docstring (micro-unit coordinates bound
    # products at dims x (2e6)^2, ln arguments are rescaled before
    # 2^53, counts are cross-multiplied under documented caps), so the
    # checks can never fire on valid data; non-ANSI semantics are the
    # Spark <= 3.5 default this engine's oracle parity was designed
    # against. Scale-independent (less CPU per row at any data size);
    # re-verified by the full 314-query oracle sweep after the flip.
    # ELLDW_ANSI=1 keeps ANSI on (see RUNTIME_CONFS) for periodic
    # loud-overflow correctness sweeps.
    "spark.sql.ansi.enabled": "true" if os.environ.get("ELLDW_ANSI") == "1" else "false",
    # PySpark 4's per-API-call origin capture walks the full Python
    # stack on EVERY DataFrame/Column call to enrich error messages
    # (pyspark.errors.utils._capture_call_site). Expression-heavy
    # builders here issue tens of thousands of such calls per query —
    # measured 3.7 s of a single graph-query build, pure driver-side
    # bookkeeping. The flag only controls error-message enrichment,
    # never results; scale-independent.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}

#: Escape hatch for the ANSI flip (ADVICE r12): ``ELLDW_ANSI=1`` keeps
#: Spark 4's ANSI mode ON session-wide, so a periodic correctness sweep
#: can prove the kernels' int64 bounds analyses hold on the data at
#: hand — under non-ANSI an overflow would wrap silently; under ANSI it
#: fails loudly. Perf-only posture is unchanged when the variable is
#: unset. Note that ``tune()`` applies this (like every runtime conf)
#: to sessions the engine did not create: the ANSI flip is
#: semantics-bearing session-wide, which is exactly why the hatch
#: exists.
_ANSI_MODE = "true" if os.environ.get("ELLDW_ANSI") == "1" else "false"

#: Confs that can be flipped on a live session (spark.conf.set).
RUNTIME_CONFS: dict[str, str] = {
    # Also applied to sessions we did not create (see STARTUP_CONFS
    # rationale): pyspark caches this flag at the FIRST decorated API
    # call, so tune() must set it before any query builds a plan on a
    # driver-owned session.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # see STARTUP_CONFS: ANSI checks cost ~2x on the bounds-proven
    # integer kernels; runtime-settable, so foreign sessions get it
    # too. ELLDW_ANSI=1 re-enables ANSI for loud-overflow sweeps.
    "spark.sql.ansi.enabled": _ANSI_MODE,
    # One shuffle partition per core locally; on a 1000-executor cluster
    # AQE coalescing makes a high initial value safe, so scale with
    # parallelism rather than hard-coding 200.
    "spark.sql.shuffle.partitions": "32",
    # Dimension tables (region/nation/customer/supplier/part at test SF)
    # must broadcast; 64 MiB covers every dim at sf<=1 while fact tables
    # (lineitem/orders at 100 TB) still sort-merge.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    # Arrow batches for pandas UDFs: large enough to amortize transfer,
    # small enough to bound worker memory.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # The events table stores TIMESTAMP(NANOS) parquet, which Spark
    # rejects by default; read as raw nanos and convert in the loader.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Pandas-UDF closures reference package modules; cloudpickle ships
    them by name, so workers must be able to import the package even
    when the driver process runs from an unrelated cwd (the
    correctness/bench driver does). ``addPyFile`` is the runtime
    mechanism that works on any cluster manager, not just local mode.
    """
    sc = spark.sparkContext
    if getattr(sc, "_elldw_pkg_shipped", False):
        return
    pkg_root = Path(__file__).resolve().parent
    zip_path = Path(tempfile.gettempdir()) / "efficient_llm_data_wrangling_spark_pkg.zip"
    tmp = zip_path.with_suffix(".zip.tmp")
    with zipfile.ZipFile(tmp, "w") as zf:
        for py in sorted(pkg_root.rglob("*.py")):
            zf.write(py, arcname=str(py.relative_to(pkg_root.parent)))
    os.replace(tmp, zip_path)
    sc.addPyFile(str(zip_path))
    sc._elldw_pkg_shipped = True


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (best-effort).

    The correctness/bench driver builds its own ``SparkSession``; every
    public query entry point calls :func:`tune` so plans see the same
    optimizer posture regardless of who built the session.
    """
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # immutable in this session — keep going
            pass
    try:
        # Split small scans across all cores: a 5k-document corpus
        # arrives as 1-3 parquet row groups, which would otherwise pin
        # expression-heavy per-row work (minhash signatures, simhash
        # votes) to 3 tasks. On a big cluster large tables already have
        # more splits than cores, so this floor only helps small inputs.
        spark.conf.set(
            "spark.sql.files.minPartitionNum", str(spark.sparkContext.defaultParallelism)
        )
    except Exception:
        pass
    try:
        _ship_package(spark)
    except Exception:  # never let shipping break plan construction
        pass
    return spark


def ensure_parallelism(df, multiplier: int = 1):
    """Round-robin repartition IFF the plan has fewer partitions than
    cores — used ahead of expression-heavy per-row operators (minhash
    signatures, simhash votes, per-pair set arithmetic).

    A small local corpus often arrives as ONE parquet row group, which
    pins all downstream computation to one task no matter what the
    split confs say. On a real cluster a large table already has far
    more splits than ``defaultParallelism``, so this is a no-op there —
    it never adds a shuffle at the 100 TB scale it would hurt.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * multiplier
    try:
        current = df.rdd.getNumPartitions()
    except Exception:
        return df
    if current < target:
        return df.repartition(target)
    return df


def get_spark(
    app_name: str = "efficient-llm-data-wrangling-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default
    32) so the same entry point works under the bench driver and tests.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for key, value in {**STARTUP_CONFS, **RUNTIME_CONFS, **(extra_conf or {})}.items():
        builder = builder.config(key, value)
    return tune(builder.getOrCreate())
