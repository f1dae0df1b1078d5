"""SparkSession builder tuned for the engine.

Local mode is a test harness only; every knob here is chosen so the same
logical plans scale to a multi-executor cluster:

- AQE on (runtime join-strategy switches, skew-join splitting, partition
  coalescing) — at 100 TB the optimizer must re-plan on real sizes.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a cluster this
  is superseded by AQE's coalescing from an intentionally-high initial value.
- UTC session timezone everywhere: parquet fixtures are tz-naive and the
  DuckDB oracle compares naive timestamps.
- Arrow enabled: every Python-boundary crossing (pandas UDFs, toPandas)
  is columnar-batched, never row-at-a-time pickling.
- Nested-schema pruning on: projections over ``array<struct>`` transaction
  columns prune unread struct fields at the parquet scan.
"""

from __future__ import annotations

import logging
import os

# Use py4j's legacy GatewayServer instead of the pinned-thread
# ClientServer (r15). The box's kernel changed between rounds
# (6.18.5-fc-v20) and pinned-thread mode's per-call thread handoff
# now costs ~30.5 ms per py4j round-trip on it (measured; raw
# loopback TCP is 0.16 ms and a plain Java echo server answers in
# 0.09 ms, so the stall is specific to ClientServer's dispatch).
# With dozens of gateway calls per DataFrame action that put a
# ~1.7 s floor under EVERY Spark job (20 trivial count() jobs:
# 34.3 s) and inflated the sf0.1 bench 5× (13.2 s -> 68.7 s while
# DuckDB moved only 1.4×). Legacy mode measures 1.84 ms/call and a
# 0.23 s job floor — the r14-era numbers. Must be set before the
# JVM gateway launches; setdefault so an explicit override wins.
# Trade-off: pinned threads exist for Python-thread-to-JVM-thread
# affinity (thread-local localProperties across user threads); the
# engine sets no per-thread local properties and the full pytest /
# parity ladder runs green under legacy mode.
os.environ.setdefault("PYSPARK_PIN_THREAD", "false")

from pyspark.sql import SparkSession  # noqa: E402

__all__ = ["get_spark", "tune_session"]

_log = logging.getLogger(__name__)

#: Size of Spark's generated-class cache (an LRU keyed by generated
#: source; Spark's default holds 100 classes). The engine's working set
#: is larger. Distinct classes compiled by one pass with a large cache:
#: 179 for the three dedup keys (`dedup_clusters`, `op_pipeline_e2e`,
#: `op_minhash_dedup`) at sf0.001, 381 for those plus 13 analytics keys
#: at sf0.1, 37 for one ingest micro-batch. At 100 entries each dedup
#: key evicts the classes the next one needs, so every warm query
#: re-runs Janino (177 recompiles per warm dedup pass at sf0.001, 412
#: per warm analytics+dedup pass at sf0.1) and restarts that code cold
#: in the JVM interpreter; at 1024 a warm pass compiles 0 (sf0.001) or
#: 4-8 (sf0.1) classes. Memory cost: none measurable — Metaspace after
#: three analytics+dedup passes at sf0.1 read 177 MB at 1024 against
#: 184 MB at 100, where recompiled copies pile up until class
#: unloading. Static conf: only a builder can set it, so it is not in
#: ``_DEFAULTS`` (which ``tune_session`` replays on live sessions).
_CODEGEN_CACHE_MAX_ENTRIES = 1024
_CODEGEN_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"

_DEFAULTS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # InferFiltersFromGenerate turns explode(expensive_expr) into a
    # `size(expensive_expr) > 0` filter that PushDownPredicates then sinks
    # below every exchange onto the scan stage — for computed arrays
    # (shingles, n-grams) that inlines the whole CPU-heavy pipeline into a
    # serially-evaluated predicate (fixture scans are one row group = one
    # task; measured 2.4× on MinHash). Explode already skips empty/null
    # arrays, so excluding the rule is semantics-free; the only loss is a
    # cosmetic size()>0 pre-filter that parquet cannot push anyway.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    # Exact, ANSI-defined overflow/cast behavior; the engine relies on
    # explicit casts, never silent wraparound.
    "spark.sql.ansi.enabled": "false",
    # size(NULL) must be NULL, not the legacy Hive -1: with ansi off,
    # Spark's default still returns -1, which leaks a phantom "-1
    # tokens" into every size(split(text,...)) aggregate the moment a
    # corpus has one NULL text (r12 null-seed fuzz: 5 keys emitted
    # -1.0 where DuckDB's len(NULL) is NULL, and every token-total
    # drifted ±1 through sum() treating -1 as a value where NULL is
    # skipped). NULL-in → NULL-out is also what the oracles' dialect
    # and ANSI mode do.
    "spark.sql.legacy.sizeOfNull": "false",
    "spark.ui.showConsoleProgress": "false",
    # Fixture-scale scan fan-out: the test parquet is megabytes, so the
    # 128 MB default packs every file into one split and the scan runs on
    # one core. 1 MB splits spread the multi-row-group layout-cache copies
    # (see catalog._optimized_path) across the local cores (measured q1
    # 0.43 s -> 0.20 s at sf0.1); a copy under 1 MB stays one split. A
    # real deployment reading TB-scale files overrides this back up via
    # spark-submit — many small tasks at 100 TB would swamp the
    # scheduler; the right production value is 128-512 MB with files
    # written in like-sized row groups.
    "spark.sql.files.maxPartitionBytes":
        os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "1m"),
}


def get_spark(app_name: str = "blockchain_data_ingestion_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) a tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    On a real cluster, pass ``master=None`` with a pre-set spark-submit
    master and only the SQL confs apply.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cpus}]")
    n_shuffle = shuffle_partitions or (32 if cpus == "*" else max(int(cpus), 1))
    builder = builder.config("spark.sql.shuffle.partitions", str(n_shuffle))
    builder = builder.config("spark.driver.memory",
                             os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    builder = builder.config(_CODEGEN_CACHE_CONF,
                             str(_CODEGEN_CACHE_MAX_ENTRIES))
    # Shuffle/spill scratch on tmpfs when available: local-mode shuffle
    # writes are tiny but latency-critical, and a co-tenant hammering the
    # shared disk turns millisecond spill writes into multi-second fsync
    # stalls (measured: a 5 MB collect_list shuffle spiking 0.8 s -> 9.8 s
    # under external I/O load). RAM-backed scratch removes that failure
    # mode. On a real cluster this points at executor-local NVMe instead —
    # override via SPARK_GRAFT_LOCAL_DIR or leave unset semantics intact.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _quiet_bounded_window_warning(spark)
    return spark


def _quiet_bounded_window_warning(spark: SparkSession) -> None:
    """Raise the WindowExec logger to ERROR (r13, VERDICT r12 item 4).

    Every intentional global window routes through
    ``operators.bounded.bounded_window`` with a written boundedness
    argument, and the MECHANICAL alarm for unintentional ones is the
    two-sided plan-walk lint
    (`test_unpartitioned_ordered_windows_are_whitelisted`) — the
    runtime `No Partition Defined` warning added only noise on top
    (dozens per bench tail, drowning every other WARN). Best-effort:
    the log4j2 Configurator is a JVM-internal surface; a Spark that
    repackages it just keeps the warning."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR)
    except Exception:  # noqa: BLE001 — cosmetic only, never fail a session
        pass


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable confs to an externally-created
    session (the driver owns session creation in verify runs)."""
    for k, v in _DEFAULTS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # static conf on a running session — skip
            pass
    # An externally-built session usually carries the 200-partition
    # default; at fixture scale that is 200 near-empty tasks per
    # exchange. Cap to the session's core count (runtime-settable, plan-
    # equivalent — AQE coalescing already erases the difference on real
    # data sizes; this just spares the scheduler on tiny ones).
    try:
        cores = spark.sparkContext.defaultParallelism
        if int(spark.conf.get("spark.sql.shuffle.partitions")) > 4 * cores:
            spark.conf.set("spark.sql.shuffle.partitions",
                           str(max(cores, 1)))
    except Exception:
        pass
    _check_codegen_cache(spark)
    _quiet_bounded_window_warning(spark)
    return spark


def _check_codegen_cache(spark: SparkSession) -> None:
    """Log when a session built elsewhere (e.g. a driver's own builder)
    runs with a generated-class cache smaller than the engine's: the
    conf is static, so ``tune_session`` cannot raise it, and warm
    queries will recompile their generated code."""
    try:
        live = int(spark.conf.get(_CODEGEN_CACHE_CONF))
    except Exception:  # noqa: BLE001 — unreadable conf: nothing to explain
        return
    if live < _CODEGEN_CACHE_MAX_ENTRIES:
        _log.warning(
            "%s=%d is below the engine's %d (static conf; set it when "
            "building the session): warm queries will recompile "
            "generated code", _CODEGEN_CACHE_CONF, live,
            _CODEGEN_CACHE_MAX_ENTRIES)
