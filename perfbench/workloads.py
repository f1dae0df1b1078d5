"""The three benchmark workloads: ``ingest``, ``analytics`` and ``dedup``.

Each is a closed loop with one client in one process on
``local[SPARK_GRAFT_CPUS]``. The engine is driven only through its
public functions (``session.get_spark``, ``queries.load_all``,
``catalog.query_sql``, ``QuerySpec.spark``, ``caching.release_all``, the
four ``ingest.transform`` functions) and Structured Streaming.

A run is: generate inputs, set up, one untimed warm-up, a timed phase
of ``seconds``, then the output checks. In a traced run half of the
timed ops (or batches) are traced and the other half are not, paired
in time, which gives the per-layer metrics and the tracing overhead.
"""

from __future__ import annotations

import math
import random
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

import datagen
from spans import (Rest, Tracer, epoch, jvm_peak_rss_mb, op_counts,
                   tail_percentile)

from pyspark.sql import functions as F

from blockchain_data_ingestion_spark import catalog
from blockchain_data_ingestion_spark.caching import release_all
from blockchain_data_ingestion_spark.ingest import (
    blocks_from_messages, parse_block_messages, transactions_from_messages,
    write_analytic_table)
from blockchain_data_ingestion_spark.queries import load_all
from blockchain_data_ingestion_spark.session import get_spark

ANALYTICS_KEYS = (
    "agg_sum_min_max_avg", "join_inner_equi", "join_broadcast", "topk",
    "win_running_agg", "agg_count_distinct", "join_asof", "agg_percentile",
    "tpch_q1", "tpch_q5", "tpch_q9", "tpch_q21", "op_graph_degree",
)
DEDUP_KEYS = ("dedup_clusters", "op_pipeline_e2e", "op_minhash_dedup")

#: untimed batches after the warm-up batch: the JIT keeps making batches
#: faster for a while after the first
SETTLE_BATCHES = 1

#: blocks per backlog file: one file per trigger, ~1 s per batch
BLOCKS_PER_FILE = 1000
#: backlog files per timed second; about twice the rate this engine
#: lands on 4 cores, so the source does not run dry in a timed phase
FILES_PER_SECOND = 1.0

#: per-layer metric name -> unit; every traced run reports all of them
#: (0 where the workload does not use that layer)
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.jvm_peak_rss_mb": "MiB",
    "queries.load_all_s": "s",
    "queries.build_s": "s",
    "queries.action_s": "s",
    "queries.jobs_per_op": "count",
    "queries.stages_per_op": "count",
    "queries.tasks_per_op": "count",
    "queries.latency_tail_s": "s",
    "queries.latency_tail_pct": "%",
    "queries.latency_tail_samples": "count",
    "catalog.first_scan_s": "s",
    "catalog.first_scan_jobs": "count",
    "caching.release_all_s": "s",
    "caching.frames_released": "count",
    "caching.storage_peak_bytes": "B",
    "caching.persistent_rdds_after_op": "count",
    "ingest.plan_s": "s",
    "ingest.write_blocks_s": "s",
    "ingest.write_transactions_s": "s",
    "ingest.rows_in": "count",
    "ingest.corrupt_dropped": "count",
    "ingest.dups_dropped": "count",
    "ingest.blocks_out": "count",
    "ingest.tx_out": "count",
    "ingest.files_written": "count",
    "ingest.bytes_written_per_block": "B",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.latest_offset_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s",
    "streaming.overhead_share": "share",
    "streaming.backlog_files": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.core_busy_share": "share",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.broadcast_bytes": "B",
    "spark.spill_bytes": "B",
    "trace.untraced_throughput_per_s": "1/s",
    "trace.traced_throughput_per_s": "1/s",
    "trace.overhead_share": "share",
}

END_TO_END = {"setup_s": "s", "warmup_s": "s", "throughput_per_s": "1/s",
              "latency_p50_s": "s"}


@dataclass
class Run:
    """One benchmark run's settings and results."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    scale: float
    work: Path
    t_start: float
    tamper: bool = False
    tr: Tracer = field(default_factory=Tracer)
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=lambda: dict.fromkeys(PER_LAYER, 0.0))
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    trace_extra: dict = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)


def _phase(run: Run, name: str) -> None:
    """Progress mark on standard error: seconds since process start."""
    print(f"perfbench: {time.perf_counter() - run.t_start:7.2f}s {name}",
          file=sys.stderr, flush=True)


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _setup(run: Run, gen_s: float, resolve=None):
    """Session, registry and (for the query workloads) the first catalog
    resolution, ``resolve(spark)``. ``setup_s`` is the process's wall
    time up to here, less the input generation, which a user of the
    engine does not pay."""
    run.tr.enabled = run.trace
    with run.tr.span("session.get_spark") as s:
        spark = get_spark("perfbench")
    run.layer["session.get_spark_s"] = s.dur
    with run.tr.span("queries.load_all") as s:
        registry = load_all()
    run.layer["queries.load_all_s"] = s.dur
    if resolve is not None:
        sc = spark.sparkContext
        if run.trace:
            sc.setJobGroup("setup.catalog", "first catalog resolution")
        with run.tr.span("catalog.first_scan") as s:
            resolve(spark)
        run.layer["catalog.first_scan_s"] = s.dur
        if run.trace:
            run.layer["catalog.first_scan_jobs"] = op_counts(
                sc, "setup.catalog")["jobs"]
    run.tr.enabled = False
    run.e2e["setup_s"] = time.perf_counter() - run.t_start - gen_s
    return spark, registry


def _spark_layer(run: Run, spark, window: tuple[float, float]) -> None:
    """Engine metrics summed over the jobs of the traced timed phase."""
    sc = spark.sparkContext
    rest = Rest(sc)
    rest.settle()
    m = rest.window_metrics(*window)
    wall = max(window[1] - window[0], 1e-9)
    run.layer.update({
        "spark.executor_run_s": m["run_s"],
        "spark.executor_cpu_s": m["cpu_s"],
        "spark.jvm_gc_s": m["gc_s"],
        "spark.core_busy_share": m["run_s"] / (wall * sc.defaultParallelism),
        "spark.shuffle_read_bytes": m["shuffle_read"],
        "spark.shuffle_write_bytes": m["shuffle_write"],
        "spark.broadcast_bytes": m["broadcast"],
        "spark.spill_bytes": m["spill"],
    })
    run.layer["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)


def _overhead(run: Run, untraced: float, traced: float) -> None:
    run.layer["trace.untraced_throughput_per_s"] = untraced
    run.layer["trace.traced_throughput_per_s"] = traced
    run.layer["trace.overhead_share"] = (1.0 - traced / untraced
                                         if untraced else 0.0)


# ---------------------------------------------------------------- queries

@dataclass
class Op:
    key: str
    op_id: str
    build: float = 0.0
    action: float = 0.0
    release: float = 0.0
    frames: int = 0
    error: str | None = None
    result: object = None
    counts: dict | None = None
    storage: int = 0
    persistent: int = 0
    traced: bool = False
    wall: float = 0.0

    @property
    def latency(self) -> float:
        return self.build + self.action


class QueryLoop:
    """Runs registry keys one after another, each to the noop sink
    (or collected, for the output check), releasing scoped state after
    every op as ``bench.py`` does."""

    def __init__(self, run: Run, spark, registry, sf_dir: str):
        self.run, self.spark, self.registry = run, spark, registry
        self.sf_dir = sf_dir
        self.sc = spark.sparkContext
        self.rest = Rest(self.sc)
        if run.trace:
            self.rest.get("/jobs")   # the first request starts the API (~2 s)
        self.n = 0

    def op(self, key: str, collect: bool = False, traced: bool = False
           ) -> Op:
        tr = self.run.tr
        tr.enabled = traced
        self.n += 1
        op = Op(key, f"op{self.n}.{key}", traced=traced)
        t0 = time.perf_counter()
        if traced:
            self.sc.setJobGroup(op.op_id, key)
        with tr.span("op", op.op_id):
            try:
                with tr.span("queries.build", op.op_id) as s:
                    df = self.registry[key].spark(self.spark, self.sf_dir)
                op.build = s.dur
                with tr.span("queries.action", op.op_id) as s:
                    if collect:
                        op.result = df.toPandas()
                    else:
                        df.write.mode("overwrite").format("noop").save()
                op.action = s.dur
            except Exception as exc:  # noqa: BLE001 — counted, run goes on
                op.error = f"{type(exc).__name__}: {exc}"[:300]
            if traced:
                op.storage = self.rest.storage_bytes()
            with tr.span("caching.release_all", op.op_id) as s:
                op.frames = release_all()
            op.release = s.dur
        if traced:
            op.persistent = self.sc._jsc.getPersistentRDDs().size()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        tr.enabled = False
        op.wall = time.perf_counter() - t0
        return op

    def timed(self, keys, rng: random.Random, seconds: float
              ) -> tuple[list[Op], tuple[float, float]]:
        """Closed loop of whole passes over ``keys``, each pass in a
        seed-shuffled order: as many passes as fit ``seconds`` at the
        first pass's pace, at least two, so the median is never one op
        of a three-key pass. Whole passes keep the key mix, and with it
        the median, the same from run to run; fixing the count after the
        first pass keeps a pass that takes about half of ``seconds`` from
        running twice in some runs and three times in others.

        In a traced run each key runs twice in a row, once traced and
        once not, so the tracing overhead is measured on the same keys
        at the same point of the run. The traced op goes first in odd
        passes and second in even ones: the second run of a key is the
        warmer one.
        Returns the ops and the phase's epoch window."""
        ops: list[Op] = []
        passes = done = 1
        e0, t0 = time.time(), time.perf_counter()
        while done <= passes:
            order = list(keys)
            rng.shuffle(order)
            for key in order:
                if self.run.trace:
                    first = done % 2 == 1
                    ops.append(self.op(key, traced=first))
                    ops.append(self.op(key, traced=not first))
                else:
                    ops.append(self.op(key))
            if done == 1:
                passes = max(2, round(seconds / (time.perf_counter() - t0)))
            done += 1
        return ops, (e0, time.time())


def _rate(ops: list[Op]) -> float:
    """Completed ops per second of the ops' own wall time."""
    return (sum(1 for o in ops if o.error is None)
            / max(sum(o.wall for o in ops), 1e-9))


def query_workload(run: Run, keys: tuple[str, ...]) -> None:
    # the directory name tags the catalog's layout cache; a per-run name
    # lets the run remove its cache entries when it ends
    sf_dir = str(run.work / "data" / run.work.name)
    g0 = time.perf_counter()
    written = datagen.write_tables(sf_dir, run.seed, run.scale)
    _prime_layout_cache(sf_dir, written)
    gen_s = time.perf_counter() - g0

    _phase(run, "inputs")
    spark, registry = _setup(
        run, gen_s,
        lambda s: catalog.query_sql(s, sf_dir, "SELECT * FROM region"))
    _phase(run, "set up")
    expected = _oracle_results(run, registry, sf_dir, keys)
    _phase(run, "oracle results")
    loop = QueryLoop(run, spark, registry, sf_dir)
    rng = random.Random(run.seed)

    # warm-up: one untimed pass that also collects every key's result
    # for the output check
    order = list(keys)
    rng.shuffle(order)
    t0 = time.perf_counter()
    first = [loop.op(k, collect=True) for k in order]
    run.e2e["warmup_s"] = time.perf_counter() - t0
    _phase(run, "warm-up pass")

    ops, window = loop.timed(keys, rng, run.seconds)
    _phase(run, "timed phase")
    ok = [o for o in ops if o.error is None]
    run.e2e["latency_p50_s"] = _median(o.latency for o in ok)
    run.e2e["throughput_per_s"] = len(ok) / max(window[1] - window[0], 1e-9)
    pct, tail, n = tail_percentile([o.latency for o in ok])
    run.layer["queries.latency_tail_s"] = tail
    run.layer["queries.latency_tail_pct"] = pct
    run.layer["queries.latency_tail_samples"] = n

    if run.trace:
        traced = [o for o in ops if o.traced]
        for o in traced:     # after the loop: ~0.3 s of py4j calls per op
            o.counts = op_counts(loop.sc, o.op_id)
        _query_layers(run, traced)
        _overhead(run, _rate([o for o in ops if not o.traced]),
                  _rate(traced))
        _spark_layer(run, spark, window)
        run.trace_extra["ops"] = [
            {"op": o.op_id, "build_s": o.build, "action_s": o.action,
             "release_s": o.release, "frames": o.frames, **(o.counts or {}),
             "storage_bytes": o.storage, "error": o.error} for o in traced]

    run.attempted = len(first) + len(ops)
    for o in first + ops:
        if o.error is not None:
            run.fail(f"{o.op_id}: {o.error}")
    _compare(run, first, expected)
    _stop(spark)
    _phase(run, "stopped")


def _query_layers(run: Run, ops: list[Op]) -> None:
    ok = [o for o in ops if o.error is None] or ops
    run.layer.update({
        "queries.build_s": _median(o.build for o in ok),
        "queries.action_s": _median(o.action for o in ok),
        "queries.jobs_per_op": statistics.fmean(o.counts["jobs"] for o in ok),
        "queries.stages_per_op": statistics.fmean(o.counts["stages"]
                                                  for o in ok),
        "queries.tasks_per_op": statistics.fmean(o.counts["tasks"]
                                                 for o in ok),
        "caching.release_all_s": _median(o.release for o in ops),
        "caching.frames_released": statistics.fmean(o.frames for o in ops),
        "caching.storage_peak_bytes": max(o.storage for o in ops),
        "caching.persistent_rdds_after_op": max(o.persistent for o in ops),
    })


def _prime_layout_cache(sf_dir: str, names) -> None:
    """Run the catalog's one-time re-chunk of the fresh tables now, so
    that set-up never includes it. Skipped if the catalog has no such
    step (then set-up pays it, on every run alike)."""
    resolve = getattr(catalog, "_resolve_path", None)
    if resolve is None:
        return
    for name in names:
        resolve(sf_dir, name)


def _oracle_results(run: Run, registry, sf_dir: str, keys) -> dict:
    """Each key's DuckDB oracle twin over the same tables, through the
    test suite's oracle connection: the expected output (or the error
    the oracle raised). Spill directories that earlier, ended runs left
    behind are removed first, as the repository's tools do."""
    from blockchain_data_ingestion_spark.scratch import drop_stale_duck_spill
    from tests.oracle import oracle_connection

    drop_stale_duck_spill()
    out = {}
    con = oracle_connection(sf_dir)
    try:
        for key in keys:
            try:
                out[key] = con.execute(registry[key].oracle).fetchdf()
                if run.tamper:
                    out[key] = out[key].iloc[:-1]
            except Exception as exc:  # noqa: BLE001
                out[key] = f"oracle failed: {type(exc).__name__}: {exc}"[:300]
    finally:
        con.close()
    return out


def _compare(run: Run, first: list[Op], expected: dict) -> None:
    """Each key's collected result against its oracle result,
    order-insensitively, as the test suite does."""
    from tests.oracle import compare_frames

    for op in first:
        if op.error is not None:
            continue
        want = expected[op.key]
        diff = want if isinstance(want, str) else compare_frames(op.result,
                                                                 want)
        if diff is not None:
            run.fail(f"{op.key}: {diff}")


# ----------------------------------------------------------------- ingest

class _Feed:
    """The stream's foreachBatch, and the state it shares with the main
    thread. Batch 0 is the warm-up and the next ``SETTLE_BATCHES`` are
    untimed; batches that start within ``seconds`` after those are
    timed; later ones are no-ops that tell the main thread to stop the
    query. In a traced run half the timed batches are traced, interleaved
    with the untraced ones."""

    def __init__(self, run: Run, out: Path):
        self.run = run
        self.blocks_out = str(out / "blocks")
        self.tx_out = str(out / "transactions")
        self.deadline = math.inf
        self.batches: dict[int, dict] = {}
        self.calls = 0
        self.done = threading.Event()

    def __call__(self, df, batch_id: int) -> None:
        self.calls += 1
        now = time.perf_counter()
        timed = batch_id > SETTLE_BATCHES
        if timed and self.deadline == math.inf:
            self.deadline = now + self.run.seconds
        if now >= self.deadline:
            self.done.set()
            return
        # untraced, traced, traced, untraced, ...: each traced batch is
        # as often before as after its untraced neighbour, so the JIT's
        # speed-up from batch to batch does not favour either side
        k = batch_id - SETTLE_BATCHES - 1
        traced = self.run.trace and timed and k % 4 in (1, 2)
        tr = self.run.tr
        tr.enabled = traced
        rec = {"timed": timed, "traced": traced, "error": None}
        op = f"batch{batch_id}"
        try:
            with tr.span("ingest.batch", op):
                with tr.span("ingest.plan", op) as s:
                    msgs = parse_block_messages(df)
                    blocks = blocks_from_messages(msgs)
                    # blocks_from_messages drops redelivered blocks but
                    # transactions_from_messages does not, so the
                    # benchmark drops them (one more shuffle per batch,
                    # counted in the batch's time) before exploding
                    txs = transactions_from_messages(
                        msgs.dropDuplicates(["chain_name", "block_number"]))
                rec["plan"] = s.dur
                with tr.span("ingest.write_blocks", op) as s:
                    write_analytic_table(blocks, self.blocks_out)
                rec["write_blocks"] = s.dur
                with tr.span("ingest.write_transactions", op) as s:
                    write_analytic_table(txs, self.tx_out)
                rec["write_tx"] = s.dur
        except Exception as exc:  # noqa: BLE001 — counted, stream goes on
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
        tr.enabled = False
        self.batches[batch_id] = rec


def ingest_workload(run: Run) -> None:
    backlog = run.work / "backlog"
    per_file = max(int(BLOCKS_PER_FILE * run.scale), 10)
    file_blocks = [per_file] * (1 + SETTLE_BATCHES + math.ceil(
        FILES_PER_SECOND * run.seconds))
    n_files = len(file_blocks)
    g0 = time.perf_counter()
    manifest = datagen.write_backlog(str(backlog), run.seed, file_blocks)
    gen_s = time.perf_counter() - g0

    _phase(run, "inputs")
    spark, _ = _setup(run, gen_s, None)
    _phase(run, "set up")
    feed = _Feed(run, run.work / "out")
    stream = (spark.readStream.format("text")
              .option("maxFilesPerTrigger", "1").load(str(backlog)))
    query = (stream.writeStream.foreachBatch(feed)
             .option("checkpointLocation", str(run.work / "checkpoint"))
             .start())
    try:
        while not feed.done.wait(0.25):
            if query.exception() is not None:
                raise RuntimeError(str(query.exception()))
            status = query.status
            if (feed.calls >= n_files and not status["isDataAvailable"]
                    and not status["isTriggerActive"]):
                break      # backlog drained before the deadline
    finally:
        query.stop()
    _phase(run, "stream stopped")
    progress = {p["batchId"]: p for p in query.recentProgress}

    real = sorted(feed.batches)
    if real != list(range(len(real))) or not set(real) <= set(progress):
        run.fail(f"batches missing or out of order: {real}")
        real = [b for b in real if b in progress]
    run.attempted = max(len(real), 1)
    for b in real:
        if feed.batches[b]["error"]:
            run.fail(f"batch {b}: {feed.batches[b]['error']}")

    def secs(b: int, part: str = "triggerExecution") -> float:
        return progress[b]["durationMs"].get(part, 0) / 1e3

    def start(b: int) -> float:
        return epoch(progress[b]["timestamp"])

    def blocks(ids) -> int:
        return sum(manifest["files"][b]["blocks"] for b in ids)

    timed = [b for b in real if feed.batches[b]["timed"]]
    if 0 in progress:
        run.e2e["warmup_s"] = secs(0)
    if timed:
        window = (start(timed[0]), start(timed[-1]) + secs(timed[-1]))
        run.e2e["latency_p50_s"] = _median(secs(b) for b in timed)
        run.e2e["throughput_per_s"] = blocks(timed) / max(
            window[1] - window[0], 1e-9)
    else:
        run.fail("no timed batch completed")

    if run.trace and timed:
        traced = [b for b in timed if feed.batches[b]["traced"]]
        plain = [b for b in timed if not feed.batches[b]["traced"]]
        _ingest_layers(run, feed, timed, traced, secs, n_files)
        if traced and plain:
            _overhead(run, blocks(plain) / sum(secs(b) for b in plain),
                      blocks(traced) / sum(secs(b) for b in traced))
        _spark_layer(run, spark, window)
        run.trace_extra["batches"] = {
            str(b): {**feed.batches[b], "durationMs": progress[b]["durationMs"]}
            for b in real}

    _phase(run, "metrics")
    _check_ingest(run, spark, feed, manifest, real, backlog)
    _phase(run, "output check")
    _stop(spark)
    _phase(run, "stopped")


def _ingest_layers(run: Run, feed: _Feed, timed: list[int],
                   traced: list[int], secs, n_files: int) -> None:
    recs = [feed.batches[b] for b in traced if not feed.batches[b]["error"]]
    trig = sum(secs(b) for b in timed)
    add = sum(secs(b, "addBatch") for b in timed)
    run.layer.update({
        "ingest.plan_s": _median(r["plan"] for r in recs),
        "ingest.write_blocks_s": _median(r["write_blocks"] for r in recs),
        "ingest.write_transactions_s": _median(r["write_tx"] for r in recs),
        "streaming.trigger_s": _median(secs(b) for b in timed),
        "streaming.add_batch_s": _median(secs(b, "addBatch") for b in timed),
        "streaming.latest_offset_s": _median(secs(b, "latestOffset")
                                             for b in timed),
        "streaming.query_planning_s": _median(secs(b, "queryPlanning")
                                              for b in timed),
        "streaming.wal_commit_s": _median(secs(b, "walCommit")
                                          for b in timed),
        "streaming.commit_offsets_s": _median(secs(b, "commitOffsets")
                                              for b in timed),
        "streaming.overhead_share": 1.0 - add / trig if trig else 0.0,
        "streaming.backlog_files": n_files - (timed[-1] + 1),
    })


def _check_ingest(run: Run, spark, feed: _Feed, manifest: dict,
                  real: list[int], backlog: Path) -> None:
    """Landed tables against the generator's manifest, over the files
    the real batches consumed (file i is batch i: one file per trigger,
    dequeued in mtime order)."""
    if not real:
        return
    files = manifest["files"][:len(real)]
    want = {"lines": sum(f["lines"] for f in files),
            "corrupt": sum(f["corrupt"] for f in files),
            "blocks": sum(f["blocks"] for f in files),
            "tx": sum(f["tx"] for f in files)}
    if run.tamper:
        want["tx"] += 1
    try:
        raw = spark.read.text([str(backlog / f"backlog-{i:05d}.json")
                               for i in range(len(real))])
        rows_in = raw.count()
        # an undropped corrupt line would land as a block and show in
        # the block count; the parse count itself is a traced metric
        parsed = parse_block_messages(raw).count() if run.trace else None
        blocks_out, pairs = spark.read.parquet(feed.blocks_out).agg(
            F.count("*"), F.count_distinct("chain_name", "block_number")
        ).first()
        tx_out = spark.read.parquet(feed.tx_out).count()
    except Exception as exc:  # noqa: BLE001
        run.fail(f"ingest check failed: {type(exc).__name__}: {exc}"[:300])
        return
    got = {"lines": rows_in, "blocks": blocks_out, "tx": tx_out}
    if parsed is not None:
        got["corrupt"] = rows_in - parsed
    if pairs != blocks_out:
        run.fail(f"duplicate (chain, block) rows: {blocks_out - pairs}")
    for k, v in got.items():
        if want[k] != v:
            run.fail(f"ingest {k}: landed {v}, manifest {want[k]}")
    if parsed is None:
        return
    written = [p for d in (feed.blocks_out, feed.tx_out)
               for p in Path(d).rglob("*.parquet")]
    run.layer.update({
        "ingest.rows_in": rows_in,
        "ingest.corrupt_dropped": rows_in - parsed,
        "ingest.dups_dropped": parsed - blocks_out,
        "ingest.blocks_out": blocks_out,
        "ingest.tx_out": tx_out,
        "ingest.files_written": len(written) / len(real),
        "ingest.bytes_written_per_block": (
            sum(p.stat().st_size for p in written) / max(blocks_out, 1)),
    })


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        proc.wait(timeout=60)


WORKLOADS = {
    "ingest": ingest_workload,
    "analytics": lambda run: query_workload(run, ANALYTICS_KEYS),
    "dedup": lambda run: query_workload(run, DEDUP_KEYS),
}
