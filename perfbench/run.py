#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,analytics,dedup} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Inputs are generated from ``--seed``
under ``.perfbench_work/`` (removed at exit); traced runs write their
spans to ``.perfbench_out/``. Every metric is printed as
``<workload> <name> <value> <unit>``, then the last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``). See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOAD_NAMES = ("ingest", "analytics", "dedup")


def _environment(work: Path) -> None:
    """Engine defaults, except the core count; every file the run
    writes stays inside the checkout. That costs three departures from
    the engine's defaults: Spark's scratch space moves from ``/dev/shm``
    to disk under ``work``; Python's and the JVM's temporary files go to
    ``work/tmp``; and ``-XX:-UsePerfData`` stops the JVM from writing its
    ``hsperfdata`` file under ``/tmp``, which ignores ``java.io.tmpdir``.
    """
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    # one core is left to the client, the JVM's own threads and the OS:
    # runs then lose less time when the host takes CPU time from the VM
    # (see README, "Measured spread")
    os.environ["SPARK_GRAFT_CPUS"] = str(
        max(1, min(4, os.cpu_count() or 1) - 1))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")


def _parse(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # input size factor and a deliberately wrong expected output, for
    # the benchmark's own tests
    p.add_argument("--scale", type=float, default=1.0, help=argparse.SUPPRESS)
    p.add_argument("--tamper", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    if not (ROOT / "blockchain_data_ingestion_spark").is_dir():
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    _environment(work)
    sys.path[:0] = [str(HERE), str(ROOT)]
    import workloads as W

    run = W.Run(workload=args.workload, seed=args.seed,
                seconds=args.seconds, trace=bool(args.trace),
                scale=args.scale, work=work, t_start=T_START,
                tamper=args.tamper)
    try:
        W.WORKLOADS[args.workload](run)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(ROOT / ".layout_cache" / work.name, ignore_errors=True)

    if run.trace:
        out = ROOT / ".perfbench_out"
        out.mkdir(exist_ok=True)
        run.tr.dump(str(out / f"trace-{args.workload}-seed{args.seed}.json"),
                    {"workload": args.workload, "seed": args.seed,
                     "metrics": run.layer, **run.trace_extra})

    for problem in run.problems:
        print(f"{args.workload} FAILED {problem}")
    units, values = ((W.PER_LAYER, run.layer) if run.trace
                     else (W.END_TO_END, run.e2e))
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u}
               for k, u in units.items()}
    metrics_shown = {**metrics, "failed_share": {
        "value": run.failed / max(run.attempted, 1), "unit": "share"}}
    for name, m in metrics_shown.items():
        print(f"{args.workload} {name} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": run.failed == 0,
                      "attempted": max(run.attempted, 1),
                      "failed": run.failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
