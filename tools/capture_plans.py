#!/usr/bin/env python
"""Capture `.explain("formatted")` for headline (or named) queries into
<out>/<key>_<tag>.txt — before/after plan evidence for a change.

Usage::

    python tools/capture_plans.py {before,after} --out DIR [key ...]

Default keys = bench.py's HEADLINE list; named keys are checked against
the registry before a Spark session starts. Run it from the checkout
whose code should be captured (a copy of the parent commit for
`before`, the working tree for `after`), with `SPARK_GRAFT_SF_DIR` set
to the tier's directory.
"""
from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("tag", choices=("before", "after"))
    ap.add_argument("--out", required=True, type=Path,
                    help="directory the <key>_<tag>.txt files go to")
    ap.add_argument("keys", nargs="*", help="registry keys (default: "
                    "bench.py HEADLINE)")
    args = ap.parse_intermixed_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        ap.error("set SPARK_GRAFT_SF_DIR to the tier's directory")

    from blockchain_data_ingestion_spark.queries import load_all

    registry = load_all()
    if args.keys:
        unknown = [k for k in args.keys if k not in registry]
        if unknown:
            ap.error(f"unknown registry keys: {unknown}")
        keys = args.keys
    else:
        import bench
        keys = [k for k in bench.HEADLINE if k in registry]

    from blockchain_data_ingestion_spark.caching import release_all
    from blockchain_data_ingestion_spark.session import get_spark

    spark = get_spark("plan-capture")
    args.out.mkdir(parents=True, exist_ok=True)
    for key in keys:
        df = registry[key].spark(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        (args.out / f"{key}_{args.tag}.txt").write_text(buf.getvalue())
        release_all()
        print(f"captured {key}_{args.tag}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
