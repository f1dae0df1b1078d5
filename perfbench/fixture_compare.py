#!/usr/bin/env python3
"""Compare the generated tables with a fixture tier, footer by footer.

    python3 perfbench/fixture_compare.py --fixture DIR [--seed N]

Writes the tables ``datagen.write_tables`` makes for ``--seed`` under
``.perfbench_work/`` and prints, per table, for the generated file and
for ``DIR/<table>.parquet``: whether the schemas match, row count, file
bytes, row groups, and the row groups of the path the catalog resolves
the table to (after its one-time re-chunk), which is the scan layout the
engine actually reads. Exits 1 if a schema or a resolved layout differs.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import pyarrow.parquet as pq  # noqa: E402

import datagen  # noqa: E402
from blockchain_data_ingestion_spark import catalog  # noqa: E402


def _footer(sf_dir: str, name: str) -> dict:
    path = f"{sf_dir}/{name}.parquet"
    pf = pq.ParquetFile(path)
    resolved = catalog._resolve_path(sf_dir, name)
    return {"schema": pf.schema_arrow.remove_metadata(),
            "rows": pf.metadata.num_rows,
            "bytes": os.path.getsize(path),
            "groups": pf.metadata.num_row_groups,
            "scan_groups": pq.ParquetFile(resolved).metadata.num_row_groups}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--fixture", required=True)
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args()
    work = ROOT / ".perfbench_work" / f"compare-{os.getpid()}"
    gen_dir = str(work / "gen")
    try:
        names = datagen.write_tables(gen_dir, args.seed)
        print(f"{'table':11s} {'schema':6s} {'rows gen/fix':>17s} "
              f"{'bytes gen/fix':>21s} {'groups':>6s} {'scan groups':>11s}")
        bad = 0
        for name in names:
            g, f = _footer(gen_dir, name), _footer(args.fixture, name)
            same = g["schema"].equals(f["schema"])
            bad += (not same) + (g["scan_groups"] != f["scan_groups"])
            print(f"{name:11s} {'same' if same else 'DIFF':6s} "
                  f"{g['rows']:>8d}/{f['rows']:<8d} "
                  f"{g['bytes']:>10d}/{f['bytes']:<10d} "
                  f"{g['groups']:>3d}/{f['groups']:<2d} "
                  f"{g['scan_groups']:>5d}/{f['scan_groups']:<5d}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(catalog._LAYOUT_DIR / "gen", ignore_errors=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
