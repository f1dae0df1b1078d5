"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of ``seed``:

- ``write_tables``: the ten catalog tables (TPC-H-style star schema plus
  ``events``, ``documents`` and ``embeddings``), shaped like the sf0.1
  fixture tier: same schemas, row counts, key ranges, categorical
  domains and near-duplicate rate. Each table is written as ONE parquet
  row group, the fixture writer's layout, so the catalog's re-chunk
  shim is exercised exactly as it is on the fixtures.
- ``write_backlog``: a backlog of JSON-lines files of wire-format block
  messages built with ``ingest.fixtures.block_message``, plus the
  manifest the ingest output is checked against.
"""

from __future__ import annotations

import json
import os
import random
from concurrent.futures import ProcessPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: row counts of the sf0.1 tier, scaled linearly by ``scale``. The
#: document corpus is half of the tier's 5 000: checking the three dedup
#: keys against their DuckDB oracles costs ~12 s at 2 500 documents and
#: ~22 s at 5 000 (4 cores), which a run cannot afford. 2 500 documents
#: still make a ~300 KB file, above the catalog's 256 KiB re-chunk
#: threshold, so the dedup ops scan the same 32-row-group layout as on
#: the sf0.1 fixture (``fixture_compare.py`` checks this).
_ROWS = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
         "orders": 150_000, "lineitem": 600_000, "events": 100_000,
         "documents": 2_500, "embeddings": 2_000}

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
              "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = ("a agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan slow small sort spark "
          "stream table the value vector window").split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
#: share of documents that are a near-duplicate (an earlier text + " dup")
_NEAR_DUP_SHARE = 0.05

_US_PER_DAY = 86_400_000_000


def _days(start: str, end: str) -> tuple[int, int]:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return int(lo), int(hi)


def _day_ts(rng: np.random.Generator, n: int, start: str, end: str
            ) -> pa.Array:
    lo, hi = _days(start, end)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * _US_PER_DAY, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float
           ) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _labels(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys]


def _tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = {t: max(int(r * scale), 10) for t, r in _ROWS.items()}
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    ck = np.arange(n["customer"])
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": _labels("Customer", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, len(ck)), pa.int32()),
        "c_acctbal": _money(rng, len(ck), -999.99, 9999.99),
        "c_mktsegment": list(rng.choice(_SEGMENTS, len(ck)))})

    sk = np.arange(n["supplier"])
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": _labels("Supplier", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, len(sk)), pa.int32()),
        "s_acctbal": _money(rng, len(sk), -999.99, 9999.99)})

    pk = np.arange(n["part"])
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(_PART_ADJ, len(pk)), rng.choice(_PART_NOUN, len(pk)))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, len(pk))],
        "p_type": list(rng.choice(_PART_TYPES, len(pk))),
        "p_size": pa.array(rng.integers(1, 51, len(pk)), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})

    ok = np.arange(n["orders"])
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, len(ck), len(ok)),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], len(ok))),
        "o_totalprice": _money(rng, len(ok), 1000.0, 500_000.0),
        "o_orderdate": _day_ts(rng, len(ok), "1995-01-01", "2001-08-01"),
        "o_orderpriority": list(rng.choice(_PRIORITIES, len(ok)))})

    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, len(ok), nl),
        "l_partkey": rng.integers(0, len(pk), nl),
        "l_suppkey": rng.integers(0, len(sk), nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": list(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": list(rng.choice(["F", "O"], nl)),
        "l_shipdate": _day_ts(rng, nl, "1995-01-02", "2001-11-04")})

    ne = n["events"]
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * _US_PER_DAY, ne))
    t["events"] = pa.table({
        "event_id": np.arange(ne),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, 1_500, ne),
        "event_type": list(rng.choice(_EVENT_TYPES, ne)),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    t["documents"] = _documents(rng, n["documents"])

    nv = n["embeddings"]
    vec = rng.normal(0.0, 0.1, (nv, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})
    return t


def _documents(rng: np.random.Generator, nd: int) -> pa.Table:
    texts: list[str] = []
    dup_of = rng.random(nd) < _NEAR_DUP_SHARE
    for i in range(nd):
        if dup_of[i] and texts:
            texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
        else:
            words = rng.choice(_VOCAB, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(nd),
        "text": texts,
        "lang": list(rng.choice(_LANGS, nd, p=_LANG_P)),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})


def write_tables(out_dir: str, seed: int, scale: float = 1.0
                 ) -> dict[str, int]:
    """Write the catalog tables under ``out_dir``; return their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, tbl in _tables(seed, scale).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(tbl.num_rows, 1))
        rows[name] = tbl.num_rows
    return rows


#: per-chain span of block numbers one seed may start its backlog at
_START_SPAN = 1_000_000


def write_backlog(out_dir: str, seed: int, file_blocks: list[int],
                  chains: tuple[str, ...] = ("ETH", "ARB"),
                  redeliveries_per_file: int = 3,
                  corrupt_per_file: int = 2) -> dict:
    """Write one JSON-lines backlog file per entry of ``file_blocks``;
    return the manifest.

    File ``i`` holds ``file_blocks[i]`` distinct blocks, split evenly
    over ``chains`` and contiguous per chain from a seed-chosen start
    height. Into each file the seed also places ``redeliveries_per_file``
    repeated lines (a message delivered twice within one file) and
    ``corrupt_per_file`` undecodable lines. Files get strictly
    increasing mtimes so the file source dequeues them in order.

    The manifest holds, per file: lines written, corrupt lines,
    redeliveries, unique (chain, block) pairs and the number of
    transactions over those unique blocks. The messages are built in up
    to four worker processes, one file at a time each; the output does
    not depend on how many."""
    rnd = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    next_block = {c: rnd.randrange(1, _START_SPAN) for c in chains}
    ranges = []
    for n_blocks in file_blocks:
        spans = []
        for c in chains:
            base = next_block[c]
            next_block[c] += n_blocks // len(chains)
            spans.append((c, base, next_block[c]))
        ranges.append(spans)
    workers = min(4, os.cpu_count() or 1, len(ranges))
    with ProcessPoolExecutor(workers) as pool:
        built = list(pool.map(_unique_lines, ranges))
    files = []
    for i, (lines, n_tx) in enumerate(built):
        unique = len(lines)
        for _ in range(redeliveries_per_file):
            src = lines[rnd.randrange(unique)]
            lines.insert(rnd.randrange(len(lines) + 1), src)
        for k in range(corrupt_per_file):
            bad = '{"block_number": ' + str(k) + ', "chain_name": "ETH"'
            lines.insert(rnd.randrange(len(lines) + 1), bad)
        path = os.path.join(out_dir, f"backlog-{i:05d}.json")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        os.utime(path, (1_000_000_000 + i, 1_000_000_000 + i))
        files.append({"lines": len(lines), "blocks": unique, "tx": n_tx,
                      "corrupt": corrupt_per_file,
                      "redeliveries": redeliveries_per_file})
    return {"files": files}


def _unique_lines(spans: list[tuple[str, int, int]]
                  ) -> tuple[list[str], int]:
    """One backlog file's distinct messages, ``(chain, first, end)`` per
    chain, as JSON lines; and their transaction count."""
    from blockchain_data_ingestion_spark.ingest.fixtures import block_message

    lines: list[str] = []
    n_tx = 0
    for c, first, end in spans:
        for b in range(first, end):
            msg = block_message(c, b)
            n_tx += len(msg["transactions"])
            lines.append(json.dumps(msg))
    return lines, n_tx
