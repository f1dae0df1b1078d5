"""Text-dedup operator contracts the SQL oracle cannot see on its own:
the size-gated verification-shape switch of `op_minhash_dedup` (the
oracle only ever sees one result set; the gate picks between two
exact-equivalent physical shapes), its hash-equality across shapes, and
the zero-job, byte-budgeted band-table persist that every key built on
`_minhash_bands` shares.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from blockchain_data_ingestion_spark.queries import llm_text, load_all


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_minhash_rejoin_variant_hash_equal(spark, sf_dir, monkeypatch):
    """The two verification shapes are EXACT equivalents: identical
    rows, identical schema, on the same corpus. `inline` rides the
    shingle set on band rows (fast at fixture scale); `rejoin` keeps
    band rows payload-free and re-joins the shingle index on doc_id
    (the 100 TB shape — VERDICT r13 item 2). A fixture 'straddles the
    threshold' by monkeypatching the gate both ways around the
    fixture's actual ~300 B/doc average."""
    q = load_all()["op_minhash_dedup"].spark
    # far above the fixture average → auto picks inline
    monkeypatch.setattr(
        llm_text, "_MINHASH_INLINE_MAX_AVG_TEXT_BYTES", 1 << 30)
    inline = q(spark, sf_dir)
    # below the fixture average → auto picks rejoin on the SAME corpus
    monkeypatch.setattr(llm_text, "_MINHASH_INLINE_MAX_AVG_TEXT_BYTES", 1)
    rejoin = q(spark, sf_dir)
    assert inline.columns == rejoin.columns
    assert _rows(inline) == _rows(rejoin)


def test_minhash_rejoin_band_rows_carry_no_payload(spark, sf_dir,
                                                   monkeypatch):
    """Plan assertion for the gate, both directions: the rejoin shape
    must have NO collect_list feeding the band self-join (that array is
    exactly the doc-sized payload the shape exists to keep out of the
    candidate shuffle), and the inline shape must still use it (the
    measured ~2.8× fixture-scale win must not silently vanish)."""
    q = load_all()["op_minhash_dedup"].spark
    monkeypatch.setattr(llm_text, "_MINHASH_INLINE_MAX_AVG_TEXT_BYTES", 1)
    plan = q(spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_list" not in plan, (
        "rejoin shape still re-nests shingles onto band rows")
    assert "array_intersect" not in plan
    monkeypatch.setattr(
        llm_text, "_MINHASH_INLINE_MAX_AVG_TEXT_BYTES", 1 << 30)
    plan = q(spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_list" in plan and "array_intersect" in plan


#: every key built on `_minhash_bands`, the one MinHash path.
_MINHASH_KEYS = ("op_minhash_dedup", "op_incremental_dedup",
                 "op_minhash_est_vs_exact", "op_minhash_threshold_sweep")


@pytest.mark.parametrize("key", _MINHASH_KEYS)
def test_minhash_gate_is_metadata_only(spark, sf_dir, key):
    """The gates read parquet footers, not the cluster: building the
    plan launches zero Spark jobs (the band-table persist is lazy)."""
    from blockchain_data_ingestion_spark.catalog import (
        table, table_column_avg_bytes)

    avg = table_column_avg_bytes(sf_dir, "documents", "text")
    assert avg is not None and 0 < avg < 16_384  # fixture docs are small
    table(spark, sf_dir, "documents")            # warm first-touch setup
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    load_all()[key].spark(spark, sf_dir)
    assert set(tracker.getJobIdsForGroup(None)) == before


@pytest.mark.parametrize("key", _MINHASH_KEYS)
def test_minhash_inline_cache_gate_is_byte_budgeted(spark, sf_dir,
                                                    monkeypatch, key):
    """The band-table persist of every inline-verifying MinHash key is
    gated on estimated TOTAL corpus text bytes (r16, VERDICT r15 item
    3): the cached frame carries the full shingle payload per doc, so
    a many-small-docs corpus must not write ~3x its size to executor
    local disk just because the avg-bytes gate picked inline. Under
    budget the plan carries an InMemoryRelation; over budget the SAME
    logical plan runs unpersisted — and the results are identical
    either way."""
    q = load_all()[key].spark
    # pin inline mode regardless of fixture stats
    monkeypatch.setattr(
        llm_text, "_MINHASH_INLINE_MAX_AVG_TEXT_BYTES", 1 << 30)
    monkeypatch.setattr(
        llm_text, "_MINHASH_INLINE_CACHE_MAX_TOTAL_TEXT_BYTES", 1 << 40)
    from blockchain_data_ingestion_spark.caching import release_all

    cached = q(spark, sf_dir)
    plan = cached._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in plan, "under-budget inline lost its persist"
    cached_rows = _rows(cached)
    release_all()  # else the CacheManager substitutes the live persist
    monkeypatch.setattr(
        llm_text, "_MINHASH_INLINE_CACHE_MAX_TOTAL_TEXT_BYTES", 1)
    uncached = q(spark, sf_dir)
    plan = uncached._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" not in plan, (
        "over-budget inline still persists a corpus-scale band table")
    assert "collect_list" in plan  # still the inline verification shape
    assert cached_rows == _rows(uncached)


def test_malformed_cache_budget_fails_the_op_not_the_import(
        spark, sf_dir, monkeypatch):
    """A malformed ``SPARK_GRAFT_MINHASH_CACHE_BUDGET_BYTES`` used to
    break the registry import (a bare ``int()`` at module load), taking
    every key down with it. It is read when the inline gate runs: the
    registry imports, and only the op that reads it fails, naming the
    variable."""
    monkeypatch.setenv("SPARK_GRAFT_MINHASH_CACHE_BUDGET_BYTES", "8GiB")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c",
         "from blockchain_data_ingestion_spark.queries import load_all;"
         "print(len(load_all()))"],
        capture_output=True, text=True, timeout=300, cwd=root)
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert int(proc.stdout.split()[-1]) > 300

    # pin inline mode, the shape that consults the budget
    monkeypatch.setattr(
        llm_text, "_MINHASH_INLINE_MAX_AVG_TEXT_BYTES", 1 << 30)
    with pytest.raises(ValueError,
                       match="SPARK_GRAFT_MINHASH_CACHE_BUDGET_BYTES"):
        load_all()["op_minhash_dedup"].spark(spark, sf_dir)
