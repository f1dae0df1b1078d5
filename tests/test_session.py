"""Session-level engine costs that no single query's plan shows: the
generated-class cache that lets a warm query reuse the Java code its
plan compiled on the last run, and the log line that explains a
session built elsewhere with a smaller cache.
"""

from __future__ import annotations

import logging

from blockchain_data_ingestion_spark import session
from blockchain_data_ingestion_spark.caching import release_all
from blockchain_data_ingestion_spark.queries import load_all

#: The dedup keys: the largest generated-code working set in the
#: registry (179 distinct classes in one pass at sf0.001).
_DEDUP_KEYS = ("dedup_clusters", "op_pipeline_e2e", "op_minhash_dedup")


def _compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far (one histogram
    update per generated-class cache miss)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    return metrics.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def _dedup_pass(spark, sf_dir) -> None:
    specs = load_all()
    for key in _DEDUP_KEYS:
        specs[key].spark(spark, sf_dir).write.format("noop") \
            .mode("overwrite").save()
        release_all()


def test_warm_dedup_pass_compiles_no_generated_code(spark, sf_dir):
    """With Spark's 100-entry default each dedup key evicts the classes
    the next one needs, and a warm pass recompiles ~177 classes at
    sf0.001. Sized to the engine's working set, the second pass over
    the same keys finds every class in the cache."""
    assert (int(spark.conf.get(session._CODEGEN_CACHE_CONF))
            == session._CODEGEN_CACHE_MAX_ENTRIES)
    _dedup_pass(spark, sf_dir)
    before = _compiles(spark)
    _dedup_pass(spark, sf_dir)
    assert _compiles(spark) - before == 0


class _StubConf:
    def __init__(self, values: dict[str, str]):
        self._values = values

    def get(self, key: str) -> str:
        return self._values[key]

    def set(self, key: str, value: str) -> None:
        self._values[key] = value


class _StubSession:
    """Just enough of a SparkSession for ``tune_session``: a conf
    store (every other session call fails and is skipped)."""

    def __init__(self, cache_entries: str):
        self.conf = _StubConf({session._CODEGEN_CACHE_CONF: cache_entries})


def test_tune_session_logs_a_small_codegen_cache(caplog):
    """A session built without the engine's builder (the external
    driver's) keeps Spark's default cache; ``tune_session`` cannot
    raise a static conf, so it says so, once, through the module
    logger."""
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        session.tune_session(_StubSession("100"))
    records = [r for r in caplog.records if r.name == session.__name__]
    assert len(records) == 1
    assert session._CODEGEN_CACHE_CONF in records[0].getMessage()
    assert "100" in records[0].getMessage()

    caplog.clear()
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        session.tune_session(_StubSession(
            str(session._CODEGEN_CACHE_MAX_ENTRIES)))
    assert not [r for r in caplog.records if r.name == session.__name__]


def test_tune_session_is_silent_on_an_engine_session(spark, caplog):
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        session.tune_session(spark)
    assert not [r for r in caplog.records if r.name == session.__name__]
