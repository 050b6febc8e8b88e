"""Spill-safety audit for within-query caches (r12 verdict #7).

The widened+persisted shingle frame in ``lsh_precision_recall_audit``
and the ``duplicated_span_stats`` span table are unbounded at 100 TB —
their caches must use a disk-spillable storage level so memory pressure
degrades to spill, never to eviction-recompute churn or OOM.  PySpark's
``DataFrame.persist()`` default is ``MEMORY_AND_DISK_DESER`` (spills),
so the audit asserts no call site downgraded to a memory-only level.
"""

from __future__ import annotations

import pytest
from pyspark import StorageLevel
from pyspark.sql import DataFrame

from conftest import SF_DIR

AUDITED_QUERIES = [
    "lsh_precision_recall_audit",
    "duplicated_span_stats",
    "pagerank_importance",  # per-round mass + edge caches (iterative)
]


@pytest.mark.parametrize("name", AUDITED_QUERIES)
def test_query_persists_are_spill_safe(spark, name, monkeypatch):
    from klinker_spark.queries import QUERIES

    requested: list[StorageLevel] = []
    # patch the CONCRETE class — Spark 4's classic DataFrame subclass
    # overrides persist(), so patching the pyspark.sql.DataFrame base
    # would record nothing
    df_cls = type(spark.range(1))
    assert issubclass(df_cls, DataFrame)
    orig = df_cls.persist

    def recording_persist(
        self, storageLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER
    ):
        requested.append(storageLevel)
        return orig(self, storageLevel)

    monkeypatch.setattr(df_cls, "persist", recording_persist)
    QUERIES[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
    assert requested, f"{name} is expected to cache at least one frame"
    for lvl in requested:
        assert lvl.useDisk, (
            f"{name} persisted a frame at {lvl} — memory-only caches are"
            " unbounded-eviction risks at scale; use a *_AND_DISK level"
        )
