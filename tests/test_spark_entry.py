"""Driver-entry plumbing that is not a query: the per-session engine memo."""

from __future__ import annotations

import gc
import weakref

import __spark_entry__ as entry_mod


def test_engine_memo_does_not_pin_sessions(spark):
    from pyspark.sql.session import _monkey_patch_RDD

    try:
        s2 = spark.newSession()
        eng = entry_mod._engine(s2)
        assert entry_mod._engine(s2) is eng  # memoized per session
        assert entry_mod._engine(spark) is not eng
        ref = weakref.ref(s2)
        # RDD.toDF closes over the newest session; a later session takes
        # that hold off s2, leaving only the memo to keep it alive
        spark.newSession()
        del s2, eng
        gc.collect()
        assert ref() is None
    finally:
        _monkey_patch_RDD(spark)
