"""tables.table's handle memo: hits share one lazy handle, and handles of
stopped sessions are released."""

from __future__ import annotations

import gc
import weakref


class _Context:
    def __init__(self):
        self._jsc = object()


class _Session:
    """Stand-in carrying the one attribute SparkContext.stop() clears."""

    def __init__(self):
        self._sc = _Context()


def test_stopped_session_handles_are_released(monkeypatch):
    from bcdp_spark import tables

    monkeypatch.setattr(tables, "_HANDLES", {})
    monkeypatch.setattr(tables, "_load_table", lambda spark, d, n: object())
    old, new = _Session(), _Session()
    handle = tables.table(old, "/fx", "region")
    assert tables.table(old, "/fx", "region") is handle
    tables.table(old, "/fx", "nation")
    old._sc._jsc = None  # what SparkContext.stop() does
    tables.table(new, "/fx", "region")
    assert [k[0] for k in tables._HANDLES] == [new]
    ref = weakref.ref(old)
    del old, handle
    gc.collect()
    assert ref() is None


def test_live_session_is_not_stopped(spark):
    from bcdp_spark.tables import _stopped

    assert not _stopped(spark)
