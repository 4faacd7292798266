"""The session memo: one per-session cache that lets stopped sessions go.

Fake sessions stand in for SparkSessions, so no second JVM is needed
(stopping a real session would kill the shared fixture)."""

from __future__ import annotations

import gc
import weakref
from types import SimpleNamespace


class FakeSession:
    """Just enough of a SparkSession for the memo and its readers. A
    frame built for it holds it, as a DataFrame holds its session."""

    def __init__(self):
        self.sparkContext = SimpleNamespace(_jsc=object(),
                                            defaultParallelism=4)
        self.read = SimpleNamespace(
            parquet=lambda path: FakeFrame(self, path))

    def stop(self):
        self.sparkContext._jsc = None


class FakeFrame:
    isStreaming = False

    def __init__(self, session, path):
        self.sparkSession = session
        self.path = path
        self.rdd = SimpleNamespace(getNumPartitions=lambda: 8)

    def semanticHash(self):
        return hash(self.path)


def test_stopped_session_is_released():
    """Once a session stops, the next memo call from another session
    drops everything it held, so the session itself can be collected."""
    from geobuf_cpp_spark.plans.partitioning import spread
    from geobuf_cpp_spark.sources.readers import table_df

    a = FakeSession()
    orders = table_df(a, "sf", "orders")
    assert table_df(a, "sf", "orders") is orders
    assert spread(orders) is orders   # 8 splits >= 4 cores: no shuffle
    a_ref = weakref.ref(a)
    a.stop()
    del a, orders

    b = FakeSession()
    table_df(b, "sf", "orders")
    gc.collect()
    assert a_ref() is None
    b.stop()


def test_live_sessions_keep_their_entries():
    """Calls from another session never clear a live session's entries,
    and a build runs once per session and key, even one returning None."""
    from geobuf_cpp_spark.session import session_memo

    a, b = FakeSession(), FakeSession()
    builds = []

    def build():
        builds.append(1)
        return len(builds)

    assert session_memo(a, "k", build) == 1
    assert session_memo(b, "k", build) == 2
    assert session_memo(a, "k", build) == 1
    assert session_memo(b, "k", build) == 2
    shipped = []
    session_memo(a, "ship", lambda: shipped.append(1))
    session_memo(a, "ship", lambda: shipped.append(1))
    assert (len(builds), len(shipped)) == (2, 1)
    a.stop()
    b.stop()
