"""Stage-metrics telemetry (video_data_pipeline_spark/telemetry.py).

Pins the contract tools/scale_probe.py and tools/bench_e2e.py rely on:
one windowed reader (``mark`` / ``since``) over the driver's status store
that walks newest first and stops at its mark, counts jobs, stages, tasks
and task time but no reused (SKIPPED) stage, sees a shuffle job's bytes,
lands when the body raises (a dying query's spill is the datum the probe
wants), reads zeros rather than history when its mark failed, and fires
the spill warning on threshold crossing.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from video_data_pipeline_spark import telemetry
from video_data_pipeline_spark.telemetry import StageMetricsDelta, mark, since

_KEYS = {
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "task_ms",
    "input_bytes",
    "disk_spill_bytes",
    "memory_spill_bytes",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
}


def test_window_metrics_shape(spark):
    m = since(spark, mark(spark))
    assert set(m) == _KEYS
    assert all(isinstance(v, int) and v >= 0 for v in m.values())


class _Row:
    """A status-store job or stage, as py4j presents it."""

    def __init__(self, i: int, status: str = "COMPLETE"):
        self._i, self._status = i, status

    def jobId(self):  # noqa: N802 (Java name)
        return self._i

    stageId = jobId  # noqa: N815

    def status(self):  # a Java enum: the name comes from toString()
        return type("StageStatus", (), {"toString": lambda _: self._status})()

    def __getattr__(self, getter):  # every metric getter reads 1
        return lambda: 1


class _NewestFirst:
    """Iterator over ids high..1 that fails the test if advanced past
    ``stop``."""

    def __init__(self, high: int, stop: int, status=lambda i: "COMPLETE"):
        self._next, self._stop, self._status = high, stop, status

    def hasNext(self):  # noqa: N802 (Java name)
        return self._next > 0

    def next(self):
        if self._next < self._stop:  # pytest.fail escapes since()'s except
            pytest.fail(f"walked past the mark to id {self._next}")
        self._next -= 1
        return _Row(self._next + 1, self._status(self._next + 1))


def test_since_stops_at_the_mark(monkeypatch):
    # a window read costs the window, not the retained store: ids 1000..1
    # are listed newest first, the mark is (990, 995), so the walk may
    # read ids down to the first one at or below the mark and no further
    monkeypatch.setattr(
        telemetry,
        "_newest_first",
        lambda spark: (
            _NewestFirst(1000, 990),
            _NewestFirst(1000, 995, lambda i: "SKIPPED" if i == 999 else "COMPLETE"),
        ),
    )
    out = since(None, (990, 995))
    assert out["jobs"] == 10
    assert out["stages"] == 4  # 1000, 998, 997, 996: 999 was SKIPPED
    assert out["tasks"] == out["task_ms"] == out["shuffle_write_bytes"] == 4
    # an end mark drops what came after it
    bounded = since(None, (990, 995), (995, 997))
    assert (bounded["jobs"], bounded["stages"]) == (5, 2)


def test_reused_shuffle_stage_is_not_counted(spark):
    # the same DataFrame run twice reuses its shuffle: the map stage is
    # listed again as SKIPPED (0 tasks) in the second window, and under
    # AQE the result job of the FIRST run lists it SKIPPED too. Neither
    # window counts it, so each job here runs exactly one counted stage.
    df = spark.range(20_000).select((F.col("id") % 17).alias("k"))
    df = df.groupBy("k").count()
    with StageMetricsDelta(spark) as first:
        df.collect()
    with StageMetricsDelta(spark) as second:
        df.collect()
    for m in (first, second):
        assert m.delta["jobs"] > 0
        assert m.delta["stages"] == m.delta["jobs"], m.delta
    assert second.delta["shuffle_write_bytes"] == 0, "shuffle was not reused"


def test_delta_sees_shuffle_bytes(spark):
    df = spark.range(200_000).select((F.col("id") % 97).alias("k"))
    with StageMetricsDelta(spark) as m:
        df.groupBy("k").count().write.format("noop").mode("overwrite").save()
    assert set(m.delta) == _KEYS
    assert m.delta["shuffle_write_bytes"] > 0, "groupBy wrote no shuffle bytes?"
    for key in ("jobs", "stages", "tasks", "task_ms"):
        assert m.delta[key] > 0, (key, m.delta)
    assert m.delta["failed_tasks"] == 0
    assert m.secs > 0
    assert m.warning is None, "healthy job must not warn"


def test_delta_counts_only_window_stages(spark):
    # windows sum stages NEWER than their mark (immune to the status
    # store evicting pre-window stages mid-window) — so work done BEFORE
    # the window must not leak in, and an empty window reads zero
    df = spark.range(50_000).select((F.col("id") % 13).alias("k"))
    df.groupBy("k").count().write.format("noop").mode("overwrite").save()
    with StageMetricsDelta(spark) as m:
        pass
    assert all(v == 0 for v in m.delta.values()), m.delta


def test_delta_lands_on_exception(spark):
    with pytest.raises(Exception, match="boom"):
        with StageMetricsDelta(spark) as m:
            spark.range(10).count()
            raise RuntimeError("boom")
    assert m.delta, "delta must be populated even when the body raises"


def test_spill_warning_threshold(spark):
    df = spark.range(100_000).select((F.col("id") % 7).alias("k"))
    # warn_bytes=-1: ANY job crosses — exercises the warning path without
    # having to force a real multi-GiB spill in CI
    with StageMetricsDelta(spark, warn_bytes=-1) as m:
        df.groupBy("k").count().write.format("noop").mode("overwrite").save()
    assert m.warning is not None and "SPILL WARNING" in m.warning


def test_degraded_enter_scan_reports_zeros_not_history(spark, monkeypatch):
    # if the mark read on entry fails but the exit read succeeds, summing
    # from no mark would count the session's entire retained stage
    # history — an overcount. A degraded window must read all-zero.
    # ensure there IS history that a missing mark would otherwise sweep up
    df = spark.range(50_000).select((F.col("id") % 11).alias("k"))
    df.groupBy("k").count().write.format("noop").mode("overwrite").save()
    real = telemetry._newest_first
    calls = {"n": 0}

    def flaky(s):
        calls["n"] += 1
        if calls["n"] == 1:  # the mark read on entry fails
            raise RuntimeError("status store unavailable")
        return real(s)

    monkeypatch.setattr(telemetry, "_DEGRADED_WARNED", True)
    monkeypatch.setattr(telemetry, "_newest_first", flaky)
    with telemetry.StageMetricsDelta(spark, warn_bytes=-1) as m:
        df.groupBy("k").count().write.format("noop").mode("overwrite").save()
    assert calls["n"] == 1, "a window with no mark must not read the store"
    assert m.degraded
    assert m.delta == dict.fromkeys(telemetry.KEYS, 0)
    assert m.warning is None, "a degraded window must not warn"


def test_listener_degraded_anchor_reanchors_without_overcount(spark):
    # same contract on the listener path: a failed anchor scan makes the
    # next window re-anchor and SKIP its check instead of summing history
    from video_data_pipeline_spark.telemetry import _QueryWarningListener

    events = []
    listener = _QueryWarningListener(spark, -1, lambda m, c: events.append(m))
    listener._mark = None  # simulate a failed mark
    spark.range(10_000).select((F.col("id") % 5).alias("k")).groupBy(
        "k"
    ).count().write.format("noop").mode("overwrite").save()
    listener._check_spill("save")
    assert events == [], "degraded-anchor window must skip, not warn"
    assert listener._mark is not None and listener._mark[1] >= 0
    # and the NEXT window works normally (warn_bytes=-1 => any job warns)
    spark.range(10_000).select((F.col("id") % 5).alias("k")).groupBy(
        "k"
    ).count().write.format("noop").mode("overwrite").save()
    listener._check_spill("save")
    assert events, "re-anchored listener must resume warning"


def test_installed_registry_does_not_pin_or_alias_sessions():
    # ADVICE r13: id()-keyed _INSTALLED let a new session reuse a dead
    # session's CPython id and fetch the stale handle. The registry is now
    # weak-keyed and its values hold the session weakly, so entries vanish
    # with the session instead of pinning it.
    import gc
    import weakref

    from video_data_pipeline_spark import telemetry

    assert isinstance(telemetry._INSTALLED, weakref.WeakKeyDictionary)

    class FakeSession:  # weakref-able stand-in
        pass

    fake = FakeSession()
    handle = telemetry.QueryWarningsHandle(fake, listener=None)
    telemetry._INSTALLED[fake] = handle
    assert fake in telemetry._INSTALLED
    ref = weakref.ref(fake)
    del fake
    gc.collect()
    assert ref() is None, "handle/registry must not keep the session alive"
