"""Session-level query warnings (r13, VERDICT r12 #6 + ADVICE).

The capped pair generators auto-attach a named observation when the
caller passes none; the opt-in QueryExecutionListener reads every
finished query's observed metrics and WARNS when a cap bound (the result
is a capped subset) or when spill crossed the pathology threshold. These
tests drive a crafted hot-bucket corpus through the REGISTERED default
path and assert the warning fires — the capped subset is self-announcing
now, not just visible to callers who passed and read an Observation.
"""

from __future__ import annotations

import time
import warnings

import pytest

from video_data_pipeline_spark import telemetry
from video_data_pipeline_spark.queries.dedup import simhash_near_pairs_capped
from video_data_pipeline_spark.telemetry import (
    CapDivergenceWarning,
    SpillWarning,
    StageMetricsDelta,
    install_query_warnings,
    mark,
    since,
)


@pytest.fixture()
def hot_bucket_docs(spark):
    """40 rotations of one 60-word sentence: identical distinct-word-set
    (hence identical simhash), distinct content — every chunk bucket
    holds all 40 docs, so a small cap BINDS."""
    words = [f"word{i:03d}" for i in range(60)]
    rows = [(i, " ".join(words[i:] + words[:i])) for i in range(40)]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _wait_for(pred, timeout=20.0):
    """The execution-listener bus is asynchronous: poll."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        if pred():
            return True
        time.sleep(0.2)
    return pred()


def test_cap_divergence_warning_fires_on_hot_bucket_corpus(spark, hot_bucket_docs):
    events: list[tuple[str, type]] = []
    handle = install_query_warnings(
        spark, emit=lambda msg, cat: events.append((msg, cat))
    )
    try:
        # REGISTERED default shape: capped, no caller Observation — the
        # auto-attached "cap:simhash_chunks#n" metric carries the bind
        n = simhash_near_pairs_capped(hot_bucket_docs, max_bucket_size=8).count()
        assert n > 0
        assert _wait_for(
            lambda: any(cat is CapDivergenceWarning for _, cat in events)
        ), f"no cap-divergence warning arrived; events={events}"
        msg = next(m for m, cat in events if cat is CapDivergenceWarning)
        assert "cap:simhash_chunks" in msg
        assert "CAPPED SUBSET" in msg
        assert "calibrate=True" in msg  # the escape hatches are named
        # r15 (VERDICT r14 #8): the warning carries the MEASURED recall
        # arithmetic — emitted vs total in-bucket candidate workload
        assert "Emitted in-bucket candidate workload" in msg
        assert "%" in msg
    finally:
        handle.uninstall()


def test_no_warning_when_cap_has_headroom(spark, hot_bucket_docs):
    events: list[tuple[str, type]] = []
    handle = install_query_warnings(
        spark, emit=lambda msg, cat: events.append((msg, cat))
    )
    try:
        simhash_near_pairs_capped(hot_bucket_docs, max_bucket_size=2048).count()
        # drain: run a second trivial action and wait for its event window
        spark.range(1).count()
        time.sleep(1.0)
        assert not any(cat is CapDivergenceWarning for _, cat in events), events
    finally:
        handle.uninstall()


def test_spill_warning_plumbing(spark):
    # forcing >8 GiB of real spill in a unit test is not reasonable; a
    # negative threshold proves the delta + emit path end-to-end
    events: list[tuple[str, type]] = []
    handle = install_query_warnings(
        spark, spill_warn_bytes=-1, emit=lambda msg, cat: events.append((msg, cat))
    )
    try:
        spark.range(10).groupBy("id").count().count()
        assert _wait_for(lambda: any(cat is SpillWarning for _, cat in events))
    finally:
        handle.uninstall()


def test_install_is_idempotent_per_session(spark):
    h1 = install_query_warnings(spark, emit=lambda *a: None)
    try:
        h2 = install_query_warnings(spark, emit=lambda *a: None)
        assert h1 is h2
    finally:
        h1.uninstall()


def test_uninstalled_listener_stops_emitting(spark):
    # py4j wraps the Python listener in a fresh Java proxy per call, so
    # JVM-side unregister can never match — the off-switch is the
    # Python-side active flag. An uninstalled listener must go silent
    # while a newly installed one keeps working.
    a: list[int] = []
    b: list[int] = []
    h1 = install_query_warnings(spark, spill_warn_bytes=-1,
                                emit=lambda m, c: a.append(1))
    spark.range(5).count()
    assert _wait_for(lambda: len(a) > 0)
    h1.uninstall()
    h2 = install_query_warnings(spark, spill_warn_bytes=-1,
                                emit=lambda m, c: b.append(1))
    try:
        n_a = len(a)
        spark.range(5).count()
        assert _wait_for(lambda: len(b) > 0)
        time.sleep(1.0)  # drain any stragglers
        assert len(a) == n_a, "uninstalled listener kept emitting"
    finally:
        h2.uninstall()


def test_stage_metrics_degrade_instead_of_raising():
    # a Spark minor-version change to the private stageList signature must
    # degrade telemetry to zeros, not break the tools
    class DeadSpark:
        @property
        def sparkContext(self):
            raise RuntimeError("API drift")

    telemetry._DEGRADED_WARNED = False
    with pytest.warns(RuntimeWarning, match="telemetry degraded"):
        assert mark(DeadSpark()) is None
    zeros = dict.fromkeys(telemetry.KEYS, 0)
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # one-time: later reads stay silent
        assert since(DeadSpark(), (0, 0)) == zeros
        with StageMetricsDelta(DeadSpark()) as m:
            pass
    assert m.degraded and m.delta == zeros and m.warning is None
    telemetry._DEGRADED_WARNED = False
