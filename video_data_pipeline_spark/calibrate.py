"""Hot-bucket cap pre-flight: measure a corpus BEFORE the pair joins run.

Every pair generator (minhash-LSH bands, prefix-filter buckets,
containment postings, simhash pigeonhole chunks) caps its candidate
buckets by default. The caps never bind on non-degenerate corpora, but on
a boilerplate-heavy crawl they can, and then the registered query returns
a capped SUBSET, not the oracle answer (the simhash default emits 3.28M
of 6.64M oracle pairs on the 10x-perturbed sfp1 corpus,
CORRECTNESS_sfp1_r12.json). ``calibrate=True`` runs :func:`preflight`
first:

1. **measure** — :func:`measure_front` is ONE linear groupBy per front
   (no pair expansion, so it is safe where the joins would not be). A
   family's fronts are measured in order, a later one only when the
   first binds.
2. **decide** — :func:`decide` is pure arithmetic over the measurements
   and the current :class:`Budget`; it returns one :class:`Plan` or
   raises :class:`CapBoundError`: ``cap=None`` → ``explicit_uncapped``
   (nothing measured); an explicit non-default cap → ``explicit_capped``
   (accepted partial recall, measured and reported, never refused); the
   first front does not bind → ``default``; it binds → ``exact_uncapped``
   on the cheapest measured front whose uncapped workload fits the budget
   (every front of a family is complete, so the output stays exact), or
   a refusal by name instead of a silent capped subset.

Measurements memoize by corpus fingerprint; decisions re-derive against
the current budget. Only the budget-invariant :class:`FrontStats` is
cached, keyed by (front name, :func:`corpus_fingerprint`, cap), so a
repeated refusal costs zero Spark jobs and a decision made under one
budget (executor count, disk headroom) is never replayed under another.
``$SPARK_GRAFT_PLAN_CACHE`` persists the measurements to a JSON sidecar,
so a new process on an unchanged corpus measures nothing.
:func:`standard_fronts` feeds the ``calibrate`` CLI command and
``tools/cap_calibrate.py`` the same measurements.
"""

from __future__ import annotations

import dataclasses
import json
import logging
import os
import tempfile
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from video_data_pipeline_spark.checkpoint import checkpoint_frame

log = logging.getLogger("video_data_pipeline_spark.calibrate")

_GIB = 1 << 30

#: Default candidate-pair budget for an auto-selected EXACT plan. Sized
#: from measured runs: 148M uncapped simhash candidates at sfp1 verified
#: in 31.8 s on local[32] (TRENDS r12), and the sfp30 capped cells sit
#: near 50M pairs at ~20 s — 200M keeps auto-exact plans in the
#: tens-of-seconds-per-node class while refusing the truly quadratic
#: regimes (sfp30 chunks: ~4.6B candidates) that exhaust spill disk.
DEFAULT_PAIR_BUDGET = 200_000_000

#: The verified families (prefix-filter, containment) verify in STAGES:
#: candidates attach a fixed-size packed-histogram summary and a safe
#: intersection upper bound prunes them before the full arrays join
#: (``simjoin.py::summary_table``). Per-candidate bytes through the heavy
#: shuffle are therefore a measured CONSTANT (~160 B: two 72 B summaries
#: + ids), independent of set length, so their default budget counts
#: candidates x bytes — a pair count mis-ranks corpora by set length.
#: The 128 GiB per-node bound is anchored to two live runs on
#: local[32]/128 GiB: PROBE_PREFIX_STAGED_SFP10_r15 — 151.2M candidates
#: (22.5 GiB logical), 1.38 GB disk spill, 220 s;
#: PROBE_CONTAINMENT_STAGED_SFP10_r15 — 601M candidates (89.5 GiB
#: logical), 2.5 GB disk spill, 200 s. sfp30's fronts (193 GiB prefix /
#: 768 GiB containment) still refuse.
STAGED_CANDIDATE_BYTES = 160
DEFAULT_CANDIDATE_BYTE_BUDGET = 128 << 30

#: Maps LOGICAL candidate bytes to worst-case node disk spill for the
#: headroom floor below. Both staged sfp10 probes spilled well under 1/16
#: of their logical workload (6.1% and 2.8% — the packed summaries
#: compress ~30x in the shuffle), so assuming a node may spill up to
#: budget/8 of real disk bounds both measurements with 2x margin.
SPILL_HEADROOM_FACTOR = 8


def declared_executor_count(spark) -> int:
    """``spark.executor.instances`` as an int, degrading to 1 (local mode,
    dynamic allocation without a fixed count, or a non-numeric value)."""
    try:
        return max(1, int(spark.conf.get("spark.executor.instances", "1")))
    except (ValueError, TypeError):
        return 1


def measured_local_headroom_bytes(spark=None) -> tuple[int, str] | None:
    """``statvfs`` free bytes of the shuffle spill directory — the first
    entry of ``spark.local.dir`` (falling back to ``$SPARK_LOCAL_DIRS``,
    then the system tmpdir, which is Spark's own default). Measured on
    the DRIVER: a proxy floor for executor disk headroom — exact in
    local mode, honest-best-effort on a heterogeneous cluster (the
    refusal/decision text names the measured number and the knob).
    Returns ``(free_bytes, path)`` or None when nothing can be statted."""
    local = None
    if spark is not None:
        try:
            local = spark.conf.get("spark.local.dir", None)
        except Exception:  # noqa: BLE001 — conf access must never fail the query
            local = None
    path = (
        local or os.environ.get("SPARK_LOCAL_DIRS") or tempfile.gettempdir()
    ).split(",")[0].strip()
    try:
        st = os.statvfs(path)
        return st.f_bavail * st.f_frsize, path
    except OSError:
        return None


@dataclass
class ResolvedByteBudget:
    """Runtime byte budget for the verified families: per node, the LOWER
    of the probe-anchored constant (:data:`DEFAULT_CANDIDATE_BYTE_BUDGET`)
    and measured local-disk headroom (free bytes x
    :data:`SPILL_HEADROOM_FACTOR`), scaled by the declared executor count
    (the staged filter's shuffle keys on uniform ids, so it spreads over
    executors). ``provenance`` is the human-readable arithmetic, carried
    into every decision/refusal message so the artifact names the
    measured free space alongside the workload."""

    total: int
    per_node: int
    n_executors: int
    free_bytes: int | None
    provenance: str


def resolve_byte_budget(spark) -> ResolvedByteBudget:
    n = declared_executor_count(spark)
    measured = measured_local_headroom_bytes(spark)
    if measured is None:
        per_node = DEFAULT_CANDIDATE_BYTE_BUDGET
        prov = (
            f"byte budget {per_node / _GIB:.0f} GiB/node (probe-anchored "
            f"constant; local-disk headroom unmeasurable) x {n} executor(s)"
        )
        return ResolvedByteBudget(per_node * n, per_node, n, None, prov)
    free, path = measured
    floor = free * SPILL_HEADROOM_FACTOR
    per_node = min(DEFAULT_CANDIDATE_BYTE_BUDGET, floor)
    if floor < DEFAULT_CANDIDATE_BYTE_BUDGET:
        prov = (
            f"byte budget {per_node / _GIB:.1f} GiB/node — measured spill-dir "
            f"headroom BINDS below the probe-anchored constant: {path!r} free "
            f"{free / _GIB:.1f} GiB x {SPILL_HEADROOM_FACTOR} (measured "
            f"spill-to-logical margin) = {floor / _GIB:.1f} GiB < "
            f"{DEFAULT_CANDIDATE_BYTE_BUDGET / _GIB:.0f} GiB; x {n} executor(s)"
        )
    else:
        prov = (
            f"byte budget {per_node / _GIB:.0f} GiB/node (probe-anchored "
            f"constant; measured spill-dir {path!r} free {free / _GIB:.1f} GiB "
            f"x {SPILL_HEADROOM_FACTOR} headroom floor not binding) x "
            f"{n} executor(s)"
        )
    return ResolvedByteBudget(per_node * n, per_node, n, free, prov)


@dataclass(frozen=True)
class Budget:
    """The proceed test of an exact plan: ``candidates x cost <= limit``.
    The count model is ``cost=1`` against a pair count; the byte model
    prices each candidate at :data:`STAGED_CANDIDATE_BYTES` against the
    resolved byte budget, whose provenance rides along as ``note``."""

    limit: int
    cost: int = 1
    note: str = ""

    @classmethod
    def pairs(cls, pair_budget: int | None = None) -> Budget:
        return cls(DEFAULT_PAIR_BUDGET if pair_budget is None else pair_budget)

    @classmethod
    def verified(cls, spark, pair_budget: int | None = None) -> Budget:
        """The verified families' budget: an explicit ``pair_budget``
        keeps the count model, otherwise the byte model."""
        if pair_budget is not None:
            return cls.pairs(pair_budget)
        rb = resolve_byte_budget(spark)
        return cls(rb.total, STAGED_CANDIDATE_BYTES, rb.provenance)

    def fits(self, s: FrontStats) -> bool:
        return s.uncapped_pairs * self.cost <= self.limit

    def workload(self, s: FrontStats) -> str:
        if self.cost == 1:
            return f"{s.uncapped_pairs:,} exact candidate pairs"
        return (
            f"{s.uncapped_pairs:,} candidates x {self.cost} B = "
            f"{s.uncapped_pairs * self.cost / _GIB:.1f} GiB"
        )

    def __str__(self) -> str:
        if self.cost == 1:
            return f"pair_budget={self.limit:,}"
        return f"the candidate byte budget ({self.limit / _GIB:.0f} GiB)"


#: sentinel distinguishing "caller did not choose a cap" (use the family
#: default) from an EXPLICIT ``default_cap=None`` (the caller already
#: accepted the uncapped quadratic workload)
_UNSET = object()


@dataclass
class FrontStats:
    """Bucket-size distribution of one pair-generator front, measured by
    one linear groupBy (no pair expansion). ``uncapped_pairs`` /
    ``capped_pairs`` are the in-bucket candidate workloads sum(n*(n-1)/2)
    — computed with INTEGER arithmetic (``div``), not float division, so
    the degenerate regimes this tool exists to measure don't lose
    precision past 2^53."""

    name: str
    default_cap: int
    n_buckets: int
    max_bucket: int
    p99_bucket: int
    oversized: int
    uncapped_pairs: int
    capped_pairs: int

    @property
    def binds(self) -> bool:
        return self.oversized > 0

    def as_dict(self) -> dict:
        return {
            "default_cap": self.default_cap,
            "n_buckets": self.n_buckets,
            "max": self.max_bucket,
            "p99": self.p99_bucket,
            "oversized": self.oversized,
            "uncapped_pairs": self.uncapped_pairs,
            "capped_pairs": self.capped_pairs,
            "binds": self.binds,
        }


def measure_front(keys: DataFrame, default_cap: int, name: str = "front") -> FrontStats:
    """Measure one front's bucket-size distribution. ``keys`` is a
    one-column (``key``) DataFrame with one row per (doc, bucket-key)
    membership; the measurement is a single groupBy + agg — linear in the
    corpus, never quadratic. NULL aggregates (an empty or single-bucket
    corpus returns NULL max/p99) default to 0 instead of raising."""
    sizes = keys.groupBy("key").agg(F.count(F.lit(1)).alias("n"))
    capped = f"least(n, {default_cap})"
    r = (
        sizes.agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("n").alias("max_bucket"),
            F.expr("percentile_approx(n, 0.99)").alias("p99_bucket"),
            F.sum((F.col("n") > default_cap).cast("long")).alias("oversized"),
            F.expr("sum(n * (n - 1) div 2)").alias("uncapped_pairs"),
            F.expr(f"sum({capped} * ({capped} - 1) div 2)").alias("capped_pairs"),
        )
        .collect()[0]
        .asDict()
    )
    return FrontStats(
        name=name,
        default_cap=default_cap,
        **{k: int(v) if v is not None else 0 for k, v in r.items()},
    )


class CapBoundError(RuntimeError):
    """The default cap binds on this corpus AND no exact plan fits the
    budget: refusing is the honest answer (a silent capped subset reads
    as oracle-exact). Carries the per-front :class:`FrontStats` so the
    caller/artifact can record the named boundary."""

    def __init__(self, message: str, stats: dict[str, FrontStats]):
        super().__init__(message)
        self.stats = stats


@dataclass
class Plan:
    """Outcome of :func:`decide`: run front ``geometry`` with cap
    ``max_bucket_size`` (None = uncapped). ``decision`` is one of
    ``explicit_uncapped``, ``explicit_capped``, ``default`` or
    ``exact_uncapped``; ``stats`` holds the measurements behind it."""

    decision: str
    geometry: str
    max_bucket_size: int | None
    reason: str
    stats: dict[str, FrontStats]


def decide(
    fronts: tuple[str, ...],
    stats: dict[str, FrontStats],
    cap: int | None,
    default_cap: int,
    budget: Budget,
    family: str | None = None,
    escape_arg: str = "max_bucket_size",
) -> Plan:
    """The pre-flight's decision — pure local arithmetic, no Spark job.
    ``fronts`` are the family's front names in measurement order (the
    first is its default geometry); ``stats`` holds what was measured of
    them at ``cap``: nothing when ``cap`` is None, the first front
    otherwise, and every front once the first binds. ``escape_arg`` names
    the family's cap knob in the texts."""
    family = family or fronts[0]
    first = fronts[0]
    if cap is None:
        reason = (
            f"caller passed {escape_arg}=None explicitly — the uncapped "
            "exact join was already chosen, pre-flight skipped"
        )
        log.info("%s calibration: %s", family, reason)
        return Plan("explicit_uncapped", first, None, reason, {})
    s = stats[first]
    if cap != default_cap:
        if s.binds:
            pct = 100.0 * s.capped_pairs / max(s.uncapped_pairs, 1)
            reason = (
                f"explicit cap {cap} BINDS (max bucket {s.max_bucket}, "
                f"{s.oversized} oversized buckets): proceeding with the "
                f"caller's accepted partial recall — in-bucket candidate "
                f"workload {s.capped_pairs:,} of {s.uncapped_pairs:,} "
                f"({pct:.1f}%)"
            )
        else:
            reason = (
                f"explicit cap {cap} does not bind (measured max bucket "
                f"{s.max_bucket}) — output is exact here"
            )
        log.log(logging.WARNING if s.binds else logging.INFO,
                "%s calibration (explicit cap): %s", family, reason)
        return Plan("explicit_capped", first, cap, reason, stats)
    if not s.binds:
        reason = (
            f"default cap {cap} does not bind (measured max bucket "
            f"{s.max_bucket}) — registered default is exact here"
        )
        log.info("%s calibration: %s", family, reason)
        return Plan("default", first, cap, reason, stats)
    note = f" [{budget.note}]" if budget.note else ""
    affordable = [t for t in stats.values() if budget.fits(t)]
    if affordable:
        best = min(affordable, key=lambda t: t.uncapped_pairs)
        reason = (
            f"default cap {cap} BINDS on this corpus (max bucket "
            f"{s.max_bucket}, {s.oversized} oversized buckets) — running "
            f"geometry={best.name!r} UNCAPPED instead: its exact workload "
            f"{budget.workload(best)} fits {budget}; output stays "
            f"oracle-exact{note}"
        )
        log.warning("%s calibration: %s", family, reason)
        return Plan("exact_uncapped", best.name, None, reason, stats)
    measured = "; ".join(
        f"{t.name} front max bucket {t.max_bucket} ({t.oversized} oversized, "
        f"{budget.workload(t)})"
        for t in stats.values()
    )
    override = " (a count budget overrides the byte model)" if budget.cost > 1 else ""
    raise CapBoundError(
        f"{family} default cap {cap} BINDS on this corpus and no exact plan "
        f"fits {budget}: {measured}{note}. Refusing rather than silently "
        f"emitting a capped subset. Escapes: raise pair_budget{override} and "
        f"re-calibrate; pass {escape_arg}=None to accept the quadratic exact "
        f"workload; or pass an explicit non-default {escape_arg} to accept "
        "DOCUMENTED partial recall — under calibrate=True the pre-flight "
        "then MEASURES the recall (emitted-vs-total candidate workload) and "
        "proceeds with your cap instead of refusing again.",
        stats,
    )


def preflight(
    fronts: dict[str, Callable[[], DataFrame]],
    cap: int | None,
    default_cap: int,
    budget: Budget,
    fingerprint=None,
    family: str | None = None,
    escape_arg: str = "max_bucket_size",
) -> Plan:
    """Measure a family's fronts, then :func:`decide`. ``fronts`` maps each
    front name, in measurement order, to a builder of its one-column
    ``key`` frame; a builder runs only when its front is measured. With a
    ``fingerprint`` (:func:`corpus_fingerprint`) each measurement is
    memoized under (front name, fingerprint, cap); None measures every
    time."""
    stats: dict[str, FrontStats] = {}
    if cap is not None:
        for name, build in fronts.items():
            key = None if fingerprint is None else (name, fingerprint, cap)
            stats[name] = cached_stats(key, lambda: measure_front(build(), cap, name))
            if cap != default_cap or not stats[name].binds:
                break
    return decide(tuple(fronts), stats, cap, default_cap, budget, family, escape_arg)


def calibrate_simhash(
    docs: DataFrame,
    pair_budget: int = DEFAULT_PAIR_BUDGET,
    default_cap=_UNSET,
    max_hamming: int = 3,
) -> Plan:
    """Library pre-flight for the simhash family over a docs frame
    (uncached: a frame has no fingerprint); the signature is computed once
    and lazily checkpointed for both fronts. ``default_cap`` unset tests
    the family default; an EXPLICIT ``None`` is ``explicit_uncapped``
    (nothing measured, no possible refusal). An integer keeps the full
    default-cap ladder — only the registered queries treat an explicit
    non-default cap as accepted partial recall."""
    from video_data_pipeline_spark.queries.dedup import (
        DEFAULT_SIMHASH_MAX_BUCKET_SIZE,
        exact_dup_representatives,
        simhash_fronts,
        simhash_signatures,
    )

    if default_cap is _UNSET:
        default_cap = DEFAULT_SIMHASH_MAX_BUCKET_SIZE
    sig = checkpoint_frame(simhash_signatures(exact_dup_representatives(docs)))
    return preflight(
        simhash_fronts(sig, max_hamming), default_cap, default_cap,
        Budget.pairs(pair_budget), family="simhash",
    )


# ------------------------------------------------------ measurement cache
#
# Only FrontStats are cached: they depend on the corpus bytes, the front
# and the cap, never on the budget. Keys embed a stat-based corpus
# fingerprint, so any rewrite of the parquet makes a new key — staleness
# is structural, not timed. ``$SPARK_GRAFT_PLAN_CACHE`` also spills every
# measurement to a JSON sidecar (flock + atomic replace, merged so
# concurrent writers keep each other's entries), reloaded on the first
# lookup of a new process: scheduled re-runs on an unchanged corpus are
# where a pre-flight repeats most. Opt-in, because an always-on sidecar
# would leak measurements between unrelated sessions.


_STATS_CACHE: dict[tuple, FrontStats] = {}
_PERSISTED_LOADED = False

_CACHE_FORMAT = 1

#: sidecar entry cap: entries are small and self-invalidating, but one
#: sidecar pointed at thousands of corpora must not grow unboundedly —
#: the file keeps insertion order, so the cap drops the OLDEST entries
_CACHE_MAX_ENTRIES = 512


def clear_plan_cache() -> None:
    global _PERSISTED_LOADED
    _STATS_CACHE.clear()
    _PERSISTED_LOADED = False


def plan_cache_path() -> str | None:
    """Sidecar path from ``$SPARK_GRAFT_PLAN_CACHE`` (empty/unset →
    persistence disabled, process-local cache only)."""
    return os.environ.get("SPARK_GRAFT_PLAN_CACHE") or None


def _key_to_json(k):
    return [_key_to_json(x) for x in k] if isinstance(k, tuple) else k


def _key_from_json(k):
    return tuple(_key_from_json(x) for x in k) if isinstance(k, list) else k


def _read_sidecar_records(path: str) -> list[dict]:
    """Raw JSON records of a sidecar file, format-checked but not parsed
    — the merge in :func:`_persist` rewrites these, so entries of kinds
    this version cannot parse survive for the readers that can."""
    try:
        with open(path) as f:
            doc = json.load(f)
        if doc.get("format") != _CACHE_FORMAT:
            return []
        recs = doc.get("entries", [])
        return recs if isinstance(recs, list) else []
    except (OSError, ValueError, KeyError, TypeError) as e:
        # a corrupt/unreadable sidecar must never fail the query — the
        # cache is an optimization; fall back to measuring
        log.warning("plan cache: ignoring unreadable sidecar %s (%s)", path, e)
        return []


def _load_persisted_once() -> None:
    global _PERSISTED_LOADED
    if _PERSISTED_LOADED:
        return
    _PERSISTED_LOADED = True
    path = plan_cache_path()
    if path is None:
        return
    n = 0
    for rec in _read_sidecar_records(path):
        # per-entry parse: one malformed or unknown-kind record skips THAT
        # record, not the whole file
        try:
            entry = rec["entry"]
            if entry.get("kind") != "FrontStats":
                raise ValueError(f"unknown plan-cache entry kind {entry.get('kind')!r}")
            # in-memory (fresher) entries win
            _STATS_CACHE.setdefault(
                _key_from_json(rec["key"]), FrontStats(**entry["stats"])
            )
            n += 1
        except (ValueError, KeyError, TypeError, AttributeError) as e:
            log.warning("plan cache: skipping unparseable entry in %s (%s)", path, e)
    if n:
        log.info("plan cache: loaded %d persisted measurement(s) from %s", n, path)


def _persist(key: tuple, stats: FrontStats) -> None:
    path = plan_cache_path()
    if path is None:
        return
    try:
        d = os.path.dirname(os.path.abspath(path))
        os.makedirs(d, exist_ok=True)
        # an exclusive flock serializes the read-merge-replace: without it
        # two processes finishing measurements concurrently could both
        # read, and the second os.replace would drop the first's entry
        with open(path + ".lock", "w") as lk:
            try:
                import fcntl

                fcntl.flock(lk, fcntl.LOCK_EX)
            except ImportError:  # non-POSIX: keep best-effort merge
                pass
            key_json = _key_to_json(key)
            merged = [r for r in _read_sidecar_records(path) if r.get("key") != key_json]
            merged.append({
                "key": key_json,
                "entry": {"kind": "FrontStats", "stats": dataclasses.asdict(stats)},
            })
            # newest last; the cap drops the OLDEST entries
            doc = {"format": _CACHE_FORMAT, "entries": merged[-_CACHE_MAX_ENTRIES:]}
            fd, tmp = tempfile.mkstemp(dir=d, suffix=".plan_cache.tmp")
            with os.fdopen(fd, "w") as f:
                json.dump(doc, f, indent=1)
            os.replace(tmp, path)  # atomic on POSIX
    except OSError as e:
        log.warning("plan cache: could not persist to %s (%s)", path, e)


def corpus_fingerprint(sf_dir: str, table: str = "documents"):
    """Stat-based fingerprint of one parquet table (file or directory of
    part files). Walks the FULL tree: a partitioned layout (key=val
    subdirs) can have a nested part file rewritten in place without
    changing top-level names or subdir sizes — and directory mtime does
    not change on child-CONTENT modification — so every leaf file's
    (relpath, mtime_ns, size) enters the key. Returns None when the path
    can't be statted — callers then bypass the cache rather than guess."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        if os.path.isdir(path):
            entries = []
            for dirpath, dirnames, filenames in os.walk(path):
                dirnames.sort()
                rel = os.path.relpath(dirpath, path)
                for name in sorted(filenames):
                    st = os.stat(os.path.join(dirpath, name))
                    entries.append(
                        (os.path.join(rel, name), st.st_mtime_ns, st.st_size)
                    )
            return (os.path.realpath(path), tuple(entries))
        st = os.stat(path)
        return (os.path.realpath(path), st.st_mtime_ns, st.st_size)
    except OSError:
        return None


def cached_stats(key, compute: Callable[[], FrontStats]) -> FrontStats:
    """Memoized measurement: return/compute the :class:`FrontStats` under
    ``key`` (None bypasses the cache). With ``$SPARK_GRAFT_PLAN_CACHE``
    set, a new process loads earlier processes' measurements first."""
    if key is None:
        return compute()
    _load_persisted_once()
    hit = _STATS_CACHE.get(key)
    if hit is not None:
        log.info("calibration cache hit for %s", key[0])
        return hit
    s = _STATS_CACHE[key] = compute()
    _persist(key, s)
    return s


# ------------------------------------------------------------- CLI fronts


def standard_fronts(spark, sf_dir: str):
    """(name, default_cap, key-DataFrame builder) for every capped front
    in the engine, over the documents table at ``sf_dir`` — the
    measurement matrix ``tools/cap_calibrate.py`` reports. Builders are
    lazy so the CLI can flush per-front."""
    from video_data_pipeline_spark.queries.dedup import (
        DEFAULT_LSH_MAX_BUCKET_SIZE,
        DEFAULT_SIMHASH_MAX_BUCKET_SIZE,
        exact_dup_representatives,
        minhash_bands,
        simhash_fronts,
        simhash_signatures,
    )
    from video_data_pipeline_spark.queries.registry import table
    from video_data_pipeline_spark.queries.simjoin import (
        DEFAULT_MAX_BUCKET_SIZE,
        DEFAULT_MAX_POSTING_SIZE,
        hashed_shingle_sets,
        rarity_prefix_rows,
    )

    docs = table(spark, sf_dir, "documents")
    reps = exact_dup_representatives(docs)
    sets = hashed_shingle_sets(docs)
    simhash = simhash_fronts(simhash_signatures(reps))

    def prefix_tokens():
        # the SAME rarity-ordered prefix rows prefix_filter_pairs joins
        # (shared builder — measurement can't drift from the join)
        return rarity_prefix_rows(sets).select(F.col("h").alias("key"))

    return [
        ("minhash_bands", DEFAULT_LSH_MAX_BUCKET_SIZE,
         lambda: minhash_bands(reps).select(
             F.concat_ws("/", "band_idx", "band_key").alias("key"))),
        ("prefix_buckets", DEFAULT_MAX_BUCKET_SIZE, prefix_tokens),
        ("containment_postings", DEFAULT_MAX_POSTING_SIZE,
         lambda: sets.select(F.explode("hs").alias("key"))),
        ("simhash_chunks", DEFAULT_SIMHASH_MAX_BUCKET_SIZE, simhash["chunks"]),
        ("simhash_combos", DEFAULT_SIMHASH_MAX_BUCKET_SIZE, simhash["combos"]),
    ]
