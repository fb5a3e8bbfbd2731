"""Cap pre-flight for the single-front pair generators: minhash-LSH
bands, prefix-filter buckets, containment postings.

Each of these families has one front, so the pre-flight's ladder is:
measure (one linear groupBy, no pair expansion) → proceed default (cap
proven not to bind, exact) / proceed uncapped (measured workload fits the
budget, exact) / refuse by name. A crafted near-clone corpus (rotations:
distinct content, near-identical shingle sets, hence identical
signatures) drives the bind.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from video_data_pipeline_spark.calibrate import (
    Budget,
    CapBoundError,
    preflight,
)
from video_data_pipeline_spark.queries.dedup import (
    lsh_pairs_from_bands,
    minhash_bands,
    q_minhash_lsh_pairs,
    q_minhash_lsh_pairs_calibrated,
    exact_dup_representatives,
)
from video_data_pipeline_spark.queries.simjoin import (
    q_containment_pairs,
    q_prefix_filter_join,
)

pytestmark = pytest.mark.slow  # r17 fast-tier: see conftest/pytest.ini

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def near_clone_docs(spark):
    """40 rotations of one 60-word sentence: distinct content (no exact-dup
    collapse) but near-identical shingle SETS, so the min-hash over each
    band is identical and every band bucket holds all 40 docs — a small
    cap BINDS. The boilerplate-clique shape of real crawls."""
    words = [f"word{i:03d}" for i in range(60)]
    rows = [(i, " ".join(words[i:] + words[:i])) for i in range(40)]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _front_plan(keys, cap, name, budget=None, default_cap=None,
                escape_arg="max_bucket_size"):
    """The pre-flight over one uncached front; ``default_cap`` defaults to
    ``cap`` (the ladder), a different value makes ``cap`` explicit."""
    return preflight(
        {name: lambda: keys}, cap, cap if default_cap is None else default_cap,
        budget or Budget.pairs(), escape_arg=escape_arg,
    )


# ---------------------------------------------------------- unit ladder


def test_front_plan_default_when_cap_has_headroom(spark):
    keys = spark.createDataFrame([("a",)] * 3 + [("b",)] * 2, "key string")
    plan = _front_plan(keys, 64, "toy")
    assert plan.decision == "default"
    assert plan.max_bucket_size == 64
    assert not plan.stats["toy"].binds


def test_front_plan_uncapped_within_budget(spark):
    keys = spark.createDataFrame([("hot",)] * 10 + [("b",)] * 2, "key string")
    plan = _front_plan(keys, 4, "toy", Budget.pairs(1000))
    assert plan.decision == "exact_uncapped"
    assert plan.max_bucket_size is None
    assert plan.stats["toy"].binds
    assert plan.stats["toy"].uncapped_pairs == 45 + 1


def test_front_plan_refuses_over_budget_naming_escapes(spark):
    keys = spark.createDataFrame([("hot",)] * 10, "key string")
    with pytest.raises(CapBoundError) as ei:
        _front_plan(
            keys, 4, "containment_postings", Budget.pairs(10),
            escape_arg="max_posting_size",
        )
    msg = str(ei.value)
    assert "containment_postings" in msg and "BINDS" in msg
    assert "pair_budget=10" in msg
    assert "max_posting_size=None" in msg  # the family's OWN escape knob
    assert ei.value.stats["containment_postings"].uncapped_pairs == 45


# ----------------------------------------------------- minhash, end-to-end


def test_minhash_calibrated_exact_when_cap_would_bind(spark, near_clone_docs):
    reps = exact_dup_representatives(near_clone_docs)
    bands = minhash_bands(reps)
    capped = _rows(lsh_pairs_from_bands(bands, max_bucket_size=8))
    exact = _rows(lsh_pairs_from_bands(bands, max_bucket_size=None))
    assert len(capped) < len(exact), "fixture must actually bind the cap"
    # the pre-flight on the same front must pick the uncapped exact plan
    from pyspark.sql import functions as F

    plan = _front_plan(
        bands.select(F.concat_ws("/", "band_idx", "band_key").alias("key")),
        8,
        "minhash_bands",
        Budget.pairs(10**6),
    )
    assert plan.decision == "exact_uncapped"
    assert _rows(lsh_pairs_from_bands(bands, plan.max_bucket_size)) == exact


def test_minhash_refusal_on_clone_corpus_tiny_budget(spark, near_clone_docs):
    from pyspark.sql import functions as F

    bands = minhash_bands(exact_dup_representatives(near_clone_docs))
    with pytest.raises(CapBoundError) as ei:
        _front_plan(
            bands.select(F.concat_ws("/", "band_idx", "band_key").alias("key")),
            8,
            "minhash_bands",
            Budget.pairs(10),
        )
    assert "minhash_bands" in str(ei.value)


# ------------------------------------------ bytes-weighted workload model:
# staged verification made verified-family per-candidate shuffle bytes a
# constant, so the proceed test budgets candidates x bytes — a count
# budget refuses affordable short-set corpora


def test_byte_budget_proceeds_where_count_budget_refused(spark):
    # one hot bucket of 12,650 members: ~80M in-bucket candidate pairs —
    # over a 50M count budget, but 80M x 160 B = 12.8 GiB, comfortably
    # inside the 128 GiB byte budget
    keys = spark.range(12_650).select(F.lit("hot").alias("key"))
    with pytest.raises(CapBoundError):
        _front_plan(keys, 64, "prefix_buckets", Budget.pairs(50_000_000))
    plan = _front_plan(keys, 64, "prefix_buckets", Budget.verified(spark))
    assert plan.decision == "exact_uncapped"
    assert plan.max_bucket_size is None
    assert "GiB" in plan.reason


def test_byte_budget_refuses_over_byte_bound_naming_gib(spark):
    keys = spark.range(12_650).select(F.lit("hot").alias("key"))
    with pytest.raises(CapBoundError) as ei:
        _front_plan(
            keys, 64, "containment_postings", Budget(1 << 30, 160),
            escape_arg="max_posting_size",
        )
    msg = str(ei.value)
    assert "GiB" in msg and "byte budget" in msg
    assert "max_posting_size=None" in msg


def test_cluster_scaled_byte_budget(spark):
    # the 128 GiB byte bound is a single-node constant; declaring N
    # executors scales the refusal boundary with the cluster (the staged
    # filter's shuffle spreads uniformly over executors)
    from video_data_pipeline_spark.calibrate import (
        DEFAULT_CANDIDATE_BYTE_BUDGET,
        resolve_byte_budget,
    )

    # local mode: no executor count declared -> the single-node bound
    one = resolve_byte_budget(spark)
    assert one.n_executors == 1 and one.total == one.per_node

    # executor.instances is a STARTUP conf (Spark refuses runtime set),
    # so the conf-read path is pinned via a stub session
    class _FakeConf:
        def get(self, key, default=None):
            return "4" if key == "spark.executor.instances" else default

    class _FakeSpark:
        conf = _FakeConf()

    four = resolve_byte_budget(_FakeSpark())
    assert four.n_executors == 4 and four.total == 4 * four.per_node

    # and the ladder consults the scaled bound: a 60k-member hot bucket
    # (1.8B candidates x 160 B = 268 GiB) refuses on one node, proceeds
    # inside a 4-node budget (512 GiB)
    keys = spark.range(60_000).select(F.lit("hot").alias("key"))
    with pytest.raises(CapBoundError):
        _front_plan(keys, 64, "prefix_buckets",
                    Budget(DEFAULT_CANDIDATE_BYTE_BUDGET, 160))
    plan = _front_plan(keys, 64, "prefix_buckets",
                       Budget(4 * DEFAULT_CANDIDATE_BYTE_BUDGET, 160))
    assert plan.decision == "exact_uncapped"


def test_registered_verified_families_use_byte_model_by_default(spark, monkeypatch):
    # the registered calibrate branch must decide under the bytes-weighted
    # budget when no explicit pair_budget is given, and under the count
    # budget when one is
    from video_data_pipeline_spark import calibrate
    from video_data_pipeline_spark.calibrate import (
        STAGED_CANDIDATE_BYTES,
        clear_plan_cache,
    )

    budgets = []
    real = calibrate.decide

    def spy(fronts, stats, cap, default_cap, budget, *a, **kw):
        budgets.append(budget)
        return real(fronts, stats, cap, default_cap, budget, *a, **kw)

    monkeypatch.setattr(calibrate, "decide", spy)
    clear_plan_cache()
    try:
        q_prefix_filter_join(spark, SF_DIR, calibrate=True).count()
        q_containment_pairs(spark, SF_DIR, calibrate=True).count()
        q_prefix_filter_join(
            spark, SF_DIR, calibrate=True, pair_budget=10**9
        ).count()
        assert [b.cost for b in budgets] == [STAGED_CANDIDATE_BYTES] * 2 + [1]
        # the resolved budget's provenance rides the decision
        assert all("byte budget" in b.note for b in budgets[:2])
        assert budgets[2].limit == 10**9
    finally:
        clear_plan_cache()


def test_byte_decision_rederives_against_current_budget(
    spark, monkeypatch, tmp_path
):
    # a measurement cached by an N-executor process (large budget ->
    # proceed) must NOT replay as a verbatim proceed in a single-node
    # process whose own budget refuses — the cache holds only the
    # budget-invariant measurement and the decision re-derives per process
    from video_data_pipeline_spark import calibrate
    from video_data_pipeline_spark.calibrate import (
        CapBoundError,
        clear_plan_cache,
    )

    # a corpus where the default prefix cap (64) BINDS: 80 rotations of
    # one 100-word sentence share near-identical shingle sets, so their
    # rarity-prefix buckets hold ~80 > 64 members (the near_clone_docs
    # shape, sized past the production cap), persisted so the registered
    # query can fingerprint it
    words = [f"word{i:03d}" for i in range(100)]
    rows = [(i, " ".join(words[i % 100:] + words[: i % 100])) for i in range(80)]
    spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(
        1
    ).write.parquet(str(tmp_path / "documents.parquet"))
    corpus = str(tmp_path)

    calls = {"n": 0}
    real = calibrate.measure_front

    def counting(keys, cap, name="front"):
        calls["n"] += 1
        return real(keys, cap, name)

    monkeypatch.setattr(calibrate, "measure_front", counting)
    clear_plan_cache()
    try:
        # big-budget process: measures once, proceeds uncapped
        big = calibrate.ResolvedByteBudget(
            512 << 30, 128 << 30, 4, None, "stub 4-executor budget"
        )
        monkeypatch.setattr(calibrate, "resolve_byte_budget", lambda s: big)
        q_prefix_filter_join(spark, corpus, calibrate=True).count()
        assert calls["n"] == 1
        # "new" small-budget process on the same corpus: the measurement
        # is served from cache (0 new measure_front), but the decision is
        # THIS budget's — a refusal, not the cached proceed
        small = calibrate.ResolvedByteBudget(
            1024, 1024, 1, 8192, "stub single-node tiny budget"
        )
        monkeypatch.setattr(calibrate, "resolve_byte_budget", lambda s: small)
        with pytest.raises(CapBoundError) as ei:
            q_prefix_filter_join(spark, corpus, calibrate=True).count()
        assert calls["n"] == 1, "the measurement must come from the cache"
        assert "stub single-node tiny budget" in str(ei.value)
    finally:
        clear_plan_cache()


# --------------------------------- measured-headroom byte budget (r16,
# VERDICT r15 #4): the per-node bound is min(probe-anchored constant,
# statvfs free bytes x SPILL_HEADROOM_FACTOR) — the budget no longer
# assumes every executor has the probe machine's disk profile


def test_resolve_byte_budget_floors_at_measured_headroom(spark, monkeypatch):
    from video_data_pipeline_spark import calibrate
    from video_data_pipeline_spark.calibrate import (
        DEFAULT_CANDIDATE_BYTE_BUDGET,
        SPILL_HEADROOM_FACTOR,
        resolve_byte_budget,
    )

    # plenty of disk: the probe-anchored constant is the bound
    monkeypatch.setattr(
        calibrate, "measured_local_headroom_bytes",
        lambda s=None: (1 << 40, "/tmp"),
    )
    rb = resolve_byte_budget(spark)
    assert rb.per_node == DEFAULT_CANDIDATE_BYTE_BUDGET
    assert rb.total == DEFAULT_CANDIDATE_BYTE_BUDGET  # local mode: 1 executor
    assert "not binding" in rb.provenance

    # small disk: the headroom floor binds and the provenance names the
    # measured free GiB
    free = 1 << 30  # 1 GiB free -> 8 GiB budget
    monkeypatch.setattr(
        calibrate, "measured_local_headroom_bytes",
        lambda s=None: (free, "/small"),
    )
    rb = resolve_byte_budget(spark)
    assert rb.per_node == free * SPILL_HEADROOM_FACTOR
    assert rb.free_bytes == free
    assert "BINDS" in rb.provenance and "1.0 GiB" in rb.provenance

    # unmeasurable: degrade to the constant, saying so
    monkeypatch.setattr(
        calibrate, "measured_local_headroom_bytes", lambda s=None: None
    )
    rb = resolve_byte_budget(spark)
    assert rb.per_node == DEFAULT_CANDIDATE_BYTE_BUDGET
    assert "unmeasurable" in rb.provenance


def test_small_disk_refuses_where_constant_would_proceed(spark, monkeypatch):
    # VERDICT r15 #4's acceptance shape: a workload the 128 GiB constant
    # would accept refuses on a mocked small disk, naming the measured
    # free space in the refusal
    from video_data_pipeline_spark import calibrate

    keys = spark.range(12_650).select(F.lit("hot").alias("key"))  # ~12.8 GiB
    monkeypatch.setattr(
        calibrate, "measured_local_headroom_bytes",
        lambda s=None: (1 << 30, "/small"),  # 1 GiB free -> 8 GiB budget
    )
    with pytest.raises(CapBoundError) as ei:
        _front_plan(keys, 64, "prefix_buckets", Budget.verified(spark))
    msg = str(ei.value)
    assert "free 1.0 GiB" in msg and "BINDS below the probe-anchored" in msg
    # and with a healthy disk the same workload proceeds (the r15 behavior)
    monkeypatch.setattr(
        calibrate, "measured_local_headroom_bytes",
        lambda s=None: (1 << 40, "/tmp"),
    )
    plan = _front_plan(keys, 64, "prefix_buckets", Budget.verified(spark))
    assert plan.decision == "exact_uncapped"
    assert "not binding" in plan.reason


# ------------------------------------------- registered knobs, no-bind sf


def test_registered_calibrate_knobs_match_default_on_standard_fixture(spark):
    # on fixtures where the caps have headroom, calibrate=True is a no-op
    # on the output for all three families (decision: default)
    for fn in (q_minhash_lsh_pairs, q_prefix_filter_join, q_containment_pairs):
        base = _rows(fn(spark, SF_DIR))
        calibrated = _rows(fn(spark, SF_DIR, calibrate=True))
        assert calibrated == base, fn.__name__


def test_registered_calibrated_twin_matches_base(spark):
    base = _rows(q_minhash_lsh_pairs(spark, SF_DIR))
    assert _rows(q_minhash_lsh_pairs_calibrated(spark, SF_DIR)) == base


def test_explicit_uncapped_skips_preflight_all_families(spark):
    # ADVICE-r13 contract, applied to the new knobs: calibrate=True with
    # the family's explicit uncapped escape must run uncapped, never
    # refuse — even with a hostile budget
    exact = _rows(q_minhash_lsh_pairs(spark, SF_DIR, max_bucket_size=None))
    got = _rows(
        q_minhash_lsh_pairs(
            spark, SF_DIR, max_bucket_size=None, calibrate=True, pair_budget=1
        )
    )
    assert got == exact
    exact = _rows(q_containment_pairs(spark, SF_DIR, max_posting_size=None))
    got = _rows(
        q_containment_pairs(
            spark, SF_DIR, max_posting_size=None, calibrate=True, pair_budget=1
        )
    )
    assert got == exact


# ------------------------------------- explicit non-default cap (r15,
# ADVICE r14 medium): an accepted partial-recall choice must MEASURE and
# proceed, never refuse the caller back into the escape they already took


def test_explicit_cap_measures_and_never_refuses(spark):
    keys = spark.createDataFrame([("hot",)] * 10 + [("b",)] * 2, "key string")
    plan = _front_plan(keys, 4, "toy", Budget.pairs(1), default_cap=64)
    assert plan.decision == "explicit_capped"
    assert plan.max_bucket_size == 4
    s = plan.stats["toy"]
    assert s.binds and s.uncapped_pairs == 46 and s.capped_pairs == 6 + 1
    # the reason carries the measured recall arithmetic (VERDICT r14 #8)
    assert "7" in plan.reason and "46" in plan.reason


def test_explicit_cap_under_calibrate_proceeds_all_families(spark):
    # the CapBoundError escape's own advice must terminate: an explicit
    # non-default cap with calibrate=True proceeds with that cap (same
    # rows as the plain capped run), even under a hostile budget that
    # would otherwise refuse
    for fn, knob in (
        (q_minhash_lsh_pairs, "max_bucket_size"),
        (q_prefix_filter_join, "max_bucket_size"),
        (q_containment_pairs, "max_posting_size"),
    ):
        plain = _rows(fn(spark, SF_DIR, **{knob: 3}))
        got = _rows(fn(spark, SF_DIR, calibrate=True, pair_budget=1, **{knob: 3}))
        assert got == plain, fn.__name__


def test_explicit_cap_under_calibrate_proceeds_simhash(spark):
    from video_data_pipeline_spark.queries.dedup import q_simhash_near_pairs

    plain = _rows(q_simhash_near_pairs(spark, SF_DIR, max_bucket_size=3))
    got = _rows(
        q_simhash_near_pairs(
            spark, SF_DIR, max_bucket_size=3, calibrate=True, pair_budget=1
        )
    )
    assert got == plain


def test_explicit_cap_terminates_on_binding_corpus(spark, near_clone_docs):
    # the full loop the ADVICE described: refusal names the escape, the
    # caller follows it, the second run must SUCCEED (capped) — before
    # r15 it re-refused (and the decision cache made the loop infinite)
    bands = minhash_bands(exact_dup_representatives(near_clone_docs))
    front = bands.select(F.concat_ws("/", "band_idx", "band_key").alias("key"))
    with pytest.raises(CapBoundError):
        _front_plan(front, 8, "minhash_bands", Budget.pairs(10))
    plan = _front_plan(front, 8, "minhash_bands", Budget.pairs(10), default_cap=64)
    assert plan.decision == "explicit_capped"
    capped = _rows(lsh_pairs_from_bands(bands, plan.max_bucket_size))
    assert capped == _rows(lsh_pairs_from_bands(bands, max_bucket_size=8))
