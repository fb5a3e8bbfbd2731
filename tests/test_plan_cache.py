"""Pre-flight measurement cache.

A front's measurement (:class:`FrontStats`) depends only on the corpus
bytes, the front and the cap, so calibrated queries memoize it by
stat-based corpus fingerprint: repeat runs on an unchanged table skip the
measurement shuffle, a rewritten table changes the fingerprint
(structural staleness, no TTL), and every decision — refusals included —
re-derives from the cached measurement against the CURRENT budget.
"""

from __future__ import annotations

import shutil

import pytest

from video_data_pipeline_spark import calibrate
from video_data_pipeline_spark.calibrate import (
    Budget,
    CapBoundError,
    FrontStats,
    cached_stats,
    clear_plan_cache,
    corpus_fingerprint,
    preflight,
)
from video_data_pipeline_spark.queries.dedup import (
    q_minhash_lsh_pairs,
    q_minhash_lsh_pairs_calibrated,
    q_simhash_near_pairs,
    q_simhash_near_pairs_calibrated,
)
from video_data_pipeline_spark.queries.simjoin import (
    q_containment_pairs_calibrated,
    q_prefix_filter_join_calibrated,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def fresh_cache():
    clear_plan_cache()
    yield
    clear_plan_cache()


@pytest.fixture
def measurements(monkeypatch):
    """Counts every front measurement the pre-flight takes."""
    calls = {"n": 0}
    real = calibrate.measure_front

    def counting(keys, cap, name="front"):
        calls["n"] += 1
        return real(keys, cap, name)

    monkeypatch.setattr(calibrate, "measure_front", counting)
    return calls


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _toy_stats(name="toy"):
    # a hot bucket of 10 (cap 4 binds) + one of 2: 45 + 1 uncapped pairs
    return FrontStats(name, 4, 2, 10, 10, 1, 46, 7)


def _unmeasurable():
    pytest.fail("must hit the cache, not measure")


def test_cached_plan_memoizes_and_bypasses_on_none_key():
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return _toy_stats()

    assert cached_stats(("k",), compute) == _toy_stats()
    assert cached_stats(("k",), compute) == _toy_stats()
    assert calls["n"] == 1
    assert cached_stats(None, compute) == _toy_stats()  # bypass
    assert calls["n"] == 2


def test_refusal_rederives_from_cached_stats(spark, tmp_path, measurements):
    # near-clone corpus: 100 rotations of one sentence — distinct content,
    # near-identical shingle sets, so every band bucket holds all 100 docs
    # and the default minhash cap (64) binds. A refusal is not cached: it
    # re-derives from the cached measurement, so refusing twice measures once
    words = [f"word{i:03d}" for i in range(120)]
    rows = [(i, " ".join(words[i:] + words[:i])) for i in range(100)]
    spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(
        1
    ).write.parquet(str(tmp_path / "documents.parquet"))
    for _ in range(2):
        with pytest.raises(CapBoundError, match="pair_budget=1:"):
            q_minhash_lsh_pairs(spark, str(tmp_path), calibrate=True, pair_budget=1)
    assert measurements["n"] == 1, "a repeated refusal must not re-measure"


def test_budget_change_rederives_from_cached_stats(spark, measurements):
    # the budget is not part of the cache key: a second call under another
    # pair_budget re-derives its decision from the cached stats with ZERO
    # new measurements, and returns the same rows (nothing binds here)
    for fn in (
        q_simhash_near_pairs_calibrated,
        q_minhash_lsh_pairs_calibrated,
        q_prefix_filter_join_calibrated,
        q_containment_pairs_calibrated,
    ):
        measurements["n"] = 0
        first = _rows(fn(spark, SF_DIR))
        assert measurements["n"] == 1, fn.__name__
        again = _rows(fn(spark, SF_DIR, pair_budget=1))
        assert measurements["n"] == 1, f"{fn.__name__} re-measured on a budget change"
        assert again == first, fn.__name__


def test_fingerprint_changes_when_table_rewritten(tmp_path):
    src = f"{SF_DIR}/documents.parquet"
    dst = tmp_path / "documents.parquet"
    shutil.copy(src, dst)
    a = corpus_fingerprint(str(tmp_path))
    assert a is not None
    dst.write_bytes(dst.read_bytes() + b"x")
    b = corpus_fingerprint(str(tmp_path))
    assert a != b
    assert corpus_fingerprint("/nonexistent") is None


def test_fingerprint_sees_nested_part_rewrite(tmp_path):
    # a partitioned layout (key=val subdirs) can have a nested part file
    # rewritten IN PLACE — same top-level names, same subdir size, and the
    # subdir mtime does not change on child-content modification — so the
    # fingerprint must walk to the leaves
    import os

    table_dir = tmp_path / "documents.parquet" / "year=2026"
    table_dir.mkdir(parents=True)
    part = table_dir / "part-00000.parquet"
    part.write_bytes(b"AAAA")
    a = corpus_fingerprint(str(tmp_path))
    assert a is not None
    # in-place rewrite: same path, same size, different mtime
    part.write_bytes(b"BBBB")
    os.utime(part, ns=(1, 1))
    os.utime(table_dir, ns=(2, 2))  # pin dir mtimes so only the leaf moved
    b = corpus_fingerprint(str(tmp_path))
    assert a != b


def test_registered_calibrated_queries_hit_cache_on_repeat(spark, measurements):
    # count actual front measurements through the real query surface
    first = _rows(q_simhash_near_pairs(spark, SF_DIR, calibrate=True))
    n_first = measurements["n"]
    assert n_first >= 1
    second = _rows(q_simhash_near_pairs(spark, SF_DIR, calibrate=True))
    assert measurements["n"] == n_first, "repeat run must skip the measurement"
    assert second == first

    measurements["n"] = 0
    _rows(q_minhash_lsh_pairs(spark, SF_DIR, calibrate=True))
    assert measurements["n"] == 1
    _rows(q_minhash_lsh_pairs(spark, SF_DIR, calibrate=True))
    assert measurements["n"] == 1


# ---------------------------------------- cross-process persistence: with
# $SPARK_GRAFT_PLAN_CACHE set, measurements round-trip a JSON sidecar so a
# NEW process on the unchanged corpus skips the measurement shuffle and
# re-derives its decision; staleness stays structural (fingerprint keys)

_FP = ("/corpus", 123, 456)


def test_persisted_stats_rederive_plan_across_processes(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_PLAN_CACHE", str(tmp_path / "pc.json"))
    cached_stats(("toy", _FP, 4), _toy_stats)
    clear_plan_cache()  # simulate a NEW process: memory gone, sidecar stays
    plan = preflight(
        {"toy": _unmeasurable}, 4, 4, Budget.pairs(50_000_000), _FP
    )
    assert plan.decision == "exact_uncapped" and plan.max_bucket_size is None
    assert plan.stats["toy"].uncapped_pairs == 46


def test_persisted_refusal_reraises_in_new_process(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_PLAN_CACHE", str(tmp_path / "pc.json"))
    cached_stats(("containment_postings", _FP, 4),
                 lambda: _toy_stats("containment_postings"))
    clear_plan_cache()
    with pytest.raises(CapBoundError, match="pair_budget=10") as ei:
        preflight(
            {"containment_postings": _unmeasurable}, 4, 4, Budget.pairs(10),
            _FP, escape_arg="max_posting_size",
        )
    assert "max_posting_size=None" in str(ei.value)


def test_simhash_two_front_stats_persist_across_processes(tmp_path, monkeypatch):
    # when the first front binds, both fronts' measurements persist, and a
    # new process picks the cheaper one without measuring either
    monkeypatch.setenv("SPARK_GRAFT_PLAN_CACHE", str(tmp_path / "pc.json"))
    cached_stats(("chunks", _FP, 64),
                 lambda: FrontStats("chunks", 64, 9, 900, 800, 3, 10**6, 10**4))
    cached_stats(("combos", _FP, 64),
                 lambda: FrontStats("combos", 64, 9, 300, 200, 2, 10**5, 10**4))
    clear_plan_cache()
    plan = preflight(
        {"chunks": _unmeasurable, "combos": _unmeasurable}, 64, 64,
        Budget.pairs(), _FP, family="simhash",
    )
    assert plan.decision == "exact_uncapped"
    assert plan.geometry == "combos" and plan.max_bucket_size is None


def test_corrupt_or_mismatched_sidecar_is_ignored(tmp_path, monkeypatch):
    side = tmp_path / "pc.json"
    monkeypatch.setenv("SPARK_GRAFT_PLAN_CACHE", str(side))
    side.write_text("{not json")
    clear_plan_cache()
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return _toy_stats()

    assert cached_stats(("k",), compute) == _toy_stats()
    assert calls["n"] == 1
    # and a future-format file is skipped, not crashed on
    side.write_text('{"format": 99, "entries": []}')
    clear_plan_cache()
    assert cached_stats(("k2",), compute) == _toy_stats()


def test_sidecar_caps_entries_dropping_oldest(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_PLAN_CACHE", str(tmp_path / "pc.json"))
    monkeypatch.setattr(calibrate, "_CACHE_MAX_ENTRIES", 3)
    for i in range(5):
        cached_stats(("front", f"corpus{i}"), _toy_stats)
    clear_plan_cache()
    # only the NEWEST 3 survive; the 2 oldest re-measure
    calls = {"n": 0}

    def recompute():
        calls["n"] += 1
        return _toy_stats()

    for i in range(5):
        cached_stats(("front", f"corpus{i}"), recompute)
    assert calls["n"] == 2


def test_front_stats_roundtrip_sidecar(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_PLAN_CACHE", str(tmp_path / "pc.json"))
    key = ("prefix_buckets", ("/corpus", 1, 2), 64)
    s = FrontStats("prefix_buckets", 64, 1000, 99, 80, 12, 123_456, 7_890)
    cached_stats(key, lambda: s)
    clear_plan_cache()
    assert cached_stats(key, _unmeasurable) == s


def test_concurrent_persists_keep_both_entries(tmp_path):
    # _persist's read-merge-replace runs under an exclusive flock, so two
    # processes persisting simultaneously cannot lose each other's entries
    # (an unlocked merge drops one on a last-writer-wins race)
    import json
    import os
    import subprocess
    import sys

    side = tmp_path / "pc.json"
    script = r"""
import os, sys
sys.path.insert(0, ".")
from video_data_pipeline_spark.calibrate import FrontStats, cached_stats
tag = sys.argv[1]
for i in range(40):
    s = FrontStats(f"{tag}{i}", 4, 2, 10, 10, 1, 46, 7)
    cached_stats((tag, f"corpus{i}"), lambda s=s: s)
"""
    env = dict(os.environ, SPARK_GRAFT_PLAN_CACHE=str(side))
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", script, tag],
            env=env, cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
        )
        for tag in ("a", "b")
    ]
    for p in procs:
        _, err = p.communicate(timeout=120)
        assert p.returncode == 0, err.decode()[-500:]
    with open(side) as f:
        doc = json.load(f)
    keys = {tuple(rec["key"]) for rec in doc["entries"]}
    assert keys == {
        (tag, f"corpus{i}") for tag in ("a", "b") for i in range(40)
    }, f"lost {80 - len(keys)} entries to a persist race"


def test_one_bad_sidecar_entry_does_not_discard_the_rest(tmp_path, monkeypatch):
    # a single unknown-kind record (e.g. written by a newer version) must
    # skip THAT record, not the whole sidecar
    import json

    side = tmp_path / "pc.json"
    monkeypatch.setenv("SPARK_GRAFT_PLAN_CACHE", str(side))
    cached_stats(("front", "good-corpus"), _toy_stats)
    doc = json.loads(side.read_text())
    doc["entries"].insert(
        0, {"key": ["front", "future-corpus"],
            "entry": {"kind": "HologramPlan", "v": 1}},
    )
    side.write_text(json.dumps(doc))
    clear_plan_cache()
    assert cached_stats(("front", "good-corpus"), _unmeasurable) == _toy_stats()
    # and a later persist keeps the unknown record for NEWER readers
    cached_stats(("front", "another"), _toy_stats)
    doc = json.loads(side.read_text())
    kinds = {rec["entry"]["kind"] for rec in doc["entries"]}
    assert "HologramPlan" in kinds, "a rewrite must not destroy newer entries"


def test_unset_env_keeps_cache_process_local(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_PLAN_CACHE", raising=False)
    cached_stats(("k",), _toy_stats)
    clear_plan_cache()
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return _toy_stats()

    cached_stats(("k",), compute)
    assert calls["n"] == 1, "no sidecar without the env var"


def test_cache_key_includes_knobs(spark, measurements):
    # a different cap is a different measurement (the budget is not: see
    # test_budget_change_rederives_from_cached_stats)
    q_minhash_lsh_pairs(spark, SF_DIR, calibrate=True).count()
    q_minhash_lsh_pairs(
        spark, SF_DIR, calibrate=True, max_bucket_size=128
    ).count()
    assert measurements["n"] == 2
