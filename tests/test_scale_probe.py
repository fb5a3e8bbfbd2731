"""tools/scale_probe.py end to end on the smallest corpus: one query, best
of two runs, and the per-query record every field of which the probe
documents (wall seconds, Spark work, effective cores, bytes)."""

from __future__ import annotations

import importlib.util
import json
import os

from bench import WARMUP

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

spec = importlib.util.spec_from_file_location(
    "scale_probe", os.path.join(ROOT, "tools", "scale_probe.py")
)
scale_probe = importlib.util.module_from_spec(spec)
spec.loader.exec_module(scale_probe)


def test_scale_probe_records_best_of_repeat(spark, sf_dir, tmp_path, monkeypatch):
    from video_data_pipeline_spark import session

    # the probe asks get_spark for a session; hand it the test session
    # as-is, so the probe's defaults cannot retune the shared one
    monkeypatch.setattr(session, "get_spark", lambda *a, **k: spark)
    runs: list[tuple[str, dict]] = []
    real_run = scale_probe._run

    def run(spark, query, sf_dir, count):
        runs.append((query.name, real_run(spark, query, sf_dir, count)))
        return runs[-1][1]

    monkeypatch.setattr(scale_probe, "_run", run)
    out = tmp_path / "probe.json"
    argv = ["--sf-dirs", sf_dir, "--queries", "q01_pricing_summary",
            "--repeat", "2", "--json", str(out)]
    assert scale_probe.main(argv) == 0
    # the bench warm-up first, then two timed runs of which the faster stays
    q = "q01_pricing_summary"
    assert [name for name, _ in runs] == [*WARMUP, q, q]
    rec = json.loads(out.read_text())[sf_dir][q]
    assert "error" not in rec, rec
    assert rec["secs"] == min(r["secs"] for _, r in runs[len(WARMUP):])
    for key in ("jobs", "stages", "tasks", "task_ms", "secs", "effective_cores"):
        assert rec[key] > 0, (key, rec)
    for key in ("shuffle_write_bytes", "shuffle_read_bytes", "disk_spill_bytes",
                "memory_spill_bytes", "input_bytes", "failed_tasks"):
        assert isinstance(rec[key], int) and rec[key] >= 0, (key, rec)
    # effective cores = task-seconds / wall, within the rounding of secs
    task_s = rec["task_ms"] / 1000
    assert task_s / (rec["secs"] + 0.005) - 0.01 <= rec["effective_cores"]
    assert rec["effective_cores"] <= task_s / max(rec["secs"] - 0.005, 1e-3) + 0.01
