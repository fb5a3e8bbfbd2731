"""Per-query probe: run registry queries to a noop sink at one or more sf
directories and record, per query, wall seconds, the Spark work it did
(jobs, stages, tasks, task time, effective cores = task-seconds / wall),
input/shuffle/spill bytes and post-execution plan flags.

No oracle, no collect — the full physical plan executes (noop sink), so
shuffles/AQE/spill all happen, but the measurement isolates OUR plan from
DuckDB throughput and driver-collect ceilings. Run the same query list at
two scales and compare: a healthy plan's time ratio should track the data
ratio (linear) or better; anything clearly super-linear is a scale bug.

Without --queries the list is bench.py's HEADLINE. Before the first cell
the session runs bench.py's warm-up queries, so no probed number carries
JVM/codegen or Python-worker start-up. --repeat N keeps each cell's
fastest run. The counters come from telemetry.StageMetricsDelta, read
outside the timed region.

Usage:
  python tools/scale_probe.py --sf-dirs /root/testdata/sf0.1 --repeat 2 \
      --queries q_prefix_filter_join,q_chunk_fixed --json PROBE.json
  python tools/scale_probe.py --sf-dirs /tmp/sf10,/tmp/sf30 --count \
      --queries q_simhash_near_pairs,q_cdc_chunks --json PROBE.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _dump_atomic(path: str, obj: dict) -> None:
    """Write JSON via a same-directory temp file + os.replace: an OOM kill
    mid-dump (the exact scenario the per-cell flush exists for) leaves the
    last good snapshot instead of a truncated file."""
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1)
    os.replace(tmp, path)


def _run(spark, query, sf_dir: str, count: bool) -> dict:
    """One run of a registered query; a failure lands in the record."""
    from video_data_pipeline_spark.telemetry import StageMetricsDelta

    rec: dict = {}
    m = StageMetricsDelta(spark)
    try:
        with m:
            df = query.spark_fn(spark, sf_dir)
            if count:
                rec["rows"] = df.count()
            else:
                df.write.format("noop").mode("overwrite").save()
        plan = df._jdf.queryExecution().executedPlan().toString()
        # post-execution AQE plan: record the surprise markers
        for flag in ("skewed=true", "CartesianProduct", "isEmptyRelation"):
            n = plan.count(flag)
            if n:
                rec.setdefault("plan_flags", {})[flag] = n
    except Exception as e:  # noqa: BLE001
        rec["error"] = str(e)[:300]
    rec["secs"] = round(m.secs, 2)
    # the window's counters land for FAILED cells too (the spill of a
    # dying query is the number that names the pathology)
    rec.update(m.delta)
    rec["effective_cores"] = round(m.delta["task_ms"] / 1000 / max(m.secs, 1e-9), 2)
    if m.warning:
        rec["spill_warning"] = m.warning
        print(m.warning)
    return rec


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dirs", required=True, help="comma-separated")
    ap.add_argument(
        "--queries", default=None, help="comma-separated (default: bench HEADLINE)"
    )
    ap.add_argument("--json", default=None)
    ap.add_argument(
        "--repeat", type=int, default=1, help="runs per cell; the fastest is kept"
    )
    ap.add_argument(
        "--count",
        action="store_true",
        help="run df.count() instead of the noop sink: same full plan plus "
        "a trivial final agg, and the output row count lands in the record "
        "as the TRUE-WORKLOAD measure for scaling-ratio analysis "
        "(perturbed corpora grow pair workloads faster than data size; "
        "time ratios only read against the workload ratio)",
    )
    args = ap.parse_args(argv)
    if args.repeat < 1:
        ap.error("--repeat must be at least 1")

    from bench import HEADLINE, WARMUP
    from video_data_pipeline_spark.queries.registry import load_all
    from video_data_pipeline_spark.session import get_spark

    registry = load_all()
    names = [n for n in (args.queries or ",".join(HEADLINE)).split(",") if n]
    unknown = [n for n in names if n not in registry]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    sf_dirs = args.sf_dirs.split(",")

    spark = get_spark("scale_probe")
    for name in WARMUP:
        _run(spark, registry[name], sf_dirs[0], False)
    out: dict[str, dict] = {}
    for sf_dir in sf_dirs:
        res: dict[str, dict] = out.setdefault(sf_dir, {})
        for name in names:
            runs: list[dict] = []
            while len(runs) < args.repeat:
                # an executor/heap OOM in a previous run stops the
                # local-mode SparkContext, and every later run then fails
                # with 'Cannot call methods on a stopped SparkContext'
                # (observed in the r12 sfp30 run: one dead cell poisoned
                # the rest of the matrix). Recreate the session so each
                # cell's record is its own.
                if spark.sparkContext._jsc.sc().isStopped():
                    print("SparkContext stopped by a previous run — recreating")
                    # explicit stop() first: getOrCreate returns the stale
                    # session object while its JVM context is merely dead
                    spark.stop()
                    spark = get_spark("scale_probe")
                runs.append(_run(spark, registry[name], sf_dir, args.count))
                if "error" in runs[-1]:
                    break
            rec = runs[-1] if "error" in runs[-1] else min(runs, key=lambda r: r["secs"])
            res[name] = rec
            rows = f" rows={rec['rows']}" if "rows" in rec else ""
            spill = (f" spill={rec['disk_spill_bytes'] >> 20}MiB"
                     if rec["disk_spill_bytes"] else "")
            print(f"{sf_dir} {name}: {rec['secs']}s jobs={rec['jobs']} "
                  f"stages={rec['stages']} tasks={rec['tasks']} "
                  f"task_s={rec['task_ms'] / 1000:.1f} "
                  f"cores={rec['effective_cores']}{rows}{spill} "
                  f"{rec.get('plan_flags', '')}{rec.get('error', '')}", flush=True)
            # flush after EVERY cell: a probe killed mid-run (the r10 sfp30
            # uncapped OOM) must still leave a machine-written artifact —
            # PROBE_SFP30_r10.json had to be hand-transcribed from the log
            # because this writer only fired at the end (r10 VERDICT #2)
            if args.json:
                _dump_atomic(args.json, out)
    dirs = list(out)
    if len(dirs) == 2:
        a, b = dirs
        print(f"\nscaling {a} -> {b}:")
        for name in names:
            sa, sb = out[a][name].get("secs"), out[b][name].get("secs")
            if sa and sb:
                ra, rb = out[a][name].get("rows"), out[b][name].get("rows")
                w = f"  rows {ra} -> {rb} ({rb / max(ra, 1):.2f}x)" if ra is not None and rb is not None else ""
                print(f"  {name}: {sa}s -> {sb}s  ({sb / sa:.2f}x){w}")
    if args.json:
        print(f"wrote {args.json}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
