"""Seeded end-to-end benchmark of video_data_pipeline_spark.

    python3 perfbench/run.py --workload {pipeline,curation}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The run generates its inputs from
``--seed`` under ``.perfbench_work/``, starts a fresh Spark session, runs
one cold pass of the workload (plus the oracle check for the queries),
then warm passes: at least two not disturbed by CPU steal, and at least
``--seconds`` of them. Every operation of every pass is verified;
failures count in ``failed``.

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``. With ``--trace 0`` the metrics are the
``end_to_end`` list of BENCHMARK.json, with ``--trace 1`` its
``per_layer`` list; the line before it carries the run's environment and
per-pass detail. See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import probes  # noqa: E402
from perfbench.datagen import Sizes, generate  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    Context,
    PipelineWorkload,
    QueryWorkload,
    median,
)

#: steal share above which a run is flagged as measured in a steal epoch
STEAL_EPOCH = 0.05
#: a plain run reports the median of this many warm passes ...
CLEAN_PASSES = 2
#: ... not counting passes during which the hypervisor stole more than
#: this share of CPU time (on a 4-core host such a pass ran up to 1.3x
#: slower). One more pass replaces a disturbed one when another pass was
#: clean, so the steal was a burst; in a steal epoch every pass is
#: disturbed and more passes would only lengthen the run.
STEAL_PASS = 0.03

CURATION_QUERIES = (
    "q_dedup_exact",
    "q_minhash_lsh_pairs",
    "q_prefix_filter_join_calibrated",
)


def workloads(scale: float) -> dict:
    """The two workloads; ``scale`` shrinks their inputs (self-test)."""

    def n(x: int) -> int:
        return max(1, int(x * scale))

    return {
        "pipeline": PipelineWorkload(Sizes(records=n(1000)), samples_per_shard=250),
        "curation": QueryWorkload(
            CURATION_QUERIES, Sizes(docs_base=n(200), docs_derived=n(100)),
        ),
    }


def pin_environment(work: str) -> tuple[dict, dict]:
    """Keep every file the run writes inside the checkout and fix the
    settings that change what is measured; returns them and the
    plan-cache pin for the record."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    # a persisted plan-cache sidecar would let a pass skip its pre-flight
    persisted = os.environ.pop("SPARK_GRAFT_PLAN_CACHE", None)
    return {
        "spark.driver.memory": os.environ["SPARK_DRIVER_MEMORY"],
        "SPARK_GRAFT_AQE_MIN_PARTITION": os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "256k"),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
    }, {"persisted_sidecar_unset": persisted, "cleared_before_each_pass": True}


def start_session():
    """Fresh-process set-up, timed: imports, get_spark(), ensure_shipped()
    and a first trivial action."""
    t0 = time.perf_counter()
    from video_data_pipeline_spark.session import ensure_shipped, get_spark

    t1 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}",
        },
    )
    t2 = time.perf_counter()
    ensure_shipped(spark)
    t3 = time.perf_counter()
    spark.range(1).count()
    t4 = time.perf_counter()
    return spark, {
        "setup_s": t4 - t0,
        "session.get_spark_s": t2 - t1,
        "session.ensure_shipped_s": t3 - t2,
        "session.first_action_s": t4 - t3,
    }


def stop_session(spark) -> None:
    """Stop Spark, its JVM and the JVM's Python workers, and wait for each."""
    from pyspark import SparkContext

    pids = probes.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 15
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    for pid in pids:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def run_pass(wl, ctx: Context, traced: bool, cold: bool = False):
    """One pass, with the steal share of the host's CPU time during it."""
    before = probes.cpu_times()
    p = wl.run_pass(ctx, traced=traced, cold=cold)
    p.steal_frac = probes.steal_frac(before, probes.cpu_times())
    return p


def measure(wl, ctx: Context, args) -> tuple[list, list]:
    """Warm passes after the cold one: (untraced, traced)."""
    if args.trace:
        # untraced, traced, traced, untraced: warm passes still speed up,
        # and this order gives both kinds the same mean position
        ps = [run_pass(wl, ctx, traced=t) for t in (False, True, True, False)]
        return [ps[0], ps[3]], ps[1:3]
    passes, t0, extra = [], time.perf_counter(), False
    while True:
        passes.append(run_pass(wl, ctx, traced=False))
        if len(passes) < CLEAN_PASSES or time.perf_counter() - t0 < args.seconds:
            continue
        clean = sum(p.steal_frac <= STEAL_PASS for p in passes)
        if clean >= CLEAN_PASSES or clean == 0 or extra:
            return passes, []
        extra = True


def describe(p) -> dict:
    return {"wall_s": p.wall_s, "steal_frac": p.steal_frac, "ops_s": p.ops_s, **p.layers}


def run(args, spec: dict) -> tuple[dict, dict]:
    wl = workloads(args.scale)[args.workload]
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    data_dir = os.path.join(work, "data")
    counts = generate(data_dir, args.seed, wl.sizes)
    env, plan_cache = pin_environment(work)

    cpu0, t_run = probes.cpu_times(), time.perf_counter()
    spark, setup = start_session()
    env.update(cores=spark.sparkContext.defaultParallelism, pyspark=spark.version)
    settings = hashlib.sha256(json.dumps(env, sort_keys=True).encode()).hexdigest()[:12]
    ctx = Context(spark, data_dir, work, probes.StatusStore(spark), corrupt=args.corrupt)
    failures, attempted = [], 0
    layer: dict[str, float] = {}
    try:
        with probes.RssSampler() as rss:
            cold = run_pass(wl, ctx, traced=False, cold=True)
            passes, traced_passes = measure(wl, ctx, args)
            if args.trace:
                layer.update(wl.layer_probes(ctx))
        for p in (cold, *passes, *traced_passes):
            attempted += p.attempted
            failures += p.failures
        layer.update(wl.out)
    finally:
        stop_session(spark)
    steal = probes.steal_frac(cpu0, probes.cpu_times())

    counted = [p for p in passes if p.steal_frac <= STEAL_PASS] or passes
    wall = median([p.wall_s for p in counted])
    e2e = {
        "setup_s": setup["setup_s"],
        "wall_s": wall,
        "samples_per_s": wl.input_rows(counts) / wall,
        "query_p50_s": median([median(list(p.ops_s.values())) for p in counted]),
    }
    if args.trace:
        layer.update({k: v for k, v in setup.items() if k.startswith("session.")})
        layer["session.cold_pass_extra_s"] = cold.wall_s - wall
        for key in {k for p in traced_passes for k in p.layers}:
            layer[key] = median([p.layers[key] for p in traced_passes if key in p.layers])
        for key in traced_passes[0].spark:
            layer[f"spark.{key}"] = median([p.spark[key] for p in traced_passes])
        for q in wl.queries:
            layer[f"queries.{q}.s"] = median([p.ops_s[q] for p in traced_passes])
        traced_wall = median([p.wall_s for p in traced_passes])
        layer["bench.trace_overhead_frac"] = traced_wall / wall - 1
        layer["bench.failed_frac"] = len(failures) / attempted
    layer["bench.peak_rss_mb"] = rss.peak / 2**20
    layer["bench.steal_frac"] = steal
    layer["bench.loadavg_1m"] = os.getloadavg()[0]
    host = {"steal_frac": steal, "loadavg": os.getloadavg()}

    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    source = layer if args.trace else e2e
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    # a layer the workload leaves idle did no work: it reads 0
    metrics = {k: {"value": float(source.get(k, 0.0)), "unit": units[k]} for k in names}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "inputs": counts,
        "env": env,
        "plan_cache": plan_cache,
        # runs compare only under one settings key and outside steal epochs
        "comparable": {"settings": settings, "steal_epoch": steal > STEAL_EPOCH},
        "host": host,
        "run_s": time.perf_counter() - t_run,
        "passes": [describe(p) for p in passes],
        "traced_passes": [describe(p) for p in traced_passes],
        "cold_pass": describe(cold),
        "failures": failures,
    }
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": metrics,
    }
    return detail, result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("pipeline", "curation"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help=argparse.SUPPRESS)
    ap.add_argument("--corrupt", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if importlib.util.find_spec("video_data_pipeline_spark") is None:
        print(f"video_data_pipeline_spark is not importable from {ROOT}", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    try:
        detail, result = run(args, spec)
    finally:
        shutil.rmtree(os.path.join(ROOT, ".perfbench_work", args.workload), ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
