"""Self-test of the benchmark at a small input size.

    python3 perfbench/selftest.py

Checks, from the root of a checkout:
- BENCHMARK.json is within the limits its format sets;
- two seeds generate different input bytes with the same row counts;
- a clean run of every workload is correct and emits every end-to-end
  metric with its unit; a traced run with one deliberately corrupted
  result emits every per-layer metric and counts the corruption as
  failed;
- in a directory holding only BENCHMARK.json and perfbench/, the
  benchmark exits non-zero without printing a result.

Exits 0 when every check passes.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.run import workloads  # noqa: E402
from perfbench.datagen import generate  # noqa: E402

SCRATCH = os.path.join(ROOT, ".perfbench_work", "selftest")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
SCALE = "0.5"

failures: list[str] = []


def check(ok: bool, what: str) -> None:
    print(("ok    " if ok else "FAIL  ") + what, flush=True)
    if not ok:
        failures.append(what)


def check_spec(spec: dict) -> None:
    check(set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                        "per_layer"}, "spec keys")
    check(2 <= len(spec["workloads"]) <= 8, "2 to 8 workloads")
    check(1 <= len(spec["per_layer"]) <= 128, "1 to 128 per-layer metrics")
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    check(len(names) == len(set(names)), "names are unique")
    check(all(NAME.match(n) for n in names), "names are well formed")
    check(all(UNIT.match(m["unit"]) for m in spec["end_to_end"] + spec["per_layer"]),
          "units are well formed")
    check(all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"]), "bounds within 0.25")
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    check(bool(setup) and setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"]),
          "setup_s has the largest bound")
    check(len(json.dumps(spec)) <= 64 * 1024, "spec under 64 KiB")


def digest_dir(path: str) -> str:
    h = hashlib.sha256()
    for f in sorted(os.listdir(path)):
        with open(os.path.join(path, f), "rb") as fh:
            h.update(f.encode() + fh.read())
    return h.hexdigest()


def check_seeds() -> None:
    for name, wl in workloads(float(SCALE)).items():
        a, b = os.path.join(SCRATCH, "seed_a"), os.path.join(SCRATCH, "seed_b")
        counts_a, counts_b = generate(a, 1, wl.sizes), generate(b, 2, wl.sizes)
        check(counts_a == counts_b, f"{name}: two seeds, same row counts {counts_a}")
        check(digest_dir(a) != digest_dir(b), f"{name}: two seeds, different bytes")
        check(generate(b, 1, wl.sizes) == counts_a and digest_dir(a) == digest_dir(b),
              f"{name}: same seed, same bytes")
        shutil.rmtree(a)
        shutil.rmtree(b)


def bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--seconds", "1", *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_runs(spec: dict) -> None:
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for w in spec["workloads"]:
        name = w["name"]
        for trace, corrupt in (("0", False), ("1", True)):
            extra = ["--corrupt"] if corrupt else []
            p = bench(ROOT, "--workload", name, "--seed", "7", "--trace", trace,
                      "--scale", SCALE, *extra)
            label = f"{name} trace={trace}{' corrupted' if corrupt else ''}"
            check(p.returncode == 0, f"{label}: exit 0")
            if p.returncode != 0:
                print(p.stderr[-2000:])
                continue
            result = json.loads(p.stdout.strip().splitlines()[-1])
            check(set(result) == {"correct", "attempted", "failed", "metrics"},
                  f"{label}: result keys")
            want = [m["name"] for m in spec["per_layer" if trace == "1" else "end_to_end"]]
            got = result["metrics"]
            check(sorted(got) == sorted(want), f"{label}: every declared metric emitted")
            check(all(got[k]["unit"] == units[k] for k in got), f"{label}: units match")
            if corrupt:
                check(result["failed"] > 0 and not result["correct"],
                      f"{label}: corruption counted ({result['failed']} failed)")
                check(got["bench.failed_frac"]["value"] > 0, f"{label}: bench.failed_frac > 0")
            else:
                check(result["failed"] == 0 and result["correct"], f"{label}: correct")
                check(all(v["value"] > 0 for v in got.values()), f"{label}: metrics nonzero")


def check_bare_directory() -> None:
    bare = os.path.join(SCRATCH, "bare")
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = bench(bare, "--workload", "pipeline", "--seed", "1", "--trace", "0")
    lines = p.stdout.strip().splitlines()
    check(p.returncode != 0 and not any(line.startswith("{") for line in lines),
          f"bare directory: exit {p.returncode}, no result printed")


def main() -> int:
    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(SCRATCH)
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        check_spec(spec)
        check_seeds()
        check_bare_directory()
        check_runs(spec)
    finally:
        shutil.rmtree(SCRATCH, ignore_errors=True)
    print(f"{len(failures)} failed" if failures else "all checks passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
