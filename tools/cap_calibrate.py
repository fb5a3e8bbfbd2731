"""Calibrate the hot-bucket caps against YOUR corpus (manual pre-flight).

Every pair generator ships its 100 TB hot-bucket guard ON by default
(r12). This CLI measures the actual bucket/posting size distribution for
each front — one linear groupBy per front, no pair expansion, so it is
safe on corpora whose joins would not be — and reports whether each
default cap binds, i.e. whether the registered queries would return
capped subsets rather than oracle-exact answers.

The measurement core lives in ``video_data_pipeline_spark.calibrate``
(NULL-safe aggregates, integer pair arithmetic), which also powers the
``calibrate=True`` knob on the registered pair queries of all four
families — the engine runs this pre-flight itself and proceeds-exact or
refuses by name. Use the CLI for the full five-front
matrix and for ahead-of-time corpus audits.

Reading the report:
- ``max <= default``: the cap is invisible — registered answers are
  exact on this corpus.
- ``max > default``: the cap will bind. If the oversized buckets are
  boilerplate cliques (inspect a sample!), that is the cap doing its
  job; if they are honest near-dup structure you want fully enumerated,
  pass a larger ``max_bucket_size`` (or ``None``) explicitly and budget
  for the quadratic pair workload the ``capped_pairs`` column estimates.

Usage:
  python tools/cap_calibrate.py --sf-dir /root/testdata/sf0.01 [--json OUT.json]
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--json", default=None)
    args = ap.parse_args()

    sys.path.insert(0, ".")
    from video_data_pipeline_spark.calibrate import measure_front, standard_fronts
    from video_data_pipeline_spark.session import get_spark

    spark = get_spark("cap_calibrate")
    out: dict[str, dict] = {"sf_dir": args.sf_dir}
    for name, default, make in standard_fronts(spark, args.sf_dir):
        rec = measure_front(make(), default, name).as_dict()
        out[name] = rec
        print(f"{name:22s} default={default:5d} max={rec['max']:8d} "
              f"p99={rec['p99']:6d} oversized={rec['oversized']:6d} "
              f"pairs uncapped={rec['uncapped_pairs']:.3g} "
              f"capped={rec['capped_pairs']:.3g} "
              f"{'** CAP BINDS — registered answers MAY be a capped subset here **' if rec['binds'] else 'cap invisible (exact)'}")
        # bucket-level binding is CONSERVATIVE: a bound bucket only changes
        # the final answer if a dropped candidate pair (a) would have passed
        # verification and (b) is witnessed by no other bucket — at sfp1,
        # containment postings bind (9 buckets) yet the verified output is
        # hash-identical to the oracle, while simhash chunks bind and the
        # output halves (CORRECTNESS_sfp1_r12.json). When in doubt, re-run
        # the query with the cap=None escape and diff.
    if args.json:
        with open(args.json, "w") as f:
            json.dump(out, f, indent=1)
        print(f"wrote {args.json}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
