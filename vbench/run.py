"""Run one benchmark workload and print its result as the last stdout line.

    python3 vbench/run.py --workload serve --seed 1 --seconds 4 --trace 0

Workloads: serve, catalog (see BENCHMARK.json for why each exists).
With ``--trace 0`` the result carries every end-to-end metric; with
``--trace 1`` every per-layer metric, and the run's spans are written to
``.vbench_out/<workload>-<seed>.spans.jsonl``. The line before the result
holds the run's details (per-kind figures, host calibration).
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _workloads():
    from vbench.catalog import catalog
    from vbench.serve import serve

    return {"serve": serve, "catalog": catalog}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve", "catalog"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    try:
        import victor_spark  # noqa: F401  (the library under test, from this checkout)
    except ImportError as exc:
        print(f"vbench: cannot import the library: {exc}", file=sys.stderr)
        return 2

    from vbench.harness import Run
    from vbench.metrics import report
    from vbench.trace import Tracer

    run = Run(args.workload, args.seed)
    try:
        ops, end_to_end, layers, tracer = _workloads()[args.workload](
            run, lambda spark: Tracer(spark, enabled=bool(args.trace)),
            args.seed, args.seconds)
        layers["host.noop_job_ms"] = run.noop_job_ms()
        layers["ops_failed_frac"] = ops.failed_frac
        if tracer.enabled:
            out_dir = os.path.join(ROOT, ".vbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"{args.workload}-{args.seed}.spans.jsonl"))
            layers["trace.overhead_frac"] = tracer.overhead_frac()
        result = ops.result(report(layers if args.trace else end_to_end, bool(args.trace)))
    finally:
        run.close()
    print(json.dumps({"detail": {**end_to_end, **layers}}, sort_keys=True))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
