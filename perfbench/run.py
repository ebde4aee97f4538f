"""Run one benchmark workload and print its result as the last line of
standard output.

    python3 perfbench/run.py --workload catalog_ksql --seed 1 --seconds 20 --trace 0

Workloads: ``catalog_ksql``, ``stream_drain`` (see perfbench/README.md).
``--seconds`` fixes the number of timed units of work (catalog pass plus
KSQL script, or one drain of each pipeline) from each workload's nominal
unit length, so the work of a run never depends on how fast it goes. With
``--trace 0`` the result holds the end-to-end metrics named in
BENCHMARK.json, with ``--trace 1`` the per-layer metrics.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import REPO_ROOT, WorkDir, start_spark, stop_spark  # noqa: E402

WORKLOADS = ("catalog_ksql", "stream_drain")
MIN_UNITS = 3  # the drift check compares thirds of the timed work


def load_spec() -> dict:
    with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def result_line(spec: dict, trace: bool, outcome) -> dict:
    """The final JSON object; raises when a metric is missing."""
    specs = spec["per_layer" if trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in specs}
    values = {k: v for k, v in outcome.metrics.items() if k in units}
    if set(values) != set(units):
        raise RuntimeError(f"metrics missing from the run: {sorted(set(units) - set(values))}")
    return {
        "correct": bool(outcome.correct),
        "attempted": int(outcome.attempted),
        "failed": int(outcome.failed),
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = load_spec()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    workload = importlib.import_module(f"perfbench.{args.workload}")
    import ksql_query_tutorial_spark  # noqa: F401  (fail before any work)

    units = max(MIN_UNITS, int(args.seconds // workload.UNIT_S))
    work = WorkDir()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work)
        session_s = time.perf_counter() - t0
        tracer = None
        if args.trace:
            from perfbench.tracing import PER_LAYER, Tracer

            tracer = Tracer(spark)
        outcome = workload.run(spark, work, args.seed, units, tracer)
        outcome.metrics["setup_s"] += session_s
        if tracer is not None:
            for name in PER_LAYER:
                outcome.metrics.setdefault(name, 0.0)
            outcome.metrics["tracing.overhead_ms"] = 1000 * tracer.overhead_s
    finally:
        if spark is not None:
            stop_spark(spark)
        work.remove()

    for note in outcome.notes:
        print(f"# {note}", file=sys.stderr)
    # The drift verdict is reported, not folded into "correct": on this
    # class of host the CPU speed itself swings by about 15 % over 10 s
    # windows, so a drifted run can be an unlucky host phase as well as
    # an unfinished warm-up.
    bound = bounds["latency_p50_ms"]
    verdict = "valid" if abs(outcome.drift) <= bound else "invalid"
    print(f"# drift {outcome.drift:+.4f} (bound {bound}): run {verdict}", file=sys.stderr)
    print(json.dumps(result_line(spec, bool(args.trace), outcome)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
