"""Diff two sets of benchmark results metric by metric, layer by layer.

    python3 perfbench/compare.py BASE NEW

BASE and NEW are files holding the standard output of one or more runs of
``perfbench/run.py`` (for per-layer numbers, ``--trace 1`` runs). Every
line that parses as a result object counts; with several runs in a file
each metric is the median of its runs. Metrics are grouped by layer (the
part of the name before the first dot; end-to-end metrics have none) and
every ratio is printed with its base.
"""

from __future__ import annotations

import json
import os
import statistics
import sys


def load(path: str) -> dict[str, tuple[float, str]]:
    """Metric name -> (median value over the file's runs, unit)."""
    runs = []
    with open(path) as fh:
        for line in fh:
            try:
                obj = json.loads(line)
            except ValueError:
                continue
            if isinstance(obj, dict) and "metrics" in obj:
                runs.append(obj["metrics"])
    if not runs:
        raise SystemExit(f"{path}: no benchmark result found")
    names = {k for r in runs for k in r}
    return {
        k: (statistics.median(r[k]["value"] for r in runs if k in r),
            next(r[k]["unit"] for r in runs if k in r))
        for k in names
    }


def directions() -> dict[str, str]:
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "BENCHMARK.json")
    with open(path) as fh:
        spec = json.load(fh)
    return {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}


def layer(name: str) -> str:
    return name.split(".", 1)[0] if "." in name else "end_to_end"


def rows(base: dict, new: dict, better: dict[str, str]) -> list[tuple]:
    out = []
    for name in sorted(set(base) | set(new), key=lambda n: (layer(n), n)):
        b = base.get(name, (None, ""))[0]
        n, unit = new.get(name, (None, base.get(name, (0, ""))[1]))
        if b is None or n is None:
            ratio, verdict = None, "only in " + ("NEW" if b is None else "BASE")
        elif b == 0:
            ratio, verdict = None, "same" if n == 0 else "base is 0"
        else:
            ratio = n / b
            if ratio == 1:
                verdict = "same"
            else:
                lower_is_better = better.get(name, "lower") == "lower"
                verdict = "better" if (ratio < 1) == lower_is_better else "worse"
        out.append((layer(name), name, unit, b, n, ratio, verdict))
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    table = rows(load(argv[0]), load(argv[1]), directions())
    print(f"{'layer':12s} {'metric':40s} {'unit':6s} {'base':>14s} {'new':>14s} "
          f"{'new/base':>9s}  verdict")
    for lay, name, unit, b, n, ratio, verdict in table:
        fb = "-" if b is None else f"{b:14.4g}"
        fn = "-" if n is None else f"{n:14.4g}"
        fr = "-" if ratio is None else f"{ratio:9.3f}"
        print(f"{lay:12s} {name:40s} {unit:6s} {fb:>14s} {fn:>14s} {fr:>9s}  {verdict}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
