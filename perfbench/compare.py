"""Compare two benchmark result files, metric by metric.

    python3 perfbench/compare.py BASE.json NEW.json

The files are the per-run records ``perfbench/run.py`` writes under
``.perfbench_work/results/``. Results from machines or settings with a
different core count are refused: a rate measured at ``local[4]`` says
nothing about one measured at ``local[32]``.
"""

from __future__ import annotations

import json
import sys


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = (json.load(open(p)) for p in argv)
    for key in ("nproc", "cores", "workload"):
        if a["stamp"][key] != b["stamp"][key]:
            print(f"refusing to compare: {key} differs "
                  f"({a['stamp'][key]} vs {b['stamp'][key]})", file=sys.stderr)
            return 1
    for name, m in a["metrics"].items():
        other = b["metrics"].get(name)
        if other is None:
            print(f"{name:40s} {m['value']:14.4f} {'-':>14s} {m['unit']}")
            continue
        ratio = other["value"] / m["value"] if m["value"] else float("nan")
        print(f"{name:40s} {m['value']:14.4f} {other['value']:14.4f} {ratio:8.3f}x {m['unit']}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
