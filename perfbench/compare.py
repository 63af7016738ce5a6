"""Compare two sets of benchmark results taken on the same host shape.

    python3 perfbench/compare.py BASE.json [BASE2.json ...] -- NEW.json [NEW2.json ...]

Each file is a per-run result written under ``.perfbench-work/results/``.
All files must share one host shape (workload, cpus, sf and software
versions); a mismatch is an error, never a silent comparison. Prints, per
metric, the median of each side and the change as a share of the base
median.
"""

from __future__ import annotations

import json
import statistics
import sys

import host


def load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as f:
            out.append(json.load(f))
    return out


def compare(base: list[dict], new: list[dict]) -> dict[str, tuple[float, float, float]]:
    ref = base[0]["shape"]
    for r in base[1:] + new:
        host.check_same_shape(ref, r["shape"])
    rows = {}
    for name in base[0]["metrics"]:
        b = statistics.median(r["metrics"][name]["value"] for r in base)
        n = statistics.median(r["metrics"][name]["value"] for r in new)
        rows[name] = (b, n, (n - b) / b if b else float("nan"))
    return rows


def main(argv: list[str]) -> int:
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    cut = argv.index("--")
    try:
        rows = compare(load(argv[:cut]), load(argv[cut + 1:]))
    except host.ShapeMismatch as exc:
        print(f"compare: {exc}", file=sys.stderr)
        return 1
    for name, (b, n, d) in rows.items():
        print(f"{name:24s} base {b:12.6g}  new {n:12.6g}  change {100 * d:+7.2f}%")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
