"""Summarise a set of runs: per metric, the median and the distance between
the first and third quartile as a share of the median.

    python3 perfbench/spread.py results.txt [more.txt ...]

Each input line holds one run's result object (the last line run.py
prints), optionally preceded by other words; lines without one are
skipped.
"""

from __future__ import annotations

import json
import sys

from stats import iqr_share, median


def load(paths) -> dict[str, list[float]]:
    values: dict[str, list[float]] = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                start = line.find('{"correct"')
                if start < 0:
                    continue
                result = json.loads(line[start:])
                for name, m in result["metrics"].items():
                    values.setdefault(name, []).append(m["value"])
    return values


def main(argv) -> int:
    for name, xs in load(argv).items():
        spread = iqr_share(xs) if len(xs) >= 2 else float("nan")
        print(f"{name:24s} n={len(xs):2d} median={median(xs):10.4f} "
              f"iqr/median={spread:6.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
