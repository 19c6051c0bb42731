"""Compare two sets of benchmark records, refusing different host shapes.

    python3 perfbench/compare.py BASE_DIR_OR_FILES... -- NEW_DIR_OR_FILES...

Each side is one or more record files written by ``run.py`` (or
directories of them). Records are grouped by (workload, trace); for each
metric the two medians and their ratio are printed. Records whose host
shape (CPU count, Spark cores, pyspark, Java and Python versions) or
input sizes differ from the other side's are not compared: the command
prints HOST-CHANGED and exits with status 2.
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path

SHAPE_KEYS = ("nproc", "spark_graft_cpus", "pyspark", "java", "python", "machine")


def load(args: list[str]) -> list[dict]:
    out = []
    for a in args:
        p = Path(a)
        files = sorted(p.glob("*.json")) if p.is_dir() else [p]
        out += [json.loads(f.read_text()) for f in files]
    return out


def shape(rec: dict) -> tuple:
    return tuple(rec["host"].get(k) for k in SHAPE_KEYS) + (json.dumps(rec["sizes"], sort_keys=True),)


def main(argv: list[str]) -> int:
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    cut = argv.index("--")
    base, new = load(argv[:cut]), load(argv[cut + 1:])
    shapes = {shape(r) for r in base + new}
    if len(shapes) > 1:
        print("HOST-CHANGED: records come from different host shapes or input sizes:")
        for s in sorted(shapes, key=str):
            print("  ", dict(zip(SHAPE_KEYS + ("sizes",), s)))
        return 2
    groups = sorted({(r["workload"], r["trace"]) for r in base + new})
    for wl, tr in groups:
        b = [r for r in base if (r["workload"], r["trace"]) == (wl, tr)]
        n = [r for r in new if (r["workload"], r["trace"]) == (wl, tr)]
        if not b or not n:
            continue
        print(f"{wl} trace={tr}: {len(b)} base runs, {len(n)} new runs")
        for m in sorted(b[0]["metrics"]):
            mb = statistics.median(r["metrics"][m] for r in b)
            mn = statistics.median(r["metrics"][m] for r in n)
            ratio = f"x{mn / mb:.3f}" if mb else "-"
            print(f"  {m:40s} {mb:14.4f} {mn:14.4f} {ratio}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
