#!/usr/bin/env python3
"""Compare two sets of benchmark results, metric by metric.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl

Each file holds lines appended by run.py (`.bench_out/results.jsonl`):
`{"stamp": {...}, "result": {...}}`. For every workload and end-to-end
metric it prints both medians, the change, each side's spread (distance
between the quartiles as a share of the median) and whether the change
stays within the metric's bound from BENCHMARK.json.

Results are comparable only from the same box and core count: the
script refuses (exit 2) when the files mix core counts or hosts.
"""

import json
import os
import statistics
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    rows = defaultdict(lambda: defaultdict(list))
    boxes = set()
    with open(path) as fh:
        for line in fh:
            if not line.strip():
                continue
            rec = json.loads(line)
            st = rec["stamp"]
            if st.get("trace") != "0":
                continue
            boxes.add((st.get("nproc"), st.get("host")))
            for name, m in rec["result"]["metrics"].items():
                rows[st["workload"]][name].append(m["value"])
    return rows, boxes


def spread(xs):
    if len(xs) < 2:
        return float("nan")
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = {m["name"]: m for m in json.load(fh)["end_to_end"]}
    base, base_boxes = load(argv[1])
    new, new_boxes = load(argv[2])
    boxes = base_boxes | new_boxes
    if len(boxes) > 1:
        print(f"refusing to compare results from different boxes or core counts: "
              f"{sorted(boxes)}", file=sys.stderr)
        return 2
    worse = 0
    print(f"{'workload':<16}{'metric':<18}{'base':>12}{'new':>12}{'change':>9}"
          f"{'spread b/n':>14}  verdict")
    for wl in sorted(set(base) & set(new)):
        for name, m in spec.items():
            b, n = base[wl].get(name), new[wl].get(name)
            if not b or not n:
                continue
            mb, mn = statistics.median(b), statistics.median(n)
            change = (mn - mb) / mb if mb else 0.0
            regress = change > m["bound"] if m["better"] == "lower" else -change > m["bound"]
            worse += regress
            print(f"{wl:<16}{name:<18}{mb:>12.4g}{mn:>12.4g}{change:>+9.1%}"
                  f"{spread(b):>7.1%}/{spread(n):<6.1%}  "
                  f"{'WORSE than bound' if regress else 'ok'}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
