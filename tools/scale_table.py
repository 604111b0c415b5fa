#!/usr/bin/env python3
"""Render the scaling table from two scale_run.sh logs.

Usage: scale_table.py <log_a> <log_b> [sf01_archive]

Reads the last bench JSON line from each log (subset runs carry the
per-query map inline) and labels each column with that line's `cpus`
stamp. Prints per-query seconds at both core counts, the ratio of the
fewer-core run to the more-core run (>1 = the query benefits from
cores), and — when an sf0.1 archive is given — the scaled/sf0.1 work
ratio at the higher core count.
"""
import json
import sys


def last_line(path):
    with open(path, errors="replace") as f:
        lines = [l for l in f if l.startswith('{"metric"')]
    if not lines:
        sys.exit(f"no bench JSON line in {path}")
    return json.loads(lines[-1])


def main():
    hi, lo = sorted((last_line(p) for p in sys.argv[1:3]),
                    key=lambda r: r.get("cpus", 0), reverse=True)
    h, l = f"c{hi.get('cpus', '?')}", f"c{lo.get('cpus', '?')}"
    base = json.load(open(sys.argv[3]))["queries"] if len(sys.argv) > 3 \
        else {}
    qh, ql = hi["queries"], lo["queries"]
    common = sorted(q for q in qh if q in ql and qh[q] > 0 and ql[q] > 0)
    print(f"{'query':28s} {h + ' s':>8s} {l + ' s':>8s} {l + '/' + h:>9s}"
          + (f" {'scaled/sf0.1@' + h:>16s}" if base else ""))
    ratios = []
    for q in common:
        r = ql[q] / qh[q]
        ratios.append(r)
        row = f"{q:28s} {qh[q]:8.2f} {ql[q]:8.2f} {r:9.2f}"
        if base and base.get(q, 0) > 0:
            row += f" {qh[q] / base[q]:16.1f}"
        print(row)
    ratios.sort()
    med = ratios[len(ratios) // 2]
    print(f"\nmedian {l}/{h}: {med:.2f}  (>1 = more cores help)")
    print(f"{h} total {sum(qh[q] for q in common):.1f} s, "
          f"{l} total {sum(ql[q] for q in common):.1f} s")


if __name__ == "__main__":
    main()
