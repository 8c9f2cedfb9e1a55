#!/usr/bin/env python3
"""Compare two result sets of the benchmark, metric by metric.

    python3 perfbench/diff.py <parent> <change>

Each side is a directory of run outputs (run.py keeps one file per run in
<build dir>/results/) or a list of such files joined by commas. A run
output is the stdout of run.py: the per-kind latency lines, then the
result JSON as the last line. For every end-to-end metric (trace 0 runs),
every per-kind latency line and every per-layer metric (trace 1 runs), it
prints one row per workload with each side's median and quartiles
(Python's statistics.quantiles, n=4), the sample count and the change of
the medians. It ends with the tracing overhead of each side: the traced
runs' end-to-end medians minus the untraced runs'.
"""

import json
import os
import re
import statistics
import sys

DETAIL = re.compile(r"^\[(\w+)\] (\w+)\s+(-?[0-9.]+) (\S+)")


def load(spec):
    """{(workload, trace): {metric: (unit, [values])}} from run outputs."""
    paths = []
    for part in spec.split(","):
        if os.path.isdir(part):
            paths += [os.path.join(part, f) for f in sorted(os.listdir(part))]
        elif part:
            paths.append(part)
    runs = {}
    for path in paths:
        with open(path) as f:
            lines = [l.rstrip("\n") for l in f if l.strip()]
        if not lines or not lines[-1].startswith("{"):
            continue
        result = json.loads(lines[-1])
        workload = None
        detail = {}
        for l in lines[:-1]:
            m = DETAIL.match(l)
            if m:
                workload = m.group(1)
                detail[m.group(2)] = (m.group(4), float(m.group(3)))
        if workload is None:
            workload = os.path.basename(path).split("-s")[0]
        traced = any(k.startswith("spark.") for k in result["metrics"])
        metrics = {k: (v["unit"], v["value"]) for k, v in result["metrics"].items()}
        if not traced:
            for k, uv in detail.items():
                metrics.setdefault(k, uv)
        key = (workload, 1 if traced else 0)
        for k, (unit, value) in metrics.items():
            runs.setdefault(key, {}).setdefault(k, (unit, []))[1].append(value)
    return runs


def summary(values):
    if not values:
        return None
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    return med, q1, q3, len(values)


def fmt(s):
    if s is None:
        return "-"
    med, q1, q3, n = s
    return f"{med:.6g} [{q1:.4g}, {q3:.4g}] n={n}"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = load(sys.argv[1]), load(sys.argv[2])
    workloads = sorted({w for w, _ in a} | {w for w, _ in b})
    for trace, title in ((0, "end-to-end (trace 0)"), (1, "per-layer (trace 1)")):
        names = []
        for side in (a, b):
            for (w, t), ms in side.items():
                if t == trace:
                    names += [m for m in ms if m not in names]
        if not names:
            continue
        print(f"== {title}")
        print(f"{'metric':40s} {'workload':11s} {'parent median [q1, q3]':34s} "
              f"{'change median [q1, q3]':34s} delta")
        for m in names:
            for w in workloads:
                ua = a.get((w, trace), {}).get(m)
                ub = b.get((w, trace), {}).get(m)
                if ua is None and ub is None:
                    continue
                unit = (ua or ub)[0]
                sa = summary(ua[1]) if ua else None
                sb = summary(ub[1]) if ub else None
                delta = ""
                if sa and sb and sa[0]:
                    delta = f"{(sb[0] - sa[0]) / abs(sa[0]) * 100:+.1f}%"
                print(f"{m + ' (' + unit + ')':40s} {w:11s} {fmt(sa):34s} {fmt(sb):34s} {delta}")
    print("== tracing overhead (traced minus untraced median)")
    for label, side in (("parent", a), ("change", b)):
        for w in workloads:
            plain = side.get((w, 0), {})
            traced = side.get((w, 1), {})
            for e2e, tr in (("op_p50_s", "trace.op_p50_s"), ("ops_per_s", "trace.ops_per_s")):
                if e2e in plain and tr in traced:
                    p = statistics.median(plain[e2e][1])
                    t = statistics.median(traced[tr][1])
                    print(f"{label:7s} {w:11s} {e2e:10s} untraced {p:.6g} traced {t:.6g} "
                          f"overhead {t - p:+.6g} ({(t - p) / p * 100:+.1f}%)")


if __name__ == "__main__":
    main()
