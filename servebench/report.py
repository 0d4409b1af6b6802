#!/usr/bin/env python3
"""Reports over run records of the serving benchmark.

Each run of `servebench/run.py` leaves a record directory under
`.servebench_runs/<workload>/` holding `result.json`. Give this script
record directories or globs of them (quote the globs).

  steadiness A B   Compares two sets of untraced runs per workload and metric
                   against the bounds in BENCHMARK.json: each set's spread
                   (distance between the first and third quartile over the
                   median) and the shift of the second median in the worse
                   direction. A metric passes when both spreads and the shift
                   stay within its bound, and is steady when both spreads
                   stay below a third of it. setup_s is judged like every
                   other metric.
  overhead T U     Tracing overhead: medians of traced runs T minus medians of
                   untraced runs U, per workload and end-to-end metric.
  counts T         Whether the per-layer counts of traced runs repeat exactly
                   across runs of the same workload and seed (the layout's
                   byte size to within 0.01%, see SIZE_TOLERANCE).

Example:
  python3 servebench/report.py steadiness \\
      '.servebench_runs/ivf-disk-rw/seed*-trace0-2026101712*' \\
      '.servebench_runs/ivf-disk-rw/seed*-trace0-2026101713*'
"""
import glob
import json
import os
import statistics
import sys

# writes are measured on ivf-disk-rw only, so BENCHMARK.json carries no
# bound for them; they are judged against the largest bound it allows
WRITE_BOUND = 0.25
WRITE_BETTER = "lower"
COUNT_PREFIXES = ("spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
                  "index.rows_read_per_query", "index.bytes_read_per_query",
                  "index.cells_probed_per_query", "core.", "spark.failed_tasks")
# A compaction reads a cell's files in listing order, and the random names
# of parquet part files make that order, and so the compressed size of the
# rewritten files, differ by a few bytes between runs.
SIZE_TOLERANCE = {"core.layout_bytes": 1e-4}


def load(patterns, trace):
    records = []
    for pattern in patterns:
        for d in sorted(glob.glob(pattern)):
            f = os.path.join(d, "result.json")
            if os.path.exists(f):
                with open(f) as fh:
                    r = json.load(fh)
                if r["trace"] == trace:
                    records.append(r)
    return records


def by_workload(records):
    out = {}
    for r in records:
        out.setdefault(r["workload"], []).append(r)
    return out


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / abs(q2) if q2 else float("inf")


def metric_values(records, name):
    vals = []
    for r in records:
        for group in ("end_to_end", "writes"):
            m = r[group].get(name)
            if m is not None and m["value"] is not None:
                vals.append(m["value"])
    return vals


def bounds():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    return {m["name"]: (m["bound"], m["better"]) for m in bench["end_to_end"]}


def steadiness(a_patterns, b_patterns):
    limits = bounds()
    a, b = by_workload(load(a_patterns, False)), by_workload(load(b_patterns, False))
    ok = True
    for wl in sorted(set(a) | set(b)):
        ra, rb = a.get(wl, []), b.get(wl, [])
        print(f"\n{wl}: {len(ra)} runs vs {len(rb)} runs")
        for label, rs in (("A", ra), ("B", rb)):
            if rs:
                probe = statistics.median(r["calibration"]["probe_start_s"] for r in rs)
                load_avg = statistics.median(r["calibration"]["load_avg_start"] for r in rs)
                print(f"  calibration {label}: probe {probe:.3f} s, load average {load_avg:.2f}")
        names = sorted({n for r in ra + rb for g in ("end_to_end", "writes") for n in r[g]})
        print(f"  {'metric':16} {'bound':>6} {'median A':>12} {'median B':>12} "
              f"{'spread A':>9} {'spread B':>9} {'shift':>7}  verdict")
        for name in names:
            va, vb = metric_values(ra, name), metric_values(rb, name)
            if not va or not vb:
                continue
            bound, better = limits.get(name, (WRITE_BOUND, WRITE_BETTER))
            ma, mb = statistics.median(va), statistics.median(vb)
            sa, sb = spread(va), spread(vb)
            change = (mb - ma) / abs(ma) if ma else 0.0
            shift = change if better == "lower" else -change
            passed = shift <= bound and sa <= bound and sb <= bound
            steady = sa < bound / 3 and sb < bound / 3
            verdict = ("pass" if passed else "FAIL") + ("" if steady else ", spread above bound/3")
            ok &= passed
            print(f"  {name:16} {bound:6.2f} {ma:12.5g} {mb:12.5g} {sa:9.3f} {sb:9.3f} "
                  f"{shift:+7.3f}  {verdict}")
    return 0 if ok else 1


def overhead(t_patterns, u_patterns):
    t, u = by_workload(load(t_patterns, True)), by_workload(load(u_patterns, False))
    for wl in sorted(set(t) & set(u)):
        print(f"\n{wl}: {len(t[wl])} traced vs {len(u[wl])} untraced runs")
        for name in sorted(t[wl][0]["end_to_end"]):
            vt, vu = metric_values(t[wl], name), metric_values(u[wl], name)
            if vt and vu:
                mt, mu = statistics.median(vt), statistics.median(vu)
                rel = (mt - mu) / abs(mu) if mu else 0.0
                print(f"  {name:16} traced {mt:12.5g} untraced {mu:12.5g} "
                      f"overhead {mt - mu:+12.5g} ({rel:+.1%})")
    return 0


def counts(t_patterns):
    ok = True
    groups = {}
    for r in load(t_patterns, True):
        groups.setdefault((r["workload"], r["seed"]), []).append(r)
    for (wl, seed), rs in sorted(groups.items()):
        names = sorted(n for n in rs[0]["per_layer"] if n.startswith(COUNT_PREFIXES))
        def repeats(n):
            vals = [r["per_layer"][n]["value"] for r in rs]
            tol = SIZE_TOLERANCE.get(n, 0.0) * max(abs(v) for v in vals)
            return max(vals) - min(vals) <= tol
        differing = [n for n in names if not repeats(n)]
        ok &= not differing
        print(f"{wl} seed {seed}: {len(rs)} traced runs, {len(names)} counts, "
              + ("all repeat exactly" if not differing else "differ: " + ", ".join(differing)))
    return 0 if ok else 1


def main(argv):
    if len(argv) == 3 and argv[0] == "steadiness":
        return steadiness(argv[1].split(), argv[2].split())
    if len(argv) == 3 and argv[0] == "overhead":
        return overhead(argv[1].split(), argv[2].split())
    if len(argv) == 2 and argv[0] == "counts":
        return counts(argv[1].split())
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
