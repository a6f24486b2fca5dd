#!/usr/bin/env python3
"""Family-level bench comparison with live-row FLOOR ADJUSTMENT
(VERDICT r8 item 7): the 27 q_stream_live_* rows each pay a fixed
micro-batch + state-store harness floor (~2.3 s/row steady; BASELINE.md,
"Streaming per-row warm-up floor, measured"), which is ~25% of the whole
suite and drowns operator drift in round-over-round comparisons. This
report prints, per family, the raw total and geomean ratio AND the
floor-adjusted ones (each live row's time minus the measured floor,
clamped at a 0.05 s residue), so a family ratio reads operator cost
directly.

It then lists every row whose Spark job count differs between the two
files (both need the `jobs` map that graft.Bench writes), marking the rows
whose count is known to wobble between runs of the same code.

Usage: python3 tools/family_report.py BENCH_LAST_prev.json BENCH_LAST_cur.json [floor_sec]
(Accepts the driver's BENCH_r{N}.json too — falls back to parsing the
"queries" map out of the "tail" field.)
"""
import json, math, re, sys

# Rows whose job count changes between graft.Bench runs of the SAME code,
# with jobs read from the scheduler's own counter: five isolated sf0.01
# runs per side gave q_ml_dbscan 97/98, q_ml_dbscan_trained 107/108,
# q_rel_tpch_q7 15/16 and q_graph_modularity 46/48. A difference there
# needs isolated reruns of both sides before it counts.
JOB_WOBBLE = {"q_ml_dbscan", "q_ml_dbscan_trained", "q_rel_tpch_q7",
              "q_graph_modularity"}


def load(path):
    d = json.load(open(path))
    if "queries" in d:
        return d["queries"]
    # driver wrapper: the queries map lives inside the (2000-char-clipped)
    # stdout tail — recover whatever per-query pairs survived the clip
    qs = {k: float(v) for k, v in
          re.findall(r'"(q_[a-z0-9_]+)":([0-9.]+)', d.get("tail", ""))}
    if not qs:
        sys.exit(f"{path}: no queries found")
    return qs


def load_jobs(path):
    return json.load(open(path)).get("jobs", {})


def jobs_report(prev_path, cur_path):
    prev, cur = load_jobs(prev_path), load_jobs(cur_path)
    if not prev or not cur:
        print("jobs: no `jobs` map in both files; job counts not compared")
        return
    shared = sorted(set(prev) & set(cur))
    diff = [q for q in shared if prev[q] != cur[q]]
    print(f"jobs: {len(shared)} shared rows, {len(diff)} differ "
          f"({sum(q not in JOB_WOBBLE for q in diff)} outside the wobble rows)")
    for q in diff:
        mark = "  (known wobble)" if q in JOB_WOBBLE else ""
        print(f"  {q} {prev[q]} -> {cur[q]}{mark}")


def family(name):
    return name.split("_")[1] if "_" in name else name


def adjust(name, sec, floor):
    if name.startswith("q_stream_live_"):
        return max(0.05, sec - floor)
    return sec


def main():
    prev, cur = load(sys.argv[1]), load(sys.argv[2])
    floor = float(sys.argv[3]) if len(sys.argv) > 3 else 2.3
    shared = sorted(set(prev) & set(cur))
    new = sorted(set(cur) - set(prev))
    fams = sorted({family(q) for q in shared})
    print(f"{'family':9s} {'n':>3s} {'prev_s':>8s} {'cur_s':>8s} {'geo':>6s} "
          f"{'prev_adj':>8s} {'cur_adj':>8s} {'geo_adj':>7s}")
    g_all, ga_all = [], []
    for f in fams:
        qs = [q for q in shared if family(q) == f]
        p = sum(prev[q] for q in qs)
        c = sum(cur[q] for q in qs)
        pa = sum(adjust(q, prev[q], floor) for q in qs)
        ca = sum(adjust(q, cur[q], floor) for q in qs)
        geo = math.exp(sum(math.log(max(cur[q], 1e-3) / max(prev[q], 1e-3))
                           for q in qs) / len(qs))
        geoa = math.exp(sum(math.log(
            max(adjust(q, cur[q], floor), 1e-3) /
            max(adjust(q, prev[q], floor), 1e-3)) for q in qs) / len(qs))
        g_all += [math.log(max(cur[q], 1e-3) / max(prev[q], 1e-3)) for q in qs]
        ga_all += [math.log(max(adjust(q, cur[q], floor), 1e-3) /
                            max(adjust(q, prev[q], floor), 1e-3)) for q in qs]
        print(f"{f:9s} {len(qs):3d} {p:8.1f} {c:8.1f} {geo:6.2f} "
              f"{pa:8.1f} {ca:8.1f} {geoa:7.2f}")
    print(f"{'TOTAL':9s} {len(shared):3d} "
          f"{sum(prev[q] for q in shared):8.1f} {sum(cur[q] for q in shared):8.1f} "
          f"{math.exp(sum(g_all)/len(g_all)):6.2f} "
          f"{sum(adjust(q, prev[q], floor) for q in shared):8.1f} "
          f"{sum(adjust(q, cur[q], floor) for q in shared):8.1f} "
          f"{math.exp(sum(ga_all)/len(ga_all)):7.2f}")
    if new:
        shown = new[:12]
        print(f"new rows ({len(new)}, {sum(cur[q] for q in new):.1f}s total): " +
              ", ".join(f"{q}={cur[q]:.2f}s" for q in shown) +
              (" …" if len(new) > len(shown) else ""))
    worst = sorted(shared, key=lambda q: max(cur[q], 1e-3) / max(prev[q], 1e-3),
                   reverse=True)[:8]
    print("worst ratios: " + ", ".join(
        f"{q} {prev[q]:.2f}->{cur[q]:.2f}" for q in worst))
    jobs_report(sys.argv[1], sys.argv[2])


if __name__ == "__main__":
    main()
