#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one JVM.

    python3 graftbench/run.py --workload graph-loops --seed 1 --seconds 12 --trace 0

Builds the engine and the harness from source when they changed (sbt,
offline), runs the harness JVM with a fixed heap, checks every op's output
(in the JVM against independent answers, here against DuckDB oracles over
the same input files), prints each metric with its unit, and ends with one
JSON line: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json; with --trace 1 the
per-layer ones, from a run with Spark listeners attached. Exits non-zero on
any wrong output. See graftbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("graph-loops", "dedup-corpus", "stream-merge")
HEAP = "2g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# engine env knobs that change build.sbt's javaOptions; the benchmark pins
# the defaults so that every run and every commit launches the same JVM
ENGINE_ENV = ("SPARK_DRIVER_MEM", "SPARK_GRAFT_PRETOUCH", "SPARK_GRAFT_THP")


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def build():
    """Compile engine + harness with sbt unless the sources are unchanged;
    returns (classpath, engine javaOptions, source digest)."""
    os.makedirs(os.path.join(WORK, "build"), exist_ok=True)
    stamp_file = os.path.join(WORK, "build", "stamp")
    spec_file = os.path.join(WORK, "build", "launch-spec.txt")
    stamp = source_stamp()
    fresh = (os.path.exists(spec_file) and os.path.exists(stamp_file)
             and open(stamp_file).read() == stamp)
    if not fresh:
        env = {k: v for k, v in os.environ.items() if k not in ENGINE_ENV}
        env["COURSIER_MODE"] = "offline"
        opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
        log = os.path.join(WORK, "build", "sbt.log")
        with open(log, "w") as out:
            try:
                rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                                    cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                    timeout=BUILD_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                rc = -1
        if rc != 0:
            sys.stderr.write(open(log).read()[-4000:])
            fail(f"build failed (exit {rc}), log in {log}")
        shutil.copy(os.path.join(HERE, "target", "launch-spec.txt"), spec_file)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    lines = open(spec_file).read().splitlines()
    return lines[0], [l for l in lines[1:] if l], stamp


def launch(classpath, java_opts, args, work, out_file, spans_file):
    """Run the harness JVM; returns (exit code, launch epoch seconds, log path)."""
    # fixed heap (-Xms = -Xmx), everything else as the engine's build sets it
    opts = [o for o in java_opts if not o.startswith(("-Xmx", "-Xms", "-XX:+AlwaysPreTouch"))]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"] + opts +
           ["-cp", classpath, "graftbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--out", out_file,
            "--spans", spans_file])
    env = {k: v for k, v in os.environ.items() if k not in ENGINE_ENV}
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    log = os.path.join(work, "jvm.log")
    t0 = time.time()
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT)

        def stop(signum, _frame):  # never leave the JVM behind
            p.kill()
            p.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = -9
    return rc, t0, log


def canon(df):
    import pandas as pd
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def oracle_check(work, oracles):
    """Compare each op's first output with its DuckDB oracle over the same
    input files. Same tolerance as the JVM side: 1e-9 absolute or 1e-6
    relative, so a last-digit rounding flip is not a wrong answer."""
    import duckdb
    import numpy as np
    import pandas as pd
    con = duckdb.connect()
    inputs = os.path.join(work, "inputs")
    for t in os.listdir(inputs):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(inputs, t)}/*.parquet')")
    bad = {}
    for name, sql in oracles.items():
        got = canon(pd.read_parquet(os.path.join(work, "refs", name)))
        want = canon(con.execute(sql).fetchdf())
        if list(got.columns) != list(want.columns) or len(got) != len(want):
            bad[name] = f"shape {list(got.columns)} x {len(got)} vs {list(want.columns)} x {len(want)}"
            continue
        for c in got.columns:
            g, w = got[c].values, want[c].values
            if np.issubdtype(g.dtype, np.number) and np.issubdtype(w.dtype, np.number):
                ok = np.isclose(g.astype(float), w.astype(float), rtol=1e-6, atol=1e-9)
            else:
                ok = (g == w) | (pd.isna(g) & pd.isna(w))
            if not ok.all():
                i = int(np.argmin(ok))
                bad[name] = f"column {c} row {i}: engine {g[i]!r}, oracle {w[i]!r}"
                break
    return bad


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Highest percentile with at least 10 samples above it: (value, pct, n)."""
    n = len(xs)
    if n <= 10:
        return max(xs) if xs else 0.0, 100.0, n
    s = sorted(xs)
    k = n - 11  # index of the sample with exactly 10 above it
    return s[k], 100.0 * (k + 1) / n, n


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--details", help="also write per-run details as JSON here")
    args = ap.parse_args()

    for f in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.exists(os.path.join(ROOT, f)):
            fail(f"engine source {f} not found next to {HERE}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classpath, java_opts, stamp = build()

    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spans = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.spans.jsonl")
    try:
        out_file = os.path.join(work, "result.json")
        rc, t_launch, log = launch(classpath, java_opts, args, work, out_file, spans)
        if rc != 0 or not os.path.exists(out_file):
            sys.stderr.write(open(log).read()[-6000:])
            fail(f"harness JVM exited with {rc}")
        res = json.load(open(out_file))
        for line in open(log):
            if line.startswith("[graftbench]"):
                sys.stderr.write(line)
        bad = oracle_check(work, res["oracles"])
        t_done = time.time()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    samples = res["samples"]
    for name, why in bad.items():
        print(f"oracle mismatch: {name}: {why}", file=sys.stderr)
    failed = sum(1 for s in samples if s["error"] or s["op"] in bad)
    attempted = len(samples)
    timed = [s for s in samples if s["phase"] == "timed" and not s["error"]]
    # the traced run times only its untraced passes for end-to-end figures
    plain = [s for s in timed if not s["traced"]]
    secs = [s["seconds"] for s in plain]
    # reads of traced passes also count: tracing adds one timed TxLog.snapshot
    # (about 1 ms) to a read, and a tail needs every sample there is
    reads = [s["seconds"] for s in timed if s["kind"] == "read"]
    if not secs:
        fail("no timed op succeeded")
    read_tail, read_pct, n_reads = tail(reads)
    # rates from the median timed pass: every pass does the same ops, and the
    # median pass is not moved by one pass that a host hiccup slowed
    by_pass = {}
    for s in plain:
        by_pass.setdefault(s["pass"], []).append(s)
    pass_secs = median([sum(s["seconds"] for s in ss) for ss in by_pass.values()])
    one_pass = max(by_pass.values(), key=len)
    end_to_end = {
        "setup_s": res["timed_start_ms"] / 1e3 - t_launch,
        "first_pass_s": res["first_pass_s"],
        "ops_per_s": len(one_pass) / pass_secs,
        "rows_per_s": sum(s["input_rows"] for s in one_pass) / pass_secs,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    layers = dict(res["layers"])
    # a median over a mix of op types falls on whichever type sits in the
    # middle; on graph-loops its spread exceeded every bound, so it is a
    # per-layer figure next to the per-type medians
    layers["op_p50_s"] = median(secs)
    layers["read_p50_s"] = median(reads)
    layers["read_tail_s"] = read_tail
    for op in sorted({s["op"] for s in plain}):
        layers[f"op.{op}.p50_s"] = median([s["seconds"] for s in plain if s["op"] == op])

    # failed also counts the timed ops the job-count guard flagged
    correct = failed == 0
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = layers if args.trace else end_to_end
    metrics = {}
    for m in wanted:
        # a layer this workload does not exercise reads 0 (no jobs, batches, ...)
        metrics[m["name"]] = {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}

    # drift: op rate of the second half of the timed passes over the first
    passes = sorted({s["pass"] for s in plain})
    half = len(passes) // 2

    def rate(ps):
        ss = [s["seconds"] for s in plain if s["pass"] in ps]
        return len(ss) / sum(ss)
    drift = rate(passes[-half:]) / rate(passes[:half]) - 1.0 if half else 0.0
    notes = {
        "op_p50_s": f"n={len(secs)}",
        "read_p50_s": f"n={n_reads}",
        "read_tail_s": f"p{read_pct:.0f}, n={n_reads}",
    }
    if args.details:
        with open(args.details, "w") as f:
            json.dump({"end_to_end": end_to_end, "layers": layers, "drift": drift,
                       "failed": failed, "attempted": attempted, "samples": samples}, f)
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
          f"cpus={res['cpus']} heap={HEAP} warmup_passes={res['warmup_passes']}")
    print(f"# setup: jvm+session {res['session_ready_ms'] / 1e3 - t_launch:.2f} s, "
          f"inputs {(res['inputs_ready_ms'] - res['session_ready_ms']) / 1e3:.2f} s, "
          f"warm-up {(res['timed_start_ms'] - res['inputs_ready_ms']) / 1e3:.2f} s; "
          f"timed {(res['timed_end_ms'] - res['timed_start_ms']) / 1e3:.2f} s; "
          f"after {t_done - res['timed_end_ms'] / 1e3:.2f} s")
    print(f"# commit {commit()}, sources sha256 {stamp[:16]}")
    print(f"# jvm: {' '.join(res['jvm_args'])}")
    print(f"# attempted={attempted} failed={failed} failed_frac={failed / attempted:.4f} "
          f"timed_ops={len(secs)} ops_per_s_drift(2nd half vs 1st)={drift:+.3f}")
    if args.trace:
        print(f"# spans: {os.path.relpath(spans, ROOT)}")
    for name, m in metrics.items():
        note = notes.get(name, "")
        print(f"{name:34s} {m['value']:14.6f} {m['unit']:6s} {note}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
