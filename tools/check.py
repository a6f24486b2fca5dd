#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run graft.Verify output
against the DuckDB oracle and compare per query.

Usage: python3 tools/check.py <outDir> <sfDir> [query ...]
       python3 tools/check.py <outDir> <otherOutDir> [query ...]
(Verify must already have written <outDir>/<name>/ parquet + oracle_sql.json.)

Against DuckDB, the oracle connection is capped at a quarter of the host's
MemTotal and spills to a temp dir removed at exit.

When the second argument is itself a Verify output dir (it holds an
oracle_sql.json), each query's dump is compared row for row with that
dir's dump of the same query instead of with DuckDB: the parent-vs-change
compare for rows whose oracle does not fit in memory. The two
oracle_sql.json maps are compared too: every query whose oracle text
differs (or that only one side declares) is listed, and counts as a failure.
"""
import sys, os, json, glob
import pandas as pd
import numpy as np

outdir, refdir = sys.argv[1], sys.argv[2]
only = set(sys.argv[3:])
dump_vs_dump = os.path.exists(f"{refdir}/oracle_sql.json")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))

def read_dump(d: str, name: str):
    files = glob.glob(f"{d}/{name}/*.parquet")
    return pd.concat([pd.read_parquet(f) for f in sorted(files)]) if files else None

if dump_vs_dump:
    def expected(name, sql):
        df = read_dump(refdir, name)
        if df is None:
            raise RuntimeError(f"no output in {refdir}")
        return df
else:
    import atexit, shutil, tempfile
    import duckdb
    # DuckDB's default cap is 80% of RAM, and an all-sources-BFS oracle
    # (bfsSigmaSql's unrolled CTE chain) fills it on a shared host: cap it
    # at a quarter of MemTotal and give it a spill dir. An oracle that
    # still does not fit fails with out-of-memory, reported as a FAIL.
    def mem_total_bytes() -> int:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) * 1024
        raise RuntimeError("no MemTotal in /proc/meminfo")
    spill = tempfile.mkdtemp(prefix="check-duckdb-")
    atexit.register(shutil.rmtree, spill, True)
    con = duckdb.connect()
    con.execute(f"SET memory_limit = '{mem_total_bytes() // 4 // 2**20}MB'")
    con.execute(f"SET temp_directory = '{spill}'")
    tables = ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]
    for t in tables:
        p = f"{refdir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    def expected(name, sql):
        return con.execute(sql).fetchdf()

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    # normalize dtypes for compare
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), ignore_index=True)

def mismatch(got: pd.DataFrame, want: pd.DataFrame):
    """None when the canonical frames agree, else the first difference."""
    if list(got.columns) != list(want.columns):
        return f"cols {list(got.columns)} vs {list(want.columns)}"
    # driver hashes raw values incl. type: int64 20100 != float64 20100.0.
    # DuckDB HUGEINT (SUM of BIGINT) fetches as float64 — flag kind mismatches.
    kind_bad = [c for c in got.columns
                if got[c].dtype.kind != want[c].dtype.kind]
    if kind_bad:
        return f"dtype-kind mismatch {[(c, str(got[c].dtype), str(want[c].dtype)) for c in kind_bad]}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    for c in got.columns:
        g, w = got[c].values, want[c].values
        if np.issubdtype(g.dtype, np.floating):
            both_nan = pd.isna(g) & pd.isna(w)
            neq = ~(both_nan | np.isclose(g.astype(float), w.astype(float),
                                          rtol=0, atol=1e-9, equal_nan=True))
        else:
            neq = ~((pd.isna(g) & pd.isna(w)) | (g == w))
        if neq.any():
            i = int(np.argmax(neq))
            return f"col {c} row {i}: spark={g[i]!r} oracle={w[i]!r} ({int(neq.sum())} diffs)"
    return None

fails = 0
if dump_vs_dump:
    ref_oracle = json.load(open(f"{refdir}/oracle_sql.json"))
    for name in sorted(set(oracle) | set(ref_oracle)):
        if only and name not in only:
            continue
        if oracle.get(name) != ref_oracle.get(name):
            print(f"FAIL {name}: oracle text differs from {refdir}"); fails += 1
for name, sql in sorted(oracle.items()):
    if only and name not in only:
        continue
    got = read_dump(outdir, name)
    if got is None:
        print(f"FAIL {name}: no spark output"); fails += 1; continue
    try:
        got = canon(got)
        want = canon(expected(name, sql))
    except Exception as e:
        print(f"FAIL {name}: {e}"); fails += 1; continue
    bad = mismatch(got, want)
    if bad:
        print(f"FAIL {name}: {bad}"); fails += 1
    else:
        print(f"ok   {name} ({len(got)} rows)")
print(f"== {fails} failures / {len([n for n in oracle if not only or n in only])} checked")
sys.exit(1 if fails else 0)
