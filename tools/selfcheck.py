#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle correctness gate.

Dev-tooling only (NOT part of the shipped Scala library). Usage:

    sbt "runMain graft.Verify /root/testdata/sf0.01 /tmp/verify_out"
    python3 tools/selfcheck.py /tmp/verify_out /root/testdata/sf0.01

Compares each <name>.parquet result against the oracle SQL run in
DuckDB: schema (column names), row count, and exact values after
sorting columns by name and rows by all columns.
"""
import sys, json, glob, math, atexit, shutil, tempfile

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def kind(dtype):
    # driver hashes value REPRESENTATIONS: int64 123 vs float64 123.0
    # mismatch even when numerically equal (DuckDB SUM(BIGINT)→HUGEINT
    # →pandas float64). Compare dtype kinds strictly.
    k = dtype.kind
    return {"i": "i", "u": "i", "f": "f", "b": "b"}.get(k, "o")


def cmp_cell(a, b):
    if a is None and b is None:
        return True
    try:
        if isinstance(a, float) or isinstance(b, float):
            fa, fb = float(a), float(b)
            if math.isnan(fa) and math.isnan(fb):
                return True
            return fa == fb
    except (TypeError, ValueError):
        pass
    return str(a) == str(b)


def main(out_dir, sf_dir):
    # a bounded memory limit plus a spill directory, so no oracle can
    # exhaust the host; s22's oracle filters to its 20-vector pool
    # before its self-join, so 4 threads fit the limit
    spill = tempfile.mkdtemp(prefix="selfcheck_duckdb_")
    atexit.register(shutil.rmtree, spill, True)
    con = duckdb.connect(config={"memory_limit": "4GB", "threads": 4,
                                 "temp_directory": spill})
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(oracle):
        sql = oracle[name]
        try:
            exp = norm(con.execute(sql).fetchdf())
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        got = norm(duckdb.query(
            f"SELECT * FROM read_parquet({files!r})").fetchdf())
        if list(exp.columns) != list(got.columns):
            print(f"FAIL {name}: columns exp={list(exp.columns)} got={list(got.columns)}")
            n_fail += 1
            continue
        if len(exp) != len(got):
            print(f"FAIL {name}: rows exp={len(exp)} got={len(got)}")
            n_fail += 1
            continue
        kbad = [(c, str(exp[c].dtype), str(got[c].dtype)) for c in exp.columns
                if kind(exp[c].dtype) != kind(got[c].dtype)]
        if kbad:
            c, ek, gk = kbad[0]
            print(f"FAIL {name}: dtype-kind mismatch col={c} oracle={ek} spark={gk}")
            n_fail += 1
            continue
        bad = None
        for c in exp.columns:
            ev, gv = exp[c].tolist(), got[c].tolist()
            for i, (a, b) in enumerate(zip(ev, gv)):
                if not cmp_cell(a, b):
                    bad = (c, i, a, b)
                    break
            if bad:
                break
        if bad:
            c, i, a, b = bad
            print(f"FAIL {name}: value mismatch col={c} row={i} exp={a!r} got={b!r}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(exp)} rows)")
            n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
