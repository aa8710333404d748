#!/usr/bin/env python3
"""DuckDB-oracle correctness gate for the engine's query outputs.

Usage: python3 tools/check.py [sfdir] [outdir] [--workers N] [--timeout S]
                              [--only q_a,q_b] [--json PATH]

With no options every query is compared in this process, in name order,
as the sequential gate does. --workers or --timeout compare each query in
its own process, N at a time; a query still running after S seconds is
reported as ORACLE TIMEOUT instead of hanging the gate (the engine output
exists; the oracle SQL is what is infeasible at that scale). --only
restricts the gate to the named queries. --json writes the per-query
results and their counts to PATH as one JSON ledger.
"""
import argparse, json, os, time
import multiprocessing as mp
from multiprocessing.connection import wait
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(sfdir, threads=None):
    con = duckdb.connect()
    if threads:
        con.sql(f"SET threads TO {threads}")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    return con


def compare(con, oracle, outdir, name):
    """One query's verdict: "OK", "rows-only: ...", or what differs."""
    path = os.path.join(outdir, name)
    spark_df = con.sql(f"SELECT * FROM '{path}/*.parquet'").df()
    if name not in oracle:
        return f"rows-only: {len(spark_df)} rows " + ("OK" if len(spark_df) > 0 else "EMPTY!")
    try:
        oracle_df = con.sql(oracle[name]).df()
    except Exception as e:
        return f"ORACLE SQL ERROR: {e}"
    a = spark_df.reindex(sorted(spark_df.columns), axis=1)
    b = oracle_df.reindex(sorted(oracle_df.columns), axis=1)
    if list(a.columns) != list(b.columns):
        return f"SCHEMA MISMATCH cols spark={list(a.columns)} oracle={list(b.columns)}"
    if len(a) != len(b):
        return f"ROWCOUNT MISMATCH spark={len(a)} oracle={len(b)}"
    a = a.sort_values(by=list(a.columns), ignore_index=True)
    b = b.sort_values(by=list(b.columns), ignore_index=True)
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
    except AssertionError as e:
        res = "VALUE MISMATCH: " + str(e).split("\n")[0]
        # show a sample diff
        neq = (a != b) & ~(a.isna() & b.isna())
        bad = neq.any(axis=1)
        if bad.any():
            i = bad.idxmax()
            res += f" | row {i}: spark={a.loc[i].to_dict()} oracle={b.loc[i].to_dict()}"
        return res
    # Dtype-strict pass: the driver hashes string-rendered values, so a
    # float64 oracle column (e.g. DuckDB HUGEINT -> pandas float64) vs a
    # Spark int64 column hashes "1.0" vs "1" and fails even when values
    # match. Emulate by comparing numpy dtype *kinds* (int vs float vs
    # object vs datetime); int width differences are invisible to the
    # driver's hash and stay tolerated.
    def kind(d):
        return "i" if d.kind in ("i", "u") else d.kind
    bad_cols = [(c, str(da), str(db)) for c, da, db
                in zip(a.columns, a.dtypes, b.dtypes) if kind(da) != kind(db)]
    if bad_cols:
        return f"DTYPE MISMATCH (driver hash would fail): {bad_cols}"
    return "OK"


def passed(v):
    return v == "OK" or (v.startswith("rows-only") and "EMPTY" not in v)


def compare_isolated(args, oracle, names, report):
    """Each query in a forked process, args.workers at a time; a process
    past args.timeout seconds is killed and its query reported as a
    timeout, one that exits without a verdict as a dead worker."""
    ctx = mp.get_context("fork")
    threads = max(1, (os.cpu_count() or 1) // args.workers)

    def child(name, tx):
        tx.send(compare(connect(args.sfdir, threads), oracle, args.outdir, name))

    pending, running = list(names), {}  # name -> (process, pipe, started)
    while pending or running:
        while pending and len(running) < args.workers:
            name = pending.pop(0)
            rx, tx = ctx.Pipe(duplex=False)
            p = ctx.Process(target=child, args=(name, tx))
            p.start()
            tx.close()
            running[name] = (p, rx, time.time())
        ready = wait([rx for _, rx, _ in running.values()], timeout=1)
        for name, (p, rx, started) in list(running.items()):
            if rx in ready:
                try:
                    report(name, rx.recv())
                except EOFError:
                    report(name, "WORKER DIED")
            elif args.timeout and time.time() - started > args.timeout:
                p.terminate()
                report(name, f"ORACLE TIMEOUT >{args.timeout}s")
            else:
                continue
            p.join()
            rx.close()
            del running[name]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("sfdir", nargs="?",
                    default="/root/testdata/sf0.01",
                    help="TPC-H-style parquet dir (default %(default)s)")
    ap.add_argument("outdir", nargs="?",
                    default="/root/repo/target/verify_out",
                    help="graft.Verify output dir (default %(default)s)")
    ap.add_argument("--workers", type=int, default=1,
                    help="queries compared at once, each in its own process "
                         "when above 1 (default 1, in this process)")
    ap.add_argument("--timeout", type=int,
                    help="seconds one query may take (implies a process per query)")
    ap.add_argument("--only", help="comma-separated query names to compare")
    ap.add_argument("--json", metavar="PATH", help="write the results ledger here")
    args = ap.parse_args()

    oracle = json.load(open(f"{args.outdir}/oracle_sql.json"))
    only = set(args.only.split(",")) if args.only else None
    names = [n for n in sorted(os.listdir(args.outdir))
             if os.path.isdir(os.path.join(args.outdir, n))
             and (only is None or n in only)]

    results = {}

    def report(name, v):
        results[name] = v
        print(f"{'PASS' if passed(v) else 'FAIL'}  {name}: {v}", flush=True)

    if args.workers > 1 or args.timeout:
        compare_isolated(args, oracle, names, report)
    else:
        con = connect(args.sfdir)
        for name in names:
            report(name, compare(con, oracle, args.outdir, name))

    ok = sum(1 for v in results.values() if passed(v))
    timeouts = sum(1 for v in results.values() if v.startswith("ORACLE TIMEOUT"))
    print(f"\n{ok}/{len(results)} pass"
          + (f", {timeouts} oracle-timeout" if args.timeout else ""))
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"sfdir": args.sfdir, "outdir": args.outdir,
                       "oracle_timeout_sec": args.timeout,
                       "pass": ok, "oracle_timeout": timeouts,
                       "total": len(results),
                       "results": dict(sorted(results.items()))}, f, indent=1)
        print(f"ledger written to {args.json}")


if __name__ == "__main__":
    main()
