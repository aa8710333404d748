#!/usr/bin/env python3
"""graft benchmark: one command that builds, runs a workload, checks its
outputs against DuckDB oracles and prints every metric with its unit.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest            # Pig templates vs SQL twins
    python3 perfbench/run.py --compare 10 --seconds 10   # two sets per workload

Run it from the root of a graft checkout. The last line of stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import base64
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import workloads  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"          # build outputs, run scratch, ledgers
DEFAULT_SF = Path.home() / "testdata" / "sf0.1"


def spark_jars():
    """The Spark jars graft compiles against: the `unmanagedBase` that
    build.sbt names, else $SPARK_HOME/jars."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  (ROOT / "build.sbt").read_text())
    return Path(m.group(1)) if m else Path(os.environ.get("SPARK_HOME", "")) / "jars"

JVM_LIMIT_S = 160                    # a whole run must end within 180 s
WARM_PASSES = 1                      # untimed passes after the writing one

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def die(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt"] + sorted((ROOT / "project").glob("*.sbt")) + \
        sorted((ROOT / "project").glob("*.properties")) + \
        sorted(p for p in (ROOT / "src" / "main").rglob("*") if p.is_file()) + \
        sorted((HERE / "src").glob("*.scala"))
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compiles graft with its own `sbt compile` and the harness with the
    Scala compiler that ships with Spark; skipped when sources are
    unchanged since the last build."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        die("no graft sources next to perfbench/ (build.sbt, src/main)")
    jars = spark_jars()
    if not jars.is_dir():
        die(f"Spark jars not found at {jars}")
    classes = WORK / "build" / "classes"
    stamp_file = WORK / "build" / "stamp"
    stamp = source_stamp()
    if stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=ROOT, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        log(r.stdout[-4000:])
        die("sbt compile failed")
    fresh = classes.with_name(f"classes.{os.getpid()}")
    shutil.rmtree(fresh, ignore_errors=True)
    fresh.mkdir(parents=True)
    cp = f"{ROOT / 'target' / 'scala-2.13' / 'classes'}:{jars}/*"
    r = subprocess.run(
        ["java", "-Xmx1g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", str(fresh), "-cp", cp] +
        [str(p) for p in sorted((HERE / "src").glob("*.scala"))],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=300)
    if r.returncode != 0:
        log(r.stdout[-4000:])
        die("harness compile failed")
    shutil.rmtree(classes, ignore_errors=True)
    fresh.rename(classes)
    stamp_file.write_text(stamp)
    log(f"perfbench: built in {time.time() - t0:.1f} s")
    return classes


# ---------------------------------------------------------------- one run

def run_jvm(classes, workload, seed, seconds, trace, sf, run_dir, budget_s):
    # a fixed pass count per run, sized so that the timed passes take
    # about `seconds` at this commit's speed; traced runs order untraced
    # and traced passes U T T U U T T U, eight at least
    passes = max(2, round(seconds / workloads.NOMINAL_PASS_S[workload]))
    if trace:
        passes = max(8, -(-passes // 4) * 4)
    for d in ["tmp", "local", "models", "results", "store", "warehouse"]:
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    queries = workloads.build(workload, seed, sf, str(run_dir / "store"))
    lines = []
    for q in queries:
        if q["kind"] == "entry":
            lines.append(f"{q['name']}\tentry")
        else:
            b64 = base64.b64encode(q["script"].encode()).decode()
            lines.append(f"{q['name']}\tpig\t{q['alias']}\t{b64}")
    (run_dir / "workload.tsv").write_text("\n".join(lines) + "\n")
    cpus = len(os.sched_getaffinity(0))
    conf = {
        "sf": sf, "cpus": cpus, "passes": passes, "seed": seed,
        "warm_passes": WARM_PASSES,
        "trace": trace, "workload": run_dir / "workload.tsv",
        "results": run_dir / "results", "local_dir": run_dir / "local",
        "warehouse_dir": run_dir / "warehouse", "out": run_dir / "out.json",
    }
    (run_dir / "conf.txt").write_text("".join(f"{k}={v}\n" for k, v in conf.items()))
    cp = f"{classes}:{ROOT / 'target' / 'scala-2.13' / 'classes'}:{spark_jars()}/*"
    # a fixed, pre-touched heap on transparent huge pages: first-touch page
    # faults then land in set-up, not in whichever query grows the heap
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
           "-XX:+UseTransparentHugePages", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-Dspark.ui.enabled=false"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.GraftBench", str(run_dir / "conf.txt")]
    env = dict(os.environ, SPARK_GRAFT_MODEL_DIR=str(run_dir / "models"))
    with open(run_dir / "jvm.log", "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not (run_dir / "out.json").is_file():
        tail = (run_dir / "jvm.log").read_text(errors="replace")[-3000:]
        log(tail)
        raise RuntimeError(f"benchmark JVM failed ({rc})")
    return queries, json.loads((run_dir / "out.json").read_text())


# ---------------------------------------------------------------- checks

def duck(sf):
    import duckdb
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    return con


def compare(con, result_dir, sql):
    """Value- and dtype-strict comparison of a written Spark result with
    its oracle, the rule of tools/check.py. Returns None when equal."""
    import pandas as pd
    files = sorted(Path(result_dir).glob("*.parquet"))
    if not files:
        return "no result files"
    got = con.sql(f"SELECT * FROM read_parquet({[str(f) for f in files]})").df()
    want = con.sql(sql).df()
    a = got.reindex(sorted(got.columns), axis=1)
    b = want.reindex(sorted(want.columns), axis=1)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    a = a.sort_values(by=list(a.columns), ignore_index=True)
    b = b.sort_values(by=list(b.columns), ignore_index=True)
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return "values differ: " + str(e).split("\n")[0]

    def kinds(df):
        return ["i" if d.kind in "iu" else d.kind for d in df.dtypes]
    if kinds(a) != kinds(b):
        return f"dtypes {list(map(str, a.dtypes))} != {list(map(str, b.dtypes))}"
    return None


def check_outputs(sf, queries, res, run_dir):
    """{query name: problem} for every query whose warm-up result failed or
    disagrees with its oracle."""
    con = duck(sf)
    bad = dict(res["warm_errors"])
    for q in queries:
        n = q["name"]
        if n in bad:
            continue
        sql = q.get("sql") or res["oracles"].get(n)
        if sql is None:
            bad[n] = "no oracle"
            continue
        try:
            problem = compare(con, run_dir / "results" / n, sql)
        except Exception as e:  # oracle or read error
            problem = f"{type(e).__name__}: {e}"
        if problem:
            bad[n] = problem
    return bad


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def harrell_davis(xs, p):
    """Harrell-Davis estimate of the p-quantile: a Beta-weighted mean of
    all order statistics, far steadier on a few dozen samples than the
    single order statistic it estimates."""
    import numpy as np
    s = np.sort(np.asarray(xs, dtype=float))
    n = len(s)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    x = np.linspace(0.0, 1.0, 20001)[1:-1]
    logpdf = (a - 1) * np.log(x) + (b - 1) * np.log1p(-x)
    pdf = np.exp(logpdf - logpdf.max())
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    cdf /= cdf[-1]
    w = np.diff(np.interp(np.arange(n + 1) / n, x, cdf))
    return float(np.dot(w, s))


def tail(xs):
    """Latency at the highest percentile with at least ten samples beyond
    it (the (n-10)th of n), as a Harrell-Davis estimate, with that
    percentile and the sample count. Below 20 samples that percentile
    would sit under the median, so the 90th percentile is used instead."""
    n = len(xs)
    p = 0.9 if n < 20 else (n - 10) / (n + 1)
    return harrell_davis(xs, p), 100.0 * p, n


def end_to_end(res):
    passes = [p["wall_s"] for p in res["passes"]]
    heap = [p["heap_mb"] for p in res["passes"]]
    lat = [e["total_s"] for e in res["execs"]]
    t, pct, n = tail(lat)
    log(f"perfbench: query_tail_s is p{pct:.1f} of {n} timed executions "
        f"in {len(passes)} passes")
    log("perfbench: pass walls " + " ".join(f"{x:.3f}" for x in passes))
    return {
        "setup_s": ((res["first_timed_ms"] - res["proc_start_ms"]) / 1e3, "s"),
        "pass_s": (median(passes), "s"),
        "query_p50_s": (harrell_davis(lat, 0.5), "s"),
        "query_tail_s": (t, "s"),
        "retained_heap_mb": (median(heap), "MB"),
    }


COUNTERS = [  # (metric, counter, unit)
    ("core.construct_jobs", "jobs.construct", "count"),
    ("exec.jobs", "jobs", "count"), ("exec.stages", "stages", "count"),
    ("exec.tasks", "tasks", "count"), ("exec.sched_delay_s", "sched_delay_s", "s"),
    ("exec.executor_run_s", "executor_run_s", "s"),
    ("exec.executor_cpu_s", "executor_cpu_s", "s"),
    ("exec.shuffle_read_bytes", "shuffle_read_bytes", "bytes"),
    ("exec.shuffle_write_bytes", "shuffle_write_bytes", "bytes"),
    ("exec.spill_bytes", "spill_bytes", "bytes"),
    ("exec.input_bytes", "input_bytes", "bytes"),
    ("exec.output_bytes", "output_bytes", "bytes"),
    ("exec.gc_s", "gc_s", "s"), ("exec.failed_tasks", "failed_tasks", "count"),
    ("streaming.batches", "batches", "count"),
    ("streaming.empty_batches", "empty_batches", "count"),
    ("streaming.batch_s", "batch_s", "s"),
    ("streaming.wal_commit_s", "wal_commit_s", "s"),
    ("streaming.query_planning_s", "query_planning_s", "s"),
    ("streaming.input_rows", "input_rows", "rows"),
    ("streaming.state_rows", "state_rows", "rows"),
    ("streaming.late_dropped_rows", "late_dropped_rows", "rows"),
]
SPAN_KINDS = ["pass", "query", "parse", "construct", "plan", "exec",
              "job", "stage", "batch"]


def nest_jobs_in_batches(spans):
    """Jobs a stream runs carry the local properties of the phase that
    started the stream; re-parent each under the micro-batch whose
    interval holds it."""
    batches = {}
    for s in spans:
        if s["kind"] == "batch":
            batches.setdefault(s["parent"], []).append(s)
    for s in spans:
        if s["kind"] == "job":
            for b in batches.get(s["parent"], []):
                if b["start_ms"] <= s["start_ms"] and s["end_ms"] <= b["end_ms"]:
                    s["parent"] = b["id"]
                    break
    return spans


def self_times(spans):
    """Self time per span kind: duration minus the part of the interval
    its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {k: 0.0 for k in SPAN_KINDS}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        iv = sorted((max(lo, c["start_ms"]), min(hi, c["end_ms"]))
                    for c in kids.get(s["id"], []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["kind"]] = out.get(s["kind"], 0.0) + (hi - lo - covered) / 1e3
    return out


def per_layer(res, queries, error_rate):
    """Per-layer metrics per traced pass."""
    traced = {p["pass"]: p["wall_s"] for p in res["passes"] if p["traced"]}
    untraced = [p["wall_s"] for p in res["passes"] if not p["traced"]]
    n = max(1, len(traced))
    execs = [e for e in res["execs"] if e["pass"] in traced]
    ids = {str(int(e["id"])) for e in execs}
    counters = res.get("counters", {})
    kinds = {q["name"]: q["kind"] for q in queries}

    def per_pass(v):
        return v / n

    def esum(key, pred=lambda e: True):
        return per_pass(sum(e[key] for e in execs if pred(e)))

    def csum(key):
        return per_pass(sum(c.get(key, 0.0) for i, c in counters.items() if i in ids))

    pig = lambda e: kinds.get(e["name"]) == "pig"  # noqa: E731
    m = {
        "piglatin.parse_s": (esum("parse_s", pig), "s"),
        "piglatin.run_s": (esum("construct_s", pig), "s"),
        "core.construct_s": (esum("construct_s"), "s"),
        "core.pins": (esum("pins"), "count"),
        "plans.plan_s": (esum("plan_s"), "s"),
        "plans.physical_nodes": (esum("physical_nodes"), "count"),
        "exec.exec_s": (esum("exec_s"), "s"),
    }
    for name, key, unit in COUNTERS:
        m[name] = (csum(key), unit)
    wall = median(list(traced.values()))
    m["exec.util"] = (m["exec.executor_run_s"][0] / (res["cores"] * wall)
                      if wall else 0.0, "ratio")
    for mod in ["dedup", "text", "graph", "sim"]:
        m[f"{mod}.query_s"] = (esum("total_s", lambda e, mod=mod:
                                    workloads.MODULE_OF.get(e["name"]) == mod), "s")
    m["setup.session_s"] = (res["session_s"], "s")
    m["setup.warmup_s"] = (res["warmup_s"], "s")
    m["trace.overhead_s"] = (wall - median(untraced), "s")
    m["check.error_rate"] = (error_rate, "ratio")
    selfs = self_times(nest_jobs_in_batches(res.get("spans", [])))
    for k in SPAN_KINDS:
        m[f"span.{k}.self_s"] = (per_pass(selfs.get(k, 0.0)), "s")
    return m


def write_ledger(workload, seed, res, metrics):
    d = WORK / "ledger"
    d.mkdir(parents=True, exist_ok=True)
    path = d / f"{workload}-seed{seed}.json"
    path.write_text(json.dumps({
        "workload": workload, "seed": seed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "passes": res["passes"], "execs": res["execs"],
        "counters": res.get("counters", {}), "spans": res.get("spans", []),
    }))
    return path


# ---------------------------------------------------------------- entry points

def one_run(args, classes):
    t_start = time.time()
    run_dir = WORK / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    if run_dir.exists():
        shutil.rmtree(run_dir)
    try:
        queries, res = run_jvm(classes, args.workload, args.seed, args.seconds,
                               args.trace, args.sf, run_dir, JVM_LIMIT_S)
        t_jvm = time.time()
        bad = check_outputs(args.sf, queries, res, run_dir)
        log(f"perfbench: JVM {t_jvm - t_start:.1f} s, output check "
            f"{time.time() - t_jvm:.1f} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for n, why in sorted(bad.items()):
        log(f"perfbench: WRONG {n}: {why}")
    timed = res["execs"]
    for e in timed:
        if not e["ok"]:
            log(f"perfbench: FAILED {e['name']} (pass {int(e['pass'])}): {e['error']}")
    attempted = len(timed)
    failed = sum(1 for e in timed if not e["ok"] or e["name"] in bad)
    error_rate = failed / attempted if attempted else 1.0
    if args.trace:
        metrics = per_layer(res, queries, error_rate)
        path = write_ledger(args.workload, args.seed, res, metrics)
        log(f"perfbench: ledger written to {path.relative_to(ROOT)}")
    else:
        metrics = end_to_end(res)
    for k, (v, u) in metrics.items():
        print(f"{k} = {v:.6g} {u}")
    print(f"error_rate = {error_rate:.6g} ratio ({failed} of {attempted})")
    return {"correct": not bad and failed == 0, "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def compare_mode(args, classes):
    """Two sets of runs of the same build; reports, for each end-to-end
    metric, each set's median and quartile spread and whether the sets
    agree within BENCHMARK.json's bounds."""
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    names = [args.workload] if args.workload else [w["name"] for w in bench["workloads"]]
    ok = True
    for w in names:
        sets = []
        for s in range(2):
            vals = {}
            for i in range(args.compare):
                a = argparse.Namespace(**vars(args))
                a.workload, a.seed, a.trace = w, 1000 * s + i + 1, 0
                out = one_run(a, classes)
                ok &= out["correct"]
                for k, v in out["metrics"].items():
                    vals.setdefault(k, []).append(v["value"])
            sets.append(vals)
        for k, bound in bounds.items():
            meds, spreads = [], []
            for vals in sets:
                xs = vals[k]
                q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
                med = statistics.median(xs)
                meds.append(med)
                spreads.append((q[2] - q[0]) / med if med else 0.0)
            drift = (meds[1] - meds[0]) / meds[0] if meds[0] else 0.0
            agree = drift <= bound and (k == "setup_s" or max(spreads) <= bound)
            ok &= agree
            log(f"compare {w} {k}: medians {meds[0]:.4f} {meds[1]:.4f} "
                f"drift {drift:+.3f} spreads {spreads[0]:.3f} {spreads[1]:.3f} "
                f"bound {bound} -> {'agree' if agree else 'DISAGREE'}")
    print(json.dumps({"agree": ok}))
    return 0 if ok else 1


def selftest(args, classes):
    """Every Pig template against its SQL twin for several seeds, at a
    small scale factor."""
    sf = args.sf if args.sf != str(DEFAULT_SF) else str(DEFAULT_SF.parent / "sf0.001")
    bad = 0
    for seed in range(1, args.selftest + 1):
        run_dir = WORK / "runs" / f"selftest-{seed}-{os.getpid()}"
        try:
            queries, res = run_jvm(classes, "interactive", seed, 0.1, 0, sf,
                                   run_dir, 600)
            pig = [q for q in queries if q["kind"] == "pig"]
            problems = check_outputs(sf, pig, res, run_dir)
            con = duck(sf)
            rows = {q["name"]: con.sql(f"SELECT count(*) FROM ({q['sql']})").fetchone()[0]
                    for q in pig}
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        for q in pig:
            why = problems.get(q["name"])
            bad += why is not None
            log(f"selftest seed {seed} {q['name']}: {why or 'ok'} "
                f"({rows[q['name']]} rows)")
    print(json.dumps({"selftest_failures": bad}))
    return 1 if bad else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", default=str(DEFAULT_SF), help="table directory")
    ap.add_argument("--compare", type=int, metavar="N",
                    help="two sets of N runs per workload; do they agree?")
    ap.add_argument("--selftest", type=int, nargs="?", const=3, metavar="SEEDS",
                    help="check the Pig templates against their SQL twins")
    args = ap.parse_args()
    classes = build()
    if not Path(args.sf, "lineitem.parquet").exists():
        die(f"tables not found under {args.sf}")
    if args.selftest:
        return selftest(args, classes)
    if args.compare:
        return compare_mode(args, classes)
    if not args.workload:
        die("--workload is required")
    out = one_run(args, classes)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
