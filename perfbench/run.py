#!/usr/bin/env python3
"""The benchmark: one command, two seeded workloads, each in its own JVM.

    python3 perfbench/run.py --workload dashboard|catalog \\
        --seed N --seconds S --trace 0|1

Builds the program from source (perfbench/build.py), makes the inputs
from the seed, runs perfbench.Main for the workload, checks its outputs
and prints one JSON line last: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics with --trace 0, the per-layer ones with
--trace 1). The full record, with host facts and raw samples, is written
to .bench_build/last_<workload>_trace<T>.json. Workloads, metrics and
the layer each metric belongs to are described in perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import signal
import sqlite3
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen_ftl  # noqa: E402

WORKLOADS = ("dashboard", "catalog")
ROWS = 20_000  # FTL .db rows (dashboard)
CATALOG_SF = os.path.join(HERE, "data", "sf0.01")
HEAP = "2g"
JVM_TIMEOUT_S = 175  # the whole command must end within 180 s

END_TO_END = {  # name -> unit
    "setup_s": "s", "peak_rss_mb": "MB", "op_p50_ms": "ms", "ops_per_s": "1/s",
    "pass_s": "s", "cold_s": "s",
}
ROUTES = ("queries", "activity", "anomalies", "clients")
SPAN_KEYS = ("s", "jobs", "tasks", "exec_s", "shuffle_mb", "spill_mb", "driver_s")
FAMILIES = ("stats", "joins", "streaks", "dedup", "similarity", "text", "multimodal", "pipeline")


def per_layer_names():
    names = [f"{sp}.{k}" for sp in ("sources.open", "sources.decode", "engine.stats", "engine.plot",
                                    "serve.cache_build", "figures.default") for k in SPAN_KEYS]
    names += ["sources.scan_passes", "sources.decode_rows_per_s"]
    names += [f"serve.{r}.{k}" for r in ROUTES for k in ("p50_ms", "service_ms", "wait_ms")]
    names += ["serve.read_p90_ms", "serve.jobs_per_request", "serve.tasks_per_request",
              "serve.reload.source_s", "serve.reload.cache_s", "serve.reload_under_reads_s",
              "serve.reads_during_reload_p50_ms"]
    names += [f"catalog.{f}.{k}" for f in FAMILIES
              for k in ("construct_s", "plan_s", "exec_s", "construct_jobs", "jobs", "shuffle_mb", "cold_s")]
    names.append("trace_overhead")
    return names


PER_LAYER_UNITS = {"s": "s", "exec_s": "s", "driver_s": "s", "jobs": "count", "tasks": "count",
                   "shuffle_mb": "MB", "spill_mb": "MB", "construct_s": "s", "plan_s": "s",
                   "cold_s": "s", "construct_jobs": "count", "p50_ms": "ms", "service_ms": "ms",
                   "wait_ms": "ms", "read_p90_ms": "ms", "jobs_per_request": "count",
                   "tasks_per_request": "count", "source_s": "s", "cache_s": "s",
                   "reads_during_reload_p50_ms": "ms", "reload_under_reads_s": "s", "scan_passes": "count",
                   "decode_rows_per_s": "1/s", "trace_overhead": "ratio"}


def unit_of(name):
    return PER_LAYER_UNITS[name.rsplit(".", 1)[-1]]


def p50(xs):
    """Harrell-Davis estimate of the median: the order statistics weighted
    by a Beta((n+1)/2, (n+1)/2) density. The plain sample median of a
    two-cluster mix (fast and slow routes or queries in equal shares)
    sits in the gap between the clusters and jumps across it from run to
    run; this estimate of the same quantile moves smoothly."""
    s = sorted(xs)
    n, a = len(s), (len(s) + 1) / 2
    log_beta = 2 * math.lgamma(a) - math.lgamma(2 * a)
    steps = 64  # midpoint rule on each order statistic's 1/n of [0, 1]
    w = [sum(math.exp((a - 1) * math.log(x * (1 - x)) - log_beta)
             for x in ((i + (j + 0.5) / steps) / n for j in range(steps))) for i in range(n)]
    return sum(wi * x for wi, x in zip(w, s)) / sum(w)


def ftl_db(work, seed, rows):
    """The generated .db for (seed, rows), made once per checkout."""
    path = os.path.join(work, "data", f"ftl_seed{seed}_rows{rows}.db")
    if not (os.path.exists(path) and os.path.exists(path + "-wal")):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        gen_ftl.write(seed, rows, path)
    return path


def sqlite_counts(db):
    """The checked stats as SQLite computes them (reading the -wal too)."""
    allowed = ",".join(map(str, gen_ftl.ALLOWED))
    blocked = ",".join(map(str, gen_ftl.BLOCKED))
    con = sqlite3.connect(f"file:{db}?mode=ro", uri=True)
    try:
        return list(con.execute(
            f"SELECT count(*), sum(status IN ({allowed})), sum(status IN ({blocked})),"
            " count(DISTINCT client) FROM queries").fetchone())
    finally:
        con.close()


def duckdb_counts(work, sf_dir, oracle_sql):
    """Row count of each query's oracle SQL over the same parquet, by
    DuckDB; cached per (SQL, data) since both are fixed inputs."""
    import duckdb
    h = hashlib.sha256(json.dumps(oracle_sql, sort_keys=True).encode())
    for f in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        h.update(os.path.basename(f).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    cache = os.path.join(work, f"oracle_{h.hexdigest()[:16]}.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            return json.load(fh)
    con = duckdb.connect()
    for f in glob.glob(os.path.join(sf_dir, "*.parquet")):
        con.sql(f"CREATE VIEW {os.path.basename(f)[:-8]} AS SELECT * FROM '{f}'")
    out = {q: con.sql(f"SELECT count(*) FROM ({sql}) AS o").fetchone()[0]
           for q, sql in oracle_sql.items()}
    con.close()
    with open(cache, "w") as fh:
        json.dump(out, fh)
    return out


def run_jvm(cp, work, args, extra):
    workload = args.workload
    out = os.path.join(work, f"raw_{workload}_{os.getpid()}.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
                         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
             for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # A heap ceiling but no floor, so resident memory follows use. The
    # serial collector sizes the heap from the live data after each
    # collection, where G1 sizes it from GC time, which varies between runs.
    # It is also the JVM's own choice on a host with one CPU or under 1792 MB.
    cmd = (["java"] + opens + [f"-Xmx{HEAP}", "-XX:+UseSerialGC", f"-Djava.io.tmpdir={tmp}",
                               "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
                               workload, str(args.seconds), str(args.trace), str(args.seed), out]
           + [f"{k}={v}" for k, v in extra.items()])
    log = os.path.join(work, f"{workload}.log")
    with open(log, "w") as lf:
        # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: pin both to the checkout
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work,
                                env=dict(os.environ, SPARK_LOCAL_DIRS=tmp))

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            raise SystemExit(f"{workload}: stopped by signal {signum}")
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"{workload}: JVM timed out after {JVM_TIMEOUT_S} s (log: {log})")
    if code != 0 or not os.path.exists(out):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        raise SystemExit(f"{workload}: JVM exited with {code} (log: {log})")
    with open(out) as fh:
        raw = json.load(fh)
    os.remove(out)
    return raw


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return None


def cpu_ticks():
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7] if len(f) > 7 else 0, sum(f)


def host_facts():
    mem = None
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem = int(line.split()[1]) // 1024
    return {"commit": git_commit(), "nproc": os.cpu_count(), "mem_total_mb": mem,
            "heap": HEAP, "master": f"local[{os.cpu_count()}]",
            "shuffle_partitions": os.cpu_count()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(ROOT, ".bench_build")
    os.makedirs(work, exist_ok=True)
    t0 = time.time()
    cp = build.build(work)
    build_s = time.time() - t0

    t0 = time.time()
    if args.workload == "catalog":
        if not glob.glob(os.path.join(CATALOG_SF, "*.parquet")):
            raise SystemExit(f"catalog: no parquet tables in {CATALOG_SF}")
        extra = {"sf": CATALOG_SF}
    else:
        extra = {"db": ftl_db(work, args.seed, ROWS)}
    gen_s = time.time() - t0

    steal0, total0 = cpu_ticks()
    raw = run_jvm(cp, work, args, extra)
    steal1, total1 = cpu_ticks()
    steal_share = (steal1 - steal0) / max(1, total1 - total0)
    attempted, failed = raw["attempted"], raw["failed"]
    m = {"setup_s": raw["setup_s"], "peak_rss_mb": raw["peak_rss_mb"]}
    if args.workload == "dashboard":
        want = sqlite_counts(extra["db"])
        bad = sum(1 for got in raw["dashboard_counts"] if list(got) != want)
        failed = min(attempted, failed + bad)
        m["op_p50_ms"] = p50(raw["read_ms"])
        m["ops_per_s"] = raw["reads_per_s"]
        m["pass_s"] = statistics.median(raw["reload_s"])
        m["cold_s"] = raw["page_s"]
    else:
        want = duckdb_counts(work, CATALOG_SF, raw["oracle_sql"])
        counts = raw["catalog_counts"]
        attempted = sum(len(v) for v in counts.values())
        failed = sum(1 for q, v in counts.items() for n in v if n != want[q])
        m["op_p50_ms"] = p50(raw["conc_ms"])
        m["ops_per_s"] = raw["conc_ops_per_s"]
        m["pass_s"] = sum(raw["query_warm_ms"]) / 1e3
        m["cold_s"] = raw["cold_s"]

    if args.trace:
        layers = dict.fromkeys(per_layer_names(), 0.0)
        layers.update(raw["layers"])
        metrics = {k: {"value": layers[k], "unit": unit_of(k)} for k in per_layer_names()}
    else:
        metrics = {k: {"value": m[k], "unit": u} for k, u in END_TO_END.items()}

    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "host": dict(host_facts(), java=raw["java_version"],
                                                 spark=raw["spark_version"], jvm_cpus=raw["cpus"]),
              "rows": ROWS if args.workload != "catalog" else None,
              "build_s": build_s, "gen_s": gen_s, "steal_share": steal_share, "end_to_end": m,
              "raw": {k: v for k, v in raw.items() if k not in ("oracle_sql",)}}
    with open(os.path.join(work, f"last_{args.workload}_trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    for k, u in END_TO_END.items():
        print(f"{args.workload} {k} = {m[k]:.4f} {u}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
