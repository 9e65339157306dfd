#!/usr/bin/env python3
"""The repository's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
harness from source (perfbench/build.sh) into .bench_build/; later runs
reuse that build while the sources are unchanged. Each run generates its
inputs from the seed (perfbench/gen.py), runs the workload in one JVM on
local[n] (n = min(4, usable cores)), checks the outputs, and prints one JSON
object as the last line of standard output. With --trace 0 it holds the
end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer ones.
See perfbench/README.md for what each workload and metric means.
"""

import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

BUILD = ".bench_build"
JAR = f"{BUILD}/graft.jar"
# Class-data sharing archive of the classes a run loads. The first run after
# a build dumps it when its JVM exits; later runs map it instead of loading
# and verifying Spark's classes again, which cuts about 5 s of cold start
# per run. Operations are timed warm, so their times do not depend on it.
CDS = f"{BUILD}/classes.jsa"
JVM_TIMEOUT_S = 165
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

# Generated input of each workload: (generator, options).
INPUTS = {
    "tx_hourly": ("tx", dict(hours=24, tx_per_hour=40, authorities=2000,
                             pnl_accounts=8, file_hours=24, tick_hours=24)),
    "query_mix": ("corpus", dict(sf=0.01)),
    "selftest": ("corpus", dict(sf=0.002)),
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the repository's own build
    (build.sbt) compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("set SPARK_HOME: build.sbt names no Spark jar directory")
    return m.group(1)


def source_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True) +
                   glob.glob("src/main/resources/**/*", recursive=True) +
                   glob.glob("perfbench/src/**/*.scala", recursive=True) +
                   ["perfbench/build.sh"])
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles when the sources differ from the last build."""
    digest = source_digest()
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    log("building program and harness from source")
    os.makedirs(BUILD, exist_ok=True)
    r = subprocess.run(["bash", "perfbench/build.sh"],
                       env=dict(os.environ, SPARK_JARS=spark_jars()),
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build failed ({r.returncode})")
    with open(stamp, "w") as f:
        f.write(digest)


def generate(workload, seed, data):
    kind, opts = INPUTS[workload]
    if kind == "tx":
        gen.gen_tx(f"{data}/tx", seed, **opts)
    else:
        gen.gen_corpus(f"{data}/corpus", seed, **opts)


def run_jvm(args, work, data, cores, result):
    """Runs the harness; returns its peak resident memory in MB."""
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    cds = (f"-XX:SharedArchiveFile={CDS}" if os.path.exists(CDS)
           else f"-XX:ArchiveClassesAtExit={CDS}")
    # a fixed heap keeps the collector from resizing it differently per run
    cmd = (["java", "-XX:-UsePerfData", cds, f"-Xms{HEAP}", f"-Xmx{HEAP}",
            "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.hadoop.hadoop.tmp.dir={work}/hadoop-tmp"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", f"{JAR}:{spark_jars()}/*", "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--work", work, "--cores", str(cores),
            "--result", result])
    log_path = f"{work}/jvm.log"
    # Spark binds to the loopback interface unless told otherwise
    env = dict(os.environ)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env)
        deadline = time.time() + JVM_TIMEOUT_S
        while True:
            pid, status, ru = os.wait4(p.pid, os.WNOHANG)
            if pid:
                break
            if time.time() > deadline:
                p.kill()
                os.wait4(p.pid, 0)
                raise SystemExit("harness timed out")
            time.sleep(0.05)
    code = os.waitstatus_to_exitcode(status)
    if code != 0 or not os.path.exists(result):
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"harness failed ({code})")
    return ru.ru_maxrss / 1024.0


# ------------------------------------------------------------ output checks

def _norm(v):
    if hasattr(v, "as_tuple"):  # Decimal
        return float(v)
    return v


def _row_key(row):
    return tuple((0, "") if v is None else (1, repr(v)) for v in row)


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        a, b = float(a), float(b)
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b


def compare_rows(got_cols, got, want_cols, want):
    """Order-insensitive comparison; columns matched by name."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} vs {sorted(want_cols)}"
    if len(got) != len(want):
        return f"{len(got)} rows vs {len(want)}"
    order = [got_cols.index(c) for c in sorted(want_cols)]
    worder = [want_cols.index(c) for c in sorted(want_cols)]
    g = sorted(([_norm(r[i]) for i in order] for r in got), key=_row_key)
    w = sorted(([_norm(r[i]) for i in worder] for r in want), key=_row_key)
    for i, (x, y) in enumerate(zip(g, w)):
        if not all(_same(p, q) for p, q in zip(x, y)):
            return f"row {i}: {x!r} vs {y!r}"
    return None


def oracle_checks(work, data):
    """Every query output against its DuckDB oracle; returns failures."""
    import duckdb
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/corpus/{t}.parquet')")
    failures = []
    oracle = json.load(open(f"{work}/oracle.json"))
    for name, sql in oracle.items():
        try:
            if not sql:
                raise ValueError("no oracle SQL")
            c = con.execute(f"SELECT * FROM read_parquet('{work}/qout/{name}/*.parquet')")
            got_cols, got = [d[0] for d in c.description], c.fetchall()
            c = con.execute(sql)
            want_cols, want = [d[0] for d in c.description], c.fetchall()
            diff = compare_rows(got_cols, got, want_cols, want)
        except Exception as e:  # noqa: BLE001 - any failure is a wrong output
            diff = f"{type(e).__name__}: {e}"
        if diff:
            failures.append(f"{name}: {diff}"[:300])
    return len(oracle), failures


# -------------------------------------------------------------- statistics

def metrics(spec, res, rss_mb, trace):
    ops = res["ops"]
    if not ops:
        raise SystemExit("no operation completed")
    if not trace:
        values = {
            "setup_s": statistics.median(res["setup_s"]),
            "pass_s": sum(ops) / max(res["passes"], 1),
            "op_geomean_s": statistics.geometric_mean(ops),
            "write_amp": res["written_bytes"] / res["input_bytes"],
            "peak_rss_mb": rss_mb,
        }
        names = spec["end_to_end"]
    else:
        layers = dict(res["layers"])
        live = layers.get("sources.catalog_files_live", 0.0)
        layers["sources.catalog_pruned_ratio"] = (
            1.0 - layers.get("sources.catalog_files_scanned", 0.0) / live if live else 0.0)
        layers["trace.pass_s"] = sum(ops) / max(res["passes"], 1)
        layers["graph.tmp_dirs_leaked"] = res["tmp_dirs_leaked"]
        values = layers
        names = spec["per_layer"]
    return {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in names}


def main(argv):
    p = argparse.ArgumentParser(description="graft engine benchmark")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if args.workload not in INPUTS:
        raise SystemExit(f"unknown workload {args.workload}")
    if not os.path.isdir("src/main/scala"):
        raise SystemExit("run from the repository root (no src/main/scala here)")
    spec = json.load(open("BENCHMARK.json"))

    build()
    run_dir = os.path.abspath(os.path.join(
        BUILD, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    data, work = f"{run_dir}/data", f"{run_dir}/work"
    os.makedirs(data)
    os.makedirs(work)
    try:
        t0 = time.time()
        generate(args.workload, args.seed, data)
        t1 = time.time()
        cores = min(4, len(os.sched_getaffinity(0)))
        rss = run_jvm(args, work, data, cores, f"{work}/result.json")
        log(f"inputs {t1 - t0:.1f} s, harness {time.time() - t1:.1f} s")
        res = json.load(open(f"{work}/result.json"))
        log("harness phases: " + ", ".join(f"{k} {v:.1f} s" for k, v in res["phases_s"].items()))
        log("operation seconds: " + " ".join(f"{x:.3f}" for x in res["ops"]))
        res["tmp_dirs_leaked"] = len(glob.glob(f"{work}/tmp/graft_*"))
        attempted, failed, errors = res["attempted"], res["failed"], list(res["errors"])
        if args.workload in ("query_mix", "selftest") and os.path.exists(f"{work}/oracle.json"):
            n, bad = oracle_checks(work, data)
            attempted, failed, errors = attempted + n, failed + len(bad), errors + bad
        for e in errors:
            log(f"error: {e}")
        out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
               "metrics": {} if args.workload == "selftest"
               else metrics(spec, res, rss, args.trace == 1)}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main(sys.argv[1:])
