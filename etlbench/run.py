#!/usr/bin/env python3
"""Benchmark runner for the pipeline (see etlbench/README.md).

    python3 etlbench/run.py --workload relational_etl --seed 1 --seconds 15 --trace 0

Builds the pipeline and the harness from source (sbt, offline), generates
the seed's inputs (cached per seed, never timed), runs the workload in one
JVM at local[nproc] inside a fresh work directory that is removed
afterwards, checks every output outside the timed region, and prints one
JSON line as the last line of stdout:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. Everything else goes to stderr.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
import gen  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
# input scale per workload: `scale` is the TPC-H-style scale factor of the
# generated tables, `copies` the corpus scale-up factor
WORKLOADS = {
    "corpus_curation": dict(scale=0.005, copies=2, reads=["documents", "embeddings"]),
    "lakehouse_mixed": dict(scale=0.02, copies=1,
                            reads=["lineitem", "orders", "customer", "nation", "events"]),
}
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
START = time.monotonic()
DEADLINE = START + 170


def _terminate(signum, frame):
    # unwinds through the `finally` blocks below, which stop the child process
    raise SystemExit(128 + signum)


signal.signal(signal.SIGTERM, _terminate)


def run(cmd, timeout, **kw):
    """Run a child process to completion; it is killed if the run is cut short."""
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        raise SystemExit("[etlbench] the run exceeded its time budget")
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()


def log(*a):
    print("[etlbench]", *a, file=sys.stderr, flush=True)


def left():
    return DEADLINE - time.monotonic()


def source_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*.*"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.*"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(digest):
    """Compile the pipeline's main sources and the harness (offline sbt).
    Skipped when the classes were built from the same sources."""
    global DEADLINE
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("[etlbench] pipeline sources (src/main/scala/graft) not found; nothing to build")
    if not os.environ.get("SPARK_HOME"):
        raise SystemExit("[etlbench] SPARK_HOME is not set")
    stamp = os.path.join(HERE, "target", "etlbench.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    log("building (sbt compile, offline) ...")
    env = dict(os.environ, COURSIER_MODE="offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    t0 = time.monotonic()
    rc = run(["sbt", "--batch", "-Dsbt.log.noformat=true", "clean", "compile", "Compile / copyResources"],
             840, cwd=HERE, env=env)
    if rc != 0:
        raise SystemExit(f"[etlbench] build failed (sbt exit {rc})")
    with open(stamp, "w") as f:
        f.write(digest)
    # the first run of a checkout may spend its budget on the build
    DEADLINE += time.monotonic() - t0


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "--short=12", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 and r.stdout.strip() else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def cpu_times():
    """(steal, total) jiffies of the machine's CPUs, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7] if len(v) > 7 else 0, sum(v)
    except (OSError, ValueError):
        return 0, 0


def run_jvm(args, work, data, rows, out):
    cp = os.pathsep.join([os.path.join(HERE, "target", "scala-2.13", "classes"),
                          os.path.join(os.environ["SPARK_HOME"], "jars", "*")])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # a fixed, pre-touched heap keeps the resident set comparable between runs
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=64",
           *ADD_OPENS, f"-Djava.io.tmpdir={tmp}", "-cp", cp, "etlbench.Main",
           "--workload", args.workload, "--data", data, "--work", work, "--seed", str(args.seed),
           "--rows", str(rows), "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", out]
    env = dict(os.environ, SPARK_GRAFT_TMP_DIR=tmp, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    env.pop("SPARK_GRAFT_SKIP", None)
    rc = run(cmd, max(10.0, left() - 12), cwd=work, env=env)
    if rc != 0 or not os.path.exists(out):
        raise SystemExit(f"[etlbench] the benchmark JVM failed (exit {rc})")
    with open(out) as f:
        return json.load(f)


def oracle_check(data, verify_dir, oracle, tmp):
    """Each oracle-backed catalog output against its DuckDB oracle SQL over
    the same inputs: columns sorted by name, rows compared as multisets of
    exact values (the pipeline's own correctness-gate rule)."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    con.execute(f"SET temp_directory = '{tmp}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    bad = []
    for name, sql in sorted(oracle.items()):
        try:
            s = con.sql(f"SELECT * FROM read_parquet('{verify_dir}/{name}/*.parquet')").df()
            o = con.sql(sql).df()
            s, o = s[sorted(s.columns)], o[sorted(o.columns)]
            same = (list(s.columns) == list(o.columns) and len(s) == len(o) and
                    sorted(map(repr, s.itertuples(index=False))) ==
                    sorted(map(repr, o.itertuples(index=False))))
        except Exception as e:  # an unreadable output or a failing oracle is a mismatch
            log(f"oracle check {name}: {str(e)[:200]}")
            same = False
        if not same:
            log(f"MISMATCH {name}: output differs from its DuckDB oracle")
            bad.append(name)
    return bad


def digest_check(workload, seed, digests, pin):
    path = os.path.join(HERE, "pinned_digests.json")
    pinned = json.load(open(path)) if os.path.exists(path) else {}
    mine = pinned.setdefault(workload, {})
    if pin:
        mine[str(seed)] = digests
        with open(path, "w") as f:
            json.dump(pinned, f, indent=1, sort_keys=True)
            f.write("\n")
        return []
    want = mine.get(str(seed))
    if want is None:
        log(f"no pinned digests for {workload} seed {seed}: invariant checks only")
        return []
    bad = [k for k, v in want.items() if digests.get(k) != v]
    for k in bad:
        log(f"MISMATCH {k}: digest {digests.get(k)} != pinned {want[k]}")
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=18)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pin", action="store_true", help="record this seed's output digests")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    digest = source_digest()
    build(digest)
    cfg = WORKLOADS[args.workload]
    # the cache key covers the generator and its parameters
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        key = hashlib.sha256(f.read() + repr(sorted(cfg.items())).encode()).hexdigest()[:10]
    data = os.path.join(WORK, "data", f"{args.workload}-seed{args.seed}-{key}")
    rows = sum(gen.generate(data, args.seed, cfg["scale"], cfg["copies"])[t] for t in cfg["reads"])
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        cpu0 = cpu_times()
        res = run_jvm(args, work, data, rows, os.path.join(work, "result.json"))
        cpu1 = cpu_times()
        t_jvm = time.monotonic()
        bad = oracle_check(data, os.path.join(work, "verify"), res["oracle_sql"],
                           os.path.join(work, "tmp"))
        bad += digest_check(args.workload, args.seed, res["digests"], args.pin)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res["phase_s"].update(oracle=time.monotonic() - t_jvm, total=time.monotonic() - START)
    failed = len(res["failed_ops"]) + len(bad)
    e2e, layers = res["end_to_end"], res["per_layer"]
    # steal: CPU time the hypervisor gave to other guests during the JVM run
    steal = 100.0 * (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1])
    stamps = dict(res["stamps"], commit=git_commit(), sources=digest, seed=args.seed,
                  input_rows=res["input_rows"], cpu_steal_pct=steal,
                  contended=res["stamps"]["loadavg_before"] > res["stamps"]["nproc"] or steal > 5.0)
    res.update(stamps=stamps, oracle_checked=len(res["oracle_sql"]), mismatches=bad)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(res, f, indent=1)
    log(f"{args.workload} seed {args.seed}: input {res['input_rows']} rows, passes {res['passes']}, "
        f"{len(res['oracle_sql'])} oracle-checked outputs, {len(res['digests'])} digests, "
        f"phases {json.dumps({k: round(v, 1) for k, v in res['phase_s'].items()})}")
    for k, v in sorted(e2e.items()):
        log(f"  {k:28s} {v:.4f}")
    log(f"  {'ops_failed':28s} {failed / max(1, res['attempted']):.4f}  ({failed} of {res['attempted']})")
    log("  stamps " + json.dumps(stamps))
    if stamps["contended"]:
        log("WARNING: loadavg above nproc before the run or over 5% CPU steal during it; "
            "the numbers are contended")

    if args.trace:
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"], "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
