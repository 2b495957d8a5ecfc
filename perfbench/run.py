#!/usr/bin/env python3
"""graft benchmark: one command, three workloads, every output checked.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. A run whose sources differ from the
ones the saved classpath under `.bench_build/` was built from (or that finds
none) compiles graft and the harness (`perfbench/build.sbt`) with sbt first.
Every run then launches the JVM from that classpath, so `setup_s` measures
graft and not sbt.

Workloads (see perfbench/README.md for why each was chosen):
  txn_open   open loop of multi-key txns at a fixed offered rate
  txn_bulk   closed loop of 50k-txn micro-batches with a hot-key set
  analytics  one client running the 16 headline queries back to back

With --trace 0 the last line carries the end-to-end metrics, with --trace 1
the per-layer metrics of a separate traced window (see BENCHMARK.json for
both lists). The full run record
(host, identity, every metric the workload has) is printed on the line
before it, prefixed with `record:`.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
WORK_ROOT = os.path.join(ROOT, ".bench_work")
HEAP = "4g"
ANALYTICS_SF = 0.05
# the outputs are checked on a small set from the same seed: the oracles of
# a3 (a recursive fold) and d4 (all-pairs Hamming) grow quadratically and
# take ~2 min in DuckDB at sf 0.1
CHECK_SF = 0.01
RUN_LIMIT_S = 170

sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import datagen  # noqa: E402

# Same module opens graft's build passes to forked JVMs (Spark on JDK 17).
ADD_OPENS = [x for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]

# The field of each workload's record that each end-to-end metric of
# BENCHMARK.json is taken from.
SOURCE = {
    "txn_open": {"latency_ms": "txn_latency_ms_p50",
                 "throughput_per_s": "txn_per_s"},
    "txn_bulk": {"latency_ms": "commit_ms_p50",
                 "throughput_per_s": "txn_per_s"},
    "analytics": {"latency_ms": "query_ms_mean",
                  "throughput_per_s": "queries_per_s"},
}
# each workload's own metrics, printed by name with their units
DETAIL = {
    "txn_open": [("txn_latency_ms_p50", "ms"), ("txn_latency_ms_tail", "ms"),
                 ("backlog_txns_end", "count"), ("txn_per_s", "txns/s"),
                 ("ckpt_mb_end", "MB")],
    "txn_bulk": [("commit_ms_p50", "ms"), ("commit_ms_tail", "ms"),
                 ("txn_per_s", "txns/s"), ("ckpt_mb_end", "MB")],
    "analytics": [("query_ms_p50", "ms"), ("query_ms_tail", "ms"),
                  ("query_ms_mean", "ms"), ("mix_pass_s", "s")],
}
# The layers each workload exercises. A per-layer metric of another layer
# reads 0; one of an exercised layer must be in the record.
TXN_LAYERS = ("streaming.", "baseline.", "trace.")
LAYERS = {
    "txn_open": TXN_LAYERS,
    "txn_bulk": TXN_LAYERS,
    "analytics": ("operators.", "functions.", "plans.", "sources.", "spark.",
                  "trace."),
}


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def clean_env():
    """The environment for sbt and the JVM: no SPARK_GRAFT_* knob."""
    return {k: v for k, v in os.environ.items()
            if not k.startswith("SPARK_GRAFT_")}


def source_digest():
    """Digest of every file the build reads: graft's build definition and
    main sources, and the benchmark's own directory."""
    def built(d):  # sbt output and the build's own meta-build
        parts = os.path.relpath(d, ROOT).split(os.sep)
        return bool({"target", "__pycache__"} & set(parts)) or \
            "project/project" in "/".join(parts)

    h = hashlib.sha256()
    for top in ("build.sbt", "project", "src/main", "perfbench"):
        p = os.path.join(ROOT, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, ds, fs in os.walk(p) if not built(d)
            for f in fs)
        for fn in files:
            h.update(os.path.relpath(fn, ROOT).encode())
            with open(fn, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compiles graft and the harness unless the classpath under
    `.bench_build/` was built from sources with the same digest. The class
    directories are copied out of sbt's output directories, which every
    sbt build of this tree shares, so no later compile there changes what
    a run launches. Returns the digest."""
    digest = source_digest()
    stamp = os.path.join(BUILD, "sources.sha256")
    if os.path.isfile(stamp) and open(stamp).read() == digest:
        return digest
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        sys.exit("run.py: no graft sources next to perfbench/ to build")
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    env = clean_env()
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=700)
    lines = open(os.path.join(BUILD, "build.log")).read().splitlines()
    cp = [ln for ln in lines if "perfbench" in ln and ".jar" in ln
          and not ln.startswith("[")]
    if r.returncode != 0 or not cp:
        sys.exit(f"run.py: build failed, see {BUILD}/build.log")
    entries = []
    for i, e in enumerate(cp[-1].strip().split(os.pathsep)):
        if os.path.isdir(e):
            copy = os.path.join(BUILD, "classes", str(i))
            shutil.copytree(e, copy)
            e = copy
        entries.append(e)
    with open(CLASSPATH, "w") as f:
        f.write(os.pathsep.join(entries))
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built graft and the harness in {time.time() - t0:.1f} s")
    return digest


def host_identity(seed, digest):
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for ln in f:
            if ln.startswith("MemTotal:"):
                mem_kb = int(ln.split()[1])
    commit = None
    if os.path.exists(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                    capture_output=True, text=True,
                                    timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    # a checkout without git history is identified by the digest of the
    # sources its classpath was built from
    return {"nproc": len(os.sched_getaffinity(0)),
            "mem_total_gb": round(mem_kb / 1048576, 1), "heap": HEAP,
            "spark_cores": spark_cores(),
            "git_commit": commit, "source_sha256": digest, "seed": seed}


def check_analytics(data_dir, work):
    """Compares each query's first-pass result with its DuckDB oracle over
    the same files: column names, row count and the multiset of rows
    (the compare of scripts/verify_local.py, whose row normalisation it
    uses). Returns {query: problem}."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import verify_local
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in os.listdir(data_dir):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{t}')")
    oracles = json.load(open(os.path.join(work, "oracle_sql.json")))
    bad = {}
    for name, sql in oracles.items():
        try:
            got = con.execute(f"SELECT * FROM read_parquet("
                              f"'{work}/results/{name}/*.parquet')").fetchall()
            got_cols = [d[0] for d in con.description]
            exp = con.execute(sql).fetchall()
            exp_cols = [d[0] for d in con.description]
        except Exception as e:  # a query without readable output fails
            bad[name] = str(e)[:200]
            continue
        if sorted(got_cols) != sorted(exp_cols):
            bad[name] = f"columns {sorted(got_cols)} != {sorted(exp_cols)}"
            continue
        g = verify_local.norm_rows(
            [[r[got_cols.index(c)] for c in sorted(got_cols)] for r in got])
        e = verify_local.norm_rows(
            [[r[exp_cols.index(c)] for c in sorted(exp_cols)] for r in exp])
        if len(g) != len(e):
            bad[name] = f"rows {len(g)} != {len(e)}"
        elif g != e:
            bad[name] = "value mismatch"
    con.close()
    return bad, len(oracles)


def spark_cores():
    """Spark's task threads: half the cores, so that they, the driver
    thread and the JVM's JIT and GC threads together stay within the
    cores the run has. Executors are idle for most of every workload's
    wall time, and a pass of the analytics mix takes as long with 2 task
    threads as with 4 on a 4-core host."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def cpu_steal_ticks():
    """The host's CPU steal time so far, in clock ticks (from /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def run_jvm(args, work, data_dir, deadline):
    cp = open(CLASSPATH).read().strip()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = spark_cores()
    cmd = ["java", *ADD_OPENS, f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-XX:ParallelGCThreads={cores}", "-XX:ConcGCThreads=1",
           f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "perfbench.Harness",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--cores", str(cores)]
    if data_dir:
        cmd += ["--data", os.path.join(data_dir, "timed"),
                "--check-data", os.path.join(data_dir, "check")]
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as out:
        launch_ms = time.time() * 1000
        p = subprocess.Popen(cmd + ["--launch-ms", repr(launch_ms)], cwd=work,
                             env=clean_env(), stdout=out,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    rec_path = os.path.join(work, "record.json")
    if rc != 0 or not os.path.isfile(rec_path):
        tail = open(jvm_log, errors="replace").read().splitlines()[-40:]
        log("\n".join(tail))
        sys.exit(f"run.py: harness JVM failed ({rc})")
    return json.load(open(rec_path))


def windows(rec):
    """The measured windows of a record: the timed one, and in a traced run
    the traced window and the untraced one after it."""
    t = rec.get("trace", {})
    return [rec] + [t[k] for k in ("window", "after") if k in t]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SOURCE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    digest = build()
    start = time.time()
    work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data_dir = None
        gen_s = 0.0
        if args.workload == "analytics":
            data_dir = os.path.join(work, "data")
            datagen.generate(os.path.join(data_dir, "timed"), args.seed,
                             ANALYTICS_SF)
            datagen.generate(os.path.join(data_dir, "check"), args.seed,
                             CHECK_SF)
            gen_s = time.time() - start
        t_jvm, steal0 = time.time(), cpu_steal_ticks()
        rec = run_jvm(args, work, data_dir, start + RUN_LIMIT_S)
        t_check = time.time()
        rec["host"] = host_identity(args.seed, digest)
        # share of the JVM's wall time the host ran other guests on this
        # one's CPUs: a noisy host shows here
        rec["host"]["cpu_steal_frac"] = (cpu_steal_ticks() - steal0) / (
            os.sysconf("SC_CLK_TCK") * (t_check - t_jvm) * os.cpu_count())
        rec["input_gen_s"] = rec.get("input_gen_s", 0.0) + gen_s
        if args.workload == "analytics":
            rec["analytics_sf"] = ANALYTICS_SF
            rec["check_sf"] = CHECK_SF
            bad, checked = check_analytics(os.path.join(data_dir, "check"),
                                           work)
            rec["check_failures"] = bad
            attempted = checked + sum(w["queries_run"] for w in windows(rec))
            failed = len(bad)
        else:
            attempted = sum(w["txns"] for w in windows(rec))
            failed = min(attempted, sum(w["failed_txns"] + w["state_keys_wrong"]
                                        for w in windows(rec)))
        rec["phase_s"] = {"inputs": round(t_jvm - start, 3),
                          "jvm": round(t_check - t_jvm, 3),
                          "check": round(time.time() - t_check, 3)}
        rec["attempted"], rec["failed"] = attempted, failed
        rec["error_rate"] = failed / attempted
        spans = os.path.join(work, "spans.jsonl")
        if os.path.isfile(spans):
            traces = os.path.join(ROOT, ".bench_build", "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(spans, os.path.join(
                traces, f"{args.workload}-s{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if args.trace:
        flagged = rec["trace"]["self_sum_flagged"]
        if flagged:
            sys.exit(f"run.py: span self times do not add up to the wall "
                     f"time within {rec['trace']['self_sum_tolerance']} "
                     f"for {flagged}")
        layers = rec["trace"]["layers"]
        metrics = {}
        for m in spec["per_layer"]:
            n = m["name"]
            if n in layers:
                v = layers[n]
            elif n.startswith(LAYERS[args.workload]):
                sys.exit(f"run.py: per-layer metric {n} missing from the record")
            else:
                v = 0.0  # a layer this workload does not exercise
            metrics[n] = {"value": float(v), "unit": m["unit"]}
    else:
        src = dict(SOURCE[args.workload], setup_s="setup_s")
        metrics = {m["name"]: {"value": float(rec[src[m["name"]]]),
                               "unit": m["unit"]} for m in spec["end_to_end"]}
    for n, u in DETAIL[args.workload] + [("setup_s", "s"),
                                         ("peak_rss_mb", "MB"),
                                         ("error_rate", "fraction")]:
        print(f"{args.workload} {n} = {rec[n]:.6g} {u}")
    for n, m in metrics.items():
        print(f"{args.workload} metric {n} = {m['value']:.6g} {m['unit']}")
    print("record: " + json.dumps(rec, sort_keys=False))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
