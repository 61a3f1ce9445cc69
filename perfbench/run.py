#!/usr/bin/env python3
"""graft's benchmark: one run of one workload, from the checkout root.

    python3 perfbench/run.py --workload {subset,corpus} \
        --seed N --seconds S --trace {0,1}

Builds graft and the harness from the checkout's sources (cached under
.bench_build/ by a hash of those sources), generates the inputs with
graft.GenData (cached the same way), derives this seed's inputs and op
order, runs one JVM that sets up once and makes one pass over the
workload's ops from one client thread on local[<cores>], checks every
op's output, and prints one JSON line:
diagnostics first, then {"correct", "attempted", "failed", "metrics"}
as the last line. --trace 0 reports the end-to-end metrics, --trace 1
the per-layer ones from a run with the Spark listener and log appender
on. See perfbench/README.md for why each workload exists.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402
import stats  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(ROOT, "perfbench", "harness")

WORKLOADS = ["corpus", "subset"]
# The corpus workload's keys; every run covers all of them, the seed
# orders them and picks the documents.
CORPUS_KEYS = [
    "pipeline_corpus_clean", "pipeline_corpus_clean2", "text_quality",
    "text_perplexity", "dedup_exact_digest", "dedup_minhash_docs", "dedup_ngram_jaccard",
    "dedup_components", "ann_ivf_topk", "sim_topk_quantized", "stream_minhash_pairs",
]
# Documents per corpus, drawn from GenData sf0.3's 15,000. More than
# 2^13, so dedup_ngram_jaccard takes the prefix-filtered plan
# (SimilarityFunctions.ngramUsePrefix) that every larger corpus runs.
CORPUS_DOCS = 9000
SUBSET_FRACTION = "0.05"
JVM_TIMEOUT_S = 150

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    paths = ["build.sbt", "project/build.properties",
             "perfbench/harness/build.sbt", "perfbench/harness/project/build.properties"]
    paths += glob.glob("project/*.sbt")
    for base in ["src/main", "perfbench/harness/src"]:
        for d, _, files in os.walk(os.path.join(ROOT, base)):
            paths += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    for p in sorted(paths):
        h.update(p.encode())
        with open(os.path.join(ROOT, p), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build(stamp):
    """Compile graft and the harness; returns the runtime classpath."""
    cp_file = os.path.join(BUILD, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    log("building graft and the harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export harness/Runtime/fullClasspath"],
        cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def java_cmd(cp, tmp, main, *args):
    return (["java"] + [x for o in JAVA_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
            + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-cp", cp, main] + list(args))


def java_env(tmp):
    return dict(os.environ, SPARK_GRAFT_CPUS=str(cores()), SPARK_LOCAL_DIRS=tmp)


def cores():
    return len(os.sched_getaffinity(0))


def inputs(cp, stamp):
    """GenData's sf0.01 and sf0.3 tables, generated once per build."""
    base = os.path.join(BUILD, f"inputs-{stamp}")
    done = os.path.join(base, "DONE")
    if not os.path.exists(done):
        log("generating inputs with graft.GenData")
        shutil.rmtree(base, ignore_errors=True)
        work = os.path.join(base, "work")
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        t0 = time.time()
        for sf in ["0.01", "0.3"]:
            subprocess.run(java_cmd(cp, tmp, "graft.GenData", sf, os.path.join(base, f"sf{sf}")),
                           cwd=work, env=java_env(tmp), check=True, timeout=400,
                           stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        shutil.rmtree(work)
        with open(done, "w") as f:
            f.write(f"{time.time() - t0:.3f}\n")
    with open(done) as f:
        gen_s = float(f.read())
    return {"sf0.01": os.path.join(base, "sf0.01"), "sf0.3": os.path.join(base, "sf0.3"),
            "gen_s": gen_s}


def copy_tables(src, dst, skip=()):
    os.makedirs(dst)
    for t in checks.TABLES:
        if t not in skip:
            shutil.copy(os.path.join(src, f"{t}.parquet"), os.path.join(dst, f"{t}.parquet"))


def plan_for(workload, seed, trace, run_dir, inp):
    """The JVM plan for this run plus what the checks need to know."""
    rng = random.Random(seed)
    src = os.path.join(run_dir, "data")
    plan = {"workload": workload, "trace": bool(trace), "data_dir": src,
            "out": os.path.join(run_dir, "out"), "train": workload == "corpus"}
    extra = {}
    if workload == "subset":
        copy_tables(inp["sf0.01"], src)
        con = duckdb.connect()
        orders = [r[0] for r in con.execute(
            f"SELECT o_orderkey FROM '{src}/orders.parquet' ORDER BY 1").fetchall()]
        custs = [r[0] for r in con.execute(
            f"SELECT c_custkey FROM '{src}/customer.parquet' ORDER BY 1").fetchall()]
        # the fresh run forces one order and one customer; the delta run
        # forces two more orders on top, as a user extending a subset would
        picked = rng.sample(orders, 3)
        forced = [{"orders": ("o_orderkey", picked[:1]),
                   "customer": ("c_custkey", rng.sample(custs, 1))}]
        forced.append(dict(forced[0], orders=("o_orderkey", picked)))
        plan["subset_ops"] = [
            {"fraction": SUBSET_FRACTION,
             "force": ",".join(f"{t}:{v}" for t, (_, vs) in f.items() for v in vs)}
            for f in forced]
        extra["forced"] = forced
    else:
        # sf0.3's documents and embeddings, the small tables from sf0.01
        copy_tables(inp["sf0.01"], src, skip=("documents", "embeddings"))
        shutil.copy(os.path.join(inp["sf0.3"], "embeddings.parquet"), src)
        pool = os.path.join(inp["sf0.3"], "documents.parquet")
        n_pool = duckdb.sql(f"SELECT count(*) FROM '{pool}'").fetchone()[0]
        ids = sorted(rng.sample(range(n_pool), CORPUS_DOCS))
        duckdb.sql(
            f"COPY (SELECT * FROM '{pool}' WHERE doc_id IN ({', '.join(map(str, ids))}) "
            f"ORDER BY doc_id) TO '{src}/documents.parquet' (FORMAT PARQUET)")
        plan["keys"] = rng.sample(CORPUS_KEYS, len(CORPUS_KEYS))
    return plan, extra


def op_percentile(walls):
    """The highest percentile of op wall time with at least ten samples
    beyond it, with its sample counts."""
    p = stats.highest_supported_percentile(len(walls))
    if p is None:
        return {"p": None, "samples": len(walls)}
    return {"p": p, "value_s": stats.percentile(walls, p), "samples": len(walls),
            "beyond": stats.samples_beyond(len(walls), p)}


def steal_jiffies():
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("cpu "):
                return int(line.split()[8])
    return -1


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a SIGTERM unwinds like an exception, so child processes get killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for p in ["build.sbt", "src/main/scala", "perfbench/harness/build.sbt"]:
        if not os.path.exists(os.path.join(ROOT, p)):
            fail(f"{p} not found: run from the root of a graft checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp = source_stamp()
    cp = build(stamp)
    inp = inputs(cp, stamp)

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    work, tmp = os.path.join(run_dir, "work"), os.path.join(run_dir, "tmp")
    os.makedirs(work)
    os.makedirs(tmp)
    plan, extra = plan_for(a.workload, a.seed, a.trace, run_dir, inp)
    plan_path, result_path = os.path.join(run_dir, "plan.json"), os.path.join(run_dir, "result.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)

    steal0, load0, t0 = steal_jiffies(), loadavg(), time.time()
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        p = subprocess.Popen(java_cmd(cp, tmp, "graftbench.Main", plan_path, result_path),
                             cwd=work, env=java_env(tmp), stdout=jlog, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # never leave the JVM behind, whatever ends this process
            if p.poll() is None:
                p.kill()
                p.wait()
    host = {"steal_jiffies": steal_jiffies() - steal0, "loadavg_before": load0,
            "loadavg_after": loadavg(), "jvm_wall_s": time.time() - t0, "cores": cores()}
    if rc != 0 or not os.path.exists(result_path):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness JVM ended with {rc}; run directory kept at {run_dir}")
    with open(result_path) as f:
        result = json.load(f)

    hash_path = os.path.join(BUILD, f"hashes-{stamp}.json")
    hash_store = checks.load_hashes(hash_path)
    if a.workload == "subset":
        failures = checks.check_subset_ops(result, extra["forced"])
    else:
        failures = checks.check_query_ops(result, hash_store, f"{a.workload}/s{a.seed}")
    checks.save_hashes(hash_path, hash_store)

    attempted = len(result["ops"])
    walls = [o["wall_s"] for o in result["ops"]]
    metrics = (stats.per_layer(result, host["steal_jiffies"]) if a.trace
               else stats.end_to_end(result))
    diag = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "host": host,
        "input_gen_s": inp["gen_s"], "setup": result["setup"],
        "pass_outlasted_seconds": result["pass_wall_s"] >= a.seconds,
        "op_p50_s": statistics.median(walls),
        "op_percentile": op_percentile(walls),
        "peak_rss_mb": result["peak_rss_mb"],
        "failed_frac": stats.failed_frac(attempted, len(failures)),
        "failures": failures,
        "ops": [(o["id"], round(o["wall_s"], 4)) for o in result["ops"]],
    }
    if a.trace:
        diag["codegen_fallbacks_by_op"] = stats.events_by_op(
            result["trace"]["spans"],
            [e for e in result["trace"]["codegen"] if e["kind"] != "compiled"])
    print(json.dumps({"diagnostics": diag}))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
