#!/usr/bin/env python3
"""The repo benchmark.

    python3 perfbench/run.py --workload <url_uniform|url_zipf|session>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
JVM harness from source (sbt, offline); later runs reuse the build while
the sources are unchanged. Inputs come from the seed alone, are cached
under ``.perfbench/`` and are never part of a timed region.

Every run checks every answer it times against an independent expected
answer and prints, as its last stdout line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The lines before it print the workload's own metrics by name and unit,
and the full record (system configuration, raw timings, spans) is
written to ``.perfbench/records/``.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import corpus  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

WORKLOADS = {
    # (corpus shape, corpus bytes) for the reference job
    "url_uniform": ("uniform", 48 << 20),
    "url_zipf": ("zipf", 16 << 20),
    "session": None,
}
CORES = len(os.sched_getaffinity(0))  # nproc
URL_HEAP = "1g"
SESSION_HEAP = "2g"
FIXTURE_SCALE = "sf0.1"
WARMUP_SCALE = "sf0.001"
# One query per family (the part of the name before the first '_'): the
# family's median-cost query in the r18 suite record (PERF_r18.json),
# among queries whose oracle finishes (checks.ORACLE_DNF). The set is
# fixed so that run-to-run spread measures the program, not the draw;
# the seed draws the order, which decides which query pays each shared
# artifact-store build and the cold code paths.
SESSION_QUERIES = (
    "contract_fuzz_rows", "corpus_pack", "dedup_simhash", "emb_label_centroids",
    "ev_tumbling", "graph_pagerank", "mix_epoch_repeat", "mm_scenes",
    "pipeline_decontaminate_semantic", "rel_grouping_sets", "sample_split",
    "shard_plan", "sim_semdedup", "split_leakage", "sql_minhash",
    "src_csv_roundtrip", "stream_running", "text_ntile", "urlcount_counts",
    "vocab_growth",
)
MIN_ITERATIONS = 5
WARM_PASSES = 1
# a run ends within 180 s of its build: the JVMs get what is left of
# RUN_BUDGET_S after the inputs, minus CHECK_RESERVE_S for the checks
RUN_BUDGET_S = 170
CHECK_RESERVE_S = 15
BUILD_TIMEOUT_S = 800


class BenchError(Exception):
    pass


# ------------------------------------------------------------------ build

def _source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Build the engine and the harness; return (classpath, jvm options,
    catalog of registered queries)."""
    for need in ("build.sbt", os.path.join("src", "main")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise BenchError(f"program source {need} not found under {ROOT}")
    out = os.path.join(STATE, "build")
    os.makedirs(out, exist_ok=True)
    stamp = os.path.join(out, "stamp")
    digest = _source_digest()
    launch = os.path.join(HERE, "target", "launch.txt")
    catalog = os.path.join(out, "catalog.json")
    fresh = (os.path.exists(stamp) and open(stamp).read() == digest
             and os.path.exists(launch) and os.path.exists(catalog))
    if not fresh:
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        with open(os.path.join(out, "sbt.log"), "w") as log:
            try:
                rc = subprocess.run(
                    ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "launchFile"],
                    cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                    stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0:
            raise BenchError(f"build failed (rc={rc}); see {out}/sbt.log")
    with open(launch) as f:
        lines = f.read().splitlines()
    classpath, options = lines[0], [o for o in lines[1:] if o]
    if not fresh:
        run_java(classpath, options, "64m", ["--catalog", catalog],
                 os.path.join(out, "catalog.log"), timeout=120)
        with open(stamp, "w") as f:
            f.write(digest)
    with open(catalog) as f:
        return classpath, options, json.load(f)


def jvm_env():
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_DRIVER_MEM"}
    tmp = os.path.join(STATE, "tmp")
    env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    # the engine's scratch default is a RAM disk outside the checkout
    env["SPARK_GRAFT_SCRATCH_DIR"] = os.path.join(tmp, "scratch")
    for d in ("local", "scratch", "java"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    return env


def run_java(classpath, options, heap, args, log_path, timeout):
    opts = [o for o in options if not o.startswith(("-Xmx", "-Xms"))]
    # a fixed-size heap: the cap is the budget, and a heap that grows
    # during the run adds collector noise to every figure
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}",
            f"-Djava.io.tmpdir={os.path.join(STATE, 'tmp', 'java')}"]
           + opts + ["-cp", classpath, "perfbench.Main"] + args)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=jvm_env(), stdout=log,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"JVM timed out after {timeout}s; see {log_path}")
    if rc != 0:
        raise BenchError(f"JVM exited with {rc}; see {log_path}")


# ----------------------------------------------------------------- inputs

def session_order(catalog, seed):
    """The session's queries in the order the seed draws. Every name must
    still be registered: a renamed query changes the workload."""
    missing = [q for q in SESSION_QUERIES if q not in catalog["queries"]]
    if missing:
        raise BenchError(f"session queries no longer registered: {missing}")
    order = list(SESSION_QUERIES)
    random.Random(seed).shuffle(order)
    return order


# -------------------------------------------------------------------- run

def launch(classpath, options, spec, heap, trace, deadline):
    """One JVM run of `spec`; returns (record, launch epoch seconds)."""
    tag = f"{spec['workload']}-{os.getpid()}-{time.monotonic_ns()}"
    spec_path = os.path.join(STATE, "work", f"{tag}.spec.json")
    spec = dict(spec, out=os.path.join(STATE, "work", f"{tag}.out.json"), trace=trace)
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    if trace:
        # job call sites deep enough to see artifact-store builds
        options = options + ["-Dspark.callstack.depth=400"]
    t_launch = time.time()
    run_java(classpath, options, heap, [spec_path], os.path.join(STATE, "logs", f"{tag}.log"),
             max(1.0, deadline - time.monotonic() - CHECK_RESERVE_S))
    with open(spec["out"]) as f:
        rec = json.load(f)
    os.remove(spec["out"])
    os.remove(spec_path)
    return rec, t_launch


def run(args):
    for d in ("work", "logs", "records"):
        os.makedirs(os.path.join(STATE, d), exist_ok=True)
    classpath, options, catalog = build()
    deadline = time.monotonic() + RUN_BUDGET_S
    work = os.path.join(STATE, "work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    spec = {"cores": CORES, "seconds": args.seconds, "work_dir": work,
            "fixture_scale": FIXTURE_SCALE, "warmup_scale": WARMUP_SCALE,
            "min_iterations": MIN_ITERATIONS, "warm_passes": WARM_PASSES}
    shape = WORKLOADS[args.workload]
    if shape:
        path, meta = corpus.cached(os.path.join(STATE, "corpus"), shape[0],
                                   args.seed, shape[1])
        spec.update(workload="url", corpus=os.path.join(path, "text"),
                    warmup_corpus=os.path.join(path, "warmup.txt"))
        heap = URL_HEAP
    else:
        meta = None
        spec.update(workload="session", queries=session_order(catalog, args.seed))
        heap = SESSION_HEAP

    host0 = host_cpu()
    rec, t0 = launch(classpath, options, spec, heap, bool(args.trace), deadline)
    rec["launch_epoch"] = t0
    host1 = host_cpu()

    if shape:
        verdict = checks.check_url(rec, shape[0], path)
        summary = stats.url_metrics(rec, meta, verdict)
    else:
        verdict = checks.check_session(rec, catalog, os.path.join(work, "results"),
                                       os.path.join(STATE, "oracle"))
        summary = stats.session_metrics(rec, verdict)
    summary["setup_s"] = rec["ready_epoch_ms"] / 1000.0 - t0
    # share of the host's CPU time withheld by the hypervisor while the JVM
    # ran: wall-clock figures of a run with a large share read slow
    summary["host_steal_share"] = ((host1[1] - host0[1]) / max(1, host1[0] - host0[0])
                                   if host0 and host1 else None)
    metrics, detail = stats.end_to_end(summary), None
    if args.trace:
        metrics, detail = layers.per_layer(rec, meta, summary, last_untraced(args))
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "summary": summary,
              "checks": verdict, "system": rec["system"],
              "fixtures": rec["fixtures"], "corpus": meta,
              "oracle_dnf": checks.ORACLE_DNF, "metrics": metrics,
              "raw": {k: rec.get(k) for k in ("main_epoch_ms", "ready_epoch_ms", "setup", "measured_s", "gc", "iterations",
                                              "executions", "retained_heap_bytes")}}
    if args.trace:
        record.update(trace=rec["trace"], layers=detail, layer_moves=layers.LAYERS)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(STATE, "records", name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    for k in sorted(summary):
        if k in stats.UNITS:
            print(f"{args.workload} {k} = {summary[k]:.6g} {stats.UNITS[k]}")
    return {"correct": verdict["failed"] == 0,
            "attempted": verdict["attempted"], "failed": verdict["failed"],
            "metrics": metrics}


def host_cpu():
    """(total, steal) jiffies of the host, or None where /proc/stat is absent."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None
    return sum(fields[:8]), fields[7]


def last_untraced(args):
    """Summary of the untraced run of this workload with the same seed, or
    else the most recent one: the base of the tracing-overhead figures
    (None when the checkout has no untraced record)."""
    records = os.path.join(STATE, "records")
    same = os.path.join(records, f"{args.workload}-seed{args.seed}-trace0.json")
    others = sorted((os.path.join(records, f) for f in os.listdir(records)
                     if f.startswith(f"{args.workload}-seed") and f.endswith("-trace0.json")),
                    key=os.path.getmtime)
    path = same if os.path.exists(same) else (others[-1] if others else None)
    if path is None:
        return None
    with open(path) as f:
        return json.load(f)["summary"]


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    try:
        result = run(args)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
