#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: warm passes over SparkEntry queries.

Usage, from the root of a checkout:
    python3 perfbench/run.py --workload analytics --seed 1 --seconds 12 --trace 0

It builds the program and the harness from source (sbt, offline) once per
checkout, starts the benchmark JVMs, and prints as its last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. The full
run record goes to .bench_build/records/. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
BUILD = os.path.join(ROOT, ".bench_build")
INPUT = os.path.join(HERE, "data", "sf0.01")
REFS = os.path.join(HERE, "refs", "sf0.01.json")
# Each workload's queries, written by the harness after every build.
QUERIES = os.path.join(BUILD, "queries.json")
WORKLOADS = ("analytics", "construct")
# Wall-clock limits of one invocation: a run, and a run that also compiles
# or builds reference digests.
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880
# Sources whose change means the build must run again.
BUILD_INPUTS = ("build.sbt", "project/build.properties", "src/main",
                "perfbench/harness/build.sbt", "perfbench/harness/project/build.properties",
                "perfbench/harness/src")


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def read_text(path):
    with open(path) as fh:
        return fh.read()


def read_json(path):
    return json.loads(read_text(path))


def tree_sha256(root, rels):
    h = hashlib.sha256()
    for rel in rels:
        path = os.path.join(root, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM="3g")
    # sbt's temporary files and server socket stay inside the checkout
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Djava.io.tmpdir={os.path.join(BUILD, 'sbt-tmp')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile the program and the harness once per source state and list
    the workloads' queries; return (classpath, jvm flags, whether it
    compiled now)."""
    for rel in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            raise BenchError(f"no {rel} beside perfbench/: the program's sources are missing")
    stamp = tree_sha256(ROOT, BUILD_INPUTS)
    launch = os.path.join(BUILD, "launch.txt")
    stamp_file = os.path.join(BUILD, "launch.stamp")
    built = not (os.path.exists(launch) and os.path.exists(stamp_file)
                 and read_text(stamp_file) == stamp)
    if built:
        os.makedirs(os.path.join(BUILD, "sbt-tmp"), exist_ok=True)
        log("building the program and the harness with sbt")
        with open(os.path.join(BUILD, "build.log"), "w") as out:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                                cwd=HARNESS, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=800).returncode
        if rc != 0:
            raise BenchError(f"sbt build failed (exit {rc}); see .bench_build/build.log")
        shutil.copyfile(os.path.join(HARNESS, "target", "launch.txt"), launch)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    lines = read_text(launch).splitlines()
    cp, flags = lines[0], lines[1:]
    if built or not os.path.exists(QUERIES):
        java(cp, flags, os.path.join(BUILD, "list"),
             ["perfbench.Harness", "--mode", "list", "--out", QUERIES], time.monotonic() + 120)
    return cp, flags, built


def java(cp, flags, run_dir, args, deadline):
    """One benchmark JVM, started in its own scratch directory in the checkout."""
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file under the system /tmp
    cmd = ["java", *flags, "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dspark.local.dir={run_dir}/local",
           f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
           f"-Dspark.hadoop.hadoop.tmp.dir={run_dir}/tmp/hadoop",
           "-cp", cp, *args]
    timeout = deadline - time.monotonic()
    if timeout <= 0:
        raise BenchError("out of time before starting a JVM")
    with open(os.path.join(run_dir, "jvm.log"), "a") as out:
        proc = subprocess.run(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                              stdin=subprocess.DEVNULL, timeout=timeout)
    if proc.returncode != 0:
        raise BenchError(f"JVM {args[0]} exited {proc.returncode}; see {run_dir}/jvm.log")


def input_sha256():
    return tree_sha256(INPUT, sorted(os.listdir(INPUT)))


def load_refs(path, workload, cp, flags, deadline):
    """Reference digests for the input. A set that misses a query of the
    workload is built once with the repo's DuckDB oracle and cached in
    .bench_build; copy that file over perfbench/refs/sf0.01.json to commit it."""
    sha = input_sha256()
    wanted = read_json(QUERIES)[workload]
    for p in (path, os.path.join(BUILD, f"refs-{sha[:16]}.json")):
        if os.path.exists(p):
            refs = read_json(p)
            if refs.get("input_sha256") == sha and all(q in refs["digests"] for q in wanted):
                return refs["digests"], False
    log("no reference digests for this input and workload: building them with the DuckDB oracle")
    refs = build_refs(cp, flags, deadline)
    with open(os.path.join(BUILD, f"refs-{sha[:16]}.json"), "w") as fh:
        json.dump(refs, fh, indent=1, sort_keys=True)
    return refs["digests"], True


def build_refs(cp, flags, deadline):
    """graft.Verify dumps every workload query; tools/verify_local.py checks the
    dump against DuckDB; only queries that pass get a reference digest."""
    run_dir = os.path.join(BUILD, f"refs-{os.getpid()}")
    try:
        names = sorted({q for qs in read_json(QUERIES).values() for q in qs})
        dump = os.path.join(run_dir, "dump")
        java(cp, flags, run_dir, ["graft.Verify", INPUT, dump, *names], deadline)
        oracle = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "verify_local.py"),
                                 INPUT, dump, *names], capture_output=True, text=True,
                                timeout=max(1.0, deadline - time.monotonic()))
        passed = sorted(line.split()[1] for line in oracle.stdout.splitlines()
                        if line.startswith("PASS "))
        verdicts = {line.split()[1].rstrip(":"): line for line in oracle.stdout.splitlines()
                    if line.startswith(("PASS ", "FAIL "))}
        qfile = os.path.join(run_dir, "passed.txt")
        with open(qfile, "w") as fh:
            fh.write("\n".join(passed) + "\n")
        out = os.path.join(run_dir, "digests.json")
        java(cp, flags, run_dir, ["perfbench.Harness", "--mode", "refs", "--dump", dump,
                                  "--queries", qfile, "--out", out], deadline)
        return {"input": os.path.relpath(INPUT, ROOT), "input_sha256": input_sha256(),
                "oracle": "graft.Verify dump checked by tools/verify_local.py (DuckDB, strict)",
                "digests": read_json(out)["digests"],
                "not_passed": {q: v for q, v in verdicts.items() if not v.startswith("PASS")},
                "no_oracle": [q for q in names if q not in verdicts]}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(rec):
    """wall_s is the median pass: each query's median over the timed passes,
    summed."""
    passes = [p for p in rec["passes"] if not p["traced"]]
    return {
        "setup_s": rec["setup_s"],
        "wall_s": sum(median([p["query_s"][q] for p in passes]) for q in rec["queries"]),
        "heap_mb": rec["heap_mb"],
    }


def per_layer(rec):
    traced = [p for p in rec["passes"] if p["traced"]]
    plain = [p for p in rec["passes"] if not p["traced"]]
    metrics = {k: median([p["layers"][k] for p in traced]) for k in traced[0]["layers"]}
    metrics["jit.warmup_pass_s"] = rec["warmup_pass_s"]
    metrics["trace.overhead_s"] = (median([p["wall_s"] for p in traced])
                                   - median([p["wall_s"] for p in plain]))
    return metrics


def report(values, trace):
    """The metrics BENCHMARK.json declares for this kind of run, with its units."""
    spec = read_json(os.path.join(ROOT, "BENCHMARK.json"))
    out = {}
    for m in spec["per_layer" if trace else "end_to_end"]:
        if m["name"] not in values:
            raise BenchError(f"the run measured no {m['name']}")
        out[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
    return out


def source_id():
    """The checkout's git commit, or a hash of the sources outside git."""
    if os.path.exists(os.path.join(ROOT, ".git")):
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip()
        if commit:
            return commit
    return tree_sha256(ROOT, BUILD_INPUTS)


def run(args):
    start = time.monotonic()
    cp, flags, built = build()
    refs, oracle_ran = load_refs(args.refs, args.workload, cp, flags, start + FIRST_RUN_LIMIT_S)
    deadline = start + (FIRST_RUN_LIMIT_S if built or oracle_ran else RUN_LIMIT_S)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(BUILD, "runs", tag)
    records = os.path.join(BUILD, "records")
    os.makedirs(records, exist_ok=True)
    os.makedirs(run_dir, exist_ok=True)
    try:
        refs_tsv = os.path.join(run_dir, "refs.tsv")
        with open(refs_tsv, "w") as fh:
            fh.writelines(f"{q}\t{d}\n" for q, d in sorted(refs.items()))
        out = os.path.join(run_dir, "record.json")
        spans = os.path.join(records, f"{tag}.spans.jsonl")
        java(cp, flags, run_dir, ["perfbench.Harness", "--mode", "run", "--workload", args.workload,
                                  "--input", INPUT, "--seed", str(args.seed),
                                  "--seconds", str(args.seconds), "--trace", str(args.trace),
                                  "--refs", refs_tsv, "--out", out, "--spans", spans], deadline)
        rec = read_json(out)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    rec["config"]["source"] = source_id()
    rec["config"]["build_flags"] = flags
    rec["metrics"] = report(per_layer(rec) if args.trace else end_to_end(rec), args.trace)
    path = os.path.join(records, f"{tag}.json")
    with open(path, "w") as fh:
        json.dump(rec, fh, indent=1, sort_keys=True)
    log(f"record: {path}")
    for f in rec["failures"][:20]:
        log(f"failed: {f['query']} pass {f['pass']}: {f['error']}")
    return {"correct": rec["failed"] == 0, "attempted": rec["attempted"],
            "failed": rec["failed"], "metrics": rec["metrics"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--refs", default=REFS, help="reference digest file (JSON)")
    args = ap.parse_args()
    try:
        result = run(args)
    except (BenchError, subprocess.TimeoutExpired, OSError, KeyError, ValueError) as e:
        log(f"error: {e}")
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
