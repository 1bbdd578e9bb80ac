#!/usr/bin/env python3
"""Benchmark for the dump -> diffdb pipeline and a registry query mix.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The program is built from that
checkout's source (sbt, offline) on the first run; build outputs, inputs
and per-run records go to `.bench_build/`. history_bz2's input is a
synthetic dump generated from --seed (gen.py); registry_mix reads the
fixed tables in perfbench/registry/sf0.1. The program sees only these
files. One JVM runs the workload at local[nproc] as a closed loop, one
pass at a time (perfbench/src/.../Main.scala).

The last stdout line is the result: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones, by the names BENCHMARK.json lists; layers a
workload leaves idle report 0. The line before it is the run-context
record, also kept in .bench_build/results/. History: `attempted` counts
generated revisions and `failed` counts revisions missing from or
duplicated in the written diffdb plus rows carrying a diff error.
Registry: `attempted` counts the queries and `failed` those that failed
or whose result differs from the oracle's. failed / attempted is the
context's error_frac.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("history_bz2", "registry_mix")
REGISTRY = os.path.join(HERE, "registry")
JVM_HEAP = "3g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
KEEP_SEEDS = 16


def fail(msg, code=1):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_digest(root):
    h = hashlib.sha256()
    files = [os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(p for p in glob.glob(os.path.join(d, "**", "*"), recursive=True) if os.path.isfile(p))
    for p in files:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root, work):
    """Compile the program and the benchmark package; returns the classpath."""
    stamp = os.path.join(work, "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    digest = source_digest(root)
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(work, "build.log")
    with open(log, "w") as lf:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                            cwd=HERE, env=env, stdout=lf, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=850).returncode
    if rc != 0 or not os.path.exists(cp_file):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        fail("build failed (rc=%d), log in %s" % (rc, log))
    with open(stamp, "w") as f:
        f.write(digest)
    return open(cp_file).read().strip()


def inputs(work, seed):
    """Generated inputs for a seed, reused across runs; older seeds are evicted."""
    base = os.path.join(work, "inputs")
    d = os.path.join(base, "seed-%d" % seed)
    rep = os.path.join(d, "report.json")
    if not os.path.exists(rep):
        shutil.rmtree(d, ignore_errors=True)
        gen.build(d + ".tmp", seed)
        os.rename(d + ".tmp", d)
    os.utime(d)
    others = sorted((p for p in glob.glob(os.path.join(base, "seed-*")) if p != d), key=os.path.getmtime)
    for p in others[:max(0, len(others) - (KEEP_SEEDS - 1))]:
        shutil.rmtree(p, ignore_errors=True)
    with open(rep) as f:
        return d, json.load(f)


def declared_names(root, trace):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def idle_layers(workload, names):
    """Per-layer metrics of the layers a workload leaves idle."""
    if workload == "registry_mix":
        return {n for n in names if not n.startswith(("queries.", "job.")) and n != "trace.overhead_frac"}
    return {n for n in names if n.startswith("queries.")}


def loadavg():
    return list(os.getloadavg())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("no program source in %s (run from the root of a checkout)" % root, 2)
    units = declared_names(root, a.trace == 1)
    work = os.path.join(root, ".bench_build")
    os.makedirs(work, exist_ok=True)
    # runs share the build, the inputs and the output directory: one at a time
    lock = open(os.path.join(work, "lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    load_start = loadavg()
    cp = build(root, work)
    registry = a.workload == "registry_mix"
    if registry:
        in_dir, report = os.path.join(REGISTRY, "sf0.1"), None
    else:
        in_dir, report = inputs(work, a.seed)
    nproc = len(os.sched_getaffinity(0))

    out = os.path.join(work, "run")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    run_jvm(work, cp, [a.workload, in_dir, out, str(a.seconds), str(a.trace), str(nproc)])
    with open(os.path.join(out, "jvm_result.json")) as f:
        jr = json.load(f)

    if registry:
        got = check.check_registry(os.path.join(out, "check"), os.path.join(REGISTRY, "oracle.json"),
                                   jr["queries"], jr["errors"])
    else:
        got = check.check_diffdb(os.path.join(out, "pass"), os.path.join(in_dir, "manifest.npz"), jr["expected"])
    raw = jr["metrics"]
    idle = idle_layers(a.workload, units) if a.trace == 1 else set()
    metrics = {k: {"value": 0.0 if k in idle else raw[k], "unit": u} for k, u in units.items() if k in raw or k in idle}
    names_ok = (set(metrics) == set(units) and not idle & set(raw)
                and all(isinstance(v["value"], (int, float)) for v in metrics.values()))
    if a.trace == 1 and not registry:
        # exact counts the traced run must reproduce
        got["layer_checks"] = {
            "revisions_vs_generator": raw["sources.revisions"] == report["revisions"],
            "dsv2_revisions_vs_generator": raw["check.dsv2_revisions"] == report["revisions"],
            "diff_ops_vs_output": raw["functions.diff.ops"] == got["output_ops"],
        }
    correct = got["ok"] and names_ok and all(got.get("layer_checks", {}).values())

    context = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace, "nproc": nproc,
        "jvm_heap": JVM_HEAP, "gc": "ParallelGC", "source_digest": source_digest(root)[:16],
        "git_commit": git_commit(root),
        "load_start": load_start, "load_end": loadavg(),
        "error_frac": got["failed"] / max(1, got["attempted"]),
        "output_check": got, "names_match_benchmark_json": names_ok,
        "jvm": jr["context"], "passes_s": jr.get("passes_s"),
        "layer_cross_checks": {k: v for k, v in raw.items() if k.startswith("check.")},
    }
    if registry:
        context.update(input_bytes=jr["context"]["input_file_bytes"], query_s=jr.get("query_s"))
    else:
        context.update(input_decompressed_bytes=report["decompressed_bytes"], input_compressed_bytes=report["bz2_bytes"],
                       partitions=jr["context"]["partitions"], generator=report)
    result = {"correct": bool(correct), "attempted": int(got["attempted"]), "failed": int(got["failed"]),
              "metrics": metrics}
    rdir = os.path.join(work, "results")
    os.makedirs(rdir, exist_ok=True)
    with open(os.path.join(rdir, "%s-seed%d-trace%d.json" % (a.workload, a.seed, a.trace)), "w") as f:
        json.dump({"result": result, "context": context}, f, indent=1)
    if os.path.exists(os.path.join(out, "trace.jsonl")):
        shutil.move(os.path.join(out, "trace.jsonl"),
                    os.path.join(rdir, "%s-seed%d-trace.jsonl" % (a.workload, a.seed)))
    shutil.rmtree(out, ignore_errors=True)
    print(json.dumps({"context": context}))
    print(json.dumps(result))


def run_jvm(work, cp, args):
    """Run perfbench.Main with `args` in its own JVM."""
    tmp = os.path.join(work, "run", "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xms" + JVM_HEAP, "-Xmx" + JVM_HEAP, "-XX:+UseParallelGC", "-Djava.io.tmpdir=" + tmp]
           + ["--add-opens=%s=ALL-UNNAMED" % p for p in ADD_OPENS] + ["-cp", cp, "perfbench.Main"] + args)
    with open(os.path.join(work, "jvm.log"), "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=170)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("benchmark JVM timed out")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as lf:
            sys.stderr.write(lf.read()[-4000:])
        fail("benchmark JVM failed (rc=%d)" % rc)


def git_commit(root):
    try:
        top = subprocess.run(["git", "rev-parse", "--show-toplevel"], cwd=root, capture_output=True, text=True, timeout=10)
        if top.returncode == 0 and os.path.realpath(top.stdout.strip()) == os.path.realpath(root):
            r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10)
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown (not a git checkout)"


if __name__ == "__main__":
    main()
