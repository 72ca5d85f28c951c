#!/usr/bin/env python3
"""The graft benchmark: one command, every metric with its unit.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine from this checkout's sources (on the first run, and
again when a source changes), makes
the workload's inputs from the seed, starts one JVM that sets up the
workload and measures it, checks the outputs, and prints one JSON object
as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` they are the per-layer metrics of a traced run, whose
spans and plan fingerprints are also written to
``perfbench/traces/<workload>-seed<n>.json`` for ``diff.py``. The line
before the result is the run's provenance stamp. See README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("query_mix", "etl_batch", "index_stream")
CORES = max(1, min(3, (os.cpu_count() or 1) - 1))  # one core left for the scheduler, JIT and GC
HEAP = ["-Xms2g", "-Xmx2g"]
JVM_TIMEOUT_S = 160
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# workload sizes
ETL_READINGS = 250_000
HISTORY_DOCS = 2000
DELTA_BATCH = 40


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def sources():
    return sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
                  + glob.glob(os.path.join(HERE, "src", "**", "*"), recursive=True)
                  + [os.path.join(HERE, "build.sbt")])


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def build():
    """Compile engine + harness with sbt once per checkout; cache the
    runtime classpath. Rebuilds when a source is newer than the cache."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if os.path.exists(cp_file):
        built = os.path.getmtime(cp_file)
        if all(os.path.getmtime(f) <= built for f in sources()):
            return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"),
               SPARK_HOME=spark_home() or "")
    log("[perfbench] building the engine and the harness with sbt")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=850)
    if p.returncode != 0:
        log(p.stdout[-4000:], p.stderr[-4000:])
        raise SystemExit("[perfbench] build failed")
    cp = p.stdout.strip().splitlines()[-1]
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    return cp


def write_tsv(path, mapping):
    with open(path, "w") as f:
        for k, v in mapping.items():
            f.write(f"{k}\t{v}\n")


def make_inputs(workload, seed, seconds, inputs):
    """Generates the workload's inputs; returns what the checks need."""
    if workload == "query_mix":
        return {"rows": gen.estate(seed, inputs)}
    if workload == "etl_batch":
        exp = gen.readings(seed, inputs, ETL_READINGS)
        write_tsv(os.path.join(inputs, "expected_windows.tsv"), exp["windows"])
        with open(os.path.join(inputs, "reading_count.txt"), "w") as f:
            f.write(str(ETL_READINGS))
        return {"valid": exp["valid"], "windows": len(exp["windows"])}
    if workload == "index_stream":
        # enough delta batches for ops of 50 ms each, plus the warm-up
        exp = gen.docs(seed, inputs, HISTORY_DOCS, int(seconds * 20) + 8, DELTA_BATCH)
        write_tsv(os.path.join(inputs, "planted.tsv"), dict(exp["planted"]))
        return {"planted": len(exp["planted"])}


def run_jvm(cp, workload, inputs, work, seconds, trace, seed):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", *HEAP, "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'src', 'main', 'resources', 'log4j2.properties')}",
            *ADD_OPENS, "-cp", cp, "graft.perfbench.Main",
            workload, inputs, work, str(seconds), str(trace), str(seed), str(CORES)])
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            lines = f.read().splitlines()
        log("\n".join(lines[:60] + ["..."] + lines[-40:]))
        raise SystemExit(f"[perfbench] the benchmark JVM failed ({rc})")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def provenance(args, t_load_start):
    commit = "unknown"
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        pass
    digest = hashlib.sha256()
    for f in sources():
        if os.path.isfile(f):
            with open(f, "rb") as fh:
                digest.update(fh.read())
    return {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": bool(args.trace), "nproc": os.cpu_count(), "master": f"local[{CORES}]",
            "heap": " ".join(HEAP), "load_1m_start": t_load_start,
            "load_1m_end": os.getloadavg()[0], "git_commit": commit,
            "source_sha256": digest.hexdigest()[:16]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "Engine.scala")):
        raise SystemExit("[perfbench] no engine sources next to the benchmark; run it from a "
                         "checkout of the repository")
    cp = build()

    load_start = os.getloadavg()[0]
    t_start = time.time()  # setup_s counts from here: inputs, JVM, session, warm-up
    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs)
    try:
        facts = make_inputs(args.workload, args.seed, args.seconds, inputs)
        t_inputs = time.time()
        res = run_jvm(cp, args.workload, inputs, work, args.seconds, args.trace, args.seed)
        t_jvm_end = time.time()
        checks = stats.check_queries(work, inputs) if args.workload == "query_mix" else {}
        setup_s = res["setup_end_ms"] / 1000.0 - t_start
        prov = provenance(args, load_start)
        jvm_start = res["jvm_start_ms"] / 1000.0
        prov["setup_parts_s"] = {
            "inputs": t_inputs - t_start, "jvm_start": jvm_start - t_inputs,
            "session": res["session_ms"] / 1000.0,
            "warm_up": res["setup_end_ms"] / 1000.0 - jvm_start - res["session_ms"] / 1000.0}
        if "timed_end_ms" in res:
            prov["teardown_parts_s"] = {"jvm": t_jvm_end - res["timed_end_ms"] / 1000.0,
                                        "checks": time.time() - t_jvm_end}
        if checks:
            prov["checks"] = {k: v for k, v in checks.items() if k != "failed"}
        if args.trace:
            out = stats.traced_result(res, checks, setup_s)
            os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
            with open(os.path.join(HERE, "traces", f"{args.workload}-seed{args.seed}.json"),
                      "w") as f:
                json.dump({"provenance": prov, "layers": res["layers"], "plans": res["plans"],
                           "plan_texts": res["plan_texts"], "spans": res["spans"]}, f, indent=1)
            stats.print_layers(res["layers"])
        else:
            out = stats.end_to_end(res, checks, setup_s, args.seconds)
        prov["facts"] = facts
        prov["samples"] = out.pop("samples")
        if out.pop("errors"):
            log("[perfbench] failures:", json.dumps(res.get("errors", []))[:2000])
        print(json.dumps({"provenance": prov}))
        print(json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
