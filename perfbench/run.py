#!/usr/bin/env python3
"""graft benchmark: the paper's word-count -> document-store pipeline
(batched and naive) and a slice of the query registry.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from the checkout's sources when they
changed, generates the workload's inputs from the seed, runs the harness in
a fresh JVM on local[nproc], checks every output and prints, as the last
line, {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json; with --trace 1 the
per-layer ones, from a separate traced run. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import benchlib

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / "work"
JVM_TIMEOUT_S = 170

# (tokens, vocabulary, zipf exponent, point lookups per pass) per pipeline
# workload. Batched: many tokens per word, so tokenize+count outweighs the
# sink's ~V/500 commits. Naive: few tokens per word, so the sink's one commit
# per word outweighs tokenize+count.
CORPORA = {
    "wordcount_batched": (3_000_000, 1_000, 1.1, 20),
    "wordcount_naive": (1_500, 900, 0.5, 10),
}
REGISTRY_SF = "0.01"


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def fail(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr, flush=True)
    sys.exit(2)


def run_logged(cmd, logfile, timeout, env=None, cwd=None):
    """Runs cmd to completion (killing it on timeout) with output in logfile."""
    with open(logfile, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                             cwd=cwd, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.wait()
            fail(f"{cmd[0]} timed out after {timeout} s; see {logfile}")


def sources_stamp():
    h = hashlib.sha256()
    files = sorted([*(ROOT / "src" / "main").rglob("*"), *(BENCH / "src").rglob("*"),
                    ROOT / "build.sbt", BENCH / "build.sbt",
                    *(ROOT / "project").glob("*.properties"),
                    *(BENCH / "project").glob("*.properties")])
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compiles the engine and the harness unless the sources are unchanged
    since the last build in this checkout; returns the runtime classpath."""
    stamp, cp_file = WORK / "build.stamp", WORK / "classpath.txt"
    want = sources_stamp()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == want:
        return cp_file.read_text().strip()
    log("building (sbt)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.exists():
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    blog = WORK / "build.log"
    rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
                     "export perfbench/Runtime/fullClasspath"], blog, 800, env=env, cwd=BENCH)
    lines = blog.read_text().splitlines()
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed; see {blog}")
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(want)
    return lines[-1].strip()


def java(classpath, main, args, logfile, cores):
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    cmd = ["java", *opens, "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={WORK / 'spark-local'}",
           f"-Dspark.sql.warehouse.dir={WORK / 'warehouse'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, main, *args]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    return run_logged(cmd, logfile, JVM_TIMEOUT_S, env=env, cwd=WORK)


def fixture(classpath, cores):
    """The registry's tables, generated once per checkout by the engine's own
    deterministic generator, in identical copies at three paths."""
    copies = [WORK / "fixture" / c for c in "abc"]
    done = WORK / "fixture" / "done"
    if not done.exists():
        shutil.rmtree(WORK / "fixture", ignore_errors=True)
        log(f"generating the sf{REGISTRY_SF} registry fixture")
        rc = java(classpath, "graft.tools.GenData", [str(copies[0]), REGISTRY_SF, "1"],
                  WORK / "gendata.log", cores)
        if rc != 0:
            fail(f"fixture generation failed; see {WORK / 'gendata.log'}")
        for c in copies[1:]:
            shutil.copytree(copies[0], c)
        done.write_text("ok\n")
    return copies


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=[*CORPORA, "registry"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or \
            not (ROOT / "build.sbt").is_file():
        fail(f"no graft sources next to {BENCH.name}/; run from a full checkout")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    cores = os.cpu_count() or 1
    if hasattr(os, "sched_getaffinity"):
        cores = len(os.sched_getaffinity(0))
    WORK.mkdir(parents=True, exist_ok=True)
    classpath = build()

    run_dir = WORK / "runs" / f"{args.workload}-s{args.seed}-t{args.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    hargs = [f"workload={args.workload}", f"seed={args.seed}",
             f"seconds={args.seconds}", f"trace={args.trace}", f"cores={cores}",
             f"work={run_dir}", f"out={run_dir / 'harness.json'}"]
    if args.workload == "registry":
        fixtures = fixture(classpath, cores)
        hargs += [f"fixture={fixtures[0]}", f"fixture2={fixtures[1]}", f"fixture3={fixtures[2]}",
                  f"queries={BENCH / 'registry_queries.txt'}"]
    else:
        tokens, vocab, zipf_s, n_lookups = CORPORA[args.workload]
        corpus = benchlib.make_corpus(args.seed, tokens, vocab, zipf_s)
        (run_dir / "input.txt").write_text(corpus.text)
        benchlib.write_counts(run_dir / "expected.tsv", corpus.counts)
        benchlib.write_counts(run_dir / "lookups.tsv",
                              benchlib.lookups(corpus, args.seed, n_lookups))
        hargs += [f"input={run_dir / 'input.txt'}", f"expected={run_dir / 'expected.tsv'}",
                  f"lookups={run_dir / 'lookups.tsv'}"]

    shutil.rmtree(WORK / "tmp", ignore_errors=True)
    rc = java(classpath, "perfbench.Harness", hargs, run_dir / "jvm.log", cores)
    if rc != 0:
        fail(f"harness exited with {rc}; see {run_dir / 'jvm.log'}")
    res = json.loads((run_dir / "harness.json").read_text())
    checks = res.get("checks", {"attempted": 0, "failed": 0, "failures": []})
    attempted, failed, failures = checks["attempted"], checks["failed"], checks["failures"]
    if args.workload == "registry":
        a2, f2 = benchlib.check_registry(res, fixtures[0], WORK / "oracle")
        attempted, failed, failures = attempted + a2, failed + len(f2), failures + f2

    report = benchlib.metrics(res, spec, bool(args.trace))
    report["context"].update(fs_type=benchlib.fs_type(run_dir), cores=cores,
                             failed_frac=failed / max(attempted, 1))
    for f in failures[:20]:
        log(f"check failed: {f}")
    log(f"checks: {attempted} attempted, {failed} failed (failed_frac "
        f"{report['context']['failed_frac']:.4g}); stores on {report['context']['fs_type']}, "
        f"{cores} cores")
    for line in report["lines"]:
        log(line)
    (run_dir / "result.json").write_text(json.dumps(
        {**report, "failures": failures, "harness": res}, indent=1))
    (run_dir / "input.txt").unlink(missing_ok=True)
    shutil.rmtree(run_dir / "stores", ignore_errors=True)
    subprocess.run(["sync", "-f", str(WORK)], check=False)
    print(json.dumps({"correct": failed == 0 and attempted > 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": report["metrics"]}))


if __name__ == "__main__":
    main()
