#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line of
standard output.

usage: python3 perfbench/run.py --workload <cdr_stream|cdr_stream_stateful>
           --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the harness and
the program from source with sbt (the build is reused while no source file
changes); every run then starts one JVM on local[4]. Build outputs and
run scratch go under `.bench_build/` in the checkout; the spans of a traced
run are kept in `.bench_build/traces/`.

The stream fixtures are `$SPARK_GRAFT_SF_DIR`, by default `~/testdata/sf0.1`;
the library layers of a traced `cdr_stream_stateful` run read
`$PERFBENCH_LIBRARY_SF_DIR`, by default `~/testdata/sf0.01`, and their answers
are compared with the registry's DuckDB oracles after the JVM exits.
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
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = ("cdr_stream", "cdr_stream_stateful")
# the JVM's share of the 180 s a run may take; the oracle compare follows
JVM_TIMEOUT_S = 160
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".sbt", ".properties", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the harness and the program; return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no program sources here ({need} missing): run from a checkout of the repo")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cp = [l for l in p.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if not cp:
        fail("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 2:
        fail("--seconds must be at least 2 (one second per phase)")

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))
    lib_sf = os.environ.get("PERFBENCH_LIBRARY_SF_DIR", os.path.expanduser("~/testdata/sf0.01"))
    for d, table in ((sf, "events"), (lib_sf, "documents")):
        if not os.path.exists(os.path.join(d, f"{table}.parquet")):
            fail(f"no fixtures at {d}")
    cp = build()

    work = os.path.join(BUILD, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "record.json")
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--sf", sf, "--library-sf", lib_sf,
        "--work", work, "--out", out]
    try:
        p = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                             stdout=sys.stderr, stderr=sys.stderr)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded {JVM_TIMEOUT_S} s")
        if rc != 0 or not os.path.exists(out):
            fail(f"harness exited with {rc}")
        with open(out) as f:
            rec = json.load(f)
        if "library" in rec:
            import oracle
            lib = rec["library"]
            t0 = time.time()
            lib["oracle"] = oracle.check(lib["sf"], lib["answers"], lib["oracle_sql"],
                                         os.path.join(BUILD, "oracle"))
            print(f"perfbench: oracle compare {time.time() - t0:.1f} s", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res, notes = metrics.result(rec, a.trace == 1)
    for pr in notes["problems"]:
        print(f"perfbench: {pr}", file=sys.stderr)
    print(f"perfbench: setup {json.dumps(rec['setup'])}", file=sys.stderr)
    print(f"perfbench: {notes['latency_samples']} latency samples, "
          f"{notes['latency_p95_beyond']} beyond p95; check {rec['check']}", file=sys.stderr)
    if a.trace:
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        with open(os.path.join(BUILD, "traces", f"{a.workload}-{a.seed}.json"), "w") as f:
            json.dump({"spans": rec["spans"], "setup": rec["setup"], "batches": rec["batches"],
                       "library_ops": rec.get("library", {}).get("ops", [])}, f)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
