#!/usr/bin/env python3
"""Benchmark runner for graft: builds the engine and the rig from source,
runs one workload and prints one JSON result line as the last line of stdout.

    python3 perfbench/run.py --workload backlog_drain --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. Everything it writes lands under
`.perfbench/` in that checkout (build classpaths, per-run WAL, checkpoints,
run records, spans); per-run directories are deleted when the run ends.
See perfbench/README.md for the workloads and metrics.
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
import tempfile
import time

ROOT = os.getcwd()
BENCH_DIR = os.path.join(ROOT, "perfbench")
STATE = os.path.join(ROOT, ".perfbench")
BUILD = os.path.join(STATE, "build")
WORKLOADS = ("backlog_drain", "live_stream", "query_suite")

# the JDK 17 module opens Spark 4 needs outside spark-submit (the same list
# the engine's build.sbt passes to its forked runs); the rig forwards them to
# the graft.Main child
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of every input of the two builds; a match skips the build."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
             "perfbench/project", "perfbench/src"]
    for r in roots:
        p = os.path.join(ROOT, r)
        files = []
        if os.path.isfile(p):
            files = [p]
        elif os.path.isdir(p):
            for d, dirs, fs in os.walk(p):
                dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
                files += [os.path.join(d, f) for f in fs
                          if f.endswith((".scala", ".sbt", ".properties", ".java"))]
        for f in sorted(files):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    digest = source_digest()
    stamp = os.path.join(BUILD, "digest")
    if os.path.exists(stamp) and open(stamp).read() == digest and \
            os.path.exists(os.path.join(BUILD, "rig.cp")):
        return digest
    log("building engine and rig (sbt, offline)")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" +
                       os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Xmx2g")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "sbt.log"), "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "writeClasspaths"],
                             cwd=BENCH_DIR, env=env, stdout=out,
                             stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0:
        with open(os.path.join(BUILD, "sbt.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"build failed (sbt exit {rc})")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return digest


def pg_can_traverse(path):
    """Postgres refuses to run as root, so the harness runs it as another
    user; its data directory must be reachable by that user."""
    if os.geteuid() != 0:
        return True
    for user in ("postgres", "nobody"):
        if subprocess.call(["id", "-u", user], stdout=subprocess.DEVNULL,
                           stderr=subprocess.DEVNULL) == 0:
            return subprocess.call(
                ["su", user, "-s", "/bin/sh", "-c", f"test -x '{path}'"],
                stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL) == 0
    return False


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--expect-wrong", action="store_true",
                    help="corrupt one expected delivery (checks the checks)")
    args = ap.parse_args()

    digest = build()
    run_dir = tempfile.mkdtemp(
        prefix=f"{args.workload}-{args.seed}-", dir=os.path.join(STATE))
    tmp_dir = os.path.join(run_dir, "tmp")
    os.makedirs(tmp_dir)
    # the live workload's Postgres data dir is created under java.io.tmpdir;
    # if the postgres user cannot reach the checkout it falls back to a
    # private system temp dir, removed below like every other run dir
    pg_tmp = tmp_dir
    outside = None
    if args.workload == "live_stream" and not pg_can_traverse(tmp_dir):
        outside = tempfile.mkdtemp(prefix="perfbench-pg-")
        os.chmod(outside, 0o755)
        pg_tmp = outside
    result_path = os.path.join(run_dir, "result.json")
    cp = open(os.path.join(BUILD, "rig.cp")).read().strip()
    engine_cp = open(os.path.join(BUILD, "engine.cp")).read().strip()
    java = shutil.which("java") or "java"
    heap = "3g" if args.trace else "2g" if args.workload == "query_suite" else "1g"
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    layer_metrics = ",".join(f"{m['name']}:{m['unit']}" for m in spec["per_layer"])
    cmd = [java] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{heap}", f"-Djava.io.tmpdir={pg_tmp}",
        "-cp", cp, "perfbench.Rig",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--run-dir", run_dir, "--result", result_path,
        "--engine-cp", engine_cp, "--source-digest", digest,
        "--records", os.path.join(STATE, "records"),
        "--expect-wrong", "1" if args.expect_wrong else "0",
        "--bench-dir", BENCH_DIR, "--layer-metrics", layer_metrics,
    ]
    # the rig and its children get no GRAFT_* switch from the caller
    env = {k: v for k, v in os.environ.items() if not k.startswith("GRAFT_")}
    cmd += ["--launched-ms", str(int(time.time() * 1000))]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stdin=subprocess.DEVNULL,
                            env=env, start_new_session=True)

    def stop(*_):
        # the rig reaps its own children from a shutdown hook; SIGTERM lets
        # that hook run, SIGKILL after a grace period is the backstop
        if proc.poll() is None:
            proc.send_signal(signal.SIGTERM)
            try:
                proc.wait(30)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
        # a rig killed before its hooks ran leaves Postgres running: the
        # postmaster lives in its own session, so stop it by its pid file
        for pid_file in glob.glob(os.path.join(pg_tmp, "*", "data", "postmaster.pid")):
            try:
                with open(pid_file) as fh:
                    os.kill(int(fh.readline()), signal.SIGQUIT)
            except (OSError, ValueError):
                pass
    signal.signal(signal.SIGTERM, lambda *a: (stop(), sys.exit(143)))
    result = None
    try:
        # set-up and checks take up to ~2 min; live_stream replays a warm-in
        # plus --seconds of traffic
        rc = proc.wait(120 + 3 * args.seconds)
        if rc == 0:
            with open(result_path) as fh:
                result = json.load(fh)
    except subprocess.TimeoutExpired:
        log("rig exceeded its time limit")
        rc = 124
    finally:
        stop()
        shutil.rmtree(run_dir, ignore_errors=True)
        if outside:
            shutil.rmtree(outside, ignore_errors=True)
    if rc != 0 or result is None:
        raise SystemExit(f"rig failed (exit {rc})")
    # the result must carry exactly the metrics BENCHMARK.json declares
    want = {m["name"]: m["unit"]
            for m in spec["per_layer" if args.trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        raise SystemExit(f"metrics differ from BENCHMARK.json: "
                         f"missing {sorted(set(want) - set(got))}, "
                         f"extra {sorted(set(got) - set(want))}, units "
                         f"{sorted(k for k in want if k in got and got[k] != want[k])}")
    print(json.dumps(result))

if __name__ == "__main__":
    main()
