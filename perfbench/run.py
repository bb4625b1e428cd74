#!/usr/bin/env python3
"""Benchmark entry point. Run it from the root of a checkout:

    python3 perfbench/run.py --workload tax_batch --seed 1 --seconds 15 --trace 0

It builds the program and the harness from source with sbt (once per
source state; the build is reused while the sources are unchanged), starts
the harness JVM on one workload, and relays its output. The last line of
stdout is the result JSON. Inputs, exports, Spark temporary files and stream
checkpoints live in a directory under .bench_build/ that is removed when the
run ends. Any failure exits non-zero without printing a result.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("tax_batch", "catalog_heavy")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    """Every file the build reads: the program's and the harness's sources
    and build definitions."""
    files = []
    for top in ("build.sbt", "project", "src/main",
                "perfbench/build.sbt", "perfbench/project", "perfbench/src/main"):
        path = os.path.join(root, top)
        if os.path.isfile(path):
            files.append(path)
        for d, dirs, names in os.walk(path):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files.extend(os.path.join(d, n) for n in sorted(names)
                         if n.endswith((".scala", ".java", ".sbt", ".properties")))
    return files


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, build_dir):
    """Compiles with sbt unless the last build saw the same sources, and
    returns the harness classpath and JVM options."""
    stamp = os.path.join(build_dir, "build.stamp")
    launch = os.path.join(root, "perfbench", "target", "launch.txt")
    want = digest(source_files(root))
    if os.path.exists(stamp) and os.path.exists(launch):
        with open(stamp) as fh:
            if fh.read().strip() == want:
                return read_launch(launch)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx4g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    try:
        proc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "launcher"],
                              cwd=os.path.join(root, "perfbench"), env=env,
                              stdout=sys.stderr, stderr=sys.stderr,
                              timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if proc.returncode != 0 or not os.path.exists(launch):
        fail(f"build failed (sbt exit {proc.returncode})")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(stamp, "w") as fh:
        fh.write(want + "\n")
    return read_launch(launch)


def read_launch(path):
    with open(path) as fh:
        lines = [l.rstrip("\n") for l in fh if l.strip()]
    return lines[0], lines[1:]


def heap():
    """Physical memory / 2, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return f"{min(max(g, 2), 8)}g"
    except OSError:
        pass
    return "2g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    start = time.time()
    root = os.getcwd()
    for need in ("BENCHMARK.json", "build.sbt", "src/main", "perfbench/build.sbt",
                 "perfbench/data/sf0.01"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} is missing: run from the root of a full checkout")
    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classpath, jvm_opts = build(root, build_dir)

    work = os.path.join(build_dir, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    tmp = os.path.join(work, "tmp")
    ckpt = os.path.join(work, "checkpoints")
    for d in (tmp, ckpt):
        os.makedirs(d)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["SPARK_GRAFT_REPLAY_CKPT_DIR"] = ckpt
    cmd = (["java", f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}"] + jvm_opts +
           ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--repo", root, "--data", os.path.join(root, "perfbench", "data", "sf0.01"),
            "--work", work])
    if args.trace:
        cmd += ["--spans", os.path.join(build_dir, f"spans-{args.workload}-{args.seed}.jsonl")]
    build_s = time.time() - start
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=sys.stderr)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"stopped by signal {signum}")

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=max(30.0, RUN_TIMEOUT_S - min(build_s, 60.0)))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail("run timed out")
    shutil.rmtree(work, ignore_errors=True)
    lines = out.decode("utf-8", "replace").splitlines()
    if proc.returncode != 0 or not lines:
        fail(f"harness exited with {proc.returncode}", 1)
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail("harness printed no result", 1)
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    if (set(result) != {"correct", "attempted", "failed", "metrics"}
            or set(result["metrics"]) != want
            or not all(isinstance(m.get("value"), (int, float)) for m in result["metrics"].values())):
        fail("the result does not have the metrics BENCHMARK.json declares", 1)
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
