#!/usr/bin/env python3
"""Benchmark entry point: build, generate inputs, run one workload.

usage: python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first call builds the engine and
the harness with sbt (offline) and generates the fixed input tables; later
calls reuse both while the sources are unchanged. Everything the run writes
goes under `.perfbench/` in the checkout. The last line of standard output
is the result object; exit code 1 means an output check failed, any other
non-zero code means the benchmark could not run (nothing is printed then).
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
HEAP = "3g"


def die(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_key(paths):
    """Content hash of every file under `paths` (build inputs)."""
    h = hashlib.sha256()
    for p in paths:
        full = os.path.join(ROOT, p)
        files = [full] if os.path.isfile(full) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(full) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_logged(cmd, log, cwd, env=None, timeout=None):
    with open(log, "w") as fh:
        return subprocess.run(cmd, cwd=cwd, env=env, stdout=fh, stderr=subprocess.STDOUT,
                              timeout=timeout).returncode


def build():
    """sbt build of engine + harness; writes the harness runtime classpath."""
    key = tree_key(["build.sbt", "project/build.properties", "src/main",
                    "perfbench/build.sbt", "perfbench/project/build.properties",
                    "perfbench/src/main"])
    cp_file = os.path.join(HERE, "target", "runtime-classpath.txt")
    stamp = os.path.join(OUT, "build.key")
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == key:
        return open(cp_file).read().strip(), False
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                    os.path.join(OUT, "build.log"), HERE, env, timeout=800)
    if rc != 0 or not os.path.exists(cp_file):
        die(3, f"build failed, see {os.path.join(OUT, 'build.log')}")
    with open(stamp, "w") as fh:
        fh.write(key)
    return open(cp_file).read().strip(), True


def inputs():
    """Fixed input tables (independent of --seed), generated once."""
    data = os.path.join(OUT, "data")
    key = tree_key(["perfbench/gen_data.py", "tools/gen_scale.py"])
    stamp = os.path.join(data, "inputs.key")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return data, False
    shutil.rmtree(data, ignore_errors=True)
    os.makedirs(data)
    rc = run_logged([sys.executable, os.path.join(HERE, "gen_data.py"), ROOT, data],
                    os.path.join(OUT, "inputs.log"), ROOT, timeout=300)
    if rc != 0:
        die(3, f"input generation failed, see {os.path.join(OUT, 'inputs.log')}")
    with open(stamp, "w") as fh:
        fh.write(key)
    return data, True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()
    t0 = time.time()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    needed = [spec_path, os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src/main/scala/graft"),
              os.path.join(ROOT, "tools/gen_scale.py")]
    missing = [p for p in needed if not os.path.exists(p)]
    if missing:
        die(2, "not a source checkout; missing " + ", ".join(os.path.relpath(p, ROOT) for p in missing))
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            die(2, f"{tool} not on PATH")
    spec = json.load(open(spec_path))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        die(2, f"unknown workload {a.workload}")

    os.makedirs(OUT, exist_ok=True)
    classpath, built = build()
    data, generated = inputs()
    budget = (880 if built or generated else 175) - (time.time() - t0)

    run_dir = os.path.join(OUT, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d))
    catalog = lambda ms: ",".join(f"{m['name']}={m['unit']}" for m in ms)
    cmd = (["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dspark.local.dir={run_dir}/spark-local", "-Dspark.ui.enabled=false",
            f"-Dperfbench.endToEnd={catalog(spec['end_to_end'])}",
            f"-Dperfbench.perLayer={catalog(spec['per_layer'])}",
            "-cp", classpath, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--data", data, "--out", run_dir,
            "--expected", os.path.join(HERE, "expected", "batch_digests.txt")])
    log = os.path.join(OUT, f"jvm-{a.workload}-{a.seed}-{a.trace}.log")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=err, text=True,
                             start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, stop)
        try:
            out, _ = p.communicate(timeout=max(10.0, budget))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(4, f"run exceeded its time budget, see {log}")
    lines = out.strip().splitlines()
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        die(4, f"no result from the benchmark JVM (exit {p.returncode}), see {log}")
    want = [m["name"] for m in spec["per_layer" if a.trace == "1" else "end_to_end"]]
    if sorted(result["metrics"]) != sorted(want):
        die(4, "result metrics do not match BENCHMARK.json")
    print("\n".join(lines[:-1]))
    print(json.dumps(result))
    sys.exit(0 if p.returncode == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
