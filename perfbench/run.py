#!/usr/bin/env python3
"""graft's benchmark: build the program from source, generate the inputs
from the seed, run one workload, check every output, print the metrics.

    python3 perfbench/run.py --workload ops_interactive --seed 1 \
        --seconds 20 --trace 0

Run it from the repository root. The last line of standard output is the
result: {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer
list. The line before it stamps the configuration the numbers were taken
under. Workloads and the residue rule are declared in workloads.json; see
README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

DEADLINE_S = 170
# The tables are one fixed corpus; --seed shuffles the op order and the ask
# script, so runs on different seeds differ only in those.
DATA_SEED = 0
# Scale factor of the generated tables: about 2 MB of parquet.
SF = 0.01
BUILD_TIMEOUT_S = 840


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_inputs(root):
    """Every file the build reads: graft's build and sources, and the
    harness's own."""
    pats = ["build.sbt", "project/*.properties", "project/*.sbt",
            "project/*.scala", "src/main/**/*",
            "perfbench/build.sbt", "perfbench/project/*.properties",
            "perfbench/src/**/*"]
    files = {f for p in pats for f in glob.glob(os.path.join(root, p),
                                                 recursive=True)}
    return sorted(f for f in files if os.path.isfile(f))


def digest(files, root):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, out):
    """Compile graft and the harness with sbt, once per source state.
    Returns (classpath, graft's JVM options)."""
    launch = os.path.join(out, "perfbench", "launch.txt")
    stamp = os.path.join(out, "build.stamp")
    want = digest(build_inputs(root), root)
    if not (os.path.exists(launch) and os.path.exists(stamp)
            and open(stamp).read() == want):
        if shutil.which("sbt") is None:
            die("sbt is not on PATH")
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
                "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts.append(f"-Dsbt.repository.config={repos}")
        env = dict(os.environ, COURSIER_MODE="offline",
                   SBT_OPTS=" ".join(opts))
        os.makedirs(out, exist_ok=True)
        log = os.path.join(out, "build.log")
        with open(log, "w") as fh:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "launcher"],
                cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        if rc != 0 or not os.path.exists(launch):
            sys.stderr.write(open(log).read()[-4000:])
            die(f"build failed (sbt exit {rc})")
        with open(stamp, "w") as fh:
            fh.write(want)
    lines = open(launch).read().splitlines()
    return lines[0], lines[1:]


def corpus(out):
    """The generated tables, made once per checkout and generator
    version."""
    import gen
    tag = digest([os.path.join(HERE, "gen.py")], HERE)[:12]
    path = os.path.join(out, "data", f"sf{SF}-{tag}")
    if not os.path.isdir(path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(tmp, DATA_SEED, SF)
        os.rename(tmp, path)
    return path


def run_jvm(cmd, env, log, timeout):
    """Run the harness JVM in its own process group; kill the group and
    wait for it if it outlives `timeout`."""
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, env=env, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def oracle_verdicts(root, checks, data, check_dir, timeout):
    """Compare each op's full output with DuckDB running the op's oracle
    SQL on the same parquet, with graft's own checker (tools/check.py:
    columns sorted by name, rows in order, exact cell equality). Returns
    op -> (ok, oracle row count or None)."""
    verdicts, oracle = {}, {}
    for c in checks:
        if c["error"] or not c["oracle"]:
            why = c["error"] or "no oracle SQL"
            print(f"perfbench: {c['op']} output check failed: {why}",
                  file=sys.stderr)
            verdicts[c["op"]] = (False, None)
        else:
            oracle[c["op"]] = c["oracle"]
    if oracle:
        with open(os.path.join(check_dir, "oracle_sql.json"), "w") as fh:
            json.dump(oracle, fh)
        try:
            out = subprocess.run(
                [sys.executable, os.path.join(root, "tools", "check.py"),
                 data, check_dir] + sorted(oracle),
                capture_output=True, text=True, timeout=max(1, timeout)).stdout
        except subprocess.TimeoutExpired:
            die("the output check timed out")
        for line in out.splitlines():
            word, _, rest = line.partition(" ")
            op = rest.split(":")[0].split(" ")[0]
            if word == "PASS" and op in oracle:
                verdicts[op] = (True, int(rest.split("rows=", 1)[1].split()[0]))
            elif word == "FAIL" and op in oracle:
                print(f"perfbench: {op} output check failed: "
                      f"{rest.split(': ', 1)[-1]}", file=sys.stderr)
        for op in oracle:
            verdicts.setdefault(op, (False, None))
    return verdicts


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def git_commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description="graft's benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isfile(os.path.join(root, "src/main/scala/graft/SparkEntry.scala")) and
            os.path.isfile(os.path.join(root, "tools/check.py"))):
        die("run from the root of a graft checkout: build.sbt, "
            "src/main/scala/graft or tools/check.py is missing")
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    with open(os.path.join(HERE, "workloads.json")) as fh:
        wl = json.load(fh)["workloads"].get(a.workload)
    if wl is None:
        die(f"unknown workload {a.workload}")
    units = {m["name"]: m["unit"] for m in
             bench["per_layer" if a.trace else "end_to_end"]}

    out = os.path.join(root, ".bench_build")
    cp, jvm_opts = build(root, out)

    work = os.path.join(out, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    dirs = {k: os.path.join(work, k) for k in
            ("check", "scratch", "tmp", "local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    try:
        dirs["data"] = corpus(out)
        for sub in ("results", "traces"):
            os.makedirs(os.path.join(out, sub), exist_ok=True)
        tag = f"{a.workload}-s{a.seed}-t{a.trace}"
        result_file = os.path.join(work, "result.json")
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--data", dirs["data"], "--out", result_file,
                "--check", dirs["check"], "--scratch", dirs["scratch"],
                "--trace-out", os.path.join(out, "traces", tag + ".jsonl")]
        if wl["kind"] == "ops":
            args += ["--ops", ",".join(wl["ops"])]
        else:
            args += ["--clients", str(wl["clients"])]
        cmd = (["java"] + jvm_opts +
               ["-Xmx3g", f"-Djava.io.tmpdir={dirs['tmp']}",
                f"-Dspark.local.dir={dirs['local']}",
                f"-Dspark.sql.warehouse.dir={dirs['warehouse']}",
                "-cp", cp, "perfbench.Main"] + args)
        env = dict(os.environ, SPARK_GRAFT_SCRATCH=dirs["scratch"],
                   SPARK_LOCAL_DIRS=dirs["local"])
        load_before = loadavg()
        log = os.path.join(work, "jvm.log")
        rc = run_jvm(cmd, env, log,
                     DEADLINE_S - (time.monotonic() - t_start))
        load_after = loadavg()
        if rc != 0 or not os.path.exists(result_file):
            sys.stderr.write(open(log, errors="replace").read()[-6000:])
            die("the harness timed out" if rc is None
                else f"the harness failed (exit {rc})")
        with open(result_file) as fh:
            result = json.load(fh)
        if result["checks"]:
            verdicts = oracle_verdicts(
                root, result["checks"], dirs["data"], dirs["check"],
                DEADLINE_S - (time.monotonic() - t_start))
            metrics.mark_wrong(result["segments"], verdicts)
        summary = metrics.summary(result, a.trace, units)
        stamp = dict(result["stamp"], workload=a.workload, seed=a.seed,
                     seconds=a.seconds, traced=bool(a.trace),
                     sf=SF,
                     data=os.path.relpath(dirs["data"], root),
                     git_commit=git_commit(root),
                     source_sha256=digest(build_inputs(root), root)[:16],
                     python=platform.python_version(),
                     loadavg_before=load_before, loadavg_after=load_after)
        with open(os.path.join(out, "results", tag + ".json"), "w") as fh:
            json.dump({"stamp": stamp, "summary": summary, "raw": result}, fh)
        print(json.dumps({"stamp": stamp}))
        print(json.dumps(summary))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
