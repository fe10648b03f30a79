#!/usr/bin/env python3
"""The repo benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload suite|serve --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
harness (sbt, offline) into `target/` directories; later runs reuse the build
while the sources are unchanged. The inputs are the repo's seed-42 sf0.1 and
sf0.01 fixtures, copied byte for byte into perfbench/fixtures/ and checked
against perfbench/fixtures/SHA256SUMS on every run.
Each run drives the program for --seconds, checks its outputs outside the
timed region, prints box facts and checks as text, and prints one JSON
object as its last line: the end-to-end metrics untraced (--trace 0), the
per-layer metrics traced (--trace 1).
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

import benchlib
import metrics

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
FIXTURES = HERE / "fixtures"
RUN_LIMIT_S = 170
XMX = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


# ------------------------------------------------------------------ box

def cgroup_cpu_max():
    """The cgroup CPU quota as "<quota|max> <period>" (cgroup v2 cpu.max, or
    the v1 cfs pair in the same form)."""
    cg = Path("/sys/fs/cgroup")
    try:
        return (cg / "cpu.max").read_text().strip()
    except OSError:
        pass
    try:
        q = (cg / "cpu" / "cpu.cfs_quota_us").read_text().strip()
        p = (cg / "cpu" / "cpu.cfs_period_us").read_text().strip()
        return f"{'max' if q == '-1' else q} {p}"
    except OSError:
        return "unavailable"


def effective_cpus():
    """Available processors, capped by a cgroup CPU quota if there is one."""
    n = len(os.sched_getaffinity(0))
    quota = cgroup_cpu_max().split()
    if len(quota) == 2 and quota[0] != "max":
        n = min(n, max(1, int(int(quota[0]) / int(quota[1]))))
    return n


# ---------------------------------------------------------------- build

def _stamp():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in [ROOT / "project", HERE / "project"]:
        files += sorted(d.glob("*.sbt")) + sorted(d.glob("*.properties"))
    for d in [ROOT / "src" / "main", HERE / "src"]:
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for f in files:
        if f.exists():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build(deadline):
    """Compile the program (through its own build.sbt) and the harness;
    return the runtime classpath. Skipped while the sources are unchanged."""
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "build.stamp"
    stamp = _stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    tmp = BUILD / "tmp"  # sbt's socket and scratch files stay in the checkout
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true "
        "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories") +
        f" -Dsbt.offline=true -Xmx2g -Djava.io.tmpdir={tmp}"))
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export perfbench/Runtime/fullClasspath"]
    with open(BUILD / "build.log", "w") as out:
        rc = run_bounded(cmd, HERE, env, out, out, deadline)
    lines = (BUILD / "build.log").read_text().strip().splitlines()
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed (exit {rc}); see {BUILD / 'build.log'}")
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    return lines[-1].strip()


def fixture(d):
    """Reads every byte of fixture directory d once, so the first timed read
    is not cold, and checks each file against the manifest. Returns (d,
    bytes read)."""
    try:
        lines = (FIXTURES / "SHA256SUMS").read_text().splitlines()
    except OSError as e:
        fail(f"no fixture manifest: {e}")
    sums = {}
    for line in lines:
        digest, rel = line.split(maxsplit=1)
        if rel.startswith(d.name + "/"):
            sums[rel] = digest
    if not sums:
        fail(f"no files for fixture {d.name} in the manifest")
    total = 0
    for rel, digest in sorted(sums.items()):
        h = hashlib.sha256()
        try:
            with open(FIXTURES / rel, "rb") as fh:
                while chunk := fh.read(1 << 20):
                    h.update(chunk)
                    total += len(chunk)
        except OSError as e:
            fail(f"fixture file missing: {e}")
        if h.hexdigest() != digest:
            fail(f"fixture file {rel} does not match its checksum")
    return d, total


# ------------------------------------------------------------------ run

def run_bounded(cmd, cwd, env, stdout, stderr, deadline):
    """Run cmd in its own process group; kill the group at the deadline.
    Always waits for the process to end."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded the run's time limit and was stopped")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def run_jvm(classpath, mode, data, scale_data, work, inputs, seconds, trace, cpus,
            deadline):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # no hsperfdata file in /tmp: the run writes only inside its checkout
    cmd += [f"-Xmx{XMX}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
            "-Duser.timezone=UTC", "-Duser.language=en", "-Duser.country=US",
            "-cp", classpath, "graft.perfbench.Harness",
            "--mode", mode, "--data", str(data), "--scale-data", str(scale_data),
            "--work", str(work),
            "--inputs", str(inputs), "--seconds", str(seconds),
            "--trace", str(trace), "--cpus", str(cpus)]
    with open(work / "jvm.out", "w") as out, open(work / "jvm.err", "w") as err:
        rc = run_bounded(cmd, ROOT, dict(os.environ), out, err, deadline)
    if rc != 0:
        tail = (work / "jvm.err").read_text().strip().splitlines()[-15:]
        fail(f"harness exited {rc}:\n" + "\n".join(tail))
    return json.loads((work / "result.json").read_text())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["suite", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program sources next to {HERE.name}/ (expected build.sbt and src/main/scala)")

    t_start = time.time()
    classpath = build(t_start + 880)
    # suite: queries over sf0.1, the x300 scale rows over sf0.01's 500
    # documents (150,000 per row); serve: every table at sf0.01
    data = FIXTURES / ("sf0.1" if a.workload == "suite" else "sf0.01")
    scale_data = FIXTURES / "sf0.01"
    fixtures = dict(fixture(d) for d in {data, scale_data})
    deadline = time.time() + RUN_LIMIT_S

    cpus = effective_cpus()
    clients = min(4, cpus)
    work = BUILD / "runs" / f"{a.workload}-{a.seed}-{a.trace}"
    if work.exists():
        subprocess.run(["rm", "-rf", str(work)], check=True)
    work.mkdir(parents=True)

    inputs = benchlib.make_inputs(a.workload, a.seed, clients)
    if a.workload == "serve":
        inputs["query_path"] = str(data / "orders.parquet")
        inputs["write_path"] = str(data / "orders.parquet")
    (work / "inputs.json").write_text(json.dumps(inputs))

    t_jvm = time.time()
    res = run_jvm(classpath, a.workload, data, scale_data, work, work / "inputs.json",
                  a.seconds, a.trace, cpus, deadline)
    log(f"perfbench: prepare {t_jvm - t_start:.1f} s, harness {time.time() - t_jvm:.1f} s "
        f"(set-up {res['setup_s']:.1f} s, timed {res['timed_s']:.1f} s)")
    res["box"].update({"nproc": len(os.sched_getaffinity(0)),
                       "cgroup_cpu_max": cgroup_cpu_max(), "spark_cores": cpus,
                       "fixtures": sorted(str(d.relative_to(ROOT)) for d in fixtures),
                       "fixture_bytes": sum(fixtures.values())})
    print("box: " + json.dumps(res["box"], sort_keys=True))

    checks = metrics.check(a.workload, res, data)
    for line in checks["report"]:
        print(line)
    e2e, e2e_report = metrics.end_to_end(a.workload, res)
    for line in e2e_report:
        print(line)
    if a.trace:
        layer, report = metrics.per_layer(a.workload, res, cpus)
        for line in report:
            print(line)
        base = BUILD / "results" / f"{a.workload}-{a.seed}-0.json"
        if base.exists():
            untraced = json.loads(base.read_text())
            for k, v in e2e.items():
                u = untraced.get(k)
                if u:
                    print(f"tracing overhead {k}: traced {v['value']:.4f} - untraced "
                          f"{u['value']:.4f} = {v['value'] - u['value']:+.4f} {v['unit']} "
                          f"({(v['value'] - u['value']) / u['value']:+.1%})")
        else:
            print("tracing overhead: no untraced run of this workload and seed "
                  "in this checkout to compare with")
        out_metrics = layer
    else:
        (BUILD / "results").mkdir(exist_ok=True)
        (BUILD / "results" / f"{a.workload}-{a.seed}-0.json").write_text(json.dumps(e2e))
        for k, v in e2e.items():
            print(f"{k}: {v['value']:.4f} {v['unit']}")
        out_metrics = e2e

    print(json.dumps({"correct": checks["correct"], "attempted": checks["attempted"],
                      "failed": checks["failed"], "metrics": out_metrics}))


if __name__ == "__main__":
    main()
