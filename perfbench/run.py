#!/usr/bin/env python3
"""Run one benchmark workload from the root of a checkout.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --pin OUTDIR

The first run builds the library and the benchmark from source with sbt
(outputs under .bench_build/); later runs reuse the build while the sources
are unchanged. The run itself is one JVM on local[nproc]. Its stdout lines
are passed through; the last line printed is the result JSON. Exits nonzero
when the build fails, the run fails, or an output check fails.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("skew_hot", "skew_uniform", "pipeline_sf01")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "2g"
YOUNG = "768m"


def add_opens():
    """The packages Spark reaches into, as the build's tests open them."""
    with open(os.path.join(HERE, "jvm-opens.txt")) as f:
        return [x for p in f.read().split() for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def run_seconds():
    """BENCHMARK.json's run_seconds, so a bare run measures like a gated one."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)["run_seconds"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads from the checkout, sorted."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def digest(files, content):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        if content:
            with open(f, "rb") as fh:
                h.update(fh.read())
        else:
            st = os.stat(f)
            h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"timed out after {timeout} s: {' '.join(cmd[:3])} ...")
    return p.returncode, out


def classpath():
    """Builds when the sources changed since the last build; returns the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no library sources (src/main/scala/graft) in this checkout")
    files = source_files()
    stamp = digest(files, content=False)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    rc, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True)
    if rc != 0:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (exit {rc})")
    cps = [l.strip() for l in out.splitlines()
           if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if not cps:
        sys.stderr.write(out[-4000:])
        fail("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"build {time.time() - t0:.1f} s", file=sys.stderr)
    return cps[-1]


def source_sha():
    """The commit when the checkout is a git repository, else a digest of
    the sources the build reads."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0 and r.stdout.strip():
            return r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "src-" + digest(source_files(), content=True)[:16]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, help="default: BENCHMARK.json's run_seconds")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", metavar="OUTDIR",
                    help="write pipeline outputs + oracle SQL there and print fingerprints")
    a = ap.parse_args()
    if not a.pin and not a.workload:
        ap.error("--workload is required")
    if a.seconds is None and not a.pin:
        a.seconds = run_seconds()
    t0 = time.time()
    cp = classpath()
    tmp = os.path.join(BUILD, "tmp")
    for d in (tmp, os.path.join(BUILD, "spark-local")):
        subprocess.run(["rm", "-rf", d])
        os.makedirs(d)
    data = os.path.join(HERE, "data", "sf0.1")
    # a fixed heap and young generation, touched at start, keep peak RSS from
    # following the collector's sizing decisions and keep first-touch page
    # faults out of the timed passes
    jvm = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+UseParallelGC",
           "-XX:+AlwaysPreTouch"] + add_opens()
    jvm += [f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(BUILD, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}",
            "-cp", cp, "perfbench.Main", "--data", data]
    if a.pin:
        jvm += ["--pin", os.path.abspath(a.pin)]
    else:
        jvm += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--sha", source_sha()]
        if a.trace:
            jvm += ["--trace-out",
                    os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl")]
    # the run keeps the time a build used: the first run may take longer
    spent = time.time() - t0
    budget = RUN_TIMEOUT_S if a.pin or spent > 60 else RUN_TIMEOUT_S - spent
    rc, out = run_bounded(jvm, budget, cwd=ROOT, stdout=subprocess.PIPE,
                          stdin=subprocess.DEVNULL, text=True)
    if a.pin:
        print(out, end="")
        sys.exit(rc)
    result = None
    for line in out.splitlines():
        if line.startswith("RESULT "):
            result = line[len("RESULT "):]
        else:
            print(line)
    if result is None:
        fail(f"the run printed no result (exit {rc})")
    print(result, flush=True)
    sys.exit(0 if rc == 0 else 1)


if __name__ == "__main__":
    main()
