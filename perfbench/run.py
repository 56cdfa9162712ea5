#!/usr/bin/env python3
"""graft's benchmark: one closed-loop run of one workload.

    python3 perfbench/run.py --workload <pipeline|ingest> \\
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. A run builds the engine and the harness from
source (sbt, offline) when their sources differ from the last build's, and
generates the input tables when gen_data.py differs from the last run's.
Every run provisions its Iceberg fixtures into a fresh directory under
perfbench/target/runs/ and removes it when done. The JVM's last stdout line,
one JSON object with "correct", "attempted", "failed" and "metrics", is this
script's last line too. With --trace 1 the spans are
written to perfbench/target/traces/.
"""
import argparse
import fcntl
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "perfbench.classpath")
KEY_FILE = os.path.join(TARGET, "perfbench.sources")
DATA_DIR = os.path.join(TARGET, "data")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# what a build reads: a change to any of these files rebuilds
BUILD_INPUTS = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                os.path.join(HERE, "build.sbt"),
                os.path.join(HERE, "project", "build.properties")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("cannot find Spark's jars: set SPARK_HOME")
    return home


def build_env():
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += (" -Dsbt.override.build.repos=true"
                     f" -Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = opts.strip()
    return env


def sources_key():
    """SHA-256 over the path and bytes of every build input file."""
    files = []
    for top in BUILD_INPUTS:
        if os.path.isfile(top):
            files.append(top)
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    h = hashlib.sha256()
    for path in sorted(files):
        h.update(os.path.relpath(path, ROOT).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness unless the classpath on record was built
    from these exact sources; remember the classpath and the sources' key."""
    key = sources_key()
    if os.path.isfile(CLASSPATH_FILE) and os.path.isfile(KEY_FILE):
        with open(KEY_FILE) as f:
            if f.read().strip() == key:
                return
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found")
    print("perfbench: building (sources changed)", file=sys.stderr)
    proc = subprocess.run(
        [sbt, "--batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=build_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (exit {proc.returncode})")
    cp = lines[-1].strip()
    if not os.path.isdir(cp.split(os.pathsep)[0]):
        sys.stderr.write(proc.stdout[-4000:])
        fail("build printed no classpath")
    with open(CLASSPATH_FILE + ".tmp", "w") as f:
        f.write(cp)
    os.replace(CLASSPATH_FILE + ".tmp", CLASSPATH_FILE)
    with open(KEY_FILE, "w") as f:
        f.write(key)


def generate_data():
    """Generate the input tables unless they came from this gen_data.py."""
    script = os.path.join(HERE, "gen_data.py")
    with open(script, "rb") as f:
        key = hashlib.sha256(f.read()).hexdigest()
    done = os.path.join(DATA_DIR, ".complete")
    if os.path.isfile(done):
        with open(done) as f:
            if f.read().strip() == key:
                return
    shutil.rmtree(DATA_DIR, ignore_errors=True)
    subprocess.run([sys.executable, script, DATA_DIR], check=True, timeout=120)
    with open(done, "w") as f:
        f.write(key)


def run_jvm(args, work):
    java = shutil.which("java")
    if os.environ.get("JAVA_HOME"):
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java")
    if not java:
        fail("java not found")
    with open(CLASSPATH_FILE) as f:
        cp = f.read().strip()
    os.makedirs(os.path.join(work, "tmp"))
    traces = os.path.join(TARGET, "traces")
    os.makedirs(traces, exist_ok=True)
    cmd = [java]
    with open(os.path.join(HERE, "jvm-opens.txt")) as f:
        for p in f.read().split():
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Duser.timezone=UTC", "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", DATA_DIR, "--work", work,
            "--expected", os.path.join(HERE, "expected.json"),
            "--trace-out", os.path.join(
                traces, f"trace-{args.workload}-{args.seed}.json")]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["pipeline", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to "
             "perfbench/; run from a full checkout")
    os.makedirs(TARGET, exist_ok=True)
    with open(os.path.join(TARGET, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        build()
        generate_data()
        work = os.path.join(TARGET, "runs",
                            f"run-{os.getpid()}-{int(time.time() * 1000)}")
        try:
            code, out = run_jvm(args, work)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    if code != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(out[-4000:])
        fail(f"harness exited {code} without a result")
    sys.stdout.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
