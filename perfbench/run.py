"""Run one graft benchmark workload and print its result.

    python3 perfbench/run.py --workload tsdb_rpc --seed 1 --seconds 15 --trace 0

Builds the library and the benchmark (perfbench/build.py), then runs the
workload in one JVM with Spark at local[nproc]. Every SPARK_GRAFT_*
variable is recorded in the provenance line and removed from the JVM's
environment, so stray campaign knobs cannot change what is measured. All
files of the run live in a fresh directory under the build directory that
is deleted at exit, on failure too.

The last line of standard output is the JSON result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
The exit code is non-zero when the build fails, an output check fails or
the run does not finish.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("suite_sf01", "tsdb_rpc")
HEAP = "3g"
TIMEOUT_S = 170


def git_state():
    try:
        head = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True, timeout=10)
        if head.returncode != 0:
            return None, None
        dirty = subprocess.run(["git", "-C", build.ROOT, "status", "--porcelain"],
                               capture_output=True, text=True, timeout=10)
        return head.stdout.strip(), bool(dirty.stdout.strip())
    except (OSError, subprocess.TimeoutExpired):
        return None, None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-golden", action="store_true",
                    help="suite_sf01 only: record row counts and hashes as the golden file")
    a = ap.parse_args()

    out_dir, cp = build.build()
    cpus = len(os.sched_getaffinity(0))
    knobs = {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")}
    head, dirty = git_state()
    prov = {"git_head": head, "git_dirty": dirty, "nproc": cpus, "heap": HEAP,
            "loadavg_start": os.getloadavg(), "timestamp": time.strftime(
                "%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "spark_graft_env": knobs}

    os.makedirs(build.build_dir(), exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="run-", dir=build.build_dir())
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    result_file = os.path.join(scratch, "result.json")
    # the traced run's spans outlive the run's scratch directory
    spans_file = os.path.join(build.build_dir(), "spans-%s-seed%d.jsonl" % (a.workload, a.seed))
    # class data sharing: the first run of a build archives the classes it
    # loaded (published only after a clean exit), later runs map them
    # instead of loading them from the jars
    jsa = os.path.join(out_dir, "classes.jsa")
    jsa_tmp = "%s.%d.tmp" % (jsa, os.getpid())
    cds = ("-XX:SharedArchiveFile=" + jsa) if os.path.isfile(jsa) else ("-XX:ArchiveClassesAtExit=" + jsa_tmp)
    cmd = ["java", "-Xmx" + HEAP, "-Xss8m", cds, "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
           "-Djava.io.tmpdir=" + os.path.join(scratch, "tmp"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dlog4j2.level=ERROR"]
    for p in ("java.base/java.lang", "java.base/java.lang.invoke",
              "java.base/java.lang.reflect", "java.base/java.io",
              "java.base/java.net", "java.base/java.nio", "java.base/java.util",
              "java.base/java.util.concurrent",
              "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
              "java.base/sun.nio.cs", "java.base/sun.security.action",
              "java.base/sun.util.calendar"):
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cpus", str(cpus), "--scratch", scratch,
            "--golden", os.path.join(build.ROOT, "perfbench", "golden"),
            "--result", result_file, "--spans", spans_file]
    if a.write_golden:
        cmd.append("--write-golden")
    os.makedirs(os.path.join(scratch, "tmp"))
    proc = None
    try:
        proc = subprocess.Popen(cmd, env=env, cwd=scratch, stdout=subprocess.PIPE,
                                stderr=subprocess.PIPE, text=True,
                                start_new_session=True)
        try:
            out, err = proc.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            out, err = proc.communicate()
            sys.stderr.write(err[-4000:])
            raise SystemExit("run: workload did not finish in %d s" % TIMEOUT_S)
        if proc.returncode == 0 and os.path.isfile(jsa_tmp):
            os.replace(jsa_tmp, jsa)
        sys.stdout.write(out)
        sys.stderr.write("".join(l + "\n" for l in err.splitlines()
                                 if l.startswith(("[check]", "[op]"))))
        if proc.returncode == 0 and a.write_golden:
            print("golden file written to perfbench/golden")
            return
        if proc.returncode != 0 or not os.path.isfile(result_file):
            sys.stderr.write(err[-8000:])
            raise SystemExit("run: workload failed (exit %d)" % proc.returncode)
        with open(result_file) as f:
            result = json.load(f)
        prov["loadavg_end"] = os.getloadavg()
        print("provenance " + json.dumps(prov, sort_keys=True))
        print(json.dumps(result))
        if not result["correct"]:
            raise SystemExit(1)
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
        if os.path.exists(jsa_tmp):
            os.remove(jsa_tmp)


if __name__ == "__main__":
    main()
