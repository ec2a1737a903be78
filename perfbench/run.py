#!/usr/bin/env python3
"""graft benchmark: import, rebuild and curate through their CLI entry points.

Usage (from the root of a source checkout):

    python3 perfbench/run.py --workload import_kb|curate \
        --seed N --seconds S --trace 0|1

Builds the program and the benchmark from source with sbt (once per
source state: perfbench/ is an sbt project that depends on the root
build; the JVM's classpath and options are cached under .bench_build/),
then runs one benchmark JVM (perfbench.Main) on a
local[nproc] Spark session. Prints the metrics by name and unit, and
as its last line one JSON object: correct, attempted, failed, metrics.
With --trace 1 the metrics are the per-layer ones and the span trace is
written to .bench_build/traces/. Everything is written inside the
checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("import_kb", "curate")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(p for p in d.glob("*")
                        if p.is_file() and p.suffix in (".sbt", ".scala",
                                                        ".properties"))
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def launch():
    """Compiles with sbt unless the build inputs are unchanged since the
    last build in this checkout; returns the benchmark JVM's classpath
    and options (the root build's, see perfbench/build.sbt)."""
    digest = hashlib.sha256()
    for p in build_inputs():
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp = digest.hexdigest()
    launch_file, stamp_file = BUILD / "launch.txt", BUILD / "launch.stamp"
    if not (launch_file.exists() and stamp_file.exists()
            and stamp_file.read_text() == stamp):
        if shutil.which("sbt") is None:
            fail("sbt is not on PATH", 3)
        BUILD.mkdir(exist_ok=True)
        log = BUILD / "build.log"
        built = HERE / "target" / "launch.txt"
        built.unlink(missing_ok=True)
        with log.open("w") as f:
            rc = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "launch"],
                cwd=HERE, stdout=f, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        if rc != 0 or not built.exists():
            fail(f"build failed (exit {rc}), see {log}", 3)
        shutil.copyfile(built, launch_file)
        stamp_file.write_text(stamp)
    cp, *opts = launch_file.read_text().splitlines()
    return cp, opts


def run_jvm(cmd, log):
    """Runs the benchmark JVM in its own process group; on timeout the
    whole group (the JVM and the oracle it may have started) is killed."""
    with log.open("w") as f:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=f, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True,
                             env=dict(os.environ, LC_ALL="C.UTF-8",
                                      LANG="C.UTF-8"))
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no program sources under {ROOT / 'src/main/scala/graft'}", 2)
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" \
        if "JAVA_HOME" in os.environ else shutil.which("java")
    if java is None or not Path(java).exists():
        fail("no java (set JAVA_HOME or put java on PATH)", 2)
    cp, opts = launch()

    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = BUILD / "runs" / f"{name}-{os.getpid()}"
    for d in ("logs", "records", "traces"):
        (BUILD / d).mkdir(parents=True, exist_ok=True)
    (work / "tmp").mkdir(parents=True)
    result = work / "result.json"
    log = BUILD / "logs" / f"{name}.log"
    cores = len(os.sched_getaffinity(0))
    cmd = [str(java), "-Xmx2g", *opts, f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", cp, "perfbench.Main",
           f"--workload={a.workload}", f"--seed={a.seed}",
           f"--seconds={a.seconds}", f"--trace={a.trace}", f"--cores={cores}",
           f"--work={work}", f"--result={result}",
           f"--trace-file={BUILD / 'traces' / (name + '.json')}",
           f"--python={sys.executable}", f"--oracle={HERE / 'oracle.py'}"]
    rc = run_jvm(cmd, log)
    try:
        if rc != 0 or not result.exists():
            tail = log.read_text(errors="replace").splitlines()[-40:]
            print("\n".join(tail), file=sys.stderr)
            fail(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'}"
                 f"; log: {log}", 1)
        res = json.loads(result.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    (BUILD / "records" / f"{name}.json").write_text(json.dumps(res, indent=1))
    rec = res.pop("record")
    print(f"workload {a.workload}  seed {a.seed}  cores {cores}  "
          f"trace {a.trace}")
    for k, m in sorted(res["metrics"].items()):
        print(f"  {k:28s} {m['value']:.6g} {m['unit']}")
    if "peak_rss_mb" in rec:
        print(f"  {'peak_rss_mb':28s} {rec['peak_rss_mb']:.6g} MB (unbounded)")
    print(f"  {'failed_share':28s} {res['failed'] / res['attempted']:.6g} "
          f"({res['failed']}/{res['attempted']})")
    if "run_s_samples" in rec:
        print(f"  run_s is the median of {len(rec['run_s_samples'])} calls")
    print("record " + json.dumps(rec, sort_keys=True))
    print(json.dumps({k: res[k] for k in
                      ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
