"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload tstr_eval|curate|operator_mix \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the program from source on first
use (perfbench/build.py), then runs one JVM over the tables in
perfbench/data/sf0.1. Every file it writes is under .bench_build/ in the
checkout. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true",
                    help="print the outputs to pin instead of measuring")
    a = ap.parse_args()

    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        sys.exit("perfbench: unknown workload " + a.workload)
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    classes = build.build()
    data = os.path.join(build.BENCH, "data", "sf0.1")
    work = os.path.join(build.BUILD, "work-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    logs = os.path.join(build.BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    log = os.path.join(logs, "%s-seed%d-trace%d.log" % (
        a.workload, a.seed, a.trace))
    result = os.path.join(work, "result.json")

    nproc = len(os.sched_getaffinity(0))
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
           + ["--add-opens=%s=ALL-UNNAMED" % p for p in ADD_OPENS]
           + ["-cp", classes + os.pathsep +
              os.path.join(build.spark_jars(), "*"), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--data", data, "--work", work, "--nproc", str(nproc),
              "--pins", os.path.join(build.BENCH, "pins.json"),
              "--result", result]
           + (["--pin", "1"] if a.pin else []))
    # a TERM to this script ends the JVM too (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    proc = None
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE,
                                    stderr=err, text=True)
            try:
                out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                sys.exit("perfbench: run exceeded %d s; log %s"
                         % (JVM_TIMEOUT_S, log))
        sys.stdout.write(out)
        if proc.returncode != 0 or a.pin:
            if proc.returncode != 0:
                with open(log) as f:
                    sys.stderr.write(f.read()[-3000:])
                sys.exit("perfbench: JVM exited %d; log %s"
                         % (proc.returncode, log))
            return
        with open(result) as f:
            res = json.load(f)
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    values = res["metrics"]
    names = [m["name"] for m in wanted]
    if sorted(values) != sorted(names):
        sys.exit("perfbench: metrics %s do not match BENCHMARK.json %s"
                 % (sorted(values), sorted(names)))
    res["metrics"] = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                      for m in wanted}
    print(json.dumps(res))


if __name__ == "__main__":
    main()
