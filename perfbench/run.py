#!/usr/bin/env python3
"""graft's benchmark: builds the engine from source, runs one workload in a
fresh JVM and prints the result as the last line of stdout.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Workloads, their key lists and data are in
perfbench/workloads.json; metrics are described in perfbench/README.md.

--trace 0 reports the end-to-end metrics; --trace 1 makes a separate traced
run and reports the per-layer metrics (and, with --spans, writes the spans).
--record re-records the expected outputs of a workload's keys instead of
measuring.
"""

import argparse
import atexit
import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".build"
SETUP_SAMPLES = 2  # JVMs set up per run, the measuring one included
RUN_LIMIT_S = 170  # a run ends within 180 s, builds aside
BUILD_LIMIT_S = 850
# A fixed heap, touched in full at start, and a fixed young generation:
# G1 otherwise grows the heap and sizes eden from GC-time feedback, which
# follows the host's load, and peak RSS would follow those choices more
# than the program. Peak RSS is then the 2 GiB heap plus everything
# off-heap (metaspace, code cache, JIT arenas, thread stacks, buffers).
HEAP = ["-Xms2g", "-Xmx2g", "-Xmn384m", "-XX:+AlwaysPreTouch"]
# C1 only. C2 keeps compiling the engine's code through a whole run, so
# warm passes keep speeding up at a rate that follows the host's load;
# with C1 they are flat from the second warm pass on.
JIT = ["-XX:TieredStopAtLevel=1"]
# Spark 4 on JDK 17 outside spark-submit needs these (the engine's own
# build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
END_TO_END = {
    "setup_s": "s", "first_pass_s": "s", "warm_pass_s": "s",
    "query_p50_s": "s", "cpu_s": "s", "peak_rss_mb": "MB",
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


CHILDREN = []


def spawn(cmd, **kw):
    """Starts a child in a process group of its own (sbt starts a JVM of
    its own), remembered so that every way out of this script stops it."""
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    CHILDREN.append(p)
    return p


def stop(p):
    """Kills what is left of a child's process group and waits for the
    child."""
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()


@atexit.register
def stop_children():
    for p in CHILDREN:
        stop(p)


def sources_fingerprint():
    """Hash of every build input, so a changed tree is rebuilt."""
    h = hashlib.sha256()
    inputs = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "src" / "main", ROOT / "project", HERE / "src", HERE / "project"):
        inputs += sorted(p for p in d.rglob("*") if p.is_file() and "target" not in p.parts)
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def classpath():
    """Compiles the engine and the harness with sbt (once per tree) and
    returns the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no graft sources at {ROOT} (run from the root of a full checkout)")
    WORK.mkdir(exist_ok=True)
    stamp, cp_file = WORK / "build.stamp", WORK / "classpath.txt"
    fp = sources_fingerprint()
    if cp_file.is_file() and stamp.is_file() and stamp.read_text() == fp:
        return cp_file.read_text().strip()
    log = WORK / "build.log"
    with open(log, "w") as out:
        p = spawn(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                   "export Runtime/fullClasspath"],
                  cwd=HERE, stdout=out, stderr=subprocess.STDOUT)
        rc = wait(p, time.monotonic() + BUILD_LIMIT_S)
    lines = log.read_text().splitlines()
    if rc != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}), log in {log}")
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(fp)
    return lines[-1].strip()


def wait(p, deadline):
    """Waits for a child; kills it and fails once `deadline` has passed."""
    try:
        return p.wait(timeout=max(deadline - time.monotonic(), 1))
    except subprocess.TimeoutExpired:
        stop(p)
        fail(f"{p.args[0]} did not finish in time")


class Jvm:
    """One harness JVM, its output going to a log under perfbench/.build."""

    def __init__(self, cp, mode, args, tag):
        tmp = WORK / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        # Few malloc arenas: native memory (parquet, netty buffers) then
        # grows in a few shared arenas, not one 64 MB arena per thread, so
        # peak RSS reflects what the program holds, not which threads
        # allocated.
        env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp), MALLOC_ARENA_MAX="2")
        cmd = (["java"] + HEAP + JIT + [f"-Djava.io.tmpdir={tmp}"]
               + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", cp, "graftbench.Harness", mode] + args)
        self.mode, self.log = mode, WORK / f"{tag}.log"
        with open(self.log, "w") as out:
            self.proc = spawn(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT, env=env)

    def result(self, deadline):
        rc = wait(self.proc, deadline)
        lines = self.log.read_text().splitlines()
        result = [l for l in lines if l.startswith("RESULT ")]
        if rc != 0 or not result:
            sys.stderr.write("\n".join(lines[-30:]) + "\n")
            fail(f"harness {self.mode} failed (exit {rc}), log in {self.log}")
        return json.loads(result[-1][len("RESULT "):])

    def stop(self):
        stop(self.proc)


def main():
    # A TERM or HUP unwinds like an error, so the children are stopped.
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, lambda n, _: sys.exit(128 + n))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", help="data directory (default: the workload's)")
    ap.add_argument("--expected", help="expected-output file (default: the workload's)")
    ap.add_argument("--spans", help="traced runs: write the spans here (JSON lines)")
    ap.add_argument("--record", action="store_true",
                    help="re-record the expected outputs instead of measuring")
    a = ap.parse_args()

    workloads = json.loads((HERE / "workloads.json").read_text())
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload}; have {', '.join(workloads)}")
    w = workloads[a.workload]
    data = Path(a.data).resolve() if a.data else HERE / "data" / w["data"]
    expected = Path(a.expected).resolve() if a.expected else HERE / "expected" / f"{a.workload}.tsv"

    cp = classpath()
    deadline = time.monotonic() + RUN_LIMIT_S
    cores = str(len(os.sched_getaffinity(0)))
    common = ["--dir", str(data), "--cores", cores, "--keys", ",".join(w["keys"])]

    if a.record:
        r = Jvm(cp, "record", common + ["--expected", str(expected)], "record").result(deadline)
        print(f"recorded {r['recorded']} keys into {expected}")
        return

    args = common + ["--seed", str(a.seed), "--seconds", str(a.seconds),
                     "--trace", str(a.trace), "--expected", str(expected)]
    if a.trace and a.spans:
        args += ["--spans", str(Path(a.spans).resolve())]
    # One JVM at a time: set-up-only JVMs first, then the measuring one.
    setups = []
    for i in range(SETUP_SAMPLES):
        j = Jvm(cp, "run", args, f"run-{a.workload}") if i == SETUP_SAMPLES - 1 \
            else Jvm(cp, "setup", common, f"setup{i}")
        try:
            r = j.result(deadline)
        finally:
            j.stop()
        setups.append(r["setup_s"])
    r["setup_s"] = statistics.median(setups)
    report(a, r, setups)


def report(a, r, setups):
    for f in r["failures"]:
        print(f"FAILED {f}")
    for k, lat in r["latencies_s"].items():
        print(f"latency {k:34s} " + " ".join(f"{x:.3f}" for x in lat) + " s (pass by pass)")
    print(f"workload {a.workload}: {r['passes']} passes, {r['attempted']} executions, "
          f"{r['warm_executions']} warm; setup samples {setups}")
    if a.trace:
        units = {m["name"]: m["unit"] for m in
                 json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]}
        metrics = {n: {"value": r["layers"][n], "unit": u} for n, u in units.items()}
        # Measured but not listed, because at this scale it reads the same
        # (zero) on every run: shown, not reported.
        for n in sorted(r["layers"].keys() - units.keys()):
            print(f"{n:34s} {r['layers'][n]} (not in BENCHMARK.json)")
    else:
        metrics = {n: {"value": r[n], "unit": u} for n, u in END_TO_END.items()}
    for n, m in metrics.items():
        print(f"{n:34s} {m['value']} {m['unit']}")
    print(f"{'error_rate':34s} {r['failed'] / r['attempted']} ratio")
    if not a.trace and r["warm_executions"] >= 100:
        print(f"{'query_p90_s':34s} {r['query_p90_s']} s "
              f"(over {r['warm_executions']} warm executions)")
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
