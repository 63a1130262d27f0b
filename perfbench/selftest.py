#!/usr/bin/env python3
"""Self-test of the benchmark harness on the sf0.001 tables (about 4 min):

  1. every metric of BENCHMARK.json is printed with its name and unit,
     untraced (end-to-end) and traced (per-layer);
  2. a planted wrong hash is counted as a failed execution;
  3. tracing off writes no spans (and tracing on does).

    python3 perfbench/selftest.py

Exits 0 when all checks pass.
"""

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".build" / "selftest"
DATA = HERE / "data" / "sf0.001"
WORKLOAD = "relational"


def run(*args):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", WORKLOAD,
           "--data", str(DATA)] + list(args)
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=400)
    if p.returncode != 0:
        sys.exit(f"selftest: {' '.join(cmd)} exited {p.returncode}\n{p.stderr[-3000:]}")
    return p.stdout


def result(stdout):
    return json.loads(stdout.strip().splitlines()[-1])


def check(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    return cond


def main():
    WORK.mkdir(parents=True, exist_ok=True)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    expected = WORK / "expected.tsv"
    planted = WORK / "planted.tsv"
    spans_off, spans_on = WORK / "spans-off.jsonl", WORK / "spans-on.jsonl"
    for f in (spans_off, spans_on):
        f.unlink(missing_ok=True)

    run("--record", "--expected", str(expected))
    rows = expected.read_text().splitlines()
    key, n, h = rows[0].split("\t")
    bad = format((int(h, 16) + 1) % (1 << 64), "x")
    planted.write_text("\n".join([f"{key}\t{n}\t{bad}"] + rows[1:]) + "\n")

    good = True
    for trace, metrics, spans in (("0", bench["end_to_end"], spans_off),
                                  ("1", bench["per_layer"], spans_on)):
        out = run("--seed", "1", "--seconds", "1", "--trace", trace,
                  "--expected", str(expected), "--spans", str(spans))
        r = result(out)
        got = r["metrics"]
        good &= check(r["correct"] and r["failed"] == 0 and r["attempted"] >= 2 * len(rows),
                      f"trace {trace}: every execution matches its recorded output")
        good &= check(set(got) == {m["name"] for m in metrics},
                      f"trace {trace}: result holds exactly the {len(metrics)} BENCHMARK.json metrics")
        for m in metrics:
            v = got.get(m["name"], {})
            printed = any(l.split()[:1] == [m["name"]] and l.split()[-1] == m["unit"]
                          for l in out.splitlines())
            good &= check(v.get("unit") == m["unit"] and isinstance(v.get("value"), (int, float))
                          and printed, f"trace {trace}: {m['name']} printed with unit {m['unit']}")
        good &= check(("error_rate" in out), f"trace {trace}: error_rate printed")

    good &= check(not spans_off.exists(), "tracing off writes no spans")
    good &= check(spans_on.exists() and spans_on.stat().st_size > 0, "tracing on writes spans")

    out = run("--seed", "1", "--seconds", "1", "--trace", "0", "--expected", str(planted))
    r = result(out)
    rate = [l.split()[1] for l in out.splitlines() if l.startswith("error_rate")]
    good &= check(not r["correct"] and r["failed"] >= 2 and rate and float(rate[0]) > 0,
                  f"planted wrong hash for {key} raises error_rate ({rate})")
    sys.exit(0 if good else 1)


if __name__ == "__main__":
    main()
