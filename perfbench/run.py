#!/usr/bin/env python3
"""Benchmark of the cosmapspark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source (see build.py), runs one
benchmark JVM on local[nproc] (perfbench.Main), checks every operation's
output after the timed section (checks.py) and prints, as its last line, one
JSON object: {"correct", "attempted", "failed", "metrics"}.  With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 its
per-layer metrics.  The line before it holds the raw record of the run.
Everything the run writes stays under .bench_build/ and .bench_work/.
"""
import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

ROOT = HERE.parent
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
WORKLOADS = ("sky_mc", "fanout_legs")
JVM_TIMEOUT_S = 170
MAX_NPROC = 4
# The module openings Spark needs on JDK 17 outside spark-submit.
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def nproc():
    return max(1, min(MAX_NPROC, len(os.sched_getaffinity(0))))


def declared():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def validate(metrics, expected):
    """The emitted metrics are exactly the declared ones, with their
    units, well-formed names and numeric values."""
    bad = [n for n in metrics if not NAME.match(n)]
    if bad:
        raise ValueError(f"malformed metric names {bad}")
    if set(metrics) != set(expected):
        raise ValueError(f"metrics {sorted(set(metrics) ^ set(expected))} "
                         "are not both declared and emitted")
    for n, m in metrics.items():
        if m["unit"] != expected[n] or not isinstance(m["value"], (int, float)) \
                or m["value"] != m["value"]:
            raise ValueError(f"metric {n}: {m}")


def end_to_end(rec):
    wall = statistics.median(rec["pass_s"])
    return {
        "setup_s": {"value": rec["setup_s"], "unit": "s"},
        "wall_s": {"value": wall, "unit": "s"},
        "items_per_s": {"value": rec["items_per_pass"] / wall, "unit": "1/s"},
        "retained_heap_mb": {"value": rec["retained_heap_mb"], "unit": "MB"},
    }


def run_jvm(args, work):
    cmd = ["java", *ADD_OPENS, "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", build.classpath(), "perfbench.Main", args.workload, str(args.seed),
           str(args.seconds), str(args.trace), str(work), str(nproc())]
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        tail = (work / "jvm.log").read_text().splitlines()[-30:]
        sys.stderr.write("\n".join(tail) + "\n")
        raise RuntimeError(f"benchmark JVM exited with {code}; log in {work / 'jvm.log'}")
    return json.loads((work / "result.json").read_text())


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = p.parse_args(argv)
    try:
        e2e_units, layer_units = declared()
        build.build()
        import checks
        work = ROOT / ".bench_work" / args.workload
        shutil.rmtree(work, ignore_errors=True)
        (work / "tmp").mkdir(parents=True)
        rec = run_jvm(args, work)
        ops = rec.pop("ops")
        bad = checks.check_sky(ops, rec["sky_samples"], args.seed) | checks.check_queries(ops)
        failed = sum(1 for i, o in enumerate(ops) if not o["ok"] or i in bad)
        metrics = rec["metrics"] if args.trace else end_to_end(rec)
        validate(metrics, layer_units if args.trace else e2e_units)
    except Exception as e:  # noqa: BLE001 - any failure ends the run without a result
        print(f"[perfbench] {type(e).__name__}: {e}", file=sys.stderr)
        return 1
    rec.pop("metrics", None)
    rec["operations"] = [{k: o[k] for k in ("name", "pass", "ok", "seconds")} for o in ops]
    print(json.dumps(rec))
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    sys.stderr.flush()
    # Native thread pools of the DuckDB and Arrow libraries the checks load
    # can abort during interpreter teardown; nothing is left to clean up.
    os._exit(code)
