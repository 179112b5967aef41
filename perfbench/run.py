#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload suite --seed 1 --seconds 10 --trace 0

Builds the harness if needed (perfbench/build.py), runs it in its own
JVM, and prints one JSON object as the last line of standard output:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics, with
--trace 1 its per_layer metrics. The line before it carries the run's
diagnostics (host calibration, error rate, tail percentile and sample
counts, pass times). The harness's own output, including anything the
engine prints, goes to standard error.

Extra options, for the harness's own tests and for pinning:
  --size smoke        smallest inputs
  --expected FILE     pin file (default perfbench/expected.json)
  --record FILE       write the observed (rows, checksum) pins to FILE
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("suite", "etl_incremental")
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--size", default="bench", choices=("bench", "smoke"))
    ap.add_argument("--expected", default="perfbench/expected.json")
    ap.add_argument("--record")
    args = ap.parse_args()

    declared = json.loads(Path("BENCHMARK.json").read_text())
    wanted = {m["name"] for m in declared["per_layer" if args.trace == "1" else "end_to_end"]}
    classpath = build.build()

    tag = f"{args.workload}-{args.seed}-t{args.trace}-{args.size}"
    results = build.BUILD / "results"
    work = build.BUILD / "runs" / f"{tag}-{os.getpid()}"
    results.mkdir(parents=True, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = results / f"{tag}.json"
    out.unlink(missing_ok=True)
    cmd = (["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] +
           ["-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", classpath, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace, "--size", args.size,
            "--out", str(out), "--work", str(work), "--fixture", "perfbench/data/sf0.001",
            "--spans", str(results / f"{tag}.spans.json")])
    if Path(args.expected).exists():
        cmd += ["--expected", args.expected]
    if args.record:
        cmd += ["--record", args.record]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(f"perfbench: {tag} stopped")

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop()
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not out.exists():
        raise SystemExit(f"perfbench: harness failed ({code})")

    result = json.loads(out.read_text())
    got = set(result["metrics"])
    if got != wanted:
        raise SystemExit(f"perfbench: metrics differ from BENCHMARK.json: "
                         f"missing {sorted(wanted - got)}, extra {sorted(got - wanted)}")
    if not args.trace == "1":
        for name, m in result["metrics"].items():
            if not isinstance(m["value"], (int, float)) or not 0 < m["value"] < float("inf"):
                raise SystemExit(f"perfbench: end-to-end metric {name} is {m['value']}")
    print("perfbench diagnostics " + json.dumps(result["diagnostics"], sort_keys=True))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
