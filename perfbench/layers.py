#!/usr/bin/env python3
"""Layer-share report: where each workload's pass time goes.

Run from the root of a checkout:  python3 perfbench/layers.py [--seed N] [--pairs K]
For each workload it makes K pairs of runs, one untraced and one traced,
alternating, so host drift falls on both sides alike. It splits the traced
passes' time by layer from the span tree (self time of each span, summed
per layer, averaged over the traced runs), adds the exec-layer job and
task figures of the traced run with the median pass time, and writes
perfbench/LAYERS.md.
Tracing overhead is the median over the pairs of traced pass_s minus
untraced pass_s.
"""
import argparse
import json
import statistics
import subprocess
import sys
from collections import defaultdict
from pathlib import Path

DECLARED = json.loads(Path("BENCHMARK.json").read_text())

# span name (or prefix) -> layer whose self time it is
LAYER_OF = [
    ("SparkEntry.construct", "SparkEntry (construct)"),
    ("plan", "plan"),
    ("exec", "exec (collect)"),
    ("functions.construct", "functions (kernel frame construct)"),
    ("ExtractIncrement", "streaming (ExtractIncrement, with its raw-version commit)"),
    ("catalog.", "catalog"),
    ("Upsert", "catalog"),
    ("Publish", "catalog"),
    ("pipeline.status_write", "pipeline"),
    ("op:", "op self time (harness bookkeeping, version lookups)"),
    ("pass:", "op self time (harness bookkeeping, version lookups)"),
]


def layer(name):
    for prefix, lay in LAYER_OF:
        if name == prefix or (prefix.endswith((":", ".")) and name.startswith(prefix)):
            return lay
    return "other"


def run(workload, trace, seed, seconds):
    done = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True)
    lines = done.stdout.strip().splitlines()
    diag = json.loads(lines[-2][len("perfbench diagnostics "):])
    return json.loads(lines[-1]), diag


def shares(spans_file, passes):
    """Self seconds per layer, averaged over the measured passes."""
    spans = json.loads(Path(spans_file).read_text())
    by_id = {s["id"]: s for s in spans}
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    # warm-up passes are numbered 0 and below, measured passes from 1
    measured = {s["id"] for s in spans
                if s["name"].startswith("pass:") and int(s["name"][5:]) >= 1}

    def in_measured(s):
        while s["parent"] != 0:
            s = by_id[s["parent"]]
        return s["id"] in measured

    out = defaultdict(float)
    for s in spans:
        if not in_measured(s):
            continue
        child = sum(k["end_ms"] - k["start_ms"] for k in kids[s["id"]])
        out[layer(s["name"])] += (s["end_ms"] - s["start_ms"] - child) / 1e3 / passes
    return dict(out)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=11)
    ap.add_argument("--pairs", type=int, default=3)
    args = ap.parse_args()
    seconds = DECLARED["run_seconds"]
    rows = []
    for w in DECLARED["workloads"]:
        name = w["name"]
        pairs, share_runs, traced_runs = [], [], []
        for i in range(args.pairs):
            seed = args.seed + i
            plain, plain_diag = run(name, 0, seed, seconds)
            traced, diag = run(name, 1, seed, seconds)
            spans = f".bench_build/results/{name}-{seed}-t1-bench.spans.json"
            pairs.append((statistics.median(diag["pass_seconds"]), plain["metrics"]["pass_s"]["value"],
                          diag["host.calib_s"], plain_diag["host.calib_s"]))
            share_runs.append(shares(spans, diag["passes"]))
            traced_runs.append((traced, diag))
        share = {lay: sum(r.get(lay, 0.0) for r in share_runs) / len(share_runs)
                 for lay in {k for r in share_runs for k in r}}
        # the job, catalog and streaming figures come from the traced run
        # with the median pass time, so one run slowed by the host does not
        # set them
        by_pass = sorted(traced_runs, key=lambda r: statistics.median(r[1]["pass_seconds"]))
        traced, diag = by_pass[len(by_pass) // 2]
        rows.append((w, traced, diag, pairs, share))

    md = ["# Layer shares", "",
          f"Generated by `python3 perfbench/layers.py` ({args.pairs} pairs of an untraced "
          f"and a traced run per workload, alternating, seeds {args.seed}.."
          f"{args.seed + args.pairs - 1}, {seconds} s each, on a 4-core host). "
          "Shares are span self time per measured pass, averaged over the traced runs, "
          "by the layer whose call the span times; Spark jobs run inside the span that "
          "submitted them, so `exec.s` (time with at least one job running) overlaps "
          "the rows above it. The exec, construct, catalog and streaming figures are "
          "from the traced run with the median pass time. Tracing overhead is the "
          "median over the pairs of traced minus untraced `pass_s`; each pair's "
          "`host.calib_s` is listed, since "
          "host drift between the two runs of a pair can exceed what tracing costs.", ""]
    for w, traced, diag, pairs, share in rows:
        m = {k: v["value"] for k, v in traced["metrics"].items()}
        over = statistics.median(t - u for t, u, _, _ in pairs)
        upass = statistics.median(u for _, u, _, _ in pairs)
        md += [f"## {w['name']}", "", f"Why: {w['why']}", "",
               "| layer | s per pass | share |", "|---|---|---|"]
        total = sum(share.values())
        for lay, s in sorted(share.items(), key=lambda kv: -kv[1]):
            md.append(f"| {lay} | {s:.3f} | {100 * s / total:.1f}% |")
        md += ["",
               f"- exec: {m['exec.jobs']:.0f} jobs, {m['exec.stages']:.0f} stages, "
               f"{m['exec.tasks']:.0f} tasks per pass; busy {m['exec.s']:.2f} s; "
               f"{m['exec.s_per_job'] * 1e3:.0f} ms per job; slot utilisation "
               f"{m['exec.slot_util']:.3f}; task CPU {m['exec.task_cpu_s']:.2f} s; "
               f"job concurrency {m['exec.job_concurrency']:.2f}",
               f"- construct: {m['SparkEntry.construct_s']:.2f} s and "
               f"{m['SparkEntry.construct_jobs']:.0f} jobs per pass; plan {m['plan.s']:.2f} s, "
               f"{m['plan.exchanges']:.0f} exchanges",
               f"- functions: exec of the kernel-calling operations {m['functions.exec_s']:.2f} s per pass",
               f"- catalog: {m['catalog.writes']:.0f} commits, {m['catalog.write_s']:.2f} s "
               f"writing, merge {m['catalog.merge_s']:.2f} s, compact {m['catalog.compact_s']:.2f} s, "
               f"read {m['catalog.read_s']:.2f} s, diff {m['catalog.diff_s']:.2f} s",
               f"- streaming: {m['streaming.epochs']:.0f} epochs, trigger "
               f"{m['streaming.trigger_ms']:.0f} ms, addBatch {m['streaming.add_batch_ms']:.0f} ms, "
               f"start/stop outside triggers {m['streaming.start_s']:.2f} s",
               "- pairs (traced pass_s / untraced pass_s, traced / untraced host.calib_s): " +
               "; ".join(f"{t:.3f} / {u:.3f} s, {ct:.3f} / {cu:.3f} s" for t, u, ct, cu in pairs),
               f"- tracing overhead: median traced − untraced pass_s = {over:+.3f} s "
               f"({100 * over / upass:+.1f}% of the untraced median {upass:.3f} s)", ""]
    Path("perfbench/LAYERS.md").write_text("\n".join(md))
    print("\n".join(md))


if __name__ == "__main__":
    main()
