#!/usr/bin/env python3
"""Record results of both workloads at two seeds, untraced and traced.

    python3 perfbench/report.py [--seeds 1,2] [--seconds 12]

For each workload and seed it runs the benchmark with tracing off and on,
then writes perfbench/results/<workload>.md: host facts, the end-to-end
and named figures of each seed, the per-layer table of the traced run
next to the end-to-end metric each layer figure should move, and the
tracing overhead (traced minus untraced end-to-end figures, same seed).
The traced run's span dump of the first seed is kept beside it as
perfbench/results/<workload>-s<seed>.spans.jsonl.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work", "results")
OUT = os.path.join(HERE, "results")

# per-layer figure (by prefix) -> the end-to-end metric it should move, per workload
MOVES = [
    ("IngestJob.", "op_p50_ms on ingest"),
    ("merge.jobs_per_epoch", "op_p50_ms on ingest"),
    ("merge.in_jobs", "op_p50_ms on ingest"),
    ("merge.driver_only", "op_p50_ms on ingest"),
    ("merge.", "rate_per_s on ingest"),
    ("compact.", "rate_per_s on ingest; setup_s on serve"),
    ("table.manifest_bytes", "op_p50_ms on ingest"),
    ("table.write_amp", "rate_per_s on ingest, traded against op_p50_ms on serve"),
    ("table.", "op_p50_ms on serve"),
    ("serve.lookup.", "op_p50_ms on serve"),
    ("serve.", "rate_per_s on serve"),
    ("feed.", "rate_per_s on serve"),
    ("jvm.", "rate_per_s on both"),
]


def moves(name):
    return next(m for p, m in MOVES if name.startswith(p))


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"{' '.join(cmd)} failed:\n{p.stderr[-3000:]}")
    with open(os.path.join(WORK, f"{workload}-s{seed}-t{trace}.json")) as fh:
        return json.load(fh)


def fmt(v):
    return f"{v:,.0f}" if abs(v) >= 1000 or float(v).is_integer() else f"{v:.4g}"


def report(workload, seeds, seconds):
    plain = {s: run(workload, s, seconds, 0) for s in seeds}
    traced = {s: run(workload, s, seconds, 1) for s in seeds}
    h = plain[seeds[0]]["host"]
    md = [f"# `{workload}` results", "",
          f"Host: {h['nproc']} cores, MemTotal {h['mem_total_kb'] // 1024} MiB, JDK {h['jdk']}, "
          f"Spark {h['spark']}, `local[{h['width']}]` (requested {h['requested_width']}"
          f"{', clamped to nproc' if h['width_clamped'] else ''}), work directory on {h['work_fs']}. "
          f"`--seconds {seconds}`. Produced by `python3 perfbench/report.py`.", ""]
    md += ["## End-to-end (tracing off)", "",
           "| metric | unit | " + " | ".join(f"seed {s}" for s in seeds) + " |",
           "|---|---|" + "---|" * len(seeds)]
    first = plain[seeds[0]]
    for sect in ("end_to_end", "detail"):
        for name, m in first[sect].items():
            md.append(f"| {name} | {m['unit']} | " + " | ".join(
                fmt(plain[s][sect].get(name, {}).get("value", float("nan"))) for s in seeds) + " |")
    md.append("| error_rate | ratio | " + " | ".join(fmt(plain[s]["error_rate"]) for s in seeds) + " |")
    md.append("| host cpu_steal_share | ratio | " + " | ".join(
        fmt(plain[s]["host"].get("cpu_steal_share") or float("nan")) for s in seeds) + " |")
    for s in seeds:
        for f in plain[s]["failures"] + traced[s]["failures"]:
            md.append(f"\nFailed operation, seed {s}: {f}")

    md += ["", "## Tracing overhead", "",
           "Traced minus untraced end-to-end figures of the same seed (positive = slower when traced "
           "for times, lower rate for `rate_per_s`).", "",
           "| metric | " + " | ".join(f"seed {s}: untraced → traced (Δ%)" for s in seeds) + " |",
           "|---|" + "---|" * len(seeds)]
    for name in first["end_to_end"]:
        cells = []
        for s in seeds:
            a = plain[s]["end_to_end"][name]["value"]
            b = traced[s]["end_to_end"][name]["value"]
            cells.append(f"{fmt(a)} → {fmt(b)} ({100 * (b - a) / a:+.1f}%)")
        md.append(f"| {name} | " + " | ".join(cells) + " |")

    md += ["", "## Per layer (traced run)", "",
           "| layer figure | unit | " + " | ".join(f"seed {s}" for s in seeds) + " | should move |",
           "|---|---|" + "---|" * len(seeds) + "---|"]
    for name, m in traced[seeds[0]]["per_layer"].items():
        md.append(f"| {name} | {m['unit']} | " + " | ".join(
            fmt(traced[s]["per_layer"][name]["value"]) for s in seeds) + f" | {moves(name)} |")

    os.makedirs(OUT, exist_ok=True)
    spans = f"{workload}-s{seeds[0]}.spans.jsonl"
    shutil.copyfile(os.path.join(WORK, f"{workload}-s{seeds[0]}-t1.spans.jsonl"), os.path.join(OUT, spans))
    md += ["", f"Span dump of the traced run, seed {seeds[0]}: [`{spans}`]({spans}) "
           "(one JSON object per span: id, parent, name, start/end in ms since the epoch, attributes)."]
    with open(os.path.join(OUT, f"{workload}.md"), "w") as fh:
        fh.write("\n".join(md) + "\n")
    print(f"wrote {os.path.join(OUT, workload + '.md')}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1,2")
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--workloads", default="ingest,serve")
    a = ap.parse_args()
    seeds = [int(s) for s in a.seeds.split(",")]
    for w in a.workloads.split(","):
        report(w, seeds, a.seconds)


if __name__ == "__main__":
    main()
