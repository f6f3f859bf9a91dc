#!/usr/bin/env python3
"""Trace reader: per-workload and per-module self time from traced runs.

    python3 perfbench/trace_report.py [results_dir]

Reads the run records that run.py keeps (default
.bench_build/perfbench/results) and prints, for each workload, over the
measured passes (the warm-up pass left out):
  - the self time of each layer, as seconds per op and share of op wall;
  - the same split for each query module;
  - the share of ops whose plan and job records are present and whose
    layer spans sum to within 10% of the op wall, and every op that
    lacks such a record;
  - the tracing overhead: each end-to-end metric of the traced runs
    against the untraced runs (medians over the seeds present).
"""
import glob
import json
import os
import statistics
import sys

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
DEFAULT = os.path.join(os.path.dirname(HERE), ".bench_build", "perfbench", "results")
COLUMNS = metrics.LAYERS + ["other"]


def load(results):
    runs = {}
    for path in sorted(glob.glob(os.path.join(results, "*.json"))):
        with open(path) as f:
            raw = json.load(f)
        runs.setdefault(raw["workload"], {}).setdefault(int(raw["trace"]), []).append(raw)
    return runs


def split(raws, key):
    """key(op) -> {layer: seconds, "other": seconds, "wall": seconds, "ops": n}."""
    rows = {}
    for raw in raws:
        layers = metrics.op_layers(raw.get("spans", []))
        for o in metrics.whole_passes(raw):
            r = rows.setdefault(key(o), {c: 0.0 for c in COLUMNS + ["wall", "ops"]})
            got = layers.get(o["id"], {})
            w = metrics.wall(o)
            for layer, s in got.items():
                r[layer] += s
            r["other"] += max(0.0, w - sum(got.values()))
            r["wall"] += w
            r["ops"] += 1
    return rows


def table(title, rows):
    print(f"  {title:<16}{'ops':>6}" + "".join(f"{c:>11}" for c in COLUMNS) + f"{'wall':>9}")
    for name in sorted(rows):
        r = rows[name]
        n = max(1, r["ops"])
        cells = "".join(
            f"{r[c] / n:>6.3f} {100 * r[c] / r['wall'] if r['wall'] else 0:>3.0f}%"
            for c in COLUMNS)
        print(f"  {name:<16}{int(r['ops']):>6}{cells}{r['wall'] / n:>9.3f}")


def overhead(traced, untraced):
    def med(raws, k):
        return statistics.median(metrics.end_to_end(r)[0][k] for r in raws)
    print("  tracing overhead (traced - untraced, medians):")
    for k in metrics.end_to_end(untraced[0])[0]:
        u, t = med(untraced, k), med(traced, k)
        share = f"{100 * (t - u) / u:+.1f}%" if u else "n/a"
        print(f"    {k:<22} untraced {u:>10.4f}  traced {t:>10.4f}  {share}")


def main():
    results = sys.argv[1] if len(sys.argv) > 1 else DEFAULT
    runs = load(results)
    if not runs:
        sys.exit(f"no run records in {results}")
    for workload in sorted(runs):
        traced = runs[workload].get(1, [])
        untraced = runs[workload].get(0, [])
        print(f"{workload}: {len(traced)} traced, {len(untraced)} untraced runs")
        if traced:
            print("  self time per op in seconds and share of op wall")
            table("workload", split(traced, lambda o: workload))
            table("module", split(traced, lambda o: o["module"]))
            cov = []
            for r in traced:
                layers = metrics.op_layers(r.get("spans", []))
                for o in metrics.whole_passes(r):
                    group = r.get("groups", {}).get(str(o["id"]), {})
                    cov.append(metrics.covered(o, layers.get(o["id"], {}), group))
                    for why in metrics.missing_evidence(o, group):
                        print(f"  seed {r['seed']} op {o['id']} {o['name']}: {why}")
            print(f"  ops with plan and job records whose layer spans sum to "
                  f"within 10% of wall: {sum(cov)}/{len(cov)} "
                  f"({100 * sum(cov) / max(1, len(cov)):.1f}%)")
        if traced and untraced:
            overhead(traced, untraced)


if __name__ == "__main__":
    main()
