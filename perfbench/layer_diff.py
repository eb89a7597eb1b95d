#!/usr/bin/env python3
"""Compare the per-layer metrics of two sets of benchmark runs.

    python3 perfbench/layer_diff.py <before> <after>
    python3 perfbench/layer_diff.py --record <runs>

Each side is a directory of run artifacts (``perfbench/.runs/artifacts``
of a checkout) or a single artifact file. For each workload with
traced runs on both sides, it lists the per-layer metrics (the
BENCHMARK.json list plus the workload's own module layers) whose
median moved by more than the noise band. The band is the larger of
either side's own run-to-run range and three times the recorded
seed-to-seed range in ``noise.json`` times the before median: two new
runs often differ by more than the range of a few recorded ones (with
normal noise, by more than the range of 7 recorded runs about one time
in ten, by more than three times that range about one time in a
thousand).

``--record`` writes ``noise.json`` from a set of traced runs of one
version of the code, each with another seed: per workload and metric,
the range of the runs over their median.

Times are compared as shares of the traced mean op time
(``traced.op_s_mean``), so a host that runs every layer slower or
faster moves nothing; a layer that takes a larger or smaller part of
an op does. Counts and sizes are compared as they are. With untraced
runs present it also prints the tracing overhead: the traced mean op
time over the untraced median. Exit status 1 when anything moved.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
PREDICTIONS = os.path.join(HERE, "predictions.json")
NOISE = os.path.join(HERE, "noise.json")
NOISE_FACTOR = 3.0


def load(path):
    files = [path] if os.path.isfile(path) else sorted(
        glob.glob(os.path.join(path, "*.json")))
    runs = {}
    for f in files:
        with open(f) as fh:
            a = json.load(fh)
        w = a["witnesses"]
        runs.setdefault(w["workload"], {"traced": [], "untraced": []})[
            "traced" if w["trace"] else "untraced"].append(a)
    return runs


def is_time(name):
    return name.endswith(("_s", "_ms", "_ms_p50")) or name.startswith("task_s_by_module.")


def flat(a):
    """Per-layer figures of one traced artifact, nested maps flattened,
    times as shares of the traced mean op time."""
    raw = dict(a["per_layer"])
    for k, v in a["module_layers"].items():
        if isinstance(v, dict):
            raw.update({f"{k}.{kk}": vv for kk, vv in v.items()})
        else:
            raw[k] = v
    op_s = raw["traced.op_s_mean"]
    out = {}
    for k, v in raw.items():
        if k.startswith("traced."):
            continue            # the end-to-end figures: see overhead()
        if k.endswith(("_ms", "_ms_p50")):
            out[k] = v / 1000.0 / op_s
        elif is_time(k):
            out[k] = v / op_s
        else:
            out[k] = v
    return out


def spread(xs):
    m = statistics.median(xs)
    return (max(xs) - min(xs)) / abs(m) if m else 0.0


def moved(before, after, noise):
    """[(metric, before median, after median, band)] beyond the band."""
    b = [flat(a) for a in before]
    c = [flat(a) for a in after]
    out = []
    for k in sorted(set().union(*b) & set().union(*c)):
        xs = [r[k] for r in b if k in r]
        ys = [r[k] for r in c if k in r]
        mb, ma = statistics.median(xs), statistics.median(ys)
        band = max(max(xs) - min(xs), max(ys) - min(ys),
                   NOISE_FACTOR * noise.get(k, 0.0) * abs(mb))
        if abs(ma - mb) > band:
            out.append((k, mb, ma, band))
    return out


def overhead(runs):
    if not runs["traced"] or not runs["untraced"]:
        return None
    traced = statistics.median(a["per_layer"]["traced.op_s_mean"] for a in runs["traced"])
    plain = statistics.median(a["report"]["op_s_mean"] for a in runs["untraced"])
    return traced / plain - 1.0


def record(path):
    out = {"about": "Seed-to-seed range over median of each per-layer metric "
                    "(times as shares of traced.op_s_mean), from traced runs of "
                    "one version of the code; written by layer_diff.py --record.",
           "workloads": {}}
    for w, runs in sorted(load(path).items()):
        flats = [flat(a) for a in runs["traced"]]
        if len(flats) < 2:
            continue
        keys = sorted(set().union(*flats))
        out["workloads"][w] = {
            "runs": len(flats),
            "seeds": sorted(a["witnesses"]["seed"] for a in runs["traced"]),
            "range_over_median": {k: round(spread([f[k] for f in flats if k in f]), 4)
                                  for k in keys}}
    with open(NOISE, "w") as fh:
        json.dump(out, fh, indent=2, sort_keys=True)
        fh.write("\n")
    print(f"wrote {NOISE}")


def main():
    if len(sys.argv) == 3 and sys.argv[1] == "--record":
        record(sys.argv[2])
        return
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    before, after = load(sys.argv[1]), load(sys.argv[2])
    with open(PREDICTIONS) as fh:
        predictions = json.load(fh)
    noise = {}
    if os.path.exists(NOISE):
        with open(NOISE) as fh:
            noise = json.load(fh)["workloads"]
    any_moved = False
    for w in sorted(set(before) & set(after)):
        for side, runs in (("before", before[w]), ("after", after[w])):
            o = overhead(runs)
            if o is not None:
                print(f"{w}: tracing overhead ({side}) {100 * o:+.1f}% of op_s_mean")
        if not before[w]["traced"] or not after[w]["traced"]:
            print(f"{w}: no traced runs on both sides")
            continue
        rows = moved(before[w]["traced"], after[w]["traced"],
                     noise.get(w, {}).get("range_over_median", {}))
        print(f"{w}: {len(before[w]['traced'])} vs {len(after[w]['traced'])} traced runs, "
              f"{len(rows)} per-layer metrics moved")
        expects = predictions["workloads"].get(w, {}).get("layers", {})
        for k, mb, ma, band in rows:
            pred = next((v for p, v in expects.items() if k.startswith(p)), None)
            note = f"  (predicted to move {', '.join(pred)})" if pred else ""
            share = " of an op" if is_time(k) else ""
            print(f"  {k:<44} {mb:>12.4g} -> {ma:<12.4g} band {band:.3g}{share}{note}")
        any_moved = any_moved or bool(rows)
    sys.exit(1 if any_moved else 0)


if __name__ == "__main__":
    main()
