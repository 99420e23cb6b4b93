"""Paired end-to-end benchmark runs: a parent and a change checkout, alternately.

    python3 tools/bench_pairs.py --parent DIR --change DIR \
        --workloads browse,live --seeds 11,12,13,14 [--seconds 14] \
        [--trace 0|1] --out plans/page_plan.json [--append]

For every seed and workload it runs `e2ebench/run.py` once from each
checkout, back to back (the parent first on even pair indices, the change
first on odd ones, so drift in host load falls on both sides alike), and
writes every run's result metrics plus, per workload and trace mode, the
medians and quartiles of each side, the relative change of the medians,
the number of pairs in which the change was better and `claim_met`: whether
the change won at least nine tenths of the pairs (ties count for neither
side) and its median beats the parent's by more than the parent's
interquartile range. `claim_met` is null for a metric with fewer than
MIN_CLAIM_PAIRS complete pairs: a win count and quartiles from fewer runs
cannot back a claim. The summary also holds `shape_p50_ms`: per side, the
median over runs of each URL shape's `p50_ms` from the report's
`by_shape`, so a change shows which shapes moved, and
`shape_change_better_pairs`: per shape, the pairs in which the change's
p50 was lower, so a shape's movement carries paired evidence, not only
medians. `--append` adds the runs
to an existing output file and recomputes the summary over all of them.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

# metrics where a larger value is better; every other metric is lower-better
HIGHER_BETTER = {"req_per_s"}
# complete pairs a metric needs before claim_met is decided
MIN_CLAIM_PAIRS = 10


def run_once(tree, workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(tree, "e2ebench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.time() - t0
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    result, report = None, {}
    for l in lines:
        try:
            doc = json.loads(l)
        except ValueError:
            continue
        if isinstance(doc, dict) and "report" in doc:
            report = doc["report"]
        elif isinstance(doc, dict) and "metrics" in doc:
            result = doc
    run = {"workload": workload, "seed": seed, "trace": trace, "seconds": seconds,
           "wall_s": round(wall, 1), "exit": p.returncode}
    if result is None:
        run["error"] = (p.stderr or "")[-2000:]
        return run
    run["correct"] = result["correct"]
    run["attempted"] = result["attempted"]
    run["failed"] = result["failed"]
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    # the report line carries the end-to-end metrics of traced runs too
    for k, v in report.get("end_to_end", {}).items():
        metrics.setdefault(k, v["value"])
    run["metrics"] = metrics
    run["shape_p50_ms"] = {k: v["p50_ms"] for k, v in report.get("by_shape", {}).items()}
    run["host"] = {k: report.get(k) for k in ("nproc", "load_before", "load_after",
                                               "calib_sec_before", "calib_sec_after")}
    return run


def quartiles(values):
    """[Q1, median, Q3] of the values (inclusive method; one value repeats)."""
    if len(values) < 2:
        return [values[0]] * 3
    return statistics.quantiles(values, n=4, method="inclusive")


def summarize(runs):
    out = {}
    keys = sorted({(r["workload"], r["trace"]) for r in runs})
    for workload, trace in keys:
        rs = [r for r in runs if r["workload"] == workload and r["trace"] == trace]
        side = {s: [r for r in rs if r["tree"] == s and "metrics" in r] for s in ("parent", "change")}
        names = sorted(set().union(*[r["metrics"] for r in side["parent"] + side["change"]]))
        quart = {s: {m: quartiles([r["metrics"][m] for r in side[s] if m in r["metrics"]])
                     for m in names if any(m in r["metrics"] for r in side[s])}
                 for s in side}
        med = {s: {m: q[1] for m, q in quart[s].items()} for s in side}
        rel, better, claim = {}, {}, {}
        for m in names:
            pv, cv = med["parent"].get(m), med["change"].get(m)
            if pv is not None and cv is not None and pv != 0:
                rel[m] = round(cv / pv - 1, 4)
            pairs = {}
            for r in rs:
                if "metrics" in r and m in r["metrics"]:
                    pairs.setdefault(r["pair"], {})[r["tree"]] = r["metrics"][m]
            full = [v for v in pairs.values() if len(v) == 2]
            up = m in HIGHER_BETTER
            won = sum((v["change"] > v["parent"]) if up else
                      (v["change"] < v["parent"]) for v in full)
            better[m] = "%d/%d" % (won, len(full))
            if pv is not None and cv is not None:
                q1, _, q3 = quart["parent"][m]
                gain = (cv - pv) if up else (pv - cv)
                claim[m] = (None if len(full) < MIN_CLAIM_PAIRS else
                            10 * won >= 9 * len(full) and gain > q3 - q1)
        shapes = {s: {} for s in side}
        for s in side:
            for r in side[s]:
                for k, v in r.get("shape_p50_ms", {}).items():
                    shapes[s].setdefault(k, []).append(v)
        shape_pairs = {}
        for r in rs:
            for k, v in r.get("shape_p50_ms", {}).items():
                shape_pairs.setdefault(k, {}).setdefault(r["pair"], {})[r["tree"]] = v
        shape_better = {}
        for k, pairs in sorted(shape_pairs.items()):
            full = [v for v in pairs.values() if len(v) == 2]
            shape_better[k] = "%d/%d" % (sum(v["change"] < v["parent"] for v in full), len(full))
        out["%s/trace%d" % (workload, trace)] = {
            "runs": {s: len(side[s]) for s in side},
            "failed_runs": sum(1 for r in rs if not r.get("correct")),
            "median": med, "quartiles": quart, "change_vs_parent": rel,
            "change_better_pairs": better, "claim_met": claim,
            "shape_p50_ms": {s: {k: statistics.median(v) for k, v in sorted(shapes[s].items())}
                             for s in side},
            "shape_change_better_pairs": shape_better}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workloads", required=True, help="comma-separated e2ebench workloads")
    ap.add_argument("--seeds", required=True, help="comma-separated seeds, one pair each")
    ap.add_argument("--seconds", type=int, default=14)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", required=True)
    ap.add_argument("--append", action="store_true")
    a = ap.parse_args()

    doc = {"runs": []}
    if a.append and os.path.exists(a.out):
        with open(a.out) as fh:
            doc = json.load(fh)
    runs = doc["runs"]
    pair = 1 + max([r["pair"] for r in runs], default=-1)
    trees = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    for seed in [int(s) for s in a.seeds.split(",")]:
        for workload in a.workloads.split(","):
            order = ["parent", "change"] if pair % 2 == 0 else ["change", "parent"]
            for side in order:
                r = run_once(trees[side], workload, seed, a.seconds, a.trace)
                r["tree"], r["pair"] = side, pair
                runs.append(r)
                msg = json.dumps(r["metrics"]) if "metrics" in r else r.get("error", "")[-300:]
                sys.stderr.write("bench_pairs: pair %d %s %s seed %d: %s\n" % (
                    pair, side, workload, seed, msg))
            pair += 1
            doc["summary"] = summarize(runs)
            with open(a.out, "w") as fh:
                json.dump(doc, fh, indent=1, sort_keys=True)
                fh.write("\n")
    failed = [r for r in runs if not r.get("correct")]
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
