#!/usr/bin/env python3
"""Alternating A/B of the user-path benchmark between two checkouts.

    python3 tools/perf_ab.py --parent ../graft-parent --change . \\
        --workload serve_stream --seeds 1,2,3 --pairs 5 [--seconds 10] [--trace 0]

Runs `python3 perfbench/run.py` in the parent checkout and in the change
checkout, one pair at a time, for the given workload. Pair i uses seed
seeds[i % len(seeds)], and the arm that runs first alternates between
pairs, so slow drift of the host falls on both arms alike. Each run
overwrites perfbench/.out/<workload>-seed<n>-trace<t>.json in its
checkout, so the artifact is copied out right after the run, to --out
(default: a new temporary directory; never under perfbench/).

At the end it prints, for every metric BENCHMARK.json (of the change
checkout) names — the end-to-end ones, or the per-layer ones with
--trace 1 — the median of each arm, the interquartile range of the
parent's runs, the change/parent ratio, and in how many pairs the change
was better. A metric is marked "beyond IQR" when the change's median is
better than the parent's by more than the parent's IQR. It also prints
each run's host_steal_share (CPU time the hypervisor gave to other
guests) and any failed operations.

It refuses to start when a checkout holds a perfbench/.build whose
sources.txt names files outside that checkout: such a build was copied
from another checkout, its class-data archive records that checkout's
class paths, and every run would die at JVM start with "shared class
paths mismatch". The message names the directory to delete; the tool
deletes nothing itself.

Standard library only; it edits nothing in either checkout except what
perfbench/run.py itself writes.
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile


def run_once(checkout, workload, seed, seconds, trace, out_dir, tag):
    """One perfbench run in `checkout`; returns its artifact (dict) with the
    relayed result line under "result", or None when the run failed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE)
    stem = "%s-seed%d-trace%s" % (workload, seed, trace)
    src = os.path.join(checkout, "perfbench", ".out", stem + ".json")
    lines = [l for l in proc.stdout.decode("utf-8", "replace").splitlines() if l.strip()]
    if not os.path.isfile(src) or not lines or not lines[-1].startswith("{"):
        sys.stderr.write("%s: run failed (exit %d)\n%s\n" % (
            tag, proc.returncode, proc.stderr.decode("utf-8", "replace")[-2000:]))
        return None
    dst = os.path.join(out_dir, "%s-%s.json" % (tag, stem))
    shutil.copyfile(src, dst)
    with open(dst) as f:
        art = json.load(f)
    art["result"] = json.loads(lines[-1])
    return art


def foreign_build(checkout):
    """The checkout's perfbench/.build when one of its sources.txt files
    names a source outside the checkout, else None."""
    root = os.path.realpath(checkout)
    build = os.path.join(checkout, "perfbench", ".build")
    for argfile in glob.glob(os.path.join(build, "*", "sources.txt")):
        with open(argfile, encoding="utf-8") as f:
            names = [l.strip() for l in f if l.strip()]
        if any(os.path.commonpath([root, os.path.realpath(n)]) != root for n in names):
            return build
    return None


def iqr(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[2] - q[0]


def fmt(x):
    return "%.4g" % x if isinstance(x, (int, float)) else str(x)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="parent checkout (repository root)")
    ap.add_argument("--change", required=True, help="change checkout (repository root)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1,2,3", help="comma-separated seed list")
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--out", help="where the artifacts are copied (default: a new temp dir)")
    a = ap.parse_args()

    arms = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    for arm, p in arms.items():
        build = foreign_build(p)
        if build:
            sys.exit("%s checkout: %s was built in another checkout (its sources.txt names "
                     "files outside %s), so its JVMs would fail with \"shared class paths "
                     "mismatch\". Delete %s and run again." % (arm, build, p, build))
    with open(os.path.join(arms["change"], "BENCHMARK.json")) as f:
        bench = json.load(f)
    defs = bench["per_layer" if a.trace == "1" else "end_to_end"]
    out_dir = a.out or tempfile.mkdtemp(prefix="perf_ab_")
    for p in arms.values():
        if os.path.commonpath([os.path.abspath(out_dir), os.path.join(p, "perfbench")]) == \
                os.path.join(p, "perfbench"):
            sys.exit("--out must not be under a checkout's perfbench/")
    os.makedirs(out_dir, exist_ok=True)
    seeds = [int(s) for s in a.seeds.split(",") if s.strip()]

    runs = {"parent": [], "change": []}  # per pair: artifact or None
    for i in range(a.pairs):
        seed = seeds[i % len(seeds)]
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for arm in order:
            tag = "%s-pair%d" % (arm, i)
            art = run_once(arms[arm], a.workload, seed, a.seconds, a.trace, out_dir, tag)
            runs[arm].append(art)
            if art is not None:
                m = art["result"]["metrics"]
                first = defs[0]["name"] if a.trace == "1" else "latency_p50_s"
                sys.stderr.write("pair %d seed %d %-6s %s=%s steal=%s failed=%s\n" % (
                    i, seed, arm, first, fmt(m.get(first, {}).get("value")),
                    fmt(art["context"].get("host_steal_share")), art["failed"]))

    print("workload %s, %d pairs, seeds %s, artifacts in %s" % (
        a.workload, a.pairs, a.seeds, out_dir))
    print("%-36s %12s %12s %12s %8s %6s  %s" % (
        "metric", "parent p50", "change p50", "parent IQR", "ratio", "wins", "note"))
    for d in defs:
        name, better = d["name"], d["better"]
        pairs = []
        for pa, ch in zip(runs["parent"], runs["change"]):
            if pa is None or ch is None:
                continue
            pv = pa["result"]["metrics"].get(name, {}).get("value")
            cv = ch["result"]["metrics"].get(name, {}).get("value")
            if pv is not None and cv is not None:
                pairs.append((pv, cv))
        if not pairs:
            continue
        pv = [p for p, _ in pairs]
        cv = [c for _, c in pairs]
        pm, cm, spread = statistics.median(pv), statistics.median(cv), iqr(pv)
        gain = (pm - cm) if better == "lower" else (cm - pm)
        wins = sum(1 for p, c in pairs if (c < p if better == "lower" else c > p))
        note = "beyond IQR" if gain > spread else ""
        if "bound" in d and pm:
            loss = -gain / abs(pm)
            if loss > d["bound"]:
                note = "WORSE than bound %.2f" % d["bound"]
        print("%-36s %12s %12s %12s %8s %3d/%-2d  %s" % (
            name, fmt(pm), fmt(cm), fmt(spread), fmt(cm / pm) if pm else "-",
            wins, len(pairs), note))
    for arm in ("parent", "change"):
        ok = [r for r in runs[arm] if r is not None]
        steal = [r["context"].get("host_steal_share") for r in ok]
        failed = sum(r["failed"] for r in ok)
        print("%s: %d/%d runs ok, failed operations %d, host_steal_share %s" % (
            arm, len(ok), len(runs[arm]), failed,
            " ".join(fmt(s) for s in steal)))
    return 0 if all(r is not None for rs in runs.values() for r in rs) else 1


if __name__ == "__main__":
    sys.exit(main())
