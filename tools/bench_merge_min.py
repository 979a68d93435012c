#!/usr/bin/env python3
"""Merge N graft.Bench JSON artifacts into one committed artifact of
per-entry minima (VERDICT r16 #8: promote the min-of-N contention
correction from BENCH_NOTES prose into the artifact format itself,
for rounds where no single canary-clean full pass is achievable on a
co-tenant-loaded box).

Each input is the one-line {"metric":"total",...} JSON from an
independent graft.Bench JVM run of the SAME (code, sfDir, box).
The output keeps the artifact shape plus:

  runs:    N (how many runs the minima were taken over)
  basis:   "per-entry min across N runs"
  per_run: each run's own total/canary/io/calib stamps, for auditing
  spread:  per row, max / min of its times across the N runs: the
           row's own noise floor, which tools/bench_compare.py uses
           (rows that failed, -1, in any run have none)

"queries" takes the per-entry minimum — contention hits different
entries in different runs, which is exactly why min-of-totals (or
picking the single best run) under-corrects. A row's "cold" and "warm"
entries (graft.Bench's mode maps: a row in "cold" reports its warm
re-run) come from the run its minimum came from, so a merged row's
mode is the mode of its time. "value" is recomputed
as the sum of the merged per-entry minima. "calib" takes the min
(the box's best observed speed). Top-level "contended" and
"io_pressured" are true only if EVERY run tripped them — one clean
run means the box had clean windows and the minima basis is sound;
the per_run block preserves each run's stamps either way.

Usage: python3 tools/bench_merge_min.py OUT.json IN1.json IN2.json [...]
"""
import json
import sys


def load(path):
    with open(path) as f:
        txt = f.read().strip()
    # tolerate sbt-prefixed captures: take the {"metric": line
    for line in txt.splitlines():
        line = line.strip()
        i = line.find('{"metric"')
        if i >= 0:
            return json.loads(line[i:])
    raise SystemExit(f"{path}: no bench JSON line found")


def main():
    if len(sys.argv) < 4:
        raise SystemExit("usage: bench_merge_min.py OUT.json IN1.json IN2.json [...]")
    out_path, in_paths = sys.argv[1], sys.argv[2:]
    runs = [load(p) for p in in_paths]

    keysets = [set(r["queries"]) for r in runs]
    if any(ks != keysets[0] for ks in keysets):
        diff = set.union(*keysets) - set.intersection(*keysets)
        raise SystemExit(f"query key sets differ across runs (not the same "
                         f"code/sfDir/subset?): {sorted(diff)}")
    if len({r.get("sf") for r in runs}) != 1:
        raise SystemExit("sf differs across runs")

    # the run each row's minimum came from (the first on a tie)
    best = {k: min(runs, key=lambda r: r["queries"][k])
            for k in sorted(keysets[0])}
    merged_q = {k: round(r["queries"][k], 3) for k, r in best.items()}

    per_run_fields = ["value", "canary_med", "canary_max", "contended",
                      "dirty_kb", "io_probe", "io_probes", "io_floor",
                      "io_bar", "io_pressured", "calib", "cached_builds"]
    per_run = [{f: r[f] for f in per_run_fields if f in r} for r in runs]

    out = dict(runs[0])  # carry sf/subset/only/etc. from run 1
    out["queries"] = merged_q
    for mode in ("cold", "warm"):
        out.pop(mode, None)
        if any(mode in r for r in runs):
            out[mode] = {k: r[mode][k] for k, r in best.items()
                         if k in r.get(mode, {})}
    out["spread"] = {k: round(max(r["queries"][k] for r in runs) / merged_q[k], 3)
                     for k in merged_q if merged_q[k] > 0}
    out["value"] = round(sum(merged_q.values()), 3)
    out["runs"] = len(runs)
    out["basis"] = f"per-entry min across {len(runs)} runs"
    out["per_run"] = per_run
    if all("calib" in r for r in runs):
        out["calib"] = min(r["calib"] for r in runs)
    for flag in ("contended", "io_pressured"):
        if any(flag in r for r in runs):
            out[flag] = all(bool(r.get(flag)) for r in runs)
    # the single-run canary fields would misrepresent a merged artifact:
    # report the cleanest run's values (minima basis = best windows)
    if all("canary_med" in r for r in runs):
        out["canary_med"] = min(r["canary_med"] for r in runs)
        out["canary_max"] = min(r["canary_max"] for r in runs)

    with open(out_path, "w") as f:
        json.dump(out, f)
        f.write("\n")
    print(f"merged {len(runs)} runs -> {out_path}: total={out['value']} "
          f"contended={out.get('contended')} io_pressured={out.get('io_pressured')}")


if __name__ == "__main__":
    main()
