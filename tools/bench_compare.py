#!/usr/bin/env python3
"""Compare two graft.Bench artifacts row by row, leaving out the rows
either run flagged as contention-dirty.

graft.Bench times a fixed canary query after every entry and lists
the entries whose canary ran slow in "canary_dirty": the box was
contended while they ran, so their times say nothing about the code.
A dirty entry covers its own row and, for a split entry, its
"<entry>_build" and "<entry>_probe" rows. This script drops every row
that is dirty in EITHER arm, and every row that failed (-1) or exists
in only one arm, before it classifies anything, and prints the
names of the failed and one-arm rows.

graft.Bench reports a row's warm re-run when its cold run is under
3.0 s (the row is then in the artifact's "cold" map) and the cold run
otherwise, with a warm re-run in the "warm" map when cold is under
6.0 s. A row reported warm in one arm and cold in the other is a mode
flip: its cold arm's "warm" entry is used when there is one, so warm
is compared with warm. A flip with no such entry is listed under
"mode flips" and left out of regressed, improved and the totals.

Each remaining row is classified by NEW/BASE time:
  regressed  NEW > BASE * 1.10 and NEW - BASE > 0.05 s
             and NEW / BASE > both arms' spread
  improved   NEW < BASE / 1.10 and BASE - NEW > 0.05 s
             and BASE / NEW > both arms' spread
  flat       otherwise
The absolute floor keeps scheduler jitter on fast rows out of both
lists. A row's spread is max / min of its times across the runs an
artifact merged (the "spread" map bench_merge_min.py writes); a
single-run artifact has none and counts as 1.0. Rows that pass the
10 % and 0.05 s rule but not the spread rule are listed as "within
spread": the change is no larger than the row's own run-to-run noise.

Inputs may be a raw {"metric":"total",...} line (a bench_out.json or a
bench_merge_min.py output), an sbt-prefixed capture of that line, or a
run record that nests it under "parsed" (the BENCH_r*.json files).

Usage: python3 tools/bench_compare.py BASE.json NEW.json
"""
import json
import sys

SPLIT_SUFFIXES = ("_build", "_probe")
RATIO = 0.10
FLOOR_S = 0.05


def load(path):
    with open(path) as f:
        txt = f.read().strip()
    try:
        doc = json.loads(txt)
    except json.JSONDecodeError:
        doc = None
        # tolerate sbt-prefixed captures: take the {"metric": line
        for line in txt.splitlines():
            i = line.find('{"metric"')
            if i >= 0:
                doc = json.loads(line[i:].strip())
                break
    if isinstance(doc, dict) and "parsed" in doc:
        doc = doc["parsed"]
    if not isinstance(doc, dict) or "queries" not in doc:
        raise SystemExit(f"{path}: no bench JSON with a queries map found")
    return doc


def dirty_rows(doc):
    """Row names covered by the artifact's canary_dirty entries."""
    dirty = set(doc.get("canary_dirty") or [])
    rows = set()
    for row in doc["queries"]:
        owner = row
        for suf in SPLIT_SUFFIXES:
            if row.endswith(suf) and row[: -len(suf)] in dirty:
                owner = row[: -len(suf)]
        if owner in dirty:
            rows.add(row)
    return rows


def mode(doc, row):
    """"warm" or "cold": which run the artifact reports for `row`, or
    None for an artifact without a "cold" map."""
    if "cold" not in doc:
        return None
    return "warm" if row in doc["cold"] else "cold"


def main():
    if len(sys.argv) != 3:
        raise SystemExit("usage: bench_compare.py BASE.json NEW.json")
    base, new = load(sys.argv[1]), load(sys.argv[2])
    bq, nq = base["queries"], new["queries"]
    dirty = dirty_rows(base) | dirty_rows(new)
    shared = sorted(set(bq) & set(nq))
    failed = [r for r in shared if bq[r] < 0 or nq[r] < 0]
    clean = [r for r in shared if r not in dirty and r not in failed]

    # like with like: a row reported warm in one arm and cold in the
    # other takes its cold arm's warm re-run, or is set aside
    bq, nq = dict(bq), dict(nq)
    flips = []
    for r in clean:
        mb, mn = mode(base, r), mode(new, r)
        if mb is None or mn is None or mb == mn:
            continue
        cold_doc, cold_q = (base, bq) if mb == "cold" else (new, nq)
        warm = cold_doc.get("warm", {}).get(r)
        if warm is not None:
            cold_q[r] = warm
        else:
            flips.append(r)
    clean = [r for r in clean if r not in flips]

    def floor(r):
        return max(base.get("spread", {}).get(r, 1.0), new.get("spread", {}).get(r, 1.0))

    regressed, improved, within = [], [], []
    for r in clean:
        b, n = bq[r], nq[r]
        if n > b * (1 + RATIO) and n - b > FLOOR_S:
            (regressed if b > 0 and n / b > floor(r) else within).append(r)
        elif n * (1 + RATIO) < b and b - n > FLOOR_S:
            (improved if n > 0 and b / n > floor(r) else within).append(r)

    def show(title, rows):
        print(f"{title} ({len(rows)}):")
        for r in sorted(rows, key=lambda r: nq[r] / bq[r] if bq[r] > 0 else 0.0):
            ratio = nq[r] / bq[r] if bq[r] > 0 else float("inf")
            print(f"  {r:40s} {bq[r]:9.3f} -> {nq[r]:9.3f}  x{ratio:.3f}")

    show("regressed", regressed)
    show("improved", improved)
    if within:
        print(f"within spread, left flat ({len(within)}):")
        for r in sorted(within):
            print(f"  {r:40s} {bq[r]:9.3f} -> {nq[r]:9.3f}  x{nq[r] / bq[r]:.3f}  "
                  f"spread x{floor(r):.3f}")
    if flips:
        print(f"mode flips, left out ({len(flips)}):")
        for r in flips:
            print(f"  {r:40s} {bq[r]:9.3f} ({mode(base, r)}) -> "
                  f"{nq[r]:9.3f} ({mode(new, r)}), no warm re-run in the cold arm")
    only_base, only_new = sorted(set(bq) - set(nq)), sorted(set(nq) - set(bq))
    print(f"dropped: {len(dirty & set(shared))} canary-dirty, {len(failed)} failed, "
          f"{len(only_base) + len(only_new)} in one arm only")
    if dirty & set(shared):
        print("  dirty: " + ", ".join(sorted(dirty & set(shared))))
    if failed:
        print("  failed: " + ", ".join(
            f"{r} ({'both' if bq[r] < 0 and nq[r] < 0 else 'base' if bq[r] < 0 else 'new'})"
            for r in failed))
    if only_base:
        print("  base only: " + ", ".join(only_base))
    if only_new:
        print("  new only: " + ", ".join(only_new))
    tb, tn = sum(bq[r] for r in clean), sum(nq[r] for r in clean)
    ratio = tn / tb if tb > 0 else float("nan")
    print(f"clean rows: {len(clean)}  total {tb:.3f} -> {tn:.3f} s  x{ratio:.3f}  "
          f"({len(regressed)} regressed, {len(improved)} improved, "
          f"{len(clean) - len(regressed) - len(improved)} flat, {len(within)} of them "
          f"within spread)")


if __name__ == "__main__":
    main()
