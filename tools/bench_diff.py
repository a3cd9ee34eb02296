#!/usr/bin/env python3
"""Per-query bench regression tripwire.

Compares a new bench run against a reference run and FAILS (exit 1) if any
shared query regressed by more than the threshold (default 2x) — the
round-4 lesson: a contaminated bench run (11 unchanged-code queries reading
3-30x slower) must be caught at the repo, not by the judge.

Usage:
  python3 tools/bench_diff.py [NEW] [OLD] [--threshold 2.0]

NEW defaults to bench_last.json (two JSON lines: detailed then summary).
OLD defaults to the highest-numbered BENCH_r*.json whose per-query map is
recoverable. Both arguments accept either format:
  - a Bench.scala output file (first line has a "queries" map), or
  - a driver BENCH_rN.json wrapper ("tail" capture; per-query numbers are
    regexed out, tolerating a head-truncated tail).
"""
import glob
import json
import re
import sys

PAIR = re.compile(r'"((?:[qsx]|x)_[a-z0-9_]+)":(-?[0-9][0-9.eE+-]*)')
CALIB = re.compile(r'"calib_sec":([0-9][0-9.eE+-]*)')


def load_calib(path):
    """Box-speed calibration seconds from a bench artifact, or None."""
    try:
        with open(path) as f:
            m = CALIB.search(f.read())
        return float(m.group(1)) if m else None
    except OSError:
        return None


def load_queries(path):
    """Return {query: seconds} from either supported format."""
    with open(path) as f:
        text = f.read()
    # Either a whole-file JSON (driver wrapper, pretty-printed) or a
    # Bench output whose first parseable line has a "queries" map.
    candidates = [text] + text.splitlines()
    for chunk in candidates:
        chunk = chunk.strip()
        if not chunk.startswith("{"):
            continue
        try:
            obj = json.loads(chunk)
        except json.JSONDecodeError:
            continue
        if isinstance(obj, dict) and isinstance(obj.get("queries"), dict):
            # Errored queries are recorded as JSON null (older runs used a
            # negative elapsed time); normalize both to the same failed
            # sentinel so the newly-FAILING check keeps working.
            return {k: (-1.0 if v is None else float(v))
                    for k, v in obj["queries"].items()}
        if isinstance(obj, dict) and isinstance(obj.get("tail"), str):
            text = obj["tail"]  # driver wrapper: fall through to regex
            break
    # Tail capture (possibly head-truncated): regex out "name":seconds
    # pairs; the summary line repeats no query names, so pairs are unique.
    out = {}
    for name, val in PAIR.findall(text):
        out[name] = float(val)
    return out


def main():
    argv = sys.argv[1:]
    args, threshold = [], 2.0
    i = 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--threshold"):
            if "=" in a:
                threshold = float(a.split("=", 1)[1])
            else:
                i += 1
                threshold = float(argv[i])
        else:
            args.append(a)
        i += 1
    new_path = args[0] if len(args) > 0 else "bench_last.json"
    if len(args) > 1:
        old_path = args[1]
    else:
        # tools/bench_ref.txt names the canonical clean reference — the
        # newest BENCH_r*.json is NOT a safe default (round 4's file
        # recorded a contention-contaminated run; diffing against it
        # would mask real regressions behind 3-30x inflated baselines).
        old_path = None
        try:
            ref = open("tools/bench_ref.txt").read().strip()
            if ref and load_queries(ref):
                old_path = ref
        except OSError:
            pass
        if old_path is None:
            for cand in sorted(glob.glob("BENCH_r*.json"), reverse=True):
                if load_queries(cand):
                    old_path = cand
                    break
        if old_path is None:
            print("bench_diff: no reference BENCH_r*.json with per-query "
                  "numbers found; nothing to compare")
            return 0

    new = load_queries(new_path)
    old = load_queries(old_path)
    if not new:
        print(f"bench_diff: no per-query numbers in {new_path}")
        return 1
    shared = sorted(set(new) & set(old))
    # A head-truncated driver tail capture silently drops early-alphabet
    # queries; surface the shrunken coverage instead of letting a diff
    # over a subset read as "covered everything".
    only_old, only_new = len(set(old) - set(new)), len(set(new) - set(old))
    if only_old or only_new:
        print(f"bench_diff: note — {only_old} reference-only and "
              f"{only_new} new-only queries excluded from comparison "
              f"(head-truncated tail capture or changed query set)")
    if not shared:
        print(f"bench_diff: no shared queries between {new_path} and "
              f"{old_path}")
        return 1

    # Box-speed calibration: a fixed CPU-bound workload timed inside each
    # bench run. A calib ratio far from 1.0 means the BOX changed speed
    # between the runs (VM host drift — round 9 measured 1.36x uniform on
    # identical code), so per-query ratios are NORMALIZED by the calib
    # ratio before the gate: the round-9 recert spent a week of bisection
    # proving nine >2x raw "regressions" were all box drift that the
    # calib-divided ratio clears mechanically. Raw ratios stay in the
    # printout so a genuinely slower box is still visible.
    c_new, c_old = load_calib(new_path), load_calib(old_path)
    calib_ratio = (c_new / c_old) if (c_new and c_old) else 1.0

    rows, broke = [], []
    for q in shared:
        o, n = old[q], new[q]
        if n <= 0 < o:  # passed before, FAILED now — worst regression
            broke.append(q)
            continue
        if o <= 0 or n <= 0:  # failed in the reference too; no ratio
            continue
        rows.append((n / o / calib_ratio, q, o, n))
    rows.sort(reverse=True)

    # Baseline-scaled delta floor next to the ratio: sub-second queries
    # swing 2-3x on pure JIT/GC jitter (observed 0.14s -> 0.33s with zero
    # code change, warm-rep confirmed), so the floor absorbs up to
    # NOISE_K x the query's own baseline — but it is CAPPED at ABS_CAP so
    # a multi-second query regressing >threshold always trips, and it
    # never drops below MIN_DELTA (timer granularity). A fixed 0.5s floor
    # (the previous form) let a 40ms query regress 10x to 0.4s silently;
    # now floor(40ms) = 80ms and that regression fails, while floor(5s) =
    # 0.5s keeps real big-query regressions failing. Genuine sub-second
    # jitter that still trips is already re-measured with warm reps
    # inside the Bench artifact ("triage"); re-time a flagged query with
    # QProf (q1,q2 <reps> <sfDir> keepcache) before believing it.
    # The delta floor is applied on the calib-adjusted new time so a box
    # that is uniformly 1.5x slower doesn't push every small query over
    # its own floor.
    MIN_DELTA, ABS_CAP, NOISE_K = 0.02, 0.5, 2.0
    regressed = [r for r in rows
                 if r[0] > threshold and
                 (r[3] / calib_ratio - r[2]) >
                 max(MIN_DELTA, min(ABS_CAP, NOISE_K * r[2]))]
    new_total = sum(n for _, _, _, n in rows)
    old_total = sum(o for _, _, o, _ in rows)
    if not rows:
        print(f"bench_diff: FAIL — no comparable query times between "
              f"{new_path} and {old_path} "
              f"({len(broke)} queries newly failing)")
        return 1
    print(f"bench_diff: {new_path} vs {old_path} — {len(rows)} shared "
          f"queries, total {old_total:.1f}s -> {new_total:.1f}s "
          f"({new_total / old_total:.2f}x raw, "
          f"{new_total / old_total / calib_ratio:.2f}x calib-normalized)")
    if c_new and c_old:
        print(f"bench_diff: box calibration {c_old:.2f}s -> {c_new:.2f}s "
              f"({calib_ratio:.2f}x) — per-query ratios are divided by "
              f"this before the >{threshold}x gate")
    elif c_new:
        print(f"bench_diff: note — new run calib_sec={c_new:.2f}s; "
              f"reference has no calibration (pre-round-9 artifact); "
              f"gating on RAW ratios")
    if broke:
        print(f"bench_diff: FAIL — newly FAILING queries (passed in "
              f"{old_path}): {', '.join(broke)}")
        return 1
    for norm, q, o, n in rows[:8]:
        tag = " <-- REGRESSED" if norm > threshold else ""
        print(f"  {q:24s} {o:7.3f}s -> {n:7.3f}s  raw {n / o:5.2f}x  "
              f"norm {norm:5.2f}x{tag}")
    if regressed:
        print(f"bench_diff: FAIL — {len(regressed)} queries regressed "
              f">{threshold}x after box-calibration normalization "
              f"(calib ratio {calib_ratio:.2f}x already divided out; "
              f"re-time with QProf <q1,q2> <reps> <sfDir> keepcache "
              f"before believing it)")
        return 1
    print(f"bench_diff: OK — no query regressed >{threshold}x "
          f"(calib-normalized)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
