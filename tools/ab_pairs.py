"""Same-window A/B of the repository's benchmark between two checkouts.

    python3 tools/ab_pairs.py --base <dir> --change <dir> --workload <name>
        --seeds 201-210 [--pairs N] [--seconds 5] [--trace 0]
        [--claim wall_s] [--out ab.json]

Runs `perfbench/run.py` from each checkout in turn, one pair per seed
(seeds cycle when --pairs exceeds their count). The side that goes first
alternates from pair to pair, so drift of the host over the window hits
both sides alike. For every end-to-end metric it prints each side's
median and quartiles, the change's relative move, and the number of pairs
the change won (the better direction comes from the change's
BENCHMARK.json). For each --claim metric it also checks the 9-of-10 rule:
the change wins at least 9/10 of the pairs and its median beats the base
median by more than the base's inter-quartile range. The host's CPU steal
during each run is printed next to it: a run on a stolen host reads slow
for reasons outside the program, so the summary is printed a second time
over only the pairs whose two runs' steal differs by at most STEAL_GAP
points, with the number of such pairs: every end-to-end metric with the
9-of-10 verdict it would get, then each --claim verdict. --out writes
every run record and both summaries as JSON, with each checkout's commit
(and whether its tree was edited) in place of its path.
"""
import argparse
import json
import math
import os
import re
import statistics
import subprocess
import sys

STEAL = re.compile(r"host CPU steal during the run ([0-9.]+)%")
STEAL_GAP = 2.0  # percentage points


def seed_list(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi) + 1)) if hi else [int(lo)]
    return out


def run(checkout, a, seed):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", a.workload,
           "--seed", str(seed), "--seconds", str(a.seconds), "--trace", a.trace]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    steal = STEAL.findall(p.stderr)
    rec = {"seed": seed, "rc": p.returncode,
           "steal_pct": float(steal[-1]) if steal else None}
    lines = p.stdout.strip().splitlines()
    try:
        rec.update(json.loads(lines[-1]))
    except (IndexError, ValueError):
        rec["error"] = (p.stderr.strip().splitlines() or ["no output"])[-1]
    return rec


def revision(checkout):
    """The checkout's commit, and whether its tree differs from it."""
    git = ["git", "-C", checkout]
    head = subprocess.run(git + ["rev-parse", "--short", "HEAD"], capture_output=True, text=True)
    dirty = subprocess.run(git + ["status", "--porcelain", "--untracked-files=no"],
                           capture_output=True, text=True)
    return {"head": head.stdout.strip() or None, "dirty": bool(dirty.stdout.strip())}


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def directions(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as fh:
        return {m["name"]: m["better"] for m in json.load(fh)["end_to_end"]}


def summarize(pairs, better, claims):
    """One row per end-to-end metric, each with its 9-of-10 verdict, and
    the verdicts of the `claims`."""
    rows = []
    ok = [(b, c) for b, c in pairs if "metrics" in b and "metrics" in c]
    for name, way in better.items():
        got = [(b["metrics"][name]["value"], c["metrics"][name]["value"]) for b, c in ok
               if name in b["metrics"] and name in c["metrics"]]
        if not got:
            continue
        bs, cs = [x for x, _ in got], [y for _, y in got]
        (bq1, bmed, bq3), (cq1, cmed, cq3) = quartiles(bs), quartiles(cs)
        wins = sum((y < x) if way == "lower" else (y > x) for x, y in got)
        gap = (bmed - cmed) if way == "lower" else (cmed - bmed)
        need = math.ceil(0.9 * len(got))
        rows.append({"metric": name, "better": way, "pairs": len(got), "wins": wins,
                     "base": [bq1, bmed, bq3], "change": [cq1, cmed, cq3],
                     "move_pct": 100.0 * (cmed - bmed) / bmed if bmed else None,
                     "gap": gap, "base_iqr": bq3 - bq1,
                     "need": need, "met": wins >= need and gap > bq3 - bq1})
    return rows, {r["metric"]: r for r in rows if r["metric"] in claims}


def steal_matched(pairs):
    """The pairs whose two runs' host CPU steal differs by at most STEAL_GAP
    points; a pair missing either figure is left out."""
    return [(b, c) for b, c in pairs
            if b.get("steal_pct") is not None and c.get("steal_pct") is not None
            and abs(b["steal_pct"] - c["steal_pct"]) <= STEAL_GAP]


def verdict_line(name, v):
    return (f"claim {name}: wins {v['wins']} (need {v['need']}), median gap {v['gap']:.4g} "
            f"vs base IQR {v['base_iqr']:.4g} -> {'MET' if v['met'] else 'NOT met'}")


def print_rows(rows, verdict=False):
    for r in rows:
        b, c = r["base"], r["change"]
        move = f"{r['move_pct']:+.1f}%" if r["move_pct"] is not None else "n/a"
        rule = f"  9/10 rule {'MET' if r['met'] else 'not met'}" if verdict else ""
        print(f"  {r['metric']:13s} {b[1]:.4g} [{b[0]:.4g}, {b[2]:.4g}] -> "
              f"{c[1]:.4g} [{c[0]:.4g}, {c[2]:.4g}]  {move}  wins {r['wins']}/{r['pairs']}{rule}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="checkout measured as the parent")
    ap.add_argument("--change", required=True, help="checkout measured as the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 201-210 or 7,9,11")
    ap.add_argument("--pairs", type=int, default=0, help="default: one pair per seed")
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--claim", action="append", default=[], help="metric held to the 9/10 rule")
    ap.add_argument("--out", help="write run records and summary as JSON")
    a = ap.parse_args()

    seeds = seed_list(a.seeds)
    n = a.pairs or len(seeds)
    sides = {"base": os.path.abspath(a.base), "change": os.path.abspath(a.change)}
    pairs = []
    for i in range(n):
        seed = seeds[i % len(seeds)]
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        got = {}
        for side in order:
            got[side] = rec = run(sides[side], a, seed)
            rec["first"] = side == order[0]
            m = rec.get("metrics", {})
            shown = " ".join(f"{k}={m[k]['value']:.4g}" for k in (a.claim or list(m)[:3]) if k in m)
            print(f"pair {i + 1}/{n} seed {seed} {side:6s} steal {rec['steal_pct']}% "
                  f"correct {rec.get('correct')} {shown or rec.get('error', '')}", flush=True)
        pairs.append((got["base"], got["change"]))

    better = directions(sides["change"])
    rows, verdicts = summarize(pairs, better, set(a.claim))
    matched = steal_matched(pairs)
    matched_rows, matched_verdicts = summarize(matched, better, set(a.claim))
    print(f"\n{a.workload}: {n} pairs, medians [q1, q3], base -> change")
    print_rows(rows)
    for name, v in verdicts.items():
        print(verdict_line(name, v))
    print(f"\n{len(matched)} of {n} pairs have steal within {STEAL_GAP:g} points of each other; "
          "over those pairs:")
    print_rows(matched_rows, verdict=True)
    for name, v in matched_verdicts.items():
        print(f"  over those pairs, {verdict_line(name, v)}")
    if a.out:
        with open(a.out, "w") as fh:
            json.dump({"workload": a.workload, "seconds": a.seconds, "trace": a.trace,
                       "base": revision(sides["base"]), "change": revision(sides["change"]),
                       "pairs": [{"base": b, "change": c} for b, c in pairs],
                       "summary": rows, "claims": verdicts,
                       "steal_matched": {"max_gap_points": STEAL_GAP, "pairs": len(matched),
                                         "summary": matched_rows,
                                         "claims": matched_verdicts}}, fh, indent=1)


if __name__ == "__main__":
    main()
