#!/usr/bin/env python3
"""Interleaved A/B pairs of the benchmark between two revisions.

    python3 tools/ab_pairs.py --workload ingest --pairs 10 --seed 401 \
        [--base HEAD~1] [--change HEAD] [--traced K] [--scratch DIR] \
        [--out bench/ab_ingest.json]

Run from the repository root. Each revision's committed files are exported with
`git archive` into its own directory under --scratch (a plain copy: nothing is
registered in this repository's .git, and uncommitted edits never leak into a
side). Keep --scratch short: sbt puts a unix socket under it, and socket paths
are limited to about 100 bytes. Pair i runs `python3 perfbench/run.py --workload W --seed SEED+i
--seconds S --trace 0` once in each copy, S being BENCHMARK.json's run_seconds;
the side that runs first alternates from pair to pair. For every end-to-end
metric of BENCHMARK.json it prints each side's median and quartiles, the change's
wins, ties and losses over the pairs, whether a gain may be claimed (wins in at
least nine tenths of all pairs, ties counting for neither, and a median gap wider
than the base's interquartile range) and whether the change's median stays inside
the metric's bound. Every run, the summary and the failure counts go to --out.

--traced K then runs K traced runs per side (`--trace 1`, seeds SEED..SEED+K-1), the
side that runs first again alternating. Each traced run's per-layer metrics and its
ingest_attribution_s (the split of the traced runToSinks wall into parse, build,
route, sink, tail) go under "traced" in --out, and the per-layer medians of both
sides are printed side by side: where a gain appeared, from the same command.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.getcwd()


def git(*args):
    return subprocess.run(["git", "-C", ROOT, *args], check=True, capture_output=True,
                          text=True).stdout.strip()


def export(rev, scratch):
    """The committed tree of `rev` in scratch/<sha>, exported once and reused."""
    sha = git("rev-parse", "--verify", f"{rev}^{{commit}}")
    path = os.path.join(scratch, sha[:8])
    if not os.path.isdir(path):
        tmp = path + ".partial"
        subprocess.run(["rm", "-rf", tmp], check=True)
        os.makedirs(tmp)
        archive = subprocess.Popen(["git", "-C", ROOT, "archive", sha], stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", tmp], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"ab_pairs: git archive {rev} failed")
        os.rename(tmp, path)
    return sha, path


def run_once(checkout, workload, seed, seconds, trace=0):
    """One benchmark run; returns its final JSON line plus exit code and wall time.
    A traced run also returns its ingest_attribution_s info line, when it prints one."""
    t0 = time.time()
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                          cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        res = {"correct": False, "attempted": 0, "failed": 0, "metrics": {},
               "stderr_tail": proc.stderr[-2000:]}
    prefix = "  ingest_attribution_s: "
    for line in lines:
        if line.startswith(prefix):
            res["ingest_attribution_s"] = json.loads(line[len(prefix):])
    res["exit"] = proc.returncode
    res["wall_s"] = round(time.time() - t0, 1)
    return res


def traced_runs(sides, workload, seed, seconds, k):
    """K traced runs per side, alternating which side goes first."""
    runs = []
    for i in range(k):
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for side in order:
            res = run_once(sides[side][1], workload, seed + i, seconds, trace=1)
            runs.append({"side": side, "seed": seed + i, "exit": res["exit"],
                         "wall_s": res["wall_s"], "correct": res["correct"],
                         "failed": res["failed"], "attempted": res["attempted"],
                         "ingest_attribution_s": res.get("ingest_attribution_s"),
                         "metrics": {n: m["value"] for n, m in res["metrics"].items()}})
            print(f"traced {i} seed {seed + i} {side}: exit={res['exit']}, "
                  f"wall={res['wall_s']}s", flush=True)
    return runs


def print_traced(runs, per_layer):
    """Per-layer medians of both sides, then the median attribution split."""
    def med(side, get):
        xs = [x for x in (get(r) for r in runs if r["side"] == side) if x is not None]
        return statistics.median(xs) if xs else None

    def fmt(x):
        return f"{x:.4g}" if x is not None else "n/a"
    print(f"\n{'per-layer metric (traced median)':<34} {'base':>11} {'change':>11} {'delta':>8}")
    rows = [(m["name"], (lambda r, n=m["name"]: r["metrics"].get(n))) for m in per_layer]
    parts = sorted({k for r in runs for k in (r["ingest_attribution_s"] or {})})
    rows += [(f"ingest_attribution_s.{p}", (lambda r, p=p: (r["ingest_attribution_s"] or {}).get(p)))
             for p in parts]
    for name, get in rows:
        b, c = med("base", get), med("change", get)
        rel = f"{100 * (c - b) / b:+.1f}%" if b and c is not None else ""
        print(f"{name:<34} {fmt(b):>11} {fmt(c):>11} {rel:>8}")


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def summarize(pairs, end_to_end):
    out = {}
    ok = [p for p in pairs if p["base"]["metrics"] and p["change"]["metrics"]]
    if not ok:
        return out
    for m in end_to_end:
        name, higher = m["name"], m["better"] == "higher"
        base = [p["base"]["metrics"][name]["value"] for p in ok]
        change = [p["change"]["metrics"][name]["value"] for p in ok]
        bq, cq = quartiles(base), quartiles(change)
        sign = 1 if higher else -1
        wins = sum(1 for b, c in zip(base, change) if sign * (c - b) > 0)
        losses = sum(1 for b, c in zip(base, change) if sign * (c - b) < 0)
        gap = sign * (cq[1] - bq[1])
        iqr = bq[2] - bq[0]
        worse = -gap / abs(bq[1]) if bq[1] else 0.0
        out[name] = {
            "unit": m["unit"], "better": m["better"], "bound": m["bound"],
            "base": {"median": bq[1], "q1": bq[0], "q3": bq[2], "runs": base},
            "change": {"median": cq[1], "q1": cq[0], "q3": cq[2], "runs": change},
            "rel_change": (cq[1] - bq[1]) / bq[1] if bq[1] else None,
            "wins": wins, "ties": len(ok) - wins - losses, "losses": losses,
            "gain_claimable": wins >= math.ceil(0.9 * len(pairs)) and gap > iqr,
            "within_bound": worse <= m["bound"],
        }
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=401, help="seed of pair 0; pair i uses seed+i")
    ap.add_argument("--base", default="HEAD~1")
    ap.add_argument("--change", default="HEAD")
    ap.add_argument("--traced", type=int, default=0, metavar="K",
                    help="after the pairs, K traced runs per side")
    ap.add_argument("--scratch", default=os.path.join(tempfile.gettempdir(), "ab_pairs"))
    ap.add_argument("--out", help="JSON file (default bench/ab_<workload>.json)")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = spec["run_seconds"]
    os.makedirs(a.scratch, exist_ok=True)
    sides = {"base": export(a.base, a.scratch), "change": export(a.change, a.scratch)}
    out = a.out or os.path.join("bench", f"ab_{a.workload}.json")

    pairs = []
    for i in range(a.pairs):
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        pair = {"pair": i, "seed": a.seed + i, "first": order[0]}
        for side in order:
            pair[side] = run_once(sides[side][1], a.workload, a.seed + i, seconds)
            if not pair[side]["metrics"]:
                sys.exit(f"ab_pairs: the {side} run of pair {i} exited {pair[side]['exit']} "
                         f"without metrics:\n{pair[side].get('stderr_tail', '')}")
        pairs.append(pair)
        print(f"pair {i} seed {a.seed + i} first={order[0]} " + " ".join(
            f"{s}:exit={pair[s]['exit']},wall={pair[s]['wall_s']}s" for s in ("base", "change")),
            flush=True)

    summary = summarize(pairs, spec["end_to_end"])
    failed = {s: [p[s]["failed"] for p in pairs] for s in ("base", "change")}
    attempted = {s: [p[s]["attempted"] for p in pairs] for s in ("base", "change")}
    print(f"\n{a.workload}: {a.pairs} pairs, base {sides['base'][0][:10]} vs change "
          f"{sides['change'][0][:10]}, {seconds} s runs")
    print(f"{'metric':<18} {'base median [q1, q3]':<30} {'change median [q1, q3]':<30} "
          f"{'delta':>7} {'W/T/L':>8}  claim  bound")
    for name, s in summary.items():
        b, c = s["base"], s["change"]
        rel = f"{100 * s['rel_change']:+.1f}%" if s["rel_change"] is not None else "n/a"
        print(f"{name:<18} {b['median']:>9.4g} [{b['q1']:.4g}, {b['q3']:.4g}]".ljust(49) +
              f" {c['median']:>9.4g} [{c['q1']:.4g}, {c['q3']:.4g}]".ljust(31) +
              f" {rel:>7} {s['wins']:>2}/{s['ties']}/{s['losses']:<2}  "
              f"{'yes' if s['gain_claimable'] else 'no':<5}  {'ok' if s['within_bound'] else 'WORSE'}")
    for side in ("base", "change"):
        print(f"failed/attempted {side}: {sum(failed[side])}/{sum(attempted[side])}")

    traced = traced_runs(sides, a.workload, a.seed, seconds, a.traced) if a.traced > 0 else []
    if traced:
        print_traced(traced, spec["per_layer"])

    os.makedirs(os.path.dirname(out) or ".", exist_ok=True)
    with open(out, "w") as fh:
        json.dump({"workload": a.workload, "seconds": seconds, "first_seed": a.seed,
                   "base": {"rev": a.base, "sha": sides["base"][0]},
                   "change": {"rev": a.change, "sha": sides["change"][0]},
                   "host": {"nproc": len(os.sched_getaffinity(0))},
                   "failed": failed, "attempted": attempted,
                   "summary": summary, "pairs": pairs, "traced": traced}, fh, indent=1)
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
