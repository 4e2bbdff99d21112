#!/usr/bin/env python3
"""Alternating A/B pairs of graft's benchmark: a parent revision against
this checkout.

    python3 tools/perfbench_ab.py <parent-rev> --workload scan_etl --pairs 10

The parent revision's committed files are exported (`git archive`) into
`.bench_build/ab/<rev>` — the same committed-files-only checkout the
benchmark gate runs — and the genomic corpus already generated on either
side is copied to the other instead of being generated twice. Pair i
runs `perfbench/run.py --workload <w> --seed <first-seed + i> --seconds
<s> --trace 0` once on each side; the parent goes first on odd pairs, the
change on even ones.

For each end-to-end metric of BENCHMARK.json it prints both sides' median
and quartiles, the change's win count (ties count for neither side), and
the verdict of the choosing-metrics rule: a gain needs wins in at least
9/10 of the pairs and a median gap, in the better direction, wider than
the parent's interquartile range; a median worse than the parent's by more
than the metric's bound is flagged. Every run's figures go to
`.bench_build/ab/<rev>-<workload>.json`.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
AB = os.path.join(ROOT, ".bench_build", "ab")


def export(rev):
    """The parent's committed files under .bench_build/ab/<sha>."""
    sha = subprocess.run(["git", "rev-parse", "--verify", rev + "^{commit}"],
                         cwd=ROOT, check=True, capture_output=True,
                         text=True).stdout.strip()
    d = os.path.join(AB, sha[:12])
    if not os.path.isdir(d):
        os.makedirs(d + ".tmp", exist_ok=True)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT,
                                   stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", d + ".tmp"], stdin=archive.stdout,
                       check=True)
        if archive.wait() != 0:
            sys.exit(f"git archive {sha} failed")
        os.rename(d + ".tmp", d)
    return sha[:12], d


def share_corpus(a, b):
    """Copy generated inputs (corpus-*, train-*) present in one checkout's
    .bench_build/graft but missing from the other's."""
    for src, dst in ((a, b), (b, a)):
        sw = os.path.join(src, ".bench_build", "graft")
        dw = os.path.join(dst, ".bench_build", "graft")
        if not os.path.isdir(sw):
            continue
        for name in os.listdir(sw):
            if name.startswith(("corpus-", "train-")) and \
                    not os.path.exists(os.path.join(dw, name)):
                shutil.copytree(os.path.join(sw, name),
                                os.path.join(dw, name))


def run(checkout, workload, seed, seconds, log):
    """One benchmark run; returns its final JSON line."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=log,
        stdin=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.exit(f"run failed in {checkout} (seed {seed}); see {log.name}")
    return json.loads(lines[-1])


def quartiles(xs):
    """(q1, median, q3)."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    return tuple(statistics.quantiles(xs, n=4, method="inclusive"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent_rev")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    sha, parent = export(a.parent_rev)
    os.makedirs(AB, exist_ok=True)
    out_path = os.path.join(AB, f"{sha}-{a.workload}.json")
    runs = []
    with open(os.path.join(AB, f"{sha}-{a.workload}.log"), "w") as log:
        for i in range(a.pairs):
            seed = a.first_seed + i
            order = [("parent", parent), ("change", ROOT)]
            if i % 2 == 1:
                order.reverse()
            pair = {"seed": seed, "first": order[0][0]}
            for side, checkout in order:
                share_corpus(parent, ROOT)
                pair[side] = run(checkout, a.workload, seed, a.seconds, log)
            runs.append(pair)
            print(f"pair {i + 1}/{a.pairs} seed {seed} ({pair['first']} "
                  "first): " + ", ".join(
                      f"{m['name']} {pair['parent']['metrics'][m['name']]['value']:.4g}"
                      f"->{pair['change']['metrics'][m['name']]['value']:.4g}"
                      for m in metrics), flush=True)
            with open(out_path, "w") as f:
                json.dump({"parent": sha, "workload": a.workload,
                           "seconds": a.seconds, "pairs": runs}, f, indent=1)

    for side in ("parent", "change"):
        bad = [(r["seed"], r[side]["failed"]) for r in runs
               if r[side]["failed"] or not r[side]["correct"]]
        print(f"{side}: {len(runs)} runs, failed or incorrect runs: "
              f"{bad or 'none'}")
    n = len(runs)
    print(f"\n{a.workload}: {n} pairs of {a.seconds:g} s, seeds "
          f"{a.first_seed}-{a.first_seed + n - 1}")
    print(f"{'metric':14} {'parent median [q1, q3]':30} "
          f"{'change median [q1, q3]':30} {'wins':>6}  verdict")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        p = [r["parent"]["metrics"][name]["value"] for r in runs]
        c = [r["change"]["metrics"][name]["value"] for r in runs]
        wins = sum((y < x) if lower else (y > x) for x, y in zip(p, c))
        pq1, pmed, pq3 = quartiles(p)
        cq1, cmed, cq3 = quartiles(c)
        gap = (pmed - cmed) if lower else (cmed - pmed)
        move = f"median {cmed / pmed - 1:+.1%}"
        if wins >= 0.9 * n and gap > pq3 - pq1:
            verdict = f"gain ({move})"
        elif -gap / pmed > m["bound"]:
            verdict = f"worse ({move}), beyond the {m['bound']:.0%} bound"
        else:
            verdict = f"no gain ({move})"
        print(f"{name:14} {f'{pmed:.4g} [{pq1:.4g}, {pq3:.4g}]':30} "
              f"{f'{cmed:.4g} [{cq1:.4g}, {cq3:.4g}]':30} "
              f"{wins:>3}/{n:<2}  {verdict}")
    print(f"\nevery run: {out_path}")


if __name__ == "__main__":
    main()
