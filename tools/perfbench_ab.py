#!/usr/bin/env python3
"""Alternating A/B pairs of graft's benchmark: a parent revision against
this checkout.

    python3 tools/perfbench_ab.py <parent-rev> --workload scan_etl --pairs 10
    python3 tools/perfbench_ab.py <parent-rev> \
        --workload scan_etl,region_queries --pairs 10

The parent revision's committed files are exported (`git archive`) into
`.bench_build/ab/<rev>` — the same committed-files-only checkout the
benchmark gate runs — and the genomic corpus already generated on either
side is copied to the other instead of being generated twice. Pair i
runs `perfbench/run.py --workload <w> --seed <first-seed + i> --seconds
<s> --trace 0` once on each side for every listed workload in turn; the
parent goes first on odd pairs, the change on even ones.

For each workload, and each end-to-end metric of BENCHMARK.json, it
prints both sides' median
and quartiles, the change's win count (ties count for neither side), and
the verdict of the choosing-metrics rule: a gain needs wins in at least
9/10 of the pairs and a median gap, in the better direction, wider than
the parent's interquartile range; a median worse than the parent's by more
than the metric's bound is flagged. Under `setup_s` it prints each
side's first set-up run and the median of its later ones (the record's
`setup_runs_s`): work the warm-up left pending shows as a gap in the
first run. It then prints each side's median
latency per operation kind (the record's `kind_median_s`, read from
`.bench_build/graft/records/<workload>-seed<n>-trace0.json` in that
side's checkout), which ties a change in the latency quantiles to the
kind of operation that carries it. Every run's figures go to
`.bench_build/ab/<rev>-<workload>.json`, one file per workload.
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
    """One benchmark run: its final JSON line plus the record's
    `kind_median_s` and `setup_runs_s`."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=log,
        stdin=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.exit(f"run failed in {checkout} (seed {seed}); see {log.name}")
    result = json.loads(lines[-1])
    record = os.path.join(checkout, ".bench_build", "graft", "records",
                          f"{workload}-seed{seed}-trace0.json")
    with open(record) as f:
        rec = json.load(f)
    result["kind_median_s"] = rec["kind_median_s"]
    result["setup_runs_s"] = rec["setup_runs_s"]
    return result


def setup_split(result):
    """(first set-up run, median of the later ones): work the warm-up left
    pending lands in the first run."""
    runs = result["setup_runs_s"]
    return runs[0], statistics.median(runs[1:]) if len(runs) > 1 else runs[0]


def quartiles(xs):
    """(q1, median, q3)."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    return tuple(statistics.quantiles(xs, n=4, method="inclusive"))


def report(workload, runs, metrics, seconds, first_seed):
    """The per-metric and per-kind tables of one workload's pairs."""
    for side in ("parent", "change"):
        bad = [(r["seed"], r[side]["failed"]) for r in runs
               if r[side]["failed"] or not r[side]["correct"]]
        print(f"{side}: {len(runs)} runs, failed or incorrect runs: "
              f"{bad or 'none'}")
    n = len(runs)
    print(f"\n{workload}: {n} pairs of {seconds:g} s, seeds "
          f"{first_seed}-{first_seed + n - 1}")
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
        if name == "setup_s":
            for i, label in ((0, "  first run"), (1, "  later runs")):
                p = [setup_split(r["parent"])[i] for r in runs]
                c = [setup_split(r["change"])[i] for r in runs]
                wins = sum((y < x) for x, y in zip(p, c))
                pq1, pmed, pq3 = quartiles(p)
                cq1, cmed, cq3 = quartiles(c)
                print(f"{label:14} {f'{pmed:.4g} [{pq1:.4g}, {pq3:.4g}]':30} "
                      f"{f'{cmed:.4g} [{cq1:.4g}, {cq3:.4g}]':30} "
                      f"{wins:>3}/{n:<2}")
    kinds = sorted({k for r in runs for side in ("parent", "change")
                    for k in r[side]["kind_median_s"]})
    print(f"\n{'kind (ms)':14} {'parent median [q1, q3]':30} "
          f"{'change median [q1, q3]':30} {'faster':>6}")
    for k in kinds:
        both = [r for r in runs if k in r["parent"]["kind_median_s"] and
                k in r["change"]["kind_median_s"]]
        if not both:
            continue
        p = [1e3 * r["parent"]["kind_median_s"][k] for r in both]
        c = [1e3 * r["change"]["kind_median_s"][k] for r in both]
        wins = sum(y < x for x, y in zip(p, c))
        pq1, pmed, pq3 = quartiles(p)
        cq1, cmed, cq3 = quartiles(c)
        print(f"{k:14} {f'{pmed:.4g} [{pq1:.4g}, {pq3:.4g}]':30} "
              f"{f'{cmed:.4g} [{cq1:.4g}, {cq3:.4g}]':30} "
              f"{wins:>3}/{len(both):<2}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent_rev")
    ap.add_argument("--workload", required=True,
                    help="one workload, or several separated by commas")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    workloads = [w for w in a.workload.split(",") if w]
    if not workloads:
        sys.exit("--workload names no workload")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    sha, parent = export(a.parent_rev)
    os.makedirs(AB, exist_ok=True)
    runs = {w: [] for w in workloads}
    logs = {w: open(os.path.join(AB, f"{sha}-{w}.log"), "w")
            for w in workloads}
    try:
        for i in range(a.pairs):
            seed = a.first_seed + i
            order = [("parent", parent), ("change", ROOT)]
            if i % 2 == 1:
                order.reverse()
            for w in workloads:
                pair = {"seed": seed, "first": order[0][0]}
                for side, checkout in order:
                    share_corpus(parent, ROOT)
                    pair[side] = run(checkout, w, seed, a.seconds, logs[w])
                runs[w].append(pair)
                print(f"pair {i + 1}/{a.pairs} {w} seed {seed} "
                      f"({pair['first']} first): " + ", ".join(
                          f"{m['name']} "
                          f"{pair['parent']['metrics'][m['name']]['value']:.4g}"
                          f"->{pair['change']['metrics'][m['name']]['value']:.4g}"
                          for m in metrics) +
                      ", setup first/later " + ", ".join(
                          "{:.3g}/{:.3g}".format(*setup_split(pair[side]))
                          for side in ("parent", "change")), flush=True)
                with open(os.path.join(AB, f"{sha}-{w}.json"), "w") as f:
                    json.dump({"parent": sha, "workload": w,
                               "seconds": a.seconds, "pairs": runs[w]}, f,
                              indent=1)
    finally:
        for log in logs.values():
            log.close()

    for w in workloads:
        print(f"\n=== {w}")
        report(w, runs[w], metrics, a.seconds, a.first_seed)
        print(f"\nevery run: {os.path.join(AB, f'{sha}-{w}.json')}")


if __name__ == "__main__":
    main()
