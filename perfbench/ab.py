#!/usr/bin/env python3
"""Paired A/B runs of the benchmark: a base commit against a change.

    python3 perfbench/ab.py [--base REV] [--change REV|.] [--pairs 10]
        [--workloads etl_star,ingest_stream] [--seconds N] [--seed0 100]

Both sides are exported from git into `.bench_build/ab/<side>/` (`.` as the
change means the working tree), and both get this checkout's `perfbench/`
and `BENCHMARK.json`, so the two sides differ only in the code under test.
Pair i runs both sides on seed `seed0 + i`, base first on even pairs and
change first on odd ones.

For every end-to-end metric of every workload it reports each side's median
and quartiles and the change's wins. A gain is claimed only when the change
wins at least 9 of every 10 pairs run (ties, and pairs where either side
failed, count for neither side), the medians differ by more than the base's
interquartile range, and the change failed no more runs than the base. A
metric whose change median is worse than the base median by more than its
BENCHMARK.json bound is flagged as a regression; one whose base runs spread
wider than the bound is reported as unresolved, unless every change run reads
better than every base run. A run that failed its checks
is counted and reported, and its pair is left out of the medians.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
AB = os.path.join(ROOT, ".bench_build", "ab")


def export(rev, dest):
    """Tracked files of `rev` (or of the working tree for `.`) at `dest`,
    with this checkout's benchmark files laid over them."""
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    if rev == ".":
        files = subprocess.run(["git", "ls-files", "-co", "--exclude-standard", "-z"], cwd=ROOT,
                               check=True, capture_output=True).stdout.decode().split("\0")
        for f in filter(None, files):
            src = os.path.join(ROOT, f)
            if os.path.isfile(src):
                os.makedirs(os.path.dirname(os.path.join(dest, f)), exist_ok=True)
                shutil.copy2(src, os.path.join(dest, f))
    else:
        archive = subprocess.run(["git", "archive", rev], cwd=ROOT, check=True,
                                 capture_output=True).stdout
        subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    shutil.rmtree(os.path.join(dest, "perfbench"), ignore_errors=True)
    def build_outputs(d, names):
        return [n for n in names if n in ("target", "__pycache__") or
                (n == "project" and os.path.basename(d) == "project")]
    shutil.copytree(HERE, os.path.join(dest, "perfbench"), ignore=build_outputs)
    shutil.copy2(os.path.join(ROOT, "BENCHMARK.json"), os.path.join(dest, "BENCHMARK.json"))


def run(side_dir, workload, seed, seconds):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=side_dir, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None, p.stderr[-2000:]
    res = json.loads(lines[-1])
    if not res["correct"]:
        return None, "outputs failed their checks"
    return {k: v["value"] for k, v in res["metrics"].items()}, None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def judge(base, change, better, bound, pairs_run, failed):
    """The win rule and the regression flag for one metric's paired runs.
    `base` and `change` hold the pairs where both sides passed their checks;
    `failed` counts the failed runs per side over all `pairs_run` pairs."""
    sign = 1 if better == "lower" else -1
    wins = sum(1 for b, c in zip(base, change) if sign * (b - c) > 0)
    bq1, bmed, bq3 = quartiles(base)
    _, cmed, _ = quartiles(change)
    gain = sign * (bmed - cmed)
    claim = (pairs_run >= 10 and wins >= 0.9 * pairs_run and gain > (bq3 - bq1) and
             failed["change"] <= failed["base"])
    worse = -gain / bmed if bmed else 0.0
    # A base spread wider than the bound cannot tell "unchanged" from a
    # regression unless every change run reads better than every base run.
    unresolved = (bq3 - bq1) > bound * abs(bmed) and not (
        change and min(sign * (b - c) for b in base for c in change) > 0)
    return {"wins": wins, "pairs": pairs_run, "pairs_kept": len(base),
            "failed_runs": failed, "base_median": bmed, "base_q1": bq1,
            "base_q3": bq3, "change_median": cmed, "change_q1": quartiles(change)[0],
            "change_q3": quartiles(change)[2], "gain_claimed": claim,
            "regression": worse > bound, "unresolved": unresolved, "worse_by": worse}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="HEAD~1")
    ap.add_argument("--change", default="HEAD")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--seed0", type=int, default=100)
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    seconds = a.seconds or spec["run_seconds"]
    sides = {"base": os.path.join(AB, "base"), "change": os.path.join(AB, "change")}
    export(a.base, sides["base"])
    export(a.change, sides["change"])
    report = {"base": a.base, "change": a.change, "workloads": {}}
    for w in workloads:
        got = {"base": [], "change": []}
        failed = {"base": 0, "change": 0}
        skipped = []
        for i in range(a.pairs):
            seed = a.seed0 + i
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            pair = {}
            for side in order:
                pair[side], err = run(sides[side], w, seed, seconds)
                if err:
                    failed[side] += 1
                    skipped.append(f"pair {i} {side}: {err}")
            if pair["base"] and pair["change"]:
                for side in pair:
                    got[side].append(pair[side])
            print(f"{w} pair {i + 1}/{a.pairs} done", file=sys.stderr)
        metrics = {}
        for m in spec["end_to_end"]:
            base = [r[m["name"]] for r in got["base"]]
            change = [r[m["name"]] for r in got["change"]]
            if base:
                metrics[m["name"]] = judge(base, change, m["better"], m["bound"], a.pairs,
                                           failed)
        report["workloads"][w] = {"metrics": metrics, "failed_runs": failed,
                                  "skipped": skipped}
        for name, r in metrics.items():
            flag = ("GAIN" if r["gain_claimed"] else "REGRESSION" if r["regression"] else
                    "UNRESOLVED" if r["unresolved"] else "-")
            print(f"{w:<14} {name:<12} base {r['base_median']:.4g} [{r['base_q1']:.4g}, "
                  f"{r['base_q3']:.4g}]  change {r['change_median']:.4g} "
                  f"[{r['change_q1']:.4g}, {r['change_q3']:.4g}]  wins {r['wins']}/{r['pairs']}  "
                  f"failed runs {failed['base']}/{failed['change']}  {flag}")
    print(json.dumps(report, sort_keys=True))


if __name__ == "__main__":
    main()
