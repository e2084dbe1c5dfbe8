#!/usr/bin/env python3
"""Interleaved perfbench A/B of two source trees.

Usage (from the root of the repository):

    python3 tools/ab.py --parent REV_OR_DIR --change REV_OR_DIR \\
        --workload serve --workload ingest_steady --pairs 5 \\
        --scratch /tmp/ab

Each side is a git revision, exported with ``git archive`` into
``<scratch>/<side>`` (an export leaves the repository's own state
untouched; the export records its revision in ``<scratch>/<side>.rev``
and is redone when the revision differs), or an existing directory
holding a full checkout (e.g. an uncommitted tree). Pair ``i`` (1..N)
runs ``python3 perfbench/run.py --workload W --seed i --seconds S`` once
in each tree, with ``S`` the ``run_seconds`` of BENCHMARK.json and
run.py's default width; the side that runs first alternates from pair to
pair, so drift on a shared box falls on both sides alike. The first run in a tree also builds it (run.py leaves the
build out of its metrics).

Every run's last-line JSON result is parsed and reported. Then, for every
end-to-end metric of BENCHMARK.json, it prints both medians, each side's
IQR/median, the median paired ratio (change/parent), the change's win
count and a verdict against the metric's bound: ``better (every run)``
when every change run reads better than every parent run, else
``unresolved`` when either side's IQR/median exceeds the bound (the runs
spread too widely to tell), ``worse`` when the change's median is worse
than the parent's by more than the bound, ``within`` otherwise. It exits
1 on any failed run or ``correct: false``. Run logs go to
``<scratch>/logs``; nothing is written under ``perfbench/`` other than
what run.py writes itself.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_TIMEOUT_S = 1800  # build + run; run.py enforces its own run limit


def checkout(spec, dest):
    """The tree of `spec`: an existing directory, or a revision exported.
    The stamp `<dest>.rev` names the exported commit once the export is
    complete (it reads `partial` while it runs), so a stale or half-done
    export is redone; a `dest` without a stamp is not this tool's and is
    refused."""
    if os.path.isdir(spec):
        return os.path.abspath(spec)
    rev = subprocess.run(["git", "-C", REPO, "rev-parse", spec + "^{commit}"],
                         check=True, capture_output=True,
                         text=True).stdout.strip()
    stamp = dest + ".rev"
    if os.path.lexists(dest):
        if not os.path.isfile(stamp):
            sys.exit(f"{dest} exists but holds no export of this tool "
                     f"(no {stamp}); remove it or pick another --scratch")
        with open(stamp) as f:
            if f.read().strip() == rev:
                return dest
        shutil.rmtree(dest)
    with open(stamp, "w") as f:
        f.write("partial\n")
    os.makedirs(dest)
    archive = subprocess.run(["git", "-C", REPO, "archive", rev],
                             check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    with open(stamp, "w") as f:
        f.write(rev + "\n")
    return dest


def run(tree, workload, seed, seconds, log_path):
    """One perfbench run; returns (exit code, parsed last-line result, the
    box sentinel line run.py prints: steal share and sentinel drift)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds)]
    with open(log_path, "w") as log:
        try:
            p = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE,
                               stderr=log, text=True, timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return 124, None, {}
        log.write(p.stdout)
    lines = p.stdout.strip().splitlines()
    box = next((json.loads(ln.split(" ", 1)[1]) for ln in lines
                if ln.startswith("box_sentinel ")), {})
    try:
        return p.returncode, json.loads(lines[-1]) if lines else None, box
    except json.JSONDecodeError:
        return p.returncode, None, box


def values(res):
    """A result's end-to-end metrics as name -> number."""
    return {k: v["value"] if isinstance(v, dict) else v
            for k, v in (res or {}).get("metrics", {}).items()}


def iqr_over_median(xs):
    if len(xs) < 2:
        return float("nan")
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    m = statistics.median(xs)
    return (q3 - q1) / m if m else float("nan")


def summarize(workload, runs, metrics):
    """Per-metric lines over the pairs where both sides reported it."""
    print(f"\n== {workload}: {len(runs)} pairs")
    print(f"{'metric':<18} {'parent':>10} {'change':>10} {'iqr/m P':>8} "
          f"{'iqr/m C':>8} {'ratio':>7} {'wins':>5} {'bound':>6}  verdict")
    for m in metrics:
        pairs = [(values(p)[m["name"]], values(c)[m["name"]])
                 for p, c in runs
                 if m["name"] in values(p) and m["name"] in values(c)]
        if not pairs:
            continue
        ps, cs = [p for p, _ in pairs], [c for _, c in pairs]
        lower = m["better"] == "lower"
        wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
        ratio = statistics.median(c / p for p, c in pairs if p)
        mp, mc = statistics.median(ps), statistics.median(cs)
        sp, sc = iqr_over_median(ps), iqr_over_median(cs)
        bound = m["bound"]
        change = (mc - mp) / mp if mp else 0.0
        all_better = (max(cs) < min(ps)) if lower else (min(cs) > max(ps))
        if all_better:
            verdict = "better (every run)"
        elif not (sp <= bound and sc <= bound):
            verdict = "unresolved"
        elif (change > bound) if lower else (change < -bound):
            verdict = "worse"
        else:
            verdict = "within"
        print(f"{m['name']:<18} {mp:>10.4g} {mc:>10.4g} {sp:>8.3f} "
              f"{sc:>8.3f} {ratio:>7.3f} {wins:>2}/{len(pairs):<2} "
              f"{bound:>6.2f}  {verdict}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--scratch", required=True)
    a = ap.parse_args()

    trees = {"parent": checkout(a.parent, os.path.join(a.scratch, "parent")),
             "change": checkout(a.change, os.path.join(a.scratch, "change"))}
    with open(os.path.join(trees["change"], "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics, seconds = bench["end_to_end"], bench["run_seconds"]
    logs = os.path.join(a.scratch, "logs")
    os.makedirs(logs, exist_ok=True)
    failed = 0
    results = {}
    for w in a.workload:
        runs = []
        for seed in range(1, a.pairs + 1):
            order = ["parent", "change"] if seed % 2 else ["change", "parent"]
            pair = {}
            for side in order:
                t0 = time.time()
                rc, res, box = run(trees[side], w, seed, seconds,
                                   os.path.join(logs, f"{w}-{seed}-{side}.log"))
                ok = rc == 0 and res is not None and res.get("correct")
                failed += 0 if ok else 1
                shown = {k: round(v, 4) for k, v in values(res).items()}
                print(f"{w} seed {seed} {side:<6} rc={rc} "
                      f"correct={(res or {}).get('correct')} "
                      f"failed={(res or {}).get('failed')} "
                      f"wall={time.time() - t0:.0f}s "
                      f"steal={box.get('steal_share', float('nan')):.4f} "
                      f"drifted={box.get('drifted')} {json.dumps(shown)}",
                      flush=True)
                pair[side] = res if ok else None
            if pair["parent"] and pair["change"]:
                runs.append((pair["parent"], pair["change"]))
        results[w] = runs
    for w, runs in results.items():
        summarize(w, runs, metrics)
    if failed:
        print(f"\n{failed} run(s) failed or were incorrect")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
