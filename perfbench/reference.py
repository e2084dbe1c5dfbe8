#!/usr/bin/env python3
"""Reference records of the benchmark, not gated.

    python3 perfbench/reference.py [--seed 1] [--seconds 15]

Runs, one after another:

* ``ingest_rebuild`` at ``local[1]`` (the single-thread baseline) and at
  ``local[nproc]``;
* the ``ingest_steady`` batch-size curve at 100, 400 and 1,600 events per
  batch;
* ``serve`` and ``ingest_steady`` once untraced and once traced, for the
  tracing overhead (traced minus untraced, per end-to-end metric).

Each record keeps its seed, core count and box record, and the workload's
own metrics; all of them go to ``perfbench/results/reference.json``.
"""
import argparse
import datetime as dt
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace=0, cores=0, batch_events=0):
    args = [sys.executable, os.path.join(HERE, "run.py"),
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace)]
    if cores:
        args += ["--cores", str(cores)]
    if batch_events:
        args += ["--batch-events", str(batch_events)]
    env = dict(os.environ, PERFBENCH_RUN_TIMEOUT_S="900")
    p = subprocess.run(args, cwd=ROOT, capture_output=True, text=True,
                       env=env)
    result = json.loads(p.stdout.strip().splitlines()[-1])
    with open(os.path.join(HERE, ".work", "records",
                           f"{workload}-seed{seed}-trace{trace}.json")) as f:
        rec = json.load(f)["record"]
    out = {"workload": workload, "seed": seed, "seconds": seconds,
           "trace": trace, "cores": rec["box"]["local_width"],
           "box": rec["box"], "box_sentinel": rec.get("box_sentinel"),
           "correct": result["correct"], "attempted": result["attempted"],
           "failed": result["failed"], "setup_s": rec.get("setup_s"),
           "metrics": rec.get("metrics", {})}
    for k in ("batch_tail_percentile", "batch_tail_samples", "batches",
              "rebuilds", "backlog_events", "passes", "oracle"):
        if k in rec:
            out[k] = rec[k]
    if batch_events:
        out["batch_events"] = batch_events
    if not trace:
        out["end_to_end"] = {k: v["value"]
                             for k, v in result["metrics"].items()}
    else:
        out["end_to_end"] = {k[len("traced."):]: v["value"]
                             for k, v in result["metrics"].items()
                             if k.startswith("traced.")}
    print(f"{workload} seed={seed} cores={out['cores']} trace={trace} "
          f"batch_events={batch_events or '-'} correct={out['correct']}",
          file=sys.stderr, flush=True)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    a = ap.parse_args()
    s, secs = a.seed, a.seconds
    rebuild = [run("ingest_rebuild", s, secs, cores=1),
               run("ingest_rebuild", s, secs)]
    curve = [run("ingest_steady", s, secs, batch_events=n)
             for n in (100, 400, 1600)]
    serve = [run("serve", s, secs), run("serve", s, secs, trace=1)]
    steady = [curve[1], run("ingest_steady", s, secs, trace=1)]
    overhead = {}
    for name, (plain, traced) in (("serve", serve), ("ingest_steady", steady)):
        overhead[name] = {k: traced["end_to_end"][k] - v
                          for k, v in plain["end_to_end"].items()
                          if k in traced["end_to_end"]}
    out = {"recorded": dt.date.today().isoformat(),
           "note": "not gated; one run per entry",
           "ingest_rebuild": rebuild, "ingest_steady_batch_curve": curve,
           "tracing": {"runs": serve + [steady[1]],
                       "overhead_traced_minus_untraced": overhead}}
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    with open(os.path.join(HERE, "results", "reference.json"), "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
