"""Turns a run record (written by perfbench.Main) into the result line.

End-to-end metrics are the same six on every workload (BENCHMARK.json);
each workload fills them from its own timed operations:

=================  ==================  =====================  =====================
metric             serve               ingest_steady          ingest_rebuild
=================  ==================  =====================  =====================
setup_s            process start (or the end of the build, when the run had
                   to build) to the first timed operation (all workloads)
throughput_per_s   queries / s (loop)  events / s             events / s
op_p50_s           query wall p50 (HD) runner_mean_p50_s      runner commit p50
op_tail_s          query wall p90 (HD) batch_tail_s           runner commit max
cycle_p50_s        serve_total_s       freshness_p50_s        rebuild wall p50
footprint_mb       pinned_mb           disk_mb                disk_mb
=================  ==================  =====================  =====================

HD: the Harrell-Davis quantile estimate (``Util.hdQuantile``).
The workload's own metric names (serve_total_s, batch_p50_s, ...) are
printed beside them and kept in the saved record.
"""
import json
import os

END_TO_END = {
    "setup_s": "s", "throughput_per_s": "1/s", "op_p50_s": "s",
    "op_tail_s": "s", "cycle_p50_s": "s", "footprint_mb": "MB"}


def end_to_end(rec):
    m = rec["metrics"]
    w = rec["workload"]
    if w == "serve":
        v = {"throughput_per_s": m["queries_per_s"],
             "op_p50_s": m["serve_p50_s"], "op_tail_s": m["serve_p90_s"],
             "cycle_p50_s": m["serve_total_s"],
             "footprint_mb": m["pinned_mb"]}
    elif w == "ingest_steady":
        v = {"throughput_per_s": m["events_per_s"],
             "op_p50_s": m["runner_mean_p50_s"],
             "op_tail_s": m["batch_tail_s"],
             "cycle_p50_s": m["freshness_p50_s"],
             "footprint_mb": m["disk_mb"]}
    else:
        v = {"throughput_per_s": m["rebuild_events_per_s"],
             "op_p50_s": m["runner_p50_s"], "op_tail_s": m["runner_max_s"],
             "cycle_p50_s": m["rebuild_p50_s"],
             "footprint_mb": m["disk_mb"]}
    v["setup_s"] = rec["setup_s"]
    return {k: {"value": v[k], "unit": u} for k, u in END_TO_END.items()}


def result(rec, traced):
    mets = {}
    if "metrics" in rec:
        if traced:
            import layers
            mets = layers.per_layer(rec)
        else:
            mets = end_to_end(rec)
    attempted = int(rec.get("attempted", 0))
    failed = int(rec.get("failed", 0))
    if failed or not attempted or not mets:
        return {"correct": False, "attempted": max(attempted, 1),
                "failed": max(failed, 1), "metrics": {}}
    return {"correct": True, "attempted": attempted, "failed": failed,
            "metrics": mets}


def human(rec, res):
    """Readable lines: the workload's own metrics with units, the box
    record and any failure."""
    out = []
    for k, v in rec.get("metrics", {}).items():
        unit = ("MB" if k.endswith("_mb") else
                "1/s" if k.endswith("_per_s") else "s")
        out.append(f"metric {rec['workload']}.{k} = {v:.6g} {unit}")
    att = max(int(rec.get("attempted", 0)), 1)
    out.append(f"metric {rec['workload']}.fail_ratio = "
               f"{int(rec.get('failed', 0)) / att:.6g} failed/attempted")
    for k in ("box", "box_sentinel"):
        if k in rec:
            out.append(f"{k} {json.dumps(rec[k])}")
    for f in rec.get("failures", []):
        out.append(f"FAILED {f}")
    return out


def save(here, args, rec, res):
    d = os.path.join(here, ".work", "records")
    os.makedirs(d, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(d, name), "w") as f:
        json.dump({"record": rec, "result": res}, f)
