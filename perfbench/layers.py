"""Per-layer metrics of a traced run, computed from its span record.

A traced run (``--trace 1``) records spans (benchmark step -> runner
call, mirror apply, read or query), every Spark job with its span, its
streaming query and batch, its stage totals and the layer of the graft
file at its call site, the streaming progress of every micro-batch, the
planning time of every SQL execution, stack samples and the Hadoop
file-system counters of every cycle.

Every traced run reports every metric in ``PER_LAYER``; a layer a
workload does not run reports 0 (the serve workload starts no streaming
query, the ingest workloads run no serve query).

Self times: a sampler reads the stacks of the threads working for each
span every 25 ms (for a runner call, the streaming query's execution
thread) and charges the tick to the layer of the innermost graft frame:
the graft code that runs, or waits on a Spark job it submitted. Ticks
with no graft frame are the unattributed remainder (streaming engine
work, start and stop). The remainder is what the layers leave of the
call's wall time, so layer self times plus the remainder add up to that
wall by construction (an identity, not a check); ``batch_breakdown`` in
the saved record lists the split of every batch. A job's task time goes
to the layer most ticks name while it ran.
"""
import statistics

RUNNERS = ("table", "multi", "snowflake")
MIRRORS = ("nation_revenue", "customer_revenue")
FAMILIES = ("cdc", "relational", "function", "pipeline", "curation")
JOB_LAYERS = ("sources.parse", "cdc.decode", "cdc.merge", "cdc.ctx",
              "cdc.fold", "streaming.write")
LAYERS = set(JOB_LAYERS) | {"serve.ops", "serve.lib"}
PHASES = (("latest_offset", "latestOffset"), ("get_batch", "getBatch"),
          ("query_planning", "queryPlanning"), ("wal_commit", "walCommit"),
          ("commit_offsets", "commitOffsets"), ("add_batch", "addBatch"))

PER_LAYER = {}
PER_LAYER.update({
    "streaming.call_s": "s", "streaming.start_stop_s": "s",
    **{f"streaming.{p}_s": "s" for p, _ in PHASES},
    "streaming.jobs": "count", "streaming.stages": "count",
    "streaming.tasks": "count", "streaming.driver_gap_s": "s",
    "streaming.unattributed_s": "s", "streaming.catalyst_s": "s",
    **{f"{lay}_s": "s" for lay in JOB_LAYERS},
    **{f"{lay}_task_s": "s" for lay in JOB_LAYERS},
    "streaming.shuffle_bytes": "bytes", "streaming.gc_s": "s",
    "fs.bytes_written_per_event": "bytes",
    "fs.bytes_read_per_event": "bytes", "fs.files_written": "count",
    **{f"state.generation_mb.{r}": "MB" for r in RUNNERS},
    **{f"jdbc.{m}.{k}": u for m in MIRRORS
       for k, u in (("apply_s", "s"), ("keys", "count"),
                    ("ms_per_key", "ms"))},
    **{f"read.{r}_s": "s" for r in ("face", "as_of", "stats", "changes")},
    "sources.parse_lines_per_s": "1/s", "cdc.decode_events_per_s": "1/s",
    "serve.plan_s": "s", "serve.jobs": "count", "serve.stages": "count",
    "serve.tasks": "count", "serve.driver_gap_s": "s", "serve.task_s": "s",
    "serve.shuffle_bytes": "bytes", "serve.gc_s": "s",
    **{f"serve.{f}_s": "s" for f in FAMILIES},
    "setup.session_s": "s",
    **{f"setup.cold.{f}_s": "s" for f in FAMILIES},
    **{f"setup.bootstrap.{r}_s": "s" for r in RUNNERS},
    "setup.mirror_seed_s": "s",
    **{f"traced.{k}": u for k, u in (
        ("setup_s", "s"), ("throughput_per_s", "1/s"), ("op_p50_s", "s"),
        ("op_tail_s", "s"), ("cycle_p50_s", "s"), ("footprint_mb", "MB"))},
})


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _union(intervals):
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _sample_index(trace):
    """Sampler ticks and {span: [(t, layer)]} from the stack samples."""
    ticks, by_span = [], {}
    for t, sp, lay in trace.get("samples", []):
        if sp == -1:
            ticks.append(t)
        else:
            by_span.setdefault(sp, []).append((t, lay))
    return sorted(ticks), by_span


def _tick_s(start, end, ticks):
    n = sum(1 for t in ticks if start <= t <= end)
    return (end - start) / n if n else 0.0


def self_times(start, end, ticks, samples):
    """{layer: self seconds} over [start, end] plus "unattributed": each
    sampler tick inside the window stands for window / ticks seconds and
    is charged to the layer its sample names; ticks with no graft frame
    on the span's threads (or no thread yet) are the remainder, so the
    values add up to the wall time exactly."""
    wall = end - start
    n = sum(1 for t in ticks if start <= t <= end)
    out = {}
    if n:
        dt = wall / n
        for t, lay in samples:
            lay = lay.split("+")[0]
            if start <= t <= end and lay in LAYERS:
                out[lay] = out.get(lay, 0.0) + dt
    attributed = sum(out.values())
    if attributed > wall:  # two sampled threads on one span
        out = {k: x * wall / attributed for k, x in out.items()}
    out["unattributed"] = wall - sum(out.values())
    return out


def job_layer(job, samples):
    """The layer most samples name while the job ran, else the layer of
    its call site."""
    seen = {}
    for t, lay in samples:
        lay = lay.split("+")[0]
        if job["start"] <= t <= job["end"] and lay in LAYERS:
            seen[lay] = seen.get(lay, 0) + 1
    return max(seen, key=seen.get) if seen else job["layer"]


def _runner_batches(trace):
    """One entry per timed runner call: its metrics and self times."""
    jobs = [j for j in trace["jobs"] if j["end"] is not None]
    ticks, samp = _sample_index(trace)
    by_span = {}
    for j in jobs:
        if j["span"] is not None:
            by_span.setdefault(j["span"], []).append(j)
    progress = {}
    for p in trace["progress"]:
        progress[(p["query"], p["batch"])] = p
    out = []
    for s in trace["spans"]:
        if not s["name"].startswith("runner.") or s["cycle"] < 1 \
                or s["end"] is None:
            continue
        js = by_span.get(s["id"], [])
        ss = samp.get(s["id"], [])
        wall = s["end"] - s["start"]
        keys = {(j["query"], j["batch"]) for j in js
                if j["query"] and j["batch"] is not None}
        prog = [progress[k] for k in keys if k in progress]
        dur = lambda k: sum(p["durations_s"].get(k, 0.0) for p in prog)
        batch_jobs = [j for j in js if j["batch"] is not None]
        selfs = self_times(s["start"], s["end"], ticks, ss)
        b = {"runner": s["name"][7:], "cycle": s["cycle"], "wall_s": wall,
             "streaming.call_s": wall,
             "streaming.start_stop_s": wall - dur("triggerExecution"),
             "streaming.jobs": len(js),
             "streaming.stages": sum(j["stages"] for j in js),
             "streaming.tasks": sum(j["tasks"] for j in js),
             "streaming.driver_gap_s": max(0.0, dur("addBatch") - _union(
                 [(j["start"], j["end"]) for j in batch_jobs])),
             "streaming.unattributed_s": selfs["unattributed"],
             "streaming.catalyst_s": _tick_s(s["start"], s["end"], ticks) *
                 sum(1 for t, lay in ss if lay.endswith("+plan")
                     and s["start"] <= t <= s["end"]),
             "streaming.shuffle_bytes": sum(j["shuffle_bytes"] for j in js),
             "streaming.gc_s": sum(j["gc_s"] for j in js),
             "self_s": selfs}
        for name, key in PHASES:
            b[f"streaming.{name}_s"] = dur(key)
        task = {}
        for j in js:
            lay = job_layer(j, ss)
            task[lay] = task.get(lay, 0.0) + j["task_s"]
        for lay in JOB_LAYERS:
            b[f"{lay}_s"] = selfs.get(lay, 0.0)
            b[f"{lay}_task_s"] = task.get(lay, 0.0)
        out.append(b)
    return out


def _serve(trace):
    jobs = [j for j in trace["jobs"] if j["end"] is not None]
    by_span = {}
    for j in jobs:
        if j["span"] is not None:
            by_span.setdefault(j["span"], []).append(j)
    queries = sorted((s for s in trace["spans"]
                      if s["name"].startswith("query.")),
                     key=lambda s: s["start"])
    # a QueryExecutionListener callback lands just after its action ends,
    # while the serial client is still in (or just past) that query
    plan = {}
    for t, secs in trace.get("planning", []):
        owner = None
        for s in queries:
            if s["start"] <= t:
                owner = s
            else:
                break
        if owner is not None:
            plan[owner["id"]] = plan.get(owner["id"], 0.0) + secs
    per = {}
    for s in queries:
        if s["cycle"] < 1:
            continue
        js = by_span.get(s["id"], [])
        per.setdefault(s["name"][6:], []).append({
            "serve.plan_s": plan.get(s["id"], 0.0),
            "serve.jobs": len(js),
            "serve.stages": sum(j["stages"] for j in js),
            "serve.tasks": sum(j["tasks"] for j in js),
            "serve.driver_gap_s": max(0.0, (s["end"] - s["start"]) - _union(
                [(max(j["start"], s["start"]), min(j["end"], s["end"]))
                 for j in js if j["end"] > s["start"]])),
            "serve.task_s": sum(j["task_s"] for j in js),
            "serve.shuffle_bytes": sum(j["shuffle_bytes"] for j in js),
            "serve.gc_s": sum(j["gc_s"] for j in js)})
    # median per query, then the median over queries
    keys = ("serve.plan_s", "serve.jobs", "serve.stages", "serve.tasks",
            "serve.driver_gap_s", "serve.task_s", "serve.shuffle_bytes",
            "serve.gc_s")
    return {k: _median([_median([x[k] for x in xs]) for xs in per.values()])
            for k in keys}


def per_layer(rec):
    """{metric: {"value", "unit"}} for every name in PER_LAYER."""
    import metrics as e2e
    trace = rec.get("trace", {"spans": [], "jobs": [], "progress": []})
    samples = rec.get("samples", {})
    v = {k: 0.0 for k in PER_LAYER}
    batches = _runner_batches(trace)
    for k in list(v):
        if batches and k in batches[0]:
            v[k] = _mean([b[k] for b in batches])
    rec["batch_breakdown"] = [
        {"runner": b["runner"], "cycle": b["cycle"], "wall_s": b["wall_s"],
         "self_s": b["self_s"], "sum_s": sum(b["self_s"].values())}
        for b in batches]
    cycles = [c for c in trace.get("fs_cycles", []) if c["cycle"] >= 1]
    n_cycles = max(len(cycles), 1)
    events = rec.get("sums", {}).get("events", 0.0)
    if cycles and rec["workload"] != "serve":
        v["fs.bytes_written_per_event"] = \
            sum(c["bytes_written"] for c in cycles) / max(events, 1.0)
        v["fs.bytes_read_per_event"] = \
            sum(c["bytes_read"] for c in cycles) / max(events, 1.0)
        v["fs.files_written"] = _median(samples.get("fs.files_written", []))
    for k, x in rec.get("probes", {}).items():
        if k in v:
            v[k] = x
    for m in MIRRORS:
        apply_s = _median(samples.get(f"jdbc.{m}.apply_s", []))
        keys = _median(samples.get(f"jdbc.{m}.keys", []))
        v[f"jdbc.{m}.apply_s"] = apply_s
        v[f"jdbc.{m}.keys"] = keys
        v[f"jdbc.{m}.ms_per_key"] = 1000 * apply_s / keys if keys else 0.0
    for r in ("face", "as_of", "stats", "changes"):
        v[f"read.{r}_s"] = _median(samples.get(f"read.{r}_s", []))
    if rec["workload"] == "serve":
        v.update(_serve(trace))
        fam = rec.get("family", {})
        for f in FAMILIES:
            v[f"serve.{f}_s"] = sum(t for q, t in rec["query_p50_s"].items()
                                    if fam.get(q) == f)
            v[f"setup.cold.{f}_s"] = sum(t for q, t in rec["cold_s"].items()
                                         if fam.get(q) == f)
    v["setup.session_s"] = rec.get("session_s", 0.0)
    for k, x in rec.get("setup_phases", {}).items():
        if f"setup.{k}" in v:
            v[f"setup.{k}"] = x
    for k, x in e2e.end_to_end(rec).items():
        v[f"traced.{k}"] = x["value"]
    return {k: {"value": v[k], "unit": u} for k, u in PER_LAYER.items()}
