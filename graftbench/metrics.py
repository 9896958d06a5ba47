"""Pure metric arithmetic for the benchmark: percentiles, span trees and
the per-layer aggregation of a traced run. No Spark, no I/O."""

PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def quantile(values, p):
    """Linear-interpolated p-th percentile (0..100) of `values`."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    h = (len(xs) - 1) * p / 100.0
    lo = int(h)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (h - lo)


def tail_percentile(n):
    """The highest percentile of PERCENTILES with at least MIN_BEYOND of
    `n` samples beyond it, or None when even the median has fewer."""
    best = None
    for p in PERCENTILES:
        if round(n * (100.0 - p) / 100.0, 9) >= MIN_BEYOND:
            best = p
    return best


def tail(values):
    """(label, value) of the tail statistic: the rule's percentile, or
    the maximum when there are too few samples for any percentile."""
    p = tail_percentile(len(values))
    if p is None:
        return "max", max(values)
    return f"p{p:g}", quantile(values, p)


def union_ms(intervals, lo=None, hi=None):
    """Total length covered by `intervals` (pairs), clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Adds `child_ms` and `self_ms` to every span. A span's child time is
    the union of its children's intervals clipped to the span; self time
    is the rest of its duration, so child_ms + self_ms == duration."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    for s in spans:
        dur = s["end"] - s["start"]
        covered = union_ms([(c["start"], c["end"]) for c in kids.get(s["id"], [])],
                           s["start"], s["end"])
        s["child_ms"] = covered
        s["self_ms"] = dur - covered
    return spans


STREAM_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
                 "addBatch", "commitOffsets")
CATALYST = {"analysis": "catalyst.analysis_ms",
            "optimization": "catalyst.optimizer_ms",
            "planning": "catalyst.planning_ms"}
CORPUS_STAGES = {"TextAnalysis.scala": "text", "Dedup.scala": "dedup",
                 "TrainingData.scala": "training", "Similarity.scala": "similarity",
                 "ParquetSink.scala": "shards", "JsonlSink.scala": "jsonl",
                 "CorpusPipeline.scala": "pipeline"}
REPORT_ROWS = ("input", "gated", "cleaned", "kept", "shipped")
MB = 1024.0 * 1024.0


def spans_of(out):
    """The span tree of a traced run: op (query, corpus run or
    micro-batch) -> construct / Catalyst phase / job -> stage."""
    spans = []
    op_of = {}

    def add(sid, parent, name, start, end):
        op_of[sid] = op_of[parent] if parent else sid
        spans.append({"id": sid, "parent": parent, "op": op_of[sid], "name": name,
                      "start": float(start), "end": float(max(start, end))})

    for op in out.get("ops", []):
        oid = f"op:{op['id']}"
        add(oid, None, op["name"], op["start"], op["end"])
        if op["construct_end"] > op["start"]:
            add(f"{oid}:construct", oid, "construct", op["start"], op["construct_end"])
        for i, q in enumerate(x for x in out.get("qes", []) if x["op"] == op["id"]):
            for phase, (s, e) in q["phases"].items():
                add(f"{oid}:qe{i}:{phase}", oid, f"catalyst.{phase}", s, e)
    # progress reports give phase durations only: the phases are laid end
    # to end from the batch start in the order the micro-batch runs them
    batches = stream_batches(out)
    for b in batches:
        bid = f"batch:{b['batch']}"
        add(bid, None, "micro-batch", b["start"], b["end"])
        t = b["start"]
        for phase in STREAM_PHASES:
            d = b["durations"].get(phase, 0)
            add(f"{bid}:{phase}", bid, f"stream.{phase}", t, t + d)
            t += d
    batch_ids = {b["batch"] for b in batches}
    for j in out.get("jobs", []):
        if j["op"] > 0:
            parent = f"op:{j['op']}"
        elif j["batch"] in batch_ids:
            parent = f"batch:{j['batch']}"
        else:
            continue
        add(f"job:{j['id']}", parent, j["site"], j["start"], j["end"])
    for st in out.get("stages", []):
        if f"job:{st['job']}" in op_of and st["complete"] > 0:
            add(f"stage:{st['id']}", f"job:{st['job']}", "stage", st["submit"], st["complete"])
    return self_times(spans)


def stream_batches(out):
    """Progress reports of the measured window, each with its end time
    and the number of replayed events its offset range covers."""
    ticks = out.get("ticks", [])
    first = min((int(t["offset"]) for t in ticks), default=None)
    res = []
    for b in out.get("batches", []):
        lo, hi = _offset(b["start_offset"]), int(b["end_offset"])
        if first is None or hi < first:
            continue
        b = dict(b)
        b["end"] = b["start"] + b["durations"].get("triggerExecution", 0)
        b["rows"] = sum(t["n"] for t in ticks if lo < int(t["offset"]) <= hi)
        res.append(b)
    return res


def stream_latencies(out):
    """Latency (ms) of each generator tick, from its due time to the end
    of the micro-batch that committed it, plus the number of events no
    batch covered. A tick's events share their due time and their batch,
    so a tick, not an event, is one sample."""
    batches = sorted(stream_batches(out), key=lambda b: int(b["end_offset"]))
    lat, missing = [], 0
    for t in out.get("ticks", []):
        off = int(t["offset"])
        hit = next((b for b in batches
                    if _offset(b["start_offset"]) < off <= int(b["end_offset"])), None)
        if hit is None:
            missing += t["n"]
        else:
            lat.append(hit["end"] - t["due"])
    return lat, missing


def _offset(s):
    return -1 if s in ("null", "None", "") else int(s)


def layers(out, workload):
    """Per-layer metrics of a traced run. Suite and corpus figures are
    means per op (query or pipeline run), stream figures means per
    micro-batch; stream.batches, corpus.rows.*, engine.tier_* and
    jvm.peak_rss_mb are per run."""
    ops = out.get("ops", [])
    jobs = out.get("jobs", [])
    stages = {s["id"]: s for s in out.get("stages", [])}
    qes = out.get("qes", [])
    batches = stream_batches(out)
    m = {}
    if workload == "stream":
        units = {b["batch"]: b for b in batches}
        unit_jobs = {k: [j for j in jobs if j["batch"] == k] for k in units}
        walls = {k: b["end"] - b["start"] for k, b in units.items()}
    else:
        units = {o["id"]: o for o in ops}
        unit_jobs = {k: [j for j in jobs if j["op"] == k] for k in units}
        walls = {k: o["end"] - o["start"] for k, o in units.items()}
    n = max(1, len(units))

    def mean(f):
        return sum(f(k) for k in units) / n

    def stage_sum(k, field):
        return sum(stages[s][field] for j in unit_jobs[k] for s in j["stages"] if s in stages)

    busy = {k: union_ms([(j["start"], j["end"]) for j in unit_jobs[k]]) for k in units}
    if workload == "stream":
        m["entry.construct_ms"] = 0.0
        m["entry.construct_jobs"] = 0.0
        for name in CATALYST.values():
            m[name] = 0.0
        w = out.get("window", {})
        m["codegen.compile_ms"] = w.get("codegen_ns", 0) / 1e6 / n
        m["codegen.compiles"] = w.get("compiles", 0) / n
    else:
        m["entry.construct_ms"] = mean(
            lambda k: max(0.0, units[k]["construct_end"] - units[k]["start"]))
        m["entry.construct_jobs"] = mean(lambda k: sum(
            1 for j in unit_jobs[k] if j["start"] <= units[k]["construct_end"]))
        for phase, name in CATALYST.items():
            m[name] = mean(lambda k: sum(
                q["phases"][phase][1] - q["phases"][phase][0]
                for q in qes if q["op"] == k and phase in q["phases"]))
        m["codegen.compile_ms"] = mean(lambda k: units[k].get("codegen_ns", 0) / 1e6)
        m["codegen.compiles"] = mean(lambda k: units[k].get("compiles", 0))
    m["sched.jobs"] = mean(lambda k: len(unit_jobs[k]))
    m["sched.stages"] = mean(lambda k: sum(len(j["stages"]) for j in unit_jobs[k]))
    m["sched.tasks"] = mean(lambda k: stage_sum(k, "tasks"))
    m["sched.job_busy_ms"] = mean(lambda k: busy[k])
    m["sched.outside_jobs_ms"] = mean(lambda k: max(0.0, walls[k] - busy[k]))
    m["exec.task_run_ms"] = mean(lambda k: stage_sum(k, "run_ms"))
    m["exec.task_cpu_ms"] = mean(lambda k: stage_sum(k, "cpu_ms"))
    m["exec.gc_ms"] = mean(lambda k: stage_sum(k, "gc_ms"))
    m["exec.task_launch_ms"] = mean(lambda k: stage_sum(k, "launch_ms"))
    total_busy = sum(busy.values())
    m["exec.cores_used"] = (sum(stage_sum(k, "run_ms") for k in units) / total_busy
                            if total_busy > 0 else 0.0)
    m["plans.topk_exec"] = (sum(1 for q in qes if q["topk"]) / n
                            if workload != "stream" else 0.0)
    m["shuffle.write_mb"] = mean(lambda k: stage_sum(k, "shuffle_write") / MB)
    m["shuffle.read_mb"] = mean(lambda k: stage_sum(k, "shuffle_read") / MB)
    m["shuffle.fetch_wait_ms"] = mean(lambda k: stage_sum(k, "fetch_wait_ms"))
    m["shuffle.spill_mb"] = mean(lambda k: stage_sum(k, "spill") / MB)
    pre = out.get("tier_build", {})
    m["engine.tier_build_ms"] = 1000.0 * pre.get("s", 0.0) + sum(
        units[k].get("tier_ready_ms", 0.0) for k in units)
    m["engine.tier_builds"] = pre.get("builds", 0) + sum(
        units[k].get("tier_builds", 0) for k in units)
    m["engine.tier_reuses"] = sum(units[k].get("tier_reuses", 0) for k in units)
    m["engine.tier_mb"] = out.get("tier_bytes", 0) / MB
    m["engine.scan_mb"] = mean(lambda k: stage_sum(k, "in_bytes") / MB)
    m["engine.write_mb"] = mean(lambda k: stage_sum(k, "out_bytes") / MB)
    m["engine.write_ms"] = mean(lambda k: stage_sum(k, "write_task_ms"))
    ml = [j for j in jobs if "MlQueries.scala" in j["site"] and j["op"] > 0]
    ml_ops = {j["op"] for j in ml}
    m["ml.fit_ms"] = (union_ms([(j["start"], j["end"]) for j in ml]) / len(ml_ops)
                      if ml_ops else 0.0)
    for key, phase in (("stream.batch_ms", "triggerExecution"),
                       ("stream.plan_ms", "queryPlanning"),
                       ("stream.add_batch_ms", "addBatch"),
                       ("stream.commit_ms", "commitOffsets")):
        m[key] = (sum(b["durations"].get(phase, 0) for b in batches) / len(batches)
                  if batches else 0.0)
    m["stream.offset_ms"] = (sum(b["durations"].get("latestOffset", 0) +
                                 b["durations"].get("walCommit", 0) for b in batches)
                             / len(batches) if batches else 0.0)
    m["stream.batches"] = float(len(batches))
    m["stream.rows_per_batch"] = (sum(b["rows"] for b in batches) / len(batches)
                                  if batches else 0.0)
    m["stream.backlog_rows"] = backlog(out, batches)
    corpus = workload == "corpus"
    m["corpus.jobs"] = m["sched.jobs"] if corpus else 0.0
    for stage in sorted(set(CORPUS_STAGES.values())) + ["other"]:
        m[f"corpus.stage_ms.{stage}"] = (mean(lambda k: union_ms(
            [(j["start"], j["end"]) for j in unit_jobs[k]
             if _corpus_stage(j["site"]) == stage])) if corpus else 0.0)
    report = ops[0].get("report", {}) if corpus and ops else {}
    for r in REPORT_ROWS:
        m[f"corpus.rows.{r}"] = float(report.get(r, 0))
    m["jvm.peak_rss_mb"] = out.get("peak_rss_mb", 0.0)
    ticks = out.get("ticks", [])
    m["bench.gen_late_ms"] = (sum(t["sent"] - t["due"] for t in ticks) / len(ticks)
                              if ticks else 0.0)
    window = (sum(walls.values()) if workload != "stream" else
              out["window"]["end"] - out["window"]["start"])
    overhead = out.get("callback_ns", 0) / 1e6 + sum(o.get("drain_ms", 0) for o in ops)
    m["bench.trace_overhead_pct"] = 100.0 * overhead / window if window > 0 else 0.0
    return m


def _corpus_stage(site):
    for f, stage in CORPUS_STAGES.items():
        if f in site:
            return stage
    return "other"


def backlog(out, batches):
    """Mean number of events sent but not yet committed, sampled at each
    micro-batch end."""
    ticks = out.get("ticks", [])
    if not batches or not ticks:
        return 0.0
    total = 0.0
    for b in batches:
        sent = sum(t["n"] for t in ticks if t["sent"] <= b["end"])
        done = sum(x["rows"] for x in batches if x["end"] <= b["end"])
        total += max(0.0, sent - done)
    return total / len(batches)
