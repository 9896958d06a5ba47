#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

    python3 graftbench/run.py --workload suite|corpus|stream --seed N \
        --seconds S --trace 0|1

Builds the engine and the harness from source on first use (sbt, into
graftbench/target), generates the seed's tables, runs the workload in
one JVM on local[nproc], checks every output and prints the metrics as
the last stdout line (end-to-end metrics untraced, per-layer metrics
with --trace 1). All scratch files live under graftbench/.work and are
removed afterwards.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
# no bytecode caches next to the imported sources, tools/ included
sys.dont_write_bytecode = True

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

RUN_LIMIT_S = 175
WORKLOADS = ("suite", "corpus", "stream")
# Every 16th query of the numerically sorted list (offset 5), plus the
# MLlib fit (q41) and the two plans the consumption test pins (q02,
# q04). Two swaps keep a run within its time budget: q246 (four cold
# tier builds, 6.6 s on 4 cores) for its neighbour q247, and q262 (the
# dedup-cascade build, 12 s) for q173, which builds one small tier, so
# the tier layer is still exercised. The seed only shuffles the order.
SUITE_QUERIES = (
    "q02_project_cast", "q04_price_bands", "q06_dow_agg", "q22_join_anti",
    "q38_lsh_buckets", "q41_ml_confusion", "q54_label_centroids", "q70_token_budget",
    "q86_temperature_mixture", "q102_cross_source_dups", "q118_ks_test",
    "q134_countmin", "q150_event_assoc", "q166_expectations", "q173_props_profile",
    "q182_hill_tail", "q198_bucket_balance", "q214_cdc_compact", "q230_latency_slo",
    "q247_data_budget")
# The tables are the same on every run (generated from DATA_SEED); the
# run's --seed picks the query order, the corpus eval slice and the
# stream's replay order.
DATA_SEED = 42
SCALE = {"suite": (0.01, 1000), "corpus": (0.001, 1000), "stream": (0.01, 500)}
STREAM_RATE = 8000

END_TO_END = {"setup_s": "s", "latency_p50_ms": "ms", "latency_tail_ms": "ms",
              "latency_mean_ms": "ms"}
PER_LAYER_UNITS = {"_ms": "ms", "_mb": "MB", "_pct": "%", "cores_used": "cores"}
PER_LAYER = (
    "entry.construct_ms", "entry.construct_jobs",
    "catalyst.analysis_ms", "catalyst.optimizer_ms", "catalyst.planning_ms",
    "codegen.compile_ms", "codegen.compiles",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.job_busy_ms",
    "sched.outside_jobs_ms",
    "exec.task_run_ms", "exec.task_cpu_ms", "exec.gc_ms", "exec.task_launch_ms",
    "exec.cores_used", "plans.topk_exec",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_ms", "shuffle.spill_mb",
    "engine.tier_build_ms", "engine.tier_builds", "engine.tier_reuses", "engine.tier_mb",
    "engine.scan_mb", "engine.write_mb", "engine.write_ms",
    "ml.fit_ms",
    "stream.batch_ms", "stream.plan_ms", "stream.offset_ms", "stream.add_batch_ms",
    "stream.commit_ms", "stream.batches", "stream.rows_per_batch", "stream.backlog_rows",
    "corpus.jobs",
    *(f"corpus.stage_ms.{s}" for s in sorted(set(metrics.CORPUS_STAGES.values())) + ["other"]),
    *(f"corpus.rows.{r}" for r in metrics.REPORT_ROWS),
    "jvm.peak_rss_mb", "bench.gen_late_ms", "bench.trace_overhead_pct",
)
JVM_OPENS = ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar")


def layer_unit(name):
    for part in name.split("."):
        for suffix, unit in PER_LAYER_UNITS.items():
            if part.endswith(suffix):
                return unit
    return "count"


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    files = sorted((ROOT / "src" / "main").rglob("*.scala")) + sorted(
        (HERE / "src").rglob("*.scala")) + [HERE / "build.sbt"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(deadline):
    """Compiles the engine and the harness unless the sources are
    unchanged since the last build."""
    stamp = HERE / "target" / "graftbench.stamp"
    digest = source_digest()
    if stamp.exists() and stamp.read_text() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.exists():
        env["SBT_OPTS"] = ("-Dsbt.offline=true -Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos}")
    res = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                         cwd=HERE, env=env, capture_output=True, text=True,
                         timeout=max(1, deadline - time.monotonic()))
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:] + res.stderr[-4000:])
        fail("build failed")
    stamp.write_text(digest)


def run_jvm(args, work, deadline):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        fail("SPARK_HOME is not set")
    # the engine build's JVM options, with a fixed heap so runs on
    # machines of different sizes do the same garbage collection, and no
    # perf-data file outside the checkout
    cmd = ["java", *(x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Xmx3g",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", f"{HERE / 'target' / 'scala-2.13' / 'classes'}:{spark_home}/jars/*",
           "graftbench.Harness", *(f"{k}={v}" for k, v in args.items())]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(work / "jvm.log", "w") as log:
        res = subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             timeout=max(1, deadline - time.monotonic()))
    if res.returncode != 0:
        sys.stderr.write((work / "jvm.log").read_text()[-6000:])
        fail(f"harness exited with {res.returncode}")
    return json.loads(Path(args["out"]).read_text())


def summarize(workload, out, n_docs):
    """(attempted, failed, problems, end-to-end values, sample notes)."""
    tiers_s = out.get("tier_build", {}).get("s", 0.0)
    notes = {"setup_s": f"median of {len(out['setup_s'])} session set-ups"
                        + (f" plus {tiers_s:.1f} s constructing every query once,"
                           " which builds the tiers" if tiers_s else "")}
    if workload == "stream":
        problems = check.stream(out)
        lat, missing = metrics.stream_latencies(out)
        attempted = out["sent"]
        failed = attempted if problems else missing
        what = "generator ticks"
    else:
        ops = out["ops"]
        if workload == "suite":
            problems = check.suite(out, out["_data"], out["_results"])
        else:
            problems = check.corpus(out, n_docs)
        bad = {name for name, _ in problems}
        attempted = len(ops)
        failed = sum(1 for o in ops if o["name"] in bad)
        lat = [o["end"] - o["start"] for o in ops]
        what = "queries" if workload == "suite" else "pipeline runs"
    label, tail_v = metrics.tail(lat)
    notes["latency_p50_ms"] = f"median of {len(lat)} {what}"
    notes["latency_tail_ms"] = f"{label} of {len(lat)} {what}"
    notes["latency_mean_ms"] = f"mean of {len(lat)} {what}"
    values = {"setup_s": metrics.quantile(out["setup_s"], 50) + tiers_s,
              "latency_p50_ms": metrics.quantile(lat, 50),
              "latency_tail_ms": tail_v,
              "latency_mean_ms": sum(lat) / len(lat)}
    for name, why in problems[:20]:
        print(f"CHECK FAILED {name}: {why}")
    return attempted, failed, problems, values, notes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # exit through the finally blocks, which stop the JVM and clean up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.monotonic() + RUN_LIMIT_S
    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").exists():
        fail(f"no engine sources under {ROOT}")
    build(time.monotonic() + 850)
    deadline = max(deadline, time.monotonic() + 120)

    work = HERE / ".work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        sf, n_docs = SCALE[a.workload]
        gen.write(str(work / "data"), DATA_SEED, sf, n_docs)
        args = {"workload": a.workload, "data": work / "data", "work": work,
                "out": work / "out.json", "seed": a.seed, "seconds": a.seconds,
                "trace": a.trace}
        if a.workload == "suite":
            args["queries"] = ",".join(SUITE_QUERIES)
        if a.workload == "stream":
            args["rate"] = STREAM_RATE
        out = run_jvm(args, work, deadline)
        out["_data"], out["_results"] = str(work / "data"), str(work / "results")
        attempted, failed, problems, values, notes = summarize(a.workload, out, n_docs)
        if a.trace:
            spans = metrics.spans_of(out)
            bad = [s for s in spans if abs(s["child_ms"] + s["self_ms"] -
                                           (s["end"] - s["start"])) > 1e-6]
            if bad or out.get("drain_timeout"):
                problems.append(("trace", f"{len(bad)} spans with inconsistent self time"))
                failed = max(failed, 1)
            trace_dir = HERE / ".traces"
            trace_dir.mkdir(exist_ok=True)
            (trace_dir / f"{a.workload}-{a.seed}.json").write_text(json.dumps(spans))
            layer = metrics.layers(out, a.workload)
            result = {k: {"value": layer[k], "unit": layer_unit(k)} for k in PER_LAYER}
        else:
            result = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
            for k in END_TO_END:
                print(f"{a.workload} {k} = {values[k]:.4f} {END_TO_END[k]} ({notes[k]})")
        print(json.dumps({"correct": not problems and failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": result}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
