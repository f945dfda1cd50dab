"""Per-layer view of one traced run.

The JVM harness hands over its iterations, the pipeline call in each, every
iteration's stage report, and the Spark jobs and stages its listener saw.
This module rebuilds the pipeline-stage spans from the reports, hangs each
Spark job under the innermost span that contains its submission, computes
self time per span, and reduces it all to the per-layer metrics.
"""
import json

from stats import idle_core_frac, innermost, median, self_times, stage_windows

DWH_STAGES = ["stage_raw", "quality", "transform_load", "report"]
CORPUS_STAGES = ["ingest", "quality_gate", "source_cap", "dedup", "span_scrub",
                 "tokenizer", "ppl_buckets", "shard_write"]
PIPELINE_CALLS = {"Pipeline.runAll": "dwh", "CorpusPipeline.runAll": "corpus"}
JVM = [("jvm.jit_s", "jit_ms", 1e-3), ("jvm.gc_s", "gc_ms", 1e-3),
       ("codegen.compiles", "codegen_compiles", 1.0),
       ("codegen.compile_ms", "codegen_ms", 1.0)]
STAGE_FIELDS = ["s", "cpu_s", "jobs", "shuffle_mb"]
SPARK = ["spark.jobs", "spark.stages", "spark.tasks", "spark.task_cpu_s", "spark.task_run_s",
         "spark.idle_core_frac", "spark.one_task_stage_s", "spark.task_skew_max",
         "shuffle.write_mb", "shuffle.read_mb", "shuffle.records", "spill.mb"]
OTHER = ["io.read_mb", "io.write_mb", "io.files_written", "ckpt.mb", "ckpt.rdds",
         "pipeline.self_s", "trace.overhead_s", "host.steal_frac"]
MB = 1e6
# a stage's max/median task time only counts as skew above this duration
SKEW_MIN_TASK_MS = 100


def metric_names():
    names = [n for n, _, _ in JVM] + [f"cold.{n}" for n, _, _ in JVM] + SPARK + OTHER
    names += [f"dwh.{s}.{f}" for s in DWH_STAGES for f in STAGE_FIELDS]
    names += [f"corpus.{s}.{f}" for s in CORPUS_STAGES for f in STAGE_FIELDS]
    return names


def build_spans(result):
    """Span tree: iteration → call → pipeline stage → Spark job."""
    spans = []
    for it in result["iterations"]:
        spans.append({"id": f"it{it['iter']}", "name": "iteration", "parent": None,
                      "iter": it["iter"], "start_ms": it["start_ms"], "end_ms": it["end_ms"]})
    reports = {it["iter"]: it["report"] for it in result["iterations"]}
    for s in result["calls"]:
        call = {"id": f"it{s['iter']}/{s['name']}", "name": s["name"],
                "parent": f"it{s['iter']}", "iter": s["iter"],
                "start_ms": s["start_ms"], "end_ms": s["end_ms"]}
        spans.append(call)
        prefix = PIPELINE_CALLS.get(s["name"])
        if prefix:
            for stage, t0, t1 in stage_windows(s["start_ms"], reports.get(s["iter"], [])):
                spans.append({"id": f"{call['id']}/{stage}", "name": f"{prefix}.{stage}",
                              "parent": call["id"], "iter": s["iter"],
                              "start_ms": t0, "end_ms": t1})
    owners = list(spans)
    for j in result["jobs"]:
        owner = innermost(owners, j["submit_ms"])
        spans.append({"id": f"job{j['job']}", "name": "spark.job",
                      "parent": owner["id"] if owner else None,
                      "iter": owner["iter"] if owner else None,
                      "start_ms": j["submit_ms"], "end_ms": max(j["end_ms"], j["submit_ms"])})
    return self_times(spans)


def _within(records, t0, t1):
    return [r for r in records if t0 <= r["submit_ms"] < t1]


def iteration_layers(result, it, spans, cores):
    """Per-layer metrics of one traced iteration."""
    t0, t1 = it["start_ms"], it["end_ms"]
    stages = _within(result["stages"], t0, t1)
    jobs = _within(result["jobs"], t0, t1)
    run_s = sum(s["run_ms"] for s in stages) / 1e3
    skews = [s["task_max_ms"] / s["task_median_ms"] for s in stages
             if s["tasks"] >= 2 and s["task_median_ms"] > 0
             and s["task_max_ms"] >= SKEW_MIN_TASK_MS]
    m = {
        "spark.jobs": len(jobs), "spark.stages": len(stages),
        "spark.tasks": sum(s["tasks"] for s in stages),
        "spark.task_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "spark.task_run_s": run_s,
        "spark.idle_core_frac": idle_core_frac(run_s, cores, (t1 - t0) / 1e3),
        "spark.one_task_stage_s": sum((s["end_ms"] - s["submit_ms"]) / 1e3
                                      for s in stages if s["tasks"] == 1),
        "spark.task_skew_max": max(skews, default=1.0),
        "shuffle.write_mb": sum(s["shuffle_write_b"] for s in stages) / MB,
        "shuffle.read_mb": sum(s["shuffle_read_b"] for s in stages) / MB,
        "shuffle.records": sum(s["shuffle_records"] for s in stages),
        "spill.mb": sum(s["spill_b"] for s in stages) / MB,
        "io.read_mb": sum(s["input_b"] for s in stages) / MB,
        "io.write_mb": sum(s["output_b"] for s in stages) / MB,
        "io.files_written": it["files_written"],
        "ckpt.mb": it["ckpt_bytes"] / MB, "ckpt.rdds": it["ckpt_rdds"],
        "pipeline.self_s": 0.0,
    }
    for name, key, scale in JVM:
        m[name] = it["jvm"][key] * scale
    for s in spans:
        if s["iter"] != it["iter"]:
            continue
        if s["name"] in PIPELINE_CALLS:
            m["pipeline.self_s"] = s["self_ms"] / 1e3
        elif s["name"].split(".")[0] in ("dwh", "corpus"):
            ss = _within(stages, s["start_ms"], s["end_ms"])
            m[f"{s['name']}.s"] = (s["end_ms"] - s["start_ms"]) / 1e3
            m[f"{s['name']}.cpu_s"] = sum(x["cpu_ns"] for x in ss) / 1e9
            m[f"{s['name']}.jobs"] = len(_within(jobs, s["start_ms"], s["end_ms"]))
            m[f"{s['name']}.shuffle_mb"] = sum(x["shuffle_write_b"] for x in ss) / MB
    return m


def layers(result, measured, cores):
    """Per-layer metrics: medians over the measured traced iterations,
    `cold.*` from the first iteration, and the recorder's own cost as the
    difference of the traced and untraced warm medians."""
    spans = build_spans(result)
    traced = [it for it in measured if it["traced"]] or measured
    per_it = [iteration_layers(result, it, spans, cores) for it in traced]
    out = {}
    for name in metric_names():
        out[name] = median([m.get(name, 0.0) for m in per_it])
    cold = result["iterations"][0]
    for name, key, scale in JVM:
        out[f"cold.{name}"] = cold["jvm"][key] * scale
    dur = lambda its: median([(it["end_ms"] - it["start_ms"]) / 1e3 for it in its])
    # the untraced iterations of the ABBA block, after the first warm one
    untraced = [it for it in measured if not it["traced"] and it["iter"] > traced[0]["iter"]]
    out["trace.overhead_s"] = dur(traced) - dur(untraced) if untraced else 0.0
    return out, spans


def write_trace(path, spans):
    path.write_text(json.dumps(
        [{k: s[k] for k in ("id", "name", "parent", "iter", "start_ms", "end_ms", "self_ms")}
         for s in spans]))
