#!/usr/bin/env python3
"""graft's benchmark: one seeded workload in one fresh JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the JVM harness (perfbench/build.py), generates the
seed's inputs (perfbench/gen.py), runs the workload in a fresh process
with its own tmp, Spark local and zone directories, checks the outputs
(perfbench/checks.py) and prints a summary, then one JSON line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Everything a run writes stays under .bench_work/ and is removed at exit,
except the last traced run's span file, .bench_work/trace-<workload>.json;
the build's outputs stay in .bench_build/.
"""
import argparse
import json
import os
import pathlib
import shutil
import signal
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import trace  # noqa: E402
from stats import median, quartiles  # noqa: E402

ROOT = HERE.parent
WORK_ROOT = ROOT / ".bench_work"
WORKLOADS = {
    "dwh_daily_load": {"pipeline": "dwh", "check": checks.check_dwh},
    "corpus_curation": {"pipeline": "corpus", "check": checks.check_corpus},
}
# iteration 0 is cold and also the warm-up; WARMUP more iterations after it
# are discarded; at least MEASURED iterations follow, more while the
# --seconds budget lasts. Two, not more, because 48 runs must fit 3,420 s
# (perfbench/DESIGN.md)
WARMUP = 0
MEASURED = 2
# a traced run measures three more: the recorder is on in iterations 2 and
# 5 and off in 3 and 4 (and in 1, the first warm one)
TRACE_EXTRA = 3
# set-up is timed in this many processes per run: the measured one and
# SETUP_SAMPLES - 1 that only build the session
SETUP_SAMPLES = 2
RUN_DEADLINE_S = 170


def launch(work, args, deadline):
    """Runs one harness JVM; returns (launch epoch seconds, parsed result)."""
    out = work / "result.json"
    cmd = build.java(work, args + ["--out", str(out)],
                     [f"-XX:SharedArchiveFile={build.ARCHIVE}"])
    t_launch = time.time()
    build.run_jvm(cmd, work, deadline - time.time())
    res = json.loads(out.read_text())
    out.unlink()
    return t_launch, res


def cpu_ticks():
    """(steal, total) jiffies of all CPUs so far; (0, 0) where unavailable."""
    try:
        f = [int(x) for x in open("/proc/stat").readline().split()[1:9]]
    except (OSError, ValueError):
        return (0, 0)
    return (f[7], sum(f))


def dir_bytes(path):
    return sum(f.stat().st_size for f in pathlib.Path(path).rglob("*") if f.is_file())


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))
    spec = WORKLOADS[a.workload]

    build.build()
    deadline = time.time() + RUN_DEADLINE_S
    work = WORK_ROOT / f"run-{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        manifest = gen.generate(a.seed, work / "in", spec["pipeline"])
        ticks0 = cpu_ticks()
        setups = []
        for _ in range(SETUP_SAMPLES - 1):
            t_launch, res = launch(work, ["--pipeline", "setup"], deadline)
            setups.append(res["ready_ms"] / 1e3 - t_launch)
        t_launch, res = launch(work, [
            "--pipeline", spec["pipeline"], "--base-zones", str(build.BASE_ZONES),
            "--in", str(work / "in"), "--seconds", str(a.seconds),
            "--trace", str(a.trace),
            "--min-iters", str(1 + WARMUP + MEASURED + TRACE_EXTRA * a.trace)], deadline)
        setups.append(res["ready_ms"] / 1e3 - t_launch)
        its = res["iterations"]
        ticks1 = cpu_ticks()
        # share of the host's CPU time taken by other guests while the JVMs ran
        steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
        # everything the loads left in the zones, per byte of the files they
        # read: for DWH the base and delta days, for the corpus its documents
        out_bytes = dir_bytes(res["zones"])
        in_bytes = sum(dir_bytes(work / "in" / d) for d in
                       (("base", "delta") if spec["pipeline"] == "dwh" else ("corpus",)))
        results = spec["check"](res, work / "in", manifest)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # a failed iteration is also listed, with its error, in res["failures"]
    failed_iters = sum(1 for it in its if not it["ok"])
    failed_checks = sum(1 for c in results if not c["ok"])
    attempted = len(its) + len(results)
    failed = failed_iters + failed_checks
    measured = its[1 + WARMUP:]
    warm = [(it["end_ms"] - it["start_ms"]) / 1e3 for it in measured]
    q1, warm_med, q3 = quartiles(warm)
    e2e = {
        "setup_s": (median(setups), "s"),
        "cold_run_s": ((its[0]["end_ms"] - its[0]["start_ms"]) / 1e3, "s"),
        "warm_run_s": (warm_med, "s"),
        "peak_rss_mb": (res["vm_hwm_kb"] / 1024.0, "MB"),
        "out_bytes_per_in_byte": (out_bytes / in_bytes, "ratio"),
    }
    print(f"workload {a.workload} seed {a.seed}: {len(its)} iterations "
          f"(1 cold, {WARMUP} warm-up, {len(measured)} measured), trace {a.trace}")
    for name, (v, unit) in e2e.items():
        print(f"  {name:<22} {v:12.4f} {unit}")
    print(f"  {'warm_run_s quartiles':<22} q1 {q1:.4f} q3 {q3:.4f} n {len(warm)}")
    print(f"  {'setup samples':<22} " + " ".join(f"{x:.2f}" for x in setups) + " s")
    print(f"  {'iterations':<22} " + " ".join(
        f"{(it['end_ms'] - it['start_ms']) / 1e3:.2f}" for it in its) + " s")
    print(f"  {'host steal share':<22} {steal:12.4f} ratio")
    print(f"  {'stage rows, last iter':<22} " + " ".join(
        f"{r['stage']}={r['rows']}" for r in its[-1]["report"]))
    print(f"  {'fail_frac':<22} {failed / attempted:12.4f} ratio")
    for c in results:
        if not c["ok"]:
            print(f"  check FAILED {c['name']}: {c['detail']}")
    for f in res["failures"]:
        print(f"  iteration FAILED {f}")
    print(f"  output checks: {len(results) - failed_checks}/{len(results)} passed")

    if a.trace:
        per_layer, spans = trace.layers(res, measured, build.CORES)
        per_layer["host.steal_frac"] = steal
        trace.write_trace(WORK_ROOT / f"trace-{a.workload}.json", spans)
        metrics = {k: {"value": v, "unit": UNITS.get(k.split(".")[-1], "count")}
                   for k, v in per_layer.items()}
        print(f"  tracing overhead {per_layer['trace.overhead_s']:.4f} s per warm iteration")
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


UNITS = {"s": "s", "cpu_s": "s", "jit_s": "s", "gc_s": "s", "task_cpu_s": "s",
         "task_run_s": "s", "one_task_stage_s": "s", "self_s": "s", "overhead_s": "s",
         "compile_ms": "ms", "mb": "MB", "write_mb": "MB", "read_mb": "MB",
         "shuffle_mb": "MB", "idle_core_frac": "ratio", "task_skew_max": "ratio",
         "steal_frac": "ratio"}

if __name__ == "__main__":
    main()
