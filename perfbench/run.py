#!/usr/bin/env python3
"""End-to-end benchmark of the paper's bill-matching workflow and the corpus
build, run from the repository root:

    python3 perfbench/run.py --workload billmatch-kmeans --seed 1 --seconds 40 --trace 0

A run builds the engine if its sources changed (perfbench/build.py), then
starts fresh JVMs (perfbench.Harness), one call of the workload's unchanged
main each, on a corpus generated from --seed: with --trace 0 as many as fit
in --seconds (at least one); with --trace 1 one plain call and one traced
call, whose steps are timed and attributed from outside. Every call's output
is checked. A call is measured cold, the way every user of the main pays for
it: JVM class loading, JIT and generated-code compilation included. The last
stdout line is one JSON object: correct, attempted, failed and the metrics
(end-to-end ones with --trace 0, per-layer ones with --trace 1).

    --corrupt     corrupt the first call's output before it is checked; the
                  run must then report that call failed (checks the checks)

Everything is written under .bench_build/ in the repository root: classes,
per-call work directories (deleted after the call), the JVM log and raw
harness report of the last call of each workload in logs/, traced spans in
traces/, and each seed's output digest in digests.json (a later run of the
same build and seed must match it).
"""
import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORK = build.BUILD
HARD_LIMIT_S = 170.0  # a run, build excluded, must end within 180 s
WORKLOADS = ("billmatch-kmeans", "corpus-build")

# BASELINE.md, workflow 1 on the reference's YARN cluster:
#   step 1 (features + k-means): 212 768 docs / (1 485 s x 90 cores)
#   step 2 (all-pairs cosine):   8.387e8 pairs / (4 855 s x 120 cores)
BASELINE_DOCS_PER_CORE_S = 212768 / (1485 * 90)
BASELINE_PAIRS_PER_CORE_S = 8.387e8 / (4855 * 120)

STEPS = ("session", "io.read", "text.features", "cluster.kmeans", "candidates.pairs",
         "similarity.score", "post.topk", "graph.pagerank", "graph.triangles",
         "post.summary", "text.gate", "dedup.exact", "dedup.near", "text.decontam",
         "io.write")
SPILL_STEPS = ("similarity.score", "dedup.near")

# head lines of the codegen events perfbench.CodegenCounter counts
CODEGEN_LINE = re.compile(
    r"^\S+ \S+ (ERROR|WARN) (CodeGenerator|UnsafeProjection|Predicate|WholeStageCodegenExec): "
    r"(Failed to compile the generated Java code"
    r"|Expr codegen error and falling back to interpreter mode"
    r"|Whole-stage codegen disabled for plan)")


def slots():
    return max(1, min(4, len(os.sched_getaffinity(0))))


def harness(classes, jars, a, trace, corrupt, deadline):
    """One JVM, one call; returns (jvm start seconds, report or None, log text)."""
    work = WORK / "work" / f"{a.workload}-{a.seed}-{os.getpid()}-{trace}"
    shutil.rmtree(work, ignore_errors=True)
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss4m"] + build.java_options()
           + ["-Dspark.extraListeners=perfbench.StepListener",
              f"-Djava.io.tmpdir={tmp}",
              "-cp", f"{classes}{os.pathsep}{jars / '*'}",
              "perfbench.Harness", a.workload, str(a.seed), str(trace), str(work),
              "1" if corrupt else "0"])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(slots()), SPARK_LOCAL_DIRS=str(tmp),
               SPARK_GRAFT_WAREHOUSE=str(work / "warehouse"))
    env.pop("SPARK_GRAFT_EVENTLOG_DIR", None)
    lines, ready = [], []
    t0 = time.monotonic()
    try:
        with open(work / "jvm.log", "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                    env=env, cwd=work)

            def read():
                for line in proc.stdout:
                    if line.startswith("PERFBENCH_READY") and not ready:
                        ready.append(time.monotonic() - t0)
                    lines.append(line)
            reader = threading.Thread(target=read, daemon=True)
            reader.start()
            try:
                proc.wait(timeout=max(1.0, deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                print("run: harness timed out and was killed", file=sys.stderr)
            reader.join()
        log_text = (work / "jvm.log").read_text(errors="replace")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res = None
    for line in lines:
        if line.startswith("PERFBENCH_RESULT "):
            res = json.loads(line[len("PERFBENCH_RESULT "):])
    if res is None or not ready:
        print(f"run: harness exited with {proc.returncode} and no result", file=sys.stderr)
        res = None
    logs = WORK / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    name = a.workload + ("-traced" if trace else "")
    (logs / f"{name}.log").write_text(log_text)
    (logs / f"{name}.result.json").write_text(json.dumps(res, indent=1))
    return (ready[0] if ready else None), res, log_text


def codegen_lines_in_trace(log):
    inside, n = False, 0
    for line in log.splitlines():
        if line.startswith("PERFBENCH_TRACE_BEGIN"):
            inside = True
        elif line.startswith("PERFBENCH_TRACE_END"):
            inside = False
        elif inside and CODEGEN_LINE.match(line):
            n += 1
    return n


def metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(ok):
    """ok: (jvm start, report) of the calls that passed. setup_s is what a
    user pays before the main does any work: JVM start plus the main's
    session start-up (GraftSession.local() up to its SparkContext's
    application-start event)."""
    wall = statistics.median(r["call"]["wall_s"] for _, r in ok)
    return {
        "wall_s": metric(wall, "s"),
        "docs_per_s": metric(ok[0][1]["docs"] / wall, "docs/s"),
        "cpu_s": metric(statistics.median(r["call"]["cpu_s"] for _, r in ok), "s"),
        "peak_storage_mb": metric(
            statistics.median(r["call"]["peak_storage_mb"] for _, r in ok), "MB"),
        "setup_s": metric(statistics.median(
            start + r["call"]["startup_s"] for start, r in ok), "s"),
    }


def per_layer(res, untraced_wall, n_slots):
    tr = res["trace"]
    steps, stats = tr["steps"], tr["stats"]
    m = {}
    for name in STEPS:
        s = steps.get(name)
        wall = s["wall_s"] if s else 0.0
        m[f"{name}.wall_s"] = metric(wall, "s")
        m[f"{name}.stages"] = metric(s["stages"] if s else 0, "count")
        m[f"{name}.tasks"] = metric(s["tasks"] if s else 0, "count")
        m[f"{name}.cpu_s"] = metric(s["cpu_s"] if s else 0.0, "s")
        m[f"{name}.gc_s"] = metric(s["gc_s"] if s else 0.0, "s")
        m[f"{name}.shuffle_mb"] = metric(s["shuffle_mb"] if s else 0.0, "MB")
        m[f"{name}.slot_idle_s"] = metric(wall * n_slots - s["slot_s"] if s else 0.0, "s")
        if name in SPILL_STEPS:
            m[f"{name}.spill_mb"] = metric(s["spill_mb"] if s else 0.0, "MB")

    def wall(name):
        return steps[name]["wall_s"] if name in steps else 0.0

    def ratio(a, b):
        return a / b if b else 0.0

    docs = stats.get("docs", 0.0)
    traced_wall = res["call"]["wall_s"]
    m["expressions.codegen_fallbacks"] = metric(int(tr["codegen_total"]), "count")
    m["text.features.nnz_per_doc"] = metric(ratio(stats.get("features.nnz", 0.0), docs), "count")
    m["cluster.kmeans.iterations"] = metric(int(stats.get("kmeans.iterations", 0)), "count")
    m["cluster.kmeans.max_block_share"] = metric(
        ratio(stats.get("kmeans.max_block", 0.0), docs), "ratio")
    m["candidates.pairs.rows"] = metric(int(stats.get("candidates", 0)), "count")
    m["candidates.pairs.pair_ratio"] = metric(
        ratio(stats.get("candidates", 0.0), stats.get("cross_state_pairs", 0.0)), "ratio")
    m["candidates.pairs.recall"] = metric(
        ratio(stats.get("planted_kept", 0.0), stats.get("planted", 0.0)), "ratio")
    m["dedup.near.rows"] = metric(int(stats.get("near_pairs", 0)), "count")
    m["dedup.exact.removed_ratio"] = metric(
        ratio(stats.get("gated", 0.0) - stats.get("exact", 0.0), stats.get("gated", 0.0)), "ratio")
    m["dedup.near.removed_ratio"] = metric(
        ratio(stats.get("exact", 0.0) - stats.get("deduped", 0.0), stats.get("exact", 0.0)), "ratio")
    m["io.write.mb"] = metric(steps["io.write"]["output_mb"] if "io.write" in steps else 0.0, "MB")
    m["cluster.kmeans.docs_per_core_s"] = metric(
        ratio(docs, (wall("text.features") + wall("cluster.kmeans")) * n_slots), "docs/s/core")
    m["similarity.score.pairs_per_core_s"] = metric(
        ratio(stats.get("sims", 0.0), wall("similarity.score") * n_slots), "pairs/s/core")
    m["driver.unattributed_s"] = metric(
        traced_wall - sum(s["wall_s"] for s in steps.values()), "s")
    m["trace.overhead_s"] = metric(traced_wall - untraced_wall, "s")
    return m


def write_trace(res, workload, seed, n_slots):
    """Spans of the traced call plus each layer's self time (a step span has
    no children, so its self time is its duration; the root's is what the
    steps leave uncovered)."""
    tr = res["trace"]
    spans = tr["spans"]
    t0 = min(s["start_ns"] for s in spans)
    out = {
        "workload": workload, "seed": seed, "slots": n_slots,
        "traced_wall_s": res["call"]["wall_s"],
        "spans": [dict(s, start_s=(s["start_ns"] - t0) / 1e9, end_s=(s["end_ns"] - t0) / 1e9,
                       self_s=(s["end_ns"] - s["start_ns"]) / 1e9) for s in spans],
        "root_self_s": res["call"]["wall_s"] - sum(s["wall_s"] for s in tr["steps"].values()),
        "steps": tr["steps"], "unlabelled": tr["unlabelled"], "stats": tr["stats"],
    }
    d = WORK / "traces"
    d.mkdir(parents=True, exist_ok=True)
    (d / f"{workload}-seed{seed}.json").write_text(json.dumps(out, indent=1))


def check_digest_record(stamp, workload, seed, digest):
    """The same build and seed must give the same output in every run."""
    path = WORK / "digests.json"
    try:
        record = json.loads(path.read_text())
    except (OSError, ValueError):
        record = {}
    seen = record.setdefault(stamp, {}).get(f"{workload}:{seed}")
    if seen is not None and seen != digest:
        return f"output {digest} differs from an earlier run's {seen}"
    record[stamp][f"{workload}:{seed}"] = digest
    path.write_text(json.dumps({stamp: record[stamp]}))
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true")
    a = ap.parse_args()

    if not (build.ROOT / "src" / "main" / "scala" / "graft" / "BillMatch.scala").is_file():
        sys.exit("run: the engine sources (src/main/scala) are not in this tree")
    classes, jars = build.ensure()
    t_start = time.monotonic()
    deadline = t_start + HARD_LIMIT_S

    plain = []  # (jvm start, report or None) per untraced call
    while True:
        t_call = time.monotonic()
        start, res, _ = harness(classes, jars, a, 0, a.corrupt and not plain, deadline)
        plain.append((start, res))
        took = time.monotonic() - t_call
        if a.trace or time.monotonic() - t_start + took > a.seconds:
            break
    traced = harness(classes, jars, a, 1, False, deadline) if a.trace else None

    reports = [r for _, r in plain] + ([traced[1]] if traced else [])
    failed = sum(1 for r in reports if r is None or not r["call"]["ok"])
    problems = [f"call: {r['call']['error']}" if r else "call: no report"
                for r in reports if r is None or not r["call"]["ok"]]
    outputs = {(r["call"]["digest"], r["call"]["pairs"]) for r in reports if r and r["call"]["ok"]}
    if len(outputs) > 1:
        problems.append(f"outputs differ across calls: {sorted(outputs)}")
    elif outputs:
        p = check_digest_record((classes / ".stamp").read_text(), a.workload, a.seed,
                                next(iter(outputs))[0])
        if p:
            problems.append(p)

    ok = [(s, r) for s, r in plain if r and r["call"]["ok"]]
    n_slots = slots()
    metrics = {}
    if ok and not a.trace:
        metrics = end_to_end(ok)
    elif ok and traced[1] and traced[1]["call"]["ok"]:
        res = traced[1]
        counted = codegen_lines_in_trace(traced[2])
        if counted != res["trace"]["codegen_total"]:
            problems.append(f"codegen counter {res['trace']['codegen_total']} != "
                            f"{counted} codegen lines in the traced call's log")
        metrics = per_layer(res, statistics.median(r["call"]["wall_s"] for _, r in ok), n_slots)
        metrics["failed_ratio"] = metric(failed / len(reports), "ratio")
        write_trace(res, a.workload, a.seed, n_slots)

    for p in problems:
        print(f"run: FAILED {p}", file=sys.stderr)
    first = next((r for r in reports if r), None)
    if first:
        print(f"run: {a.workload} seed {a.seed}: {first['docs']} docs, "
              f"{first['planted_pairs']} planted pairs, {len(reports)} calls, {failed} failed")
    for name, v in metrics.items():
        print(f"  {name:40s} {v['value']:>14.6g} {v['unit']}")
    if a.trace and metrics.get("candidates.pairs.rows", metric(0, ""))["value"] > 0:
        print(f"  BASELINE workflow 1 step 1: {BASELINE_DOCS_PER_CORE_S:.3g} docs/s/core "
              f"vs cluster.kmeans.docs_per_core_s "
              f"{metrics['cluster.kmeans.docs_per_core_s']['value']:.4g}")
        print(f"  BASELINE workflow 1 step 2: {BASELINE_PAIRS_PER_CORE_S:.4g} pairs/s/core "
              f"vs similarity.score.pairs_per_core_s "
              f"{metrics['similarity.score.pairs_per_core_s']['value']:.4g}")
    correct = not problems and bool(metrics)
    print(json.dumps({"correct": correct, "attempted": len(reports), "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
