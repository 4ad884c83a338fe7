#!/usr/bin/env python3
"""Self-test of the benchmark at its smallest sizes.

    python3 perfbench/selftest.py [workload ...]

Run from the repository root. Each workload runs once, traced, at the
smallest sizes (sf0.001, 12 shelves and 3 branches, two batches of 45 docs):
its correctness checks must pass and every metric named in run.py and
BENCHMARK.json must be emitted, non-zero where the workload exercises
the layer. Then the benchmark must refuse to run, without printing a
result, in a directory that holds only BENCHMARK.json and perfbench/.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

ESVC = ["plans.shelve.rounds", "plans.shelve.tests", "plans.shelve.jobs", "core.engine_calls_driver",
        "core.engine_busy_s", "core.memo_entries", "sources.graph.save_s", "sources.graph.merge_from_s",
        "sources.graph.editing_graph_s", "sources.graph.jobs"]
# per-layer metrics that must be non-zero on each workload
EXERCISED = {
    "esvc-native": ESVC,
    "esvc-wasm": ESVC + ["functions.wasm.calls", "functions.wasm.us_per_call"],
    "stream-curation": [f"streaming.stage.{k}_s" for k in
                        ["winners", "neardup", "admit", "gram_decontam", "semantic", "substring"]]
    + ["streaming.batch_jobs", "sources.delete.tombstone_s", "sources.delete.decrement_s",
       "sources.maint.windows", "sources.forget.jobs", "sources.artifact_files", "operators.forget.wall_s"],
    "query-mix": ["operators.build_s", "operators.plan_s", "operators.exec_s"],
}
DETAIL = {
    "esvc-native": ["shelve_p50_ms", "shelve_p90_ms", "merge_s", "sync_s", "error_rate"],
    "esvc-wasm": ["shelve_p50_ms", "shelve_p90_ms", "merge_s", "sync_s", "error_rate"],
    "stream-curation": ["batch_p50_s", "ingest_docs_per_s", "delete_p50_s", "forget_s", "maint_pause_s",
                        "artifact_mb", "error_rate"],
    "query-mix": ["mix_total_s", "query_p50_ms", "error_rate"],
}


def check_benchmark_json(problems):
    path = "BENCHMARK.json"
    if not os.path.exists(path):
        return
    bm = json.load(open(path))
    if {m["name"]: m["unit"] for m in bm["end_to_end"]} != run.END_TO_END:
        problems.append("BENCHMARK.json end_to_end differs from run.END_TO_END")
    if {m["name"]: m["unit"] for m in bm["per_layer"]} != run.PER_LAYER:
        problems.append("BENCHMARK.json per_layer differs from run.PER_LAYER")
    for w in bm["workloads"]:
        if w["name"] not in run.WORKLOADS:
            problems.append(f"BENCHMARK.json names unknown workload {w['name']}")


def check_workload(name, problems):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", name, "--seed", "7",
                        "--seconds", "1", "--trace", "1", "--size", "tiny"], capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        problems.append(f"{name}: rc {p.returncode}: {p.stderr[-1500:]}")
        return
    res, info = json.loads(lines[-1]), json.loads(lines[-2])
    if not res["correct"] or res["failed"] or res["attempted"] < 1:
        problems.append(f"{name}: checks failed: {info['failures']}")
    for k in run.PER_LAYER:
        if k not in res["metrics"]:
            problems.append(f"{name}: per-layer metric {k} missing")
    for k in EXERCISED[name] + ["spark.jobs", "spark.tasks", "spark.job_wall_s", "trace.overhead_ratio",
                                "trace.coverage"]:
        if not res["metrics"].get(k, {}).get("value"):
            problems.append(f"{name}: per-layer metric {k} is missing or zero")
    if name == "query-mix":
        per_query = [k for k, v in res["metrics"].items() if k.startswith("q.") and v["value"]]
        if len(per_query) != 38:
            problems.append(f"query-mix: {len(per_query)} non-zero q.<query>.* metrics, want 38")
    for k in run.END_TO_END:
        if not info["end_to_end"].get(k, {}).get("value"):
            problems.append(f"{name}: end-to-end metric {k} is missing or zero")
    for k in DETAIL[name]:
        if k not in info["detail"]:
            problems.append(f"{name}: figure {k} missing")
    for k in ["nproc", "heap_mb", "jvm", "spark", "calib_start_ms", "calib_end_ms", "source_sha256"]:
        if k not in info["box"]:
            problems.append(f"{name}: box record lacks {k}")
    print(f"{name}: attempted {res['attempted']} failed {res['failed']} "
          f"overhead {res['metrics']['trace.overhead_ratio']['value']:.2f}", flush=True)


def check_bare_refusal(problems):
    """Only BENCHMARK.json and perfbench/: no program to build, so no result."""
    bare = os.path.join(HERE, ".run", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    skip = shutil.ignore_patterns(".run", ".out", "target", "project/target", "__pycache__", ".build-stamp")
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=skip)
    if os.path.exists("BENCHMARK.json"):
        shutil.copy("BENCHMARK.json", bare)
    try:
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "esvc-wasm", "--seed", "1",
                            "--seconds", "1", "--trace", "0"], cwd=bare, capture_output=True, text=True,
                           timeout=170)
        if p.returncode == 0 or p.stdout.strip():
            problems.append(f"bare directory: rc {p.returncode}, stdout {p.stdout[-300:]!r}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main():
    problems = []
    check_benchmark_json(problems)
    for name in sys.argv[1:] or run.WORKLOADS:
        check_workload(name, problems)
    check_bare_refusal(problems)
    for msg in problems:
        print("FAIL", msg)
    print("SELFTEST-OK" if not problems else f"SELFTEST-FAILED ({len(problems)})")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
