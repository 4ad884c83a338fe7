#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
harness from source (sbt, in perfbench/); later runs reuse the build
while the sources are unchanged. Inputs are generated from --seed into
a fresh state directory under perfbench/.run/, which is deleted at
exit. The last stdout line is the result JSON; the line before it holds
the workload's named figures and the box record. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ["esvc-native", "esvc-wasm", "query-mix", "stream-curation"]
END_TO_END = {"setup_s": "s", "op_mean_ms": "ms", "cycle_s": "s", "cycle_cpu_s": "s"}
# per-layer metrics every traced run reports (0 where the workload does
# not exercise the layer); the query mix adds q.<query>.* and operators.{build,plan,exec}_s
PER_LAYER = {
    **{f"spark.{k}": u for k, u in [
        ("jobs", "count"), ("tasks", "count"), ("job_wall_s", "s"), ("driver_only_s", "s"),
        ("task_busy_s", "s"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("gc_s", "s")]},
    **{f"plans.shelve.{k}": u for k, u in [
        ("rounds", "count"), ("rounds_fanned", "count"), ("tests", "count"), ("jobs", "count"),
        ("wall_s", "s"), ("tests_per_job", "count")]},
    **{f"core.{k}": u for k, u in [
        ("shelve_self_s", "s"), ("merge_self_s", "s"), ("engine_calls_driver", "count"),
        ("engine_calls_exec", "count"), ("engine_busy_s", "s"), ("memo_entries", "count")]},
    "functions.wasm.calls": "count", "functions.wasm.us_per_call": "us", "functions.wasm.decode_s": "s",
    **{f"sources.graph.{k}": u for k, u in [
        ("save_s", "s"), ("merge_from_s", "s"), ("editing_graph_s", "s"), ("jobs", "count")]},
    **{f"streaming.stage.{k}_s": "s" for k in
       ["winners", "neardup", "admit", "gram_decontam", "semantic", "substring"]},
    "streaming.batch_jobs": "count", "streaming.batch_shuffle_mb": "MB",
    "sources.delete.tombstone_s": "s", "sources.delete.decrement_s": "s",
    "sources.maint.windows": "count", "sources.maint.fold_s": "s", "sources.maint.compact_s": "s",
    "sources.forget.jobs": "count", "sources.artifact_files": "count",
    "operators.forget.wall_s": "s", "operators.forget.driver_only_s": "s",
    "trace.overhead_ratio": "ratio", "trace.coverage": "ratio", "trace.spans": "count",
}
WASM_MODULE = os.path.join("src", "test", "resources", "graft", "wasm", "sear_bindgen.wasm")
# input sizes; the stream corpus is exactly the documents one cycle feeds
SIZES = {"full": {"sf": 0.005, "docs": 500, "stream_docs": 2 * 110},
         "tiny": {"sf": 0.001, "docs": 200, "stream_docs": 2 * 45}}
# The stream corpus is the same for every seed: the seed sets the feed
# order and which ids are deleted, so every run ingests the same work.
CORPUS_SEED = 20240101


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def source_stamp(root):
    """Hash of every file the build compiles from."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, env):
    stamp = source_stamp(root)
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp_file = os.path.join(HERE, ".build-stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, stamp
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    log("building program and harness with sbt ...")
    t0 = time.time()
    r = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE, env=env,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    if r.returncode != 0:
        fail(f"build failed (rc {r.returncode})", 3)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return classes, stamp


def prepare_inputs(workload, seed, data, size):
    """Generate the run's inputs; returns the generation wall."""
    t0 = time.perf_counter()
    if workload == "query-mix":
        gen.generate(data, seed, SIZES[size]["sf"], SIZES[size]["docs"])
    elif workload == "stream-curation":
        gen.corpus(data, CORPUS_SEED, SIZES[size]["stream_docs"])
    else:
        os.makedirs(data, exist_ok=True)
        shutil.copyfile(WASM_MODULE, os.path.join(data, "sear_bindgen.wasm"))
    return time.perf_counter() - t0


def jvm_cmd(classes, home, state, args, size):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
             "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
             "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={state}/tmp",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.hadoop.hadoop.tmp.dir={state}/tmp"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(home, "jars", "*"), "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--state", state, "--data", os.path.join(state, "data"),
            "--size", size]
    return cmd


def run(args, size="full"):
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")) or \
            not os.path.exists(os.path.join(root, WASM_MODULE)):
        fail("run from the repository root: the program sources are missing")
    home = spark_home()
    env = dict(os.environ, SPARK_HOME=home, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    classes, stamp = build(root, env)

    state = os.path.join(HERE, ".run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(state, ignore_errors=True)
    os.makedirs(os.path.join(state, "tmp"))
    proc = None
    try:
        gen_s = prepare_inputs(args.workload, args.seed, os.path.join(state, "data"), size)
        t_launch = time.time()
        proc = subprocess.Popen(jvm_cmd(classes, home, state, args, size), cwd=root, env=env,
                                stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
        out, _ = proc.communicate(timeout=160)
        lines = [ln for ln in out.splitlines() if ln.startswith("PERFBENCH ")]
        if proc.returncode != 0 or not lines:
            fail(f"benchmark JVM failed (rc {proc.returncode})", 4)
        res = json.loads(lines[-1][len("PERFBENCH "):])
        res["box"]["launch_s"] = res["box"].pop("main_epoch_ms") / 1000.0 - t_launch
        res["box"]["gen_s"] = gen_s
        res["box"]["source_sha256"] = stamp
        res["box"]["git_sha"] = os.environ.get("GRAFT_GIT_SHA", "unavailable")
        if args.workload == "query-mix":
            checked = oracle.compare(os.path.join(state, "data"), os.path.join(state, "results"))
            res["attempted"] += len(checked)
            bad = [f"oracle mismatch: {q}: {why}" for q, why in checked.items() if why]
            res["failed"] += len(bad)
            res["failures"] += bad
        if args.trace:
            outdir = os.path.join(HERE, ".out")
            os.makedirs(outdir, exist_ok=True)
            shutil.copyfile(os.path.join(state, "spans.json"),
                            os.path.join(outdir, f"spans-{args.workload}-{args.seed}.json"))
        return res, gen_s
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(state, ignore_errors=True)


def summarise(res, gen_s, trace):
    e2e = {k: dict(v) for k, v in res["end_to_end"].items()}
    e2e["setup_s"]["value"] += gen_s + res["box"]["launch_s"]
    if trace:
        metrics = {k: res["per_layer"].get(k, {"value": 0.0, "unit": u}) for k, u in PER_LAYER.items()}
        metrics.update(res["per_layer"])
    else:
        metrics = e2e
        missing = set(END_TO_END) - set(metrics)
        if missing:
            fail(f"missing end-to-end metrics {sorted(missing)}", 5)
    print(json.dumps({"workload": res["workload"], "seed": res["seed"], "op_ms": res["op_ms"],
                      "cycle_s": res["cycle_s"], "cycle_cpu_s": res["cycle_cpu_s"], "detail": res["detail"],
                      "end_to_end": e2e, "failures": res["failures"], "box": res["box"]}))
    return {"correct": res["failed"] == 0, "attempted": res["attempted"], "failed": res["failed"],
            "metrics": metrics}


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="full", help=argparse.SUPPRESS)
    args = p.parse_args()
    res, gen_s = run(args, args.size)
    print(json.dumps(summarise(res, gen_s, args.trace)))


if __name__ == "__main__":
    main()
