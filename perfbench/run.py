"""graft benchmark: one workload, one seed, one closed loop.

    python3 perfbench/run.py --workload dq_suite --seed 1 --seconds 4 --trace 0

Run from the root of a graft checkout.  The script builds graft and the
benchmark from source (cached in .bench_build/), generates the workload's
inputs from the seed, runs the benchmark JVM (set-up with two warm-up
passes, the first of which keeps its outputs for checking, then the timed
passes), checks every output against references computed without graft, and
prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (names and units are listed in BENCHMARK.json; the spans of a
traced run are kept in .bench_build/traces/).  Progress and the per-output
check report go to stderr.
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("dq_suite", "standing_ingest")
LAYERS = ("checks", "sources", "operators", "dedup", "text", "similarity",
          "streaming", "pipeline")
LAYER_METRICS = (("build_ms", "ms"), ("build_jobs", "count"), ("plan_ms", "ms"),
                 ("exec_ms", "ms"), ("jobs", "count"), ("job_gap_ms", "ms"),
                 ("task_cpu_ms", "ms"), ("sched_wait_ms", "ms"),
                 ("shuffle_mb", "MB"), ("spill_mb", "MB"))
EXTRA_LAYER_METRICS = (
    ("sources.rows_scanned_per_out_row", "ratio"),
    ("sources.write_mb_per_input_mb", "ratio"),
    ("sources.schema_jobs", "count"),
    ("functions.codegen_compiles", "count"),
    ("functions.codegen_compile_ms", "ms"),
    ("similarity.recall_at_10", "ratio"),
    ("streaming.compact_ms", "ms"),
    ("trace.jobs", "count"),
    ("trace.unattributed_jobs", "count"),
    ("trace.overhead_ratio", "ratio"),
)
END_TO_END = (("setup_s", "s"), ("pass_s", "s"), ("rows_per_s", "1/s"),
              ("cpu_s", "s"), ("peak_heap_mb", "MB"), ("success_ratio", "ratio"))
PER_LAYER = tuple((f"{l}.{m}", u) for l in LAYERS for m, u in LAYER_METRICS) + EXTRA_LAYER_METRICS

JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def java(classes, work, args):
    """Run one benchmark JVM (main class and its arguments in `args`) with
    its temp files under `work`; returns its exit code."""
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*")] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env)
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise RuntimeError(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:  # timeout, or this script was interrupted
            proc.kill()
            proc.wait()


def run_jvm(classes, workload, data, work, seconds, trace):
    out = os.path.join(work, "result.json")
    code = java(classes, work, [
        "graftbench.Main", "--workload", workload, "--data", data, "--work", work,
        "--seconds", str(seconds), "--trace", "1" if trace else "0", "--out", out])
    if code != 0 or not os.path.exists(out):
        raise RuntimeError(f"benchmark JVM failed (exit {code})")
    with open(out) as f:
        return json.load(f)


def end_to_end(res, truths, attempted, failed):
    pass_s = statistics.median(res["pass_s"])
    return {
        "setup_s": res["setup_s"],
        "pass_s": pass_s,
        "rows_per_s": truths["input_rows"] / pass_s,
        "cpu_s": statistics.median(res["cpu_s"]),
        "peak_heap_mb": max(res["heap_mb"]),
        "success_ratio": (attempted - failed) / attempted,
    }


def per_layer(res, truths, recall):
    layers = res["layers"]

    def med(name):
        return statistics.median(layers[name]) if name in layers else 0.0

    out = {name: med(name) for name, _ in PER_LAYER}
    scanned, rows = med("sources.scanned_rows"), med("sources.out_rows")
    out["sources.rows_scanned_per_out_row"] = scanned / rows if rows else 0.0
    out["sources.write_mb_per_input_mb"] = statistics.median(res["write_bytes"]) / truths["input_bytes"]
    out["similarity.recall_at_10"] = recall if recall is not None else 0.0
    out["trace.overhead_ratio"] = (statistics.median(res["traced_pass_s"])
                                   / statistics.median(res["pass_s"]))
    return out


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    build_dir = os.path.join(root, ".bench_build")
    try:
        classes = build.ensure(root, build_dir)
    except Exception as e:  # no sources, no Spark, or a compile error
        log(f"build failed: {e}")
        return 2

    run_id = f"{a.workload}-{a.seed}-{os.getpid()}"
    data = os.path.join(build_dir, "inputs", run_id)
    work = os.path.join(build_dir, "work", run_id)
    try:
        t0 = time.time()
        truths = gen.generate(a.workload, a.seed, data)
        log(f"inputs for seed {a.seed} generated in {time.time() - t0:.2f} s "
            f"({truths['input_rows']} rows, {truths['input_bytes']} bytes)")
        res = run_jvm(classes, a.workload, data, work, a.seconds, a.trace == 1)
        results, recall = (check.run(a.workload, data, res["check_dir"], truths)
                           if res["check_ok"] else ([], None))
        if a.trace:
            traces = os.path.join(build_dir, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(traces, f"{run_id}.jsonl"))
            log(f"spans written to {os.path.relpath(os.path.join(traces, run_id + '.jsonl'), root)}")
    except Exception as e:
        log(f"run failed: {e}")
        return 1
    finally:
        shutil.rmtree(data, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)

    for name, ok, msg in results:
        log(f"check {'ok  ' if ok else 'FAIL'} {name}: {msg}")
    for e in res["errors"]:
        log(f"error: {e}")
    if not res["pass_s"] or (a.trace and not res["traced_pass_s"]):
        log("no timed pass completed")
        return 1
    # every call of every pass is an attempted operation, and so is every
    # checked output; a pass that threw counts one failure, a wrong output one
    attempted = res["ops"] + len(results)
    failed = res["failed_passes"] + sum(1 for _, ok, _ in results if not ok)
    log(f"{len(res['pass_s'])} untraced and {len(res['traced_pass_s'])} traced timed passes; "
        f"pass_s samples: {', '.join(f'{x:.3f}' for x in res['pass_s'])}")
    if a.trace:
        for k in sorted(k for k in res["layers"] if k.startswith("call:")):
            log(f"{k[5:]}: {statistics.median(res['layers'][k]):.0f}")
        values, units = per_layer(res, truths, recall), dict(PER_LAYER)
    else:
        values, units = end_to_end(res, truths, attempted, failed), dict(END_TO_END)
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
