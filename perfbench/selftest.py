"""Self-tests of the benchmark itself (not of graft).

    python3 perfbench/selftest.py            # from the checkout root

1. The generator is deterministic: the same seed gives byte-identical files
   (sha256 manifest), another seed gives different files, for every workload.
2. Metric names and units in run.py are exactly those of BENCHMARK.json.
3. The tracer counts a parquet schema-inference job, and not the parquet
   write before it, although both carry a "parquet at" call-site name.
4. One real traced dq_suite run (about a minute and a half): its outputs
   pass every check, and each deliberately corrupted copy of them fails the
   check it targets; its traced passes count no schema-inference job, since
   every read hits CachedParquet.

Exits 0 when every test passes.
"""

import json
import os
import shutil
import sys
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

FAILURES = []


def expect(cond, what):
    print(f"{'ok  ' if cond else 'FAIL'} {what}")
    if not cond:
        FAILURES.append(what)


def test_generator(tmp):
    for w in run.WORKLOADS:
        a, b, c = (os.path.join(tmp, f"{w}-{x}") for x in "abc")
        gen.generate(w, 7, a)
        gen.generate(w, 7, b)
        gen.generate(w, 8, c)
        ma, mb, mc = gen.manifest(a), gen.manifest(b), gen.manifest(c)
        expect(ma == mb, f"{w}: seed 7 twice gives byte-identical files ({len(ma)} files)")
        expect(ma != mc and all(ma[f] != mc.get(f) for f in ma if f.endswith(".parquet")),
               f"{w}: seed 8 gives different files")


def test_metric_names():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    expect([(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END),
           "end-to-end metric names and units match BENCHMARK.json")
    expect([(m["name"], m["unit"]) for m in spec["per_layer"]] == list(run.PER_LAYER),
           "per-layer metric names and units match BENCHMARK.json")
    expect({w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS),
           "every BENCHMARK.json workload is runnable")


def _rewrite(path, fn):
    pq.write_table(fn(pq.read_table(path)), path)


def _drop_first_row(t):
    return t.slice(1)


def _nudge_metric(t):
    v = t.column("value_double").to_pylist()
    v[0] += 1e-3
    return t.set_column(t.schema.get_field_index("value_double"), "value_double",
                        pa.array(v, pa.float64()))


def test_schema_job_count(classes, tmp):
    work, out = os.path.join(tmp, "trace-work"), os.path.join(tmp, "trace.json")
    code = run.java(classes, work, ["graftbench.TraceSelfTest", work, out])
    got = json.load(open(out)) if code == 0 and os.path.exists(out) else {}
    expect(got.get("schema_jobs") == 1 and got.get("jobs", 0) >= 2,
           f"a parquet write and a schema-inferring read count 1 schema job ({got})")


def test_dq_run(classes, tmp):
    data, work = os.path.join(tmp, "dq-data"), os.path.join(tmp, "dq-work")
    truths = gen.generate("dq_suite", 3, data)
    res = run.run_jvm(classes, "dq_suite", data, work, 0, True)
    layers = res["layers"]
    n = len(res["traced_pass_s"])
    expect(n > 0 and len(layers.get("checks.jobs", [])) == n and min(layers["checks.jobs"]) > 0
           and layers.get("sources.schema_jobs", [0] * n) == [0] * n,
           f"traced dq_suite passes count 0 schema-inference jobs ({n} passes, "
           f"schema_jobs {layers.get('sources.schema_jobs', 'all 0')})")
    clean, _ = check.run("dq_suite", data, res["check_dir"], truths)
    expect(res["check_ok"] and all(ok for _, ok, _ in clean),
           f"uncorrupted dq_suite outputs pass all {len(clean)} checks")
    corruptions = [("dq_valid", _drop_first_row), ("dq_dup_groups", _drop_first_row),
                   ("dq_metrics", _nudge_metric), ("dq_drift", _drop_first_row),
                   ("dq_invalid", _drop_first_row)]
    for name, fn in corruptions:
        bad = os.path.join(tmp, f"corrupt-{name}")
        shutil.copytree(res["check_dir"], bad)
        parts = sorted(os.path.join(bad, f"{name}.parquet", f)
                       for f in os.listdir(os.path.join(bad, f"{name}.parquet")) if f.endswith(".parquet"))
        _rewrite(next(p for p in parts if pq.read_metadata(p).num_rows > 0), fn)
        results = dict((n, ok) for n, ok, _ in check.run("dq_suite", data, bad, truths)[0])
        expect(results.get(name) is False and all(ok for n, ok in results.items() if n != name),
               f"corrupted {name} is rejected, and only it")


def main():
    os.makedirs(".bench_build", exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=".bench_build")
    try:
        test_generator(tmp)
        test_metric_names()
        root = os.getcwd()
        classes = build.ensure(root, os.path.join(root, ".bench_build"))
        test_schema_job_count(classes, tmp)
        test_dq_run(classes, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"{len(FAILURES)} failure(s)")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
