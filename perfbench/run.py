#!/usr/bin/env python3
"""Benchmark of the graft Spark engine.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the library and the harness
(build.py), makes the workload's inputs from the seed, runs one JVM
(harness/perfbench/Harness.scala), checks every output and prints a
report followed by one JSON line: end-to-end metrics with `--trace 0`,
per-layer metrics from a traced pass with `--trace 1`. README.md in this
directory explains the workloads and metrics.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

CORES = 4
# the medallion pages are generated this often (timed; the bytes must not
# change between generations)
GEN_ROUNDS = 2
# (untimed passes before the timed ones, least number of timed passes).
# relational measures steady state: its pass is short (about 5 s), so a
# run times several and reports each operation's median. iterative and
# medallion time their first pass in the session, as a batch job runs:
# one such pass takes longer than a run can spend on timing, and
# iterative's first pass spread less between runs than its second (0.21
# against 0.29 of the median, quartile to quartile).
PASSES = {"relational": (1, 4), "iterative": (0, 1), "medallion": (0, 1)}
# the JVM is killed this long after the build, so a run ends within 180 s
DEADLINE_S = 170
DATA = os.path.join(HERE, "data")
PINS = os.path.join(HERE, "pins.json")

# query workloads: their fixed lists, as (committed corpus, query)
QUERIES = {
    # read-only, single-plan registry queries whose construction share is
    # below 0.1, across the relational, TPC-H, text and signal families
    "relational": [("sf0.01", q) for q in (
        "q10_join_dims", "q15_window_topk", "q18_rollup", "q26_correlated_subq",
        "q29_sessionize", "q78_tpch1", "q82_tpch13", "q92_sliding_distinct",
        "q95_tpch9", "t13_tfidf_terms")],
    # pin-heavy graph walks and dedup resolves. g07 and g12 read sf0.01:
    # at sf0.001 the k=80 core is empty and label propagation finds a
    # single community, so their pins would not tell a correct walk from
    # a degenerate one. The co-purchase graph is one component at both
    # scales, so g04 and g06 stay on the cheaper sf0.001.
    "iterative": [("sf0.001", q) for q in (
        "g04_components", "g06_components_auto", "g15_ktruss", "d09_dedup_resolve",
        "d38_cluster_sizes", "d77_curation_v2")]
    + [("sf0.01", q) for q in ("g07_kcore", "g12_label_communities")],
}
# run once on each corpus the workload reads, during set-up
WARMUP_QUERY = "q22_distinct"

# bounded metrics: every workload reports them and none is ever 0; the
# rest of the catalogue (see README.md) is printed in the report
END_TO_END = {
    "setup_s": ("s", "lower"),
    "sweep_s": ("s", "lower"),
}
PER_LAYER = {
    "queries.construct_ms": ("ms", "lower"),
    "queries.construct_jobs": ("count", "lower"),
    "queries.construct_share": ("frac", "lower"),
    "plans.plan_ms": ("ms", "lower"),
    "spark.exec_ms": ("ms", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.jobs_per_op": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.job_ms.p50": ("ms", "lower"),
    "spark.busy_core_s": ("s", "lower"),
    "spark.busy_frac": ("frac", "higher"),
    "spark.shuffle_read_bytes": ("B", "lower"),
    "spark.shuffle_write_bytes": ("B", "lower"),
    "spark.spill_bytes": ("B", "lower"),
    "spark.task_skew": ("ratio", "lower"),
    "ingest.fetch_ms": ("ms", "lower"),
    "ingest.pages": ("count", "higher"),
    "ingest.records": ("count", "higher"),
    "etl.bronze_ms": ("ms", "lower"),
    "etl.silver_ms": ("ms", "lower"),
    "etl.gold_ms": ("ms", "lower"),
    "etl.incremental_ms": ("ms", "lower"),
    "etl.rows_written": ("count", "higher"),
    "etl.bytes_written": ("B", "lower"),
    "etl.files_written": ("count", "lower"),
    "manifest.commit_ms": ("ms", "lower"),
    "manifest.read_ms": ("ms", "lower"),
    "manifest.files_kept_frac": ("frac", "lower"),
    "trace.overhead_frac": ("frac", "lower"),
}
# task skew is judged on stages whose slowest task ran this long
SKEW_MIN_TASK_MS = 100


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["relational", "iterative", "medallion"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def make_medallion_inputs(seed, work):
    """Generate the pages GEN_ROUNDS times (timed; the bytes must not
    change) and write them once. Returns (spec, expected, seconds)."""
    times, digests = [], set()
    for _ in range(GEN_ROUNDS):
        t0 = time.perf_counter()
        files, spec, expected = gen.generate(seed)
        times.append(time.perf_counter() - t0)
        h = hashlib.sha256()
        for name in sorted(files):
            h.update(name.encode() + b"\0" + files[name])
        digests.add(h.hexdigest())
    if len(digests) != 1:
        raise SystemExit("perfbench: the medallion generator is not deterministic")
    pages = os.path.join(work, "pages")
    os.makedirs(pages)
    for name, body in files.items():
        with open(os.path.join(pages, name), "wb") as fh:
            fh.write(body)
    spec["pages_dir"] = pages
    return spec, expected, statistics.median(times)


def run_jvm(classpath, plan, work, deadline):
    plan_file = os.path.join(work, "plan.json")
    with open(plan_file, "w") as fh:
        json.dump(plan, fh)
    cmd = build.java_command(classpath, work, "perfbench.Harness", [plan_file])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0:
        with open(log_path, errors="replace") as fh:
            tail = fh.read()[-4000:]
        raise SystemExit(f"perfbench: harness JVM {'timed out' if code is None else f'exited {code}'}"
                         f"\n{tail}")
    with open(plan["out"]) as fh:
        return json.load(fh)


def judge(result, workload, expected, pins):
    """Mark every op ok/failed in place; return the problem lines."""
    problems = []
    for p in result["passes"]:
        if workload == "medallion":
            bad = checks.check_medallion_pass(p["ops"], expected)
        else:
            bad = {i: checks.check_query(op, pins) for i, op in enumerate(p["ops"])}
        for i, op in enumerate(p["ops"]):
            op["ok"] = not bad.get(i)
            problems += [f"[{p['role']}] {line}" for line in bad.get(i, [])]
    return problems


def op_keys(ops):
    """Op name plus its occurrence number within the pass."""
    seen, keys = {}, []
    for op in ops:
        k = seen.get(op["name"], 0)
        seen[op["name"]] = k + 1
        keys.append(f"{op['name']}#{k}")
    return keys


def sweep_seconds(passes):
    """Sum over the pass's op list of each op's median time over the
    passes; failed ops contribute no sample."""
    samples = {}
    for p in passes:
        for key, op in zip(op_keys(p["ops"]), p["ops"]):
            samples.setdefault(key, [])
            if op["ok"]:
                samples[key].append(op["seconds"])
    return sum(statistics.median(v) for v in samples.values() if v)


def end_to_end(result, gen_s):
    timed = [p for p in result["passes"] if p["role"] == "timed"]
    return {
        "setup_s": result["setup_s"] + gen_s,
        "sweep_s": sweep_seconds(timed),
    }


def catalogue(workload, result, gen_s):
    """Every end-to-end number of the workload, for the report: (name,
    value or None, unit, note)."""
    timed = [p for p in result["passes"] if p["role"] == "timed"]
    ops = [op for p in timed for op in p["ops"]]
    ok = [op for op in ops if op["ok"]]
    all_ops = [op for p in result["passes"] for op in p["ops"]]
    e2e = end_to_end(result, gen_s)
    rows = [("setup_s", e2e["setup_s"], "s", "JVM start to warm session, plus generation"),
            ("sweep_s", e2e["sweep_s"], "s", f"{len(timed)} timed passes")]

    def pct(name, kinds, q):
        v, n = stats.percentile([op["seconds"] for op in ok if op["kind"] in kinds], q)
        rows.append((name, v, "s", f"n={n}"))

    if workload == "medallion":
        rates = []
        for p in timed:
            first = [op for op in p["ops"] if op["kind"] in ("fetch", "stage")]
            if all(op["ok"] for op in first):
                rates.append(first[0]["out"]["records"] / sum(op["seconds"] for op in first))
        rows.append(("medallion_rows_per_s", statistics.median(rates) if rates else None,
                     "1/s", f"fetched records, median of {len(rates)} passes"))
        pct("incremental_s.p50", ("incremental",), 0.5)
        pct("commit_s.p50", ("commit",), 0.5)
        pct("commit_s.p90", ("commit",), 0.9)
        pct("pruned_read_s.p50", ("read",), 0.5)
    else:
        pct("query_s.p50", ("query",), 0.5)
        pct("query_s.p90", ("query",), 0.9)
    failed = sum(not op["ok"] for op in all_ops)
    rows.append(("fail_frac", failed / len(all_ops), "frac", f"{failed} of {len(all_ops)} ops"))
    rows.append(("peak_rss_mb", result["peak_rss_kb"] / 1024, "MB", "VmHWM of the JVM"))
    return rows


def per_layer(result):
    """Per-layer metrics of the traced pass. Spark work the harness does
    between operations (reading gold back to check it) is left out."""
    trace = result["trace"]
    spans = {s["id"]: s for s in trace["spans"]}
    self_s = stats.self_times(trace["spans"])
    roles = [p["role"] for p in result["passes"]]
    ops = result["passes"][roles.index("traced")]["ops"]
    after = result["passes"][roles.index("traced") + 1]["ops"]

    def span_ms(layer, prefix=""):
        return 1000 * sum(v for i, v in self_s.items()
                          if spans[i]["layer"] == layer and spans[i]["name"].startswith(prefix))

    job_layer = {j["id"]: spans[j["span"]]["layer"] for j in trace["jobs"] if j["span"] >= 0}
    jobs = [j for j in trace["jobs"] if job_layer.get(j["id"], "workload") != "workload"]
    stages = [st for st in trace["stages"] if job_layer.get(st["job"], "workload") != "workload"]
    task_ms = [t for st in stages for t in st["task_ms"]]
    job_p50, n_jobs = stats.percentile([j["end_ms"] - j["start_ms"] for j in jobs], 0.5)
    if job_p50 is None:
        raise SystemExit(f"perfbench: {n_jobs} jobs are too few for spark.job_ms.p50")
    skew = [max(st["task_ms"]) / max(statistics.median(st["task_ms"]), 1)
            for st in stages if len(st["task_ms"]) > 1 and max(st["task_ms"]) >= SKEW_MIN_TASK_MS]
    construct, plan, execute = span_ms("queries"), span_ms("plans"), span_ms("spark")
    outs = lambda kind: [op["out"] for op in ops if op["kind"] == kind]  # noqa: E731
    busy = sum(task_ms) / 1000
    traced_s = sum(op["seconds"] for op in ops)
    return {
        "queries.construct_ms": construct,
        "queries.construct_jobs": sum(job_layer[j["id"]] == "queries" for j in jobs),
        "queries.construct_share": construct / (construct + plan + execute)
        if construct + plan + execute else 0.0,
        "plans.plan_ms": plan,
        "spark.exec_ms": execute,
        "spark.jobs": len(jobs),
        "spark.jobs_per_op": len(jobs) / len(ops),
        "spark.stages": len(stages),
        "spark.tasks": len(task_ms),
        "spark.job_ms.p50": job_p50,
        "spark.busy_core_s": busy,
        "spark.busy_frac": busy / (traced_s * CORES),
        "spark.shuffle_read_bytes": sum(st["shuffle_read_bytes"] for st in stages),
        "spark.shuffle_write_bytes": sum(st["shuffle_write_bytes"] for st in stages),
        "spark.spill_bytes": sum(st["disk_spill_bytes"] for st in stages),
        "spark.task_skew": max(skew, default=1.0),
        "ingest.fetch_ms": span_ms("ingest"),
        "ingest.pages": sum(o["pages"] for o in outs("fetch")),
        "ingest.records": sum(o["records"] for o in outs("fetch")),
        "etl.bronze_ms": span_ms("etl", "raw_to_bronze"),
        "etl.silver_ms": span_ms("etl", "bronze_to_silver"),
        "etl.gold_ms": span_ms("etl", "silver_to_gold"),
        "etl.incremental_ms": span_ms("etl", "incremental_"),
        "etl.rows_written": sum(o["rows_written"] for o in outs("stage") + outs("incremental")),
        "etl.bytes_written": sum(st["output_bytes"] for st in stages
                                 if job_layer[st["job"]] == "etl"),
        "etl.files_written": sum(o.get("layer_files", 0) for o in outs("stage")),
        "manifest.commit_ms": span_ms("manifest", "commit_"),
        "manifest.read_ms": span_ms("manifest", "read_"),
        "manifest.files_kept_frac": sum(o["files_kept"] for o in outs("read"))
        / max(1, sum(o["files_total"] for o in outs("read"))),
        "trace.overhead_frac": traced_s / sum(op["seconds"] for op in after) - 1,
    }, n_jobs


def main(argv=None):
    a = parse_args(argv)
    classpath = build.build()
    deadline = time.monotonic() + DEADLINE_S
    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    plan = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "cores": CORES, "warm_passes": PASSES[a.workload][0],
            "min_timed_passes": PASSES[a.workload][1],
            "work_dir": work, "out": os.path.join(work, "result.json")}
    expected, pins, gen_s = None, None, 0.0
    if a.workload == "medallion":
        plan["medallion"], expected, gen_s = make_medallion_inputs(a.seed, work)
    else:
        with open(PINS) as fh:
            pinned = json.load(fh)
        queries = QUERIES[a.workload]
        pins = {q: pinned[corpus][q] for corpus, q in queries if q in pinned.get(corpus, {})}
        query = lambda corpus, q: {"name": q, "data_dir": os.path.join(DATA, corpus)}  # noqa: E731
        plan.update(queries=[query(c, q) for c, q in queries],
                    warmup=[query(c, WARMUP_QUERY) for c in sorted({c for c, _ in queries})])
    result = run_jvm(classpath, plan, work, deadline)
    problems = judge(result, a.workload, expected, pins)
    for line in problems:
        print(f"perfbench: FAILED {line}", file=sys.stderr)
    all_ops = [op for p in result["passes"] for op in p["ops"]]
    failed = sum(not op["ok"] for op in all_ops)

    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace}: "
          f"{len(result['passes'])} passes, {len(all_ops)} ops, {failed} failed")
    for name, value, unit, note in catalogue(a.workload, result, gen_s):
        shown = "n/a" if value is None else f"{value:.4f}"
        print(f"  {name:24s} {shown:>12s} {unit:6s} {note}")
    if a.trace:
        metrics, n_jobs = per_layer(result)
        units = PER_LAYER
        print(f"  per layer (traced pass; spark.job_ms.p50 over n={n_jobs} jobs):")
        for name, value in metrics.items():
            print(f"  {name:28s} {value:14.4f} {units[name][0]}")
    else:
        metrics, units = end_to_end(result, gen_s), END_TO_END
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(all_ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k][0]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
