#!/usr/bin/env python3
"""pyjedai_spark benchmark: one seeded workload, one closed-loop client.

    python3 perfbench/run.py --workload der_flagship --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. One Spark driver process on
``local[nproc // 2]``; each execution starts after the previous one
completed. The run:

1. boots (process start -> SparkSession up), then sets up the input
   three times (generate it from the seed, write it as parquet, warm
   its scan); ``setup_s`` = boot + the median input round;
2. computes the expected output hashes from the DuckDB oracles, once
   per (workload, seed), cached under ``perfbench/.work/cache`` and
   never timed;
3. runs one cold execution (``cold_s``) and the workload's untimed
   warm-up executions, then measured executions until ``--seconds``
   have passed and at least the workload's count ran. Every output of
   every execution is hash-checked.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
traced and untraced measured executions and prints the per-layer
metrics; the
spans are written to ``perfbench/.work/spans-<workload>-<seed>.jsonl``.
The last stdout line is the result JSON; the line before it carries the
details (all walls, host, settings, input hash).
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import pickle  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(HERE, ".work")
SETUP_ROUNDS = 3

# per-layer metric families; HOT spans also report utilization, skew,
# GC and shuffle fetch wait
SPAN_METRICS = [("wall_s", "s"), ("self_s", "s"), ("cpu_s", "s"),
                ("shuffle_mb", "MB"), ("rows_out", "count"),
                ("jobs", "count")]
HOT = ["comparison_cleaning", "clustering", "dedup.lsh", "dedup.verify",
       "joins.ejoin", "joins.topk"]
HOT_METRICS = [("util", "ratio"), ("task_skew", "ratio"), ("gc_s", "s"),
               ("fetch_wait_s", "s")]
EXTRA_LAYER = [("block_cleaning.kept_ratio", "ratio"),
               ("matching.match_ratio", "ratio"),
               ("dedup.verify.kept_ratio", "ratio"),
               ("checkpoint.write_mb", "MB"),
               ("trace.overhead_s", "s"),
               ("trace.coverage", "ratio")]
# cold_s and executor cpu_s are in the details line, not here. The one
# cold execution per run spread up to 0.25-0.36 (IQR / median) between
# seeds as host load moved; cpu grows from execution to execution at a
# flat wall (der_flagship: 1.26 s to 2.73 s over six executions) and
# spread 18-20%.
E2E = [("setup_s", "s"), ("wall_s", "s"),
       ("docs_per_s", "docs/s"), ("shuffle_mb", "MB"),
       ("peak_rss_mb", "MB"), ("recall_vs_ref", "ratio"),
       ("gt_recall", "ratio"), ("gt_precision", "ratio")]


def host():
    nproc = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    # local mode: the Spark driver heap is every task's heap; at most a
    # quarter of RAM, and 2 GiB is ample at the benchmark's sizes
    heap_mb = min(2048, ram_mb // 4)
    # task slots on half the cores: the JIT compiler, GC and the Python
    # UDF workers run beside the tasks, and on local[nproc] they
    # oversubscribe the cores
    slots = max(1, nproc // 2)
    return {"nproc": nproc, "ram_mb": ram_mb, "heap_mb": heap_mb,
            "slots": slots, "master": f"local[{slots}]"}


def spark_confs(h, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "spark.driver.memory": f"{h['heap_mb']}m",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # the whole heap up front: the JVM's peak RSS then follows the
        # workload, not the heap-growth heuristics of one run
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{h['heap_mb']}m -XX:-UsePerfData "
            # JIT and GC threads sized to the task slots (2 is the
            # fewest compiler threads tiered compilation allows)
            f"-XX:CICompilerCount=2 -XX:ParallelGCThreads={h['slots']} "
            "-XX:ConcGCThreads=1",
        "spark.ui.showConsoleProgress": "false",
    }


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not found")


def sweep(spark):
    """Drop every persistent RDD between executions (localCheckpoint
    blocks the async ContextCleaner has not reached yet)."""
    gc.collect()
    spark.catalog.clearCache()
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        it.next()._2().unpersist(True)


def percentile_note(walls):
    """Highest percentile with at least ten samples above it."""
    n = len(walls)
    if n < 20:
        return None
    p = int(100 * (n - 10) / n)
    return {"p": p, "value": statistics.quantiles(walls, n=100)[p - 1]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pyjedai_spark", "session.py")):
        print("perfbench: pyjedai_spark/ not found; run from the "
              "repository root", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, f"{wl.name}-{args.seed}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "data"))
    h = host()
    confs = spark_confs(h, run_dir)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # Spark's shuffle and block files stay inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable

    from pyjedai_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{wl.name}", master=h["master"],
                      extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    boot_s = time.perf_counter() - T_START
    try:
        details, result = measure(spark, wl, args, h, boot_s, run_dir)
    finally:
        shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    details["run_s"] = time.perf_counter() - T_START
    print(json.dumps(details | {"spark_confs": confs}))
    print(json.dumps(result))
    return 0


def shutdown(spark):
    """Stop Spark and wait for its JVM (the Python workers are the
    JVM's children and stop with the context)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()  # the gateway JVM exits on stdin EOF
        gw.proc.wait(timeout=60)


def measure(spark, wl, args, h, boot_s, run_dir):
    import gen
    import spans
    from workloads import recall_precision, value_hash

    data_dir = os.path.join(run_dir, "data")
    rounds = []
    for _ in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        docs, gt = gen.generate(wl.name, args.seed)
        docs.to_parquet(os.path.join(data_dir, "documents.parquet"),
                        index=False)
        spark.read.parquet(data_dir).count()
        rounds.append(time.perf_counter() - t0)
    setup_s = boot_s + statistics.median(rounds)
    input_hash = gen.content_hash(docs)

    t0 = time.perf_counter()
    ref = expected(wl, args.seed, input_hash, data_dir, docs)
    oracle_s = time.perf_counter() - t0

    tracer = spans.Tracer(spark, f"{wl.name}-{args.seed}", enabled=False)
    execs = []

    def execute(traced, measured=True):
        tracer.enabled = traced
        first = len(tracer.spans)
        rec = {"traced": traced, "measured": measured, "ok": False}
        t0 = time.perf_counter()
        try:
            with tracer.span("execution", layer=False):
                out = wl.execute(spark, data_dir, tracer, run_dir)
            rec["wall_s"] = time.perf_counter() - t0
            got = {q: value_hash(out[q]) for q in wl.outputs}
            rec["ok"] = got == ref["hashes"]
            if not rec["ok"]:
                print(f"perfbench: output mismatch {got} != {ref['hashes']}",
                      file=sys.stderr)
            rec["pairs"] = wl.pairs(out)
        except Exception:  # counted as failed, the run goes on
            rec["wall_s"] = time.perf_counter() - t0
            print("perfbench: execution failed:\n" + traceback.format_exc(),
                  file=sys.stderr)
        tracer.enabled = False
        rec["spans"] = tracer.spans[first:]
        if measured:
            tracer.collect(rec["spans"], task_quantiles=traced)
            tot = [spans.totals(r) for r in rec["spans"]]
            rec["cpu_s"] = sum(t["cpu_s"] for t in tot)
            rec["shuffle_mb"] = sum(t["shuffle_write_b"] for t in tot) / 1e6
        sweep(spark)
        execs.append(rec)
        return rec

    cold = execute(False, measured=False)
    for _ in range(wl.warmup):
        execute(False, measured=False)
    # measured executions for --seconds and at least the workload's
    # count, so every run samples the same JIT warm-up positions however
    # fast the host is; traced runs alternate traced and untraced
    t_start = time.perf_counter()
    min_measured = max(wl.min_measured, 2 if args.trace else 1)
    n = 0
    while time.perf_counter() - t_start < args.seconds or n < min_measured:
        execute(bool(args.trace) and n % 2 == 0)
        n += 1

    warm = [e for e in execs if e["measured"] and not e["traced"]]
    failed = sum(not e["ok"] for e in execs)
    good = next((e for e in execs if e["ok"]), None)
    pred = good["pairs"] if good else set()
    n_docs = len(docs)
    walls = [e["wall_s"] for e in warm]
    details = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "n_docs": n_docs, "input_hash": input_hash, "host": h,
        "boot_s": boot_s, "setup_rounds_s": rounds, "oracle_s": oracle_s,
        "cold_s": cold["wall_s"],
        "warmup_s": [e["wall_s"] for e in execs[1:1 + wl.warmup]],
        "walls_s": walls,
        "n_warm": len(walls), "tail": percentile_note(walls),
        "cpu_s": statistics.median(e["cpu_s"] for e in warm),
        "failed_frac": failed / len(execs),
        "peak_rss_note": "VmHWM of the Spark JVM (driver = executor in "
                         "local mode); Python workers excluded",
    }
    if args.trace:
        metrics = layer_metrics(wl, execs, h["slots"], spans)
        os.makedirs(WORK, exist_ok=True)
        spans.write_jsonl(
            os.path.join(WORK, f"spans-{wl.name}-{args.seed}.jsonl"),
            tracer.spans)
    else:
        wall = statistics.median(walls)
        values = {
            "setup_s": setup_s, "wall_s": wall,
            "docs_per_s": n_docs / wall,
            "shuffle_mb": statistics.median(e["shuffle_mb"] for e in warm),
            "peak_rss_mb": jvm_peak_rss_mb(spark),
            "recall_vs_ref": recall_precision(pred, ref["ref_pairs"])[0],
            **dict(zip(("gt_recall", "gt_precision"),
                       recall_precision(wl.gt_pairs(pred), gt))),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in E2E}
    return details, {"correct": failed == 0, "attempted": len(execs),
                     "failed": failed, "metrics": metrics}


def expected(wl, seed, input_hash, data_dir, docs):
    """Expected output hashes and reference pairs, cached per
    (workload, seed, input hash)."""
    from workloads import value_hash

    cache = os.path.join(WORK, "cache", f"{wl.name}-{seed}-{input_hash}.pkl")
    if os.path.exists(cache):
        with open(cache, "rb") as f:
            return pickle.load(f)
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(data_dir, 'duckdb')}'")
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{os.path.join(data_dir, 'documents.parquet')}')")
    r = wl.reference(con, docs)
    con.close()
    ref = {"hashes": {q: value_hash(df) for q, df in r["expected"].items()},
           "ref_pairs": r["ref_pairs"]}
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache + ".tmp", "wb") as f:
        pickle.dump(ref, f)
    os.replace(cache + ".tmp", cache)
    return ref


def layer_metrics(wl, execs, slots, spans):
    """Median over traced executions of each span's per-execution
    aggregate. Spans a workload does not run report 0."""
    from workloads import WORKLOADS

    traced = [e for e in execs if e["measured"] and e["traced"]]
    untraced = [e for e in execs if e["measured"] and not e["traced"]]
    all_spans = sorted({s for w in WORKLOADS.values() for s in w.spans})
    per_exec = []
    for e in traced:
        recs = [r for r in e["spans"] if r["name"] != "execution"]
        selfs = spans.self_times(e["spans"])
        by = {}
        for r in recs:
            t = spans.totals(r)
            a = by.setdefault(r["name"], {
                "wall_s": 0.0, "self_s": 0.0, "cpu_s": 0.0, "run_s": 0.0,
                "shuffle_mb": 0.0, "rows_out": 0, "jobs": 0, "gc_s": 0.0,
                "fetch_wait_s": 0.0, "task_skew": 1.0, "write_mb": 0.0})
            a["wall_s"] += r["end"] - r["start"]
            a["self_s"] += selfs[r["span_id"]]
            a["cpu_s"] += t["cpu_s"]
            a["run_s"] += t["run_s"]
            a["shuffle_mb"] += t["shuffle_write_b"] / 1e6
            a["rows_out"] += r.get("rows_out", 0)
            a["jobs"] += r.get("jobs", 0)
            a["gc_s"] += t["gc_s"]
            a["fetch_wait_s"] += t["fetch_wait_s"]
            a["write_mb"] += t["output_b"] / 1e6
            a["task_skew"] = max(a["task_skew"], spans.task_skew(r))
        for a in by.values():
            a["util"] = a["run_s"] / max(a["wall_s"] * slots, 1e-9)
        m = {}
        for s in all_spans:
            a = by.get(s)
            for k, _ in SPAN_METRICS:
                m[f"{s}.{k}"] = a[k] if a else 0
            if s in HOT:
                for k, _ in HOT_METRICS:
                    m[f"{s}.{k}"] = a[k] if a else 0
        zero = {"rows_out": 0}
        for k, v in wl.ratios({s: by.get(s, zero) for s in all_spans}).items():
            m[k] = v
        m["checkpoint.write_mb"] = by.get("checkpoint", {}).get("write_mb", 0)
        m["trace.coverage"] = sum(a["self_s"] for a in by.values()) / e["wall_s"]
        per_exec.append(m)
    overhead = (statistics.median(e["wall_s"] for e in traced)
                - statistics.median(e["wall_s"] for e in untraced))
    out = {}
    names = ([(f"{s}.{k}", u) for s in all_spans for k, u in SPAN_METRICS]
             + [(f"{s}.{k}", u) for s in HOT for k, u in HOT_METRICS]
             + EXTRA_LAYER)
    for name, unit in names:
        if name == "trace.overhead_s":
            v = overhead
        else:
            v = statistics.median(m.get(name, 0) for m in per_exec)
        out[name] = {"value": v, "unit": unit}
    return out


if __name__ == "__main__":
    sys.exit(main())
