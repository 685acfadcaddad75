"""Repository benchmark: one command, two workloads, end-to-end and
per-layer metrics.

    python3 perfbench/run.py --workload er_fuzzy --seed 1 --seconds 12 --trace 0

Run it from the repository root. ``--trace 0`` times the workload with
tracing off and prints the end-to-end metrics; ``--trace 1`` runs the
separate traced pass and prints the per-layer metrics. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. The line before it is the run's stamp (seed, commit, cores,
CPU model, load average at start and end); the spans and per-operation
times are written to ``.perfbench_runs/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("er_fuzzy", "dedup_ann")
MIN_WARM = 2  # warm operations per timed run, however long they take
DEADLINE_S = 150  # start no new operation after this much wall time
SERVE_REQUESTS = 1  # measured request pairs in the er_fuzzy traced run


def process_age() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def stamp(seed: int) -> dict:
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True,
            cwd=ROOT, timeout=10,
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    cpu = "unknown"
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                cpu = line.split(":", 1)[1].strip()
                break
    return {"seed": seed, "commit": commit, "nproc": os.cpu_count(),
            "cpu_model": cpu, "loadavg_start": os.getloadavg()}


class Session:
    """The Spark session the benchmark drives, with every scratch path
    inside the run's work directory."""

    def __init__(self, work: str, cores: int, trace: bool):
        self.work = work
        self.cores = cores
        self.trace = trace
        self.spark = None

    def start(self):
        from t_res_spark.session import get_spark, warm_python_workers

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "true" if self.trace else "false",
            "spark.ui.port": "0",
            "spark.driver.memory": "3g",
            "spark.tres.scratchDir": os.path.join(self.work, "scratch"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{self.cores}]",
            shuffle_partitions=self.cores, extra_conf=conf,
        )
        warm_python_workers(self.spark)
        return self.spark

    def shutdown(self) -> None:
        """Stop the context, then the JVM, and wait until the JVM and the
        Python workers it started have exited."""
        from pyspark import SparkContext
        from probe import alive, tree_pids

        children = [p for p in tree_pids() if p != os.getpid()]
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        while children and time.monotonic() < deadline:
            children = [p for p in children if alive(p)]
            time.sleep(0.1)
        for pid in children:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)


def timed_run(wl, sess: Session, seconds: int, t_inputs: float, log: dict) -> dict:
    from probe import PeakRss

    rss = PeakRss().start()
    spark = sess.start()
    wl.load(spark)
    setup_s = process_age() - t_inputs

    # the first operation is the cold one; the window of warm operations
    # opens when it ends and closes after `seconds` (MIN_WARM at least)
    ops, results = [], []
    t_window = 0.0
    while True:
        n = len(results)
        if n > MIN_WARM and time.perf_counter() - t_window >= seconds:
            break
        if n > 0 and process_age() > DEADLINE_S:
            break
        t0 = time.perf_counter()
        try:
            out = wl.op(spark, str(n))
            dt = time.perf_counter() - t0
        except Exception:
            traceback.print_exc(file=sys.stderr)
            results.append((False, None))
        else:
            ops.append(dt)
            results.append(wl.check(out))
        wl.drop(str(n))
        if n == 0:
            t_window = time.perf_counter()
    peak = rss.stop()
    log.update(setup_s=setup_s, ops_s=ops, checks=[ok for ok, _ in results])
    failed = sum(1 for ok, _ in results if not ok)
    if len(ops) < 2:  # nothing warm was measured; the run is a failure
        return {"attempted": len(results), "failed": max(failed, 1),
                "metrics": dict.fromkeys(END_TO_END, 0.0)}
    warm_s = statistics.median(ops[1:])
    return {
        "attempted": len(results),
        "failed": failed,
        "metrics": {
            "setup_s": setup_s,
            "batch_s": ops[0],
            "batch_warm_s": warm_s,
            "records_per_s": wl.records / warm_s,
            "quality": statistics.median(q for _, q in results if q is not None),
            "peak_rss_mb": peak,
        },
    }


END_TO_END = {  # name → unit; every timed run reports all of them
    "setup_s": "s",
    "batch_s": "s",
    "batch_warm_s": "s",
    "records_per_s": "1/s",
    "quality": "ratio",
    "peak_rss_mb": "MB",
}


PER_LAYER = {  # name → unit; every traced run reports all of them
    "setup.cold_s": "s",
    "extraction.s": "s", "extraction.rows_in": "count",
    "extraction.mentions": "count", "extraction.cpu_util": "ratio",
    "surfaces.s": "s", "surfaces.rows": "count",
    "blocking.pairs": "count", "blocking.blocks": "count",
    "blocking.block_p99": "count", "blocking.block_max": "count",
    "ranking.exact_s": "s", "ranking.candidates_s": "s",
    "ranking.exact_hit_ratio": "ratio", "ranking.kept_ratio": "ratio",
    "ranking.cpu_util": "ratio", "ranking.tasks": "count",
    "ranking.shuffle_write_bytes": "bytes",
    "linking.s": "s", "linking.nil_share": "ratio",
    "clustering.s": "s", "clustering.clusters": "count",
    "pipeline.jobs": "count", "pipeline.stages": "count",
    "pipeline.tasks": "count", "pipeline.unattributed_s": "s",
    "pipeline.spill_bytes": "bytes",
    "sources.write_s": "s", "sources.bytes_written": "bytes",
    "serving.jobs_per_request": "count", "serving.method_s": "s",
    "serving.http_s": "s", "serving.resolve_sentence_s": "s",
    "serving.disambiguation_s": "s",
    "dedup.minhash_s": "s", "dedup.simhash_s": "s", "dedup.embedding_s": "s",
    "dedup.candidate_pairs": "count", "dedup.verified_ratio": "ratio",
    "dedup.bucket_max": "count",
    "similarity_search.lsh_s": "s", "similarity_search.ivf_s": "s",
    "similarity_search.brute_s": "s",
    "trace.resolve_s": "s", "trace.untraced_s": "s", "trace.overhead_s": "s",
    "trace.unattributed_jobs": "count",
}


def traced_run(wl, sess: Session, t_inputs: float, run_id: str, log: dict) -> dict:
    from probe import Tracer, job_stats, stage_table

    spark = sess.start()
    wl.load(spark)
    cold = process_age() - t_inputs
    sc = spark.sparkContext
    tr = Tracer(spark, run_id, sess.cores)
    checks = []

    def untraced(tag: str) -> float:
        t0 = time.perf_counter()
        out = wl.op(spark, tag)
        dt = time.perf_counter() - t0
        if tag == "cold":
            wl.reference(spark, tr)
        checks.append(wl.check(out)[0])
        wl.drop(tag)
        return dt

    group = f"perfbench-{run_id}-untraced"
    sc.setJobGroup(group, "untraced operation")
    untraced("cold")
    sc.setLocalProperty("spark.jobGroup.id", None)
    pipe = job_stats(sc, group)
    u = untraced("warm")
    out = wl.traced_op(spark, tr)
    checks.append(wl.check(out)[0])
    wl.drop("traced")

    serve = None
    if wl.name == "er_fuzzy":
        serve = wl.serve(spark, tr, SERVE_REQUESTS)

    stage_bytes = stage_table(sc)

    def bytes_of(stages, key):
        return sum(stage_bytes.get(s, {}).get(key, 0) for s in stages)

    m = {k: 0.0 for k in PER_LAYER}
    spans = {s["name"] for s in tr.spans}

    def span_s(name):
        return tr.wall(name) if name in spans else 0.0

    def count(name, key, default=0):
        return tr.get(name)["counts"].get(key, default) if name in spans else default

    root = tr.get("resolve")
    layers = [s for s in tr.spans if s["parent"] == root["id"]]
    m.update({
        "setup.cold_s": cold,
        "pipeline.jobs": len(pipe["jobs"]),
        "pipeline.stages": len(pipe["stages"]),
        "pipeline.tasks": pipe["tasks"],
        "pipeline.spill_bytes": bytes_of(pipe["stages"], "spill"),
        "pipeline.unattributed_s": u - sum(s["end"] - s["start"] for s in layers),
        "trace.resolve_s": tr.wall("resolve"),
        "trace.untraced_s": u,
        "trace.overhead_s": tr.wall("resolve") - u,
        "trace.unattributed_jobs": len(root["jobs"]),
    })
    if wl.name == "er_fuzzy":
        surfaces = max(count("extraction.distinct_mentions", "rows"), 1)
        pairs = count("blocking", "pairs")
        m.update({
            "extraction.s": tr.self_time("extraction"),
            "extraction.rows_in": wl.records,
            "extraction.mentions": count("extraction", "mentions"),
            "extraction.cpu_util": tr.cpu_util("extraction"),
            "surfaces.s": tr.self_time("extraction.distinct_mentions"),
            "surfaces.rows": count("extraction.distinct_mentions", "rows"),
            "blocking.pairs": pairs,
            "blocking.blocks": count("blocking", "blocks"),
            "blocking.block_p99": count("blocking", "block_p99"),
            "blocking.block_max": count("blocking", "block_max"),
            "ranking.exact_s": span_s("ranking.exact"),
            "ranking.candidates_s": tr.self_time("ranking.candidates"),
            "ranking.exact_hit_ratio": count("ranking.exact", "hits") / surfaces,
            "ranking.kept_ratio": count("blocking", "kept") / pairs if pairs else 0.0,
            "ranking.cpu_util": tr.cpu_util("ranking.candidates"),
            "ranking.tasks": tr.get("ranking.candidates")["tasks"],
            "ranking.shuffle_write_bytes": bytes_of(
                tr.get("ranking.candidates")["stages"], "shuffle_write"),
            "linking.s": tr.self_time("linking"),
            "linking.nil_share": count("linking", "nil_share"),
            "clustering.s": tr.self_time("clustering"),
            "clustering.clusters": count("clustering", "clusters"),
            "sources.write_s": span_s("sources.tables"),
            "sources.bytes_written": count("sources.tables", "bytes"),
        })
    else:
        c = tr.get("dedup.counts")["counts"]
        m.update({
            "dedup.minhash_s": span_s("dedup.minhash"),
            "dedup.simhash_s": span_s("dedup.simhash"),
            "dedup.embedding_s": span_s("dedup.embedding"),
            "dedup.candidate_pairs": c["candidate_pairs"],
            "dedup.verified_ratio": c["verified"] / max(c["candidate_pairs"], 1),
            "dedup.bucket_max": c["bucket_max"],
            "similarity_search.lsh_s": span_s("similarity_search.lsh"),
            "similarity_search.ivf_s": span_s("similarity_search.ivf"),
            "similarity_search.brute_s": span_s("similarity_search.brute"),
        })
    if serve is not None:
        calls = serve["resolve_sentence"] + serve["run_disambiguation"]
        m.update({
            "serving.jobs_per_request": statistics.median(c[2] for c in calls),
            "serving.method_s": statistics.median(c[1] for c in calls),
            "serving.http_s": statistics.median(c[0] - c[1] for c in calls),
            "serving.resolve_sentence_s": statistics.median(
                c[0] for c in serve["resolve_sentence"]),
            "serving.disambiguation_s": statistics.median(
                c[0] for c in serve["run_disambiguation"]),
        })
    log.update(spans=tr.spans, serve=serve, checks=checks, stages=stage_bytes)
    return {
        "attempted": len(checks) + (serve["attempted"] if serve else 0),
        "failed": checks.count(False) + (serve["failed"] if serve else 0),
        "metrics": m,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply the input sizes (the self-tests run tiny inputs)")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "t_res_spark", "plans", "pipeline.py")):
        print("perfbench: run from the repository root (t_res_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    cores = os.cpu_count() or 1
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    for d in ("tmp", "local", "scratch"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM (the launcher and the driver) keeps its files in the run
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")

    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    import workloads

    log = {"stamp": stamp(args.seed), "workload": args.workload,
           "seconds": args.seconds, "trace": args.trace}
    sess = Session(work, cores, bool(args.trace))
    try:
        t0 = time.perf_counter()
        wl = workloads.make(args.workload, work, args.seed, args.scale)
        log["inputs"] = wl.make_inputs(cores)
        t_inputs = time.perf_counter() - t0
        log["inputs_s"] = t_inputs
        if args.trace:
            res = traced_run(wl, sess, t_inputs, run_id, log)
        else:
            res = timed_run(wl, sess, args.seconds, t_inputs, log)
    finally:
        sess.shutdown()
        log["stamp"]["loadavg_end"] = os.getloadavg()
        shutil.rmtree(work, ignore_errors=True)
    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{run_id}.json"), "w") as f:
        json.dump(log, f, default=str)
    print(json.dumps({"stamp": log["stamp"]}))
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "correct": res["failed"] == 0 and res["attempted"] > 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": res["metrics"][k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
