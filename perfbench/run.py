"""GAS link-graph benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads: sf01_analytics and
ingest_resume (see README.md here). The last line of stdout is one JSON
object {"correct", "attempted", "failed", "metrics"}: with ``--trace 0``
the end-to-end metrics of BENCHMARK.json, with ``--trace 1`` its
per-layer metrics from a separate traced run, whose spans are also
written to ``.perfbench/traces/<workload>-s<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import zipfile

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PACKAGE = "mirrorofmapgraph_spark"
CORES = 4
SHUFFLE_PARTITIONS = 8  # bench.py's headline section at 4 cores
CONFS = {
    # fits a shared 15 GB host; a small heap also steadies peak RSS
    "spark.driver.memory": "1g",
    # keep every job and stage of the run in the status store
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
}
# operator call name -> GAS program the per-layer gas.* metrics are keyed by
ALGO = {"pagerank": "pagerank", "cc": "cc", "labelprop": "labelprop",
        "cc_checkpointed": "cc", "cc_resume": "cc"}


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def ship_package(dest: str) -> str:
    """Zip the package for the Python workers, as ``--py-files`` would:
    pandas UDFs that reference package functions unpickle by import path."""
    path = os.path.join(dest, f"{PACKAGE}.zip")
    with zipfile.ZipFile(path, "w") as zf:
        for d, _, files in os.walk(os.path.join(ROOT, PACKAGE)):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(d, f)
                    zf.write(full, os.path.relpath(full, ROOT))
    return path


def dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / (1024.0 * 1024.0)


def stop_jvm() -> None:
    """End the JVM PySpark launched and wait for it: it exits when its
    stdin pipe closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    proc.wait(timeout=60)


def tail(walls: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest of p99/p95/p90/p75/p50 with at
    least ten samples beyond it; the maximum (p100) when none has."""
    n = len(walls)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return statistics.quantiles(walls, n=100, method="inclusive")[p - 1], float(p)
    return (max(walls) if walls else 0.0), 100.0


def new_steps(op) -> list:
    """Superstep records this call ran (a resumed result also carries the
    records of the run it resumed)."""
    return op.result.metrics[op.steps_from:]


def end_to_end(rep: dict) -> dict:
    ops = rep["ops"]
    gas_ops = [op for op in ops if op.result is not None]
    return {
        "job_s": rep["job"].seconds,
        "algo_s": sum(op.seconds for op in ops if op.name != "ingest"),
        "gas_teps": (sum(s.edges_traversed for op in gas_ops for s in new_steps(op))
                     / sum(op.seconds for op in gas_ops)),
    }


def per_layer(spark, tracer, rep: dict) -> dict:
    """Per-layer metrics of one timed repetition of a traced run."""
    from spans import stage_totals

    def spans_in(op, name):
        return sum(s.seconds for s in tracer.spans
                   if s.name == name and op.span.start <= s.start <= op.span.end)

    m: dict[str, float] = {"operators.readback_s": sum(op.readback_s for op in rep["ops"])}
    algos: dict[str, dict] = {}
    for op in rep["ops"]:
        st = stage_totals(spark, op.group)
        if op.name in ("pagerank", "cc", "labelprop", "triangle"):
            m[f"operators.{op.name}_s"] = op.seconds
        if op.name == "triangle":
            m["operators.triangle_shuffle_mb"] = st.shuffle_write_mb
        if op.name == "ingest":
            m.update({
                "sources.ingest_s": op.seconds,
                "sources.ingest_rows_per_s": rep["input_rows"] / op.seconds,
                "sources.extract_s": st.scan_run_s,
                "sources.encode_s": spans_in(op, "sources.encode_edges"),
                "sources.edge_write_s": spans_in(op, "sources.edge_write"),
                "sources.shuffle_write_mb": st.shuffle_write_mb,
                "sources.executor_busy_frac": st.executor_run_s / (op.seconds * CORES),
            })
        if op.name not in ALGO:
            continue
        steps = new_steps(op)
        # what the call spent outside its supersteps, checkpoint writes and
        # readback: edge persist, vertex_stats, entry cuts (and, resumed,
        # loading the checkpoint)
        pre = (op.seconds - op.readback_s - sum(s.wall_ms for s in steps) / 1000.0
               - spans_in(op, "gas.write_checkpoint"))
        if op.name == "cc_checkpointed":
            m["gas.checkpointed_run_s"] = op.seconds
        if op.name == "cc_resume":
            m["gas.resume_s"] = op.seconds
            m["gas.resume_load_s"] = pre
        a = algos.setdefault(ALGO[op.name], {"steps": [], "wall": 0.0, "pre": 0.0, "st": []})
        a["steps"] += steps
        a["wall"] += op.seconds
        a["pre"] += pre
        a["st"].append(st)
        a["cached"] = op.cached_mb_after
    if "pagerank" in algos:
        m["operators.pagerank_teps"] = (
            sum(s.edges_traversed for s in algos["pagerank"]["steps"])
            / m["operators.pagerank_s"])
    for algo, a in algos.items():
        walls = [s.wall_ms for s in a["steps"]]
        n = max(len(walls), 1)
        value, pct = tail(walls)
        st = a["st"]
        m.update({
            f"gas.supersteps.{algo}": len(walls),
            f"gas.edges_traversed.{algo}": sum(s.edges_traversed for s in a["steps"]),
            f"gas.frontier_mean.{algo}": sum(s.frontier_size for s in a["steps"]) / n,
            f"gas.step_ms_p50.{algo}": median(walls),
            f"gas.step_ms_tail.{algo}": value,
            f"gas.step_ms_tail_pct.{algo}": pct,
            f"gas.jobs_per_step.{algo}": sum(s.jobs for s in st) / n,
            f"gas.tasks_per_step.{algo}": sum(s.tasks for s in st) / n,
            f"gas.executor_busy_frac.{algo}": (
                sum(s.executor_run_s for s in st) / (a["wall"] * CORES)),
            f"gas.shuffle_write_mb_per_step.{algo}": sum(s.shuffle_write_mb for s in st) / n,
            f"gas.shuffle_read_mb_per_step.{algo}": sum(s.shuffle_read_mb for s in st) / n,
            f"gas.spill_mb.{algo}": sum(s.spill_mb for s in st),
            f"gas.pre_loop_s.{algo}": a["pre"],
            f"gas.loop_s.{algo}": sum(walls) / 1000.0,
            f"gas.cached_mb_after.{algo}": a["cached"],
        })
    m["gas.checkpoint_s"] = sum(spans_in(op, "gas.write_checkpoint") for op in rep["ops"])
    m["gas.checkpoint_mb"] = rep["checkpoint_mb"]
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    try:
        from mirrorofmapgraph_spark import session
        from mirrorofmapgraph_spark.plans import gas
        from mirrorofmapgraph_spark.sources import extract, ids
    except ImportError as e:
        print(f"perfbench: cannot import the package from {ROOT}: {e}", file=sys.stderr)
        return 2
    import spans
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # every scratch file of the JVM, Spark and the Python workers stays here
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    confs = dict(CONFS)
    confs.update({
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -UsePerfData: else the JVM writes a perf-data file to the system temp dir
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    })
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    tracer = spans.Tracer(bool(args.trace), run_id)
    # a traced run also times the layer calls the package makes itself
    for owner, attr, name in (
        (gas.GASEngine, "run", "gas.run"),
        (gas.GASEngine, "edges_partitioned", "gas.edges_partitioned"),
        (gas.GASEngine, "vertex_stats", "gas.vertex_stats"),
        (gas.GASEngine, "write_checkpoint", "gas.write_checkpoint"),
        (gas.GASEngine, "load_checkpoint", "gas.load_checkpoint"),
        (extract, "with_sha256", "sources.with_sha256"),
        (extract, "extract_edges", "sources.extract_edges"),
        (ids, "encode_edges", "sources.encode_edges"),
        (ids, "assign_dense_ids", "sources.assign_dense_ids"),
    ):
        tracer.wrap(owner, attr, name)

    spark = None
    try:
        wl = workloads.WORKLOADS[args.workload]()
        pyfile = ship_package(work)
        # one cold set-up, as a user pays it: JVM launch and session,
        # seeded inputs, then the workload's warm-up (README.md: "Warm or
        # cold JVM")
        with tracer.span("setup") as setup:
            with tracer.span("session.get_spark") as boot:
                spark = session.get_spark(
                    app_name=f"perfbench-{args.workload}", master=f"local[{CORES}]",
                    shuffle_partitions=SHUFFLE_PARTITIONS, extra_confs=confs)
                spark.sparkContext.addPyFile(pyfile)
            spark.sparkContext.setJobGroup("setup", "inputs")
            with tracer.span("sources.input_gen") as gen:
                inp = wl.prepare(workloads.Ctx(spark, tracer, work, args.seed))
            with tracer.span("warmup") as warm:
                wl.warmup(workloads.Ctx(spark, tracer, work, args.seed, tag="warmup"), inp)
        log(f"set-up {setup.seconds:.2f}s (session {boot.seconds:.2f}s, "
            f"inputs {gen.seconds:.2f}s, warm-up {warm.seconds:.2f}s)")

        reps = []
        while not reps or sum(r["job"].seconds for r in reps) < args.seconds:
            ctx = workloads.Ctx(spark, tracer, work, args.seed, tag=f"rep{len(reps)}")
            with tracer.span("job") as job:
                ops = wl.job(ctx, inp)
            log("job %.2fs: %s" % (job.seconds, ", ".join(
                f"{op.name} {op.seconds:.2f}s" for op in ops)))
            reps.append({"ctx": ctx, "job": job, "ops": ops,
                         "input_rows": inp.get("rows", 0),
                         "checkpoint_mb": sum(dir_mb(op.outputs["checkpoints"])
                                              for op in ops if "checkpoints" in op.outputs)})
        # read before any check runs: the checks' own work (DuckDB, numpy,
        # collects) must not count
        rss_mb = spans.peak_rss_mb()

        attempted = failed = 0
        for rep in reps:
            checks = wl.check(rep["ctx"], inp, rep["ops"])
            bad = [name for name, ok in checks if not ok]
            attempted += len(checks)
            failed += len(bad)
            log(f"checked {len(checks)} outputs" + (f", wrong: {bad}" if bad else ""))

        if args.trace:
            per_rep = [per_layer(spark, tracer, rep) for rep in reps]
            metrics = {k: median([r.get(k, 0.0) for r in per_rep])
                       for k in {k for r in per_rep for k in r}}
            metrics.update({
                "session.boot_s": boot.seconds,
                "sources.input_gen_s": gen.seconds,
            })
            out_dir = os.path.join(base, "traces")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"{args.workload}-s{args.seed}.json"), "w") as f:
                json.dump({"run_id": run_id, "spans": tracer.dump(),
                           "self_s": tracer.self_times()}, f)
        else:
            per_rep = [end_to_end(rep) for rep in reps]
            metrics = {k: median([r[k] for r in per_rep]) for k in per_rep[0]}
            metrics["setup_s"] = setup.seconds
            metrics["peak_rss_mb"] = rss_mb
    finally:
        tracer.unwrap_all()
        if spark is not None:
            spark.stop()
            stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    log("stopped")

    # every declared metric in declaration order; a layer the workload does
    # not exercise reads 0
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": float(metrics.get(m["name"], 0.0)),
                                "unit": m["unit"]} for m in declared},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
