"""Repo benchmark: one workload, one Spark session, one caller.

Usage (from the repository root):

    python3 perfbench/run.py --workload triage --seed 1 --seconds 15 --trace 0

Workloads: ``triage`` and ``registry`` (see README.md). The run builds
the session from the library's own factory, warms it, writes the
workload's seeded inputs under ``.perfbench/`` in the repository, runs
one discarded warm-up iteration and then starts measured iterations
until ``--seconds`` have passed. Every iteration's output is checked
after its timer stops.

Human-readable lines come first; the last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run also executes one traced iteration and the JSON carries the
per-layer metrics instead (layers a workload does not run report 0).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

# Triage input size. At 10k lines ~80 % of a warm iteration is Python
# plan building and fixed per-job cost, not rows; a per-row majority
# needs ~50k lines, which does not fit the run budget (README.md).
TRIAGE_LINES = 10000

# The registry pass, by family; queries run in a seeded order: the
# slow/fast twin pairs, the string/hashed containment pair and the
# hot-key-salted bigram scorer (the paths ROADMAP item 4 would retire or
# merge). Other families are left out to fit the run budget: the funnel
# family's five DuckDB oracles alone take ~50 s, and its cheapest query
# adds ~13 s a run; the triage workload runs the rule engine's code.
REGISTRY_FAMILIES = {
    "dedup": ["containment_pairs", "containment_pairs_hashed"],
    "twins": ["doc_fingerprint", "doc_fingerprint_fast", "winnow_fingerprints",
              "winnow_fingerprints_fast", "semantic_dedup", "semantic_dedup_fast"],
    "lm": ["bigram_logprob"],
}


def per_layer_names() -> list[str]:
    """The per-layer metrics a triage or registry traced run reports
    (one list for both: a layer a workload does not run reports 0)."""
    out = ["sources.logparse.self_s", "sources.logparse.rows_out", "sources.logparse.error_rows"]
    for op in ("dedup", "timeutil", "sessionize", "counts", "filters"):
        out += [f"operators.{op}.self_s", f"operators.{op}.shuffle_mb"]
    for layer in ("functions.risk", "rules.sigma", "session.materialize",
                  "detectors.burst", "detectors.tools", "render"):
        out += [f"{layer}.self_s", f"{layer}.jobs", f"{layer}.tasks"]
    out.append("engine.build_s")
    for fam in REGISTRY_FAMILIES:
        out += [f"benchqueries.{fam}.{q}" for q in ("build_s", "plan_s", "exec_s", "jobs", "tasks", "shuffle_mb")]
    return out + ["session.tasks_per_job", "session.peak_rss_mb", "trace.overhead_s"]


def unit_of(metric: str) -> str:
    quantity = metric.rsplit(".", 1)[1]
    if quantity.endswith("_s"):
        return "s"
    return "MB" if quantity.endswith("_mb") else "count"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["triage", "registry"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def start_session(work: str):
    """The library's session factory plus run hygiene: no console
    progress bar, and scratch space inside the work directory."""
    from webloghunter_spark.session import get_spark

    for d in ("spark-local", "warehouse", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        },
    )


def warm(spark) -> None:
    """Start the Python worker pool on every core and run the Arrow UDF
    path once (the library's URI-risk UDF)."""
    from pyspark.sql import functions as F

    from webloghunter_spark.functions.risk import uri_risk_udf

    n = spark.sparkContext.defaultParallelism
    uris = spark.range(0, 16 * n, 1, n).select(F.concat(F.lit("/w%20"), F.col("id").cast("string")).alias("u"))
    uris.select(uri_risk_udf()(F.col("u"))).write.mode("overwrite").format("noop").save()


def stop_session(spark) -> None:
    """Stop the session, then the Spark JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def make_workload(name: str):
    import workloads

    if name == "triage":
        return workloads.Triage(TRIAGE_LINES)
    return workloads.Registry(REGISTRY_FAMILIES)


def main(argv=None) -> int:
    args = parse_args(argv)
    os.makedirs(WORK, exist_ok=True)
    # executor Python workers import the library too
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    sys.path.insert(0, ROOT)

    import pyspark

    from spans import Tracer

    wl = make_workload(args.workload)
    spark = start_session(WORK)
    try:
        warm(spark)
        setup_s = time.perf_counter() - T_START
        work = os.path.join(WORK, args.workload)
        manifest = wl.prepare(spark, work, args.seed)
        phases = {"prepare_s": time.perf_counter() - T_START - setup_s}

        attempted = failed = 0

        def run_once():
            nonlocal attempted, failed
            ops, n_failed, messages = wl.iterate()
            attempted += len(ops)
            failed += n_failed
            for msg in messages:
                print(f"CHECK-FAIL {args.workload}: {msg}", file=sys.stderr)
            return ops

        t0 = time.perf_counter()
        run_once()  # discarded: first-run JIT, codegen and worker start-up
        phases["warmup_s"] = time.perf_counter() - t0
        samples: dict[str, list[float]] = {}
        t0 = time.perf_counter()
        while not samples or time.perf_counter() - t0 < args.seconds:
            for op, seconds in run_once().items():
                samples.setdefault(op, []).append(seconds)
        phases["measured_s"] = time.perf_counter() - t0
        # Each operation's best time over the iterations: a burst of load
        # from outside the process slows one sample, not every one.
        best = {op: min(v) for op, v in samples.items()}
        wall_s = sum(best.values())
        peak_rss_mb = jvm_peak_rss_mb(spark)
        metrics = end_to_end = {
            "setup_s": (setup_s, "s"),
            "wall_s": (wall_s, "s"),
            "query_p50_s": (statistics.median(best.values()), "s"),
        }
        if args.trace:
            tracer = Tracer(spark)
            traced_wall, layer = wl.traced(tracer)
            jobs = sum(sp.jobs for sp in tracer.spans)
            layer["session.tasks_per_job"] = sum(sp.tasks for sp in tracer.spans) / max(jobs, 1)
            layer["session.peak_rss_mb"] = jvm_peak_rss_mb(spark)
            layer["trace.overhead_s"] = traced_wall - wall_s
            metrics = {name: (layer.get(name, 0), unit_of(name)) for name in per_layer_names()}
            phases["traced_s"] = traced_wall
        stamp = {
            "workload": args.workload,
            "seed": args.seed,
            "nproc": os.cpu_count(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "spark": pyspark.__version__,
            "parallelism": spark.sparkContext.defaultParallelism,
            "samples_s": {op: [round(x, 3) for x in v] for op, v in samples.items()},
            "input": manifest,
            "phases": {k: round(v, 3) for k, v in phases.items()},
        }
    finally:
        stop_session(spark)

    print("perfbench-stamp " + json.dumps(stamp))
    if args.trace:
        print(f"{args.workload} layers: " + "  ".join(f"{k}={v:.4f} {u}" for k, (v, u) in metrics.items()))
    print(f"{args.workload}: " + "  ".join(f"{k}={v:.4f} {u}" for k, (v, u) in end_to_end.items())
          + f"  peak_rss_mb={peak_rss_mb:.1f} MB  failed_frac={failed / max(attempted, 1):.4f} ({failed}/{attempted})")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
