"""The benchmark's one command.

    python3 perfbench/run.py --workload serve_write --seed 1 --seconds 12 --trace 0

Run it from the repository root.  It builds its inputs from ``--seed``,
starts the program in this process, measures for ``--seconds`` seconds,
checks the program's outputs, and prints as its last stdout line one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
run is traced and the metrics are the per-layer ones.  The line before it
holds the run's environment and input facts.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import time

WORKLOADS = ("serve_write", "assemble")

#: end-to-end metrics; every run reports each of them (README.md says
#: what each one is on each workload)
E2E = {"op_p50_ms": "ms", "work_per_s": "1/s", "setup_s": "s"}
#: the tables an assembly build commits, one append each
TABLES = (
    "name_meta", "text_meta", "other_meta", "source_meta", "mesh_term_meta",
    "mesh_concept_meta", "agent_interactions", "fast_raw_pa_link",
    "reading_ref_link", "raw_stmt_src", "raw_stmt_mesh_terms",
    "raw_stmt_mesh_concepts", "mesh_term_ref_counts",
    "mesh_concept_ref_counts", "belief", "evidence_counts", "pa_agent_counts",
    "pa_statements", "pa_agents", "pa_support_links",
)
#: per-layer metrics of the traced run.  Every traced run reports each
#: of them; a layer the workload does not run reads 0.
PER_LAYER = {
    "service.rest.wait_ms": "ms",
    "service.rest.handler_ms": "ms",
    "service.params.fold_ms": "ms",
    "plans.queries.compile_ms": "ms",
    "plans.shaping.build_ms": "ms",
    "spark.action_ms": "ms",
    "plans.shaping.json_ms": "ms",
    "service.rest.bytes_per_req": "bytes",
    "plans.txlog.prune_ms": "ms",
    "plans.txlog.files_read_ratio": "ratio",
    "plans.txlog.prunes_per_req": "count",
    "plans.principal.submit_ms": "ms",
    "plans.principal.read_ms": "ms",
    "plans.principal.log_files": "count",
    "trace.requests_matched": "count",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.cpu_s_per_op": "s",
    "spark.run_s_per_op": "s",
    "spark.shuffle_bytes_per_op": "bytes",
    "spark.input_bytes_per_op": "bytes",
    **{f"trace_overhead.{k}": u for k, u in E2E.items() if k != "setup_s"},
    **{f"assembly.{t}.s": "s" for t in TABLES},
}


def _peak_rss_mb(sc) -> float:
    """Peak RSS of this process plus the JVM it launched."""
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{sc._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (own_kb + jvm_kb) / 1024


def _cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests meanwhile:
    outside load that the load average inside this machine cannot see."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(sum(delta), 1)


def _spark(root: str, work: str):
    """The program's own session factory, with every scratch path of Spark
    and the JVM moved inside the work directory."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    # the program's default heap is 8 GB; half of it holds every workload
    # and keeps the JVM's footprint on a shared host down
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    from indra_db_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            # the counters of a traced window are read from the status
            # store after it closes; keep every job of a run
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    # the JVM exits once its stdin closes; wait for it
    jvm.stdin.close()
    jvm.wait(timeout=60)


def _build_lake(root: str, work: str) -> float:
    """Build the serving lake in a process of its own, so the measuring
    process starts a fresh JVM on a finished lake."""
    t0 = time.monotonic()
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--build-lake", work],
        check=True, stdout=sys.stderr, timeout=840,
    )
    return time.monotonic() - t0


def _metrics(values: dict, units: dict) -> dict:
    return {k: {"value": float(values.get(k, 0.0)), "unit": u}
            for k, u in units.items()}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--build-lake", metavar="WORK", help=argparse.SUPPRESS)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "indra_db_spark", "__init__.py")):
        print("perfbench: run from the repository root (no indra_db_spark/ "
              "here)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    import serving

    if args.build_lake:
        spark = _spark(root, args.build_lake)
        serving.build_lake(spark, root)
        _stop(spark)
        return 0
    if None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")

    work = os.path.join(
        root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load_before, cpu_before = os.getloadavg()[0], _cpu_times()
    try:
        lake_build_s = None
        if args.workload == "serve_write" and not os.path.isdir(
                serving.lake_dir(root)):
            lake_build_s = _build_lake(root, os.path.join(work, "build"))
        # set-up starts here: JVM, inputs, and (serving) lake and server
        setup_t0 = time.monotonic()
        spark = _spark(root, os.path.join(work, "run"))
        if args.workload == "serve_write":
            workload = serving
        else:
            import assemble as workload
        metrics, layers, info = workload.run(
            spark, root, args.seed, args.seconds, bool(args.trace),
            os.path.join(work, "run"), setup_t0,
        )
        sc = spark.sparkContext
        info["lake_build_s"] = lake_build_s
        info["env"] = {
            "default_parallelism": sc.defaultParallelism,
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "load1_before": load_before,
            "load1_after": os.getloadavg()[0],
            "cpu_steal_share": _steal_share(cpu_before, _cpu_times()),
            "pyspark": __import__("pyspark").__version__,
            "seed": args.seed,
            "workload": args.workload,
            "trace": args.trace,
        }
        # reported, not gated: its run-to-run spread is wider than any
        # bound the benchmark may set (the JVM heap grows with GC timing)
        info["peak_rss_mb"] = _peak_rss_mb(sc)
        _stop(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    attempted, failed = info.pop("attempted"), info.pop("failed")
    print(json.dumps({"perfbench": info}, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": _metrics(layers, PER_LAYER) if args.trace
        else _metrics(metrics, E2E),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
