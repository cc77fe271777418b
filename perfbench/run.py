"""Benchmark of the trace pipeline: backlog ingest, live freshness and
the OLAP mix, run against the package's public functions.

Usage, from the repository root:

    python3 perfbench/run.py --workload trace_ingest --seed 1 --seconds 8 --trace 0

The workloads and metrics are listed in BENCHMARK.json and explained
in perfbench/README.md. `--trace 0` prints the end-to-end metrics,
`--trace 1` runs the traced pass and prints the per-layer metrics.
The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`; the line before it
reports the paper-level figures with units and sample counts. The
exit status is 0 only if every correctness check passed. Spark's own
output and the sink's status lines go to standard error.

Everything the run writes stays under `.perfbench/` in the checkout:
generated inputs (cached per workload and seed), Spark's scratch
space, and the spans of traced runs.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shlex
import shutil
import sys
import tempfile
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
PACKAGE = "fdblog2clickhouse_spark"


def pin_environment(run_dir: str) -> None:
    """Environment for this process, its JVM and the Python workers,
    set before pyspark is imported: one task thread per usable core
    (`get_spark` would otherwise use local[32]), the repository root
    on the workers' PYTHONPATH (the ClickHouse sink's partition
    closure imports the package there), and every scratch path under
    the run's own directory."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # Compiler threads live as long as the JVM, so stats.tree_cpu_s
    # can leave their CPU out. The heap starts at 2 GB (a run peaks at
    # 1.5-2.8 GB) so that G1 does not resize it run by run; its
    # maximum is still the session's spark.driver.memory.
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -Xms2g"
    )
    warehouse = os.path.join(run_dir, "warehouse")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} "
        f"--conf spark.sql.warehouse.dir={shlex.quote(warehouse)} pyspark-shell"
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def inputs_dir(workload: str, seed: int) -> str:
    """Cached inputs for (workload, seed); other seeds' caches of the
    same workload are dropped so the cache stays one entry deep."""
    keep = os.path.join(WORK, "inputs", f"{workload}-{seed}")
    for d in glob.glob(os.path.join(WORK, "inputs", f"{workload}-*")):
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)
    return keep


def metrics_for(spec: dict, res, trace: bool) -> dict:
    if trace:
        return {
            m["name"]: {"value": res.layers.get(m["name"], (0, m["unit"]))[0], "unit": m["unit"]}
            for m in spec["per_layer"]
        }
    return {m["name"]: {"value": res.e2e[m["name"]][0], "unit": m["unit"]} for m in spec["end_to_end"]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/; nothing to measure", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {names}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = inputs_dir(args.workload, args.seed)
    pin_environment(run_dir)
    out, sys.stdout = sys.stdout, sys.stderr  # keep stdout for the result lines

    from perfbench.stats import cpu_times, steal_share
    from perfbench.workloads import WORKLOADS, Bench

    bench = Bench(run_dir, inputs, args.seed, args.seconds, bool(args.trace))
    cpu0 = cpu_times()
    try:
        res = WORKLOADS[args.workload](bench)
        spans = None
        if bench.tracer.enabled:
            res.layers["bench.trace_overhead_ms_per_span"] = (bench.tracer.overhead_ms_per_span(), "ms")
            os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
            spans = os.path.join(WORK, "spans", f"{args.workload}-seed{args.seed}.json")
            bench.tracer.dump(spans)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        bench.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    for e in res.errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        # time the hypervisor ran other guests on this box's CPUs: the
        # main source of run-to-run noise on a shared virtual machine
        "cpu_steal_share": steal_share(cpu0, cpu_times()),
        "spans": spans,
        "paper_metrics": {
            k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in sorted(res.paper.items())
        },
        "errors": res.errors,
    }
    correct = res.failed == 0
    result = {
        "correct": correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics_for(spec, res, bool(args.trace)),
    }
    print(json.dumps(report), file=out)
    print(json.dumps(result), file=out, flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
