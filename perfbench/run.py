"""Benchmark entry point.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 8 --trace 0

Generates the workload's inputs from ``--seed``, starts one Spark
application on ``local[<cpus>]``, runs the workload closed-loop with one
client, checks every output against DuckDB and prints each metric by
name with its unit and sample count. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. A traced run also writes its per-layer
metrics and per-query detail to ``.bench_build/perfbench/trace/``.

Everything the run writes (inputs, Spark scratch space, temporary
files) stays under ``.bench_build/perfbench`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


DRIVER_MEM = "2g"


def _isolate_writes(work: str) -> None:
    """Point every temporary-file location the run touches (Python,
    the JVM, Spark's block manager) inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    )


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine, from ``/proc/stat``:
    steal is time the hypervisor gave this machine's CPUs to others."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["catalog", "history_tiles"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    import repo

    try:
        repo.require()
    except repo.MissingRepo as e:
        print(f"perfbench: cannot run here: {e}", file=sys.stderr)
        return 2
    _isolate_writes(repo.WORK)
    ncpu = _cpus()
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    # the engine's driver-heap setting: the inputs need far less than its
    # 8g default, and a capped heap keeps the JVM's resident size from
    # following GC timing (peak_rss_mb)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM

    import gen
    import rss
    import workloads

    steal0, total0 = _cpu_ticks()
    prepare, run = workloads.WORKLOADS[args.workload]
    inputs = prepare(gen.seed_dir(repo.WORK, args.seed), args.seed)
    with rss.PeakRss() as peak:
        session = workloads.Session(ncpu)
        try:
            out = run(session, inputs, args.seconds, bool(args.trace))
        finally:
            session.stop()
    out.end_to_end["peak_rss_mb"] = (peak.peak_bytes / 2**20, peak.samples)
    steal1, total1 = _cpu_ticks()

    print(f"workload={args.workload} seed={args.seed} cpus={ncpu} trace={args.trace}")
    for name, unit in workloads.END_TO_END.items():
        value, n = out.end_to_end[name]
        print(f"  {name:<14} {value:14.4f} {unit:<9} n={n}")
    rate = out.failed / out.attempted if out.attempted else 1.0
    print(f"  {'error_rate':<14} {rate:14.4f} {'ratio':<9} n={out.attempted}")
    for f in out.failures:
        print(f"  FAIL {f}")
    # not a metric: context for reading this run's timings on a shared host
    steal = (steal1 - steal0) / max(total1 - total0, 1)
    print(f"  {'host_steal':<14} {steal:14.4f} {'share':<9} (CPU time taken by other guests)")

    # every run leaves its samples and per-query detail next to its inputs
    kind = "trace" if args.trace else "runs"
    path = os.path.join(repo.WORK, kind, f"{args.workload}-seed{args.seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    if args.trace:
        metrics = {k: {"value": out.per_layer[k], "unit": u} for k, u in workloads.PER_LAYER.items()}
        for k, m in metrics.items():
            print(f"  {k:<52} {m['value']:16.4f} {m['unit']}")
    else:
        metrics = {
            k: {"value": out.end_to_end[k][0], "unit": u} for k, u in workloads.END_TO_END.items()
        }
    with open(path, "w") as f:
        json.dump({"metrics": metrics, "detail": out.detail, "failures": out.failures}, f, indent=1)
    print(f"  detail written to {os.path.relpath(path, repo.ROOT)}")
    print(
        json.dumps(
            {
                "correct": out.failed == 0,
                "attempted": out.attempted,
                "failed": out.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
