"""The CDC pipeline benchmark: one command, one workload per call.

    python3 perfbench/run.py --workload <bulk_apply|trickle_chain>
                             --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout: it drives the engine package found
there (``qin_cdc_spark``) in one process on ``local[<cpus>]``, keeps every
file it writes under ``.perfbench_tmp/`` (removed at exit) and writes the
traced run's spans to ``.perfbench_out/``.  Progress goes to stderr and
stdout; the last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric (``--trace 0``) or every per-layer metric
(``--trace 1``).  Without the engine package it exits 2 and prints no
result.  ``NOTES.md`` describes the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# end-to-end metrics, reported by every workload
E2E = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "apply_events_per_s": "1/s",
    "freshness_p50_s": "s",
    "freshness_p75_s": "s",
    "ops_per_s": "1/s",
}


def _driver_memory_mb() -> int:
    """2 GiB, or a quarter of the host's memory if that is less."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return min(2048, total_kb // 4096)


def _tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def peak_rss_mb() -> float:
    """Sum of the peak resident sets (VmHWM) of this process and every
    live descendant: the Python driver, the JVM and its Python workers."""
    kb = 0
    for p in _tree(os.getpid()):
        try:
            with open(f"/proc/{p}/status") as f:
                kb += next(
                    (int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0
                )
        except OSError:
            continue
    return kb / 1024.0


def _session(tmp: str, cpus: int, traced: bool):
    from qin_cdc_spark.session import get_spark

    conf = {
        "spark.driver.memory": f"{_driver_memory_mb()}m",
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:  # keep every job of the run for span attribution
        conf["spark.ui.retainedJobs"] = "100000"
    spark = get_spark("perfbench", cpus=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "qin_cdc_spark")):
        print(f"perfbench: no qin_cdc_spark package under {ROOT}", file=sys.stderr)
        return 2
    # Python workers (the binlog-dir DataSource runs in them) import the
    # engine, so the checkout must be on their path as well as ours.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path[:0] = [ROOT, HERE]

    import spans
    from workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    os.makedirs(tmp)
    os.environ.update(TMPDIR=tmp, SPARK_LOCAL_DIRS=os.path.join(tmp, "local"))
    spark = None
    tracer = spans.Tracer() if args.trace else None
    try:
        spark = _session(tmp, len(os.sched_getaffinity(0)), bool(args.trace))
        if tracer is not None:
            tracer.install()
        run = Run(spark, args.seed, args.seconds, tmp, tracer)
        result = WORKLOADS[args.workload](run)
        rss = peak_rss_mb()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if tracer is not None:
            tracer.uninstall()
        if spark is not None:
            _stop(spark)
        shutil.rmtree(tmp, ignore_errors=True)

    end_to_end = dict(result.metrics, peak_rss_mb=rss)
    if tracer is not None:
        tracer.write(
            os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-{args.seed}.json")
        )
        values = {name: result.layers.get(name, 0.0) for name in spans.LAYER_METRICS}
        values["trace.overhead_ms"] = tracer.overhead_s * 1000.0
        units = spans.LAYER_METRICS
    else:
        values, units = end_to_end, E2E
    print(json.dumps({"summary": result.summary, "checks": result.checks, "end_to_end": end_to_end}))
    print(
        json.dumps(
            {
                "correct": result.correct,
                "attempted": result.attempted,
                "failed": result.failed,
                "metrics": {
                    k: {"value": float(values[k]), "unit": u} for k, u in units.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
