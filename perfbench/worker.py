"""One benchmark run in a fresh process: set up the session, generate the
workload's inputs, run the first and then warm operations for the
requested seconds, check every output, and write a result JSON.

Started by ``perfbench/run.py``; not meant to be run by hand.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# The benchmark sets the shuffle width to the host. The program's own
# default (session.PARTITION_MAPPING: 800 at res 6, 3200 at res 8) is
# sized for a large cluster; on local[N] the persisted stage outputs
# keep every one of those partitions, and on a 4-core host a 2,000-point
# job takes ~27 s at 800 against ~2.5 s at 16, more than a run can
# spend per job. A traced ingest run still times one job at the
# program's width (session.default_width_job_s).
SHUFFLE_PER_CORE = 4
# Start no further op after this many seconds from process start (once
# a traced run has its traced and untraced warm ops), so that a run on
# a slow host still ends within the 180 s a run may take.
LAST_START_S = 90.0


def host_conf(workdir: str) -> dict:
    """Session settings sized to this host; everything else is the
    program's own default."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    heap_mb = max(1024, min(8192, total_kb // 1024 // 8))
    return {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _warm(batches):
    import h3_indexer_spark.functions.udfs  # noqa: F401  (worker import)

    for pdf in batches:
        yield pdf


def op_schedule(k: int, traced_run: bool) -> bool:
    """Whether op ``k`` is traced: the first op, then every other op."""
    return traced_run and (k == 0 or k % 2 == 1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)

    from perfbench import procs, workloads
    from perfbench.trace import NullTracer, Tracer

    cores = len(os.sched_getaffinity(0))  # what nproc reports
    wl_cls = workloads.WORKLOADS[args.workload]
    out = {"workload": args.workload, "seed": args.seed, "cores": cores}

    t0 = time.perf_counter()
    from h3_indexer_spark.session import get_spark_session

    spark = get_spark_session(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{cores}]",
        shuffle_partitions=SHUFFLE_PER_CORE * cores,
        extra_conf=host_conf(args.workdir),
    )
    sc = spark.sparkContext
    t1 = time.perf_counter()
    spark.range(0, cores, 1, cores).mapInPandas(_warm, "id long").count()
    t2 = time.perf_counter()
    out["ready_monotonic"] = time.monotonic()
    out["session.start_s"] = t1 - t0
    out["session.warmup_s"] = t2 - t1
    out["session.python_workers"] = procs.python_workers(os.getpid())
    try:
        tracer = Tracer(sc) if args.trace else NullTracer()
        wl = wl_cls(spark, args.seed, args.workdir, cores)
        g0 = time.perf_counter()
        wl.prepare()
        out["datagen_s"] = time.perf_counter() - g0

        ops = []
        loop_start = None
        k = 0
        while True:
            traced = op_schedule(k, bool(args.trace))
            o = wl.op(k, tracer if traced else NullTracer())
            o.update(k=k, traced=traced, errors=o["errors"][:3])
            ops.append(o)
            if k == 0:
                loop_start = time.perf_counter()
            k += 1
            done = time.perf_counter() - loop_start >= args.seconds
            if done and k > workloads.MIN_WARM_OPS:
                break
            if time.perf_counter() - t0 > LAST_START_S and k > 2:
                break
        out["ops"] = ops
        out["work_per_op"] = wl.work_per_op
        out["work_unit"] = wl.work_unit
        out["notes"] = wl.notes()
        if args.trace:
            tracer.collect(sc.uiWebUrl)
            rates = wl.kernel_rates()
            out["layers"] = wl.layer_metrics(tracer, ops, rates)
            out["layers"].update(rates)
            out["not_applicable"] = sorted(
                set(workloads.WORKLOAD_LAYERS) - set(wl.layers))
            warm = [o for o in ops if o["k"] > 0]
            t_on = statistics.median(o["s"] for o in warm if o["traced"])
            t_off = statistics.median(o["s"] for o in warm if not o["traced"])
            out["layers"]["trace.overhead_frac"] = t_on / t_off - 1.0
            tracer.dump(os.path.join(
                os.path.dirname(args.result),
                f"trace-{args.workload}-seed{args.seed}.json"))
    except Exception:  # report, then still stop the session
        out["error"] = traceback.format_exc()
    finally:
        jvm = sc._gateway.proc
        spark.stop()
        # the JVM exits when its stdin closes; reap it here rather than
        # leave it to outlive this process
        jvm.stdin.close()
        jvm.wait(timeout=60)
    with open(args.result, "w") as fh:
        json.dump(out, fh)
    return 0 if "error" not in out else 1


if __name__ == "__main__":
    sys.exit(main())
