"""Pipeline benchmark for h3_indexer_spark.

    python3 perfbench/run.py --workload <name|all> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the root of a checkout. Each workload runs in a fresh process
(``perfbench/worker.py``) on ``local[<cores>]``: set-up, seeded input
generation, a first operation, then warm operations for ``--seconds``
(and at least the workload's minimum), each output checked outside the
timed region. An operation is a round of two jobs or two queries (see
``perfbench/workloads.py``). Human-readable lines come
first; the last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` — the end-to-end metrics of
``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``. ``perfbench/layers.json`` maps each metric to its layer
and to the end-to-end metric and workload it should move.

Scratch files go under ``.perfbench_work/`` in the checkout; traces of
``--trace 1`` runs are kept in ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
RUN_TIMEOUT_S = 150.0

sys.path.insert(0, ROOT)
from perfbench import procs  # noqa: E402

WORKLOAD_NAMES = ("ingest_points_counties_rail", "query_spatial_join")


def run_one(workload: str, seed: int, seconds: float, trace: int) -> dict:
    """Run one workload in a fresh worker process; returns its result
    dict plus ``setup_s`` and ``peak_rss_mb``."""
    tag = f"{workload}-s{seed}-t{trace}-{os.getpid()}"
    workdir = os.path.join(WORK, tag)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(workdir, sub), exist_ok=True)
    traces = os.path.join(WORK, "traces")
    os.makedirs(traces, exist_ok=True)
    result_path = os.path.join(workdir, "result.json")
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": os.path.join(workdir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
        # every JVM, the spark-submit launcher included: no perf-data
        # files and no temp files outside the checkout
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData -Djava.io.tmpdir="
        + os.path.join(workdir, "tmp"),
    })
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace),
           "--workdir", workdir, "--result", result_path]
    log_path = os.path.join(workdir, "worker.log")
    with open(log_path, "w") as log:
        t_spawn = time.monotonic()
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log,
                                stderr=subprocess.STDOUT)
        rss = procs.PeakRss(proc.pid)
        try:
            with rss:
                proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
            # the Python daemon runs in a process group of its own, so
            # stop by pid everything the sampler saw below the worker
            procs.stop_all(rss.seen)
    try:
        with open(result_path) as fh:
            res = json.load(fh)
    except (OSError, json.JSONDecodeError):
        res = {"error": f"worker exited {proc.returncode} without a result"}
    if "error" in res:
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        sys.stderr.write(f"{workload}: {res['error']}\n{tail}\n")
    else:
        trace_file = os.path.join(workdir, f"trace-{workload}-seed{seed}.json")
        if os.path.exists(trace_file):
            shutil.move(trace_file, os.path.join(traces, os.path.basename(trace_file)))
        shutil.rmtree(workdir, ignore_errors=True)
    if "ready_monotonic" in res:
        res["setup_s"] = res["ready_monotonic"] - t_spawn
    res["peak_rss_mb"] = rss.peak / 2 ** 20
    return res


def summarize(res: dict) -> dict:
    """End-to-end figures of one run. An op is a round of two parts
    (two jobs, or two queries); ``op_p50_s`` is the median warm round."""
    ops = res.get("ops", [])
    warm = [o for o in ops if o["k"] > 0]
    failed = sum(1 for o in ops if o["errors"])
    s = {"attempted": max(1, len(ops)),
         "failed": failed if ops else 1,
         "setup_s": res.get("setup_s", 0.0),
         "peak_rss_mb": res.get("peak_rss_mb", 0.0),
         "datagen_s": res.get("datagen_s", 0.0)}
    s["failed_frac"] = s["failed"] / s["attempted"]
    if not warm:
        return s
    s["warm_ops"] = len(warm)
    s["first_op_s"] = ops[0]["s"]
    s["op_p50_s"] = statistics.median(o["s"] for o in warm)
    s["throughput_per_s"] = res["work_per_op"] / s["op_p50_s"]
    for part in ops[0]["parts"]:
        times = [o["parts"][part] for o in warm]
        s[f"{part}_p50_s"] = statistics.median(times)
        s[f"{part}_max_s"] = max(times)
    return s


def report_lines(workload: str, res: dict, s: dict) -> list[str]:
    ingest = res.get("work_unit") != "queries"
    names = (
        [("first_job_s (first round)", "first_op_s", "s"),
         ("round_p50_s", "op_p50_s", "s"),
         ("  points job p50", "points_p50_s", "s"),
         ("  counties+rails job p50", "shapes_p50_s", "s"),
         ("features_per_s", "throughput_per_s", "features/s")]
        if ingest else
        [("first_query_s (first round)", "first_op_s", "s"),
         ("round_p50_s", "op_p50_s", "s"),
         ("  query_p50_s pip", "pip_p50_s", "s"),
         ("  query_max_s pip", "pip_max_s", "s"),
         ("  query_p50_s radius", "radius_p50_s", "s"),
         ("  query_max_s radius", "radius_max_s", "s"),
         ("queries_per_s", "throughput_per_s", "1/s")])
    names = [("setup_s", "setup_s", "s")] + names + [
        ("peak_rss_mb", "peak_rss_mb", "MB"),
        ("failed_frac", "failed_frac", "frac"),
        ("datagen_s (not a metric)", "datagen_s", "s")]
    lines = [f"{workload}: {s['attempted']} rounds ({s.get('warm_ops', 0)} "
             f"warm), {s['failed']} failed, {res.get('work_per_op')} "
             f"{res.get('work_unit')} per round"]
    for label, key, unit in names:
        if key in s:
            lines.append(f"  {label:<28} {s[key]:.6g} {unit}")
    lines.append("  round times (s): " + " ".join(
        f"{o['s']:.2f}" for o in res.get("ops", [])))
    lines += [f"  {n}" for n in res.get("notes", [])]
    if res.get("not_applicable"):
        lines.append("  n/a on this workload (layer not called; printed "
                     "as 0): " + ", ".join(res["not_applicable"]))
    for o in res.get("ops", []):
        for e in o["errors"]:
            lines.append(f"  round {o['k']}: {e}")
    return lines


def metrics_for(spec: list, values: dict) -> dict:
    out = {}
    for m in spec:
        if m["name"] not in values:
            raise KeyError(f"metric {m['name']} was not measured")
        out[m["name"]] = {"value": float(values[m["name"]]), "unit": m["unit"]}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated benchmark still stops the worker and its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "h3_indexer_spark", "__init__.py")):
        sys.stderr.write("h3_indexer_spark is not in this checkout; run from "
                         "the root of a full checkout\n")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    spec = bench["per_layer"] if args.trace else bench["end_to_end"]

    names = WORKLOAD_NAMES if args.workload == "all" else (args.workload,)
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in names:
        res = run_one(name, args.seed, args.seconds, args.trace)
        s = summarize(res)
        print("\n".join(report_lines(name, res, s)), flush=True)
        values = dict(s)
        if args.trace:
            values.update(dict.fromkeys(res.get("not_applicable", []), 0.0))
            values.update(res.get("layers", {}))
            for k in ("session.start_s", "session.warmup_s",
                      "session.python_workers"):
                values[k] = res.get(k, 0.0)
        ok = "error" not in res and s["failed"] == 0
        if "error" in res:
            total["correct"] = False
            total["attempted"] += s["attempted"]
            total["failed"] += s["attempted"]
            continue
        total["correct"] &= ok
        total["attempted"] += s["attempted"]
        total["failed"] += s["failed"]
        metrics = metrics_for(spec, values)
        if len(names) > 1:
            metrics = {f"{name}.{k}": v for k, v in metrics.items()}
        total["metrics"].update(metrics)
    if not total["metrics"]:
        return 1
    print(json.dumps(total), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
