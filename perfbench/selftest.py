"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py           # all checks (runs the benchmark)
    python3 perfbench/selftest.py --quick   # skip the benchmark runs

1. BENCHMARK.json follows the benchmark contract (keys, names, units,
   bounds) and agrees with perfbench/layers.json.
2. The same seed gives identical generated inputs; another seed differs.
3. The output checks accept correct output and reject planted wrong
   output: ratios x1.01, a wrong r3 parent, a duplicated cell, a dropped
   point-in-polygon match, a dropped or mis-measured radius pair.
4. (not with --quick) Every BENCHMARK.json metric name appears, with its
   unit, in the last output line of a short run of each workload, with
   and without tracing.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.dataset as ds  # noqa: E402

from perfbench import checks, datagen, kernels, workloads  # noqa: E402

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
PATH_RE = re.compile(r"^[A-Za-z0-9_.\-/]{1,200}$")


def load_bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_contract():
    bench = load_bench()
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}, sorted(bench)
    assert 1 <= len(bench["paths"]) <= 16
    for p in bench["paths"]:
        assert PATH_RE.match(p) and not p.startswith("/") and ".." not in p
    cmd = bench["command"]
    assert 1 <= len(cmd) <= 32 and all(len(c) <= 200 for c in cmd)
    assert isinstance(bench["run_seconds"], int) and 1 <= bench["run_seconds"] <= 60
    assert 2 <= len(bench["workloads"]) <= 8
    names = set()
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"} and NAME_RE.match(w["name"])
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
        assert w["name"] in workloads.WORKLOADS, w["name"]
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)
    e2e = bench["end_to_end"]
    assert 1 <= len(e2e) <= 16 and 1 <= len(bench["per_layer"]) <= 128
    for m in e2e:
        assert set(m) == {"name", "unit", "better", "bound"}, m
        assert 0 < m["bound"] <= 0.25
    for m in bench["per_layer"]:
        assert set(m) == {"name", "unit", "better"}, m
    for m in e2e + bench["per_layer"]:
        assert NAME_RE.match(m["name"]) and UNIT_RE.match(m["unit"]), m
        assert m["better"] in ("lower", "higher")
        assert m["name"] not in names, m["name"]
        names.add(m["name"])
    setup = [m for m in e2e if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in e2e)
    assert len(json.dumps(bench)) <= 64 * 1024

    with open(os.path.join(HERE, "layers.json")) as fh:
        layers = json.load(fh)
    assert set(layers["end_to_end"]) == {m["name"] for m in e2e}
    assert set(layers["per_layer"]) == {m["name"] for m in bench["per_layer"]}
    assert set(layers["workloads"]) == set(workloads.WORKLOADS)
    for name, info in layers["per_layer"].items():
        assert set(info["moves"]) <= set(layers["end_to_end"]), name
        assert set(info["workloads"]) <= set(workloads.WORKLOADS), name
    # every per-layer metric has a source, and layers.json names the
    # workloads whose spans measure it
    sources = (set(workloads.WORKLOAD_LAYERS) | set(kernels.ALL_RATES)
               | {"session.start_s", "session.warmup_s",
                  "session.python_workers", "trace.overhead_frac",
                  "peak_rss_mb"})
    assert sources == set(layers["per_layer"]), sources ^ set(layers["per_layer"])
    for name in workloads.WORKLOAD_LAYERS:
        want = {w for w, cls in workloads.WORKLOADS.items() if name in cls.layers}
        assert set(layers["per_layer"][name]["workloads"]) == want, name


def _frames(cls, seed, tmp):
    wl = cls(None, seed, os.path.join(tmp, f"{cls.__name__}-{seed}"), 4)
    frames = wl.generate()
    batch = wl.sensors(3) if hasattr(wl, "sensors") else wl.batch(3)
    return frames, batch


def test_same_seed_same_inputs():
    with tempfile.TemporaryDirectory(dir=ROOT, prefix=".selftest-") as tmp:
        for cls in workloads.WORKLOADS.values():
            a, ab = _frames(cls, 7, tmp)
            b, bb = _frames(cls, 7, tmp)
            c, cb = _frames(cls, 8, tmp)
            for name in a:
                assert a[name].equals(b[name]), (cls.__name__, name)
            assert ab.equals(bb), cls.__name__
            assert not all(a[n].equals(c[n]) for n in a), cls.__name__
            assert not ab.equals(cb), cls.__name__


# --- the output checks reject planted errors -------------------------------


def _write(table: pa.Table, path: str) -> None:
    part = ds.partitioning(
        pa.schema([("h3_resolution", pa.int32()), ("h3_r3_parent", pa.string())]),
        flavor="hive")
    ds.write_dataset(table, path, format="parquet", partitioning=part,
                     existing_data_behavior="delete_matching")


def _fake_job(points: pd.DataFrame, res: int):
    """A correct indexed + resolved output for POINT/WITHIN ``points``,
    built without the program's plans (cells from its kernel)."""
    from h3_indexer_spark.functions.h3.vectorized import latlng_to_cell_batch

    cells = latlng_to_cell_batch(points["lat"].to_numpy(),
                                 points["lng"].to_numpy(), res).astype(np.uint64)
    hexes = [f"{int(c):x}" for c in cells]
    parents = [f"{int(p):x}" for p in checks.h3_parent(cells, 3)]
    n = len(points)
    indexed = pd.DataFrame({
        "h3_index": hexes, "h3_area_km2": 1.0, "id": points["id"],
        "ratio": 1.0, "total_count": 1, "h3_resolution": np.int32(res),
        "h3_r3_parent": parents,
    })
    frame = points.assign(h3_index=hexes, h3_r3_parent=parents)
    resolved = frame.groupby(["h3_index", "h3_r3_parent"], as_index=False).agg(
        sum_reading=("reading", "sum"), sum_events=("events", "sum"))
    resolved["sum_events"] = resolved["sum_events"].astype("float64")
    resolved["h3_area_km2"] = 1.0
    resolved["h3_resolution"] = np.int32(res)
    assert n == len(indexed)
    return indexed, resolved


def _check(tmp, tag, indexed, resolved, points, res):
    out = os.path.join(tmp, tag)
    _write(pa.Table.from_pandas(indexed, preserve_index=False),
           os.path.join(out, "indexed", "sensors"))
    _write(pa.Table.from_pandas(resolved, preserve_index=False),
           os.path.join(out, "resolved"))
    inputs = {"sensors": ("id", points, ["reading", "events"],
                          np.zeros(len(points), dtype=bool))}
    return checks.check_ingest(out, res, inputs)


def test_ingest_check_rejects_planted_errors():
    res = 6
    rng = datagen.rng_for(1, 99)
    points = datagen.points(rng, 300, datagen.hot_spots(rng))
    indexed, resolved = _fake_job(points, res)
    with tempfile.TemporaryDirectory(dir=ROOT, prefix=".selftest-") as tmp:
        assert _check(tmp, "good", indexed, resolved, points, res) == []
        bad = indexed.assign(ratio=indexed["ratio"] * 1.01)
        assert _check(tmp, "ratio", bad, resolved, points, res)
        bad = resolved.assign(sum_reading=resolved["sum_reading"] * 1.01)
        assert _check(tmp, "sum", indexed, bad, points, res)
        bad = resolved.copy()
        bad.loc[0, "h3_r3_parent"] = bad.loc[1 % len(bad), "h3_r3_parent"][::-1]
        assert _check(tmp, "parent", indexed, bad, points, res)
        bad = pd.concat([resolved, resolved.iloc[:1]], ignore_index=True)
        bad.loc[len(bad) - 1, "sum_reading"] = 0.0
        bad.loc[len(bad) - 1, "sum_events"] = 0.0
        assert _check(tmp, "dup", indexed, bad, points, res)
        assert _check(tmp, "missing", indexed.iloc[1:], resolved, points, res)


def test_join_checks_reject_planted_errors():
    rng = datagen.rng_for(1, 98)
    rings = datagen.counties(rng, 4, 3, (-98.0, 38.0))
    box = datagen.grid_box((-98.0, 38.0), 4, 3)
    pts = datagen.query_points(rng, 2000, box)
    pairs = sorted(checks.brute_pip(pts, rings))
    assert pairs and checks.check_pip(pairs, pts, rings) == []
    assert checks.check_pip(pairs[1:], pts, rings)
    assert checks.check_pip(pairs + [pairs[0]], pts, rings)
    wrong = [(pairs[0][0], (pairs[0][1] + 1) % len(rings))] + pairs[1:]
    assert checks.check_pip(wrong, pts, rings)

    depots = datagen.depots(rng, 200, box)
    want = checks.brute_radius(pts, depots, 5.0)
    rows = [(a, b, d) for (a, b), d in sorted(want.items())]
    assert rows and checks.check_radius(rows, pts, depots, 5.0) == []
    assert checks.check_radius(rows[1:], pts, depots, 5.0)
    assert checks.check_radius(
        [(rows[0][0], rows[0][1], rows[0][2] * 1.01)] + rows[1:], pts, depots, 5.0)


def test_metric_names_printed():
    bench = load_bench()
    for w in bench["workloads"]:
        for trace, spec in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload",
                 w["name"], "--seed", "3", "--seconds", "1", "--trace",
                 str(trace)], cwd=ROOT, capture_output=True, text=True,
                timeout=400)
            assert out.returncode == 0, out.stderr[-2000:]
            last = json.loads(out.stdout.strip().splitlines()[-1])
            assert set(last) == {"correct", "attempted", "failed", "metrics"}
            assert last["correct"] and last["failed"] == 0, last
            got = {k: v["unit"] for k, v in last["metrics"].items()}
            assert got == {m["name"]: m["unit"] for m in spec}, (w, trace)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--quick", action="store_true",
                    help="skip the runs of the benchmark itself")
    args = ap.parse_args()
    tests = [test_contract, test_same_seed_same_inputs,
             test_ingest_check_rejects_planted_errors,
             test_join_checks_reject_planted_errors]
    if not args.quick:
        tests.append(test_metric_names_printed)
    failed = 0
    for t in tests:
        try:
            t()
            print(f"ok   {t.__name__}", flush=True)
        except Exception as exc:  # report every test, then fail
            failed += 1
            print(f"FAIL {t.__name__}: {type(exc).__name__}: {exc}", flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
