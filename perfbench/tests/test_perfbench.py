"""Tests of the benchmark's own code.

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark (one process per case, about half a minute
each); the rest are pure Python.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import datagen  # noqa: E402
import probes  # noqa: E402
import run  # noqa: E402
from spread import quartile_spread  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for name in sorted(files):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


# ------------------------------------------------------------ helpers


def test_percentile_hand_computed():
    # op_p50_s / op_p90_s use numpy.percentile's linear interpolation
    xs = [4.0, 1.0, 3.0, 2.0, 5.0]
    assert np.percentile(xs, 50) == 3.0
    assert np.percentile(xs, 0) == 1.0
    assert np.percentile(xs, 100) == 5.0
    # rank 0.9 * 4 = 3.6 -> 4 + 0.6 * (5 - 4)
    assert np.percentile(xs, 90) == pytest.approx(4.6)
    # rank 0.25 * 3 = 0.75 -> 10 + 0.75 * 10
    assert np.percentile([10.0, 20.0, 30.0, 40.0], 25) == pytest.approx(17.5)
    assert np.percentile([7.0], 90) == 7.0


def test_quartile_spread_hand_computed():
    # statistics.quantiles (exclusive) of 1..9: Q1 = 2.5, median 5, Q3 = 7.5
    assert quartile_spread([float(x) for x in range(1, 10)]) == pytest.approx(1.0)
    # 10 values 10..19: Q1 = 11.75, median 14.5, Q3 = 17.25
    assert quartile_spread([float(x) for x in range(10, 20)]) == pytest.approx(5.5 / 14.5)
    assert quartile_spread([2.0] * 10) == 0.0


def test_mismatch_is_order_insensitive():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    b = pd.DataFrame({"v": [2.5, 0.5, 1.5], "k": [3, 1, 2]})
    assert checks.mismatch(a, b) is None
    assert checks.digest(a) == checks.digest(b)
    c = b.assign(v=[2.5, 0.5, 1.6])
    assert "column v" in checks.mismatch(a, c)
    assert checks.digest(a) != checks.digest(c)
    assert "row count" in checks.mismatch(a, a.head(2))


def test_float_rounding_flip_tolerated_once():
    x = pd.DataFrame({"v": [7442423.61, 0.1235, 42.5, 1.0 / 3.0]})
    # last-decimal flips after a differently ordered sum
    y = pd.DataFrame({"v": [7442423.6, 0.1234, 42.5, 1.0 / 3.0 + 1e-12]})
    assert checks.mismatch(x, y) is None
    assert checks.mismatch(x, y.assign(v=[7442423.59, 0.1234, 42.5, 1.0 / 3.0])) is not None
    assert checks.mismatch(x, y.assign(v=[7442423.6, 0.1234, 42.6, 1.0 / 3.0])) is not None
    assert checks.mismatch(x, y.assign(v=[7442423.6, 0.1234, 42.5, 0.3334])) is not None


def test_call_timer_keeps_exclusive_time():
    class Box:
        @staticmethod
        def inner():
            time.sleep(0.05)

        @staticmethod
        def outer():
            time.sleep(0.05)
            Box.inner()

    timer = probes.CallTimer()
    with timer.patched({"outer": (Box, "outer"), "inner": (Box, "inner")}):
        Box.outer()
    assert timer.calls == {"outer": 1, "inner": 1}
    assert 0.04 < timer.seconds["outer"] < 0.09
    assert 0.04 < timer.seconds["inner"] < 0.09
    assert Box.outer.__name__ == "outer"  # unpatched again


# ----------------------------------------------------------- generators


def test_tables_deterministic_per_seed():
    a = datagen.make_tables(0.001, 7)
    b = datagen.make_tables(0.001, 7)
    c = datagen.make_tables(0.001, 8)
    assert set(a) == set(datagen.TABLES)
    for name in a:
        assert a[name].equals(b[name]), name
        assert a[name].num_rows == c[name].num_rows, name
    for name in ("orders", "lineitem", "events", "documents", "embeddings"):
        assert not a[name].equals(c[name]), name
    subset = datagen.make_tables(0.001, 7, names=["documents"])
    assert subset["documents"].equals(a["documents"])


def test_landing_zone_deterministic_per_seed(tmp_path):
    digests = []
    for i, seed in enumerate((3, 3, 4)):
        root = str(tmp_path / f"z{i}")
        tables = datagen.make_tables(0.001, seed, names=["part", "supplier", "orders", "lineitem"])
        manifest = datagen.write_landing_zone(root, tables, seed)
        digests.append(_tree_digest(root))
        assert sorted(os.listdir(root)) == ["catalogo", "configuration", "pedidos", "ventas"]
        assert manifest["counts"] == {
            "ventas.granja_0": 6000,
            "pedidos.orders_0": 1500,
            "catalogo.maestro_part": 200,
            "catalogo.maestro_supplier": 10,
        }
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


def test_landing_csv_shape(tmp_path):
    tables = datagen.make_tables(0.001, 1, names=["part", "supplier", "orders", "lineitem"])
    datagen.write_landing_zone(str(tmp_path), tables, 1)
    lines = (tmp_path / "ventas" / "granja_0.csv").read_text().splitlines()
    sales = [ln for ln in lines if " Venta Animales: " in ln]
    sentinel = next(i for i, ln in enumerate(lines) if ln.startswith("RECRIASIN"))
    assert len([ln for ln in lines[:sentinel] if " Venta " in ln]) == 6000
    assert len(sales) == 6001  # one sale line after the sentinel
    assert sentinel == len(lines) - 2


# ------------------------------------------------------------- contract


def test_benchmark_json_matches_runner():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in spec["workloads"]] == ["query_mix", "landing_ingest"]
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert any(m["name"] == "setup_s" for m in spec["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_exits_nonzero_without_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["query_mix", "landing_ingest"])
def test_smoke_prints_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stderr[-3000:]
    assert result["attempted"] >= 1
    spec = _spec()
    names = spec["per_layer"] if trace else spec["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in names}
    for m in names:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    work = os.path.join(ROOT, ".perfbench_work")
    left = os.listdir(work) if os.path.isdir(work) else []
    assert not [d for d in left if d.startswith(f"{workload}-3-")]
