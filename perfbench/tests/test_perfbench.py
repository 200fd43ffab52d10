"""Tests for the benchmark's own logic.

    python3 -m pytest perfbench/tests -q

The smoke runs start Spark in a subprocess per workload (one to three
minutes each on a 4-core host).
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import subprocess
import sys
from contextlib import redirect_stdout

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402
from perfbench.spans import Span, Tracer, covered, self_time, tail_percentile  # noqa: E402


@pytest.mark.parametrize(
    "n, p, rank",
    [
        (1000, 99.0, 990),  # p99.9 has 1 sample beyond it
        (250, 95.0, 238),
        (100, 90.0, 90),
        (50, 80.0, 40),
    ],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, p, rank):
    values = [float(v) for v in range(n, 0, -1)]  # unsorted input
    assert tail_percentile(values) == (p, float(rank))
    assert sum(v > rank for v in values) >= 10


@pytest.mark.parametrize("n", [0, 5, 49])
def test_tail_percentile_refuses_fewer_than_a_p80(n):
    assert tail_percentile([float(v) for v in range(n)]) is None


def _passes(times: list[list[float]]) -> list[dict]:
    return [{"ops": [{"wall_s": t, "failed": False} for t in ts]} for ts in times]


def test_op_tail_falls_back_to_the_slowest_op_of_each_pass():
    passes = _passes([[1.0, 4.0, 2.0, 3.0], [1.0, 2.0, 6.0, 3.0], [5.0, 1.0, 1.0, 1.0]])
    passes[2]["ops"][0]["failed"] = True  # a failed op is not timed
    assert run.op_tail(passes) == (4.0, "slowest op of each pass, median of 3 passes")
    many = _passes([[float(v) for v in range(1, 18)]] * 6)  # 102 ops
    assert run.op_tail(many) == (16.0, "p90 of n=102 warm ops")
    three = _passes([[float(v) for v in range(1, 18)]] * 3)  # 51 ops
    assert run.op_tail(three) == (14.0, "p80 of n=51 warm ops")


def test_report_prints_tail_rule_and_every_metric():
    e2e = {k: 1.5 for k in run.END_TO_END}
    result = {
        "workload": "analytics_staples", "seed": 3, "trace": False,
        "env": {"nproc": 4, "loadavg": [0.1, 0.2, 0.3], "steal_share": 0.0, "spark": "4.1.2", "java": "17"},
        "attempted": 102, "failed": 0, "check_failures": {},
        "op_tail_rule": "p90 of n=102 warm ops", "end_to_end": e2e, "per_layer": {},
    }
    out = io.StringIO()
    with redirect_stdout(out):
        run.report(result)
    lines = out.getvalue().splitlines()
    assert "op_tail_s = 1.5000 s  (p90 of n=102 warm ops)" in lines
    for name, unit in run.END_TO_END.items():
        assert any(line.startswith(f"{name} = ") and f" {unit}" in line for line in lines)
    last = json.loads(lines[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["metrics"]["setup_s"] == {"value": 1.5, "unit": "s"}


def test_self_time_subtracts_the_union_of_children():
    parent = Span("p", 0.0, 10.0, "op", 0)
    spans = [
        parent,
        Span("a", 1.0, 3.0, "op", 1, parent=0),
        Span("b", 2.0, 5.0, "op", 2, parent=0),  # overlaps a: counted once
        Span("c", 8.0, 12.0, "op", 3, parent=0),  # clipped to the parent
        Span("d", 4.0, 9.0, "op", 4, parent=1),  # grandchild: not subtracted
    ]
    assert covered([(1.0, 3.0), (2.0, 5.0), (8.0, 12.0)], 0.0, 10.0) == 6.0
    assert self_time(parent, spans) == 4.0
    assert self_time(spans[1], spans) == 2.0 - 0.0  # d starts after a ends


def test_tracer_nests_spans_and_records_nothing_when_off():
    tr = Tracer(True)
    with tr.span("outer", "op1"):
        with tr.span("inner"):
            pass
    inner, outer = tr.spans
    assert (inner.name, inner.parent, inner.op) == ("inner", outer.span_id, "op1")
    assert outer.parent is None and outer.start <= inner.start <= inner.end <= outer.end
    off = Tracer(False)
    with off.span("x", "op") as s:
        assert s is None
    assert off.spans == []


def _sha(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def test_osm_generator_is_byte_identical_per_seed(tmp_path):
    from osm_airflow_spark.sources.pbf_wire import validated_data_offsets
    from perfbench.gen_osm import write_extracts

    subs = ["a", "b"]
    first = write_extracts(str(tmp_path / "x"), 7, subs, 9000, 2500)
    again = write_extracts(str(tmp_path / "y"), 7, subs, 9000, 2500)
    other = write_extracts(str(tmp_path / "z"), 8, subs, 9000, 2500)
    for s in subs:
        assert _sha(tmp_path / "x" / f"{s}.osm.pbf") == _sha(tmp_path / "y" / f"{s}.osm.pbf")
        assert _sha(tmp_path / "x" / f"{s}.osm.pbf") != _sha(tmp_path / "z" / f"{s}.osm.pbf")
    assert first == again
    # 2 node blobs + 1 way blob per region, ~8k elements per blob
    assert sum(len(validated_data_offsets(str(tmp_path / "x" / f"{s}.osm.pbf"))) for s in subs) == 6
    assert all(0.85 * 2500 < len(ids) < 0.95 * 2500 for ids in first["highway_ids"].values())


def test_table_generator_is_byte_identical_per_seed(tmp_path):
    from osm_airflow_spark.io import TABLES
    from perfbench.gen_tables import write_tables

    a = write_tables(str(tmp_path / "a"), 3, 0.001, 64, 64)
    b = write_tables(str(tmp_path / "b"), 3, 0.001, 64, 64)
    c = write_tables(str(tmp_path / "c"), 4, 0.001, 64, 64)
    for t in TABLES:
        assert _sha(os.path.join(a, f"{t}.parquet")) == _sha(os.path.join(b, f"{t}.parquet"))
    assert _sha(os.path.join(a, "lineitem.parquet")) != _sha(os.path.join(c, "lineitem.parquet"))


def test_benchmark_json_names_the_metrics_the_runner_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


# a small extract keeps the ETL smoke run short
SMOKE = """
import sys
from perfbench import run, workloads
workloads.ETL_NODES, workloads.ETL_WAYS = 9000, 2500
sys.exit(run.main(sys.argv[1:]))
"""


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_run_prints_every_metric_with_its_unit(workload):
    proc = subprocess.run(
        [sys.executable, "-c", SMOKE, "--workload", workload, "--seed", "5", "--seconds", "0", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    for name, unit in {**run.END_TO_END, **run.PER_LAYER}.items():
        assert any(line.startswith(f"{name} = ") and line.split()[3] == unit for line in lines), name
    last = json.loads(lines[-1])
    assert last["correct"] and last["failed"] == 0
    assert {k: v["unit"] for k, v in last["metrics"].items()} == run.PER_LAYER
    layers = {k: v["value"] for k, v in last["metrics"].items()}
    # compile time is a total, never the difference of two samples
    assert layers["codegen.compile_s"] >= 0 and layers["codegen.cold_compile_s"] > 0
