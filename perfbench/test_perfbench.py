"""Tests of the benchmark itself: input generation, metric names and units,
and the span schema. Run from the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest

import inputs
import measure
import run
from tests.conftest import SF_DIR as SMALL_SRC

HERE = os.path.dirname(os.path.abspath(__file__))
needs_src = pytest.mark.skipif(not os.path.isdir(SMALL_SRC), reason="no source tables")


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _ids(root: str, table: str, col: str) -> list:
    parts = sorted(os.listdir(os.path.join(root, f"{table}.parquet")))
    return [
        [v.as_py() for v in pq.read_table(os.path.join(root, f"{table}.parquet", p))[col]]
        for p in parts
    ]


@needs_src
def test_same_seed_gives_byte_identical_inputs(tmp_path):
    tables = ("customer", "documents")
    a = inputs.generate(str(tmp_path / "a"), 7, tables, replicas=2, src=SMALL_SRC)
    b = inputs.generate(str(tmp_path / "b"), 7, tables, replicas=2, src=SMALL_SRC)
    assert a == b
    assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b"))


@needs_src
def test_other_seed_permutes_and_splits_the_same_rows(tmp_path):
    a = inputs.generate(str(tmp_path / "a"), 1, ("customer",), src=SMALL_SRC)
    b = inputs.generate(str(tmp_path / "b"), 2, ("customer",), src=SMALL_SRC)
    assert a["customer"]["rows"] == b["customer"]["rows"]
    ia = _ids(str(tmp_path / "a"), "customer", "c_custkey")
    ib = _ids(str(tmp_path / "b"), "customer", "c_custkey")
    assert sorted(sum(ia, [])) == sorted(sum(ib, []))
    assert sum(ia, []) != sum(ib, [])
    assert [len(p) for p in ia] != [len(p) for p in ib]


@needs_src
def test_replicas_shift_keys_into_disjoint_spaces(tmp_path):
    sizes = inputs.generate(str(tmp_path), 1, ("documents",), replicas=3, src=SMALL_SRC)
    ids = sum(_ids(str(tmp_path), "documents", "doc_id"), [])
    src_rows = pq.read_metadata(os.path.join(SMALL_SRC, "documents.parquet")).num_rows
    assert sizes["documents"]["rows"] == len(ids) == 3 * src_rows
    assert len(set(ids)) == len(ids)
    assert {i // inputs.SHIFT for i in ids} == {0, 1, 2}


def test_generated_directory_is_removed_on_exit(tmp_path, monkeypatch):
    class Failing:
        record: dict = {}

        def __init__(self, *args):
            self.work = args[-1]
            os.makedirs(os.path.join(self.work, "data"))

        def execute(self):
            raise RuntimeError("boom")

        def close(self):
            pass

    monkeypatch.chdir(tmp_path)
    monkeypatch.setattr(run, "Run", Failing)
    rc = run.main(["--workload", "curation_decode", "--seed", "1", "--seconds", "1"])
    assert rc == 1
    assert os.listdir(tmp_path / ".perfbench") == []


# --- metric names and units ------------------------------------------------

#: every metric the benchmark's definition names, with its unit
E2E = {"setup_s": "s", "wall_s": "s", "throughput_mb_s": "MB/s", "peak_rss_mb": "MB"}
LAYER = [
    "session.start_s", "registry.load_s", "llmops.fixture_stage_s",
    "sources.input_bytes", "sources.scan_tasks",
    "llmops.python_s", "llmops.python_bytes",
    "plans.validate_s", "plans.run_s", "plans.output_bytes",
    "streaming.batches", "streaming.state_rows", "trace.overhead_s",
] + [
    f"{layer}.{c}" for layer in ("operators", "llmops") for c in (
        "build_s", "build_jobs", "action_s", "jobs", "stages", "tasks",
        "executor_run_ms", "executor_cpu_ms", "gc_ms",
        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    )
] + [
    f"streaming.{p}_ms" for p in (
        "latestOffset", "queryPlanning", "addBatch", "walCommit",
        "commitOffsets", "triggerExecution",
    )
] + [f"{layer}.self_s" for layer in ("session", "registry", "operators", "llmops", "plans", "streaming")]


def _bench() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_every_named_metric_is_reported_with_its_unit():
    assert run.E2E_UNITS == E2E
    assert set(LAYER) <= set(run.LAYER_UNITS)
    assert run.LAYER_UNITS["trace.overhead_s"] == "s"


def test_benchmark_json_matches_what_the_run_reports():
    bench = _bench()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.LAYER_UNITS
    from workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


# --- spans -------------------------------------------------------------------


def test_span_schema_and_nesting():
    t = measure.Tracer("r1", enabled=True)
    with t.span("pass", "perfbench"):
        with t.span("k", "operators") as s:
            with t.span("k.build", "operators"):
                pass
            s["counters"]["jobs"] = 3
    assert [set(s) for s in t.spans] == [
        {"id", "name", "layer", "parent", "run_id", "start", "end", "counters"}
    ] * 3
    assert [s["parent"] for s in t.spans] == [None, 0, 1]
    assert all(s["run_id"] == "r1" and s["end"] >= s["start"] for s in t.spans)
    assert t.spans[1]["counters"] == {"jobs": 3}


def test_disabled_tracer_records_nothing():
    t = measure.Tracer("r1", enabled=False)
    with t.span("pass", "perfbench") as s:
        assert s is None
    assert t.spans == []


def test_self_time_subtracts_covered_child_intervals():
    spans = [
        {"id": 0, "parent": None, "layer": "a", "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "layer": "b", "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "layer": "b", "start": 3.0, "end": 6.0},
        {"id": 3, "parent": 1, "layer": "c", "start": 2.0, "end": 3.0},
    ]
    assert measure.self_times(spans) == pytest.approx({"a": 5.0, "b": 5.0, "c": 1.0})


def test_parse_size_reads_spark_size_metrics():
    assert measure.parse_size("1.5 KiB") == 1536
    assert measure.parse_size("total (min, med, max (stageId: taskId))\n2.0 MiB (1 B, 2 B)") == 2 * 2**20
