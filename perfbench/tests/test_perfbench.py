"""Tests of the benchmark itself: seeded inputs, span arithmetic, the
event-log parser, and one run of each workload.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import subprocess
import sys
import tempfile
from pathlib import Path

import pytest

from perfbench import workloads
from perfbench.layers import layer_metrics, report
from perfbench.trace import Span, covered, driver_time, parse_event_log, self_time, subtree

ROOT = Path(__file__).resolve().parents[2]
FIXTURE = Path(__file__).with_name("eventlog_fixture.jsonl")


@pytest.fixture
def workdir():
    """A temporary directory inside the benchmark's ignored work area."""
    work = ROOT / "perfbench" / "work"
    work.mkdir(parents=True, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=work) as d:
        yield Path(d)


# ---------------------------------------------------------------------------
# seeded inputs
# ---------------------------------------------------------------------------

def test_corpus_is_deterministic_per_seed():
    from pdf_extraction_spark.sources.corpus import generate_corpus

    a, b, c = (generate_corpus(40, s) for s in (5, 5, 6))
    assert a == b
    assert [r["html"] for r in a] != [r["html"] for r in c]


def test_delta_plan_is_deterministic_and_alternates():
    from pdf_extraction_spark.sources.corpus import host_of

    ids0, seed0 = workloads.delta_plan(9, 400, 0)
    ids1, seed1 = workloads.delta_plan(9, 400, 1)
    assert (ids0, seed0) == workloads.delta_plan(9, 400, 0)
    assert ids0 == ids1 and len(ids0) == workloads.DELTA_DOCS
    assert min(ids0) >= workloads.EDGE_CASE_IDS
    assert len({host_of(i) for i in ids0}) == 1
    assert seed0 != 9 and seed1 == 9  # every other refresh restores the base
    assert workloads.delta_plan(10, 400, 0)[0] != ids0


def test_search_terms_probes_and_query_order_are_seeded():
    from pdf_extraction_spark.sources.corpus import WORDS

    terms = workloads.search_terms(4)
    assert terms == workloads.search_terms(4) != workloads.search_terms(5)
    assert all(len(t.split(" ")) == 3 and set(t.split(" ")) <= set(WORDS) for t in terms)
    assert workloads.probe_ranks(4) == workloads.probe_ranks(4) != workloads.probe_ranks(5)
    order = workloads.query_order(4)
    assert order == workloads.query_order(4) != workloads.query_order(5)
    assert sorted(order) == sorted(workloads.QUERIES) and len(order) == 15


def test_analytics_tables_are_present():
    import pyarrow.parquet as pq

    for t in workloads.ANALYTICS_TABLES:
        assert pq.ParquetFile(f"{workloads.ANALYTICS_DATA}/{t}.parquet").metadata.num_rows > 0


# ---------------------------------------------------------------------------
# span arithmetic
# ---------------------------------------------------------------------------

SPANS = [
    Span(1, "extract", 2.0, 5.0, 0),
    Span(2, "chunk", 4.0, 7.0, 0),  # overlaps its sibling: counted once
    Span(3, "inner", 4.5, 5.5, 2),
    Span(0, "cycle", 0.0, 10.0, None),
    Span(4, "other", 20.0, 21.0, None),
]


def test_covered_merges_and_clips():
    assert covered([], 0, 1) == 0
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4.0)
    assert covered([(-5, 2), (8, 15)], 0, 10) == pytest.approx(4.0)
    assert covered([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_direct_children_only():
    cycle = SPANS[3]
    assert self_time(SPANS, cycle) == pytest.approx(10.0 - 5.0)  # children cover [2, 7]
    assert self_time(SPANS, SPANS[1]) == pytest.approx(2.0)  # [4, 7] minus [4.5, 5.5]
    assert {s.id for s in subtree(SPANS, cycle)} == {0, 1, 2, 3}


def test_driver_time_is_wall_without_jobs():
    jobs = [(1.0, 3.0), (2.5, 4.0), (9.0, 12.0)]
    assert driver_time(SPANS[3], jobs) == pytest.approx(10.0 - 3.0 - 1.0)
    assert driver_time(SPANS[4], jobs) == pytest.approx(1.0)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def test_event_log_parser_on_fixture():
    with open(FIXTURE) as fh:
        log = parse_event_log(fh)
    assert log.job_intervals() == [(1000.0, 1003.0), (1004.0, 1006.0), (1007.0, 1007.5)]
    assert log.jobs_of(0) == 1 and log.jobs_of(1) == 1
    assert log.jobs[1]["ok"] is False
    cyc = log.by_span[0]
    assert (cyc.tasks, cyc.failed, cyc.empty) == (2, 0, 1)
    assert cyc.cpu_s == pytest.approx(3.0) and cyc.run_s == pytest.approx(4.0)
    assert cyc.gc_s == pytest.approx(0.1) and cyc.shuffle_write_bytes == 500
    assert cyc.python_run_s == pytest.approx(1.5)
    assert (cyc.python_bytes_sent, cyc.python_bytes_returned) == (1000, 400)
    ext = log.by_span[1]
    assert (ext.tasks, ext.failed, ext.empty) == (1, 1, 0)
    assert (ext.output_bytes, ext.rows_out) == (2048, 7)
    assert log.unattributed.tasks == 1


def test_layer_metrics_and_report_on_fixture():
    with open(FIXTURE) as fh:
        log = parse_event_log(fh)
    spans = [Span(1, "extract", 1003.5, 1006.5, 0), Span(0, "cycle", 999.5, 1008.0, None)]
    m = {k: v for k, (v, _) in layer_metrics(spans, log).items()}
    assert m["jobs"] == 2 and m["tasks"] == 3
    assert m["task_cpu_s"] == pytest.approx(3.5)
    assert m["driver_s"] == pytest.approx(8.5 - 5.5)
    assert m["span_cover_frac"] == pytest.approx(3.0 / 8.5)
    assert m["empty_task_frac"] == pytest.approx(1 / 3)
    assert m["traced_cycle_s"] == pytest.approx(8.5)
    table = report(spans, log)
    assert table["cycle"]["self_s"] == pytest.approx(5.5)
    assert table["cycle/extract"]["driver_s"] == pytest.approx(1.0)
    assert table["cycle/extract"]["tasks_failed"] == 1
    assert table["session"]["jobs"] == 3 and table["session"]["tasks"] == 4
    assert table["stage_store"]["commit_driver_s"] == pytest.approx(1.0)  # extract commits
    assert table["stage_store"]["output_bytes"] == 2048
    assert table["stage_store"]["upsert_wall_s"] == 0


# ---------------------------------------------------------------------------
# runs of the real command
# ---------------------------------------------------------------------------

@pytest.mark.slow
@pytest.mark.parametrize("workload,trace", [("ingest", 1), ("analytics", 0)])
def test_run_passes_its_checks(workload, trace):
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "0",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    result = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, res.stderr[-2000:]
    assert result["attempted"] > 0
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = bench["per_layer" if trace else "end_to_end"]
    assert sorted(result["metrics"]) == sorted(m["name"] for m in wanted)


def test_refuses_to_run_without_the_package(workdir):
    (workdir / "perfbench").mkdir()
    for f in (ROOT / "perfbench").glob("*.py"):
        (workdir / "perfbench" / f.name).write_text(f.read_text())
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest", "--seed", "0",
         "--seconds", "1", "--trace", "0"],
        cwd=workdir, capture_output=True, text=True, timeout=60,
    )
    assert res.returncode != 0 and not res.stdout.strip()
