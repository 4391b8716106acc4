"""Unit tests of the event-log parser and the per-layer rollup.

``data/tiny_eventlog.jsonl`` is a trimmed Spark 4.1 event log of three
actions: a parquet write under job group ``pb-span-1``, a parquet read
through a pandas UDF under ``pb-span-2``, and an ungrouped collect.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from sgbench import eventlog, layers  # noqa: E402
from sgbench.spans import GROUP_PREFIX, Span, span_of_group  # noqa: E402
from sgbench.workloads import PassResult  # noqa: E402

LOG = Path(__file__).parent / "data" / "tiny_eventlog.jsonl"


@pytest.fixture(scope="module")
def parsed():
    return eventlog.parse(LOG)


def test_jobs_carry_group_execution_and_times(parsed):
    jobs = parsed
    assert [j.job_id for j in jobs] == [0, 1, 2, 3, 4]
    assert [j.group for j in jobs] == ["pb-span-1"] + ["pb-span-2"] * 3 + [None]
    assert [j.execution for j in jobs] == [0, None, 1, 1, 2]
    assert all(j.end_s > j.submit_s for j in jobs)


def test_write_metrics_map_through_spark_plan_info(parsed):
    write = parsed[0].metrics
    assert write["serde.files_written"] == 2
    assert write["serde.bytes_written"] == 2379
    assert write["spark.tasks"] == 2 and write["spark.stages"] == 1


def test_scan_and_python_metrics(parsed):
    scan = parsed[2].metrics
    # files and bytes read are driver-side metrics of the scan node
    assert scan["sources.files_read"] == 2
    assert scan["sources.bytes_read"] == 2379
    assert scan["sources.rows_read"] == 200
    assert scan["python.bytes_out"] > 0 and scan["python.bytes_in"] > 0
    assert scan["python.worker_s"] > 0
    assert scan["spark.shuffle_bytes"] > 0
    assert scan["spark.exec_cpu_s"] < scan["spark.exec_run_s"]
    assert scan["spark.failed_tasks"] == 0


def test_union_of_intervals():
    assert eventlog.union_s([]) == 0
    assert eventlog.union_s([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert eventlog.union_s([(3, 4), (0, 1)]) == pytest.approx(2.0)


def test_span_of_group():
    assert span_of_group(f"{GROUP_PREFIX}17") == 17
    assert span_of_group(None) is None
    assert span_of_group("someone-elses-group") is None


def test_rollup_attributes_jobs_to_innermost_span(parsed):
    jobs = parsed
    t0, t_end = jobs[0].submit_s - 1, jobs[-1].end_s + 1
    spans = [
        # op 1 covers the write; its child (span 2) covers the UDF read
        Span(1, "op.demo", "op", None, 1, t0, jobs[1].submit_s - 0.01),
        Span(2, "dedup.near_dup_pairs", "dedup", None, 2, jobs[1].submit_s - 0.01, t_end),
        Span(3, "text.tokens", "text", 2, 2, jobs[1].submit_s - 0.005, jobs[1].submit_s),
    ]
    passes = [PassResult(t_end - t0, t0, t_end, 1.0)]
    out = layers.rollup(spans, jobs, passes, [], 2.5, 1.1, {})
    assert out["session.start_s"] == 2.5 and out["trace.overhead"] == 1.1
    assert out["spark.jobs"] == 5
    # jobs 1-3 are grouped to span 2 (dedup); the ungrouped job 4 lands
    # in the root span whose window holds it, which is span 2 as well
    assert out["dedup.jobs"] == 4
    assert out["dedup.calls"] == 1 and out["text.calls"] == 1
    assert out["dedup.self_s"] == pytest.approx(
        (spans[1].end - spans[1].start) - (spans[2].end - spans[2].start))
    assert out["python.bytes_out"] == jobs[2].metrics["python.bytes_out"]
    assert set(out) == {m["name"] for m in layers.PER_LAYER}
