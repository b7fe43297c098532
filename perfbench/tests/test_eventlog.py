"""Pins the event-log fold on a small committed log.

``data/eventlog_small.jsonl`` holds Spark 4.1 listener events: one SQL
execution (plus an adaptive-plan update that adds a Sort metric), stage
completions with their RDD scopes, two jobs
tagged with spans 0 and 1 (span 1 nested in span 0), and one untagged job
whose task must be ignored.  Run with ``python3 -m pytest perfbench/tests``.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
from spans import Span  # noqa: E402

LOG = os.path.join(HERE, "data", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def folded():
    spans = [
        Span(0, "outer", None, 999.5, 1004.0),
        Span(1, "inner", 0, 1002.2, 1003.8),
    ]
    return eventlog.fold(eventlog.read(LOG), spans)


def test_nested_span_owns_its_jobs(folded):
    inner = folded[1]
    assert inner["wall_s"] == pytest.approx(1.6)
    assert inner["self_s"] == pytest.approx(1.6)
    # tasks cover [1002.5, 1003.5] of [1002.2, 1003.8]
    assert inner["driver_s"] == pytest.approx(0.6)
    assert inner["exec_run_s"] == pytest.approx(0.9)
    assert (inner["tasks"], inner["failed_tasks"], inner["retried_tasks"]) == (2, 1, 1)
    assert inner["own_jobs"] == 1
    assert inner["python_init_s"] == pytest.approx(0.15)
    assert inner["python_run_s"] == pytest.approx(0.6)
    assert inner["python_mb"] == pytest.approx(1.5)
    # the failed task updated no metric; its stage's MapInArrow scope
    # still makes it a Python task
    assert inner["class_python_s"] == pytest.approx(0.9)


def test_parent_span_covers_descendants(folded):
    outer = folded[0]
    assert outer["wall_s"] == pytest.approx(4.5)
    assert outer["self_s"] == pytest.approx(2.9)
    # task intervals [1000,1001] [1001.5,1002] [1002.5,1003.5]: 2.5 s busy
    assert outer["driver_s"] == pytest.approx(2.0)
    assert outer["exec_run_s"] == pytest.approx(2.2)  # untagged job excluded
    assert outer["exec_cpu_s"] == pytest.approx(0.5)
    assert outer["gc_s"] == pytest.approx(0.01)
    assert outer["shuffle_write_mb"] == pytest.approx(2.0)
    assert outer["shuffle_read_mb"] == pytest.approx(2.0)
    assert (outer["tasks"], outer["jobs"], outer["own_jobs"]) == (4, 2, 1)


def test_operator_classes_partition_run_time(folded):
    outer = folded[0]
    # scan task (bytes read), window via the AQE-added Sort metric,
    # python via the MapInArrow stage scope
    assert outer["class_scan_s"] == pytest.approx(0.9)
    assert outer["class_window_s"] == pytest.approx(0.4)
    assert outer["class_python_s"] == pytest.approx(0.9)
    assert outer["class_project_s"] == 0.0
    assert outer["class_write_s"] == 0.0
    assert sum(outer[f"class_{c}_s"] for c in eventlog.CLASSES) == pytest.approx(
        outer["exec_run_s"])
