"""Self-check of the event-log parser and the span arithmetic.

`fixtures/eventlog_sample.jsonl` is an excerpt of a real traced run's event
log (one `run_pipeline` op over a 200-file corpus at local[4]): the job
start and task end events of every job group, with the fields the
parser reads. The expected numbers were summed from the file by hand
(jq), independently of `eventlog.py`.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import eventlog  # noqa: E402
from perfbench.tracing import self_seconds, union_seconds  # noqa: E402

SAMPLE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "eventlog_sample.jsonl")

EXPECTED_JOBS = {
    "t0|stage:10_extract": 2,
    "t0|stage:20_link": 10,
    "t0|stage:30_canonicalize": 8,
    "t0|stage:40_canon_edges": 4,
    "t0|stage:50_nodes": 3,
    "t0|stage:70_rel_entities": 7,
    "t0|stage:70_rel_entity_mentions": 2,
    "t0|stage:70_rel_numerical_facts": 2,
    "t0|stage:70_rel_descriptions": 2,
}
EXPECTED_GROUPS = set(EXPECTED_JOBS)
EXTRACT_TASKS = 5
EXTRACT_PY_RUN_MS = 1844
EXTRACT_PY_SENT = 471248
EXTRACT_OUTPUT_BYTES = 405054
CANON_SHUFFLE_WRITE = 532080
CANON_SHUFFLE_READ = 532080


def groups():
    return eventlog.parse_file(SAMPLE)


def test_jobs_are_attributed_to_their_groups():
    g = groups()
    assert {k for k in g if k} == EXPECTED_GROUPS
    for name, jobs in EXPECTED_JOBS.items():
        assert g[name].jobs == jobs, name


def test_pool_thread_stages_keep_their_own_group():
    # 50_nodes and 70_rel_* run on the pipeline's thread pool
    g = groups()
    assert g["t0|stage:50_nodes"].jobs > 0
    assert all(g[f"t0|stage:{s}"].tasks > 0 for s in (
        "70_rel_entities", "70_rel_entity_mentions",
        "70_rel_numerical_facts", "70_rel_descriptions"))


def test_extract_python_and_io_totals():
    ex = groups()["t0|stage:10_extract"]
    assert ex.sql_metrics[eventlog.PY_RUN_MS] == EXTRACT_PY_RUN_MS
    assert ex.sql_metrics[eventlog.PY_SENT_BYTES] == EXTRACT_PY_SENT
    assert ex.output_bytes == EXTRACT_OUTPUT_BYTES
    assert ex.tasks == EXTRACT_TASKS


def test_shuffle_totals_and_sum():
    g = groups()
    canon = g["t0|stage:40_canon_edges"]
    assert canon.shuffle_write_bytes == CANON_SHUFFLE_WRITE
    assert canon.shuffle_read_bytes == CANON_SHUFFLE_READ
    both = eventlog.total(g, ["t0|stage:40_canon_edges", "t0|stage:10_extract", "absent"])
    assert both.jobs == canon.jobs + g["t0|stage:10_extract"].jobs
    assert both.shuffle_write_bytes == CANON_SHUFFLE_WRITE + g["t0|stage:10_extract"].shuffle_write_bytes


def test_task_skew_uses_the_busiest_stage():
    s = eventlog.GroupStats()
    s.stage_task_ms[1] = [10, 10, 10]          # 30 ms of task time
    s.stage_task_ms[2] = [100, 100, 100, 400]  # busiest: max 400 / median 100
    assert s.task_skew() == 4.0
    assert eventlog.GroupStats().task_skew() == 0.0


def test_parse_skips_blank_lines_and_unknown_events():
    lines = ['{"Event": "SparkListenerLogStart"}', "", '{"Event": "SparkListenerJobStart", '
             '"Job ID": 0, "Stage IDs": [3], "Properties": {"spark.jobGroup.id": "op|op:op"}}']
    g = eventlog.parse(lines)
    assert g["op|op:op"].jobs == 1


def test_shared_stage_tasks_go_to_the_first_job_group():
    lines = [
        '{"Event": "SparkListenerJobStart", "Stage IDs": [3], "Properties": {"spark.jobGroup.id": "a"}}',
        '{"Event": "SparkListenerJobStart", "Stage IDs": [3, 4], "Properties": {"spark.jobGroup.id": "b"}}',
        '{"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Info": {}, "Task Metrics": {}}',
    ]
    g = eventlog.parse(lines)
    assert (g["a"].tasks, g["b"].tasks) == (1, 0)


def test_span_arithmetic():
    assert union_seconds([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_seconds([]) == 0
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},
        {"id": 3, "parent": 1, "start": 1.0, "end": 2.0},
    ]
    assert self_seconds(spans[0], spans) == 5.0
    assert self_seconds(spans[1], spans) == 2.0

