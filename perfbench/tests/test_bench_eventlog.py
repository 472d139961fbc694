"""The event-log rollup on a small recorded log.

``data/eventlog_small.jsonl`` holds two application logs of a
``local[2]`` session, trimmed to the fields the rollup reads: q260 (a
three-batch stream) and q01 followed by a parquet write, each tagged
pass "1" with a build and an action phase, after an untagged
``range().count()`` (two jobs) in each application.  Job, stage and SQL
execution ids restart in the second application.
"""

import json
import os

import pytest

from eventlog import TAG_KEYS, rollup

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")
Q260, Q01 = "q260_stream_agg_view", "q01_pricing_summary"
FILES_WRITTEN = 1  # q01's parquet write: one file (one partition)
STREAM_ROWS = 1892 + 2078 + 2030  # numInputRows of q260's three batches


@pytest.fixture(scope="module")
def events():
    with open(LOG) as f:
        return [json.loads(line) for line in f]


@pytest.fixture(scope="module")
def r(events):
    return rollup(events)


def test_every_tagged_job_lands_on_its_tag(events, r):
    expected = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart" and TAG_KEYS[0] in e["Properties"]:
            tag = tuple(e["Properties"][k] for k in TAG_KEYS)
            expected[tag] = expected.get(tag, 0) + 1
    assert {t: s.jobs for t, s in r.phases.items()} == expected
    assert set(expected) == {("1", q, ph) for q in (Q260, Q01) for ph in ("build", "action")}
    assert r.untagged_jobs == 4
    for s in r.phases.values():
        assert len(s.job_intervals) == s.jobs
        assert all(a <= b for a, b in s.job_intervals)


def test_tasks_and_metrics_roll_up(events, r):
    tagged = sum(s.tasks for s in r.phases.values())
    total = sum(e["Event"] == "SparkListenerTaskEnd" for e in events)
    assert 0 < tagged < total  # the untagged jobs' tasks are left out
    action = r.pass_phase("1", "action")
    assert action.tasks == r.stats(("1", Q260, "action")).tasks + r.stats(("1", Q01, "action")).tasks
    assert action.task_s > 0 and action.cpu_s > 0 and action.input_bytes > 0
    assert all(s.failed_tasks == 0 for s in r.phases.values())


def test_written_files_and_bytes_come_from_the_write(r):
    q01 = r.stats(("1", Q01, "action"))
    assert q01.files_written == FILES_WRITTEN
    assert q01.output_bytes > 0
    assert r.stats(("1", Q01, "build")).files_written == 0


def test_stream_batches_follow_the_stream_jobs(r):
    batches = r.batches[("1", Q260)]
    assert len(batches) == 3
    assert sum(rows for _ms, rows in batches) == STREAM_ROWS
    assert ("1", Q01) not in r.batches
