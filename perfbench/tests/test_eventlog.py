import json
import os

import pytest

from perfbench import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def log():
    return eventlog.parse_file(LOG)


def test_jobs_carry_trace_labels(log):
    labels = {j: (job.label, job.trace) for j, job in log.jobs.items()}
    assert labels[96] == (None, None)          # untraced pass
    assert labels[107] == ("signatures", "p2")
    assert labels[128] == ("verify", "p2")
    assert all(job.succeeded for job in log.jobs.values())


def test_by_label_aggregates_tasks_of_traced_jobs(log):
    agg = eventlog.by_label(log, {"p2"})
    assert set(agg) == {"signatures", "verify", "pipeline"}
    sig = agg["signatures"]
    assert sig["jobs"] == 3 and sig["stages"] == 3 and sig["tasks"] == 25
    assert sig["task_s"] == pytest.approx(3.314)
    assert sig["shuffle_write_mb"] == pytest.approx(0.000708)
    assert agg["verify"]["task_s"] == pytest.approx(4.894)
    # skew of the dominant stage: max / median task run time
    assert agg["pipeline"]["task_skew"] == pytest.approx(6 / 1.5)
    assert eventlog.by_label(log, {"p9"}) == {}


def test_udf_evaluations_skip_stages_reading_a_cache(log):
    agg = eventlog.by_label(log, {"p2"})
    # stage 247 computes the Arrow map into the cache; stage 249 lists the
    # map in its lineage but reads the cached rows
    assert "MapInArrow" in log.stages[247].scopes
    assert "MapInArrow" not in log.stages[249].scopes
    assert agg["signatures"]["sig_evals"] == 1
    assert "ArrowEvalPython" in log.stages[304].scopes
    assert agg["verify"]["sig_evals"] == 0


def test_stage_skew_of_single_task_is_one():
    st = eventlog.Stage(1, {}, tasks=[eventlog.Task(5, 0, 0, False)])
    assert eventlog.stage_skew(st) == 1.0


def test_by_batch_counts_jobs_and_arrow_maps_per_micro_batch():
    rdd = lambda i, scope: {"RDD ID": i, "Scope": json.dumps({"name": scope}),
                            "Parent IDs": []}
    batch = lambda b: {eventlog.BATCH_PROP: str(b)}
    lines = [json.dumps(e) for e in (
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Properties": batch(1)},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Properties": batch(1)},
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Properties": batch(2)},
        {"Event": "SparkListenerJobStart", "Job ID": 4, "Properties": {}},
        {"Event": "SparkListenerStageSubmitted", "Properties": batch(1),
         "Stage Info": {"Stage ID": 1, "RDD Info": [rdd(1, "MapInArrow")]}},
        {"Event": "SparkListenerStageSubmitted", "Properties": batch(1),
         "Stage Info": {"Stage ID": 2, "RDD Info": [rdd(2, "Exchange")]}},
    )]
    got = eventlog.by_batch(eventlog.parse_lines(lines))
    assert got == {1: {"jobs": 2, "sig_evals": 1},
                   2: {"jobs": 1, "sig_evals": 0}}
