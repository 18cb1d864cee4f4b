"""The event-log parser's per-layer numbers, pinned on a small real log.

``fixtures/eventlog.jsonl`` is a trimmed Spark event log of two queries run
under the benchmark's spans (``fixtures/spans.json``): ``q1_pricing_summary``
(one ``load_table`` job, two action jobs, one of them with a skipped stage)
and ``streaming_word_counts`` (one micro-batch job under the stream's own
job group, then one action job).
"""

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402


@pytest.fixture(scope="module")
def parsed():
    with open(os.path.join(HERE, "fixtures", "eventlog.jsonl")) as f:
        log = eventlog.parse(f)
    with open(os.path.join(HERE, "fixtures", "spans.json")) as f:
        raw = json.load(f)
    spans = [eventlog.Span(**s) for s in raw["spans"]]
    return log, spans, raw["start_ms"], raw["end_ms"]


def test_jobs_follow_their_group_or_interval(parsed):
    log, spans, _, _ = parsed
    owner = eventlog.attribute(log, spans)
    assert {j: (s.qid, s.name) for j, s in owner.items()} == {
        0: ("fx.0", "sources.load_table"),
        1: ("fx.0", "execute.action"),
        2: ("fx.0", "execute.action"),
        # the micro-batch runs under the stream's group, inside the build
        3: ("fx.1", "operators.build"),
        4: ("fx.1", "execute.action"),
    }


def test_layer_metrics_pinned(parsed):
    log, spans, start, end = parsed
    m = eventlog.layer_metrics(log, spans, start, end)
    assert m["sources.load_table_jobs"] == 1
    assert m["operators.build_jobs"] == 1
    assert m["execute.jobs"] == 3
    # stage 2 of job 2 was skipped: only stages 1, 3 and 6 ran for actions
    assert m["execute.stages"] == 3
    assert m["execute.tasks"] == 4
    assert m["spark.stage_active_s"] == pytest.approx(5.148)
    assert m["spark.outside_stage_s"] == pytest.approx((end - start) / 1000 - 5.148)
    assert m["spark.tasks_per_stage"] == pytest.approx(14 / 6)
    assert m["spark.task_run_s"] == pytest.approx(5.520)
    assert m["spark.task_cpu_s"] == pytest.approx(2.012918756)
    assert m["spark.task_deser_s"] == pytest.approx(0.509)
    assert m["spark.task_gc_s"] == pytest.approx(0.202)
    assert m["spark.shuffle_write_bytes"] == 1556
    assert m["spark.spill_bytes"] == 0


def test_overlapping_stages_count_once():
    assert eventlog._union_s([(0, 1000), (500, 1500), (3000, 3500)]) == pytest.approx(2.0)
