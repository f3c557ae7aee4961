"""Event-log reader on a small captured log.

``data/eventlog_sample.jsonl`` is a real Spark 4.1 event log of two tagged
query runs at ``local[2]``: ``q1_pricing_summary`` (12 batch jobs, one of
them with a skipped stage) and ``stream_events_hourly``, whose micro-batch
job carries the stream's run id as its job group instead of the query tag.
It is trimmed to job, stage and task events, with bulky fields the reader
ignores removed. The expected totals were summed from the file separately.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402

SAMPLE = os.path.join(HERE, "data", "eventlog_sample.jsonl")
SPANS = [
    eventlog.Span("q1_pricing_summary@p0", 1792194856570.06, 1792194865961.68),
    eventlog.Span("stream_events_hourly@p0", 1792194865962.42, 1792194870140.15),
]


def _log() -> eventlog.Log:
    with open(SAMPLE, encoding="utf-8") as fh:
        return eventlog.parse(fh)


def test_parse_counts_jobs_stages_tasks():
    log = _log()
    assert len(log.jobs) == 14
    # Stage 11 is listed by job 11 but never submitted: its shuffle output
    # was reused.
    assert log.stages == set(range(16)) - {11}
    assert sum(log.stage_tasks.values()) == 23
    assert len(log.task_spans) == 23


def test_streaming_jobs_fall_back_to_the_time_window():
    jobs = eventlog.attribute(_log(), SPANS)
    assert sorted(j.job_id for j in jobs["q1_pricing_summary@p0"]) == list(range(12))
    stream = sorted(jobs["stream_events_hourly@p0"], key=lambda j: j.job_id)
    assert [j.job_id for j in stream] == [12, 13]
    assert stream[0].group not in {s.tag for s in SPANS}  # run id, not the tag


def test_job_totals_skip_unsubmitted_and_shared_stages():
    log = _log()
    jobs = eventlog.attribute(log, SPANS)
    seen: set[int] = set()
    q1 = eventlog.job_totals(log, jobs["q1_pricing_summary@p0"], seen)
    assert (q1["jobs"], q1["stages"], q1["tasks"]) == (12, 12, 12)
    assert q1["run_ms"] == 1805
    assert q1["shuffle_write_bytes"] == 561
    assert q1["input_bytes"] == 2372
    st = eventlog.job_totals(log, jobs["stream_events_hourly@p0"], seen)
    assert (st["jobs"], st["stages"], st["tasks"]) == (2, 3, 11)
    assert st["run_ms"] == 2786
    assert st["shuffle_write_bytes"] == 23429
    assert st["input_bytes"] == 1310
    # Counting the same jobs again adds no stage twice.
    again = eventlog.job_totals(log, jobs["stream_events_hourly@p0"], seen)
    assert (again["jobs"], again["stages"], again["tasks"]) == (2, 0, 0)


def test_jobs_outside_every_span_are_left_out():
    late = [eventlog.Span("only", 0, 1792194859000)]
    jobs = eventlog.attribute(_log(), late)
    assert [j.job_id for j in jobs["only"]] == [0]


def test_busy_ms_merges_overlaps_and_clips():
    spans = [(0, 10), (5, 20), (30, 40), (45, 100)]
    assert eventlog.busy_ms(spans, 0, 50) == 20 + 10 + 5
    assert eventlog.busy_ms(spans, 21, 29) == 0
    assert eventlog.busy_ms([], 0, 10) == 0


def test_log_files_reads_the_rolling_directory(tmp_path):
    app = "local-1"
    roll = tmp_path / f"eventlog_v2_{app}"
    roll.mkdir()
    for n in (10, 2, 1):
        (roll / f"events_{n}_{app}").write_text("")
    (roll / f"appstatus_{app}").write_text("")
    names = [os.path.basename(p) for p in eventlog.log_files(str(tmp_path), app)]
    assert names == [f"events_{n}_{app}" for n in (1, 2, 10)]
