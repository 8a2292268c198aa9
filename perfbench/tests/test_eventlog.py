"""The event-log parser and span self-times, on a checked-in log of five
jobs: three tagged with job group 7 (one with a skipped parent stage),
two untagged."""

import os

from perfbench import eventlog
from perfbench.trace import Span, self_times

LOG = os.path.join(os.path.dirname(__file__), "data", "tiny_eventlog.jsonl")


def _span(sid, start, end, parent=None, tagged=True):
    return Span(sid, f"s{sid}", start, end, parent, sid, tagged)


def test_parse_jobs_and_stages():
    jobs, stages = eventlog.parse(LOG)
    assert sorted(jobs) == [0, 1, 2, 3, 4]
    assert [jobs[j].group for j in range(5)] == ["7", "7", "7", None, None]
    assert jobs[1].stage_ids == [1, 2] and 1 not in stages  # stage 1 was skipped
    assert stages[2].parents == [1]
    assert stages[0].task_ms == [273, 261]


def test_span_totals_by_group_and_by_time():
    jobs, stages = eventlog.parse(LOG)
    spans = [
        _span(7, 1792204937.8, 1792204939.3),  # the group-7 span
        _span(8, 1792204939.4, 1792204939.6, tagged=False),  # holds job 3 by time
    ]
    assert eventlog.assign(jobs, spans) == {7: [0, 1, 2], 8: [3]}  # job 4: no span
    t = eventlog.span_totals(jobs, stages, spans)
    assert (t[7].jobs, t[7].stages, t[7].tasks) == (3, 3, 5)
    assert t[7].run_ms == 153 + 150 + 211 + 216 + 76
    # longest task per stage; each job's chain is one stage here
    assert t[7].critical_path_ms == 273 + 275 + 133
    assert t[7].shuffle_read == 3186 + 3145 + 266
    assert t[7].shuffle_write == 3695 + 2636 + 133 + 133
    assert t[7].sched_delay_ms == 168
    assert (t[8].jobs, t[8].critical_path_ms) == (1, 73)


def test_grouped_job_goes_to_innermost_descendant_span():
    jobs, stages = eventlog.parse(LOG)
    outer = _span(7, 1792204937.8, 1792204939.3)
    inner = _span(9, 1792204938.6, 1792204938.99, parent=7, tagged=False)
    assert eventlog.assign(jobs, [outer, inner]) == {7: [0, 2], 9: [1]}


def test_critical_path_follows_stage_chain():
    stages = {
        1: eventlog.Stage(1, [], [10, 30]),
        2: eventlog.Stage(2, [1], [5, 20]),
        3: eventlog.Stage(3, [], [40]),
    }
    chain = eventlog.Job(0, 0, stage_ids=[1, 2])
    assert eventlog.job_totals(chain, stages).critical_path_ms == 30 + 20
    wide = eventlog.Job(1, 0, stage_ids=[1, 2, 3])
    assert eventlog.job_totals(wide, stages).critical_path_ms == 50


def test_self_time_subtracts_union_of_children():
    # concurrent children: their overlap is subtracted once
    st = self_times([_span(1, 0.0, 10.0), _span(2, 2.0, 5.0, 1), _span(3, 4.0, 8.0, 1)])
    assert st[1] == 4.0  # children cover [2, 8]


def test_sequential_self_times_add_up_to_root():
    spans = [_span(1, 0.0, 10.0), _span(2, 1.0, 4.0, 1), _span(3, 4.0, 9.0, 1), _span(4, 5.0, 7.0, 3)]
    st = self_times(spans)
    assert (st[1], st[2], st[3], st[4]) == (2.0, 3.0, 3.0, 2.0)
    assert sum(st.values()) == 10.0
