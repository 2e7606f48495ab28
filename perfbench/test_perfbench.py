"""Pure-Python tests of the benchmark's own arithmetic (no Spark):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import corpus  # noqa: E402
import eventlog  # noqa: E402
import queries  # noqa: E402
import spans  # noqa: E402


def _job_start(jid, stages, group=None, t=0):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t,
            "Stage IDs": stages, "Properties": props}


def _task_end(stage, launch, finish, run_ms=10, cpu_ns=5_000_000, failed=False, accs=(),
              sw=0, sr=(0, 0), spill=(0, 0), gc=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish, "Failed": failed,
                      "Killed": False,
                      "Accumulables": [{"Name": n, "Update": str(u)} for n, u in accs]},
        "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                         "JVM GC Time": gc, "Memory Bytes Spilled": spill[0],
                         "Disk Bytes Spilled": spill[1],
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
                         "Shuffle Read Metrics": {"Remote Bytes Read": sr[0],
                                                  "Local Bytes Read": sr[1]}},
    }


def _log(events):
    return eventlog.parse_lines(json.dumps(e) + "\n" for e in events)


def test_task_metrics_sum_per_job_group():
    log = _log([
        _job_start(0, [0, 1], "t0/1", t=1000),
        _task_end(0, 1000, 1100, run_ms=90, cpu_ns=7, sw=100, gc=3,
                  accs=[(eventlog.PY_RUN, 2_000_000), (eventlog.PY_START, 500),
                        (eventlog.PY_SENT, 4096), ("number of output rows", 99)]),
        _task_end(1, 1100, 1300, run_ms=150, cpu_ns=11, sr=(30, 20), spill=(8, 2)),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1300},
        _job_start(1, [2], None, t=2000),
        _task_end(2, 2000, 2010, failed=True),
    ])
    g = log.groups["t0/1"]
    assert (g.jobs, g.tasks, g.failed_tasks) == (1, 2, 0)
    assert (g.executor_run_ms, g.executor_cpu_ns, g.gc_ms) == (240, 18, 3)
    assert (g.shuffle_write_bytes, g.shuffle_read_bytes, g.spill_bytes) == (100, 50, 10)
    assert (g.python_run_ms, g.python_start_ms, g.python_sent_bytes) == (2_000_000, 500, 4096)
    assert g.job_intervals == [(1000, 1300)]
    ungrouped = log.groups[None]
    assert (ungrouped.jobs, ungrouped.tasks, ungrouped.failed_tasks) == (1, 1, 1)
    assert [x.jobs for x in log.select(lambda gid: gid.startswith("t0"))] == [1]


def test_reused_stage_counts_toward_first_job():
    log = _log([
        _job_start(0, [0], "a"),
        _task_end(0, 0, 10),
        _job_start(1, [0, 1], "b"),  # stage 0 skipped here: its tasks ran under job 0
        _task_end(1, 10, 20),
    ])
    assert log.groups["a"].tasks == 1 and log.groups["b"].tasks == 1
    assert log.groups["b"].jobs == 1


def test_merge_and_skew():
    a, b = eventlog.GroupStats(jobs=1, tasks=2), eventlog.GroupStats(jobs=2, tasks=3)
    a.stage_task_ms = {0: [10, 10, 40]}
    b.stage_task_ms = {0: [10], 1: [5, 5]}
    m = eventlog.merge([a, b])
    assert (m.jobs, m.tasks) == (3, 5)
    assert m.stage_task_ms == {0: [10, 10, 40, 10], 1: [5, 5]}
    assert eventlog.task_skew(m.stage_task_ms) == 40 / 10
    assert eventlog.task_skew({}) == 0.0


def _span(i, parent, start, end, name="x"):
    return spans.Span(i, name, "t0", parent, start, end)


def test_self_time_subtracts_union_of_children():
    s = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps child 1: covered 1..6 once
        _span(3, 2, 3.5, 5.0),  # grandchild: counts against span 2 only
        _span(4, 0, 9.0, 12.0),  # runs past the parent: clipped at 10
    ]
    st = spans.self_times(s)
    assert st[0] == 10.0 - 5.0 - 1.0
    assert st[1] == 3.0
    assert st[2] == 3.0 - 1.5
    assert st[3] == 1.5
    assert st[4] == 3.0


def test_union_length_clips_and_merges():
    assert spans.union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert spans.union_length([(0, 2), (1, 3), (5, 6)], 2.5, 5.5) == 1.0
    assert spans.union_length([], 0, 1) == 0


def test_tracer_nests_restores_groups_and_passes_results():
    class FakeSc:
        def __init__(self):
            self.props = []

        def setLocalProperty(self, k, v):
            self.props.append(v)

    clock = iter(range(100))
    sc = FakeSc()
    tr = spans.Tracer(sc, clock=lambda: float(next(clock)))
    tr.trace_id = "t3"

    class Mod:
        @staticmethod
        def inner(x):
            return x + 1

        @staticmethod
        def outer(x, y=0):
            return Mod.inner(x) * 2 + y

    tr.install([(Mod, "inner", "inner"), (Mod, "outer", "outer")])
    tr.capture = {"inner"}
    assert Mod.outer(1, y=5) == 9
    tr.uninstall()
    assert Mod.outer(1) == 4 and len(tr.spans) == 2
    outer, inner = tr.spans
    assert (outer.parent, inner.parent) == (None, outer.span_id)
    assert sc.props == ["t3/0", "t3/1", "t3/0", "t3"]
    assert tr.captured == [("inner", (1,), 2)]


def test_corpus_is_seeded_and_twins_are_prefixes():
    a, b = corpus.base_docs(300, 5), corpus.base_docs(300, 5)
    assert a.equals(b)
    assert not a["text"].equals(corpus.base_docs(300, 6)["text"])
    for t, w in zip(a["text"], a["twin"]):
        assert t.startswith(w) and len(t.split()) == len(w.split()) + 3
    assert (a["copy_of"] >= 0).sum() == 3


def test_variant_perms_move_every_letter_differently():
    perms = corpus.variant_perms(9)
    assert len(perms) == corpus.N_VARIANTS == len(set(perms))
    for i, p in enumerate(perms):
        assert sorted(p) == sorted(corpus.LETTERS)
        for q in perms[i + 1:]:
            assert all(x != y for x, y in zip(p, q))


def test_expected_counts_follow_families():
    import pandas as pd

    long = " ".join(["spark"] * 80)
    short = " ".join(["join"] * 20)
    base = pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": [long, long, short],
        "twin": [" ".join(long.split()[:-3])] * 2 + [" ".join(short.split()[:-3])],
        "copy_of": [-1, 0, -1],
    })
    exp = queries.expected_counts(base, n_vectors=50)
    assert exp["exact_dupes_report"] == 2  # the family's bases and its twins
    assert exp["ann_topk"] == 500
    assert exp["digest_tree"] == 128 + 8 + 1
    assert exp["textstats_profile"] == 3
