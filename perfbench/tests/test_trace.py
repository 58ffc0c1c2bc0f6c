import json

from perfbench.layers import PER_LAYER, pass_metrics
from perfbench.trace import Span, Tracer, covered, self_time


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_children_once():
    parent = Span(0, None, "build", 0.0, 10.0)
    kids = [
        Span(1, 0, "spark.job", 1.0, 4.0),
        Span(2, 0, "spark.job", 3.0, 6.0),  # overlaps the first
        Span(3, 0, "spark.job", 9.0, 12.0),  # runs past the parent's end
    ]
    assert self_time(parent, kids) == 10.0 - (5.0 + 1.0)
    assert self_time(parent, []) == 10.0


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.span("op") as s:
        assert s is None
    assert t.spans == []


def test_spans_nest_and_dump(tmp_path):
    t = Tracer(True)
    with t.span("pass") as p:
        with t.span("op") as o:
            t.add("spark.job", o.start, o.start, o, stages=1)
    assert [s.parent for s in t.spans] == [None, p.id, o.id]
    assert t.children(p) == [o]
    path = tmp_path / "spans.json"
    t.dump(str(path))
    assert [s["name"] for s in json.loads(path.read_text())] == ["pass", "op", "spark.job"]


def _job(t, parent, start, end, **kw):
    attrs = dict.fromkeys(
        (
            "executorRunTime executorCpuTime diskBytesSpilled "
            "inputBytes outputBytes shuffleReadBytes shuffleWriteBytes numCompleteTasks "
            "numFailedTasks"
        ).split(),
        0,
    )
    attrs.update(stages=1, **kw)
    return t.add("spark.job", start, end, parent, **attrs)


def test_pass_metrics_from_a_span_tree():
    t = Tracer(True)
    pass_ = t.add("pass", 0, 20, None)
    op = t.add("kcore_peel_parts", 0, 10, pass_, gc_s=0.5)
    build = t.add("build", 0, 6, op, op="kcore_peel_parts")
    _job(t, build, 1, 3, numCompleteTasks=4, shuffleReadBytes=2_000_000)
    _job(t, build, 2, 4, numCompleteTasks=2, numFailedTasks=1)
    action = t.add("action", 6, 10, op, op="kcore_peel_parts")
    _job(t, action, 7, 9, numCompleteTasks=8, executorRunTime=1500)
    pipe = t.add("pipeline_set0", 10, 20, pass_, files_written=10, bytes_written=300, payload_bytes=100)
    t.add("catalog.bind", 10, 10.5, pipe)
    t.add("cache.cached", 11, 13, pipe, hit=False)
    rerun = t.add("rerun", 14, 20, pipe)
    t.add("cache.cached", 15, 15.5, rerun, hit=True)

    m = pass_metrics(t, pass_)
    assert m["build.wall_s"] == 6 and m["build.jobs"] == 2 and m["build.stages"] == 2
    assert m["build.tasks"] == 7 and m["build.driver_only_s"] == 6 - 3
    assert m["action.jobs"] == 1 and m["action.driver_only_s"] == 4 - 2
    assert m["q.kcore_peel_parts.build_jobs"] == 2 and m["q.kcore_peel_parts.build_s"] == 6
    assert m["spark.shuffle_read_mb"] == 2.0 and m["spark.executor_run_s"] == 1.5
    assert m["spark.failed_tasks"] == 1 and m["spark.gc_s"] == 0.5
    assert m["catalog.bind_s"] == 0.5 and m["pipeline.rerun_s"] == 6
    assert m["cache.miss_s"] == 2 and m["cache.hit_s"] == 0.5 and m["cache.hit_ratio"] == 0.5
    assert m["storage.files_written"] == 10 and m["storage.write_amplification"] == 3.0
    names = {name for name, _unit, _better in PER_LAYER}
    assert set(m) <= names


class _FakeReader:
    """Hands out the jobs queued since the last read, like StatusReader."""

    def __init__(self):
        self.queued = []

    def submit(self, jid):
        self.queued.append(
            {"id": jid, "start": 1.0, "end": 2.0, "stages": 1,
             **dict.fromkeys(("numCompleteTasks", "numFailedTasks", "shuffleReadBytes"), 0)}
        )

    def jobs_since(self):
        out, self.queued = self.queued, []
        return out

    def gc_seconds(self):
        return 0.0


def test_jobs_outside_traced_ops_are_not_counted():
    from perfbench.workloads import Harness

    h = Harness(None, "", "")
    h.reader = _FakeReader()
    h.reader.submit(0)  # ran in the untraced pass before
    h.tracer.enabled = True
    with h.tracer.span("pass") as p:
        with h.op("q"):
            with h.phase("build") as build:
                h.reader.submit(1)
            h.reader.submit(2)  # between phases: the op's own
            with h.phase("action") as action:
                h.reader.submit(3)
        h.reader.submit(4)  # the residue drop between ops
        with h.op("q") as op2:
            pass
    parent = {s.id: s for s in h.tracer.spans}
    jobs = {s.attrs["id"]: parent[s.parent] for s in h.tracer.spans if s.name == "spark.job"}
    assert set(jobs) == {1, 2, 3}
    assert jobs[1] is build and jobs[3] is action and jobs[2].name == "q"
    assert p not in jobs.values() and h.tracer.children(op2) == []
