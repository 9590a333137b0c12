"""Tests of the benchmark itself (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
from types import SimpleNamespace

import pytest

from perfbench import harness, inputs, quality
from perfbench.report import END_TO_END_UNITS
from perfbench.workloads import PER_LAYER

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                              "BENCHMARK.json")


def test_near_dup_inputs_are_deterministic_per_seed():
    a = inputs.near_dup_corpus(3, 60)
    b = inputs.near_dup_corpus(3, 60)
    c = inputs.near_dup_corpus(4, 60)
    assert a == b
    assert a.docs != c.docs
    assert len(a.docs) == len(a.vectors) == 60
    assert a.truth and all(x < y for x, y in a.truth)


def test_near_dup_truth_clears_thresholds():
    corpus = inputs.near_dup_corpus(5, 80)
    text, vec = dict(corpus.docs), dict(corpus.vectors)
    for a, b in corpus.truth:
        assert inputs.jaccard(inputs.shingles(text[a]), inputs.shingles(text[b])) >= inputs.MINHASH_THRESHOLD
        assert inputs.cosine(vec[a], vec[b]) >= inputs.COSINE_THRESHOLD


def test_prf_hand_built():
    assert quality.prf(0, 0, 0) == (0.0, 0.0, 0.0)
    p, r, f1 = quality.prf(3, 1, 2)
    assert (p, r) == (0.75, 0.6)
    assert f1 == pytest.approx(2 * 0.75 * 0.6 / 1.35)


def test_er_labeled_pairs_hand_built():
    rows = [
        ("r3", 1, "Smith, John"),
        ("r1", 1, "Smith, J."),
        ("r2", 2, "Anna Smith"),
        ("r4", 1, "John Smith"),
        ("r5", 3, "Chen, Wei"),
    ]
    assert inputs.er_labeled_pairs(rows) == {
        ("r1", "r3"): True,  # entity 1 chained in record-id order
        ("r3", "r4"): True,
        ("r1", "r2"): False,  # next same-surname record of another entity
        ("r2", "r3"): False,
    }


def test_labeled_pair_counts_hand_built():
    labeled = {("a", "b"): True, ("b", "c"): True, ("d", "e"): True,
               ("a", "d"): False, ("c", "f"): False}
    # clusters {a,b,d} {c,f}; e unlabeled -> singleton
    labels = {"a": 0, "b": 0, "d": 0, "c": 7, "f": 7}
    # tp: ab; fn: bc de; fp: ad cf
    assert quality.labeled_pair_counts(labels, labeled) == (1, 2, 2)
    assert quality.labeled_pair_counts({}, labeled) == (0, 0, 3)


def test_pair_set_counts_hand_built():
    truth = {("a", "b"), ("c", "d"), ("e", "f")}
    pred = {("a", "b"), ("c", "d"), ("a", "z")}
    assert quality.pair_set_counts(pred, truth) == (2, 1, 1)


def test_structure_checks():
    known = {"a": 1, "b": 1, "c": 2}
    assert quality.label_problems(["a", "b"], [0, 0], known) == []
    assert quality.label_problems(["a", "a"], [0, 1], known)
    assert quality.label_problems(["a", "x"], [0, 0], known)
    assert quality.pair_problems([("a", "b"), ("a", "c")]) == []
    assert quality.pair_problems([("b", "a")])
    assert quality.pair_problems([("a", "b"), ("a", "b")])


def test_digest_ignores_order():
    assert quality.digest([("b", 1), ("a", 2)]) == quality.digest([("a", 2), ("b", 1)])
    assert quality.digest([("a", 1)]) != quality.digest([("a", 2)])


def test_raising_operation_is_failed_with_zero_records():
    def boom():
        raise RuntimeError("program failed")

    a, out = harness.attempt("op", boom, lambda _: [], records=100)
    assert not a.ok and a.records == 0 and out is None
    assert "program failed" in a.error


def test_failed_check_is_failed_with_zero_records():
    a, out = harness.attempt("op", lambda: [1], lambda _: ["bad output"], records=100)
    assert not a.ok and a.records == 0 and a.problems == ["bad output"] and out == [1]
    ok, _ = harness.attempt("op", lambda: [1], lambda _: [], records=100)
    assert ok.ok and ok.records == 100


def test_metric_names_are_valid():
    assert harness.check_metric_names(list(PER_LAYER) + list(END_TO_END_UNITS)) == []
    assert harness.check_metric_names(["bad name", "x" * 65]) == ["bad name", "x" * 65]
    with open(BENCHMARK_JSON) as fh:
        spec = json.load(fh)
    declared_e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert declared_e2e == END_TO_END_UNITS
    assert declared_layer == PER_LAYER
    assert harness.check_metric_names(list(declared_e2e) + list(declared_layer)) == []
    assert {w["name"] for w in spec["workloads"]} == {"er_batch", "near_dup"}


def test_result_line_shape():
    line = harness.result_line(True, 3, 0, {"setup_s": (1.5, "s")})
    assert json.loads(line) == {"correct": True, "attempted": 3, "failed": 0,
                                "metrics": {"setup_s": {"value": 1.5, "unit": "s"}}}


class _FakeStatusTracker:
    """Jobs per group, stages per job: (completed, failed) tasks."""

    def __init__(self, groups):
        self.groups = groups  # group -> [[(done, failed) per stage] per job]
        self.jobs, self.stages = {}, {}

    def getJobIdsForGroup(self, group):
        ids = []
        for stages in self.groups.get(group, []):
            job = len(self.jobs)
            self.jobs[job] = SimpleNamespace(stageIds=[])
            for done, failed in stages:
                sid = len(self.stages)
                self.stages[sid] = SimpleNamespace(numCompletedTasks=done, numFailedTasks=failed)
                self.jobs[job].stageIds.append(sid)
            ids.append(job)
        return ids

    def getJobInfo(self, job):
        return self.jobs[job]

    def getStageInfo(self, sid):
        return self.stages[sid]


class _FakeSampler:
    scan_scratch = False

    def __init__(self, scratch_dir):
        self.scratch_dir = scratch_dir

    def reset(self):
        pass

    def peaks(self):
        return 0.0, 0.0

    def own_cpu_s(self):
        return 0.0


def test_failed_tasks_are_summed_over_spans(tmp_path):
    tracker = _FakeStatusTracker({"r-1": [[(4, 0), (3, 2)]], "r-2": [[(5, 1)]]})
    sc = SimpleNamespace(statusTracker=lambda: tracker, setJobGroup=lambda *a: None,
                         setLocalProperty=lambda *a: None)
    log = tmp_path / "spark.log"
    log.write_text("")
    tracer = harness.Tracer(SimpleNamespace(sparkContext=sc), "r", str(log), 4, _FakeSampler(str(tmp_path)))
    with tracer.span("root"):  # group r-0: no jobs of its own
        with tracer.span("a"):
            pass
        with tracer.span("b"):
            pass
    assert [s["failed_tasks"] for s in tracer.spans] == [0, 2, 1]
    assert [s["tasks"] for s in tracer.spans] == [0, 7, 5]
    assert tracer.failed_tasks() == 3


def test_skipped_traced_attach_fails_the_run(tmp_path, capsys):
    from perfbench import report
    from perfbench.workloads import Context, Workload

    wl = Workload(Context(None, str(tmp_path), 1, 4, 0.0))
    wl.record(5, 0, 1, "d")
    wl.note_traced("attach 2", 0.0, ["skipped: too close to the run's time limit"], 0)
    it = harness.Iteration([harness.Attempt("run", True, 10, 1.0)], 1.0, 2.0, 0.0, 100.0, 0.0, 0.1, 5)
    code = report.emit(wl, SimpleNamespace(seed=1, seconds=1, trace=1), 4,
                       report.Setup(1.0, [1.0], 1.0), [it], {})
    out = capsys.readouterr().out.splitlines()
    result = json.loads(out[-1])
    assert code == 1
    assert (result["correct"], result["attempted"], result["failed"]) == (False, 2, 1)
    assert any("failed attach 2: skipped" in line for line in out)
