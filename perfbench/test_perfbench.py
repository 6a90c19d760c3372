"""Self-tests for the benchmark (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider -p no:benchmark
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import checks, gen, run  # noqa: E402
from perfbench.trace import Tracer, check_nesting  # noqa: E402
from perfbench.workloads import WORKLOADS, Workload  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


@pytest.fixture
def work():
    d = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    os.makedirs(d, exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


# ------------------------------------------------------------ generator
@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_generator_is_deterministic(work, workload):
    a, b, c = (os.path.join(work, x) for x in "abc")
    gen.generate(workload, 7, a)
    gen.generate(workload, 7, b)
    gen.generate(workload, 8, c)
    assert gen.digest(a) == gen.digest(b)
    assert gen.digest(a) != gen.digest(c)


def test_image_inputs_plant_faults_and_hold_out_queries(work):
    m = gen.generate("image_search", 3, work)
    files = set(os.listdir(m["corpus_dir"]))
    assert "notes.txt" in files  # F1
    assert "img_unlabeled.jpg" in files  # F2
    assert "img_corrupt.jpg" in files  # F3
    lines = [r[2] for r in m["labels"]]
    assert any(" 0.000000 " in x for x in lines)  # F4
    assert any("oops" in x for x in lines)  # F6
    stems = {f.rsplit(".", 1)[0] for f in files}
    assert not stems & {q for q, _ in m["queries"]}  # held out
    multi = {s for s, i, _ in m["labels"] if i == 2}
    assert multi  # ~2% multi-box stems


# -------------------------------------------------------------- checkers
def _topk_case():
    rng = np.random.default_rng(0)
    ids = np.arange(200, dtype=np.int64)
    V, Q = rng.standard_normal((200, 16)), rng.standard_normal((3, 16))
    top_ids, top_scores, S = checks.numpy_topk(ids, V, Q, 10)
    return top_ids, top_scores, S


def test_topk_checker_accepts_exact_answer():
    top_ids, top_scores, S = _topk_case()
    assert not checks.topk_mismatches(
        top_ids[0], top_scores[0], top_ids[0], top_scores[0],
        lambda v: float(S[0, v]),
    )


def test_topk_checker_rejects_planted_wrong_id():
    top_ids, top_scores, S = _topk_case()
    wrong = top_ids[0].copy()
    wrong[3] = int(np.argsort(S[0])[0])  # the worst-scoring vector
    assert checks.topk_mismatches(
        wrong, top_scores[0], top_ids[0], top_scores[0],
        lambda v: float(S[0, v]),
    )


def test_topk_checker_rejects_planted_wrong_score_and_length():
    top_ids, top_scores, S = _topk_case()
    scores = top_scores[0].copy()
    scores[0] -= 0.01
    true = lambda v: float(S[0, v])  # noqa: E731
    assert checks.topk_mismatches(top_ids[0], scores, top_ids[0], top_scores[0], true)
    assert checks.topk_mismatches(
        top_ids[0][:-1], top_scores[0][:-1], top_ids[0], top_scores[0], true
    )


def test_analytics_checker_rejects_planted_wrong_row():
    good = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0], "s": ["a", "b", "c"]})
    assert not checks.analytics_mismatches("q", good.copy(), good)
    bad = good.copy()
    bad.loc[1, "v"] = 1.26
    assert checks.analytics_mismatches("q", bad, good)
    assert checks.analytics_mismatches("q", good.iloc[:2], good)


def test_index_checker():
    rows = [
        {"id": i + 1, "stem": f"s{i}", "box_idx": 1, "embedding": [1.0, 0.0]}
        for i in range(4)
    ]
    assert not checks.index_mismatches(rows, 4)
    assert checks.index_mismatches(rows, 5)
    assert checks.index_mismatches(rows[:1] + [{**rows[1], "id": 7}], 2)


# ---------------------------------------------------------------- output
def test_every_named_metric_is_emitted_with_its_unit():
    e2e = {m["name"]: 1.5 for m in SPEC["end_to_end"]}
    layers = {m["name"]: 2.5 for m in SPEC["per_layer"]}
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        line = run.result_line(SPEC, {**e2e, "layers": layers}, trace, 3, 0)
        out = json.loads(line)
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        want = {m["name"]: m["unit"] for m in SPEC[key]}
        assert {k: v["unit"] for k, v in out["metrics"].items()} == want


def test_spec_names_workloads_and_required_setup_metric():
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)
    setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert max(m["bound"] for m in SPEC["end_to_end"]) == setup[0]["bound"]


class _FakeTracker:
    def getJobIdsForGroup(self, group):
        return []


class _FakeSC:
    def setJobGroup(self, group, desc):
        pass

    def setLocalProperty(self, key, value):
        pass

    def statusTracker(self):
        return _FakeTracker()


class _FakeSpark:
    sparkContext = _FakeSC()


def test_layer_metrics_cover_every_per_layer_name():
    t = Tracer(_FakeSpark(), enabled=True)

    class W(Workload):
        op_span = "op"

    with t.span("op", op_id=0):
        with t.span("child"):
            pass
    got = set(W(None, {}, "", t).layer_metrics(t, [])) | set(run.RUNNER_LAYER_METRICS)
    assert {m["name"] for m in SPEC["per_layer"]} <= got


# ----------------------------------------------------------------- trace
def test_trace_child_spans_nest_within_parents():
    t = Tracer(_FakeSpark(), enabled=True)
    with t.span("op", op_id=0):
        with t.span("layer.a"):
            with t.span("layer.a.inner"):
                pass
        with t.span("layer.b"):
            pass
    assert [s["parent"] for s in t.spans] == [None, 0, 1, 0]
    assert {s["op"] for s in t.spans} == {0}
    assert not check_nesting(t.spans)
    escaped = [dict(s) for s in t.spans]
    escaped[2]["end"] = escaped[0]["end"] + 1.0
    assert check_nesting(escaped)


def test_untraced_tracer_keeps_op_spans_only():
    t = Tracer(_FakeSpark(), enabled=False)
    with t.span("op", op_id=0):
        with t.span("layer"):
            pass
    assert [s["name"] for s in t.spans] == ["op"]
