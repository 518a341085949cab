"""The benchmark's own tests: generator determinism, metric names,
the tail-percentile rule and span self-time arithmetic. None of them
starts Spark.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


# -- generators ---------------------------------------------------------------

def _same_tables(a: dict, b: dict) -> bool:
    def eq(x, y):
        if isinstance(x, pd.DataFrame):
            return x.equals(y)
        return x.equals(y)  # pyarrow tables
    return a.keys() == b.keys() and all(eq(a[k], b[k]) for k in a)


def test_hr_generator_is_deterministic_per_seed():
    assert _same_tables(gen.hr_tables(7, 400), gen.hr_tables(7, 400))
    assert not _same_tables(gen.hr_tables(7, 400), gen.hr_tables(8, 400))


def test_star_generator_is_deterministic_per_seed():
    assert _same_tables(gen.star_tables(7, 100), gen.star_tables(7, 100))
    assert not _same_tables(gen.star_tables(7, 100), gen.star_tables(8, 100))


def test_corpus_generator_is_deterministic_per_seed():
    d1, t1 = gen.corpus_tables(7, 200)
    d2, t2 = gen.corpus_tables(7, 200)
    assert d1.equals(d2) and t1 == t2
    assert not d1.equals(gen.corpus_tables(8, 200)[0])
    q1, v1, e1 = gen.embedding_tables(7)
    q2, v2, e2 = gen.embedding_tables(7)
    assert v1.equals(v2) and e1 == e2
    assert not v1.equals(gen.embedding_tables(8)[1])


def test_corpus_truth_plants_a_quarter_duplicates():
    docs, truth = gen.corpus_tables(3, 400)
    assert len(docs) == 400 and docs.doc_id.is_unique
    n_dup = 400 - 400 * 3 // 4
    assert len(truth["exact_pairs"]) == n_dup // 3
    assert len(truth["near_pairs"]) == n_dup - n_dup // 3
    text = dict(zip(docs.doc_id, docs.text))
    for a, b in truth["exact_pairs"]:
        assert text[a] == text[b]
    for a, b in truth["near_pairs"]:
        diff = sum(x != y for x, y in zip(text[a].split(), text[b].split()))
        assert 1 <= diff <= 2
    assert sum(truth["lang_counts"].values()) == 400


def test_embedding_truth_is_exact_topk():
    q, v, truth = gen.embedding_tables(4)
    vecs = np.array(v.column("embedding").to_pylist(), dtype=np.float64)
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    for qid in (0, 17):
        sims = unit @ unit[qid]
        sims[qid] = -np.inf
        assert truth["exact_topk"][qid] == list(np.argsort(-sims, kind="stable")[:truth["k"]])
        assert truth["exact_topk"][qid][0] == truth["planted"][qid]


def test_generated_files_and_truth_repeat(tmp_path):
    for workload in ("hr_etl", "star_analytics", "corpus_curation"):
        d1, t1 = gen.generate(workload, 3, str(tmp_path / "a"))
        d2, t2 = gen.generate(workload, 3, str(tmp_path / "b"))
        assert t1 == t2
        names = sorted(os.listdir(d1))
        assert names == sorted(os.listdir(d2))
        for n in names:
            p1, p2 = os.path.join(d1, n), os.path.join(d2, n)
            if os.path.isfile(p1) and n.endswith(".csv"):
                assert open(p1).read() == open(p2).read()


def test_hr_truth_counts_every_planted_edge_class():
    tables = gen.hr_tables(5, 2000)
    truth = gen.hr_truth(tables)
    vs = truth["volume_stats"]
    emp = tables["employees"]
    # inactive and zero-salary rows are removed, nothing else is
    removed = int((emp.status == "inactive").sum() + (emp.salary == 0).sum())
    assert vs["employees"]["extracted"] - vs["employees"]["cleaned"] == removed
    assert vs["departments"]["extracted"] - vs["departments"]["cleaned"] == 1
    issues = " ".join(truth["dq"]["issues"])
    for check in ("complete_name", "enum_status", "active_salary_positive",
                  "pk_unique_employee_id", "ri_employee_id", "ri_project_id",
                  "range_allocation_percentage", "complete_project_name"):
        assert check in issues
    assert truth["output_rows"]["summary_emp_performance"] == vs["employees"]["cleaned"]


# -- statistics ---------------------------------------------------------------

@pytest.mark.parametrize("n", [11, 12, 19, 20, 23, 25, 50, 99, 100, 101, 1000])
def test_tail_percentile_keeps_ten_samples_beyond(n):
    xs = list(np.random.default_rng(n).permutation(n).astype(float))
    pct, value = spans.tail_percentile(xs)
    assert sum(x > value for x in xs) >= 10
    # one percentile higher would leave fewer than ten beyond it
    nxt = spans.math.ceil((pct + 1) / 100.0 * n)
    assert n - nxt < 10


def test_tail_percentile_examples():
    xs = [float(i) for i in range(1, 101)]
    assert spans.tail_percentile(xs) == (90.0, 90.0)
    assert spans.tail_percentile(xs[:10]) is None
    assert spans.tail_percentile(xs[:20]) == (50.0, 10.0)


# -- spans ----------------------------------------------------------------------

def _span(i, start, end, parent=None, name="x"):
    return spans.Span(i, name, start, end, parent)


def test_self_time_subtracts_children():
    s = [_span(0, 0.0, 10.0), _span(1, 1.0, 3.0, 0), _span(2, 5.0, 9.0, 0),
         _span(3, 6.0, 7.0, 2)]
    st = spans.self_times(s)
    assert st == {0: 4.0, 1: 2.0, 2: 3.0, 3: 1.0}


def test_self_time_counts_overlapping_children_once():
    s = [_span(0, 0.0, 10.0), _span(1, 2.0, 6.0, 0), _span(2, 4.0, 12.0, 0)]
    assert spans.self_times(s)[0] == pytest.approx(2.0)


def test_covered_union():
    assert spans.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert spans.covered([(0, 2), (1, 3), (5, 6)], 2.5, 5.5) == 1.0
    assert spans.covered([], 0, 1) == 0


def test_stages_go_to_innermost_open_span():
    s = [_span(0, 0.0, 10.0), _span(1, 2.0, 4.0, 0)]
    stages = [{"stageId": 1, "submissionTime": 3000}, {"stageId": 2, "submissionTime": 5000}]
    by = spans.assign_stages(s, stages)
    assert [st["stageId"] for st in by[1]] == [1]
    assert [st["stageId"] for st in by[0]] == [2]


def test_disabled_tracer_records_nothing():
    t = spans.Tracer("r", enabled=False)
    with t.span("a"):
        pass
    assert t.spans == []


# -- printed metric names -------------------------------------------------------

def _passes(*lats):
    """One pass per tuple of latencies for the requests "a" and "b"."""
    return [[{"req": r, "s": x, "cpu_s": 1.5 * x, "rows": 10, "ok": True}
             for r, x in zip("ab", lat)] for lat in lats]


def test_end_to_end_names_match_benchmark_json():
    e2e = run.end_to_end(_passes((4.0, 3.0), (2.0, 1.0)), 12.0)
    assert list(e2e) == [m["name"] for m in SPEC["end_to_end"]]
    assert all(v > 0 for v in e2e.values())


def test_end_to_end_splits_cold_pass_from_warm_passes():
    e2e = run.end_to_end(_passes((4.0, 3.0), (2.0, 1.0), (2.0, 4.0), (8.0, 1.0)), 12.0)
    assert e2e["first_pass_s"] == 7.0
    # each request's fastest warm run: a 2.0, b 1.0
    assert e2e["op_geomean_s"] == pytest.approx(2.0 ** 0.5)
    assert e2e["cpu_s_per_op"] == pytest.approx(1.5 * 18.0 / 6)


def test_per_layer_names_match_benchmark_json(tmp_path):
    t = spans.Tracer("r", enabled=True)
    with t.span("run"):
        with t.span("request:load:dim_employees"):
            with t.span("sources.read_csv"):
                pass
    ctx = workloads.Context(spark=None, tracer=t, data_dir="", out_dir=str(tmp_path),
                            truth={}, oracle={})
    ctx.curation.update(candidates=3, precision=1.0, recall=1.0, ivf_recall=0.5)
    layer = run.per_layer([], [], t, ctx, spans)
    assert sorted(layer) == sorted(m["name"] for m in SPEC["per_layer"])


def test_every_metric_has_a_unit():
    unit = run.units()
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert unit[m["name"]] == m["unit"]
