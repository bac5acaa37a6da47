"""The benchmark's own tests, at a tiny input size.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

One Spark session serves every test; each workload runs a traced
measurement (timed, warm and traced pass) once, shared by the tests.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import checks, run, workloads  # noqa: E402
from perfbench.layers import metric_names  # noqa: E402
from perfbench.spans import NullTracer, Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCHMARK = json.load(fh)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    s = run.start_session(str(tmp_path_factory.mktemp("session")))
    yield s
    run.stop_session(s)


@pytest.fixture(scope="module")
def tiny():
    """Shrink the inputs to smoke size for this module only."""
    saved = workloads.WAREHOUSE_SF, workloads.CORPUS_DOCS
    workloads.WAREHOUSE_SF, workloads.CORPUS_DOCS = 0.001, 300
    yield
    workloads.WAREHOUSE_SF, workloads.CORPUS_DOCS = saved


@pytest.fixture(scope="module")
def measured(spark, tiny, tmp_path_factory):
    """One traced measurement per workload: (workload, run record)."""
    out = {}
    for name, cls in workloads.WORKLOADS.items():
        wl = cls(spark, 7, str(tmp_path_factory.mktemp(name)))
        out[name] = wl, run.measure(wl, seconds=0, trace=True)
    return out


def test_workloads_match_benchmark_json():
    assert sorted(w["name"] for w in BENCHMARK["workloads"]) == sorted(workloads.WORKLOADS)


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_every_workload_runs_one_checked_pass(measured, name):
    _wl, rec = measured[name]
    assert len(rec["passes"]) == 1
    assert rec["problems"] == [] and rec["failed"] == 0
    assert rec["attempted"] >= 3


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_every_metric_prints_with_its_unit(measured, name):
    wl, rec = measured[name]
    e2e = run.result(wl, rec, trace=False)
    layers = run.result(wl, rec, trace=True)
    for res, spec in ((e2e, BENCHMARK["end_to_end"]), (layers, BENCHMARK["per_layer"])):
        assert res["correct"] is True
        json.dumps(res)
        assert {m["name"]: m["unit"] for m in spec} == {
            k: v["unit"] for k, v in res["metrics"].items()
        }
    assert all(v["value"] > 0 for v in e2e["metrics"].values())
    assert list(metric_names()) == list(layers["metrics"])


def test_corpus_spans_cover_the_traced_pass(measured):
    _wl, rec = measured["corpus_neardup_rag"]
    tr = rec["tracer"]
    top = sum(
        s["end"] - s["start"] for s in tr.records() if s["phase"] == "pass" and s["parent"] is None
    )
    assert top / tr.pass_wall >= 0.8


def test_tampered_query_result_fails_the_check(measured):
    wl, rec = measured["warehouse_query"]
    out = wl.run_pass("tamper", NullTracer())
    key = "sql_q1_pricing_summary"
    out.results[key].loc[0, "count_order"] += 1
    problems, failed = wl.check([out])
    assert failed == 1 and key in problems[0]


def test_tampered_rag_hit_fails_the_check(measured):
    wl, _rec = measured["corpus_neardup_rag"]
    out = wl.run_pass("tamper", NullTracer())
    hits = checks.read_parquet_dir(f"{out.out_dir}/rag_hits")
    docs = checks.read_parquet_dir(wl.docs_dir)[["doc_id", "text"]]
    vecs = checks.chunk_vectors(docs.itertuples(index=False))
    assert checks.check_rag_hits(hits, vecs, workloads.RAG_PROBES, workloads.RAG_K) == []
    hits.loc[0, "cosine"] -= 0.01
    assert checks.check_rag_hits(hits, vecs, workloads.RAG_PROBES, workloads.RAG_K)


def test_forced_span_on_a_lazy_operator_records_a_job(spark):
    from build_datawarehouse_demo_spark.operators.keys import surrogate_key_rownum

    tr = Tracer(spark)
    lazy = spark.range(1000).selectExpr("id % 7 AS k").distinct()
    out = tr.call("keys.surrogate_key_rownum", surrogate_key_rownum, lazy, ("k",), "kid")
    tr.collect_job_counts()
    (span,) = tr.records()
    assert span["jobs"] >= 1 and span["tasks"] >= 1
    assert out.count() == 7


def test_inputs_are_seeded(tmp_path):
    from perfbench import inputs

    a, n_a = inputs.corpus_texts(200, seed=3)
    b, _ = inputs.corpus_texts(200, seed=3)
    c, _ = inputs.corpus_texts(200, seed=4)
    assert a == b and a != c and n_a == 40
