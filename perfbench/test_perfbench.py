"""Tests of the benchmark itself: ``python3 -m pytest perfbench -q``.

They need no Spark session: the generator is pure numpy/pyarrow, the
metric names are checked against ``BENCHMARK.json`` through the functions
that build the printed metrics, and the answer check runs on outputs made
from the DuckDB oracles themselves.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

SPEC = gen.CorpusSpec(docs=300, exact_dup_share=0.02, near_dup_share=0.1,
                      near_dup_edit_rate=0.05, embedded_share=0.5, hot_docs=30)


def _files(d):
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


def test_generator_is_byte_identical_for_a_seed(tmp_path):
    gen.generate(7, SPEC, str(tmp_path / "a"))
    gen.generate(7, SPEC, str(tmp_path / "b"))
    assert _files(tmp_path / "a") == _files(tmp_path / "b")


def test_generator_content_differs_across_seeds(tmp_path):
    gen.generate(7, SPEC, str(tmp_path / "a"))
    gen.generate(8, SPEC, str(tmp_path / "b"))
    a = pq.read_table(tmp_path / "a" / "documents.parquet").column("text").to_pylist()
    b = pq.read_table(tmp_path / "b" / "documents.parquet").column("text").to_pylist()
    assert len(a) == len(b) == SPEC.docs
    assert sum(x != y for x, y in zip(a, b)) > 0.9 * SPEC.docs


def test_generator_controls_and_records_its_properties(tmp_path):
    meta = gen.generate(3, SPEC, str(tmp_path))
    assert json.load(open(tmp_path / "gen_meta.json")) == json.loads(json.dumps(meta))
    docs = pq.read_table(tmp_path / "documents.parquet").to_pandas()
    assert docs["text"].duplicated().sum() >= meta["exact_dups"] > 0
    # an exact copy of a near copy carries the marker too
    assert docs["text"].str.endswith(" " + gen.NEAR_DUP_MARK).sum() >= meta["near_dups"] > 0
    hot = docs["text"].str.contains(" ".join(gen.BOILERPLATE))
    assert hot.sum() == meta["hot_docs"] > 0
    assert (docs["n_chars"] == docs["text"].str.len()).all()
    emb = pq.read_table(tmp_path / "embeddings.parquet").to_pandas()
    vecs = np.stack(emb["embedding"].to_numpy())
    assert len(emb) == meta["embedded"] and set(emb["vec_id"]) <= set(docs["doc_id"])
    np.testing.assert_allclose(np.linalg.norm(vecs, axis=1), 1.0, rtol=1e-5)
    # fresh draws, never copies
    assert len(np.unique(vecs.round(4), axis=0)) == len(vecs)


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_printed_metric_names_and_units_match_benchmark_json():
    spec = _benchmark()
    timed = workloads.Timed(latencies=[1.0, 2.0], docs=10, attempted=2)
    e2e = run.end_to_end(timed, wall_s=3.0, setup_s=1.0)
    assert set(e2e) == {m["name"] for m in spec["end_to_end"]}
    assert run.metric_units(False) == {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert per_layer == layers.PER_LAYER_UNITS == run.metric_units(True)
    higher = {m["name"] for m in spec["per_layer"] if m["better"] == "higher"}
    assert higher == layers.HIGHER_IS_BETTER
    tracer = layers.Tracer.__new__(layers.Tracer)
    tracer.spans = []
    summary = layers.summarize(tracer, {"jobs": {}, "tasks": []}, (0.0, 1.0), {})
    assert set(summary) == set(per_layer)
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)


def test_self_time_subtracts_the_union_of_children():
    S = layers.Span
    spans = [S(1, "bench", "root", None, 0, 0.0, 10.0),
             S(2, "registry", "a", 1, 0, 1.0, 4.0),
             S(3, "cache", "b", 1, 1, 3.0, 6.0),
             S(4, "cache", "c", 2, 0, 2.0, 3.0)]
    assert layers.self_times(spans) == {1: 5.0, 2: 2.0, 3: 3.0, 4: 1.0}


@pytest.fixture(scope="module")
def oracle_outputs(tmp_path_factory):
    """A topic_report output directory whose tables are the oracle
    answers themselves, plus the twins the check compares them with."""
    import duckdb

    base = tmp_path_factory.mktemp("topic")
    sf, out = str(base / "in"), base / "out"
    meta = gen.generate(5, gen.CorpusSpec(docs=400), sf)
    names = [n for n in workloads.topic_outputs() if workloads.has_oracle(n)]
    twins = workloads.duckdb_twins(sf, names)
    from topic_modeling_ajin_spark.registry import load_all

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    for name in names:
        os.makedirs(out / name)
        con.execute(f"COPY ({load_all()[name].sql}) TO '{out / name / 'part-0.parquet'}'")
    n = meta["spec"]["docs"]
    os.makedirs(out / "lda_topic_terms")
    os.makedirs(out / "lda_doc_topics")
    con.execute(
        "COPY (SELECT t AS topic, 'w' || r AS term, 0.1 AS weight, r AS rank "
        "FROM range(5) a(t), range(1, 11) b(r)) "
        f"TO '{out / 'lda_topic_terms' / 'part-0.parquet'}'"
    )
    con.execute(
        f"COPY (SELECT i AS doc_id, 0 AS topic, 0.5 AS prob FROM range({n}) c(i)) "
        f"TO '{out / 'lda_doc_topics' / 'part-0.parquet'}'"
    )
    os.makedirs(out / "figures")
    for f in ("analysis_report.txt", "figures/report.html"):
        (out / f).write_text("report\n")
    return str(out), twins, n


def test_answer_check_passes_on_the_oracle_answers(oracle_outputs):
    out, twins, n = oracle_outputs
    assert workloads.wrong_topic_outputs(out, twins, n) == []


@pytest.mark.parametrize("tamper", ["value", "drop_row"])
def test_answer_check_fails_on_a_tampered_output(oracle_outputs, tamper, tmp_path):
    import shutil

    out, twins, n = oracle_outputs
    bad = str(tmp_path / "out")
    shutil.copytree(out, bad)
    path = os.path.join(bad, "word_count", "part-0.parquet")
    df = pq.read_table(path).to_pandas()
    if tamper == "value":
        df.loc[0, "cnt"] += 1
    else:
        df = df.iloc[1:]
    df.to_parquet(path, index=False)
    assert workloads.wrong_topic_outputs(bad, twins, n) == ["word_count"]


def test_a_stream_batch_without_progress_counts_as_failed(tmp_path):
    import threading
    from types import SimpleNamespace

    listener = SimpleNamespace(lock=threading.Lock(), wait_done=lambda n: None,
                               progress={"warm": [{"batch_s": 1.0, "rows": 5}]})
    ctx = workloads.Context(work=str(tmp_path), seed=1, seconds=20)
    ctx.state.update(listener=listener, batches=4, runs_before={"warm"})
    t = workloads.Timed(docs=600)
    workloads.IngestStream().collect(ctx, t)
    assert (t.attempted, t.errors, t.latencies) == (4, 4, [])
