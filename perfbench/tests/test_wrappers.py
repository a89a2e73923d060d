"""Installing the timing wrappers must not change any result."""

import os

import pytest

import run
import tracing
from reiz_io_spark.oracle import build_oracle_index, oracle_topk
from reiz_io_spark.plans import lower as lower_mod
from reiz_io_spark.plans import matcher as matcher_mod
from reiz_io_spark.plans.queries import REFERENCE_QUERIES
from reiz_io_spark.sources.corpus import GOLDEN_FILES, synth_corpus_rows

import checks


def _pure_results():
    docs = checks.corpus_docs(synth_corpus_rows(n_filler=40, seed=5))
    index = build_oracle_index(docs)
    out = {}
    for name, src in sorted(REFERENCE_QUERIES.items()):
        q = lower_mod.lower_query(name, src)
        out[name] = (q, oracle_topk(index, q, k=10))
    for path, content in sorted(GOLDEN_FILES.items()):
        name = path[: -len(".py")]
        if name in REFERENCE_QUERIES:
            out["match " + name] = matcher_mod.match_spans(content, REFERENCE_QUERIES[name])
    return out


def test_wrappers_leave_driver_side_results_unchanged():
    before = _pure_results()
    tr = tracing.Tracer()
    undo = tracing.install(tr)
    try:
        after = _pure_results()
    finally:
        undo()
    assert after == before
    names = {s.name for s in tr.spans}
    assert {"lower.lower_query", "matcher.match_spans"} <= names


@pytest.fixture(scope="module")
def spark_index(tmp_path_factory):
    from reiz_io_spark.operators.build import build_index
    from reiz_io_spark.session import get_spark
    from reiz_io_spark.sources.corpus import synth_corpus

    root = tmp_path_factory.mktemp("perfbench")
    os.environ.setdefault(
        "PYTHONPATH", os.path.dirname(os.path.dirname(os.path.dirname(__file__)))
    )
    spark = get_spark(
        app_name="perfbench-test", master="local[2]",
        extra_conf={"spark.ui.showConsoleProgress": "false",
                    "spark.local.dir": str(root / "tmp")},
    )
    ix = str(root / "index")
    build_index(spark, synth_corpus(spark, n_filler=60, seed=9), ix, n_shards=2)
    yield spark, ix
    run._stop_spark(spark)  # waits for the JVM to exit


def _served(spark, ix):
    from reiz_io_spark.operators import wand as wand_mod
    from reiz_io_spark.operators.score import IndexReader
    from reiz_io_spark.serve import QueryService

    svc = QueryService(IndexReader(spark, ix))  # fresh caches: miss path runs
    out = {}
    for name, src in sorted(REFERENCE_QUERIES.items()):
        q = lower_mod.lower_query(name, src)
        out["topk " + name] = svc.query_topk(q, k=10)
    for name in ("simple/classmethod", "complex/nested_list"):
        q = lower_mod.lower_query(name, REFERENCE_QUERIES[name])
        out["positions " + name] = svc.query_positions(q, k=10)
        out["wand " + name] = [
            tuple(r) for r in wand_mod.wand_topk(IndexReader(spark, ix), q, k=10).collect()
        ]
    return out


def test_wrappers_leave_served_results_unchanged(spark_index):
    spark, ix = spark_index
    before = _served(spark, ix)
    tr = tracing.Tracer()
    undo = tracing.install(tr)
    try:
        after = _served(spark, ix)
    finally:
        undo()
    assert after == before
    names = {s.name for s in tr.spans}
    assert {"serve.fetch_postings", "codec.decode_block", "serve.score",
            "matcher.match_spans", "wand.wand_topk"} <= names
