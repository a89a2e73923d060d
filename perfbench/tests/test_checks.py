import pytest

import checks
from reiz_io_spark.oracle import build_oracle_index, oracle_topk
from reiz_io_spark.plans.queries import lowered_reference_queries
from reiz_io_spark.sources.corpus import synth_corpus_rows


@pytest.fixture(scope="module")
def golden():
    rows = synth_corpus_rows(n_filler=60, seed=3)
    docs = checks.corpus_docs(rows)
    return build_oracle_index(docs), dict(docs), lowered_reference_queries()


def test_identical_topk_passes(golden):
    index, _contents, queries = golden
    want = oracle_topk(index, queries["simple/simple_name_match"], k=10)
    assert len(want) == 10
    assert checks.compare_topk("q", list(want), want) == []


def test_perturbed_score_is_flagged(golden):
    index, _contents, queries = golden
    want = oracle_topk(index, queries["simple/simple_name_match"], k=10)
    got = list(want)
    doc, score = got[3]
    got[3] = (doc, score + 1e-12)
    (problem,) = checks.compare_topk("q", got, want)
    assert "rank 4" in problem and "score" in problem


def test_swapped_rank_is_flagged(golden):
    index, _contents, queries = golden
    want = oracle_topk(index, queries["simple/simple_name_match"], k=10)
    got = list(want)
    got[0], got[1] = got[1], got[0]
    problems = checks.compare_topk("q", got, want)
    assert any("rank 1" in p for p in problems)
    assert any("rank 2" in p for p in problems)


def test_missing_result_is_flagged(golden):
    index, _contents, queries = golden
    want = oracle_topk(index, queries["simple/simple_name_match"], k=10)
    assert checks.compare_topk("q", want[:-1], want)


def test_positions_brute_force_finds_the_golden_match(golden):
    index, contents, queries = golden
    want = checks.expected_positions(index, contents, queries["simple/classmethod"], 10)
    assert want, "the golden classmethod file must match"
    rows = [
        {"doc_id": d, "score": s,
         "matches": [{"lineno": ln, "col_offset": c, "end_lineno": e, "segment": seg}
                     for ln, c, e, _ec, seg in spans]}
        for d, s, spans in want
    ]
    assert checks.compare_positions("q", rows, want) == []
    rows[0]["matches"][0]["lineno"] += 1
    assert checks.compare_positions("q", rows, want) == [
        f"q: rank 1 doc {want[0][0]} spans differ"
    ]

