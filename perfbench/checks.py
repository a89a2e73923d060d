"""Output checks against the single-node oracle (reiz_io_spark/oracle.py).

Every check returns a list of mismatch descriptions; an empty list
means the output is correct. Checks run outside the timed regions."""

from __future__ import annotations

import hashlib

from reiz_io_spark.functions.hashing import doc_id_of, spark_xxhash64
from reiz_io_spark.oracle import OracleIndex, oracle_topk
from reiz_io_spark.plans.lower import LoweredQuery
from reiz_io_spark.plans.matcher import match_spans


def corpus_docs(rows) -> list[tuple[int, str]]:
    """(doc_id, content) of the python rows of a (repo, path, commit,
    lang, content) corpus, under the engine's default identity."""
    return [
        (doc_id_of(repo, path), content)
        for repo, path, _commit, lang, content in rows
        if lang == "python"
    ]


def updated_doc_id(repo: str, path: str, content: str) -> int:
    """Identity of an updated version: xxhash64(repo, path, sha256)."""
    sha = hashlib.sha256(content.encode("utf-8")).hexdigest()
    return spark_xxhash64(repo, path, sha)


def compare_topk(
    name: str, got: list[tuple[int, float]], want: list[tuple[int, float]]
) -> list[str]:
    """Rank-for-rank equality of (doc_id, score); scores compared
    exactly (the engine's contract is bit-identity with the oracle)."""
    out = []
    if len(got) != len(want):
        out.append(f"{name}: {len(got)} results, oracle has {len(want)}")
    for rank, (g, w) in enumerate(zip(got, want), start=1):
        if g[0] != w[0]:
            out.append(f"{name}: rank {rank} doc {g[0]}, oracle doc {w[0]}")
        elif g[1] != w[1]:
            out.append(f"{name}: rank {rank} doc {g[0]} score {g[1]!r}, oracle {w[1]!r}")
    return out


def expected_positions(
    index: OracleIndex, contents: dict[int, str], query: LoweredQuery, k: int
) -> list[tuple[int, float, list[tuple]]]:
    """Brute force: every candidate in oracle rank order, matched with
    match_spans, first k that match."""
    ranked = oracle_topk(index, query, k=len(index.doclen))
    out = []
    for doc_id, score in ranked:
        try:
            spans = match_spans(contents[doc_id], query.source)
        except SyntaxError:
            continue
        if spans:
            out.append((doc_id, score, spans))
            if len(out) == k:
                break
    return out


def compare_positions(
    name: str, got: list[dict], want: list[tuple[int, float, list[tuple]]]
) -> list[str]:
    """query_positions rows vs expected_positions: doc, score, and every
    match span (line, column, end line, segment) in order."""
    out = compare_topk(
        name, [(r["doc_id"], r["score"]) for r in got],
        [(d, s) for d, s, _ in want],
    )
    for rank, (row, (doc_id, _s, spans)) in enumerate(zip(got, want), start=1):
        if row["doc_id"] != doc_id:
            continue
        got_spans = [
            (m["lineno"], m["col_offset"], m["end_lineno"], m["segment"])
            for m in row["matches"]
        ]
        want_spans = [(ln, col, end, seg) for ln, col, end, _ec, seg in spans]
        if got_spans != want_spans:
            out.append(f"{name}: rank {rank} doc {doc_id} spans differ")
    return out
