"""The benchmark's workloads. Each drives the engine only through its
public entry points (operators.build / updates / deletes / fsck,
serve.QueryService, operators.score.IndexReader, operators.wand) and
checks every output against the single-node oracle outside the timed
regions.

Every workload reports the same end-to-end metrics (see README.md):
setup_s and index_bytes_per_source_byte (every workload builds its own
index from the seeded corpus), and p50_norm_ms, tail_norm_ms and
batch_norm_ms of the workload's own request and batch operation, each
timed operation scaled to the reference host speed by the calibration
kernel (calibrate.py) timed beside them.

Traced request ids are "<kind>:<detail>". Kinds: topk (warm
query_topk), fresh (query_topk on a just-refreshed snapshot),
positions (query_positions), dist (fresh IndexReader + wand_topk),
batch (wand_topk_batch), build, commit, refresh and compact."""

from __future__ import annotations

import os
import random
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

from reiz_io_spark.functions.hashing import doc_id_of
from reiz_io_spark.functions.tokenizer import tokenize_source
from reiz_io_spark.operators import build as build_mod
from reiz_io_spark.operators import deletes as deletes_mod
from reiz_io_spark.operators import fsck as fsck_mod
from reiz_io_spark.operators import updates as updates_mod
from reiz_io_spark.operators import wand as wand_mod
from reiz_io_spark.operators.score import IndexReader
from reiz_io_spark.oracle import build_oracle_index, oracle_topk
from reiz_io_spark.plans import lower as lower_mod
from reiz_io_spark.plans.queries import REFERENCE_QUERIES
from reiz_io_spark.schema import CORPUS
from reiz_io_spark.serve import QueryService
from reiz_io_spark.sources.corpus import (
    GOLDEN_REPO,
    read_corpus,
    synth_corpus_distributed,
    synth_corpus_rows,
)

import calibrate
import checks
import stats
import tracing

K = 10
SETUP_REPEATS = 3  # repeated set-up steps report their median
TOKENIZER_SAMPLE = 200
# filler files per workload (the 27 golden reference files come on
# top): sized so the two workloads of BENCHMARK.json fit its time budget
N_FILES = 300
INDEX_TABLES = ("content", "docs", "runs", "dictionary", "blocks")


@dataclass
class Run:
    spark: object
    work: str
    seed: int
    seconds: float
    nproc: int
    tracer: tracing.Tracer | None = None
    attempted: int = 0
    failed: int = 0
    mismatches: list[str] = field(default_factory=list)
    setup_parts: dict[str, float] = field(default_factory=dict)

    def record(self, problems: list[str]) -> None:
        """One checked operation: failed when it has any mismatch."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.mismatches.extend(problems)

    def request(self, rid: str):
        """Traced request scope, or nothing when tracing is off."""
        return nullcontext() if self.tracer is None else self.tracer.request(rid)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)


def _timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0


def _spanned(fn, *args, **kwargs):
    """fn's result and the (start, end) of the call."""
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, (t0, time.perf_counter())


def _ranked(rows) -> list[tuple[int, float]]:
    return [(r["doc_id"], r["score"]) for r in rows]


def _batch_results(rows, names) -> dict[str, list[tuple[int, float]]]:
    """wand_topk_batch rows -> query name -> [(doc_id, score)] by rank."""
    got: dict[str, list] = {n: [] for n in names}
    for r in sorted(rows, key=lambda r: (r["query_name"], r["rank"])):
        got[r["query_name"]].append((r["doc_id"], r["score"]))
    return got


class Workload:
    """The runner calls setup(), measure() and finish(); a traced run
    installs the timing wrappers before measure() (before setup() when
    trace_setup). The (start, end) of each request and batch operation
    collect in self.lat and self.batches; self.speed holds the
    calibration samples taken between them."""

    name = ""
    trace_setup = False  # traced runs record the set-up build's spans

    def __init__(self, run: Run):
        self.run = run
        self.rows: list[tuple] = []
        self.source_bytes = 0
        self.build_s = 0.0
        self.index_bytes = 0
        self.facts: dict[str, float] = {}
        self.ix = run.path("index")
        self.queries = {
            n: lower_mod.lower_query(n, s) for n, s in REFERENCE_QUERIES.items()
        }
        self.order = sorted(REFERENCE_QUERIES)
        random.Random(run.seed).shuffle(self.order)
        self.lat: list[tuple[float, float]] = []
        self.batches: list[tuple[float, float]] = []
        self.cold: list[tuple[float, float]] = []  # update's cold requests
        self.speed = calibrate.Speed()

    # set-up ------------------------------------------------------------------

    def generate_corpus(self) -> str:
        """The seeded corpus (synth_corpus_distributed + the golden
        reference files), written as parquet."""
        spark = self.run.spark
        path = self.run.path("corpus")
        gold = spark.createDataFrame(
            synth_corpus_rows(n_filler=0, seed=self.run.seed), CORPUS
        )
        df = synth_corpus_distributed(
            spark, N_FILES, seed=self.run.seed, n_partitions=self.run.nproc
        ).unionByName(gold)
        self.run.setup_parts["corpus_s"] = _timed(df.write.parquet, path)[1]
        self.rows = sorted(tuple(r) for r in read_corpus(spark, path).collect())
        self.source_bytes = sum(
            len(r[4].encode("utf-8")) for r in self.rows if r[3] == "python"
        )
        return path

    def python_files(self) -> int:
        return sum(1 for r in self.rows if r[3] == "python")

    def build(self, corpus_path: str, out_dir: str, rid: str) -> float:
        spark = self.run.spark
        with self.run.request(rid):
            return _timed(
                build_mod.build_index, spark, read_corpus(spark, corpus_path),
                out_dir, build_id="perfbench",
            )[1]

    def build_setup_index(self) -> None:
        corpus = self.generate_corpus()
        self.build_s = self.build(corpus, self.ix, "build:0")
        self.run.setup_parts["build_s"] = self.build_s
        self.index_facts()

    def index_facts(self) -> None:
        """Bytes of the index, per table, and its block-file count."""
        self.index_bytes = tracing.tree_bytes(self.ix)
        paths = IndexReader(self.run.spark, self.ix).paths
        for t in INDEX_TABLES:
            self.facts[f"build.bytes.{t}"] = float(tracing.tree_bytes(paths[t]))
        self.facts["build.files.blocks"] = float(sum(
            1 for p in tracing.tree_files(paths["blocks"]) if p.endswith(".parquet")
        ))

    def timed_setup_step(self, label: str, fn):
        """Run fn SETUP_REPEATS times; its median joins setup_s. Returns
        the last result."""
        times = []
        for _ in range(SETUP_REPEATS):
            out, dt = _timed(fn)
            times.append(dt)
        self.run.setup_parts[label] = statistics.median(times)
        return out

    def oracle(self, docs=None):
        docs = docs if docs is not None else checks.corpus_docs(self.rows)
        self.contents = dict(docs)
        return build_oracle_index(docs)

    def oracle_topk_all(self, index) -> dict[str, list[tuple[int, float]]]:
        return {n: oracle_topk(index, q, k=K) for n, q in self.queries.items()}

    def check_fsck(self, when: str) -> None:
        report = fsck_mod.fsck_index(self.run.spark, self.ix)
        self.run.record([
            f"fsck {when}: {k} {v['detail']}" for k, v in report.items() if not v["ok"]
        ])

    # requests ------------------------------------------------------------

    def topk_request(self, svc: QueryService, name: str) -> list[dict]:
        """One serving request, lowered per request as web.py does."""
        q = lower_mod.lower_query(name, REFERENCE_QUERIES[name])
        return svc.query_topk(q, k=K)

    def tokenizer_ms_per_file(self) -> float:
        rng = random.Random(self.run.seed)
        sample = rng.sample(self.rows, min(TOKENIZER_SAMPLE, len(self.rows)))
        t0 = time.perf_counter()
        for row in sample:
            tokenize_source(row[4])
        return (time.perf_counter() - t0) * 1e3 / len(sample)

    def finish(self) -> None:
        """Steps after the measurement (none by default)."""


class Search(Workload):
    """Warm top-k, one client, closed loop: passes over the 27 queries
    in seeded order until the time is up, a calibration sample after
    each pass; request = one query_topk, batch = one pass."""

    name = "search"

    def setup(self) -> None:
        self.build_setup_index()
        self.index_oracle = self.oracle()
        self.want = self.oracle_topk_all(self.index_oracle)

        def open_and_warm():
            svc = QueryService(IndexReader(self.run.spark, self.ix))
            for n in self.order:
                self.topk_request(svc, n)
            return svc

        # one open + warm-up pass; repeating it would not fit the budget
        self.svc, self.run.setup_parts["open_warm_s"] = _timed(open_and_warm)

    def measure(self) -> None:
        warm_passes(self, self.svc, self.want, "", self.run.seconds, self.lat, self.batches)

    def finish(self) -> None:
        """Traced runs only: one pass of the positions route and of the
        distributed route over the same index, so the matcher, wand and
        score layers get per-layer numbers in this workload too. Their
        end-to-end figures belong to the positions and search_dist
        workloads; the untraced run skips this."""
        if self.run.tracer is None:
            return
        want = {
            n: checks.expected_positions(self.index_oracle, self.contents, q, K)
            for n, q in self.queries.items()
        }
        lat, batches = [], []
        positions_pass(self, self.svc, want, "0", lat, batches)
        dist_queries(self, self.want, 0.0, lat)
        dist_batch(self, self.want, "0", batches)


def warm_passes(
    w: Workload, svc: QueryService, want: dict, tag: str, seconds: float,
    lat: list, passes: list,
) -> None:
    """Passes over the 27 queries in seeded order on a warm service
    until `seconds` are up: request spans join lat, pass spans passes.
    After each pass, outside its span, a calibration sample
    and the oracle check of its results; checking as we go keeps the
    heap, and so the garbage collector's pauses, the same size all run."""
    run = w.run
    deadline = time.perf_counter() + seconds
    w.speed.sample()
    i = 0
    while True:
        results = []
        t_pass = time.perf_counter()
        for name in w.order:
            with run.request(f"topk:{tag}{i}"):
                rows, span = _spanned(w.topk_request, svc, name)
            lat.append(span)
            results.append((name, rows))
            i += 1
        passes.append((t_pass, time.perf_counter()))
        w.speed.sample()
        for name, rows in results:
            run.record(checks.compare_topk(f"{tag}{name}", _ranked(rows), want[name]))
        if time.perf_counter() >= deadline:
            return


def positions_request(svc: QueryService, name: str) -> list[dict]:
    q = lower_mod.lower_query(name, REFERENCE_QUERIES[name])
    return svc.query_positions(q, k=K)


def positions_pass(
    w: Workload, svc: QueryService, want: dict, tag: str, lat: list, batches: list
) -> None:
    """One query_positions pass over the 27 queries in seeded order;
    request spans join lat, the pass span batches."""
    t_pass = time.perf_counter()
    for name in w.order:
        with w.run.request(f"positions:{tag}-{name}"):
            rows, span = _spanned(positions_request, svc, name)
        lat.append(span)
        w.speed.sample()
        w.run.record(checks.compare_positions(name, rows, want[name]))
    batches.append((t_pass, time.perf_counter()))


def dist_queries(w: Workload, want: dict, seconds: float, lat: list) -> None:
    """Fresh IndexReader + wand_topk per query, in seeded order, until
    the time is up (at least one pass over the 27 queries)."""
    run = w.run
    deadline = time.perf_counter() + seconds
    i = 0
    while time.perf_counter() < deadline or i < len(w.order):
        name = w.order[i % len(w.order)]
        with run.request(f"dist:{i}"):
            t0 = time.perf_counter()
            reader = IndexReader(run.spark, w.ix)
            q = lower_mod.lower_query(name, REFERENCE_QUERIES[name])
            rows = wand_mod.wand_topk(reader, q, k=K).collect()
            lat.append((t0, time.perf_counter()))
        run.record(checks.compare_topk(name, _ranked(rows), want[name]))
        i += 1


def dist_batch(w: Workload, want: dict, tag: str, batches: list) -> None:
    """One wand_topk_batch over all 27 queries on a fresh IndexReader."""
    run = w.run
    with run.request(f"batch:{tag}"):
        t0 = time.perf_counter()
        reader = IndexReader(run.spark, w.ix)
        rows = wand_mod.wand_topk_batch(reader, w.queries, k=K).collect()
        batches.append((t0, time.perf_counter()))
    got = _batch_results(rows, w.queries)
    for n in sorted(w.queries):
        run.record(checks.compare_topk(f"batch {n}", got[n], want[n]))


class Positions(Workload):
    """Exact-match answers: query_positions(k=10) over the 27 queries in
    passes until the time is up; batch = one whole pass."""

    name = "positions"

    def setup(self) -> None:
        self.build_setup_index()
        index = self.oracle()
        self.want = {
            n: checks.expected_positions(index, self.contents, q, K)
            for n, q in self.queries.items()
        }

        def open_and_warm():
            svc = QueryService(IndexReader(self.run.spark, self.ix))
            for n in self.order:
                positions_request(svc, n)
            return svc

        # a warm-up pass costs as much as a measured one: timed once
        self.svc, self.run.setup_parts["open_warm_s"] = _timed(open_and_warm)

    def measure(self) -> None:
        self.speed.sample()
        deadline = time.perf_counter() + self.run.seconds
        p = 0
        while time.perf_counter() < deadline or not self.batches:
            positions_pass(self, self.svc, self.want, str(p), self.lat, self.batches)
            p += 1


class SearchDist(Workload):
    """The CLI / over-budget route: a fresh IndexReader + wand_topk per
    query until the time is up, then wand_topk_batch over all 27."""

    name = "search_dist"
    batch_repeats = 2

    def setup(self) -> None:
        self.build_setup_index()
        self.want = self.oracle_topk_all(self.oracle())
        self.timed_setup_step("open_s", lambda: IndexReader(self.run.spark, self.ix))

    def measure(self) -> None:
        with self.speed.sampling():
            dist_queries(self, self.want, self.run.seconds, self.lat)
            for j in range(self.batch_repeats):
                dist_batch(self, self.want, str(j), self.batches)


class Update(Workload):
    """Writes beside reads: seeded commits (one, more while another
    fits in the time), each an update_docs of one repo's files followed
    by refresh_if_stale, one cold pass of the 27 queries on the new
    snapshot and warm passes on it for half of --seconds; request = one
    warm query_topk on the updated snapshot, batch = one commit. The
    traced run then compacts the tombstones, refreshes and makes the
    cold pass again."""

    name = "update"
    trace_setup = True

    def setup(self) -> None:
        self.build_setup_index()
        self.check_fsck("after build")
        self.svc = self.timed_setup_step(
            "open_s", lambda: QueryService(IndexReader(self.run.spark, self.ix))
        )
        # live version of every python file: (repo, path) -> (doc_id, content)
        self.live = {
            (r[0], r[1]): (doc_id_of(r[0], r[1]), r[4])
            for r in self.rows if r[3] == "python"
        }
        # every version ever ingested: until compaction, replaced
        # versions stay in the collection statistics, hidden from results
        self.versions = dict(self.live.values())
        self.dead: set[int] = set()
        self.repo_order = sorted({r[0] for r in self.rows if r[0] != GOLDEN_REPO})
        random.Random(self.run.seed).shuffle(self.repo_order)
        self.n_commits = 0
        self.written: list[int] = []
        self.changed_source: list[int] = []

    def fresh_pass(self, tag: str) -> None:
        """refresh_if_stale, then the 27 queries in name order on the
        new snapshot, whose caches start empty (their spans collect in
        self.cold). Name order because later queries find terms that
        earlier ones fetched: a seeded order would change which of them
        run Spark jobs. Every result is checked against the oracle over
        every ingested version with the replaced ones hidden, which
        also becomes self.want for the warm passes."""
        run = self.run
        with run.request(f"refresh:{tag}"):
            rebound = self.svc.refresh_if_stale()
        run.record([] if rebound else [f"{tag}: refresh_if_stale saw no new snapshot"])
        results = []
        for name in sorted(self.queries):
            with run.request(f"fresh:{tag}:{name}"):
                rows, span = _spanned(self.topk_request, self.svc, name)
            self.cold.append(span)
            results.append((name, rows))
        index = build_oracle_index(sorted(self.versions.items()))
        self.want = {}
        for name, q in self.queries.items():
            ranked = oracle_topk(index, q, k=len(index.doclen))
            self.want[name] = [(d, sc) for d, sc in ranked if d not in self.dead][:K]
        for name, rows in results:
            run.record(checks.compare_topk(f"{tag} {name}", _ranked(rows), self.want[name]))

    def commit(self) -> None:
        run = self.run
        i = self.n_commits
        self.n_commits += 1
        repo = self.repo_order[i % len(self.repo_order)]
        probe = f"perfbench_commit_{i}_probe"
        batch = [
            (r, path, format(i, "040x"), "python",
             f"{content}\n\ndef {probe}():\n    return {i}\n")
            for (r, path), (_id, content) in sorted(self.live.items()) if r == repo
        ]
        before = tracing.tree_files(self.ix)
        df = run.spark.createDataFrame(batch, CORPUS)
        with run.request(f"commit:{i}"):
            _, span = _spanned(updates_mod.update_docs, run.spark, self.ix, df)
        self.batches.append(span)
        self.written.append(tracing.written_bytes(before, tracing.tree_files(self.ix)))
        self.changed_source.append(sum(len(b[4].encode("utf-8")) for b in batch))
        for r, path, _commit, _lang, content in batch:
            self.dead.add(self.live[(r, path)][0])
            new_id = checks.updated_doc_id(r, path, content)
            self.live[(r, path)] = (new_id, content)
            self.versions[new_id] = content

        self.fresh_pass(str(i))
        # the probe function exists in exactly the updated files
        q = lower_mod.lower_query("probe", f"FunctionDef(name='{probe}')")
        have = {row["doc_id"] for row in self.svc.query_topk(q, k=len(batch) + K)}
        want = {self.live[(r, p)][0] for r, p, *_ in batch}
        run.record([] if have == want else [
            f"commit {i}: probe returned {sorted(have)}, updated {sorted(want)}"
        ])

    def measure(self) -> None:
        # another commit only when one as long as the last still fits
        deadline = time.perf_counter() + self.run.seconds
        while not self.batches or (
            time.perf_counter() + self.batches[-1][1] - self.batches[-1][0] <= deadline
        ):
            with self.speed.sampling():
                self.commit()
            warm_passes(self, self.svc, self.want, f"{self.n_commits - 1}-",
                        self.run.seconds / 2, self.lat, [])

    def finish(self) -> None:
        """Traced runs only (a compaction does not fit the untraced run
        budget): compact_deletes, fsck, and one more cold pass checked
        against the oracle over the live corpus."""
        run = self.run
        if run.tracer is None:
            return
        with run.request("compact:0"):
            deletes_mod.compact_deletes(run.spark, self.ix)
        self.check_fsck("after compact_deletes")
        self.versions = dict(self.live.values())
        self.dead = set()
        self.fresh_pass("final")


class Build(Workload):
    """Cold build_index of the seeded corpus into fresh directories
    until the time is up; no serving code runs. Request and batch are
    both one whole build."""

    name = "build"

    def setup(self) -> None:
        self.corpus = self.generate_corpus()
        self.want = self.oracle_topk_all(self.oracle())

    def measure(self) -> None:
        deadline = time.perf_counter() + self.run.seconds
        with self.speed.sampling():
            while time.perf_counter() < deadline or not self.lat:
                n = len(self.lat)
                self.ix = self.run.path(f"index{n}")
                t0 = time.perf_counter()
                self.build(self.corpus, self.ix, f"build:{n}")
                self.lat.append((t0, time.perf_counter()))
        self.batches = list(self.lat)
        self.build_s = statistics.median(t1 - t0 for t0, t1 in self.lat)

    def finish(self) -> None:
        self.index_facts()
        self.check_fsck("after build")
        reader = IndexReader(self.run.spark, self.ix)
        got = _batch_results(
            wand_mod.wand_topk_batch(reader, self.queries, k=K).collect(), self.queries
        )
        for n in sorted(self.queries):
            self.run.record(checks.compare_topk(f"build {n}", got[n], self.want[n]))


WORKLOADS = {w.name: w for w in (Build, Update, Search, Positions, SearchDist)}


# -- metrics -------------------------------------------------------------------


def end_to_end(w: Workload) -> dict[str, tuple[float, str]]:
    lat = w.speed.normalised(w.lat)
    _label, tail_s = stats.tail(lat)
    return {
        "setup_s": (sum(w.run.setup_parts.values()), "s"),
        "index_bytes_per_source_byte": (w.index_bytes / w.source_bytes, "B/B"),
        "p50_norm_ms": (statistics.median(lat) * 1e3, "ms"),
        "tail_norm_ms": (tail_s * 1e3, "ms"),
        "batch_norm_ms": (statistics.median(w.speed.normalised(w.batches)) * 1e3, "ms"),
    }


def raw_summary(w: Workload) -> str:
    """The same timings unscaled, and the calibration kernel's median."""
    lat = [t1 - t0 for t0, t1 in w.lat]
    batches = [t1 - t0 for t0, t1 in w.batches]
    label, tail_s = stats.tail(lat)
    cold = [t1 - t0 for t0, t1 in w.cold]
    return (f"raw: p50 {statistics.median(lat) * 1e3:.4g} ms, {label} "
            f"{tail_s * 1e3:.4g} ms over {len(lat)} requests; batch "
            f"{statistics.median(batches) * 1e3:.4g} ms over {len(batches)}; "
            f"kernel {w.speed.kernel_ms():.4g} ms over {len(w.speed.cost)} samples"
            + (f"; cold p50 {statistics.median(cold) * 1e3:.4g} ms over {len(cold)}"
               if cold else ""))


PER_LAYER_UNITS = {
    "build.files_per_s": "files/s",
    "build.stage1_ingest_s": "s",
    "build.merge_and_encode_s": "s",
    "tokenizer.ms_per_file": "ms",
    "build.bytes.content": "B",
    "build.bytes.docs": "B",
    "build.bytes.runs": "B",
    "build.bytes.dictionary": "B",
    "build.bytes.blocks": "B",
    "build.files.blocks": "count",
    "build.merge_incremental_s": "s",
    "updates.update_docs_self_s": "s",
    "updates.bytes_written_per_source_byte": "B/B",
    "deletes.compact_s": "s",
    "serve.refresh_s": "s",
    "serve.cold_request_p50_ms": "ms",
    "serve.fetch_postings_s": "s",
    "codec.decode_block.calls": "count",
    "codec.decode_block.min_calls_per_commit": "count",
    "codec.decode_block_s": "s",
    "lower.lower_query_ms": "ms",
    "serve.resolve_groups_s": "s",
    "serve.term_meta_s": "s",
    "serve.score_s": "s",
    "serve.spark_jobs_per_request": "count",
    "serve.rss_mb": "MB",
    "matcher.match_spans.calls": "count",
    "matcher.match_spans_s": "s",
    "matcher.verify_yield": "ratio",
    "serve.score.calls_per_request": "count",
    "serve.fetch_content.calls": "count",
    "score.term_meta_s": "s",
    "score.dictionary_terms_for_s": "s",
    "wand.spark_jobs_per_query": "count",
    "wand.spark_tasks_per_query": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "error_rate": "ratio",
    "trace.request_p50_ms": "ms",
}


def _kind(request_id: str) -> str:
    return request_id.split(":", 1)[0]


def per_layer(w: Workload) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of a traced run; a layer the workload does not
    reach reads 0. *_s of the serve and score layers are seconds per
    request of the request kind that reaches them; build.* are per
    build, updates.* and build.merge_incremental_s per commit."""
    run = w.run
    jobs = run.tracer.jobs
    jobs.settle()
    spans = run.tracer.spans
    counts = {g: jobs.counts(g) for g in jobs.groups}
    by_kind: dict[str, list] = {}
    for s in spans:
        if s.request:
            by_kind.setdefault(_kind(s.request), []).append(s)
    summaries = {k: tracing.summarize(v) for k, v in by_kind.items()}
    everything = tracing.summarize(spans)

    def agg(name: str, key: str = "total_s", kinds=None) -> float:
        if kinds is None:
            return everything.get(name, {}).get(key, 0.0)
        return sum(summaries.get(k, {}).get(name, {}).get(key, 0.0) for k in kinds)

    def groups(*kinds: str) -> list[str]:
        return [g for g in counts if _kind(g) in kinds]

    def per(total: float, n: int) -> float:
        return total / n if n else 0.0

    m: dict[str, float] = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    m.update(w.facts)
    m["tokenizer.ms_per_file"] = w.tokenizer_ms_per_file()

    n_builds = len(groups("build"))
    m["build.files_per_s"] = w.python_files() / w.build_s
    m["build.stage1_ingest_s"] = per(agg("build.stage1_ingest", kinds=["build"]), n_builds)
    m["build.merge_and_encode_s"] = per(agg("build.merge_and_encode", kinds=["build"]), n_builds)

    commits = groups("commit")
    m["build.merge_incremental_s"] = per(
        agg("build.merge_incremental", kinds=["commit"]), len(commits))
    m["updates.update_docs_self_s"] = per(
        agg("updates.update_docs", "self_s", kinds=["commit"]), len(commits))
    if commits:
        m["updates.bytes_written_per_source_byte"] = sum(w.written) / sum(w.changed_source)
        # fresh requests of commit i are "fresh:<i>:<query>"
        decodes = {c.split(":")[1]: 0 for c in commits}
        for s in by_kind.get("fresh", ()):
            tag = s.request.split(":")[1]
            if s.name == "codec.decode_block" and tag in decodes:
                decodes[tag] += 1
        m["codec.decode_block.min_calls_per_commit"] = float(min(decodes.values()))
    m["deletes.compact_s"] = agg("deletes.compact_deletes", kinds=["compact"])
    m["serve.refresh_s"] = per(agg("serve.refresh", kinds=["refresh"]), len(groups("refresh")))
    if w.cold:
        m["serve.cold_request_p50_ms"] = statistics.median(t1 - t0 for t0, t1 in w.cold) * 1e3
    m["codec.decode_block.calls"] = float(agg("codec.decode_block", "calls"))
    m["codec.decode_block_s"] = agg("codec.decode_block")
    m["lower.lower_query_ms"] = per(
        agg("lower.lower_query") * 1e3, int(agg("lower.lower_query", "calls")))

    topk = ["topk", "fresh"]
    n_topk = len(groups(*topk))
    for layer, span in (
        ("serve.fetch_postings_s", "serve.fetch_postings"),
        ("serve.resolve_groups_s", "serve.resolve_groups"),
        ("serve.term_meta_s", "serve.term_meta"),
        ("serve.score_s", "serve.score"),
    ):
        m[layer] = per(agg(span, kinds=topk), n_topk)
    served = groups(*topk)
    m["serve.spark_jobs_per_request"] = per(sum(counts[g][0] for g in served), len(served))
    if groups("topk", "fresh", "positions"):
        m["serve.rss_mb"] = tracing.rss_mb()

    m["serve.score.calls_per_request"] = per(
        agg("serve.score", "calls", kinds=["positions"]), len(groups("positions")))
    m["serve.fetch_content.calls"] = agg("serve.fetch_content", "calls", kinds=["positions"])
    calls = agg("matcher.match_spans", "calls")
    m["matcher.match_spans.calls"] = float(calls)
    m["matcher.match_spans_s"] = agg("matcher.match_spans")
    m["matcher.verify_yield"] = per(agg("matcher.match_spans", "truthy"), int(calls))

    dist = groups("dist")
    m["score.term_meta_s"] = per(agg("score.term_meta", kinds=["dist"]), len(dist))
    m["score.dictionary_terms_for_s"] = per(
        agg("score.dictionary_terms_for", kinds=["dist"]), len(dist))
    m["wand.spark_jobs_per_query"] = per(sum(counts[g][0] for g in dist), len(dist))
    m["wand.spark_tasks_per_query"] = per(sum(counts[g][1] for g in dist), len(dist))

    m["spark.jobs"] = float(sum(c[0] for c in counts.values()))
    m["spark.tasks"] = float(sum(c[1] for c in counts.values()))
    m["spark.failed_tasks"] = float(sum(c[2] for c in counts.values()))
    m["error_rate"] = per(run.failed, run.attempted)
    m["trace.request_p50_ms"] = statistics.median(w.speed.normalised(w.lat)) * 1e3
    return {k: (float(v), PER_LAYER_UNITS[k]) for k, v in m.items()}
