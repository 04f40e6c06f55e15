"""The three workloads. Each one sets up, runs whole rounds of the same
engine calls until ``seconds`` of timed work have passed, then checks
the engine's outputs against the benchmark's own computations.

Only the calls inside a round's timed spans count toward the metrics;
correctness probes and checks run between or after them.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import traceback
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field

import harness
import inputs
from bruteforce import BM25Oracle, contains_phrase, hits_agree, ranking_ok

# input sizes (see README.md for why)
INGEST_BASE_DOCS = 5_000
INGEST_BATCHES = 2
INGEST_BATCH_DOCS = 500
INGEST_MAX_SEGMENTS = 4
INGEST_PROBES = 10
INGEST_WARMUP_ROUNDS = 2
BATCH_DOCS = 10_000
BATCH_QUERIES = 300
BATCH_K = 1000
BATCH_K_VALUES = [1, 3, 5, 10, 100, 1000]
BATCH_ORACLE_SAMPLE = 20
REQUEST_DOCS = 5_000
REQUEST_ROUNDS_MAX = 200


class OperationFailed(Exception):
    """An engine call raised; the round it belongs to stops there."""


@dataclass
class Run:
    spark: object
    tracer: harness.Tracer
    rss: harness.RssSampler
    work: str
    seed: int
    seconds: float
    attempted: int = 0
    failed: int = 0
    timed_s: float = 0.0
    setup_s: float = 0.0
    peak_rss_mb: float = 0.0
    problems: list = field(default_factory=list)
    setup_times: dict = field(default_factory=dict)  # span name -> seconds in set-up
    rounds: list = field(default_factory=list)       # per completed round: its call spans
    index_path: str = ""  # the index the workload reads or wrote last
    n_pages: int = 0      # pages in that index
    detail: dict = field(default_factory=dict)       # workload figures for the trace
    _calls: list = field(default_factory=list)

    def op(self, name: str, fn, *args, **kwargs):
        """One timed engine call, in a span of its own."""
        self.attempted += 1
        with self.tracer.span(name) as sp:
            try:
                out = fn(*args, **kwargs)
            except Exception as exc:  # noqa: BLE001 - counted, reported, round stops
                self.failed += 1
                traceback.print_exc(file=sys.stderr)
                raise OperationFailed(name) from exc
        self.timed_s += sp.duration
        self._calls.append(sp)
        return out

    @contextmanager
    def round(self):
        """One timed round; kept only if every call in it returned."""
        self._calls = []
        with self.tracer.span("round"):
            yield
        self.rounds.append(self._calls)

    def begin_measuring(self) -> None:
        """Set-up ends here: its time is taken from the process start, and
        what set-up ran (its warm-up included) is not reported."""
        self.tracer.collect_counts()
        self.setup_s = harness.process_age_s()
        for sp in self.tracer.spans:
            self.setup_times[sp.name] = self.setup_times.get(sp.name, 0.0) + sp.duration
            if sp.parent is None:
                print(f"perfbench: set-up span {sp.name} {sp.duration:.2f}s", file=sys.stderr)
        print(f"perfbench: set-up done at {self.setup_s:.1f}s", file=sys.stderr)
        self.tracer.spans.clear()
        self.attempted = 0
        self.timed_s = 0.0

    def more(self) -> bool:
        return self.timed_s < self.seconds

    def end_timed(self) -> None:
        self.peak_rss_mb = self.rss.stop()
        print(f"perfbench: {self.attempted} calls timed ({self.timed_s:.1f}s) by "
              f"{harness.process_age_s():.1f}s", file=sys.stderr)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.problems.append(what)

    def round_s(self) -> float:
        return harness.round_seconds(
            [[(sp.name, sp.duration) for sp in calls] for calls in self.rounds])

    def round_counts(self) -> dict:
        """Median Spark jobs, stages and tasks of a round's calls (traced
        runs; the checks that run inside a round are not counted)."""
        per_round = []
        for calls in self.rounds:
            tot = {"jobs": 0, "stages": 0, "tasks": 0}
            for sp in calls:
                for k, v in self.tracer.inclusive_counts(sp).items():
                    tot[k] += v
            per_round.append(tot)
        return {k: statistics.median(r[k] for r in per_round) for k in ("jobs", "stages", "tasks")}


def _ranked_hits(rows) -> list[tuple[int, float]]:
    rows = sorted(rows, key=lambda r: r["rank"])
    return [(int(r["doc_id"]), round(float(r["score"]), 6)) for r in rows]


def _write_pages(run: Run, n_docs: int, path: str) -> inputs.Corpus:
    """Pages 0..n_docs-1 of the engine's fixture, written as parquet in
    as many files as ``generate_pages`` makes partitions (one file is
    read back as one partition, and a build partition is an index
    segment). Returns the benchmark's own model of the texts."""
    with run.tracer.span("setup.generate_pages"):
        pdf = inputs.pages(range(n_docs))
        n_files = max(1, min(256, n_docs // 2000 or 1))
        bounds = [n_docs * i // n_files for i in range(n_files + 1)]
        os.makedirs(path)
        for i in range(n_files):
            pdf.iloc[bounds[i]:bounds[i + 1]].to_parquet(
                os.path.join(path, f"part-{i:05d}.parquet"), index=False)
    return inputs.Corpus.of_texts(range(n_docs), pdf["text"].tolist())


def _docs_by_page_id(run: Run, pages_path: str):
    """Pages with doc_id = page id (the number in the url), so checks map
    hits back to generated texts without asking the engine."""
    from pyspark.sql import functions as F

    pages = run.spark.read.parquet(pages_path)
    return pages.select(
        F.regexp_extract("url", r"doc(\d+)$", 1).cast("long").alias("doc_id"),
        "text",
        "lang",
        F.length("text").cast("long").alias("n_chars"),
    )


# --- ingest -------------------------------------------------------------------

def ingest(run: Run) -> None:
    from sgpt_spark.functions.analyzer import analyze_py
    from sgpt_spark.operators import compaction_policy
    from sgpt_spark.operators.index_search import search_index
    from sgpt_spark.operators.indexer import (
        assign_doc_ids_fast,
        build_index,
        compact_index,
        read_index,
        read_term_stats,
    )
    from sgpt_spark.streaming.incremental import append_to_index

    spark = run.spark
    pages_path = os.path.join(run.work, "pages")
    base = _write_pages(run, INGEST_BASE_DOCS, pages_path)
    batch_ids = inputs.append_page_ids(run.seed, INGEST_BATCHES, INGEST_BATCH_DOCS)
    batch_pdfs = [inputs.pages(ids) for ids in batch_ids]
    with run.tracer.span("setup.create_batches"):
        batches = [spark.createDataFrame(p[["url", "text"]]) for p in batch_pdfs]
    appended = inputs.Corpus.of_texts(
        [i for ids in batch_ids for i in ids],
        [t for p in batch_pdfs for t in p["text"]],
    )
    probes = inputs.probe_queries(run.seed, appended, INGEST_PROBES)

    def probe(path):
        postings, meta = read_index(spark, path)
        rows = search_index(
            spark, postings, meta, probes, k=10, term_stats=read_term_stats(spark, path)
        ).collect()
        return sorted((int(r["qid"]), int(r["rank"]), int(r["doc_id"]), float(r["score"]))
                      for r in rows)

    def one_round(path, observe=True):
        """Build, append, compact into ``path``; returns the observations
        the checks need. The warm-up (``observe=False``) appends one batch
        and observes nothing."""
        pages = spark.read.parquet(pages_path).select("url", "text")
        with run.tracer.span("ingest.build" if observe else "setup.build_index"):
            docs = run.op("indexer.assign_doc_ids_fast", assign_doc_ids_fast, pages)
            run.op("indexer.build_index", build_index, docs, path, py_tokenizer=analyze_py)
        obs = {}
        for b in batches if observe else batches[:1]:
            run.op("incremental.append_to_index", append_to_index, spark, b, path)
        if observe:
            obs["probe_before"] = probe(path)
        stats = run.op("compaction_policy.segment_postings_stats",
                       compaction_policy.segment_postings_stats, spark, path)
        plan = compaction_policy.plan_compaction(stats, max_segments=INGEST_MAX_SEGMENTS)
        target = len(set(plan.values())) if plan else len(stats)
        after = run.op("indexer.compact_index", compact_index, spark, path, target)
        if not observe:
            return obs
        obs["segments_after_appends"] = len(stats)
        obs["segments_after_compact"] = after
        obs["probe_after"] = probe(path)
        _, obs["meta"] = read_index(spark, path)
        obs["sum_df"] = int(read_term_stats(spark, path).agg({"df": "sum"}).collect()[0][0])
        return obs

    # warm-up in set-up: the first round in a fresh JVM runs at half speed,
    # and after one warm-up round the next two still run 10-30 % slow
    for i in range(INGEST_WARMUP_ROUNDS):
        with run.tracer.span("setup.warmup_round"):
            one_round(os.path.join(run.work, f"warmup{i}"), observe=False)
        shutil.rmtree(os.path.join(run.work, f"warmup{i}"))
    run.begin_measuring()

    rounds = []
    run.n_pages = INGEST_BASE_DOCS + INGEST_BATCHES * INGEST_BATCH_DOCS
    while run.more():
        path = os.path.join(run.work, f"round{len(rounds)}")
        try:
            with run.round():
                obs = one_round(path)
        except OperationFailed:
            break
        rounds.append(obs)
        run.tracer.collect_counts()
        # the last round's index stays for the size figures
        if run.index_path:
            shutil.rmtree(run.index_path)
        run.index_path = path
    run.end_timed()

    # checks: counts made from the generated texts
    oracle = BM25Oracle(
        list(range(len(base.texts) + len(appended.texts))), base.tokens + appended.tokens
    )
    for r, obs in enumerate(rounds):
        meta = obs["meta"]
        run.check(meta.n_docs == oracle.n_docs,
                  f"round {r}: n_docs {meta.n_docs} != {oracle.n_docs}")
        run.check(meta.total_len == oracle.total_len,
                  f"round {r}: total_len {meta.total_len} != {oracle.total_len}")
        run.check(obs["sum_df"] == oracle.sum_df(),
                  f"round {r}: sum df {obs['sum_df']} != {oracle.sum_df()}")
        run.check(obs["probe_before"] == obs["probe_after"],
                  f"round {r}: probe results changed across compaction")
        run.check(len(obs["probe_before"]) > 0, f"round {r}: probe queries found nothing")
    if rounds:
        run.detail = {
            "index.segments_after_appends": statistics.median(
                o["segments_after_appends"] for o in rounds),
            "index.segments_after_compact": statistics.median(
                o["segments_after_compact"] for o in rounds),
        }


# --- batch_top1000 --------------------------------------------------------------

def batch_top1000(run: Run) -> None:
    from pyspark.sql import functions as F

    from sgpt_spark.functions.analyzer import analyze_py
    from sgpt_spark.operators.index_search import search_index
    from sgpt_spark.operators.indexer import build_index, read_index, read_term_stats
    from sgpt_spark.operators.metrics import mean_metrics_at
    from sgpt_spark.sources.readers import read_beir_qrels, read_beir_queries
    from sgpt_spark.sources.sinks import write_results_parquet

    spark = run.spark
    pages_path = os.path.join(run.work, "pages")
    index_path = os.path.join(run.work, "index")
    corpus = _write_pages(run, BATCH_DOCS, pages_path)
    with run.tracer.span("setup.build_index"):
        build_index(_docs_by_page_id(run, pages_path).select("doc_id", "text"),
                    index_path, py_tokenizer=analyze_py)
    run.index_path, run.n_pages = index_path, BATCH_DOCS

    oracle = BM25Oracle(corpus.page_ids, corpus.tokens)
    queries = inputs.batch_queries(run.seed, corpus, oracle.df, BATCH_QUERIES)
    q_path = os.path.join(run.work, "queries.jsonl")
    qrels_path = os.path.join(run.work, "qrels.tsv")
    with open(q_path, "w") as fp:
        for qid, text, _ in queries:
            fp.write(json.dumps({"_id": qid, "text": text}) + "\n")
    with open(qrels_path, "w") as fp:
        fp.write("query-id\tcorpus-id\tscore\n")
        for qid, _, row in queries:
            fp.write(f"{qid}\t{int(corpus.page_ids[row])}\t1\n")

    def one_round(run_path, q_file):
        qs = run.op("readers.read_beir_queries", read_beir_queries, spark, q_file)
        qrels = run.op("readers.read_beir_qrels", read_beir_qrels, spark, qrels_path)
        qrels = qrels.withColumn("doc_id", F.col("doc_id").cast("long"))
        postings, meta = run.op("indexer.read_index", read_index, spark, index_path)
        tstats = run.op("indexer.read_term_stats", read_term_stats, spark, index_path)
        results = run.op("index_search.search_index", search_index, spark, postings, meta,
                         qs, k=BATCH_K, term_stats=tstats)
        # the lazy search plan executes here, inside the sink's span
        run.op("sinks.write_results_parquet", write_results_parquet, results, run_path)
        return run.op("metrics.mean_metrics_at", lambda: mean_metrics_at(
            spark.read.parquet(run_path), qrels, BATCH_K_VALUES).collect())

    # warm-up in set-up on the first 50 queries
    warm_q = os.path.join(run.work, "warm_queries.jsonl")
    with open(q_path) as src, open(warm_q, "w") as dst:
        dst.writelines(line for _, line in zip(range(50), src))
    with run.tracer.span("setup.warmup_round"):
        one_round(os.path.join(run.work, "warm_run"), warm_q)
    run.begin_measuring()

    run_path = os.path.join(run.work, "run")
    means = None
    while run.more():
        try:
            with run.round():
                means = one_round(run_path, q_path)
        except OperationFailed:
            break
        run.tracer.collect_counts()
    run.end_timed()
    if means is None:
        return

    # checks on the last round's run
    pdf = spark.read.parquet(run_path).toPandas().sort_values(["qid", "rank"])
    by_q = {qid: list(zip(g["doc_id"].astype(int), g["score"].astype(float),
                          g["rank"].astype(int)))
            for qid, g in pdf.groupby("qid", sort=False)}
    bad = [q for q, rows in by_q.items() if not ranking_ok(rows)]
    run.check(not bad, f"ranking order broken for {len(bad)} queries, e.g. {bad[:3]}")
    run.check(len(by_q) == len({q for q, t, _ in queries if t}),
              f"{len(by_q)} of {len(queries)} queries returned hits")
    step = max(1, len(queries) // BATCH_ORACLE_SAMPLE)
    for qid, text, _ in queries[::step][:BATCH_ORACLE_SAMPLE]:
        got = [(d, round(s, 6)) for d, s, _ in by_q.get(qid, [])]
        run.check(hits_agree(got, oracle.topk(text.split(), BATCH_K)),
                  f"{qid}: top-{BATCH_K} differs from brute-force BM25")
    _check_mean_metrics(run, means, by_q, queries, corpus)


def _check_mean_metrics(run: Run, means, by_q, queries, corpus) -> None:
    """The engine's mean metrics against the repository oracle's metric
    functions applied to the same run rows."""
    from oracle import bm25_oracle as ref

    fns = {"ndcg": ref.ndcg_at_k, "map": ref.map_at_k, "mrr": ref.mrr_at_k,
           "precision": ref.precision_at_k, "recall": ref.recall_at_k}
    ranked = {qid: [d for d, _, _ in rows] for qid, rows in by_q.items()}
    for r in means:
        k = int(r["k"])
        for name, fn in fns.items():
            w = sum(fn(ranked.get(qid, []), {int(corpus.page_ids[row])}, k)
                    for qid, _, row in queries) / len(queries)
            run.check(abs(float(r[name]) - w) <= 1e-6,
                      f"mean {name}@{r['k']}: engine {r[name]} != oracle {w:.7f}")


# --- search_requests ------------------------------------------------------------

def search_requests(run: Run) -> None:
    from pyspark.sql import functions as F

    from sgpt_spark.functions.analyzer import analyze_py
    from sgpt_spark.operators.indexer import read_docvalues, write_docvalues
    from sgpt_spark.operators.positions import build_positional_index
    from sgpt_spark.operators.request import search_request

    spark = run.spark
    pages_path = os.path.join(run.work, "pages")
    index_path = os.path.join(run.work, "index")
    corpus = _write_pages(run, REQUEST_DOCS, pages_path)
    with run.tracer.span("setup.build_index"):
        # pin each page's partition so the doc-values sidecar lands in the
        # same segment as the page's postings (segment == build partition)
        staged = (
            _docs_by_page_id(run, pages_path)
            .withColumn("_seg", F.spark_partition_id())
            .localCheckpoint(eager=True)
        )
        build_positional_index(staged.select("doc_id", "text"), index_path,
                               py_tokenizer=analyze_py)
        write_docvalues(
            staged.select(F.col("_seg").alias("segment"), "doc_id", "lang", "n_chars"),
            index_path,
        )
    docvalues = read_docvalues(spark, index_path)
    run.index_path, run.n_pages = index_path, REQUEST_DOCS
    rounds = inputs.request_rounds(run.seed, corpus, REQUEST_ROUNDS_MAX + 1)

    def one_request(kind, body):
        resp = run.op(f"request.search_request.{kind}", search_request,
                      spark, index_path, body, qid=0, docvalues=docvalues)
        return run.op(f"request.collect.{kind}", lambda: (
            resp["hits"].collect(),
            {n: a.collect() for n, a in resp.get("aggregations", {}).items()},
        ))

    # warm-up in set-up: the first request in a fresh JVM, and the first
    # aggregation, pay several seconds of one-off cost
    with run.tracer.span("setup.warmup_round"):
        one_request(*next(b for b in rounds[0] if b[0] == "terms_agg"))
    run.begin_measuring()

    done = []  # (kind, body, hits, aggs)
    for rnd in rounds[1:]:
        if not run.more():
            break
        answers = []
        try:
            with run.round():
                for kind, body in rnd:
                    answers.append((kind, body) + one_request(kind, body))
        except OperationFailed:
            break
        done.extend(answers)
        run.tracer.collect_counts()
    run.end_timed()

    oracle = BM25Oracle(corpus.page_ids, corpus.tokens)
    tokens = dict(zip(corpus.page_ids.tolist(), corpus.tokens))
    texts = dict(zip(corpus.page_ids.tolist(), corpus.texts))
    for kind, body, hits, aggs in done:
        q = body["query"]
        if kind in ("match", "terms_agg"):
            terms = q["match"]["text"].split()
            run.check(hits_agree(_ranked_hits(hits), oracle.topk(terms, 10)),
                      f"{kind} {terms}: hits differ from brute-force BM25")
        if kind == "bool":
            (ftype, spec), = q["bool"]["filter"][0].items()
            (fld, val), = spec.items()
            if ftype == "term":
                def keep(d, val=val):
                    return inputs.page_lang(d) == val
            else:
                def keep(d, val=val):
                    return val["gte"] <= len(texts[d]) < val["lt"]
            terms = q["bool"]["must"][0]["match"]["text"].split()
            run.check(hits_agree(_ranked_hits(hits), oracle.topk(terms, 10, keep=keep)),
                      f"bool {terms} filter {ftype} {fld} {val}: hits differ from "
                      "brute-force BM25 over the documents the filter keeps")
        if kind == "phrase":
            phrase = q["match_phrase"]["text"].split()
            run.check(len(hits) > 0, f"phrase {phrase}: no hit")
            for h in hits:
                run.check(contains_phrase(tokens[int(h["doc_id"])], phrase),
                          f"phrase hit {h['doc_id']} lacks {phrase}")
        if kind == "terms_agg":
            matching = oracle.matching(q["match"]["text"].split())
            buckets = {r["value"]: int(r["doc_count"]) for r in aggs["langs"]}
            run.check(sum(buckets.values()) == len(matching),
                      f"terms agg counts {sum(buckets.values())} != {len(matching)} matches")
            want = Counter(inputs.page_lang(int(d)) for d in matching)
            run.check(buckets == dict(want), f"terms agg buckets {buckets} != {dict(want)}")


WORKLOADS = {
    "ingest": ingest,
    "batch_top1000": batch_top1000,
    "search_requests": search_requests,
}
