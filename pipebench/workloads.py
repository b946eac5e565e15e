"""The pipebench workloads: crawl and search.

Each workload calls the program's public API the way a user does.
``prepare`` reads the generated inputs and runs a warm-up pass;
``op`` runs one timed operation and checks its output against the
reference computed by gen.py.  A workload also records the per-step
latencies its end-to-end metrics are built from.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from distributed_crawler_spark.config import CrawlConfig
from distributed_crawler_spark.functions.pii import pii_scrub
from distributed_crawler_spark.operators import dedup, graph
from distributed_crawler_spark.operators.query import (
    search_composed_indexed,
    write_multifield_index,
)
from distributed_crawler_spark.operators.scheduler import CrawlScheduler
from distributed_crawler_spark.operators.search import (
    bm25_from_index,
    phrase_from_index,
    write_index_snapshot,
)

SCORE_TOL = 2e-4


@dataclass
class Op:
    """One timed operation: wall time, work items done, per-step
    latencies (s) and what its output check found."""

    wall_s: float
    items: int
    steps: list[float]
    ok: bool
    kind: str = ""
    detail: dict = field(default_factory=dict)


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) under path."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


class Workload:
    name = ""
    block = 1  # a run measures whole blocks of this many operations

    def __init__(self, spark, data_dir: str, work_dir: str, tracer):
        self.spark = spark
        self.data = data_dir
        self.work = work_dir
        self.tracer = tracer
        with open(os.path.join(data_dir, "spec.json")) as f:
            self.spec = json.load(f)
        with open(os.path.join(data_dir, "reference.json")) as f:
            self.ref = json.load(f)
        self.sizes = self.spec["sizes"]

    def read(self, name: str):
        return self.spark.read.parquet(os.path.join(self.data, f"{name}.parquet"))

    def prepare(self) -> None:
        raise NotImplementedError

    def op(self, i: int) -> Op:
        raise NotImplementedError

    def setup_ops(self) -> list[Op]:
        """Work done during set-up whose output is checked too."""
        return []


# ------------------------------------------------------------------ crawl --

class Crawl(Workload):
    """A fresh multi-round ``CrawlScheduler.run`` over the synthetic web."""

    name = "crawl"

    def prepare(self) -> None:
        self.pages = self.read("pages")
        self.robots = self.read("robots")
        self.seeds = self.read("seeds")
        self.robots.count()
        # warm-up: one round that fetches and parses a single seed
        warm = self.spark.createDataFrame(self.seeds.orderBy("url").limit(1).collect())
        self._crawl(warm, "warm", CrawlConfig(max_depth=0))

    def cfg(self) -> CrawlConfig:
        c = self.spec["crawl"]
        return CrawlConfig(max_depth=c["max_depth"], max_urls_per_domain=c["budget"],
                           max_retries=c["max_retries"])

    def _crawl(self, seeds, tag: str, cfg: CrawlConfig):
        state = fresh_dir(os.path.join(self.work, f"crawl_{tag}"))
        sched = CrawlScheduler(self.spark, self.pages, self.robots, state, cfg)
        t_wall = time.time()
        t0 = time.monotonic()
        with self.tracer.span("crawl.run"):
            summary = sched.run(seeds=seeds)
        wall = time.monotonic() - t0
        return sched, summary, wall, t_wall

    def op(self, i: int) -> Op:
        sched, summary, wall, t_wall = self._crawl(self.seeds, "run", self.cfg())
        settled = sum(n for s, n in summary["by_status"].items()
                      if s in ("completed", "failed"))
        lineage = os.path.join(sched._root, "lineage")
        commits = [os.path.getmtime(os.path.join(lineage, f"round={r}", "_SUCCESS"))
                   for r in summary["rounds"]]
        rounds = [b - a for a, b in zip([t_wall] + commits, commits)]
        with self.tracer.untraced():
            ok = self.check(sched)
        self.last_sched = sched
        return Op(wall, settled, rounds, ok)

    def check(self, sched) -> bool:
        """Per-URL depth and status, and the round each URL was first
        scheduled in (the (round, url) crawl order)."""
        ref = self.ref["crawl"]
        first_round = {u: r for r, u in ref["order"]}
        got = {r["url"]: r for r in
               sched.frontier().select("url", "depth", "status", "round").collect()}
        return ({u: [r["depth"], r["status"]] for u, r in got.items()} == ref["frontier"]
                and {u: r["round"] for u, r in got.items() if u in first_round}
                == first_round)


def check_index(spark, index_dir: str, ref: dict) -> bool:
    """n_docs, avgdl, postings row count and sampled df against the
    reference."""
    with open(os.path.join(index_dir, "meta.json")) as f:
        meta = json.load(f)
    if meta["n_docs"] != ref["n_docs"] or abs(meta["avgdl"] - ref["avgdl"]) > 1e-6:
        return False
    if spark.read.parquet(os.path.join(index_dir, "postings")).count() != ref["rows"]:
        return False
    df = {r["term"]: r["df"] for r in
          spark.read.parquet(os.path.join(index_dir, "termstats"))
          .filter(F.col("term").isin(list(ref["df"]))).collect()}
    return df == ref["df"]


# ----------------------------------------------------------------- search --

class Search(Workload):
    """A closed loop with one client over a seeded query log, against
    indexes built during set-up."""

    name = "search"
    block = 4  # one query of each kind, so every run has the same mix

    def prepare(self) -> None:
        docs = self.read("docs").filter(F.col("doc_id") < self.sizes["search_docs"])
        self.fields = {f: docs.select("doc_id", F.col(f).alias("text"))
                       for f in ("title", "body")}
        self.snap = fresh_dir(os.path.join(self.work, "search_snap"))
        self.mf = fresh_dir(os.path.join(self.work, "search_mf"))
        t0 = time.monotonic()
        with self.tracer.span("search.write.snapshot"):
            write_index_snapshot(self.fields["body"], self.snap)
        with self.tracer.span("search.write.multifield"):
            write_multifield_index(self.fields, self.mf)
        self.build_s = time.monotonic() - t0
        self.queries = self.spec["queries"]
        self.expect = self.ref["queries"]
        # warm-up: the last four queries of the log, one of each kind
        for q in self.queries[-4:]:
            self.run_query(q)

    def setup_ops(self) -> list[Op]:
        """The set-up index build, with its output check and size."""
        ref = self.ref["index"]
        ok = check_index(self.spark, self.snap, ref["body"]) and all(
            check_index(self.spark, os.path.join(self.mf, f"field={f}"), ref[f])
            for f in ("title", "body"))
        nbytes = dir_usage(self.snap)[0] + dir_usage(self.mf)[0]
        return [Op(self.build_s, self.sizes["search_docs"], [], ok, kind="index",
                   detail={"bytes_per_text_byte": nbytes / ref["text_bytes"]})]

    def run_query(self, q: dict) -> list:
        kind = q["kind"]
        if kind == "bm25":
            df = bm25_from_index(self.spark, self.snap, q["terms"], topk=10)
        elif kind == "phrase":
            df = phrase_from_index(self.spark, self.snap, q["phrase"], topk=10)
        elif kind == "multifield":
            df = search_composed_indexed(self.spark, self.mf, q["query"], topk=10,
                                         scoring="bm25f")
        else:
            df = search_composed_indexed(self.spark, self.mf, q["query"], topk=10)
        return [[r[0], float(r[1])] for r in df.collect()]

    def op(self, i: int) -> Op:
        j = i % (len(self.queries) - 4)
        q = self.queries[j]
        t0 = time.monotonic()
        with self.tracer.span(f"query.{q['kind']}"):
            got = self.run_query(q)
        wall = time.monotonic() - t0
        return Op(wall, 1, [wall], same_topk(got, self.expect[j]), kind=q["kind"],
                  detail={"results": len(got)})


def same_topk(got: list, expect: list) -> bool:
    """Equal top-k up to ties: the same scores in the same order, and
    each returned id has its reference score."""
    if len(got) != len(expect):
        return False
    ref_score = dict((d, s) for d, s in expect)
    for (gd, gs), (_, es) in zip(got, expect):
        if abs(gs - es) > SCORE_TOL:
            return False
        if gd not in ref_score and abs(gs - expect[-1][1]) > SCORE_TOL:
            return False
        if gd in ref_score and abs(ref_score[gd] - gs) > SCORE_TOL:
            return False
    return True


# ----------------------------------------------------------------- curate --

def curate_chain(docs, tr):
    """PII scrub -> quality gate -> exact dedup -> 3-gram Jaccard near-dup
    pairs -> keep one per cluster -> 4-gram decontamination against the
    doc_id % 23 == 0 slice.  Returns (survivors, (quality-gated docs,
    near-dup pairs))."""
    with tr.span("pii"):
        scrub = pii_scrub(docs, keep=["source", "lang"]).localCheckpoint(eager=True)
    ev = scrub.filter(F.col("doc_id") % 23 == 0)
    train = scrub.filter(F.col("doc_id") % 23 != 0)
    toks = dedup.token_array(F.col("scrubbed"))
    alpha = F.size(F.regexp_extract_all(F.col("scrubbed"), F.lit("[a-zA-Z]"), 0)) / \
        F.greatest(F.length("scrubbed"), F.lit(1))
    qual = train.withColumn("n_toks", F.size(toks)).filter(
        (F.col("n_toks") >= 10) & (F.col("n_toks") <= 1000) & (alpha >= 0.5))
    with tr.span("dedup.exact"):
        keepers = dedup.exact_duplicates(qual, text_col="scrubbed").select(
            F.col("keeper").alias("doc_id"))
        cand = qual.join(keepers, "doc_id").localCheckpoint(eager=True)
    with tr.span("dedup.pairs"):
        pairs = tr.force(dedup.ngram_jaccard_pairs(cand, text_col="scrubbed", shingle_n=3,
                                                   threshold=0.5))
    with tr.span("graph"):
        survivors = tr.force(graph.keep_one_per_cluster(cand, pairs))
    with tr.span("dedup.decontam"):
        hits = tr.force(dedup.ngram_decontaminate(survivors, ev, text_col="scrubbed", n=4))
    return survivors.join(hits.select("doc_id"), "doc_id", "left_anti"), (qual, pairs)


WORKLOADS = {w.name: w for w in (Crawl, Search)}
