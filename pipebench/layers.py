"""Per-layer metrics of a traced run.

Layers that fuse into one Spark stage inside a public call are measured
by calling each layer's own public function again on the inputs the run
persisted, and forcing it with a noop write inside a span of the layer's
name (``reinvoke``).  ``per_layer`` then combines those spans, the spans
around the timed operations and the Spark event log into the metrics
listed under ``per_layer`` in BENCHMARK.json.  A layer a workload does
not run reports 0.
"""

from __future__ import annotations

import os
import statistics
from collections import defaultdict

from pyspark.sql import functions as F

from spans import CHECK, SpanStats, covered, max_over_median
from workloads import dir_usage

LAYER_SPANS = "layers"
OP_SPAN = "op"


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------ reinvoke --

def reinvoke(wl, tr) -> tuple[dict, list]:
    """Run each layer of the workload's last traced operation on its own.
    Return the counts measured along the way, plus the session's peak
    memory (read before the session stops), and the checked operations
    the layer pass ran."""
    counts: dict[str, float] = defaultdict(float)
    ops: list = []
    with tr.span(LAYER_SPANS):
        {"crawl": _crawl_layers, "search": _search_layers}[wl.name](wl, tr, counts, ops)
    counts.update(peak_rss_mb(wl.spark))
    return counts, ops


def _crawl_layers(wl, tr, c, ops) -> None:
    from distributed_crawler_spark.functions.extract import parse_page_udf
    from distributed_crawler_spark.functions.urls import get_domain
    from distributed_crawler_spark.operators.frontier import fetch_extract, with_retry_count
    from distributed_crawler_spark.operators.politeness import host_budget_filter, robots_filter

    sched = wl.last_sched
    cfg = wl.cfg()
    read = wl.spark.read.parquet
    root = sched._root
    for r in sched.committed_rounds():
        pending = with_retry_count(read(f"{root}/pending/round={r}"))
        seen = read(f"{root}/seen").filter(F.col("round") <= r).select("url", "host")
        host_counts = read(f"{root}/counts/round={r}")
        with tr.span("frontier.fetch"):
            cohort, _, fetched = fetch_extract(pending, wl.pages, r, cfg.flaky_mod)
            noop(cohort)
        with tr.untraced():
            hits = fetched.filter(F.col("html").isNotNull()).localCheckpoint(eager=True)
            c["frontier.fetch_rows"] += pending.count()
            c["frontier.seen_rows"] += seen.count()
            c["extract.pages"] += hits.count()
            c["extract.html_bytes"] += hits.agg(F.sum(F.length("html"))).first()[0] or 0
        with tr.span("extract"):
            noop(hits.select(parse_page_udf(F.col("html"), F.col("url")).alias("p")))
        with tr.untraced():
            cand = (
                read(f"{root}/extracted/round={r}")
                .select(F.explode("links").alias("url"), (F.col("depth") + 1).alias("depth"))
                .groupBy("url").agg(F.min("depth").alias("depth"))
                .filter(F.col("depth") <= cfg.max_depth)
                .withColumn("host", get_domain(F.col("url")))
                .localCheckpoint(eager=True)
            )
            c["frontier.candidates"] += cand.count()
        with tr.span("frontier.antijoin"):
            fresh = cand.join(seen.select("url"), "url", "left_anti")
            noop(fresh)
        with tr.untraced():
            fresh = fresh.localCheckpoint(eager=True)
            c["politeness.rows_in"] += fresh.count()
        with tr.span("politeness"):
            out = host_budget_filter(robots_filter(fresh, wl.robots), host_counts,
                                     cfg.max_urls_per_domain, salt_buckets=cfg.salt_buckets)
            noop(out)
        with tr.untraced():
            c["politeness.rows_out"] += out.count()
    c["scheduler.state_bytes_written"], c["scheduler.state_files_written"] = dir_usage(root)


def _index_layers(wl, tr, c) -> None:
    """The write side, on the index the search set-up built."""
    from distributed_crawler_spark.operators.search import (
        build_postings_stemmed_pos,
        stemmed_tokens,
    )

    fields = list(wl.fields.values())
    with tr.span("text"):
        for df in fields:
            noop(stemmed_tokens(df))
    with tr.untraced():
        c["text.tokens"] = sum(stemmed_tokens(df).count() for df in fields)
    with tr.span("search.write.postings"):
        for df in fields:
            noop(build_postings_stemmed_pos(df))
    snap, mf = wl.snap, wl.mf
    dirs = [snap] + [os.path.join(mf, f"field={f}") for f in wl.fields]
    with tr.span("search.write.stats"):
        for d in dirs:
            p = wl.spark.read.parquet(os.path.join(d, "postings"))
            noop(p.groupBy("doc_id").agg(F.sum("tf").alias("dl")))
            noop(p.groupBy("term").agg(F.count("*").alias("df")))
    with tr.untraced():
        c["search.write.postings_rows"] = sum(
            wl.spark.read.parquet(os.path.join(d, "postings")).count() for d in dirs)
    for d in (snap, mf):
        b, n = dir_usage(d)
        c["search.write.bytes"] += b
        c["search.write.files"] += n


def _search_layers(wl, tr, c, ops) -> None:
    import time

    from distributed_crawler_spark.operators.query import parse_query

    _index_layers(wl, tr, c)
    _curate_layers(wl, tr, c, ops)
    times = []
    for q in wl.queries:
        if "query" in q:
            t0 = time.perf_counter()
            parse_query(q["query"], frozenset({"title", "body"}))
            times.append(time.perf_counter() - t0)
    c["query.parse_ms"] = _median(times) * 1000


def _curate_layers(wl, tr, c, ops) -> None:
    """The corpus curation chain the indexed docs would go through, run
    once with each stage materialized in its own span, and checked."""
    import time

    from distributed_crawler_spark.operators.dedup import exact_duplicates

    from workloads import Op, curate_chain

    docs = wl.read("curate")
    t0 = time.monotonic()
    with tr.span("curate.run"):
        final, (qual, pairs) = curate_chain(docs, tr)
        ids = sorted(r["doc_id"] for r in final.select("doc_id").collect())
    wall = time.monotonic() - t0
    n = wl.sizes["curate_docs"]
    ops.append(Op(wall, n, [], ids == wl.ref["curate"]["survivors"], kind="curate"))
    c["curate_docs_per_s"] = n / wall
    with tr.untraced():
        c["dedup.exact_groups"] = exact_duplicates(qual, text_col="scrubbed").count()
        c["dedup.near_dup_pairs"] = pairs.count()


def peak_rss_mb(spark) -> dict:
    """Peak resident memory (VmHWM) of the JVM and of the largest Python
    worker it started."""
    jvm = spark.sparkContext._gateway.proc.pid
    parent = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue

    def under_jvm(pid: int) -> bool:
        while pid > 1:
            pid = parent.get(pid, 1)
            if pid == jvm:
                return True
        return False

    workers = [p for p in parent if under_jvm(p)]
    return {
        "session.jvm_peak_rss_mb": _hwm_mb(jvm),
        "session.py_worker_peak_rss_mb": max((_hwm_mb(p) for p in workers), default=0.0),
    }


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


# ----------------------------------------------------------- per_layer --

METRICS = [
    # workload level, from the untraced phase of the run
    "crawl_urls_per_s", "round_p50_s", "index_docs_per_s", "index_bytes_per_text_byte",
    "query_p50_ms", "query_tail_ms", "bm25_p50_ms", "multifield_p50_ms", "phrase_p50_ms",
    "fuzzy_p50_ms", "curate_docs_per_s", "trace.overhead_s",
    "session.start_s", "session.jvm_peak_rss_mb", "session.py_worker_peak_rss_mb",
    "scheduler.rounds", "scheduler.round_s", "scheduler.jobs_per_round",
    "scheduler.driver_gap_s", "scheduler.state_bytes_written", "scheduler.state_files_written",
    "frontier.fetch_rows", "frontier.fetch_busy_s", "frontier.candidates", "frontier.seen_rows",
    "frontier.fresh_per_candidate", "frontier.antijoin_busy_s", "frontier.shuffle_bytes",
    "politeness.rows_in", "politeness.rows_out", "politeness.busy_s",
    "politeness.task_max_over_median",
    "extract.pages", "extract.html_bytes", "extract.busy_s", "extract.mb_per_core_s",
    "text.tokens", "text.busy_s",
    "search.write.postings_rows", "search.write.bytes", "search.write.files",
    "search.write.postings_s", "search.write.stats_s",
    "query.parse_ms", "search.plan_ms", "search.exec_ms", "search.jobs_per_query",
    "search.tasks_per_query", "search.files_read_per_query", "search.bytes_read_per_query",
    "search.rows_scanned_per_result",
    "pii.busy_s", "dedup.exact_groups", "dedup.near_dup_pairs", "dedup.busy_s",
    "dedup.shuffle_bytes", "graph.jobs", "graph.busy_s",
    "spark.jobs", "spark.tasks", "spark.task_busy_s", "spark.scheduler_delay_s", "spark.gc_s",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.busy_share",
]

UNITS = {
    "crawl_urls_per_s": "URL/s", "round_p50_s": "s", "index_docs_per_s": "doc/s",
    "index_bytes_per_text_byte": "ratio", "curate_docs_per_s": "doc/s",
    "frontier.fresh_per_candidate": "ratio", "politeness.task_max_over_median": "ratio",
    "extract.mb_per_core_s": "MB/core-s", "spark.busy_share": "ratio",
    "search.rows_scanned_per_result": "row/result", "search.bytes_read_per_query": "B",
}


def unit(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    for suffix, u in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_bytes", "B"),
                      ("bytes_written", "B"), (".bytes", "B"), ("_per_query", "count")):
        if name.endswith(suffix):
            return u
    return "count"


class SpanIndex:
    """Event-log stats rolled up over the tracer's span tree."""

    def __init__(self, tracer, stats: dict):
        self.tr = tracer
        self.stats = stats
        self.kids = defaultdict(list)
        for s in tracer.spans:
            if s["parent"] is not None:
                self.kids[s["parent"]].append(s["id"])

    def subtree(self, sid: int, skip=(CHECK,)) -> SpanStats:
        out = SpanStats()
        stack = [sid]
        while stack:
            i = stack.pop()
            if self.tr.spans[i]["name"] in skip:
                continue
            out.add(self.stats.get(str(i), SpanStats()))
            stack.extend(self.kids[i])
        return out

    def named(self, name: str) -> list[dict]:
        return [s for s in self.tr.spans if s["name"] == name]

    def total(self, name: str) -> SpanStats:
        out = SpanStats()
        for s in self.named(name):
            out.add(self.subtree(s["id"]))
        return out


def per_layer(wl, tracer, stats: dict, counts: dict, setup_ops: list, ops: list,
              traced: list, session_s: float, cores: int) -> dict:
    idx = SpanIndex(tracer, stats)
    m = defaultdict(float)
    m.update(counts)
    good = [o for o in ops if o is not None]
    tgood = [o for o in traced if o is not None]
    m["session.start_s"] = session_s
    m["trace.overhead_s"] = (_median([o.wall_s for o in tgood])
                             - _median([o.wall_s for o in good]))
    wall = sum(o.wall_s for o in good)
    rate = sum(o.items for o in good) / wall if wall else 0.0
    steps = [s for o in good for s in o.steps]
    n_ops = max(1, len(tgood))

    if wl.name == "crawl":
        m["crawl_urls_per_s"] = rate
        m["round_p50_s"] = _median(steps)
        runs = idx.named("crawl.run")[-len(tgood):] if tgood else []
        rounds = [s for o in tgood for s in o.steps]
        m["scheduler.rounds"] = _median([len(o.steps) for o in tgood])
        m["scheduler.round_s"] = _median(rounds)
        jobs = sum(len(idx.subtree(s["id"]).jobs) for s in runs)
        m["scheduler.jobs_per_round"] = jobs / max(1, len(rounds))
        gaps = []
        for s, o in zip(runs, tgood):
            intervals = idx.subtree(s["id"]).jobs
            t = s["start"]
            for dt in o.steps:
                gaps.append(dt - covered(intervals, t, t + dt))
                t += dt
        m["scheduler.driver_gap_s"] = _median(gaps)
        fetch, anti = idx.total("frontier.fetch"), idx.total("frontier.antijoin")
        m["frontier.fetch_busy_s"] = fetch.busy_s
        m["frontier.antijoin_busy_s"] = anti.busy_s
        m["frontier.shuffle_bytes"] = fetch.shuffle_write + anti.shuffle_write
        m["frontier.fresh_per_candidate"] = (
            counts["politeness.rows_in"] / counts["frontier.candidates"]
            if counts.get("frontier.candidates") else 0.0)
        pol = idx.total("politeness")
        m["politeness.busy_s"] = pol.busy_s
        m["politeness.task_max_over_median"] = max_over_median(pol)
        ext = idx.total("extract")
        m["extract.busy_s"] = ext.busy_s
        m["extract.mb_per_core_s"] = (counts["extract.html_bytes"] / 1e6 / ext.busy_s
                                      if ext.busy_s else 0.0)
    elif wl.name == "search":
        build = setup_ops[0]
        m["index_docs_per_s"] = build.items / build.wall_s
        m["index_bytes_per_text_byte"] = build.detail["bytes_per_text_byte"]
        text = idx.total("text").busy_s
        m["text.busy_s"] = text
        m["search.write.postings_s"] = max(0.0, idx.total("search.write.postings").busy_s - text)
        m["search.write.stats_s"] = idx.total("search.write.stats").busy_s
        lat = [o.wall_s * 1000 for o in good]
        m["query_p50_ms"] = _median(lat)
        m["query_tail_ms"] = tail(lat)
        for kind in ("bm25", "multifield", "phrase", "fuzzy"):
            m[f"{kind}_p50_ms"] = _median([o.wall_s * 1000 for o in good if o.kind == kind])
        qspans = [s for s in tracer.spans if s["name"].startswith("query.")]
        plan, exe, jobs, tasks, files, nbytes, rows = [], [], 0, 0, 0, 0, 0
        for s in qspans:
            st = idx.subtree(s["id"])
            first = min((a for a, _ in st.jobs), default=s["end"])
            plan.append((first - s["start"]) * 1000)
            exe.append((s["end"] - first) * 1000)
            jobs += len(st.jobs)
            tasks += st.tasks
            files += st.files_read
            nbytes += st.bytes_read
            rows += st.records_read
        nq = max(1, len(qspans))
        results = sum(o.detail["results"] for o in tgood)
        m["search.plan_ms"] = _median(plan)
        m["search.exec_ms"] = _median(exe)
        m["search.jobs_per_query"] = jobs / nq
        m["search.tasks_per_query"] = tasks / nq
        m["search.files_read_per_query"] = files / nq
        m["search.bytes_read_per_query"] = nbytes / nq
        m["search.rows_scanned_per_result"] = rows / results if results else 0.0
        # the curation chain ran once, in the layer pass
        m["pii.busy_s"] = idx.total("pii").busy_s
        dd = SpanStats()
        for name in ("dedup.exact", "dedup.pairs", "dedup.decontam"):
            dd.add(idx.total(name))
        m["dedup.busy_s"] = dd.busy_s
        m["dedup.shuffle_bytes"] = dd.shuffle_write
        g = idx.total("graph")
        m["graph.jobs"] = len(g.jobs)
        m["graph.busy_s"] = g.busy_s

    eng = idx.total(OP_SPAN)
    m["spark.jobs"] = len(eng.jobs) / n_ops
    m["spark.tasks"] = eng.tasks / n_ops
    m["spark.task_busy_s"] = eng.busy_s / n_ops
    m["spark.scheduler_delay_s"] = eng.sched_delay_s / n_ops
    m["spark.gc_s"] = eng.gc_s / n_ops
    m["spark.shuffle_write_bytes"] = eng.shuffle_write / n_ops
    m["spark.spill_bytes"] = eng.spill / n_ops
    twall = sum(o.wall_s for o in tgood)
    m["spark.busy_share"] = eng.busy_s / (twall * cores) if twall else 0.0
    return {k: {"value": float(m[k]), "unit": unit(k)} for k in METRICS}


def tail(xs: list[float]) -> float:
    """The highest percentile with at least ten samples above it: the
    11th largest sample (the maximum when there are fewer than 11)."""
    xs = sorted(xs)
    return xs[-11] if len(xs) >= 11 else (xs[-1] if xs else 0.0)
