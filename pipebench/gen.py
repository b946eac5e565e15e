"""Seeded input generator and reference outputs for the pipebench workloads.

One process, numpy + pyarrow only: nothing here imports the program under
test, so the references below are an independent statement of what the
program must output.

    python3 pipebench/gen.py --seed 7 --size full --out .pipebench_cache

writes ``<out>/v<GEN_VERSION>-<size>-s<seed>/`` (skipped when it already
holds a complete set) with

    pages.parquet     url, warc_ts, html (binary), text, lang — one row per
                      page of the synthetic web (the program's input_hint)
    robots.parquet    host, path_prefix — disallow rules
    seeds.parquet     url
    docs.parquet      doc_id, title, body — page text for the index/search
    curate.parquet    doc_id, source, lang, text — curation input
    spec.json         sizes, crawl settings and the query log
    reference.json    expected outputs, computed here without Spark

Text model.  Content words are invented stems of the shape CVCVC or CVCVCVC
whose last letter is b, d, k or p and whose vowels are a, i, o or u.  A
Porter stemmer leaves such a stem unchanged and maps its inflections
stem+"s", stem+"ed" and stem+"ing" back to it, so the analyzed form of every
generated word is known without running a stemmer.  Stems are drawn from a
Zipf law, so posting lists range from a handful of documents to most of the
corpus.  Function words from ``FILLER`` (all on the program's stopword
list) are mixed in and vanish under analysis.
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import os
import re
import shutil
import sys
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 2

SIZES = {
    # smoke size: every workload finishes in seconds
    "tiny": dict(
        pages=240, hosts=8, links=(8, 16), body_tokens=(60, 120), pad_kb=2,
        budget=40, max_depth=2, max_retries=1, seeds_per_host=1,
        vocab=1500, search_docs=160, queries=40, curate_docs=240,
    ),
    # benchmark size: a cold Spark session, set-up and one timed crawl fit
    # well inside a minute on 4 cores (a crawl round costs seconds however
    # few pages it fetches, so the crawl is kept to three rounds)
    "full": dict(
        pages=1200, hosts=24, links=(20, 40), body_tokens=(220, 420), pad_kb=7,
        budget=100, max_depth=1, max_retries=1, seeds_per_host=3,
        vocab=12000, search_docs=400, queries=400, curate_docs=400,
    ),
}

MEGA_SHARE = 0.4          # share of pages on host 0
DANGLING_LINK_FRAC = 0.03
RELATIVE_LINK_FRAC = 0.10
FRAGMENT_LINK_FRAC = 0.03
SLASH_LINK_FRAC = 0.02
PRIVATE_PAGE_FRAC = 0.10  # pages under /x/, blocked where robots say so
FORMS = ("", "s", "ed", "ing")
FORM_P = (0.55, 0.2, 0.1, 0.15)
FORM_CDF = np.cumsum(FORM_P)[:-1]
FILLER = ("the", "and", "of", "to", "a", "in", "that", "it", "is", "was",
          "for", "on", "are", "as", "with", "at", "be")
FILLER_FRAC = 0.3
ZIPF_S = 1.0

# curation model (mirrors the chain in workloads.py)
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z0-9]+"
IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PHONE_RE = r"\+?[0-9][0-9()\- ]{5,}[0-9]"
EVAL_MOD = 23
NEAR_DUP_THRESHOLD = 0.5

K1, B = 1.2, 0.75
TOPK = 10


# ---------------------------------------------------------------- text --

def make_vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    cons = np.array(list("bdfgklmnprstvz"))
    vow = np.array(list("aiou"))
    end = np.array(list("bdkp"))
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        m = 4 * n
        long_ = rng.random(m) < 0.4
        parts = [cons[rng.integers(0, len(cons), m)], vow[rng.integers(0, 4, m)],
                 cons[rng.integers(0, len(cons), m)], vow[rng.integers(0, 4, m)]]
        mid = np.char.add(cons[rng.integers(0, len(cons), m)], vow[rng.integers(0, 4, m)])
        w = np.char.add(np.char.add(np.char.add(parts[0], parts[1]), np.char.add(parts[2], parts[3])),
                        np.where(long_, mid, ""))
        w = np.char.add(w, end[rng.integers(0, 4, m)])
        for s in w.tolist():
            if s not in seen:
                seen.add(s)
                out.append(s)
                if len(out) == n:
                    break
    return np.array(out, dtype=object)


class TextModel:
    """Zipfian stems with inflections and stopword filler."""

    def __init__(self, rng: np.random.Generator, vocab_size: int):
        self.rng = rng
        self.stems = make_vocab(rng, vocab_size)
        # stem i has Zipf rank i + 1
        p = 1.0 / np.arange(1, vocab_size + 1) ** ZIPF_S
        self.cdf = np.cumsum(p / p.sum())
        self.filler = np.array(FILLER, dtype=object)

    def draw(self, n: int) -> tuple[np.ndarray, np.ndarray]:
        """(words, stem ids) for n tokens; stem id -1 marks filler."""
        rng = self.rng
        ids = np.searchsorted(self.cdf, rng.random(n), side="right")
        ids = np.minimum(ids, len(self.stems) - 1)
        form = np.searchsorted(FORM_CDF, rng.random(n), side="right")
        words = self.stems[ids] + np.array(FORMS, dtype=object)[form]
        fill = rng.random(n) < FILLER_FRAC
        words[fill] = self.filler[rng.integers(0, len(self.filler), fill.sum())]
        ids = np.where(fill, -1, ids)
        return words, ids


def sentences(rng: np.random.Generator, words: np.ndarray) -> str:
    """Join words into '. '-separated sentences of 6-14 words."""
    out: list[str] = []
    i, n = 0, len(words)
    while i < n:
        k = int(rng.integers(6, 15))
        out.append(" ".join(words[i:i + k]))
        i += k
    return ". ".join(out) + "."


# ----------------------------------------------------------------- web --

def host_name(h: int) -> str:
    return f"h{h:03d}.example"


def build_web(rng: np.random.Generator, tm: TextModel, sz: dict):
    n, n_hosts = sz["pages"], sz["hosts"]
    # host 0 is the mega-host; the rest share the remaining pages evenly
    host_of = np.where(
        rng.random(n) < MEGA_SHARE, 0, rng.integers(1, n_hosts, n)
    )
    host_of[:n_hosts] = np.arange(n_hosts)  # every host has a page
    private = rng.random(n) < PRIVATE_PAGE_FRAC
    urls = [
        f"http://{host_name(h)}/{'x' if pv else 'a'}/{i}"
        for i, (h, pv) in enumerate(zip(host_of.tolist(), private.tolist()))
    ]
    by_host = defaultdict(list)
    for i, h in enumerate(host_of.tolist()):
        by_host[h].append(i)
    by_host = {h: np.array(v) for h, v in by_host.items()}

    # robots: some small hosts disallow /x/, a few disallow everything
    robots: dict[str, list[str]] = {}
    others = np.arange(1, n_hosts)
    rng.shuffle(others)
    n_block = max(1, round(0.08 * n_hosts))
    n_priv = max(1, round(0.2 * n_hosts))
    for h in others[:n_block].tolist():
        robots[host_name(h)] = ["/"]
    for h in others[n_block:n_block + n_priv].tolist():
        robots[host_name(h)] = ["/x/", "/gone/cold"]

    # seeds: the first pages of every host; the robots gate must drop the
    # seeds of fully blocked hosts
    k = sz["seeds_per_host"]
    seeds = [urls[int(i)] for h, v in sorted(by_host.items()) for i in v[:k]]

    titles, bodies, htmls, texts, links_out = [], [], [], [], []
    title_ids, body_ids = [], []
    lo, hi = sz["body_tokens"]
    lk_lo, lk_hi = sz["links"]
    pad = make_padding(rng, sz["pad_kb"])
    dangling_ctr = 0
    for i in range(n):
        tw, tid = tm.draw(int(rng.integers(3, 8)))
        bw, bid = tm.draw(int(rng.integers(lo, hi + 1)))
        title = " ".join(tw)
        body = sentences(rng, bw)
        titles.append(title)
        bodies.append(body)
        title_ids.append(tid)
        body_ids.append(bid)
        h = int(host_of[i])
        k = int(rng.integers(lk_lo, lk_hi + 1))
        local = by_host[h]
        tgt = np.where(rng.random(k) < 0.6, local[rng.integers(0, len(local), k)],
                       rng.integers(0, n, k))
        dang = rng.random(k) < DANGLING_LINK_FRAC
        dang_host = rng.integers(0, n_hosts, k)
        style = rng.random(k)
        hrefs, canon = [], []
        for j, dg, dh, r2 in zip(tgt.tolist(), dang.tolist(), dang_host.tolist(),
                                 style.tolist()):
            if dg:
                dangling_ctr += 1
                u = href = f"http://{host_name(dh)}/gone/{i}-{dangling_ctr}"
            else:
                u = urls[j]
                if r2 < RELATIVE_LINK_FRAC and host_of[j] == h:
                    href = u.split(host_name(h), 1)[1]
                elif r2 < RELATIVE_LINK_FRAC + FRAGMENT_LINK_FRAC:
                    href = f"{u}#s{j % 9}"
                elif r2 < RELATIVE_LINK_FRAC + FRAGMENT_LINK_FRAC + SLASH_LINK_FRAC:
                    href = u + "/"
                else:
                    href = u
            hrefs.append(href)
            canon.append(u)
        links_out.append(canon)
        htmls.append(render_page(title, body, hrefs, pad))
        texts.append(title + "\n" + body)
    return dict(
        urls=urls, host_of=host_of, robots=robots, seeds=seeds,
        titles=titles, bodies=bodies, title_ids=title_ids, body_ids=body_ids,
        htmls=htmls, texts=texts, links=links_out,
    )


def make_padding(rng: np.random.Generator, kb: int) -> tuple[str, str]:
    """Inline <style> and <script> boilerplate, about ``kb`` KB together —
    the page weight a parser skips over."""
    sel = [f".c{k} {{ margin: {k % 7}px; color: #{k * 2654435761 % 0xFFFFFF:06x}; }}"
           for k in range(kb * 12)]
    js = [f"var v{k} = {int(rng.integers(0, 10**6))}; function f{k}(a) {{ return a + v{k}; }}"
          for k in range(kb * 10)]
    return "\n".join(sel), "\n".join(js)


def render_page(title: str, body: str, hrefs: list[str], pad: tuple[str, str]) -> str:
    css, js = pad
    nav_n = min(6, len(hrefs))
    nav = "".join(f'<li><a href="{h}">menu</a></li>' for h in hrefs[:nav_n])
    # spread the remaining links over the body paragraphs
    paras = body.split(". ")
    rest = hrefs[nav_n:]
    chunks = []
    step = max(1, len(paras) // max(1, len(rest)))
    li = 0
    for k in range(0, len(paras), step):
        ptxt = ". ".join(paras[k:k + step])
        if li < len(rest):
            ptxt += f' <a href="{rest[li]}">more</a>'
            li += 1
        chunks.append(f"<p>{ptxt}</p>")
    chunks.extend(f'<p><a href="{h}">see also</a></p>' for h in rest[li:])
    return (
        '<!DOCTYPE html>\n<html lang="en"><head><meta charset="utf-8">'
        f"<title>{title}</title>"
        f'<meta name="description" content="{title}">'
        f'<meta name="keywords" content="{title.replace(" ", ",")}">'
        f"<style>\n{css}\n</style><script>\n{js}\n</script></head>\n<body>"
        f"<nav><ul>{nav}</ul></nav><main><h1>{title}</h1>\n"
        + "\n".join(chunks)
        + "</main><footer>page footer</footer></body></html>"
    )


def robots_allowed(url: str, robots: dict[str, list[str]]) -> bool:
    rest = url.split("://", 1)[1]
    host, _, path = rest.partition("/")
    rules = robots.get(host)
    if not rules:
        return True
    path = "/" + path
    return not any(path.startswith(p) for p in rules)


def crawl_reference(web: dict, pages: set[str], max_depth: int, budget: int,
                    max_retries: int) -> dict:
    """BFS by rounds with the crawl rules of tests/oracle_sim.py: depth
    gate, URL-seen dedup, robots prefix rules (default allow), a per-host
    budget consumed in url order within a round, and a failed fetch (a
    dangling link) retried at the same depth until max_retries."""
    links = dict(zip(web["urls"], web["links"]))
    seen: set[str] = set()
    host_count: dict[str, int] = defaultdict(int)
    depth_of: dict[str, int] = {}
    status: dict[str, str] = {}
    retries: dict[str, int] = defaultdict(int)
    order: list[tuple[int, str]] = []

    def admit(cands: list[tuple[str, int]]) -> list[str]:
        best: dict[str, int] = {}
        for u, d in cands:
            if u not in best or d < best[u]:
                best[u] = d
        out = []
        for u in sorted(best):
            d = best[u]
            if d > max_depth or u in seen or not robots_allowed(u, web["robots"]):
                continue
            host = u.split("://", 1)[1].split("/", 1)[0]
            if host_count[host] >= budget:
                continue
            seen.add(u)
            host_count[host] += 1
            depth_of[u] = d
            out.append(u)
        return out

    pending = admit([(u, 0) for u in web["seeds"]])
    rnd = 0
    bound = (max_depth + 1) * (max_retries + 1)
    while pending and rnd <= bound:
        found: list[tuple[str, int]] = []
        retry: list[str] = []
        for u in sorted(pending):
            if retries[u] == 0:
                order.append((rnd, u))
            if u not in pages:
                status[u] = "failed"
                if retries[u] < max_retries:
                    retries[u] += 1
                    retry.append(u)
                continue
            status[u] = "completed"
            found.extend((v, depth_of[u] + 1) for v in links[u])
        pending = admit(found) + retry
        rnd += 1
    for u in pending:
        status[u] = "pending"
    return {
        "rounds": rnd,
        "frontier": {u: [depth_of[u], status[u]] for u in sorted(status)},
        "order": order,
    }


# ------------------------------------------------------------- search --

class FieldIndex:
    """Analyzed postings of one text field: stem id -> (doc ids, tf), the
    analyzed token stream of every doc, and doc lengths."""

    def __init__(self, stem_ids: list[np.ndarray]):
        self.streams = [s[s >= 0] for s in stem_ids]
        self.dl = np.array([len(s) for s in self.streams], dtype=np.int64)
        # the program's doc stats come from postings, so a doc whose field
        # analyzes to nothing has no row and does not count
        self.n_docs = int((self.dl > 0).sum())
        self.avgdl = float(self.dl[self.dl > 0].mean())
        docs = np.repeat(np.arange(len(self.streams)), self.dl)
        terms = np.concatenate(self.streams) if self.streams else np.zeros(0, int)
        key, tf = np.unique(terms.astype(np.int64) * len(self.streams) + docs,
                            return_counts=True)
        t_of, d_of = np.divmod(key, len(self.streams))
        cut = np.flatnonzero(np.diff(t_of)) + 1
        self.post = {
            int(t[0]): (d, c)
            for t, d, c in zip(np.split(t_of, cut), np.split(d_of, cut), np.split(tf, cut))
        } if len(t_of) else {}
        self.rows = int(len(key))

    def df(self, t: int) -> int:
        return len(self.post[t][0]) if t in self.post else 0

    def idf(self, t: int) -> float:
        df = self.df(t)
        return float(np.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5)))

    def bm25(self, t: int) -> dict[int, float]:
        if t not in self.post:
            return {}
        d, tf = self.post[t]
        v = self.idf(t) * tf * (K1 + 1) / (tf + K1 * (1 - B + B * self.dl[d] / self.avgdl))
        return dict(zip(d.tolist(), v.tolist()))

    def docs_with(self, t: int) -> set[int]:
        return set(self.post[t][0].tolist()) if t in self.post else set()

    def phrase_counts(self, seq: list[int]) -> dict[int, int]:
        cand = set.intersection(*(self.docs_with(t) for t in seq))
        k = len(seq)
        out = {}
        for d in cand:
            s = self.streams[d]
            hit = np.ones(len(s) - k + 1, dtype=bool)
            for j, t in enumerate(seq):
                hit &= s[j:len(s) - k + 1 + j] == t
            c = int(hit.sum())
            if c:
                out[d] = c
        return out


def top(scores: dict[int, float], k: int = TOPK) -> list[list]:
    """Top-k as the program orders it: score (rounded to 4 places) desc,
    then id asc."""
    if not scores:
        return []
    d = np.fromiter(scores.keys(), dtype=np.int64, count=len(scores))
    v = np.round(np.fromiter(scores.values(), dtype=float, count=len(scores)), 4)
    o = np.lexsort((d, -v))[:k]
    return [[int(d[i]), float(v[i])] for i in o]


def edit1_variants(w: str) -> set[str]:
    """Every string within one edit of w over the letters a-z."""
    abc = "abcdefghijklmnopqrstuvwxyz"
    out = {w}
    for i in range(len(w) + 1):
        if i < len(w):
            out.add(w[:i] + w[i + 1:])
            out.update(w[:i] + c + w[i + 1:] for c in abc)
        out.update(w[:i] + c + w[i:] for c in abc)
    return out


def build_queries(rng: np.random.Generator, tm: TextModel, web: dict, n_docs: int,
                  n_queries: int) -> list[dict]:
    """A seeded query log over the first n_docs pages, in blocks of one
    bm25, multifield (bm25f), phrase and fuzzy query each, with terms drawn
    from head, middle and tail ranks.  A query's shape (term count, boolean
    form, field, phrase length, rank bands) depends only on its position in
    the log, so every seed's log has the same mix in the same order; the
    seed picks the terms and docs."""
    body = FieldIndex(web["body_ids"][:n_docs])
    title = FieldIndex(web["title_ids"][:n_docs])
    fields = {"body": body, "title": title}
    stems = tm.stems
    stem_id = {w: i for i, w in enumerate(stems.tolist())}
    present = np.array(sorted(body.post))
    title_present = np.array(sorted(title.post))

    def pick(pool: np.ndarray, band: str) -> int:
        # pool is sorted by stem id, i.e. by Zipf rank
        n = len(pool)
        lo, hi = {"head": (0, max(1, n // 100)), "mid": (n // 100, n // 5),
                  "tail": (n // 5, n)}[band]
        return int(pool[int(rng.integers(lo, max(lo + 1, hi)))])


    def form(t: int) -> str:
        return stems[t] + FORMS[int(np.searchsorted(FORM_CDF, rng.random(), side="right"))]

    queries = []
    kinds = ("bm25", "multifield", "phrase", "fuzzy")
    for qi in range(n_queries):
        kind, b = kinds[qi % 4], qi // 4

        def band(j: int = 0) -> str:
            return ("head", "mid", "tail")[(b + j) % 3]

        if kind == "bm25":
            ts = sorted({pick(present, band(j)) for j in range(1 + b % 3)})
            acc: dict[int, float] = defaultdict(float)
            for t in ts:
                for d, v in body.bm25(t).items():
                    acc[d] += v
            queries.append({"kind": kind, "terms": [stems[t] for t in ts],
                            "expect": top(acc)})
        elif kind == "multifield":
            q, scores = multifield_query(fields, pick, band, form, present,
                                         title_present, shape=b % 4)
            queries.append({"kind": kind, "query": q, "expect": top(scores)})
        elif kind == "phrase":
            while True:
                d = int(rng.integers(0, n_docs))
                s = body.streams[d]
                k = 2 + b % 2
                if len(s) < k + 1:
                    continue
                j = int(rng.integers(0, len(s) - k))
                seq = s[j:j + k].tolist()
                break
            phrase = " ".join(form(t) for t in seq)
            counts = body.phrase_counts(seq)
            queries.append({"kind": kind, "phrase": phrase,
                            "expect": top({d: float(c) for d, c in counts.items()})})
        else:
            field = ("body", "title", None)[b % 3]
            t = pick(present if field != "title" else title_present, band())
            q_stem = mutate(rng, stems[t])
            q_text = q_stem + ("ing" if b % 2 else "")
            scores: dict[int, float] = defaultdict(float)
            near = [stem_id[v] for v in edit1_variants(q_stem) if v in stem_id]
            for fname in ([field] if field else ["body", "title"]):
                for t2 in near:
                    if t2 in fields[fname].post:
                        d, tf = fields[fname].post[t2]
                        for di, c in zip(d.tolist(), tf.tolist()):
                            scores[di] += c
            prefix = f"{field}:" if field else ""
            queries.append({"kind": kind, "query": f"{prefix}{q_text}~1",
                            "expect": top(scores)})
    return queries


def mutate(rng: np.random.Generator, stem: str) -> str:
    """One substitution inside a stem, keeping the stem shape (so the
    query term still stems to itself)."""
    i = int(rng.integers(0, len(stem) - 1))
    pool = "aiou" if stem[i] in "aiou" else "bdfgklmnprstvz"
    return stem[:i] + pool[int(rng.integers(0, len(pool)))] + stem[i + 1:]


def multifield_query(fields, pick, band, form, present, title_present, shape: int):
    """A fielded boolean query and its BM25F reference scores: the sum
    over matched leaves and fields of per-field BM25."""
    body, title = fields["body"], fields["title"]

    def leaf_scores(field: str | None, t: int) -> dict[int, float]:
        acc: dict[int, float] = defaultdict(float)
        for f in ([field] if field else ["body", "title"]):
            for d, v in fields[f].bm25(t).items():
                acc[d] += v
        return acc

    def both(a, b):
        return {d: a[d] + b[d] for d in a.keys() & b.keys()}

    def either(a, b):
        return {d: a.get(d, 0.0) + b.get(d, 0.0) for d in a.keys() | b.keys()}

    t1 = pick(title_present, band(0))
    t2 = pick(present, band(1))
    t3 = pick(present, band(2))
    if shape == 0:
        q = f"title:{form(t1)} AND body:{form(t2)}"
        s = both(leaf_scores("title", t1), leaf_scores("body", t2))
    elif shape == 1:
        q = f"{form(t2)} OR title:{form(t1)}"
        s = either(leaf_scores(None, t2), leaf_scores("title", t1))
    elif shape == 2:
        t2 = pick(present, "head")
        q = f"body:{form(t2)} AND NOT body:{form(t3)}"
        excl = body.docs_with(t3)
        s = {d: v for d, v in leaf_scores("body", t2).items() if d not in excl}
    else:
        t4 = pick(present, band(0))
        q = f"(body:{form(t2)} OR body:{form(t4)}) AND NOT title:{form(t3)}"
        s = either(leaf_scores("body", t2), leaf_scores("body", t4))
        excl = title.docs_with(t3)
        s = {d: v for d, v in s.items() if d not in excl}
    return q, s


# ------------------------------------------------------------ curation --

def build_curate(rng: np.random.Generator, tm: TextModel, n: int) -> tuple[dict, dict]:
    """Docs with planted exact and near duplicates, PII strings, low
    quality docs and eval-set contamination; returns (columns,
    reference)."""
    texts: list[str] = []
    kinds: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.08:      # exact duplicate (after scrubbing)
            src = texts[int(rng.integers(0, i))]
            texts.append(re.sub(EMAIL_RE, f"dup{i}@mirror.org", src))
            kinds.append("exact")
        elif i > 10 and r < 0.18:    # near duplicate: some words replaced
            toks = texts[int(rng.integers(0, i))].split(" ")
            rate = float(rng.uniform(0.01, 0.12))
            for j in np.flatnonzero(rng.random(len(toks)) < rate).tolist():
                toks[j] = tm.draw(1)[0][0]
            texts.append(" ".join(toks))
            kinds.append("near")
        elif r < 0.22:               # too short
            texts.append(" ".join(tm.draw(int(rng.integers(3, 10)))[0]))
            kinds.append("short")
        elif r < 0.25:               # mostly numbers
            nums = rng.integers(0, 10**4, int(rng.integers(30, 60)))
            texts.append(" ".join(tm.draw(5)[0]) + " " + " ".join(map(str, nums.tolist())))
            kinds.append("numeric")
        else:
            w, _ = tm.draw(int(rng.integers(80, 200)))
            if r < 0.28 and i > EVAL_MOD:  # contaminated: eval span copied in
                ev = texts[EVAL_MOD * int(rng.integers(0, i // EVAL_MOD))].split(" ")
                j = int(rng.integers(0, max(1, len(ev) - 8)))
                w = np.concatenate([w[:40], np.array(ev[j:j + 8], dtype=object), w[40:]])
            text = " ".join(w)
            text = plant_pii(rng, text)
            texts.append(text)
            kinds.append("plain")
    sources = np.array(["web", "forum", "news"], dtype=object)[rng.integers(0, 3, n)]
    langs = np.array(["en", "de"], dtype=object)[(rng.random(n) < 0.2).astype(int)]
    cols = {"doc_id": np.arange(n, dtype=np.int64), "source": sources.tolist(),
            "lang": langs.tolist(), "text": texts}
    return cols, curate_reference(texts)


def plant_pii(rng: np.random.Generator, text: str) -> str:
    r = rng.random()
    if r < 0.25:
        pii = f"contact user{int(rng.integers(0, 999))}@mail{int(rng.integers(0, 9))}.com"
    elif r < 0.4:
        pii = (f"call +1 ({int(rng.integers(200, 999))}) {int(rng.integers(100, 999))}-"
               f"{int(rng.integers(1000, 9999))}")
    elif r < 0.5:
        pii = "from " + ".".join(str(int(x)) for x in rng.integers(1, 255, 4)) + " logged"
    else:
        return text
    toks = text.split(" ")
    j = int(rng.integers(0, len(toks)))
    return " ".join(toks[:j] + [pii] + toks[j:])


def curate_reference(texts: list[str]) -> dict:
    """Scrub -> quality gate -> exact dedup -> 3-gram Jaccard >= 0.5 pairs
    -> keep the smallest id per connected cluster -> drop docs sharing a
    word 4-gram with the eval slice (doc_id % 23 == 0)."""
    email, ip, phone = re.compile(EMAIL_RE), re.compile(IPV4_RE), re.compile(PHONE_RE)
    scrubbed = [phone.sub("<PHONE>", ip.sub("<IP>", email.sub("<EMAIL>", t))) for t in texts]
    toks = [[w for w in s.split(" ") if w] for s in scrubbed]
    letters = re.compile("[A-Za-z]")

    def grams(ts: list[str], k: int) -> set[str]:
        return {" ".join(ts[i:i + k]) for i in range(len(ts) - k + 1)}

    train = []
    for i, s in enumerate(scrubbed):
        if i % EVAL_MOD == 0:
            continue
        alpha = len(letters.findall(s)) / max(len(s), 1)
        if 10 <= len(toks[i]) <= 1000 and alpha >= 0.5:
            train.append(i)
    keeper: dict[str, int] = {}
    for i in train:
        h = hashlib.md5(scrubbed[i].encode()).hexdigest()
        keeper[h] = min(keeper.get(h, i), i)
    cand = sorted(keeper.values())

    # exact Jaccard >= t pairs by prefix filtering on rarest-first shingles
    sh = {i: grams(toks[i], 3) for i in cand}
    freq: dict[str, int] = defaultdict(int)
    for s in sh.values():
        for g in s:
            freq[g] += 1
    inv: dict[str, list[int]] = defaultdict(list)
    parent = {i: i for i in cand}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    n_pairs = 0
    for i in cand:
        s = sh[i]
        if not s:
            continue
        ordered = sorted(s, key=lambda g: (freq[g], g))
        plen = len(s) - int(np.ceil(NEAR_DUP_THRESHOLD * len(s))) + 1
        others: set[int] = set()
        for g in ordered[:plen]:
            others.update(inv[g])
            inv[g].append(i)
        for j in others:
            inter = len(s & sh[j])
            if 2 * inter >= len(s) + len(sh[j]) - inter:
                n_pairs += 1
                a, b = find(i), find(j)
                if a != b:
                    parent[max(a, b)] = min(a, b)
    survivors = [i for i in cand if find(i) == i]
    ev_grams: set[str] = set()
    for i in range(0, len(texts), EVAL_MOD):
        ev_grams |= grams(toks[i], 4)
    final = [i for i in survivors if not (grams(toks[i], 4) & ev_grams)]
    return {
        "survivors": final,
        "quality": len(train),
        "exact_keepers": len(cand),
        "near_dup_pairs": n_pairs,
        "after_keep_one": len(survivors),
    }


# ---------------------------------------------------------------- main --

def generate(seed: int, size: str, out_root: str) -> str:
    """Write the input set for (seed, size) under out_root unless it is
    already there; return its directory."""
    out = os.path.join(out_root, f"v{GEN_VERSION}-{size}-s{seed}")
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    sz = SIZES[size]
    rng = np.random.default_rng([GEN_VERSION, seed])
    tm = TextModel(rng, sz["vocab"])
    web = build_web(rng, tm, sz)
    queries = build_queries(rng, tm, web, sz["search_docs"], sz["queries"])
    curate_cols, curate_ref = build_curate(rng, tm, sz["curate_docs"])

    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    n = sz["pages"]
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    pq.write_table(pa.table({
        "url": pa.array(web["urls"], pa.string()),
        "warc_ts": pa.array([base + dt.timedelta(seconds=i) for i in range(n)],
                            pa.timestamp("us", tz="UTC")),
        "html": pa.array([h.encode() for h in web["htmls"]], pa.binary()),
        "text": pa.array(web["texts"], pa.string()),
        "lang": pa.array(["en"] * n, pa.string()),
    }), os.path.join(tmp, "pages.parquet"), row_group_size=256)
    rob = [(h, p) for h, ps in sorted(web["robots"].items()) for p in ps]
    pq.write_table(pa.table({
        "host": pa.array([r[0] for r in rob], pa.string()),
        "path_prefix": pa.array([r[1] for r in rob], pa.string()),
    }), os.path.join(tmp, "robots.parquet"))
    pq.write_table(pa.table({"url": pa.array(web["seeds"], pa.string())}),
                   os.path.join(tmp, "seeds.parquet"))
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "title": pa.array(web["titles"], pa.string()),
        "body": pa.array(web["bodies"], pa.string()),
    }), os.path.join(tmp, "docs.parquet"), row_group_size=256)
    pq.write_table(pa.table(curate_cols), os.path.join(tmp, "curate.parquet"),
                   row_group_size=256)

    pages = set(web["urls"])
    crawl = crawl_reference(web, pages, sz["max_depth"], sz["budget"], sz["max_retries"])
    n_docs = sz["search_docs"]
    index_ref = {
        fname: {"n_docs": fx.n_docs, "avgdl": fx.avgdl, "rows": fx.rows,
                "df": {tm.stems[t]: fx.df(t)
                       for t in sorted(fx.post)[:: max(1, len(fx.post) // 40)]}}
        for fname, fx in (("body", FieldIndex(web["body_ids"][:n_docs])),
                          ("title", FieldIndex(web["title_ids"][:n_docs])))
    }
    # indexed text: the body snapshot plus both multifield fields
    index_ref["text_bytes"] = sum(
        len(t.encode()) + 2 * len(b.encode())
        for t, b in zip(web["titles"][:n_docs], web["bodies"][:n_docs]))
    spec = {
        "gen_version": GEN_VERSION, "seed": seed, "size": size, "sizes": sz,
        "crawl": {"max_depth": sz["max_depth"], "budget": sz["budget"],
                  "max_retries": sz["max_retries"]},
        "queries": [{k: v for k, v in q.items() if k != "expect"} for q in queries],
        "html_bytes": sum(len(h.encode()) for h in web["htmls"]),
    }
    ref = {
        "crawl": crawl, "index": index_ref,
        "queries": [q["expect"] for q in queries], "curate": curate_ref,
    }
    with open(os.path.join(tmp, "spec.json"), "w") as f:
        json.dump(spec, f)
    with open(os.path.join(tmp, "reference.json"), "w") as f:
        json.dump(ref, f)
    with open(os.path.join(tmp, "DONE"), "w") as f:
        f.write("ok\n")
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--out", required=True, help="cache root directory")
    a = ap.parse_args(argv)
    print(generate(a.seed, a.size, a.out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
