"""Smoke check of the benchmark itself.

    python3 -m pytest pipebench/test_smoke.py -q      (from the repo root)

Checks the generator's text and web model against the program's own
pure-Python analyzer, parser and crawl oracle, then runs every workload at
the tiny size in both modes: each must pass its output checks and print
every metric BENCHMARK.json lists, with its unit.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "pipebench"), os.path.join(ROOT, "tests")]

import gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def test_text_and_web_model_match_the_program():
    from distributed_crawler_spark.functions.extract import parse_page_py
    from distributed_crawler_spark.functions.text import porter_stem, process_text_py
    from distributed_crawler_spark.operators.textstats import EN_STOPWORDS

    import oracle_sim

    sz = gen.SIZES["tiny"]
    rng = np.random.default_rng([gen.GEN_VERSION, 3])
    tm = gen.TextModel(rng, sz["vocab"])
    assert set(gen.FILLER) <= set(EN_STOPWORDS)
    for w in tm.stems:
        assert w not in EN_STOPWORDS
        assert {porter_stem(w + f) for f in gen.FORMS} == {w}
    web = gen.build_web(rng, tm, sz)
    for i, url in enumerate(web["urls"]):
        assert process_text_py(web["bodies"][i]) == [tm.stems[t] for t in web["body_ids"][i]
                                                     if t >= 0]
        assert parse_page_py(web["htmls"][i], url)["links"] == web["links"][i]
    pages = {u: h.encode() for u, h in zip(web["urls"], web["htmls"])}
    ref = gen.crawl_reference(web, set(pages), sz["max_depth"], sz["budget"],
                              sz["max_retries"])
    order, front, _, _ = oracle_sim.simulate(
        pages, web["robots"], sorted(web["seeds"]), sz["max_depth"], sz["budget"],
        True, sz["max_retries"])
    assert {u: list(v) for u, v in front.items()} == ref["frontier"]
    assert [(r, u) for _, r, u in order] == ref["order"]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_runs_checks_and_reports_every_metric(workload, trace, tmp_path):
    cmd = BENCH["command"] + [
        "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace),
        "--size", "tiny", "--work", str(tmp_path / "work"),
        "--cache", str(tmp_path.parent / "pipebench_cache")]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = BENCH["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}
    for m in want:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
        assert isinstance(result["metrics"][m["name"]]["value"], float)


def test_refuses_to_run_without_the_program(tmp_path):
    os.makedirs(tmp_path / "pipebench")
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "pipebench", "run.py"), "--workload",
         WORKLOADS[0], "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0 and not p.stdout.strip()
