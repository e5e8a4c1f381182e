"""Self-tests of the benchmark. Run from the repository root:

    python3 -m pytest perfbench/selftest.py -q -p no:cacheprovider

(The file name keeps it out of a plain ``pytest`` run of the repository.)
The generator, tracer and file-format tests take seconds; the three tests
that run the benchmark start Spark in a subprocess and take about a
minute each.
"""

from __future__ import annotations

import json
import os
import pickle
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import inputs  # noqa: E402
import oracle  # noqa: E402
import tracing  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _stream_text(st) -> list[str]:
    return [repr(q["query"]) for k in ("warm", "first", "repeat", "dist") for q in st[k]] + [
        str(i) for i in st["order"][:500]
    ]


def test_same_seed_same_inputs():
    a, b = gen.Corpus(5, 400, 3000, 60), gen.Corpus(5, 400, 3000, 60)
    assert a.digest() == b.digest()
    assert a.frame().equals(b.frame())
    sa, sb = gen.streams(a, 5, hot_df=20), gen.streams(b, 5, hot_df=20)
    assert _stream_text(sa) == _stream_text(sb)
    c = gen.Corpus(6, 400, 3000, 60)
    assert c.digest() != a.digest()
    assert _stream_text(gen.streams(c, 6, hot_df=20)) != _stream_text(sa)


@pytest.mark.parametrize("workload", ["search", "ingest_search"])
def test_same_seed_same_input_files(workload, tmp_path):
    made = []
    for side in ("a", "b"):
        work = str(tmp_path / side)
        inputs.main(["--workload", workload, "--seed", "5", "--work", work])
        d = inputs.input_dir(work, workload, 5)
        made.append({os.path.relpath(os.path.join(r, f), d): open(os.path.join(r, f), "rb").read()
                     for r, _, fs in os.walk(d) for f in fs})
    assert made[0] == made[1] and "inputs.pkl" in made[0]


def test_generated_text_analyzes_to_generated_words():
    from lucene_spark.analysis import tokenize

    c = gen.Corpus(7, 50, 3000, 60, sentinels={3: "qxabcsentinel"})
    for i in range(len(c)):
        words = [c.vocab[j] for j in c.ids[c.offsets[i] : c.offsets[i + 1]]]
        assert tokenize(c.content[i]) == words
    assert c.content[3].startswith("qxabcsentinel")


def test_first_seen_words_are_unique_and_untouched():
    c = gen.Corpus(8, 3000, 20000, 100)
    st = gen.streams(c, 8, hot_df=150)
    seen: list[str] = []
    for q in st["warm"] + st["first"]:
        seen += sorted(q["oracle"].clauses[i][1].term for i in range(2))
    assert len(seen) == len(set(seen))
    other = set()
    for q in st["repeat"] + st["dist"]:
        other |= oracle._terms(q["oracle"], c.vocab) if q["oracle"] is not None else set()
    assert not other & set(seen)


def test_perturbed_expected_hit_is_a_mismatch():
    want = [(3, 1.25), (9, 1.0)]
    assert oracle.same_hits(list(want), want)
    assert not oracle.same_hits([(3, 1.25), (9, 1.0000001)], want)
    assert not oracle.same_hits([(9, 1.0), (3, 1.25)], want)
    assert not oracle.same_hits(want[:1], want)


def test_scaled_latency_follows_the_reference_kernel():
    import workloads

    run = workloads.Run()
    # the host halves its speed after the 30th reference sample: the
    # queries' and the kernel's times double together
    run.ref = [0.001] * 30 + [0.002] * 30
    run.kind_lat = {"repeat.term.0": [0.004] * 30 + [0.008] * 30, "first.first": [0.1]}
    run.kind_ref = {"repeat.term.0": list(range(60))}
    got = workloads.scaled(run)
    assert list(got) == ["repeat.term.0"]
    want = 0.004 * workloads.REF_NOMINAL_MS
    assert all(abs(v - want) < 1e-12 for v in got["repeat.term.0"])
    assert abs(gen.class_ms(got) - want * 1e3) < 1e-9


def test_wrappers_installed_at_call_sites_and_restored():
    import lucene_spark.codec.forutil as forutil
    import lucene_spark.index.reader as reader
    import lucene_spark.search.engine as engine
    import lucene_spark.search.wand as wand

    before = {
        "reader.unpack_postings": reader.unpack_postings,
        "forutil.unpack_postings": forutil.unpack_postings,
        "engine.wand_top_k": engine.wand_top_k,
        "wand.decode_blocks": wand.decode_blocks,
        "collect_rows": vars(reader.SearchIndex)["collect_rows"],
        "search": vars(engine.Searcher)["search"],
    }
    t = tracing.Tracer()
    t.install()
    try:
        assert reader.unpack_postings is forutil.unpack_postings
        assert reader.unpack_postings is not before["reader.unpack_postings"]
        assert engine.wand_top_k is not before["engine.wand_top_k"]
        assert wand.decode_blocks is not before["wand.decode_blocks"]
        assert vars(engine.Searcher)["search"] is not before["search"]
    finally:
        t.uninstall()
    after = {
        "reader.unpack_postings": reader.unpack_postings,
        "forutil.unpack_postings": forutil.unpack_postings,
        "engine.wand_top_k": engine.wand_top_k,
        "wand.decode_blocks": wand.decode_blocks,
        "collect_rows": vars(reader.SearchIndex)["collect_rows"],
        "search": vars(engine.Searcher)["search"],
    }
    assert after == before


def test_spans_and_self_time():
    t = tracing.Tracer()
    outer = t._wrap("outer", lambda f: f())
    inner = t._wrap("inner", lambda: sum(range(10000)))
    with t.op("s"):
        outer(inner)
    n, wall, c = t.stream_totals("s")
    assert n == 1 and wall > 0
    by = {s.name: s for s in t.spans}
    assert by["inner"].parent == "outer" and by["inner"].op == by["outer"].op == 0
    assert abs(by["outer"].self_time + by["inner"].dur - by["outer"].dur) < 1e-9
    assert c["inner.calls"] == 1 and c["outer.calls"] == 1


def test_benchmark_json_shape():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]] + [w["name"] for w in SPEC["workloads"]]
    assert len(names) == len(set(names))
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    import run

    assert set(SPEC["command"][1:]) <= {"perfbench/run.py"}
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        SPEC["command"] + ["--workload", "search", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=180,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def _run(workload: str, trace: int, seed: int = 3) -> dict:
    p = subprocess.run(
        SPEC["command"] + ["--workload", workload, "--seed", str(seed), "--seconds", "2", "--trace", str(trace)],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def _check_result(res: dict, kind: str, correct: bool = True) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    want = {m["name"]: m["unit"] for m in SPEC[kind]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert res["attempted"] >= 1 and res["correct"] is correct and (res["failed"] == 0) is correct


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_prints_every_end_to_end_metric(workload):
    res = _run(workload, 0)
    _check_result(res, "end_to_end")
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_run_prints_layers_and_perturbed_hit_fails():
    """Traced run with one expected hit perturbed: every per-layer
    metric is printed, and the perturbation is counted as a failed
    operation."""
    work = os.path.join(ROOT, ".perfbench")
    data = inputs.ensure(work, "search", 4)
    path = os.path.join(data.pop("dir"), "inputs.pkl")
    d, s = data["expected_first"][0][0]
    data["expected_first"][0][0] = (d, s + 1.0)
    with open(path, "wb") as fh:
        pickle.dump(data, fh)
    try:
        res = _run("search", 1, seed=4)
    finally:
        shutil.rmtree(os.path.dirname(path))
    _check_result(res, "per_layer", correct=False)
    assert res["failed"] >= 1
