"""Tests of the benchmark's own code; no Spark needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
from pathlib import Path

from perfbench import inputs, trace, workloads

ROOT = Path(__file__).resolve().parent.parent


def test_inputs_depend_only_on_the_seed():
    a = inputs.generate(5, 50, 2, 30, 3, n_batches=2, batch_size=4)
    b = inputs.generate(5, 50, 2, 30, 3, n_batches=2, batch_size=4)
    c = inputs.generate(6, 50, 2, 30, 3, n_batches=2, batch_size=4)
    assert a == b
    assert a.corpus != c.corpus


def test_corpus_shape():
    docs = inputs.docs(1, 0, 300)
    lens = [len(t.split()) for _u, t in docs]
    assert min(lens) >= inputs.LEN_MIN and max(lens) <= inputs.LEN_MAX
    assert len({u for u, _t in docs}) == 300
    words = [w for _u, t in docs for w in t.split()]
    # Zipf: the rank-1 word is by far the most frequent
    assert words.count(inputs.VOCAB[0]) > 5 * words.count(inputs.VOCAB[50])


def test_inserts_continue_the_corpus_and_never_repeat_a_url():
    x = inputs.generate(2, 40, 1, 10, 1, n_batches=3, batch_size=5)
    urls = [u for u, _t in x.corpus] + [u for b in x.inserts for u, _t in b]
    assert len(urls) == len(set(urls)) == 55


def test_streams_cycle_shapes_and_repeat():
    x = inputs.generate(3, 40, 2, 60, 2)
    for k, s in enumerate(x.streams):
        fresh = s[::3]  # each fresh text is followed by 2 repeats
        shapes = [q.shape for q in fresh]
        start = inputs.SHAPES.index(shapes[0])
        assert start == k * len(inputs.SHAPES) // 2
        assert shapes == [inputs.SHAPES[(start + i) % len(inputs.SHAPES)]
                          for i in range(len(shapes))]
        seen = []
        for i, q in enumerate(s):
            if i % 3 == 0:
                seen.append(q.text)
            else:  # repeats cycle through the texts already sent
                assert q.text == seen[(i - i // 3 - 1) % len(seen)]


def test_phrase_queries_match_a_document():
    x = inputs.generate(4, 60, 1, 200, 0)
    texts = [t for _u, t in x.corpus]
    for q in x.streams[0]:
        if q.shape == "phrase":
            assert any(q.text.strip('"') in t for t in texts)


def test_oracle_check_counts_mismatches():
    docs = inputs.docs(9, 0, 30)
    oracle = workloads.make_oracle(docs)
    q = inputs.Query("single", f"'{inputs.VOCAB[0]}'")
    exp = oracle.search(q.text, k=workloads.K)
    good = {"result": [{"uri": u, "score": s} for _d, u, s in exp]}
    bad = {"result": [{"uri": u, "score": s + 1e-3} for _d, u, s in exp]}
    recs = [{"q": q, "status": 200, "payload": good},
            {"q": q, "status": 200, "payload": bad},
            {"q": q, "status": 500, "payload": None}]
    assert workloads.check(oracle, recs) == 2


def test_fresh_after_writes_texts_match_and_depend_only_on_the_seed():
    x = inputs.generate(7, 300, 1, 20, 9)
    fresh = workloads._fresh_after_writes(x, 7)
    assert fresh == workloads._fresh_after_writes(x, 7)
    assert [q.shape for q in fresh] == ["single", "completion"]
    oracle = workloads.make_oracle(x.corpus)
    for q in fresh:
        assert workloads.expected(oracle, q)


def test_firsts_takes_each_readers_first_query():
    recs = [{"thread": th, "t0": t0} for th, t0 in [(1, 0.0), (2, 0.1), (1, 5.0),
                                                      (2, 6.0), (1, 7.0)]]
    assert sorted((r["thread"], r["t0"]) for r in workloads._firsts(recs)) == [
        (1, 0.0), (2, 0.1)]


def test_union_and_self_times():
    assert trace.union_len([(0, 2), (1, 3), (5, 6)]) == 4
    t = trace.Tracer(True)
    t.lane(True)
    with t.span("outer") as outer:
        with t.span("inner"):
            pass
    t.lane(False)
    inner = next(s for s in t.spans if s.name == "inner")
    assert inner.parent == outer.sid
    st = trace.self_times(t.spans)
    total = outer.t1 - outer.t0
    assert abs(st["outer"] + st["inner"] - total) < 1e-9
    assert trace.unattributed(t.spans, t.lanes) >= 0


def test_disabled_tracer_records_nothing():
    t = trace.Tracer(False)
    with t.span("x") as s:
        assert s is None
    assert t.spans == []


def test_event_log_rollup(tmp_path):
    log = tmp_path / "app"
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [1],
         "Properties": {"spark.jobGroup.id": "engine.collect"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 1500, "Memory Bytes Spilled": 3,
            "Shuffle Read Metrics": {"Local Bytes Read": 10},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task Metrics": {"Executor Run Time": 500}},
    ]
    log.write_text("\n".join(json.dumps(e) for e in events))
    r = trace.event_log_rollup(str(log))
    assert r["engine.collect"] == {"task_s": 1.5, "shuffle_read_bytes": 10,
                                   "shuffle_write_bytes": 7, "spill_bytes": 3}
    assert r[trace.UNGROUPED]["task_s"] == 0.5


def test_benchmark_json_lists_the_workloads():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
