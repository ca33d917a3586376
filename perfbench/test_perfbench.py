"""Self-tests of the benchmark: the tail rule, seeded inputs, the exact
ANN baseline and the event-log rollup. No Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os
import random

import pytest

from perfbench import eventlog, run, stats, workloads

HERE = os.path.dirname(os.path.abspath(__file__))
RECORDED = os.path.join(HERE, "testdata", "eventlog")
BENCHMARK_JSON = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


# --- tail percentile -------------------------------------------------------


def test_tail_needs_more_than_ten_samples():
    assert stats.tail([float(x) for x in range(10)]) is None


def test_tail_leaves_exactly_ten_samples_beyond():
    xs = [float(x) for x in range(100)]
    random.Random(0).shuffle(xs)
    t = stats.tail(xs)
    assert t == {"value": 89.0, "pct": 90.0, "n": 100}
    assert sum(x > t["value"] for x in xs) == stats.TAIL_BEYOND


def test_tail_with_eleven_samples_is_their_minimum():
    t = stats.tail([5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0])
    assert t["value"] == 1.0
    assert t["n"] == 11
    assert math.isclose(t["pct"], 100 / 11)


# --- seeded inputs ---------------------------------------------------------


def test_pass_order_is_a_seeded_permutation():
    names = ("a", "b", "c", "d", "e", "f")
    assert workloads.pass_order(names, 7, 0) == workloads.pass_order(names, 7, 0)
    assert sorted(workloads.pass_order(names, 7, 0)) == sorted(names)
    orders = {tuple(workloads.pass_order(names, seed, 0)) for seed in range(20)}
    assert len(orders) > 1
    passes = {tuple(workloads.pass_order(names, 7, p)) for p in range(20)}
    assert len(passes) > 1


def test_ann_split_is_seeded_and_partitions_the_ids():
    ids = list(range(1000, 3000))
    a = workloads.ann_split(ids, 3)
    assert a == workloads.ann_split(list(reversed(ids)), 3)
    assert a != workloads.ann_split(ids, 4)
    queries = [i for batch in a["queries"] for i in batch]
    assert len(a["queries"]) == workloads.ANN_QUERY_BATCHES
    assert all(len(b) == workloads.ANN_QUERIES_PER_BATCH for b in a["queries"])
    groups = [set(queries), set(a["late"]), set(a["base"])]
    assert sum(map(len, groups)) == len(ids)
    assert set().union(*groups) == set(ids)
    stored = len(ids) - len(queries)
    assert len(a["late"]) == stored // workloads.ANN_LATE_SHARE


def test_exact_topk_ranks_like_brute_force_topk():
    rng = random.Random(1)
    ids = list(range(40))
    vecs = [[rng.uniform(-1, 1) for _ in range(8)] for _ in ids]
    vecs[5] = [2 * x for x in vecs[4]]  # same direction: a cosine tie with 4
    cols = {"vec_id": ids, "embedding": vecs}

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return dot / math.sqrt(sum(x * x for x in a) * sum(y * y for y in b))

    queries = [0, 4, 17]
    got = workloads.exact_topk(cols, queries, ids)
    for q in queries:
        ranked = sorted((n for n in ids if n != q), key=lambda n: (-cos(vecs[q], vecs[n]), n))
        assert got[q] == set(ranked[: workloads.ANN_K])


# --- event-log rollup --------------------------------------------------------


def test_union_of_job_intervals():
    assert eventlog._union_ms([(0, 10), (5, 12), (20, 25), (21, 22)]) == 17
    assert eventlog._union_ms([]) == 0


@pytest.fixture(scope="module")
def recorded():
    with open(os.path.join(RECORDED, "spans.json")) as f:
        meta = json.load(f)
    events = eventlog.read_events(RECORDED, meta["app_id"])
    spans = [eventlog.Span(**s) for s in meta["spans"]]
    return events, spans, meta


def test_recorded_log_is_read_through_probe_jobs(recorded):
    events, _spans, _meta = recorded
    kinds = {e["Event"] for e in events}
    assert {"SparkListenerJobStart", "SparkListenerTaskEnd"} <= kinds


def _tagged(events, kind, span):
    tag = f"{eventlog.SPAN_TAG}{span}"
    return [
        e
        for e in events
        if e["Event"] == kind
        and tag in (e.get("Properties") or {}).get("spark.job.tags", "").split(",")
    ]


def test_rollup_counts_match_the_tagged_events(recorded):
    events, spans, _meta = recorded
    c = eventlog.span_counters(events)
    assert set(c) == {sp.index for sp in spans}
    for sp in spans:
        jobs = _tagged(events, "SparkListenerJobStart", sp.index)
        stages = _tagged(events, "SparkListenerStageSubmitted", sp.index)
        keys = {(s["Stage Info"]["Stage ID"], s["Stage Info"]["Stage Attempt ID"]) for s in stages}
        tasks = [
            e
            for e in events
            if e["Event"] == "SparkListenerTaskEnd" and (e["Stage ID"], e["Stage Attempt ID"]) in keys
        ]
        assert c[sp.index]["jobs"] == len(jobs) > 0
        assert c[sp.index]["stages"] == len(stages)
        assert c[sp.index]["tasks"] == len(tasks)
        written = sum(t["Task Metrics"]["Shuffle Write Metrics"]["Shuffle Bytes Written"] for t in tasks)
        assert c[sp.index]["shuffle_write"] == written


def test_rollup_layers_on_the_recorded_log(recorded):
    events, spans, meta = recorded
    c = eventlog.span_counters(events)
    by_name = {sp.name: sp for sp in spans}
    # the registered builder ran eager jobs; its sink scanned parquet
    q = by_name[meta["query"]]
    assert c[q.index]["eager_jobs"] > 0
    assert c[q.index]["files_read"] > 0
    assert c[q.index]["scan_bytes"] > 0
    # the Arrow kernel call spent time in Python workers; the shuffle call did not
    py = by_name["ann.search"]
    assert c[py.index]["py_total_ms"] > 0
    assert c[py.index]["py_sent"] > 0 and c[py.index]["py_recv"] > 0
    m = eventlog.layer_metrics(spans, c, cores=4, per=1)
    assert m["exec.jobs"] == sum(c[sp.index]["jobs"] for sp in spans)
    assert m["plans.eager_jobs"] == c[q.index]["eager_jobs"]
    assert m["ann.search.jobs"] == c[py.index]["jobs"]
    assert m["ann.build.jobs"] == m["ann.append.jobs"] == 0
    wall = sum(sp.end - sp.start for sp in spans)
    busy = sum(c[sp.index]["job_busy_ms"] for sp in spans) / 1000
    assert math.isclose(m["exec.driver_gap_s"], wall - busy)
    assert 0 < m["exec.core_util"] <= 1
    assert 0 <= m["exec.empty_task_share"] <= 1
    assert m["py.total_s"] > 0


# --- BENCHMARK.json names what a run prints ---------------------------------


def _declared(section):
    with open(BENCHMARK_JSON) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def test_end_to_end_metrics_are_the_declared_ones():
    setup = {"setup_s": 1.0}
    got = run._end_to_end(setup, [run.Pass(3.0, 2.0, 0.0, []), run.Pass(4.0, 3.0, 0.0, [])])
    assert {k: unit for k, (_v, unit) in got.items()} == _declared("end_to_end")


def test_process_tree_cpu_grows_with_work():
    before = run.tree_cpu_s()
    sum(i * i for i in range(2_000_000))
    assert run.tree_cpu_s() > before


def test_per_layer_metrics_are_the_declared_ones(recorded):
    events, spans, _meta = recorded
    setup = {"start_s": 1.0, "worker_warm_s": 2.0}
    passes = [run.Pass(5.0, 4.0, 0.0, spans)]
    summary = {"recall_at_k": 0.5, "store_bytes_per_input_byte": 2.0, "store_files": 3}
    got = run._per_layer(setup, passes, passes, spans, eventlog.span_counters(events), 4, summary)
    assert {k: unit for k, (_v, unit) in got.items()} == _declared("per_layer")
