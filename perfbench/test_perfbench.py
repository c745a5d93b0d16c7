"""Self-tests of the benchmark harness; no Spark needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os
import random
import re

import gen
import stats
import tracing
import workloads

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")
SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def _ipc(tables: dict) -> dict:
    return {k: gen.ipc_bytes(v) for k, v in tables.items()}


def test_same_seed_same_operations_and_bytes():
    assert gen.read_ops(7, 2, 200, 5000, "t") == gen.read_ops(7, 2, 200, 5000, "t")
    assert _ipc(gen.make_tables(7, 300, 40)) == _ipc(gen.make_tables(7, 300, 40))
    a, b = gen.CdcStream(7, 5000, 300), gen.CdcStream(7, 5000, 300)
    for _ in range(4):
        assert gen.ipc_bytes(a.next_batch()) == gen.ipc_bytes(b.next_batch())


def test_other_seed_or_client_other_operations():
    base = gen.read_ops(7, 0, 200, 5000, "t")
    assert base != gen.read_ops(8, 0, 200, 5000, "t")
    assert base != gen.read_ops(7, 1, 200, 5000, "t")
    a, b = gen.CdcStream(7, 5000, 300), gen.CdcStream(8, 5000, 300)
    assert gen.ipc_bytes(a.next_batch()) != gen.ipc_bytes(b.next_batch())


def test_read_mix_and_zipf_keys():
    ops = gen.read_ops(3, 0, 4000, 10_000, "t")
    share = {k: sum(o[0] == k for o in ops) / len(ops) for k in gen.READ_KINDS}
    for kind, want in zip(gen.READ_KINDS, gen.READ_MIX):
        assert abs(share[kind] - want) < 0.03
    keys = gen.zipf_keys(gen._rng(3, 9), 5000, 10_000)
    top = max(set(keys.tolist()), key=keys.tolist().count)
    assert keys.tolist().count(top) > 5000 / 50  # the hottest key is hot


def test_cdc_stream_ops_apply_and_replay():
    tables = gen.make_tables(5, 2000, 10)
    s = gen.CdcStream(5, 2000, 100)
    batches = [s.next_batch() for _ in range(6)]
    for b in batches:
        ops = b.column("_op").to_pylist()
        assert ops.count("delete") == 10 and ops.count("insert") == 10
        assert len(set(b.column("o_orderkey").to_pylist())) == b.num_rows
    seqs = [q for b in batches for q in b.column("seq").to_pylist()]
    assert seqs == sorted(seqs) and len(set(seqs)) == len(seqs)
    out = gen.replay_cdc(tables["orders"], batches)
    assert out.num_rows == 2000  # as many inserts as deletes
    assert out.schema == tables["orders"].schema


def test_tail_leaves_ten_samples_beyond():
    rng = random.Random(1)
    for n in range(1, 400):
        xs = rng.sample(range(10_000), n)
        t = stats.tail(xs)
        if n < 20:
            assert t is None
            continue
        p, v = t
        assert sum(x > v for x in xs) >= stats.TAIL_BEYOND
        # the next whole percentile would leave fewer than ten beyond
        assert n - math.ceil((p + 1) * n / 100) < stats.TAIL_BEYOND
    assert stats.tail(list(range(100))) == (90, 89)
    assert stats.tail(list(range(20))) == (50, 9)


def test_union_length():
    assert stats.union_length([], 0, 10) == 0
    assert stats.union_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert stats.union_length([(-5, 2), (9, 20)], 0, 10) == 3


def _span(i, name, parent, start, end):
    return tracing.Span(i, name, parent, 0, start, end)


def test_self_time_subtracts_covered_child_time():
    spans = [
        _span(1, "op", None, 0.0, 10.0),
        _span(2, "a", 1, 1.0, 3.0),
        _span(3, "b", 1, 2.0, 5.0),  # overlaps a: union 1..5
        _span(4, "c", 1, 7.0, 8.0),
        _span(5, "d", 3, 2.5, 4.5),  # grandchild: only b loses it
    ]
    self_ = tracing.self_times(spans)
    assert self_ == {1: 5.0, 2: 2.0, 3: 1.0, 4: 1.0, 5: 2.0}
    assert tracing.op_of(spans) == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_tracer_nests_spans_per_thread_and_uninstalls():
    class Box:
        def outer(self):
            return self.inner() + 1

        def inner(self):
            return 1

    t = tracing.Tracer()
    t.wrap(Box, "outer", "outer")
    t.wrap(Box, "inner", "inner")
    assert Box().outer() == 2
    inner, outer = t.spans
    assert inner.parent == outer.id and outer.parent is None
    t.uninstall()
    assert Box.outer.__name__ == "outer" and not hasattr(Box.outer, "__wrapped__")


def test_requests_claim_their_handler_spans():
    spans = [
        tracing.Span(1, "engine.sql", None, 11, 1.0, 2.0, {"sql": "q"}),
        tracing.Span(2, "ipc.encode", None, 11, 2.1, 2.2),
        tracing.Span(3, "engine.sql", None, 12, 1.5, 2.5, {"sql": "q"}),
        tracing.Span(4, "engine.sql", None, 11, 5.0, 6.0, {"sql": "r"}),
    ]
    reqs = [
        {"id": 100, "sql": "q", "t0": 0.9, "t1": 2.3},
        {"id": 101, "sql": "q", "t0": 1.4, "t1": 2.6},
        {"id": 102, "sql": "r", "t0": 4.9, "t1": 6.1},
    ]
    tracing.assign_requests(spans, reqs)
    assert [s.req for s in spans] == [100, 100, 101, 102]


class _NoSpark:
    def group(self, group):
        return {"jobs": 1, "stages": 2, "tasks": 3, "run_ms": 4, "cpu_ms": 5.0,
                "sr": 6, "sw": 7, "in": 8, "intervals": [(0.0, 0.0)]}


def test_metric_names_are_valid_and_layer_metrics_match_the_spec():
    with open(SPEC) as f:
        spec = json.load(f)
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in spec[k]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert METRIC_NAME.fullmatch(n), n
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    t = tracing.Tracer()
    sp = tracing.Span(1, "cdc.apply", None, 0, 0.0, 1.0, {"group": "g"}, req=0)
    t.spans.append(sp)
    ops = [{"id": 0, "t0": 0.0, "t1": 1.0, "rows": 5, "changes": 5}]
    setup = {"setup.session_s": 1.0, "setup.build_s": 1.0, "setup.warmup_s": 1.0}
    m = workloads.layer_metrics(_NoSpark(), t, ops, setup, 1.0)
    assert set(m) - {"_self_ms"} == {x["name"] for x in spec["per_layer"]}
    assert m["cdc.apply_self_ms"] == 1000.0 and m["spark.jobs_per_op"] == 1
    for k, v in m.items():
        assert k == "_self_ms" or isinstance(v, (int, float)), k
