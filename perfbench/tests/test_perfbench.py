"""Self-tests of the benchmark's own code (no Spark, no sockets).

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import time
import types

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import run  # noqa: E402
import workload as wl  # noqa: E402
from tracing import PARENT, Tracer, covered, match_requests, self_times  # noqa: E402


# -- the seeded generator ------------------------------------------------------


def test_generator_is_deterministic_per_seed():
    a, b, c = wl.ReadStore(7), wl.ReadStore(7), wl.ReadStore(8)
    assert wl.body(a.points) == wl.body(b.points)
    assert (a.replay, a.filter_hosts, a.flight_hosts) == (b.replay, b.filter_hosts, b.flight_hosts)
    assert wl.body(a.points) != wl.body(c.points)
    p, q = wl.IngestPlan(7, bodies_per_writer=12), wl.IngestPlan(7, bodies_per_writer=12)
    assert [[x.data for x in w] for w in p.bodies] == [[x.data for x in w] for w in q.bodies]
    assert wl.body(p.warmup) == wl.body(q.warmup)


def test_read_store_shape():
    s = wl.ReadStore(3)
    assert len(s.points) == wl.READ_HOSTS * wl.READ_POINTS_PER_HOST
    assert {p.host for p in s.replay} <= {p.host for p in s.points}
    hours = {(p.time - s.t0) // wl.HOUR for p in s.replay}
    assert len(hours) == 1  # one replay chunk under the hourly template
    assert len(s.filter_hosts) == 10 and len(s.flight_hosts) == 5
    assert all(s.t0 <= p.time < s.t_end for p in s.points)


def test_ingest_plan_replays_and_slots():
    plan = wl.IngestPlan(5, bodies_per_writer=20)
    for seq in plan.bodies:
        for b in seq:
            if (b.index + 1) % wl.REPLAY_EVERY == 0:
                src = seq[b.replay_of]
                assert src.replay_of is None and src.index < b.index
                assert b.data == src.data
            else:
                assert b.replay_of is None
    fresh = [(p.host, p.time) for seq in plan.bodies for b in seq if b.replay_of is None
             for p in b.points]
    assert len(fresh) == len(set(fresh))  # new bodies never reuse a timestamp
    times = {(p.host, p.time) for seq in plan.bodies for b in seq for p in b.points}
    assert len(times) == len(plan.visible_points((20, 20)))  # replays add nothing
    assert max(t for _h, t in times) < plan.t_end


# -- statistics ------------------------------------------------------------------


def test_tail_percentile_rule():
    assert wl.tail_percentile(10) is None
    assert wl.tail_percentile(11) == 9
    assert wl.tail_percentile(20) == 50
    assert wl.tail_percentile(30) == 66
    assert wl.tail_percentile(32) == 68
    assert wl.tail_percentile(100) == 90
    for n in range(11, 300):
        p = wl.tail_percentile(n)
        xs = list(range(n))
        beyond = sum(1 for x in xs if x > wl.percentile(xs, p))
        assert beyond >= 10
        if p < 99:
            assert sum(1 for x in xs if x > wl.percentile(xs, p + 1)) < 10


def test_tail_percentiles_at_the_declared_run_length():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    assert run.tail_percentiles("storage_read", seconds) == dict.fromkeys(
        ("main", "side", "flight"), 54)  # 22 cycles
    assert run.tail_percentiles("ingest_mixed", seconds) == dict.fromkeys(
        ("main", "side", "flight"), 58)  # 24 writes, each read back twice
    whys = {w["name"]: w["why"] for w in spec["workloads"]}
    assert "p54 of 22" in whys["storage_read"] and "p58 of 24" in whys["ingest_mixed"]


def test_median_and_percentile():
    assert wl.median([3, 1, 2]) == 2
    assert wl.median([4, 1, 2, 3]) == 2.5
    assert wl.percentile([5, 1, 4, 2, 3], 60) == 3
    assert wl.percentile([5, 1, 4, 2, 3], 100) == 5


# -- self-time arithmetic and request matching ----------------------------------------


def span(name, start, end, parent=None, request=1, rtype="t"):
    return [name, start, end, parent, request, rtype, {}]


def test_self_time_with_nested_and_overlapping_children():
    spans = [
        span("root", 0, 100),
        span("a", 10, 40, 0),
        span("b", 30, 60, 0),  # overlaps a
        span("a1", 15, 20, 1),  # nested in a
        span("c", 90, 120, 0),  # sticks out of root: only 90..100 counts
    ]
    st = self_times(spans)
    assert st[0] == 100 - covered([(10, 40), (30, 60), (90, 100)]) == 40
    assert st[1] == 30 - 5
    assert st[2] == 30
    assert st[3] == 5
    assert st[4] == 30


def test_self_times_of_a_nested_tree_add_up_to_the_root():
    spans = [
        span("root", 0, 1000),
        span("x", 100, 600, 0),
        span("y", 550, 900, 0),
        span("x1", 150, 300, 1),
        span("x2", 250, 500, 1),
        span("x2a", 260, 270, 4),
    ]
    # root 200 + x 150 + y 350 + x1 150 + x2 240 + x2a 10: sibling overlaps
    # (x/y 550..600, x1/x2 250..300) count once in each sibling
    assert self_times(spans) == [200, 150, 350, 150, 240, 10]
    assert sum(self_times(spans)) == 1000 + 50 + 50
    # spans of one thread never overlap as siblings, and then the tree closes
    flat = [span("root", 0, 1000), span("x", 100, 500, 0), span("y", 500, 900, 0),
            span("x1", 150, 300, 1)]
    assert sum(self_times(flat)) == 1000


def test_covered_merges_intervals():
    assert covered([]) == 0
    assert covered([(0, 10), (5, 15), (20, 25)]) == 20
    assert covered([(0, 10), (2, 3)]) == 10


def test_match_requests_picks_the_closest_containing_client():
    clients = [(0, "write", 0, 1001), (1, "write", 1, 2001), (2, "influxql", 0, 3000)]
    roots = [(10, "write", 2, 1000), (11, "write", 3, 2000), (12, "influxql", 5, 2990),
             (13, "write", 5000, 6000)]
    assert match_requests(clients, roots) == {10: 0, 11: 1, 12: 2}


# -- the tracer -----------------------------------------------------------------------


def test_tracer_spans_nest_across_generators_and_pulled_iterators():
    lib = types.SimpleNamespace()

    def frames(n):
        for i in range(n):
            time.sleep(0.001)
            yield list(range(i + 1))

    def encode(x):
        return bytes(len(x))

    def serve(n):
        for f in lib.frames(n):
            yield lib.encode(f)

    lib.frames, lib.encode, lib.serve = frames, encode, serve
    t = Tracer()
    hooks = []
    t.on_root_enter = lambda rt, req: hooks.append(("enter", req))
    t.on_root_exit = lambda rt, req: hooks.append(("exit", req))
    t.patch(lib, "serve", "root", "gen", rtype="demo")
    t.patch(lib, "frames", "pull", "pull", attrs=lambda _a, item: {"rows": len(item)})
    t.patch(lib, "encode", "encode", attrs=lambda _a, out: {"bytes": len(out)})

    assert list(lib.serve(3)) == [b"\0", b"\0\0", b"\0\0\0"]
    assert t.spans == []  # disabled: no spans
    t.enabled = True
    assert list(lib.serve(3)) == [b"\0", b"\0\0", b"\0\0\0"]
    names = [s[0] for s in t.spans]
    assert names.count("pull") == 4 and names.count("encode") == 3
    root = t.spans[0]
    assert root[0] == "root" and root[PARENT] is None and root[6]["items"] == 3
    assert all(s[PARENT] == 0 for s in t.spans[1:])
    assert sum(s[6].get("rows", 0) for s in t.spans) == 6
    assert all(root[1] <= s[1] and s[2] <= root[2] for s in t.spans)
    assert sum(self_times(t.spans)) == root[2] - root[1]
    assert t._stack() == []
    # suspending at each item keeps the request's root on the thread
    assert hooks == [("enter", 1), ("exit", 1)]


def test_time_a_caller_holds_generator_items_is_a_child_span():
    lib = types.SimpleNamespace(serve=lambda: iter(range(3)))
    t = Tracer()
    t.patch(lib, "serve", "root", "gen", rtype="demo", suspended="held")
    t.enabled = True
    for _ in lib.serve():
        time.sleep(0.002)
    root, held = t.spans[0], t.spans[1:]
    assert [s[0] for s in held] == ["held"] * 3
    assert all(s[PARENT] == 0 and s[2] - s[1] >= 2_000_000 for s in held)
    assert self_times(t.spans)[0] == root[2] - root[1] - sum(s[2] - s[1] for s in held)


def test_generator_spans_follow_the_thread_that_resumes_them():
    import threading

    lib = types.SimpleNamespace(layer=lambda x: x)

    def serve():
        for i in range(3):
            yield lib.layer(i)

    lib.serve = serve
    t = Tracer()
    entered, exited = [], []
    t.on_root_enter = lambda rt, req: entered.append(threading.get_ident())
    t.on_root_exit = lambda rt, req: exited.append(threading.get_ident())
    t.patch(lib, "serve", "root", "gen", rtype="demo")
    t.patch(lib, "layer", "layer")
    t.enabled = True
    gen = lib.serve()
    got = [next(gen)]
    for _ in range(2):  # resume on fresh threads, as a gRPC server may
        th = threading.Thread(target=lambda: got.append(next(gen)))
        th.start()
        th.join(timeout=10)
        assert not th.is_alive()
    assert got == [0, 1, 2]
    assert [s[0] for s in t.spans] == ["root", "layer", "layer", "layer"]
    assert all(s[PARENT] == 0 for s in t.spans[1:])
    # job tags follow the request to each thread that runs it
    assert len(entered) == 3 and entered[0] == threading.get_ident() != entered[1]
    assert next(gen, None) is None and exited == [threading.get_ident()]
    # a thread still holding a suspended request's root gives it up when
    # it takes up another request
    first, second = lib.serve(), lib.serve()
    next(first)
    next(second)
    assert exited == [threading.get_ident()] * 2 and len(entered) == 5


def test_match_requests_allows_the_server_to_close_just_after_the_client():
    clients = [(0, "write", 0, 1000)]
    roots = [(5, "write", 10, 1000 + 1_000_000)]
    assert match_requests(clients, roots) == {5: 0}
    assert match_requests(clients, [(6, "write", 10, 1000 + 10**9)]) == {}


def test_layer_calls_outside_a_request_record_nothing():
    lib = types.SimpleNamespace(f=lambda: 1)
    t = Tracer()
    t.patch(lib, "f", "layer")
    t.enabled = True
    assert lib.f() == 1 and t.spans == []


# -- expected answers on hand-computed cases -------------------------------------------


def pt(host, t, usage, temp=0.0, region="r"):
    return wl.Point(host, region, t, usage, temp)


def test_expected_answers_on_a_tiny_case():
    pts = [pt("a", 0, 1.0), pt("a", 10, 3.0), pt("a", 10, 3.0), pt("b", 5, 2.5, 1.0)]
    assert wl.series_checksums(pts) == {
        ("a", "usage"): (2, 4.0, 10),
        ("a", "temp"): (2, 0.0, 10),
        ("b", "usage"): (1, 2.5, 5),
        ("b", "temp"): (1, 1.0, 5),
    }
    means = wl.window_means(pts + [pt("a", 25, 8.0)], every=20, field_names=("usage",))
    assert means == {("a", "usage"): {0: 2.0, 20: 8.0}, ("b", "usage"): {0: 2.5}}
    assert wl.row_sums(pts, ["a"], t0=0) == (2, 4.0, 0.0, 10)
    assert wl.candidate_prefixes((1, 2), (2, 2)) == [(1, 2), (2, 2)]
    assert wl.store_totals(pts, t0=0) == {"rows": 3, "keys": 3, "usage": 6.5, "temp": 1.0,
                                          "time": 15}


def test_ingest_visibility_expectations():
    plan = wl.IngestPlan(1, bodies_per_writer=3, n_hosts=4, stamps=2)
    assert plan.visible_points((0, 0)) == []
    assert plan.influxql_expected((0, 0)) == {}
    one = plan.visible_points((1, 0))
    assert one == plan.bodies[0][0].points
    assert plan.flight_expected((3, 3))[0] == sum(
        1 for p in plan.visible_points((3, 3)) if p.host in plan.flight_hosts)


def test_response_checks_on_hand_built_responses():
    from influxdb_iox_spark import storage_proto as sp
    from influxdb_iox_spark.protowire import encode_message

    def series(host, field, pts):
        tags = [{"key": b"_field", "value": field.encode()},
                {"key": b"_measurement", "value": b"cpu"},
                {"key": b"host", "value": host.encode()}]
        return encode_message({"frames": [
            {"series": {"tags": tags, "data_type": sp.DT_FLOAT}},
            {"float_points": {"timestamps": [t for t, _ in pts], "values": [v for _, v in pts]}},
        ]}, sp.READ_RESPONSE)

    op = run.Op("main", "read_filter", 0, 1, out=[series("a", "usage", [(0, 1.0), (10, 3.0)])])
    ok = run.check_read_filter({("a", "usage"): (2, 4.0, 10)})
    assert ok(op) == (None, 2)
    bad = run.check_read_filter({("a", "usage"): (2, 4.5, 10)})
    assert bad(op)[0] is not None
    # window aggregates are stamped with the window's end
    wa = run.Op("side", "window_agg", 0, 1, out=[series("a", "usage", [(20, 2.0), (40, 8.0)])])
    assert run.check_window_agg({("a", "usage"): {0: 2.0, 20: 8.0}}, 20)(wa) == (None, 2)
    assert run.check_window_agg({("a", "usage"): {0: 2.0, 20: 7.0}}, 20)(wa)[0] is not None

    body = json.dumps({"results": [{"statement_id": 0, "series": [
        {"name": "cpu", "tags": {"region": "r"}, "columns": ["time", "mean"],
         "values": [[0, 2.0], [3600, None]]}]}]}).encode()
    got = run.influxql_values(body)
    assert got == {"r": {0: 2.0}}
    assert run.same_windows(got, {"r": {0: 2.0}})
    assert not run.same_windows(got, {"r": {0: 2.0, 3600: 1.0}})


def test_benchmark_json_names_what_the_runner_prints():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == [m[0] for m in run.END_TO_END]
    assert [m["unit"] for m in spec["end_to_end"]] == [m[1] for m in run.END_TO_END]
    assert [m["name"] for m in spec["per_layer"]] == [m[0] for m in run.layer_names()]
    assert {w["name"] for w in spec["workloads"]} == set(run.ROLES)
