"""The benchmark's own arithmetic and contract. No Spark needed:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

import run
from spans import Tracer, parse_metric
from stats import error_rate, kind_p50_geomean, latency_summary, run_op, self_times, tail

BENCH = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())


def test_tail_keeps_ten_samples_beyond():
    vals = list(range(1, 21))  # 20 samples
    v, pct = tail(vals)
    assert v == 10 and pct == 50.0
    assert sum(x > v for x in vals) == 10
    v, pct = tail(range(11))
    assert v == 0 and pct == pytest.approx(100 / 11)
    v, pct = tail([5.0] * 7 + [1.0] * 5)  # order of input does not matter
    assert v == 1.0 and pct == pytest.approx(100 * 2 / 12)


def test_tail_needs_eleven_samples():
    with pytest.raises(ValueError):
        tail(range(10))


def test_error_rate_counts_exception_and_wrong_answer():
    def boom():
        raise RuntimeError("injected")

    recs = [
        run_op("good", lambda: 42, lambda out: out == 42),
        run_op("raises", boom, lambda out: True),
        run_op("wrong", lambda: 41, lambda out: out == 42),
        run_op("check_raises", lambda: 1, lambda out: 1 / 0),
    ]
    assert [r.ok for r in recs] == [True, False, False, False]
    assert "injected" in recs[1].error
    assert recs[2].error == "wrong answer"
    assert "ZeroDivisionError" in recs[3].error
    assert error_rate(recs) == 0.75
    assert all(r.seconds >= 0 for r in recs)


def test_latency_summary_counts_only_timed_seconds():
    recs = [run_op("x", lambda: 1, bool) for _ in range(12)]
    for i, r in enumerate(recs):
        r.seconds = float(i + 1)
    s = latency_summary(recs)
    assert s["n"] == 12 and s["p50_s"] == 6.5
    assert (s["tail_s"], s["tail_pct"]) == (2.0, pytest.approx(100 * 2 / 12))
    assert s["ops_per_min"] == pytest.approx(60 * 12 / 78)  # 78 s of ops
    short = latency_summary(recs[:10])
    assert (short["tail_s"], short["tail_pct"]) == (None, None) and short["n"] == 10


def test_kind_p50_geomean_weights_kinds_by_count():
    def recs(kind, secs):
        out = [run_op(kind, lambda: 1, bool) for _ in secs]
        for r, v in zip(out, secs):
            r.seconds = v
        return out

    # a: median 2 over 3 ops, b: median 8 over 1 op
    mixed = recs("a", [1.0, 2.0, 50.0]) + recs("b", [8.0])
    assert kind_p50_geomean(mixed) == pytest.approx((2.0 ** 3 * 8.0) ** 0.25)
    # the value does not depend on which kind lands at the overall median
    assert kind_p50_geomean(recs("a", [2.0, 2.0]) + recs("b", [8.0, 8.0])) == pytest.approx(4.0)
    # a kind 10% slower moves it by the same share, whatever its cost
    base = recs("a", [1.0]) + recs("b", [100.0])
    slow_a = recs("a", [1.1]) + recs("b", [100.0])
    slow_b = recs("a", [1.0]) + recs("b", [110.0])
    assert kind_p50_geomean(slow_a) == pytest.approx(kind_p50_geomean(slow_b))
    assert kind_p50_geomean(slow_a) / kind_p50_geomean(base) == pytest.approx(1.1 ** 0.5)


def test_after_runs_before_check_and_untimed():
    seen = []
    rec = run_op("x", lambda: 5, lambda out: seen.append("check") or True,
                 after=lambda out: seen.append(("after", out)))
    assert rec.ok and seen == [("after", 5), "check"]
    rec = run_op("x", lambda: 5, bool, after=lambda out: 1 / 0)
    assert not rec.ok and "ZeroDivisionError" in rec.error


def test_self_time_subtracts_union_of_children():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 3.0},
        {"id": 3, "parent": 1, "start": 2.0, "end": 5.0},  # overlaps 2
        {"id": 4, "parent": 1, "start": 9.0, "end": 12.0},  # clipped at 10
        {"id": 5, "parent": 3, "start": 2.5, "end": 3.5},  # grandchild
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - (4 + 1))
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(3.0 - 1.0)
    assert st[4] == pytest.approx(3.0)
    assert st[5] == pytest.approx(1.0)


def test_null_tracer_runs_the_same_body_and_keeps_nothing():
    from spans import NULL_TRACER

    def body(tr, log):
        with tr.span("op", "1"):
            with tr.span("exec", "1") as st:
                log.append(1)
        return st

    log = []
    assert body(NULL_TRACER, log) == {} and log == [1]
    tr = Tracer()
    body(tr, log)
    assert log == [1, 1] and [s["name"] for s in tr.spans] == ["op", "exec"]


def test_tracer_nests_and_shares_op_id():
    tr = Tracer()
    with tr.span("op", "7"):
        with tr.span("exec", "7") as ex:
            pass
        tr.add("job", "7", ex["id"], ex["start"], ex["end"])
    op, exec_, job = tr.spans
    assert op["parent"] is None and exec_["parent"] == op["id"] and job["parent"] == exec_["id"]
    assert {s["op"] for s in tr.spans} == {"7"}
    assert all(s["end"] >= s["start"] for s in tr.spans)


def test_parse_metric_reads_the_total():
    assert parse_metric("total (min, med, max (stageId: taskId))\n1602.0 KiB (400.5 KiB, ...)") == 1602.0 * 1024
    assert parse_metric("1,234") == 1234
    assert parse_metric("0.0 B") == 0.0
    assert parse_metric(None) == 0.0


def test_printed_metrics_match_benchmark_json():
    e2e = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert run.E2E == e2e
    assert run.PER_LAYER == layer
    assert "setup_s" in e2e
    assert max(m["bound"] for m in BENCH["end_to_end"]) == next(
        m["bound"] for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert {w["name"] for w in BENCH["workloads"]} <= set(run.WORKLOADS)
