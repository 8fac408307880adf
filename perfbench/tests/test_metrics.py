"""The benchmark's metric math on synthetic inputs (no Spark).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import threading

import pytest

import metrics as M
from tracing import Tracer


def test_percentile_is_nearest_rank():
    v = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert M.percentile(v, 50) == 3.0
    assert M.percentile(v, 100) == 5.0
    assert M.percentile(v, 1) == 1.0
    assert M.percentile(list(range(1, 101)), 90) == 90
    with pytest.raises(ValueError):
        M.percentile([], 50)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert M.samples_beyond(100, 90) == 10
    assert M.tail_percentile(39) is None
    assert M.tail_percentile(40) == 75
    assert M.tail_percentile(99) == 75
    assert M.tail_percentile(100) == 90
    assert M.tail_percentile(200) == 95
    assert M.tail_percentile(1000) == 99
    for n in range(1, 2000):
        q = M.tail_percentile(n)
        if q is not None:
            assert M.samples_beyond(n, q) >= M.MIN_BEYOND
            higher = [h for h in M.TAIL_LADDER if h > q]
            assert all(M.samples_beyond(n, h) < M.MIN_BEYOND for h in higher)


def test_union_of_job_intervals():
    jobs = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (5.5, 5.7), (8.0, 8.0)]
    assert M.merge_intervals(jobs) == [(0.0, 3.0), (5.0, 6.0)]
    assert M.union_length(jobs) == pytest.approx(4.0)
    assert M.union_length(jobs, 2.5, 5.5) == pytest.approx(1.0)
    assert M.union_length([]) == 0.0


def test_outside_job_time_and_busy_cores():
    # an op from 0 to 10 with jobs covering [1, 3] and [2, 6]: 5 s in jobs
    assert M.outside_time(0.0, 10.0, [(1.0, 3.0), (2.0, 6.0)]) == pytest.approx(5.0)
    # a job reaching outside the op only counts inside it
    assert M.outside_time(0.0, 10.0, [(-5.0, 2.0), (9.0, 12.0)]) == pytest.approx(7.0)
    assert M.outside_time(0.0, 1.0, []) == pytest.approx(1.0)
    # 12 executor-seconds over 4 s of job wall (overlaps counted once)
    assert M.busy_cores(12.0, [(0.0, 3.0), (2.0, 4.0)]) == pytest.approx(3.0)
    assert M.busy_cores(1.0, []) == 0.0


def test_span_self_time():
    spans = [
        (0, "pass", 0.0, 10.0, None),
        (1, "op", 1.0, 9.0, 0),
        (2, "build", 1.0, 3.0, 1),
        (3, "collect", 3.0, 8.0, 1),
        (4, "write_batch", 4.0, 6.0, 3),
        (5, "write_batch", 5.0, 7.0, 3),  # overlaps its sibling
        (6, "op", 9.0, 9.5, 0),
    ]
    st = M.self_times(spans)
    assert st["pass"] == pytest.approx(10.0 - 8.5)
    assert st["op"] == pytest.approx((8.0 - 7.0) + 0.5)
    assert st["build"] == pytest.approx(2.0)
    assert st["collect"] == pytest.approx(5.0 - 3.0)
    assert st["write_batch"] == pytest.approx(4.0)


def test_error_rate_base_is_attempted_ops():
    assert M.error_rate(0, 24) == 0.0
    assert M.error_rate(3, 12) == 0.25
    with pytest.raises(ValueError):
        M.error_rate(0, 0)
    with pytest.raises(ValueError):
        M.error_rate(5, 4)


def test_quartile_spread():
    assert M.quartile_spread([10.0] * 10) == 0.0
    vals = [9.0, 10.0, 10.0, 10.0, 11.0, 12.0]
    q1, med, q3 = 9.75, 10.0, 11.25
    assert M.quartile_spread(vals) == pytest.approx((q3 - q1) / med)


def test_tracer_parents_across_threads():
    tr = Tracer()
    with tr.span("pass"):
        pass
    assert tr.take() == []  # disabled: records nothing
    tr.enabled = True
    with tr.span("pass"):
        with tr.span("tick"):
            # a callback thread's span takes the client's innermost span
            def callback():
                with tr.span("write_batch"):
                    pass
            t = threading.Thread(target=callback)
            t.start()
            t.join(timeout=10)
            assert not t.is_alive()
    spans = {s[1]: s for s in tr.take()}
    assert spans["pass"][4] is None
    assert spans["tick"][4] == spans["pass"][0]
    assert spans["write_batch"][4] == spans["tick"][0]
    assert all(s[2] <= s[3] for s in spans.values())


def test_result_digest_matches_oracle_rows():
    duckdb = pytest.importorskip("duckdb")
    from tests.oracle import duckdb_rows

    from workloads import digest

    con = duckdb.connect()
    sql = "SELECT * FROM (VALUES (2, 'b', 1.5::DOUBLE), (1, 'a', NULL)) t(k, s, v)"
    cols, rows = duckdb_rows(con, sql)
    spark_like = [{"v": None, "k": 1, "s": "a"}, {"v": 1.5, "k": 2, "s": "b"}]
    assert digest(["s", "k", "v"], spark_like) == hash((tuple(cols), tuple(rows)))
    assert digest(["s", "k", "v"], spark_like[:1]) != hash((tuple(cols), tuple(rows)))


def test_rss_tree_skips_spawn_helpers():
    from rss import counted

    assert counted("python3", None)
    assert counted("java", "python3")  # the Spark JVM
    assert counted("python", "java")  # the Python worker daemon
    assert not counted("java", "java")  # a vfork child before exec
    assert not counted("jspawnhelper", "java")
    assert not counted("chmod", "jspawnhelper")


def test_query_latency_is_geomean_of_per_query_medians():
    from metrics import geomean_of_medians
    from workloads import Op, Workload

    def op(name, seconds):
        return Op(name, "query", start=0.0, end=seconds)

    ops = [op("a", 1.0), op("a", 3.0), op("a", 2.0), op("b", 8.0), op("tick", 5.0)]
    ops[-1].kind = "tick"  # not a query: not a latency sample
    samples = Workload.samples(None, ops, [])
    assert samples == {"a": [1.0, 3.0, 2.0], "b": [8.0]}
    assert geomean_of_medians(samples) == pytest.approx(4.0)  # sqrt(2 * 8)
    assert geomean_of_medians({**samples, "c": []}) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        geomean_of_medians({"c": []})


def test_stream_latency_samples_are_the_triggers_inside_each_op():
    from tracing import Progress
    from workloads import Op, Stream

    ops = [Op("tick_events", "tick", start=10.0, end=12.0),
           Op("hourly_series", "readback", start=12.0, end=13.0),
           Op("str_watermark", "query", start=13.0, end=20.0)]

    def trig(start, seconds):
        return Progress(start=start, trigger_s=seconds, phases={}, state_rows=0, state_bytes=0)

    triggers = [trig(10.5, 1.0), trig(12.5, 9.0), trig(14.0, 0.5), trig(15.0, 0.7)]
    assert Stream.samples(None, ops, triggers) == {
        "tick_events": [1.0], "str_watermark": [0.5, 0.7],
    }


def test_pass_count_follows_seconds():
    from run import n_passes

    assert n_passes(20, 4.0, False) == 5
    assert n_passes(1, 9.0, False) == 1  # at least one pass
    assert n_passes(20, 4.0, True) == 8  # whole blocks of u, t, t, u
    assert n_passes(1, 9.0, True) == 4
