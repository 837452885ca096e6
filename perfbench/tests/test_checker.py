import pandas as pd

from perfbench import mix, spans, workloads


class _Frame:
    def __init__(self, rows):
        self.rows = rows

    def toPandas(self):
        return pd.DataFrame({"url": [f"u{i}" for i in range(self.rows)]})


def _pages():
    return pd.DataFrame({
        "text": ["request handled status=500", "request handled", "heartbeat"],
        "warc_ts": pd.to_datetime(["2025-01-02"] * 3),
    })


def _ctx():
    return workloads.Ctx(None, "/nonexistent", 1, 1.0, 3, spans.Tracer(False))


def test_a_wrong_count_is_a_failed_operation(monkeypatch):
    pages = _pages()
    q = mix.Query("broad", "request handled")
    right = mix.reference_count(pages, q)
    answers = iter([right, right + 1])
    monkeypatch.setattr(workloads, "_search_call", lambda ctx, arch, q, **kw: _Frame(next(answers)))
    run = workloads.Run()
    workloads._run_query(_ctx(), run, "arch", q, pages)
    assert (run.attempted, run.failures) == (1, [])
    workloads._run_query(_ctx(), run, "arch", q, pages)
    assert run.attempted == 2
    assert len(run.failures) == 1 and "reference 2" in run.failures[0]
    assert len(run.latencies) == 2


def test_an_exception_is_a_failed_operation(monkeypatch):
    def boom(ctx, arch, q, **kw):
        raise RuntimeError("no archive")

    monkeypatch.setattr(workloads, "_search_call", boom)
    run = workloads.Run()
    workloads._run_query(_ctx(), run, "arch", mix.Query("static", "heartbeat"), _pages())
    assert run.attempted == 1 and "no archive" in run.failures[0]
    assert run.latencies == []


def test_stream_answers_are_checked_against_the_reference():
    pages = _pages()
    q = mix.Query("static", "heartbeat")
    run = workloads.Run()
    workloads._run_stream_query(run, spans.Tracer(False), "ir", q, lambda: _Frame(1), pages)
    workloads._run_stream_query(run, spans.Tracer(False), "clps", q, lambda: _Frame(0), pages)
    assert run.attempted == 2 and len(run.failures) == 1
    assert run.failures[0].startswith("clps query")


def test_a_stream_query_sample_sums_every_store(monkeypatch):
    pages = _pages()
    q = mix.Query("static", "heartbeat")
    now = [0.0]
    monkeypatch.setattr(workloads.time, "time", lambda: now[0])

    def taking(seconds):
        def call():
            now[0] += seconds
            return _Frame(1)
        return call

    calls = [("ir", taking(1.0)), ("ir", taking(2.0)), ("clps", taking(4.0))]
    run = workloads.Run()
    lat = {"ir": [], "clps": []}
    workloads._query_all_stores(run, spans.Tracer(False), calls, q, pages, lat)
    assert run.latencies == [7.0]
    assert lat == {"ir": [1.0, 2.0], "clps": [4.0]}
    assert (run.attempted, run.failures) == (3, [])


def test_a_stream_query_that_raises_on_one_store_takes_no_sample():
    pages = _pages()
    q = mix.Query("static", "heartbeat")

    def boom():
        raise RuntimeError("no stream")

    calls = [("ir", lambda: _Frame(1)), ("clps", boom)]
    run = workloads.Run()
    lat = {"ir": [], "clps": []}
    workloads._query_all_stores(run, spans.Tracer(False), calls, q, pages, lat)
    assert run.latencies == [] and len(lat["ir"]) == 1
    assert len(run.failures) == 1 and "no stream" in run.failures[0]


def _loop_steps(monkeypatch, step_s, deadline):
    now = [0.0]
    monkeypatch.setattr(workloads.time, "time", lambda: now[0])
    steps = 0
    for _ in workloads._closed_loop(deadline):
        steps += 1
        now[0] += step_s
    return steps, now[0]


def test_the_closed_loop_always_takes_one_step(monkeypatch):
    assert _loop_steps(monkeypatch, 10.0, 5.0) == (1, 10.0)


def test_the_closed_loop_takes_no_step_that_would_end_late(monkeypatch):
    # a fourth 3-second step would end at 12, after the deadline
    assert _loop_steps(monkeypatch, 3.0, 11.0) == (3, 9.0)
