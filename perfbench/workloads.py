"""The benchmark's workloads. Each one sets up, then runs a closed loop
(one client; the next call starts when the previous one has returned)
for the measured window, and checks every answer.

`archive`: compress() over the seeded pages, then a seeded query mix
  against the archive set-up built. The archive's dictionaries, manifests
  and broadcasts fit the program's 8-entry driver caches, so after the
  untimed set-up query has opened it the queries measure compile,
  dictionary probe, segment prune, scan and decode-confirm, not archive
  open.
`streams`: the same pages ingested three ways (unstructured IR, KV-IR,
  a clp_s archive), then a seeded mix where every query runs on all
  three. Only here do the per-event Python paths of `ir` and the clp_s
  encoder do the work.

Set-up ingests the full input once and runs one untimed query on what it
built, so the measured calls find a warm JVM, warm Python workers and
open stores; the timed queries run on those stores.
"""

from __future__ import annotations

import json
import os
import random
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.dataset as pads
import pyarrow.parquet as pq

from perfbench import mix, spans
from perfbench.stats import median, tail

# share of the measured window given to ingest; the rest runs queries
INGEST_SHARE = 0.4
# urls decoded back after each compress, compared byte for byte
SAMPLE_URLS = 8
# parquet files of the pages fixture, as many as generate_pages_df makes
PAGE_FILES = 8
# seconds each Spark-free kernel line runs for
KERNEL_SECONDS = 1.0
# the untimed query that opens a store during set-up
OPEN_QUERY = mix.Query("broad", "request handled")


@dataclass
class Run:
    """What one run measured. `attempted` counts checked answers; an
    operation that raises counts as one failed answer."""

    attempted: int = 0
    failures: list = field(default_factory=list)
    setup_s: float = 0.0
    ingest_docs: int = 0
    ingest_s: float = 0.0
    raw_bytes: int = 0
    stored_bytes: int = 0
    latencies: list = field(default_factory=list)
    layers: dict = field(default_factory=dict)

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(f"{what}: {detail}")

    def attempt(self, what: str, fn):
        """Run one operation; an exception counts as a failed operation."""
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - every failure is counted
            self.attempted += 1
            self.failures.append(f"{what}: {type(e).__name__}: {e}")
            return None

    def end_to_end(self) -> tuple[dict, dict]:
        """({metric: value}, context). The query tail goes to the context:
        a run takes too few query samples for a tail above the median."""
        tail_v, tail_pct, n = tail(self.latencies)
        metrics = {
            "setup_s": self.setup_s,
            "ingest_docs_per_s": self.ingest_docs / self.ingest_s if self.ingest_s else 0.0,
            "stored_bytes_per_raw_byte": self.stored_bytes / self.raw_bytes if self.raw_bytes else 0.0,
            "query_p50_s": median(self.latencies),
        }
        return metrics, {"query_samples": n, "query_tail_s": tail_v, "query_tail_percentile": tail_pct}


class Ctx:
    """One run's Spark session, working directory, seed and tracer."""

    def __init__(self, spark, work: str, seed: int, seconds: float, pages: int, tracer, startup_s: float = 0.0):
        self.spark = spark
        self.startup_s = startup_s  # Spark session start, counted in set-up
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.n_pages = pages
        self.tracer = tracer
        self.rng = random.Random(seed)

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)


def pipeline_config():
    """The program's defaults, shuffle width included, with one checkpoint
    bucket, as the repository's `bench.py` runs compress."""
    from clp_spark.config import PipelineConfig

    return PipelineConfig(num_checkpoint_buckets=1)


def dir_bytes(path: str) -> int:
    """Bytes of the data files under `path`; checksum and marker files of
    the local Hadoop file system are not part of what a store keeps."""
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def make_pages(ctx: Ctx) -> pd.DataFrame:
    """The seeded pages: the rows `generate_pages_df(spark, n, seed)`
    yields, made by its pandas generator in the Spark driver process, so
    that no Spark job is spent on them."""
    from clp_spark.fixtures.pages import generate_pages_pdf

    return generate_pages_pdf(0, ctx.n_pages, seed=ctx.seed)


def write_parquet(table, out: str) -> None:
    """Write `table` as PAGE_FILES parquet files under `out`."""
    os.makedirs(out)
    bounds = np.linspace(0, table.num_rows, PAGE_FILES + 1).astype(int)
    for i, (a, b) in enumerate(zip(bounds, bounds[1:])):
        pq.write_table(table.slice(a, b - a), os.path.join(out, f"part-{i:05d}.parquet"))


def write_pages(ctx: Ctx, pdf: pd.DataFrame, name: str):
    """The pages as parquet, read back as a Spark frame; generation is
    never timed."""
    import pyarrow as pa

    out = ctx.path(name)
    ts = pa.array(pdf["warc_ts"].to_numpy().astype("datetime64[us]"), type=pa.timestamp("us", tz="UTC"))
    table = pa.Table.from_pandas(pdf.drop(columns="warc_ts"), preserve_index=False)
    write_parquet(table.add_column(1, "warc_ts", ts), out)
    return ctx.spark.read.parquet(out)


def _text_bytes(pdf: pd.DataFrame) -> int:
    return int(sum(len(t.encode("utf-8")) for t in pdf["text"]))


def _closed_loop(deadline: float):
    """Yield step indexes: always one step, then another only while one
    more of the last step's length still ends before the deadline."""
    i = 0
    t0 = time.time()
    yield i
    while time.time() + (time.time() - t0) < deadline:
        i += 1
        t0 = time.time()
        yield i


# ------------------------------------------------------------- archive
def _check_archive(ctx: Ctx, run: Run, out: str, pdf: pd.DataFrame, tag: str) -> None:
    """Sink rows and per-sink metric rows sum to the input; a seeded
    sample of urls decodes byte-identically."""
    import pyspark.sql.functions as F
    from clp_spark.search import decode_messages

    n = len(pdf)
    sink_rows = pads.dataset(os.path.join(out, "sinks"), format="parquet", partitioning="hive").count_rows()
    run.check(f"{tag} sink rows", sink_rows == n, f"{sink_rows} != {n}")
    metric_rows = int(pq.read_table(os.path.join(out, "metrics"), columns=["rows"])["rows"].to_numpy().sum())
    run.check(f"{tag} per-sink metric rows", metric_rows == n, f"{metric_rows} != {n}")

    sample = pdf.iloc[sorted(ctx.rng.sample(range(n), SAMPLE_URLS))]
    want = dict(zip(sample["url"], sample["text"]))

    def decode():
        spark = ctx.spark
        enc = spark.read.parquet(os.path.join(out, "sinks")).filter(F.col("url").isin(list(want)))
        lt = spark.read.parquet(os.path.join(out, "dicts", "logtype"))
        var = spark.read.parquet(os.path.join(out, "dicts", "var"))
        return decode_messages(enc, lt, var).select("url", "text").toPandas()

    got = run.attempt(f"{tag} decode sample", decode)
    if got is not None:
        have = dict(zip(got["url"], got["text"]))
        bad = [u for u in want if have.get(u) != want[u]]
        run.check(f"{tag} decode sample", not bad and len(got) == len(want), f"{len(bad)} urls differ")


def _compress_once(ctx: Ctx, pages_df, out: str):
    from clp_spark.pipeline import compress

    with ctx.tracer.span("compress", None) as attrs:
        t0 = time.time()
        compress(ctx.spark, pages_df, out, pipeline_config())
        wall = time.time() - t0
    if ctx.tracer.enabled:
        attrs["phases"] = spans.read_phases(os.path.join(out, "_manifest.jsonl"))
        attrs["parsed_bytes"] = dir_bytes(os.path.join(out, "parsed"))
        attrs["logtypes"] = pads.dataset(os.path.join(out, "dicts", "logtype"), format="parquet").count_rows()
        attrs["vars"] = pads.dataset(os.path.join(out, "dicts", "var"), format="parquet").count_rows()
    return wall


def _archive_stored_bytes(out: str) -> int:
    """The finished archive: sinks, dictionaries and manifests. The
    parsed intermediate and the run bookkeeping are left out."""
    return sum(dir_bytes(os.path.join(out, d)) for d in ("sinks", "dicts", "manifest"))


def _search_call(ctx: Ctx, arch: str, q: mix.Query, **kw):
    """The lazy result frame of the public call that plans a query. A
    ts-range query goes through federated planning (plan_archives), every
    other query straight to the archive."""
    from clp_spark.search.sinks import search_archives, search_sinks

    if q.ts_range is not None:
        return search_archives(ctx.spark, [arch], q.pattern, ts_range=q.ts_range, **kw)
    return search_sinks(ctx.spark, arch, q.pattern, **kw)


def _run_query(ctx: Ctx, run: Run, arch: str, q: mix.Query, pdf: pd.DataFrame, timed: bool = True) -> None:
    """One query, checked; only a timed one is a sample and has spans."""
    tracer = ctx.tracer if timed else spans.Tracer(False)

    def go():
        with tracer.span("search.plan", "search", query=q):
            t0 = time.time()
            frame = _search_call(ctx, arch, q)
        with tracer.span("search.exec", "search", query=q):
            got = frame.toPandas()
            if timed:
                run.latencies.append(time.time() - t0)
        return len(got)

    n = run.attempt(f"query {q}", go)
    if n is not None:
        want = mix.reference_count(pdf, q)
        run.check(f"query {q}", n == want, f"{n} hits, reference {want}")


def archive(ctx: Ctx) -> Run:
    run = Run()
    t_setup = time.time()
    pdf = make_pages(ctx)
    pages_df = write_pages(ctx, pdf, "pages")
    run.raw_bytes = _text_bytes(pdf)
    rounds = mix.MixSource(pdf, ctx.seed).rounds(mix.ARCHIVE_CLASSES)
    arch = ctx.path("setup-archive")
    ok = run.attempt("set-up compress", lambda: _compress_once(ctx, pages_df, arch)) is not None
    if ok:
        _check_archive(ctx, run, arch, pdf, "set-up archive")
        _run_query(ctx, run, arch, OPEN_QUERY, pdf, timed=False)
    run.setup_s = time.time() - t_setup + ctx.startup_s
    ctx.tracer.spans.clear()
    if not ok:
        return run

    # closed loop: compress for the ingest share of the window, then query
    # the set-up archive for the rest
    t0 = time.time()
    built = []
    for i in _closed_loop(t0 + INGEST_SHARE * ctx.seconds):
        out = ctx.path(f"archive-{i}")
        wall = run.attempt("compress", lambda: _compress_once(ctx, pages_df, out))
        if wall is not None:
            run.ingest_docs += len(pdf)
            run.ingest_s += wall
            run.stored_bytes = _archive_stored_bytes(out)
            built.append(out)
    # whole rounds keep every class's share of the samples fixed
    first_round = None
    for _ in _closed_loop(t0 + ctx.seconds):
        queries = next(rounds)
        first_round = first_round or queries
        for q in queries:
            _run_query(ctx, run, arch, q, pdf)
    # the output of every measured compress call, checked after the window
    for out in built:
        _check_archive(ctx, run, out, pdf, os.path.basename(out))
    if ctx.tracer.enabled:
        run.layers = _archive_layers(ctx, run, arch, first_round, pdf)
    return run


def _archive_layers(ctx: Ctx, run: Run, arch: str, queries: list, pdf: pd.DataFrame) -> dict:
    """Layer numbers that need calls of their own; they run after the
    measured window so they never slow it."""
    from clp_spark.parse.npscan import parse_block_buf
    from clp_spark.search.compiler import compile_query
    from clp_spark.search.sinks import plan_archives

    out = {}
    compile_s, prefilter, hits, kept = [], [], [], []
    for q in queries:
        t0 = time.perf_counter()
        compile_query(q.pattern)
        compile_s.append(time.perf_counter() - t0)
        n = run.attempt(f"prefilter {q}", lambda: _search_call(ctx, arch, q, decode=False).count())
        prefilter.append(n or 0)
        hits.append(mix.reference_count(pdf, q))
        survivors = run.attempt(
            f"plan {q}",
            lambda: plan_archives(ctx.spark, [arch], q.pattern, ts_range=q.ts_range),
        )
        kept.append(len(survivors or []))
    out["search.compile_s"] = median(compile_s)
    out["search.prefilter_rows"] = median(prefilter)
    out["search.confirm_precision"] = sum(hits) / sum(prefilter) if sum(prefilter) else 0.0
    out["search.archives_kept_frac"] = sum(kept) / len(kept) if kept else 0.0

    # parse kernel: one core, no Spark, on this run's own text
    raw = [t.encode("utf-8") for t in pdf["text"]]
    values = np.frombuffer(b"".join(raw), dtype=np.uint8)
    offsets = np.zeros(len(raw) + 1, dtype=np.int64)
    np.cumsum([len(b) for b in raw], out=offsets[1:])
    out["parse.kernel_docs_per_s"] = _kernel_rate(lambda: parse_block_buf(values, offsets), len(raw))
    out["_sinks_bytes"] = dir_bytes(os.path.join(arch, "sinks"))
    return out


def _kernel_rate(fn, items: int) -> float:
    """Median items/s of repeated calls over KERNEL_SECONDS."""
    rates = []
    end = time.perf_counter() + KERNEL_SECONDS
    while time.perf_counter() < end or len(rates) < 3:
        t0 = time.perf_counter()
        fn()
        rates.append(items / (time.perf_counter() - t0))
    return median(rates)


# ------------------------------------------------------------- streams
def _json_records(ctx: Ctx, pdf: pd.DataFrame, name: str):
    """The pages as events (ts_ms, message) and JSON records (ts_ms, lang,
    url, message), written once so every ingest reads its input as it
    arrives: text. Returns (Spark frame, JSON bytes)."""
    import pyarrow as pa

    out = ctx.path(name)
    ts_ms = (pdf["warc_ts"].to_numpy().astype("datetime64[ms]").astype(np.int64))
    records = [
        json.dumps({"ts_ms": int(t), "lang": lang, "url": url, "message": msg}, separators=(",", ":"))
        for t, lang, url, msg in zip(ts_ms, pdf["lang"], pdf["url"], pdf["text"])
    ]
    write_parquet(pa.table({"ts_ms": ts_ms, "message": pdf["text"], "json": records}), out)
    json_bytes = sum(len(r.encode("utf-8")) for r in records)
    return ctx.spark.read.parquet(out), json_bytes


def _ingest_streams(ctx: Ctx, run: Run, records, tag: str, n: int) -> dict | None:
    """Serialize IR, KV-IR and a clp_s archive into fresh directories.
    Returns their paths and walls, or None when any of them failed."""
    from clp_spark.clps import encode_json_df
    from clp_spark.ir import serialize_ir_df, serialize_kv_ir_df

    d = {k: ctx.path(f"{tag}-{k}") for k in ("ir", "kv", "clps")}
    walls = {}

    def ir():
        with ctx.tracer.span("ir.serialize", "ir"):
            t0 = time.time()
            serialize_ir_df(records, ts_col="ts_ms", msg_col="message").write.parquet(d["ir"])
            walls["ir"] = time.time() - t0

    def kv():
        with ctx.tracer.span("ir.kv_serialize", "ir"):
            t0 = time.time()
            serialize_kv_ir_df(records, json_col="json").write.parquet(d["kv"])
            walls["kv"] = time.time() - t0

    def cs():
        with ctx.tracer.span("clps.encode", "clps"):
            t0 = time.time()
            encode_json_df(records.select("json"), json_col="json").save(d["clps"])
            walls["clps"] = time.time() - t0

    for name, fn in (("ir", ir), ("kv", kv), ("clps", cs)):
        run.attempt(f"{tag} {name} ingest", fn)
    if len(walls) != 3:
        return None
    for k in ("ir", "kv"):
        events = int(pq.read_table(d[k], columns=["n_events"])["n_events"].to_numpy().sum())
        run.check(f"{tag} {k} events", events == n, f"{events} != {n}")
    rows = pads.dataset(os.path.join(d["clps"], "tables"), format="parquet", partitioning="hive").count_rows()
    run.check(f"{tag} clp_s rows", rows == n, f"{rows} != {n}")
    return {"dirs": d, "walls": walls}


def _open_stores(ctx: Ctx, dirs: dict) -> tuple:
    from clp_spark.clps import JsonArchive

    spark = ctx.spark
    return (
        spark.read.parquet(dirs["ir"]),
        spark.read.parquet(dirs["kv"]),
        JsonArchive.load(spark, dirs["clps"]),
    )


def _stream_queries(stores: tuple, q: mix.Query):
    """(engine, call) for one query on the three stores."""
    from clp_spark.clps import kql_query
    from clp_spark.ir import grep_ir, search_kv_ir

    ir_streams, kv_streams, json_archive = stores
    lo, hi = q.ts_ms()
    return [
        ("ir", lambda: grep_ir(ir_streams, f"*{q.pattern}*", ts_min=lo, ts_max=hi)),
        ("ir", lambda: search_kv_ir(kv_streams, q.kql())),
        ("clps", lambda: kql_query(json_archive, q.kql())),
    ]


def _run_stream_query(run: Run, tracer, engine: str, q: mix.Query, call, pdf) -> float | None:
    """One query on one store, checked. Returns its latency, or None when
    the call raised."""

    def go():
        with tracer.span(f"{engine}.search", engine, query=q):
            t0 = time.time()
            got = call().toPandas()
            return len(got), time.time() - t0

    got = run.attempt(f"{engine} query {q}", go)
    if got is None:
        return None
    hits, dt = got
    want = mix.reference_count(pdf, q)
    run.check(f"{engine} query {q}", hits == want, f"{hits} hits, reference {want}")
    return dt


def _query_all_stores(run: Run, tracer, calls, q: mix.Query, pdf, lat: dict) -> None:
    """One query on every store. Its sample is the sum of the stores'
    latencies, so that a change in any one engine moves the median; each
    engine's own latencies go to `lat`."""
    dts = []
    for engine, call in calls:
        dt = _run_stream_query(run, tracer, engine, q, call, pdf)
        dts.append(dt)
        if dt is not None:
            lat[engine].append(dt)
    if None not in dts:
        run.latencies.append(sum(dts))


def streams(ctx: Ctx) -> Run:
    run = Run()
    t_setup = time.time()
    pdf = make_pages(ctx)
    records, json_bytes = _json_records(ctx, pdf, "records")
    n = len(pdf)
    rounds = mix.MixSource(pdf, ctx.seed).rounds(mix.STREAM_CLASSES)
    made = _ingest_streams(ctx, run, records, "setup", n)
    if made is not None:
        stores = _open_stores(ctx, made["dirs"])
        for engine, call in _stream_queries(stores, OPEN_QUERY):
            _run_stream_query(run, spans.Tracer(False), engine, OPEN_QUERY, call, pdf)
    run.setup_s = time.time() - t_setup + ctx.startup_s
    ctx.tracer.spans.clear()
    if made is None:
        return run

    # closed loop: ingest for the ingest share of the window, then query
    # the set-up stores for the rest
    walls = {"ir": [], "kv": [], "clps": []}
    t0 = time.time()
    built = []
    for i in _closed_loop(t0 + INGEST_SHARE * ctx.seconds):
        got = _ingest_streams(ctx, run, records, f"ingest-{i}", n)
        if got is not None:
            run.ingest_docs += 3 * n
            run.ingest_s += sum(got["walls"].values())
            for k, v in got["walls"].items():
                walls[k].append(v)
            built.append(got["dirs"])
    if not built:
        return run
    stored = {k: dir_bytes(v) for k, v in built[0].items()}
    run.stored_bytes = sum(stored.values())
    # raw input: the message text for IR, the JSON records for KV-IR and clp_s
    run.raw_bytes = _text_bytes(pdf) + 2 * json_bytes

    lat = {"ir": [], "clps": []}
    for _ in _closed_loop(t0 + ctx.seconds):
        for q in next(rounds):
            _query_all_stores(run, ctx.tracer, _stream_queries(stores, q), q, pdf, lat)

    if ctx.tracer.enabled:
        stored["ir_payload"] = sum(
            len(b) for k in ("ir", "kv")
            for b in pq.read_table(built[0][k], columns=["data"])["data"].to_pylist()
        )
        run.layers = _stream_layers(built[0], walls, lat, stored)
    return run


def _stream_layers(dirs: dict, walls: dict, lat: dict, stored: dict) -> dict:
    from clp_spark.ir import deserialize_ir_stream, deserialize_kv_ir_stream

    out = {
        "ir.serialize_s": median(walls["ir"]),
        "ir.kv_serialize_s": median(walls["kv"]),
        "ir.search_s": median(lat["ir"]),
        "ir.stream_bytes": float(stored.get("ir_payload", 0)),
        "clps.encode_s": median(walls["clps"]),
        "clps.query_s": median(lat["clps"]),
        "clps.archive_bytes": float(stored.get("clps", 0)),
    }
    for key, d, decode in (
        ("ir.decode_kernel_events_per_s", dirs["ir"], deserialize_ir_stream),
        ("ir.kv_decode_kernel_events_per_s", dirs["kv"], deserialize_kv_ir_stream),
    ):
        t = pq.read_table(d, columns=["n_events", "data"])
        blobs = t["data"].to_pylist()
        events = int(t["n_events"].to_numpy().sum())
        out[key] = _kernel_rate(lambda: [decode(b) for b in blobs], events)
    return out


WORKLOADS = {"archive": archive, "streams": streams}


def search_layers(stages, jobs, span_list, sinks_bytes: float) -> dict:
    """Per-query medians of the search spans of one run."""
    plans = [s for s in span_list if s.name == "search.plan"]
    execs = [s for s in span_list if s.name == "search.exec"]
    scan = [sum(t.input_bytes for st in spans.stages_in(stages, s) for t in st.tasks) for s in execs]
    return {
        "search.plan_s": median(s.wall_s for s in plans),
        "search.plan_jobs": median(spans.jobs_in(jobs, s) for s in plans),
        "search.exec_s": median(s.wall_s for s in execs),
        "search.exec_jobs": median(spans.jobs_in(jobs, s) for s in execs),
        "search.scan_bytes": median(scan),
        "search.scan_frac": median(scan) / sinks_bytes if sinks_bytes else 0.0,
    }


def layer_metrics(run: Run, tracer, event_log: str, names: list) -> dict:
    """Every per-layer metric in `names`; a layer the workload does not
    run reads 0."""
    stages, jobs = spans.read_event_log(event_log)
    span_list = tracer.spans
    compress_spans = [s for s in span_list if s.name == "compress"]
    phases = {id(s): s.attrs.get("phases", []) for s in compress_spans}
    spans.attribute(stages, span_list, phases)
    out = {name: 0.0 for name in names}
    if compress_spans:
        out.update(spans.compress_layers(stages, jobs, compress_spans, phases))
        out["parse.bytes_written"] = median(s.attrs["parsed_bytes"] for s in compress_spans)
        out["dicts.logtype_count"] = median(s.attrs["logtypes"] for s in compress_spans)
        out["dicts.var_count"] = median(s.attrs["vars"] for s in compress_spans)
    layers = dict(run.layers)
    sinks_bytes = layers.pop("_sinks_bytes", 0)
    if any(s.name == "search.plan" for s in span_list):
        out.update(search_layers(stages, jobs, span_list, sinks_bytes))
    out.update(layers)
    return {k: out[k] for k in names}
