"""End-to-end compress job: pages → parse → dicts → encode → route → metrics.

Spark shape (SURVEY.md §3.1): one logical job —
  read pages → mapInArrow(tokenize)                   [narrow, no shuffle]
  → build logtype/var dicts (2 distinct aggs + stable-ID rank)
  → enrich (broadcast dict join / broadcast-map patch)  [no shuffle]
  → fan-out to per-sink parquet partitions (1 range shuffle)
  → per-segment summary → manifests + per-sink metrics table

Checkpointing: the parse phase commits per url-hash bucket; dict/encode/
route phases commit as whole phases (their inputs are the committed
parse outputs, and dictionary IDs are deterministic, so a re-run
reproduces identical sinks — exactly-once counts under retry).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from clp_spark.checkpoint import RunManifest
from clp_spark.config import PipelineConfig
from clp_spark.dicts.build import (
    LOGTYPE_DICT_ARROW_SCHEMA,
    VAR_DICT_ARROW_SCHEMA,
    build_dicts_small,
    build_dicts_small_pandas,
    build_logtype_dict,
    build_var_dict,
    encode_with_dicts,
    encode_with_maps,
    write_dict_parquet,
)
from clp_spark.parse.tokenizer import tokenize_df
from clp_spark.util import spread, step_timer
from clp_spark.route.fanout import (
    add_seg_id,
    add_sink_id,
    route_to_sinks,
    segment_expr,
    segment_summary,
)

# above this many (logtype, lang, window) cells the driver-side bounds
# construction (a Python xxhash64 per cell) stops being free; fall back
# to the sampler route rather than serialize seconds on the driver
_MAX_BOUNDS_CELLS = 100_000


def _route_bounds(counts_pdf, lt_map: dict, num_sinks: int):
    """Exact analytic range-partition boundaries for the route shuffle.

    Input: the per-(logtype[, lang], window) row counts that rode along
    with the dictionary aggregation. Output: (bounds_pdf, total_rows)
    where bounds_pdf has one row per (sink_id, seg_id, logtype_id) cell
    with its cumulative start position in the (sink, seg, logtype)-
    sorted global row order — what RangePartitioner would have derived
    from a sample, but exact, deterministic, and with zero extra passes
    over the data. sink_id is computed driver-side with the Spark-parity
    xxhash64 oracle (the same pmod(xxhash64(logtype_id, lang), K) the
    rows get in add_sink_id)."""
    from clp_spark.oracle.xxhash import pmod, spark_xxhash64

    if counts_pdf is None or len(counts_pdf) == 0 or len(counts_pdf) > _MAX_BOUNDS_CELLS:
        return None
    import pandas as pd

    lt_ids = counts_pdf["logtype"].map(lt_map)
    if "lang" in counts_pdf.columns:
        sink = [
            pmod(spark_xxhash64(int(lt), s), num_sinks)
            for lt, s in zip(lt_ids, counts_pdf["lang"])
        ]
    else:
        sink = [pmod(spark_xxhash64(int(lt)), num_sinks) for lt in lt_ids]
    cells = pd.DataFrame(
        {
            "sink_id": pd.array(sink, dtype="int64"),
            "seg_id": counts_pdf["_seg"].astype("int64"),
            "logtype_id": lt_ids.astype("int64"),
            "n": counts_pdf["n_rows"].astype("int64"),
        }
    )
    cells = (
        cells.groupby(["sink_id", "seg_id", "logtype_id"], sort=True)["n"]
        .sum()
        .reset_index()
    )
    total = int(cells["n"].sum())
    cells["_cum_before"] = (
        cells["n"].cumsum().shift(1, fill_value=0).astype("float64")
    )
    cells["_cell_rows"] = cells["n"].astype("float64")
    return cells.drop(columns=["n"]), total


def _pa_type(dt):
    """pyarrow type matching what Spark's own parquet writer would emit
    for this Spark SQL type — driver-written bookkeeping files must read
    back with the same schema the old executor-written files had."""
    import pyarrow as pa
    from pyspark.sql import types as T

    if isinstance(dt, T.LongType):
        return pa.int64()
    if isinstance(dt, T.IntegerType):
        return pa.int32()
    if isinstance(dt, T.DoubleType):
        return pa.float64()
    if isinstance(dt, T.StringType):
        return pa.string()
    if isinstance(dt, T.TimestampType):
        return pa.timestamp("us", tz="UTC")
    if isinstance(dt, T.TimestampNTZType):
        return pa.timestamp("us")
    raise TypeError(f"unmapped Spark type {dt}")


def _write_driver_parquet(dirpath: str, cols: dict, types: dict) -> None:
    """Column-dict front-end over util.write_driver_table (the shared
    driver-side single-file parquet writer)."""
    import pandas as _pd
    import pyarrow as pa

    from clp_spark.util import write_driver_table

    arrays = [
        v
        if isinstance(v, pa.Array)
        else (
            # from_pandas maps NaN/pd.NA → parquet null (plain pa.array
            # rejects pd.NA and would store NaN-poisoned floats)
            pa.Array.from_pandas(v, type=types[name])
            if isinstance(v, _pd.Series)
            else pa.array(v, type=types[name])
        )
        for name, v in cols.items()
    ]
    tbl = pa.Table.from_arrays(
        arrays, schema=pa.schema([(n, types[n]) for n in cols])
    )
    write_driver_table(tbl, dirpath)


def _write_summary_derived(
    summary_pdf, summary_fields, seg_cols, out_dir: str, cfg: PipelineConfig
) -> None:
    """Logtype manifest + ts zone map, derived driver-side from the
    collected segment summary (a (sink, seg)-grouped frame — CLP-small
    by the same design bound as the dictionaries). The manifest rows are
    sorted by logtype_id so parquet row-group min/max stats prune
    id-probing queries just like the old range-partitioned Spark write."""
    import numpy as np
    import pyarrow as pa

    n = len(summary_pdf)
    if n:
        lens = summary_pdf["lt_set"].map(len).to_numpy(dtype=np.int64)
        sink_r = np.repeat(summary_pdf["sink_id"].to_numpy(np.int64), lens)
        seg_r = np.repeat(summary_pdf["seg_id"].to_numpy(np.int64), lens)
        lt_r = np.concatenate(
            [np.asarray(a, dtype=np.int64) for a in summary_pdf["lt_set"]]
        ) if lens.sum() else np.array([], dtype=np.int64)
        order = np.argsort(lt_r, kind="stable")
        sink_r, seg_r, lt_r = sink_r[order], seg_r[order], lt_r[order]
    else:
        sink_r = seg_r = lt_r = np.array([], dtype=np.int64)
    _write_driver_parquet(
        os.path.join(out_dir, "manifest", "logtype"),
        {"sink_id": sink_r, "seg_id": seg_r, "logtype_id": lt_r},
        {"sink_id": pa.int64(), "seg_id": pa.int64(), "logtype_id": pa.int64()},
    )

    seg_out_cols = ["sink_id", "seg_id", "rows", *seg_cols]
    _write_driver_parquet(
        os.path.join(out_dir, "manifest", "segments"),
        {c: summary_pdf[c] if n else [] for c in seg_out_cols},
        {c: _pa_type(summary_fields[c]) for c in seg_out_cols},
    )


def _summary_collector(book_src: DataFrame):
    """The segment summary of `book_src` (encoded, sinked rows) as a
    collect callable plus what its driver-side consumers need:
    (collect, summary_fields, ts_cols, seg_cols). summary_fields keeps
    the Spark types of the un-collected summary.

    TimestampType bounds are collected as epoch MICROS, not as
    datetimes: toPandas renders timestamps in the session's
    spark.sql.session.timeZone as naive wall times, and the pyarrow
    writer's timestamp("us", tz="UTC") would re-read those wall times
    as UTC — shifting the zone map by the UTC offset on any non-UTC
    session and mis-pruning range queries. Integer micros are
    timezone-free; pa.array interprets them as epoch values under the
    declared tz=UTC type, which is exactly the instant Spark stores
    internally."""
    from pyspark.sql import types as T

    summary = segment_summary(book_src)
    ts_cols = [c for c in ("ts_min", "ts_max") if c in summary.columns]
    seg_cols = ts_cols + (["ts_src"] if "ts_src" in summary.columns else [])
    summary_fields = {f.name: f.dataType for f in summary.schema.fields}
    micros_cols = [
        c for c in ts_cols if isinstance(summary_fields[c], T.TimestampType)
    ]
    for c in micros_cols:
        summary = summary.withColumn(c, F.unix_micros(F.col(c)))

    def collect():
        pdf = summary.toPandas()
        for c in micros_cols:
            # nullable Int64: an all-null-ts segment must round-trip
            # as parquet null, not poison the column to float64
            pdf[c] = pdf[c].astype("Int64")
        return pdf

    return collect, summary_fields, ts_cols, seg_cols


def _var_cardinality(var_man: DataFrame):
    """Distinct dictionary-var IDs per sink, from the (sink_id, seg_id,
    var_id) var manifest — pandas (sink_id, var_cardinality)."""
    return (
        var_man.select("sink_id", "var_id")
        .distinct()
        .groupBy("sink_id")
        .agg(F.count("*").alias("var_cardinality"))
        .toPandas()
    )


def _write_metrics_driver(
    summary_pdf, vcard_pdf, summary_fields, ts_cols, metrics_dir: str
) -> None:
    """Per-sink metrics aggregated driver-side from the segment summary
    (rows/cardinality/byte sums over a tiny frame) + the per-sink var
    cardinality. The only metrics writer: rebuild_metrics feeds it from
    a committed archive (a resumed run, the GC refresh)."""
    import pandas as pd
    import pyarrow as pa

    vc = {
        int(r["sink_id"]): int(r["var_cardinality"])
        for _, r in vcard_pdf.iterrows()
    }
    recs = []
    for sid, g in summary_pdf.groupby("sink_id", sort=True):
        lt_all = set()
        for a in g["lt_set"]:
            lt_all.update(int(x) for x in a)
        rec = {
            "sink_id": int(sid),
            "rows": int(g["rows"].sum()),
            "logtype_cardinality": len(lt_all),
            "n_encoded_vars": int(g["n_encoded_vars"].sum()),
            "encoded_bytes": int(g["encoded_bytes"].sum()),
            "raw_bytes": int(g["raw_bytes"].sum()),
        }
        for c, fn in zip(ts_cols, ("min", "max")):
            rec[c] = getattr(g[c], fn)()
        rec["var_cardinality"] = vc.get(int(sid), 0)
        recs.append(rec)
    out_cols = [
        "sink_id", "rows", "logtype_cardinality", "n_encoded_vars",
        "encoded_bytes", "raw_bytes", *ts_cols, "var_cardinality",
    ]
    mdf = pd.DataFrame(recs, columns=out_cols)
    types = {
        "sink_id": pa.int64(),
        "rows": pa.int64(),
        # int64 like every other count: metrics tables from any run
        # (and from the GC refresh) must union under strict readers
        "logtype_cardinality": pa.int64(),
        "n_encoded_vars": pa.int64(),
        "encoded_bytes": pa.int64(),
        "raw_bytes": pa.int64(),
        "var_cardinality": pa.int64(),
        **{c: _pa_type(summary_fields[c]) for c in ts_cols},
    }
    _write_driver_parquet(
        metrics_dir, {c: mdf[c] for c in out_cols}, types
    )


def rebuild_metrics(spark: SparkSession, sinks: DataFrame, out_dir: str) -> None:
    """Per-sink metrics of the committed archive at `out_dir` (its
    `sinks` rows, already read, and its var manifest) through the same
    summary collect and writer the inline compress path uses — for a
    run resumed after the route commit, and for the GC refresh."""
    collect_summary, summary_fields, ts_cols, _ = _summary_collector(sinks)
    var_man = spark.read.schema(
        "sink_id long, seg_id long, var_id long"
    ).parquet(os.path.join(out_dir, "manifest", "var"))
    _write_metrics_driver(
        collect_summary(),
        _var_cardinality(var_man),
        summary_fields,
        ts_cols,
        os.path.join(out_dir, "metrics"),
    )


def write_var_manifest(var_man, path: str) -> None:
    """var-dict bloom analog (clp_s/filter/BloomFilter.hpp:18-29): the
    manifest is the var-side index searched with `var_id IN (...)` —
    range-partitioning + sorting by var_id gives each file/row group a
    tight disjoint id range (stats prune) and the parquet bloom catches
    the residue, so a dict-var-selective query touches few manifest
    files even above the driver-collect cap.
    test_var_manifest_pruning asserts the layout actually bites."""
    var_man.repartitionByRange("var_id").sortWithinPartitions(
        "var_id"
    ).write.mode("overwrite").option(
        "parquet.bloom.filter.enabled#var_id", "true"
    ).parquet(path)


def _parse_phase(
    pages: DataFrame,
    cfg: PipelineConfig,
    text_col: str,
    passthrough: list[str] | None,
) -> DataFrame:
    """Parse stage: optionally split off the leading timestamp
    (TimestampPattern.cpp / MessageParser.cpp:95+ analog — pattern id,
    epoch-ms, and prefix ride with the row; the tokenizer then sees only
    the message body), then tokenize. Both maps are narrow — no
    shuffle."""
    if not cfg.parse_timestamps:
        return tokenize_df(spread(pages), text_col=text_col, passthrough=passthrough)
    from clp_spark.functions.timestamps import extract_timestamp_df

    keep = (
        list(passthrough)
        if passthrough is not None
        else [c for c in ("url", "warc_ts", "lang") if c in pages.columns]
    )
    with_ts = extract_timestamp_df(spread(pages), text_col=text_col, keep=keep)
    return tokenize_df(
        with_ts,
        text_col="rest",
        passthrough=keep + ["ts_pattern_id", "ts_ms", "ts_prefix", "ts_tz"],
    )


def compress_df(
    pages: DataFrame,
    cfg: PipelineConfig | None = None,
    text_col: str = "text",
    passthrough: list[str] | None = None,
    sink_cols: tuple = ("logtype_id", "lang"),
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """In-memory compress: (encoded_with_sink, logtype_dict, var_dict).

    Same dataflow as `compress` minus checkpointing/persisted sinks —
    for search pipelines, tests, and the driver entry queries where the
    corpus is read, encoded, queried, and discarded in one job.
    """
    cfg = cfg or PipelineConfig()
    parsed = _parse_phase(pages, cfg, text_col, passthrough).persist()
    small = build_dicts_small(parsed, cfg.driver_dict_cap)
    if small is not None:
        lt_dict, v_dict, lt_map, v_map = small
        encoded = encode_with_maps(parsed, lt_map, v_map)
    else:
        lt_dict = build_logtype_dict(parsed, cfg.dict_id_partitions)
        v_dict = build_var_dict(parsed, cfg.dict_id_partitions)
        encoded = encode_with_dicts(parsed, lt_dict, v_dict, cfg.driver_dict_cap)
    sink_cols = tuple(c for c in sink_cols if c in encoded.columns)
    encoded = add_sink_id(encoded, cfg.num_sinks, cols=sink_cols)
    return encoded, lt_dict, v_dict


def compress(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    cfg: PipelineConfig | None = None,
) -> dict:
    """Run (or resume) the full compress pipeline. Returns paths + stats."""
    cfg = cfg or PipelineConfig()
    manifest = RunManifest(out_dir)
    run_id = RunManifest.new_run_id()

    parsed_dir = os.path.join(out_dir, "parsed")
    sinks_dir = os.path.join(out_dir, "sinks")
    dicts_dir = os.path.join(out_dir, "dicts")
    metrics_dir = os.path.join(out_dir, "metrics")

    # schemas pinned up front so empty buckets / empty inputs read back fine
    parsed_schema = _parse_phase(pages.limit(0), cfg, "text", None).schema

    # ---- phase 1: parse (bucket-checkpointed, ONE input pass) ----
    # All uncommitted buckets are written in a single scan via
    # partitionBy + dynamic partition overwrite (committed bucket dirs
    # are untouched; uncommitted garbage from a crashed run is
    # overwritten). Bucket commits are recorded only after the write
    # succeeds, so a mid-write crash re-runs exactly the uncommitted set.
    done = manifest.committed("parse")
    todo = [b for b in range(cfg.num_checkpoint_buckets) if b not in done]
    if todo:
        t0 = time.time()
        bucketed = spread(pages).withColumn(
            "bucket", F.pmod(F.xxhash64("url"), F.lit(cfg.num_checkpoint_buckets))
        )
        if len(todo) < cfg.num_checkpoint_buckets:
            bucketed = bucketed.filter(F.col("bucket").isin(todo))
        passthrough = [
            c for c in ("url", "warc_ts", "lang") if c in pages.columns
        ] + ["bucket"]
        parsed = _parse_phase(bucketed, cfg, "text", passthrough)
        # per-bucket row counts ride along with the write as observed
        # metrics — no second scan of the written output (the read-back
        # count job was a fixed serial cost charged to every cluster size)
        from pyspark.sql import Observation

        obs = Observation(f"parse_counts_{run_id}")
        parsed = parsed.observe(
            obs, *[F.count_if(F.col("bucket") == b).alias(f"b{b}") for b in todo]
        )
        (
            parsed.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .option("compression", cfg.compression_codec)
            # the parsed dir is an INTERMEDIATE: written once, re-read by
            # the dict + encode phases, then superseded by the sinks.
            # zstd level 1 (vs parquet's default 3) cuts the compression
            # CPU of the biggest write in the job for a few % more bytes
            # on a short-lived artifact; the sink files keep default 3.
            .option("parquet.compression.codec.zstd.level", "1")
            .partitionBy("bucket")
            .parquet(parsed_dir)
        )
        wall_ms = int(1000 * (time.time() - t0))
        counts = obs.get
        for b in todo:
            manifest.commit(
                "parse", b, run_id, rows_out=int(counts.get(f"b{b}", 0)), wall_ms=wall_ms
            )

    parsed_all = spark.read.schema(parsed_schema).parquet(parsed_dir)

    # ---- phase 2: dictionaries (deterministic IDs at any parallelism) ----
    # Fast path: dictionaries are CLP-small → one collect per dict,
    # driver-side value-sort. Fallback: fully distributed range-ranked
    # IDs. Both produce the same value-sorted-rank dictionaries.
    lt_map = v_map = lt_pdf = route_counts = None
    if "dicts" not in manifest.committed("dicts"):
        t0 = time.time()
        # the routing counts (exact per-(logtype, lang, window) rows for
        # the analytic route boundaries) ride along with the logtype
        # aggregation — same scan, slightly wider group key
        extras = []
        if "lang" in parsed_all.columns:
            extras.append(("lang", F.col("lang")))
        seg_col, _ = segment_expr(
            parsed_all, cfg.num_segments, cfg.segment_window_days
        )
        extras.append(("_seg", seg_col))
        small = build_dicts_small_pandas(
            parsed_all, cfg.driver_dict_cap, route_count_cols=extras
        )
        if small is not None:
            lt_pdf, v_pdf, lt_map, v_map, route_counts = small
            with step_timer("dicts.write_parquet"):
                write_dict_parquet(
                    lt_pdf,
                    os.path.join(dicts_dir, "logtype"),
                    LOGTYPE_DICT_ARROW_SCHEMA,
                    cfg.compression_codec,
                )
                write_dict_parquet(
                    v_pdf,
                    os.path.join(dicts_dir, "var"),
                    VAR_DICT_ARROW_SCHEMA,
                    cfg.compression_codec,
                )
            lt_card, v_card = len(lt_map), len(v_map)
        else:
            build_logtype_dict(parsed_all, cfg.dict_id_partitions).write.mode(
                "overwrite"
            ).parquet(os.path.join(dicts_dir, "logtype"))
            build_var_dict(parsed_all, cfg.dict_id_partitions).write.mode(
                "overwrite"
            ).parquet(os.path.join(dicts_dir, "var"))
            lt_card = spark.read.parquet(os.path.join(dicts_dir, "logtype")).count()
            v_card = spark.read.parquet(os.path.join(dicts_dir, "var")).count()
        manifest.commit(
            "dicts",
            "dicts",
            run_id,
            logtype_cardinality=lt_card,
            var_cardinality=v_card,
            wall_ms=int(1000 * (time.time() - t0)),
        )
    lt_dict = spark.read.parquet(os.path.join(dicts_dir, "logtype"))
    v_dict = spark.read.parquet(os.path.join(dicts_dir, "var"))
    # the committed dictionary size (this run's or a resumed run's) —
    # sizes the route's logtype_id bloom filter
    lt_count = next(
        (
            r.get("logtype_cardinality")
            for r in reversed(manifest.records())
            if r["phase"] == "dicts" and r.get("committed")
        ),
        None,
    )

    # ---- phase 3: encode + route (range fan-out, atomic overwrite) ----
    metrics_src = None
    if "route" not in manifest.committed("route"):
        t0 = time.time()
        if lt_map is None:
            # resume path: reload dictionaries as driver maps only when
            # BOTH fit (a large logtype dict must not be collected just
            # because the var dict happens to be small)
            if (
                v_dict.count() <= cfg.driver_dict_cap
                and lt_dict.count() <= cfg.driver_dict_cap
            ):
                lt_map = {
                    r["logtype"]: r["logtype_id"] for r in lt_dict.collect()
                }
                v_map = {r["value"]: r["var_id"] for r in v_dict.collect()}
        if lt_map is not None:
            encoded = encode_with_maps(parsed_all, lt_map, v_map)
        else:
            encoded = encode_with_dicts(
                parsed_all, lt_dict, v_dict, cfg.driver_dict_cap
            )
        enc_sinked = add_seg_id(
            add_sink_id(encoded, cfg.num_sinks),
            cfg.num_segments,
            window_days=cfg.segment_window_days,
        )
        encoded_schema = enc_sinked.schema
        bounds = (
            _route_bounds(route_counts, lt_map, cfg.num_sinks)
            if route_counts is not None and lt_map is not None
            else None
        )
        from concurrent.futures import ThreadPoolExecutor

        need_metrics = "metrics" not in manifest.committed("metrics")
        if bounds is not None and bounds[1] > 0:
            # Analytic single-pass route: encode flows straight into the
            # boundary shuffle (no RangePartitioner sample pass, no
            # full-width persist). Bookkeeping then re-reads the WRITTEN
            # sinks with column pruning — a narrow scan of the compact
            # columnar output (no url/text decode) instead of keeping
            # the whole encoded frame cached.
            with step_timer("route.write"):
                route_to_sinks(
                    enc_sinked, sinks_dir, cfg, presinked=True, bounds=bounds,
                    logtype_count=lt_count,
                )
            book_src = spark.read.schema(encoded_schema).parquet(sinks_dir)
            f_route_done = True
        else:
            # Sampler route (above-cap dictionaries, a resumed route
            # without counts, or more than _MAX_BOUNDS_CELLS cells):
            # persist the sinked rows so the sample pass, the write, and
            # the bookkeeping aggregations compute the encode once, and
            # run the route write CONCURRENTLY with the bookkeeping from
            # driver threads.
            enc_sinked = enc_sinked.persist()
            book_src = enc_sinked
            f_route_done = False
        # Only TWO distributed aggregations remain: the segment summary
        # (one (sink, seg)-grouped pass — CLP-small by design, like the
        # dictionaries) and the var-dict manifest distinct. Everything
        # the summary derives — logtype manifest, ts zone map, per-sink
        # metrics — is written DRIVER-SIDE with pyarrow: each of those
        # used to be its own multi-stage Spark write job, and those
        # fixed scheduling seconds are charged to every cluster size
        # (they were the dominant term in the N→4N efficiency loss once
        # the vectorized tokenizer shrank the parallel fraction).
        collect_summary, summary_fields, ts_cols, seg_cols = _summary_collector(
            book_src
        )

        def _w_route():
            with step_timer("route.write"):
                route_to_sinks(
                    enc_sinked, sinks_dir, cfg, presinked=True,
                    logtype_count=lt_count,
                )

        var_man = (
            book_src.select(
                "sink_id", "seg_id", F.explode("dict_var_ids").alias("var_id")
            )
            .distinct()
            .persist()
        )

        def _w_var():
            write_var_manifest(var_man, os.path.join(out_dir, "manifest", "var"))

        with ThreadPoolExecutor(max_workers=4) as pool:
            f_route = None if f_route_done else pool.submit(_w_route)
            f_sum = pool.submit(collect_summary)
            f_var = pool.submit(_w_var)
            f_vcard = (
                pool.submit(_var_cardinality, var_man) if need_metrics else None
            )
            with step_timer("route.summary_collect"):
                summary_pdf = f_sum.result()
            with step_timer("route.summary_derived_write"):
                _write_summary_derived(
                    summary_pdf, summary_fields, seg_cols, out_dir, cfg
                )
            if f_route is not None:
                with step_timer("route.write_wait"):
                    f_route.result()
            with step_timer("route.var_manifest_wait"):
                f_var.result()
            manifest.commit(
                "route", "route", run_id, wall_ms=int(1000 * (time.time() - t0))
            )
            # the metrics phase starts at the route commit, so the two
            # phase walls in _manifest.jsonl never overlap
            t_m = time.time()
            if f_vcard is not None:
                with step_timer("route.vcard_wait"):
                    metrics_src = (
                        summary_pdf, f_vcard.result(), summary_fields, ts_cols,
                    )
        var_man.unpersist()
        if not f_route_done:
            enc_sinked.unpersist()

    # ---- phase 4: per-sink aggregates (the aggregate contract) ----
    if "metrics" not in manifest.committed("metrics"):
        if metrics_src is None:
            # resume after the route commit: the same inputs, rebuilt
            # from the committed sinks and var manifest
            t_m = time.time()
            encoded_schema = add_seg_id(
                add_sink_id(
                    encode_with_dicts(
                        parsed_all.limit(0), lt_dict.limit(0), v_dict.limit(0)
                    ),
                    cfg.num_sinks,
                ),
                cfg.num_segments,
            ).schema
            rebuild_metrics(
                spark, spark.read.schema(encoded_schema).parquet(sinks_dir), out_dir
            )
        else:
            with step_timer("metrics.write"):
                _write_metrics_driver(*metrics_src, metrics_dir)
        manifest.commit(
            "metrics", "metrics", run_id, wall_ms=int(1000 * (time.time() - t_m))
        )

    return {
        "run_id": run_id,
        "parsed": parsed_dir,
        "dicts": dicts_dir,
        "sinks": sinks_dir,
        "metrics": metrics_dir,
        "sink_manifest": os.path.join(out_dir, "manifest"),
        "manifest": manifest.path,
    }
