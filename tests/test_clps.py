"""clp_s JSON engine: schema tree, typed encode, filters, reconstruction
(reference: clp_s/JsonParser.cpp:253-311, SchemaTree.hpp:33-50,
QueryRunner.cpp:321-460; golden-query style from test-clp_s-search.cpp)."""

from __future__ import annotations

import json

import pytest

from clp_spark.clps import (
    encode_json_df,
    json_filter,
    reconstruct_json_df,
    schema_candidates,
)

RECORDS = [
    {"id": 0, "level": "INFO", "msg": "request handled in 35 ms", "k": 42},
    {"id": 1, "level": "ERROR", "msg": "timeout after 2.5 sec", "k": 7,
     "ctx": {"host": "node-3", "retries": 2}},
    {"id": 2, "level": "INFO", "msg": "cache hit ratio 0.95", "pi": 3.14159,
     "flags": [1, 2, 3]},
    {"id": 3, "level": "WARN", "ok": True, "k": 42, "note": None},
    {"id": 4, "level": "INFO", "big": 92233720368547758079999,
     "ctx": {"host": "node-7", "retries": 0}},
    {"id": 5, "level": "ERROR", "msg": "request handled in 35 ms", "k": 99},
    {"id": 6, "level": "info-lower", "k": -5, "nested": {"deep": {"x": "y z"}}},
]


@pytest.fixture(scope="module")
def archive(spark):
    df = spark.createDataFrame(
        [(r["id"], json.dumps(r)) for r in RECORDS], "rid long, json string"
    )
    a = encode_json_df(df, "json", passthrough=["rid"])
    a.encoded = a.encoded.persist()
    a.encoded.count()
    return a


def test_reconstruction_structural_roundtrip(archive):
    out = {
        r["rid"]: json.loads(r["json"])
        for r in reconstruct_json_df(archive).select("rid", "json").collect()
    }
    for rec in RECORDS:
        assert out[rec["id"]] == rec, rec["id"]


def _ids(df):
    return sorted(r["rid"] for r in df.select("rid").collect())


def test_int_comparisons(archive):
    assert _ids(json_filter(archive, "k", "eq", 42)) == [0, 3]
    assert _ids(json_filter(archive, "k", "lt", 40)) == [1, 6]
    assert _ids(json_filter(archive, "k", "gte", 42)) == [0, 3, 5]
    assert _ids(json_filter(archive, "ctx.retries", "gt", 0)) == [1]


def test_string_eq_varstring_and_clpstring(archive):
    assert _ids(json_filter(archive, "level", "eq", "ERROR")) == [1, 5]
    # ClpString exact match via logtype + encoded vars — no decode stage
    assert _ids(
        json_filter(archive, "msg", "eq", "request handled in 35 ms")
    ) == [0, 5]
    assert _ids(json_filter(archive, "nested.deep.x", "eq", "y z")) == [6]
    # miss in dictionary ⇒ provably empty
    assert _ids(json_filter(archive, "msg", "eq", "no such message qq")) == []
    assert _ids(json_filter(archive, "level", "eq", "FATAL")) == []


def test_string_wildcard_clpstring(archive):
    """Wildcard values match inside CLP-encoded strings
    (QueryRunner.cpp:463-516 evaluate_clp_string_filter): compiled
    logtype/var candidate prefilter + decode-confirm."""
    assert _ids(json_filter(archive, "msg", "eq", "request*")) == [0, 5]
    assert _ids(json_filter(archive, "msg", "eq", "*2.5*")) == [1]
    assert _ids(json_filter(archive, "msg", "eq", "*35 ms")) == [0, 5]
    assert _ids(json_filter(archive, "msg", "eq", "request?handled*")) == [0, 5]
    # case-sensitivity honored; -i folds
    assert _ids(json_filter(archive, "msg", "eq", "*HANDLED*")) == []
    assert _ids(
        json_filter(archive, "msg", "eq", "*HANDLED*", ignore_case=True)
    ) == [0, 5]
    # "*" value: every row with a ClpString at the path
    assert _ids(json_filter(archive, "msg", "eq", "*")) == [0, 1, 2, 5]
    # wildcard miss in every dictionary ⇒ empty after prefilter
    assert _ids(json_filter(archive, "msg", "eq", "zz*qq")) == []


def test_string_wildcard_clpstring_above_cap_fails_loud(archive, monkeypatch):
    """When the dictionaries exceed the driver cap the decode-confirm
    cannot broadcast — the degrade is a LOUD error pointing at
    per-archive federation, never a silent miss or over-match."""
    import clp_spark.clps.search as cs

    monkeypatch.setattr(cs, "_MAX_ARRAY_DICT_VALUES", 1)
    with pytest.raises(ValueError, match="federation"):
        json_filter(archive, "msg", "eq", "request*")


def test_bool_null_float_bignum(archive):
    assert _ids(json_filter(archive, "ok", "eq", True)) == [3]
    assert _ids(json_filter(archive, "note", "eq", None)) == [3]
    assert _ids(json_filter(archive, "pi", "eq", 3.14159)) == [2]
    assert _ids(json_filter(archive, "k", "neq", 42)) == [1, 5, 6]


def test_exists_nexists(archive):
    assert _ids(json_filter(archive, "ctx.host", "exists")) == [1, 4]
    assert _ids(json_filter(archive, "flags", "exists")) == [2]
    assert _ids(json_filter(archive, "ctx.host", "nexists")) == [0, 2, 3, 5, 6]


def test_schema_pruning_is_a_strict_subset(archive):
    # records with 'pi' have a unique schema; pruning must not scan others
    nodes = [
        nid for (p, _t), nid in archive.node_map.items() if p == "pi"
    ]
    sids = schema_candidates(archive, nodes)
    assert len(sids) < len(archive.schema_ids)


def test_archive_save_load_roundtrip(spark, archive, tmp_path):
    from clp_spark.clps.encoder import JsonArchive

    out = str(tmp_path / "jarch")
    archive.save(out)
    loaded = JsonArchive.load(spark, out)
    assert loaded.node_map == archive.node_map
    assert loaded.schema_ids == archive.schema_ids
    assert _ids(json_filter(loaded, "k", "eq", 42)) == [0, 3]
    out2 = {
        r["rid"]: json.loads(r["json"])
        for r in reconstruct_json_df(loaded).select("rid", "json").collect()
    }
    for rec in RECORDS:
        assert out2[rec["id"]] == rec


def test_fast_path_encode_and_save_cost(spark, tmp_path):
    """encode_json_df(...).save() on the driver-map fast path runs at
    most 3 Spark jobs: the dictionary-candidate pass (a shuffle-map job
    plus its collect) and the encoded-table write. The dictionaries are
    written from the driver, without parquet dictionary pages (their
    values are unique)."""
    import glob

    import pyarrow.parquet as pq

    df = spark.createDataFrame(
        [(r["id"], json.dumps(r)) for r in RECORDS], "rid long, json string"
    )
    out = str(tmp_path / "jarch")
    sc = spark.sparkContext
    sc.setJobGroup("clps-encode-save", "fast-path encode + save")
    try:
        encode_json_df(df, "json", passthrough=["rid"]).save(out)
    finally:
        sc.setJobGroup("clps-encode-save-done", "")
    jobs = sc.statusTracker().getJobIdsForGroup("clps-encode-save")
    assert 1 <= len(jobs) <= 3, jobs

    (f,) = glob.glob(f"{out}/var_dict/*.parquet")
    meta = pq.ParquetFile(f).metadata
    assert meta.num_rows > 0
    for rg in range(meta.num_row_groups):
        for c in range(meta.num_columns):
            col = meta.row_group(rg).column(c)
            assert not col.has_dictionary_page, col.path_in_schema
            assert not any("DICTIONARY" in e for e in col.encodings), col.encodings


def test_type_split_creates_two_nodes_for_one_path(archive):
    # 'level' is VarString everywhere; 'msg' ClpString; a path appearing
    # with two types gets two nodes — here check distinct tags exist
    tags = {(p, t) for (p, t) in archive.node_map}
    assert ("level", 4) in tags  # NODE_VARSTR
    assert ("msg", 5) in tags    # NODE_CLPSTR


class TestDistributedBuild:
    """Forcing driver_dict_cap=1 routes encode_json_df through the fully
    distributed build (assign_stable_ids ranks + join-based encode).
    The archive must be IDENTICAL to the driver-map fast path's — same
    dictionaries, same schema map, same encoded rows — and every search
    and the ordered extract must behave the same (Missing #1 from the
    round-2 review: the reference builds incrementally at any
    cardinality, ArchiveWriter.cpp:370-440)."""

    @pytest.fixture(scope="class")
    def dist_archive(self, spark):
        df = spark.createDataFrame(
            [(r["id"], json.dumps(r)) for r in RECORDS], "rid long, json string"
        )
        a = encode_json_df(df, "json", passthrough=["rid"], driver_dict_cap=1)
        a.encoded = a.encoded.persist()
        a.encoded.count()
        return a

    def test_same_dictionaries(self, archive, dist_archive):
        def key(r):
            return tuple(
                tuple(x) if isinstance(x, list) else x for x in r
            )

        for attr in ("tree", "schema_map", "logtype_dict", "var_dict"):
            fast = {key(r) for r in getattr(archive, attr).collect()}
            dist = {key(r) for r in getattr(dist_archive, attr).collect()}
            assert fast == dist, attr

    def test_same_encoded_rows(self, archive, dist_archive):
        def norm(a):
            return {
                r["rid"]: (
                    r["schema_id"],
                    tuple(r["node_ids"]),
                    tuple(
                        (v["node"], v["enc"], tuple(v["vars"] or []))
                        for v in r["jvals"]
                    ),
                )
                for r in a.encoded.collect()
            }

        assert norm(archive) == norm(dist_archive)

    def test_maps_collected_when_small(self, dist_archive):
        # cap=1 only bounds the driver-map fast path; the final archive's
        # node_map/schema_ids are still None under the forced tiny cap
        assert dist_archive.node_map is None
        assert dist_archive.schema_ids is None

    def test_search_without_driver_maps(self, dist_archive):
        assert _ids(json_filter(dist_archive, "k", "eq", 42)) == [0, 3]
        assert _ids(json_filter(dist_archive, "ctx.host", "eq", "node-3")) == [1]
        assert _ids(
            json_filter(dist_archive, "msg", "eq", "request handled in 35 ms")
        ) == [0, 5]

    def test_roundtrip_joined_path(self, dist_archive):
        out = {
            r["rid"]: json.loads(r["json"])
            for r in reconstruct_json_df(dist_archive)
            .select("rid", "json")
            .collect()
        }
        for rec in RECORDS:
            assert out[rec["id"]] == rec, rec["id"]


class TestKqlLongTail:
    """Reference-grammar long tail: nested-object subqueries, value
    lists, timestamp expressions, bare values, wildcard columns
    (Kql.g4:5-42, kql.cpp:211-330; e2e query style from
    test-clp_s-search.cpp:205-258)."""

    def test_nested_query(self, archive):
        from clp_spark.clps import kql_query

        assert _ids(kql_query(archive, 'ctx: {host: "node-3"}')) == [1]
        assert _ids(
            kql_query(archive, "ctx: {host: node-7 AND retries: 0}")
        ) == [4]
        assert _ids(kql_query(archive, "nested: {deep: {x: \"y z\"}}")) == [6]

    def test_value_lists(self, archive):
        from clp_spark.clps import kql_query

        assert _ids(kql_query(archive, "level: (INFO WARN)")) == [0, 2, 3, 4]
        assert _ids(kql_query(archive, "level: (or INFO WARN)")) == [0, 2, 3, 4]
        assert _ids(kql_query(archive, "level: (not INFO ERROR)")) == [3, 6]
        assert _ids(kql_query(archive, "k: (42 99)")) == [0, 3, 5]

    def test_bare_value_matches_any_column(self, archive):
        from clp_spark.clps import kql_query

        assert _ids(kql_query(archive, "42")) == [0, 3]
        assert _ids(kql_query(archive, "WARN")) == [3]
        assert _ids(kql_query(archive, '"node-7"')) == [4]

    def test_wildcard_columns(self, archive):
        from clp_spark.clps import kql_query

        assert _ids(kql_query(archive, "ctx.*: 2")) == [1]
        assert _ids(kql_query(archive, '*.host: "node-7"')) == [4]
        assert _ids(kql_query(archive, "ctx.h?st: *")) == [1, 4]

    def test_timestamp_expression(self, spark):
        from clp_spark.clps import encode_json_df, kql_query
        from clp_spark.clps.kql import parse_kql_timestamp

        base = parse_kql_timestamp("2024-01-05 00:00:00")
        recs = [
            {"id": 0, "ts": base - 1000},
            {"id": 1, "ts": base},
            {"id": 2, "ts": base + 60_000},
        ]
        df = spark.createDataFrame(
            [(r["id"], json.dumps(r)) for r in recs], "rid long, json string"
        )
        a = encode_json_df(df, "json", passthrough=["rid"])
        assert _ids(kql_query(a, 'ts >= timestamp("2024-01-05 00:00:00")')) == [1, 2]
        assert _ids(kql_query(a, 'ts: timestamp("2024-01-05 00:00:00")')) == [1]
        assert _ids(kql_query(a, 'ts < timestamp("2024-01-05 00:00:00")')) == [0]

    def test_wildcard_on_distributed_archive(self, spark):
        # the DF-fallback node lookup (node_map=None) must honour
        # level-bounded wildcards via the pushed Java regex
        from clp_spark.clps import kql_query

        df = spark.createDataFrame(
            [(r["id"], json.dumps(r)) for r in RECORDS], "rid long, json string"
        )
        a = encode_json_df(df, "json", passthrough=["rid"], driver_dict_cap=1)
        assert _ids(kql_query(a, "ctx.*: 2")) == [1]
        assert _ids(kql_query(a, '*.host: "node-7"')) == [4]


class TestStructurizedArrays:
    """structurize_arrays=True: array elements become typed nodes at the
    array's path (JsonParser.cpp:336-476 parse_array; NodeType::
    StructuredArray, SchemaTree.hpp:43), so KQL filters reach inside
    arrays and reconstruction stays exact via document-order markers."""

    SRECORDS = [
        {"id": 0, "tags": ["a", "b"], "xs": [1, 2, 3]},
        {"id": 1, "tags": [], "objs": [{"h": "n1", "n": 5}, {"h": "n2", "n": 7}]},
        {"id": 2, "nested": [[1, 2], [3]], "mix": [1, "x", None, 2.5, True]},
        {"id": 3, "tags": ["b"], "objs": [{"h": "n1", "deep": {"q": [9]}}]},
        {"id": 4, "plain": 1},
    ]

    @pytest.fixture(scope="class", params=[300_000, 1])
    def sarchive(self, spark, request):
        # param: driver-map fast path vs forced distributed build
        df = spark.createDataFrame(
            [(r["id"], json.dumps(r)) for r in self.SRECORDS],
            "rid long, json string",
        )
        a = encode_json_df(
            df, "json", passthrough=["rid"],
            driver_dict_cap=request.param, structurize_arrays=True,
        )
        a.encoded = a.encoded.persist()
        a.encoded.count()
        return a

    def test_roundtrip_exact(self, sarchive):
        out = {
            r["rid"]: json.loads(r["json"])
            for r in reconstruct_json_df(sarchive).select("rid", "json").collect()
        }
        for rec in self.SRECORDS:
            assert out[rec["id"]] == rec, rec["id"]

    def test_filter_inside_arrays(self, sarchive):
        from clp_spark.clps import kql_query

        # scalar element match at the array's own path
        assert _ids(kql_query(sarchive, "tags: b")) == [0, 3]
        assert _ids(kql_query(sarchive, "xs: 2")) == [0]
        assert _ids(kql_query(sarchive, "xs > 2")) == [0]
        # object-element fields at path.key
        assert _ids(kql_query(sarchive, 'objs: {h: "n1"}')) == [1, 3]
        assert _ids(kql_query(sarchive, "objs.n: 7")) == [1]
        # deep: array inside object inside array element
        assert _ids(kql_query(sarchive, "objs.deep.q: 9")) == [3]
        # mixed-type elements
        assert _ids(kql_query(sarchive, "mix: 2.5")) == [2]
        assert _ids(kql_query(sarchive, 'mix: "x"')) == [2]
        # nested arrays share the path
        assert _ids(kql_query(sarchive, "nested: 3")) == [2]
        # misses prune to empty
        assert _ids(kql_query(sarchive, "tags: zz")) == []

    def test_exists_on_array_path(self, sarchive):
        assert _ids(json_filter(sarchive, "tags", "exists")) == [0, 1, 3]
        assert _ids(json_filter(sarchive, "objs.h", "exists")) == [1, 3]


class TestFloatFormats:
    """FormattedFloat/DictionaryFloat analog (ColumnWriter.hpp:69-125,
    FloatFormatEncoding.*): non-canonical float text round-trips
    byte-exactly, and float EQ/ranges run on the order-preserving key."""

    TEXTS = [
        (0, '{"a":1.5}'),
        (1, '{"a":1.50}'),
        (2, '{"a":2.5e1}'),
        (3, '{"a":-0.25}'),
        (4, '{"a":0.125,"b":"x"}'),
    ]

    @pytest.fixture(scope="class", params=[300_000, 1])
    def farchive(self, spark, request):
        df = spark.createDataFrame(self.TEXTS, "rid long, json string")
        a = encode_json_df(
            df, "json", passthrough=["rid"], driver_dict_cap=request.param
        )
        a.encoded = a.encoded.persist()
        a.encoded.count()
        return a

    def test_byte_exact_roundtrip(self, farchive):
        got = {
            r["rid"]: r["json"]
            for r in reconstruct_json_df(farchive).select("rid", "json").collect()
        }
        for rid, text in self.TEXTS:
            assert got[rid] == text, (rid, got[rid])

    def test_float_eq_matches_by_value(self, farchive):
        # 1.50 and 1.5 are the same double — EQ matches both formats
        assert _ids(json_filter(farchive, "a", "eq", 1.5)) == [0, 1]
        assert _ids(json_filter(farchive, "a", "eq", 25.0)) == [2]

    def test_float_ranges(self, farchive):
        assert _ids(json_filter(farchive, "a", "lt", 1.5)) == [3, 4]
        assert _ids(json_filter(farchive, "a", "gte", 1.5)) == [0, 1, 2]
        assert _ids(json_filter(farchive, "a", "gt", -1.0)) == [0, 1, 2, 3, 4]
        assert _ids(json_filter(farchive, "a", "lte", -0.25)) == [3]

    def test_kql_float_range(self, farchive):
        from clp_spark.clps import kql_query

        assert _ids(kql_query(farchive, "a >= 1.5 AND a < 25.0")) == [0, 1]


class TestFastParsePath:
    """The orjson fast parse path must produce leaves IDENTICAL to the
    json.loads+_RawFloat slow path (byte-identical archives), across
    non-canonical floats, exponent forms, bignums, unicode, arrays."""

    CASES = [
        '{"a":1.5,"b":"x y z","c":true,"d":null}',
        '{"a":1.50}',                      # non-canonical float text
        '{"a":1e16}',                      # orjson-canonical, json "1e+16"
        '{"a":2.5e1,"nested":{"k":[1,2.25,"s"]}}',
        '{"big":123456789012345678901234567890}',   # >int64 → bignum
        '{"u":"héllo wörld","v":"naïve"}',          # raw UTF-8
        '{ "a": 1 , "b" : 2.0 }',                   # whitespace → slow path
        '{"arr":[{"x":1},{"x":2.5}],"s":"one two"}',
        '{"a":0.00001}',     # orjson fixed form, json canonical "1e-05"
        '{"a":1e-05}',       # json-canonical source → slow path, plain float
        '{"a":0.0001,"b":9999999999999998.0}',      # fixed-form boundary
        '{"a":-0.0,"b":0.0}',
    ]

    @pytest.mark.parametrize("structurize", [False, True])
    def test_leaves_identical_fast_vs_slow(self, structurize):
        from clp_spark.clps import encoder as enc

        assert enc._orjson is not None, "orjson expected in this env"
        for s in self.CASES:
            fast_leaves: list = []
            obj, fast = enc._loads(s)
            enc._walk(obj, "", fast_leaves, structurize, fast)

            slow_leaves: list = []
            slow_obj = json.loads(s, parse_float=enc._RawFloat)
            enc._walk(slow_obj, "", slow_leaves, structurize, False)
            assert fast_leaves == slow_leaves, s

    def test_fast_path_taken_for_canonical_records(self):
        from clp_spark.clps import encoder as enc

        _, fast = enc._loads('{"a":1.5,"b":"x"}')
        assert fast is True
        _, fast = enc._loads('{"a":1.50}')
        assert fast is False
        _, fast = enc._loads('{ "a": 1 }')
        assert fast is False

    def test_byte_exact_roundtrip_exponent_and_unicode(self, spark):
        texts = [
            (0, '{"a":1e16}'),
            (1, '{"u":"héllo wörld"}'),
            (2, '{"a":1.50,"arr":[1,2]}'),
        ]
        df = spark.createDataFrame(texts, "rid long, json string")
        a = encode_json_df(df, "json", passthrough=["rid"])
        got = {
            r["rid"]: r["json"]
            for r in reconstruct_json_df(a).select("rid", "json").collect()
        }
        for rid, text in texts:
            assert got[rid] == text, (rid, got[rid])


class TestRangeIndexFilters:
    """'$'-namespace metadata filters rewrite into row-index range
    predicates (EvaluateRangeIndexFilters.{hpp,cpp}; fields per
    archive_constants.hpp:40-45 range_index namespace)."""

    @pytest.fixture(scope="class")
    def ri_archive(self, spark):
        rows = []
        for rid in range(300):
            fname = f"srv{rid // 100}.log"   # 3 contiguous idx ranges
            rows.append((rid, fname, rid // 100, f'{{"k":{rid % 7},"t":"m {rid}"}}'))
        df = spark.createDataFrame(
            rows, "rid long, _filename string, _file_split_number long, json string"
        )
        a = encode_json_df(
            df,
            "json",
            passthrough=["rid"],
            range_index_fields=["_filename", "_file_split_number"],
            range_index_idx_col="rid",
        )
        a.encoded = a.encoded.persist()
        a.encoded.count()
        return a

    def test_filename_eq(self, ri_archive):
        from clp_spark.clps import kql_query

        got = _ids(kql_query(ri_archive, '$_filename: "srv1.log"'))
        assert got == list(range(100, 200))

    def test_filename_wildcard_and_combined(self, ri_archive):
        from clp_spark.clps import kql_query

        got = _ids(kql_query(ri_archive, '$_filename: "srv*" AND k: 3'))
        assert got == [r for r in range(300) if r % 7 == 3]

    def test_no_match_is_empty(self, ri_archive):
        from clp_spark.clps import kql_query

        assert kql_query(ri_archive, '$_filename: "nope.log"').count() == 0

    def test_split_number_range(self, ri_archive):
        from clp_spark.clps import kql_query

        got = _ids(kql_query(ri_archive, "$_file_split_number >= 2"))
        assert got == list(range(200, 300))

    def test_interleaved_idx_rejected(self, spark):
        rows = [(i, f"f{i % 2}.log", '{"a":1}') for i in range(10)]
        df = spark.createDataFrame(rows, "rid long, _filename string, json string")
        with pytest.raises(ValueError, match="interleave"):
            encode_json_df(
                df,
                "json",
                passthrough=["rid"],
                range_index_fields=["_filename"],
                range_index_idx_col="rid",
            )

    def test_exists_on_range_index_field(self, ri_archive):
        # '$field: *' = exists (entry has the field, any value) — must
        # not TypeError on numeric metadata or silently return no rows
        from clp_spark.clps import kql_query

        got = _ids(kql_query(ri_archive, "$_filename: *"))
        assert got == list(range(300))
        got = _ids(kql_query(ri_archive, "$_file_split_number: *"))
        assert got == list(range(300))

    def test_save_load_preserves_range_index(self, spark, ri_archive, tmp_path):
        from clp_spark.clps import kql_query
        from clp_spark.clps.encoder import JsonArchive

        out = str(tmp_path / "ri_arch")
        ri_archive.save(out)
        loaded = JsonArchive.load(spark, out)
        assert loaded.range_index_idx_col == "rid"
        got = _ids(kql_query(loaded, '$_filename: "srv2.log"'))
        assert got == list(range(200, 300))


class TestIgnoreCase:
    """clp_s CLI's -i flag: case-insensitive string comparisons over the
    encoded archive (VarString, ClpString templates + dict vars,
    wildcard var scans). Tokenization is case-insensitive in structure,
    so lowercased comparisons are exact."""

    def test_varstring_eq(self, archive):
        assert _ids(json_filter(archive, "level", "eq", "error",
                                ignore_case=True)) == [1, 5]
        assert _ids(json_filter(archive, "level", "eq", "INFO-LOWER",
                                ignore_case=True)) == [6]
        # default stays case-sensitive
        assert _ids(json_filter(archive, "level", "eq", "error")) == []

    def test_clpstring_eq(self, archive):
        assert _ids(
            json_filter(archive, "msg", "eq", "REQUEST Handled IN 35 MS",
                        ignore_case=True)
        ) == [0, 5]
        assert _ids(
            json_filter(archive, "msg", "eq", "REQUEST Handled IN 35 MS")
        ) == []

    def test_wildcard_varstring(self, archive):
        assert _ids(json_filter(archive, "level", "eq", "ERR*",
                                ignore_case=True)) == [1, 5]

    def test_kql_flag(self, archive):
        from clp_spark.clps import kql_query

        got = _ids(kql_query(archive, 'level: "WARN" OR level: "inFO"',
                             ignore_case=True))
        assert got == [0, 2, 3, 4]
        assert _ids(kql_query(archive, 'level: "warn"')) == []


class TestMixedNumericTypes:
    """Numeric literals must cross int/float node types: the reference's
    Integral literal matches both column types (clp_s/search/ast/
    Integral.hpp matches_type & cIntegralLiteralTypes; NarrowTypes.cpp),
    so 'a > 10' sees {"a": 10.5} and 'a < 2.5' sees {"a": 2}. Also ±0.0:
    key(-0.0) != key(0.0) but the doubles compare equal."""

    RECS = [
        (0, '{"a":10}'),
        (1, '{"a":10.5}'),
        (2, '{"a":2}'),
        (3, '{"a":2.5}'),
        (4, '{"a":10.0}'),
        (5, '{"a":-0.0}'),
        (6, '{"a":0.0}'),
        (7, '{"a":0}'),
        (8, '{"a":-3}'),
    ]

    @pytest.fixture(scope="class")
    def marchive(self, spark):
        df = spark.createDataFrame(self.RECS, "rid long, json string")
        a = encode_json_df(df, "json", passthrough=["rid"])
        a.encoded = a.encoded.persist()
        a.encoded.count()
        return a

    def test_int_literal_matches_float_nodes(self, marchive):
        assert _ids(json_filter(marchive, "a", "eq", 10)) == [0, 4]
        assert _ids(json_filter(marchive, "a", "gt", 10)) == [1]
        assert _ids(json_filter(marchive, "a", "gte", 10)) == [0, 1, 4]
        assert _ids(json_filter(marchive, "a", "gt", 2)) == [0, 1, 3, 4]
        assert _ids(json_filter(marchive, "a", "lt", 0)) == [8]

    def test_float_literal_matches_int_nodes(self, marchive):
        assert _ids(json_filter(marchive, "a", "lt", 2.5)) == [2, 5, 6, 7, 8]
        assert _ids(json_filter(marchive, "a", "lte", 2.0)) == [2, 5, 6, 7, 8]
        assert _ids(json_filter(marchive, "a", "eq", 10.0)) == [0, 4]
        assert _ids(json_filter(marchive, "a", "eq", 2.5)) == [3]
        assert _ids(json_filter(marchive, "a", "gt", 2.4)) == [0, 1, 3, 4]

    def test_signed_zero(self, marchive):
        # -0.0 == 0.0 == 0 as numbers; both float keys and the int node
        assert _ids(json_filter(marchive, "a", "eq", 0.0)) == [5, 6, 7]
        assert _ids(json_filter(marchive, "a", "eq", 0)) == [5, 6, 7]
        assert _ids(json_filter(marchive, "a", "gte", 0.0)) == [0, 1, 2, 3, 4, 5, 6, 7]
        assert _ids(json_filter(marchive, "a", "lte", 0.0)) == [5, 6, 7, 8]
        assert _ids(json_filter(marchive, "a", "gt", 0.0)) == [0, 1, 2, 3, 4]
        assert _ids(json_filter(marchive, "a", "lt", 0)) == [8]

    def test_minus_zero_roundtrips_byte_exact(self, marchive):
        got = {
            r["rid"]: r["json"]
            for r in reconstruct_json_df(marchive).select("rid", "json").collect()
        }
        for rid, text in self.RECS:
            assert got[rid] == text, (rid, got[rid])

    def test_huge_int_literal_vs_float_nodes(self, marchive):
        # 2**63 + 3 is not a double; nothing here is that large
        assert _ids(json_filter(marchive, "a", "gt", 2**63 + 3)) == []
        assert _ids(json_filter(marchive, "a", "lt", 2**63 + 3)) == list(range(9))
        assert _ids(json_filter(marchive, "a", "eq", 2**63 + 3)) == []

    def test_kql_mixed(self, marchive):
        from clp_spark.clps import kql_query

        assert _ids(kql_query(marchive, "a > 2 AND a <= 10.5")) == [0, 1, 3, 4]


class TestUnstructuredArraySearch:
    """Queries into UNstructurized arrays (the clp_s default): a path
    that dead-ends at an UnstructuredArray node is evaluated inside the
    stored array text (QueryRunner.cpp evaluate_array_filter*:541-693).
    Mirrors the golden 'arr.b > 1000' -> {7, 8} case from
    test-clp_s-search.cpp (records 7/8 of test_search.jsonl) plus
    nested arrays, strings, bools, and nulls."""

    RECS = [
        (0, '{"idx":0,"a":"clp string"}'),
        (7, '{"idx":7,"arr":[{"a":999},{"b":1001}]}'),
        (8, '{"idx":8,"arr":{"a":999,"b":1001}}'),
        (14, '{"idx":14,"arr":[[{"b":2000}],5,"text val"]}'),
        (15, '{"idx":15,"arr":[{"b":999}]}'),
        (16, '{"idx":16,"arr":["abc de",1.5,null,true]}'),
    ]

    @pytest.fixture(scope="class")
    def uarchive(self, spark):
        df = spark.createDataFrame(self.RECS, "rid long, json string")
        a = encode_json_df(df, "json", passthrough=["rid"])
        a.encoded = a.encoded.persist()
        a.encoded.count()
        return a

    def test_golden_arr_b_gt_1000(self, uarchive):
        # matches BOTH the array-of-objects shape and the plain object
        assert _ids(json_filter(uarchive, "arr.b", "gt", 1000)) == [7, 8, 14]

    def test_numeric_ops_inside_arrays(self, uarchive):
        assert _ids(json_filter(uarchive, "arr.b", "eq", 1001)) == [7, 8]
        assert _ids(json_filter(uarchive, "arr.b", "lte", 999)) == [15]
        assert _ids(json_filter(uarchive, "arr.b", "neq", 1001)) == [14, 15]
        assert _ids(json_filter(uarchive, "arr", "eq", 5)) == [14]
        assert _ids(json_filter(uarchive, "arr", "eq", 1.5)) == [16]

    def test_strings_bools_nulls_inside_arrays(self, uarchive):
        assert _ids(json_filter(uarchive, "arr", "eq", "text*")) == [14]
        assert _ids(json_filter(uarchive, "arr", "eq", "abc de")) == [16]
        assert _ids(json_filter(uarchive, "arr", "eq", True)) == [16]
        assert _ids(json_filter(uarchive, "arr", "eq", None)) == [16]

    def test_exists_inside_arrays(self, uarchive):
        assert _ids(json_filter(uarchive, "arr.b", "exists")) == [7, 8, 14, 15]
        assert _ids(json_filter(uarchive, "arr.b", "nexists")) == [0, 16]

    def test_kql_front_end(self, uarchive):
        from clp_spark.clps import kql_query

        assert _ids(kql_query(uarchive, "arr.b > 1000")) == [7, 8, 14]
        assert _ids(kql_query(uarchive, 'arr: "abc*" OR arr.b: 999')) == [15, 16]

    def test_above_cap_distributed_is_exact(self, uarchive, monkeypatch):
        """Forcing the array-dict cap to zero must route evaluation
        through the distributed mapInPandas fallback and return results
        IDENTICAL to the driver path — the degrade direction is
        slow-but-exact, never silent under-matching."""
        from clp_spark.clps import search as csearch

        monkeypatch.setattr(csearch, "_MAX_ARRAY_DICT_VALUES", 0)
        monkeypatch.setattr(uarchive, "_arr_vals_cache", None, raising=False)
        monkeypatch.setattr(uarchive, "_arr_match_cache", {}, raising=False)
        assert _ids(json_filter(uarchive, "arr.b", "gt", 1000)) == [7, 8, 14]
        assert _ids(json_filter(uarchive, "arr.b", "neq", 1001)) == [14, 15]
        assert _ids(json_filter(uarchive, "arr", "eq", "text*")) == [14]
        assert _ids(json_filter(uarchive, "arr", "eq", None)) == [16]
        assert _ids(json_filter(uarchive, "arr.b", "nexists")) == [0, 16]
        # prove the distributed path actually ran (cap tripped + memo hit)
        assert uarchive._arr_vals_cache == "over"
        assert len(uarchive._arr_match_cache) > 0


def test_empty_object_and_single_column_roundtrip(spark):
    """'{\"a\":{}}' must round-trip (the empty object is an Object node,
    SchemaTree.hpp:24-43 — losing the key would violate the structural-
    equality contract), '{\"a\":{}}' and '{}' must NOT share a schema,
    a no-passthrough (single-column) frame must encode, top-level
    non-objects must be rejected loudly, and arrays keep working."""
    import json as _json

    import pytest as _pytest

    from clp_spark.clps import encode_json_df
    from clp_spark.clps.encoder import reconstruct_json_df

    recs = [
        '{"a":{}}',
        "{}",
        '{"a":{"b":1}}',
        '{"a":{},"c":[{"d":{}}]}',
        '{"nested":{"deeper":{}}}',
    ]
    df = spark.createDataFrame([(s,) for s in recs], "json string")
    arch = encode_json_df(df, "json")  # no passthrough columns at all
    out = [
        _json.loads(r["rt"])
        for r in reconstruct_json_df(arch, "rt").collect()
    ]
    want = [_json.loads(s) for s in recs]
    assert sorted(out, key=_json.dumps) == sorted(want, key=_json.dumps)
    # distinct schemas for {} vs {"a":{}}
    sids = {r["schema_id"] for r in arch.encoded.select("schema_id").collect()}
    assert len(sids) >= 4

    bad = spark.createDataFrame([("[1,2]",)], "json string")
    with _pytest.raises(Exception, match="top-level JSON objects"):
        encode_json_df(bad, "json").encoded.collect()
