"""Column-metadata index (IndexManager.hpp:14-27 analog): schema-tree
(path, type) listing per archive + existence-based archive pruning for
federated KQL, exact vs unpruned union."""

from __future__ import annotations

import json

import pytest

from clp_spark.clps import encode_json_df
from clp_spark.clps.index import (
    archive_may_match,
    read_column_index,
    required_paths,
    search_archives_kql,
    write_column_index,
)
from clp_spark.clps.kql import kql_query

DOCS_A = [
    {"svc": "auth", "code": 200, "o": {"lat": 3.5}, "msg": "user alice ok"},
    {"svc": "auth", "code": 500, "o": {"lat": 9.1}, "msg": "user bob err"},
]
DOCS_B = [
    {"svc": "cart", "items": [{"sku": "x1", "qty": 2}], "msg": "add x1"},
    {"svc": "cart", "items": [{"sku": "y2", "qty": 1}], "msg": "add y2"},
]


@pytest.fixture(scope="module")
def archives(spark, tmp_path_factory):
    dirs = []
    for name, docs in (("a", DOCS_A), ("b", DOCS_B)):
        df = spark.createDataFrame(
            [(i, json.dumps(d)) for i, d in enumerate(docs)], "id long, j string"
        )
        arch = encode_json_df(df, "j", passthrough=["id"])
        d = str(tmp_path_factory.mktemp(f"arch_{name}"))
        arch.save(d)
        write_column_index(d)
        dirs.append(d)
    return dirs


def test_index_lists_paths_and_types(spark, archives):
    da, db = archives
    idx_a = dict(read_column_index(da))
    assert "svc" in idx_a and "code" in idx_a and "o.lat" in idx_a
    from clp_spark.clps.encoder import NODE_ARRAY, NODE_INT

    assert idx_a["code"] == NODE_INT
    idx_b = dict(read_column_index(db))
    assert idx_b["items"] == NODE_ARRAY  # unstructured array leaf


@pytest.mark.parametrize(
    "q,want",
    [
        ("a: 1 AND b: 2", {"a", "b"}),
        ("a: 1 OR b: 2", set()),
        ("a: 1 OR a: 2", {"a"}),
        ("NOT a: 1", set()),
        ("a: 1 AND NOT b: 2", {"a"}),
        ("o: {x: 1 AND y: 2}", {"o.x", "o.y"}),
        ("a: (1 2 3)", {"a"}),
        ("a: (not 1 2)", set()),
        ('"$file": "x" AND a: 1', {"a"}),
        ("lvl: * AND code > 3", {"lvl", "code"}),
        ('"quoted.path": 5', {"quoted.path"}),
        ("alice", set()),
        ("(a: 1 OR b: 2) AND c: 3", {"c"}),
    ],
)
def test_required_paths(q, want):
    assert set(required_paths(q)) == want


def test_array_prefix_descent():
    idx = [("items", 6), ("svc", 4)]  # items is an UnstructuredArray
    assert archive_may_match(idx, frozenset(["items.sku"]))
    assert archive_may_match(idx, frozenset(["svc"]))
    assert not archive_may_match(idx, frozenset(["missing.field"]))
    # wildcard required path: exact wildcard hit, else array descent
    assert archive_may_match(idx, frozenset(["s*c"]))
    assert archive_may_match(idx, frozenset(["it*.sku"]))


def test_federated_search_prunes_and_stays_exact(spark, archives):
    da, db = archives
    # field only archive A hosts
    df, searched = search_archives_kql(spark, archives, "code: 500")
    assert searched == [da]
    assert [r["id"] for r in df.select("id").collect()] == [1]

    # field only archive B hosts (inside an unstructured array)
    df, searched = search_archives_kql(spark, archives, "items.sku: x1")
    assert searched == [db]
    assert df.count() == 1

    # everything pruned
    df, searched = search_archives_kql(spark, archives, "nope.zip: 1")
    assert df is None and searched == []

    # both match: pruned union == unpruned union
    df, searched = search_archives_kql(spark, archives, 'msg: "*alice*" OR svc: cart')
    assert searched == archives
    got = {(r["archive"], r["id"]) for r in df.select("archive", "id").collect()}
    expect = set()
    from clp_spark.clps.encoder import JsonArchive

    for d in archives:
        arch = JsonArchive.load(spark, d)
        for r in kql_query(arch, 'msg: "*alice*" OR svc: cart').select("id").collect():
            import os

            expect.add((os.path.basename(os.path.normpath(d)), r["id"]))
    assert got == expect


def test_read_builds_index_on_demand(spark, archives, tmp_path):
    """Archives saved before indexing existed get the index lazily."""
    import json as _json

    df = spark.createDataFrame([(0, _json.dumps({"k": 7}))], "id long, j string")
    arch = encode_json_df(df, "j", passthrough=["id"])
    d = str(tmp_path / "legacy")
    arch.save(d)
    idx = read_column_index(d)  # no write_column_index call
    assert ("k", 0) in idx


def test_pruning_soundness_fuzz(spark, tmp_path):
    """The one bug class that must never ship: pruning an archive that
    contains a match. Generate random small archives and random queries;
    whenever archive_may_match says False, the full KQL evaluation must
    return zero rows."""
    import random

    rng = random.Random(1234)
    fields = ["a", "b", "o.x", "o.y", "arr"]

    def rand_doc():
        d = {}
        if rng.random() < 0.7:
            d["a"] = rng.choice([1, 2, "one two", None])
        if rng.random() < 0.5:
            d["b"] = rng.choice([3.5, "z", True])
        if rng.random() < 0.5:
            d["o"] = {k: rng.randrange(5) for k in ("x", "y") if rng.random() < 0.7}
        if rng.random() < 0.4:
            d["arr"] = [{"k": rng.randrange(3)}, rng.randrange(9)]
        return d or {"a": 0}

    from clp_spark.clps.encoder import JsonArchive

    dirs = []
    for i in range(3):
        docs = [rand_doc() for _ in range(30)]
        df = spark.createDataFrame(
            [(j, json.dumps(d)) for j, d in enumerate(docs)], "id long, j string"
        )
        d = str(tmp_path / f"fz{i}")
        encode_json_df(df, "j", passthrough=["id"]).save(d)
        write_column_index(d)
        dirs.append(d)
    archives = [(d, JsonArchive.load(spark, d)) for d in dirs]
    indexes = [(d, read_column_index(d)) for d in dirs]

    def rand_query():
        f = rng.choice(fields + ["arr.k", "missing", "o.z", "a*"])
        kind = rng.randrange(4)
        if kind == 0:
            v = rng.choice(["1", "2", '"z"', "true", "*"])
            return f"{f}: {v}"
        if kind == 1:
            return f"{f} > {rng.randrange(4)}"
        if kind == 2:
            g = rng.choice(fields)
            op = rng.choice(["AND", "OR"])
            return f"{f}: 1 {op} {g}: 2"
        return f"NOT {f}: 1"

    checked_pruned = 0
    for _ in range(60):
        q = rand_query()
        req = required_paths(q)
        for (d, idx), (_d2, arch) in zip(indexes, archives):
            if not archive_may_match(idx, req):
                checked_pruned += 1
                assert kql_query(arch, q).count() == 0, (q, d)
    assert checked_pruned > 10  # the fuzz actually exercised pruning


def test_batched_index_read_matches_per_archive(spark, tmp_path_factory):
    """Above _BATCH_INDEX_MIN_ARCHIVES, planning reads every archive's
    column index in ONE distributed scan; the result must be identical
    to the per-archive driver reads."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from clp_spark.clps.index import _read_indexes, read_column_index

    base = tmp_path_factory.mktemp("idx_batch")
    dirs = []
    for i in range(40):
        d = base / f"arch{i:02d}"
        (d / "schema_tree").mkdir(parents=True)
        pq.write_table(
            pa.table(
                {
                    "node_id": pa.array([0, 1], pa.int64()),
                    "path": [f"field{i}", "shared"],
                    "tag": pa.array([4, 0], pa.int32()),
                }
            ),
            str(d / "schema_tree" / "p.parquet"),
        )
        dirs.append(str(d))
    batched = _read_indexes(spark, dirs)
    serial = {d: read_column_index(d) for d in dirs}
    assert batched == serial
    assert all(len(v) == 2 for v in batched.values())


def test_resave_within_old_mtimes_reloads(spark, tmp_path):
    """The archive load cache keys on every file's name and size, not
    only on mtimes: a re-save whose files carry the old mtimes (two
    saves within one mtime tick) still reloads."""
    import os

    from clp_spark.clps.index import load_surviving_archives

    d = str(tmp_path / "arch")
    pinned = 1_600_000_000 * 10**9

    def save_pinned(docs):
        df = spark.createDataFrame(
            [(i, json.dumps(x)) for i, x in enumerate(docs)], "id long, j string"
        )
        encode_json_df(df, "j", passthrough=["id"]).save(d)
        for root, dirs, files in os.walk(d):
            for name in dirs + files:
                os.utime(os.path.join(root, name), ns=(pinned, pinned))

    cache: dict = {}
    save_pinned(DOCS_A)
    _, (first,) = load_surviving_archives(spark, [d], cache=cache)
    _, (again,) = load_surviving_archives(spark, [d], cache=cache)
    assert again is first  # unchanged archive: served from the cache
    save_pinned(DOCS_B)
    _, (second,) = load_surviving_archives(spark, [d], cache=cache)
    assert second is not first
    assert any(p == "items" for p, _t in second.node_map)
