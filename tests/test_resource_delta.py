"""ResourceStore writes as delta commits (``ParquetStateStore.commit_delta``).

A create, update or delete writes its rows as one pyarrow-written parquet file
and adds the deleted ids and replaced revisions to the table's delete sets;
a read is one parquet scan under one filter, and a table holding too many
delta file sets or delete values folds back into one Spark snapshot.
"""

import datetime
import decimal
import os
import random

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from qvarn_mr_spark.operators import incremental
from qvarn_mr_spark.plans import explain_str
from qvarn_mr_spark.sources import ResourceStore

from test_incremental import _jobs

SYSTEM = ("id", "type", "revision")


def _docs(rstore, rt="doc"):
    """``{id: fields}`` of a resource table, system columns left out."""
    return {r["id"]: {k: v for k, v in r.asDict().items() if k not in SYSTEM}
            for r in rstore.table(rt).collect()}


def _manifest(rstore, rt="doc"):
    store = rstore._store
    return store._load_manifest(rt, store.version(rt))


@pytest.fixture()
def big(spark, tmp_path):
    """A store whose ``doc`` table holds 15,000 backfilled rows."""
    rstore = ResourceStore(spark, str(tmp_path / "store"),
                           feed_dir=str(tmp_path / "feed"))
    rstore.backfill("doc", spark.range(15000).select(
        F.col("id").alias("key"), (F.col("id") % 97).alias("n"),
        F.concat(F.lit("t"), F.col("id")).alias("tag")), id_col="key")
    return rstore


def test_writes_run_no_spark_job_and_stay_small(spark, big):
    """On a 15,000-row table a create or a delete runs no Spark job and an
    update runs one (its revision check); a 4-doc create writes a few KB,
    not the table."""
    store = big._store
    n, ids = _jobs(spark, lambda: big.create_many(
        "doc", [{"n": i, "tag": f"new{i}"} for i in range(4)]))
    assert n == 0
    path = os.path.join(store._dir("doc"), f"v{store.version('doc')}")
    assert sum(os.path.getsize(os.path.join(path, f))
               for f in os.listdir(path)) < 16 * 1024
    n, _ = _jobs(spark, lambda: big.delete_many("doc", ["3", ids[0]]))
    assert n == 0
    n, _ = _jobs(spark, lambda: big.update("doc", "7", {"n": -7}))
    assert n == 1

    rows = _docs(big)
    assert len(rows) == 15000 + 4 - 2
    assert "3" not in rows and ids[0] not in rows
    assert rows["7"] == {"n": -7, "tag": None}
    assert rows[ids[1]] == {"n": 1, "tag": "new1"}
    m = _manifest(big)
    assert len(m["files"]) == 3 and m["deletes"]["id"] == ["3", ids[0]]
    assert [pair[0] for pair in m["deletes"]["id,revision"]] == ["7"]


def test_update_of_a_backfilled_row_keeps_its_siblings(spark, tmp_path):
    """The rows of one backfill share a revision, and an update deletes
    its row by ``(id, revision)``, so it hides no sibling; a backfill that
    brings a deleted id back rewrites the table, so the id's delete no
    longer applies."""
    rstore = ResourceStore(spark, str(tmp_path / "store"))

    def backfill(rows):
        rstore.backfill("doc", spark.createDataFrame(
            rows, "key string, n long"), id_col="key")
    backfill([("a", 1), ("b", 2), ("c", 3)])
    revs = {r["id"]: r["revision"] for r in rstore.table("doc").collect()}
    assert len(set(revs.values())) == 1
    rstore.update("doc", "b", {"n": 20}, revision=revs["b"])
    assert _docs(rstore) == {"a": {"n": 1}, "b": {"n": 20}, "c": {"n": 3}}
    rstore.delete("doc", "a")
    backfill([("a", 10)])
    assert _docs(rstore) == {"a": {"n": 10}, "b": {"n": 20}, "c": {"n": 3}}
    assert "deletes" not in _manifest(rstore)


def test_deletes_match_ids_with_quotes_and_backslashes(spark, tmp_path):
    """Delete sets are read as SQL literals: ids holding quotes,
    backslashes and newlines are deleted and replaced exactly."""
    rstore = ResourceStore(spark, str(tmp_path / "store"))
    ids = ["a'b", "c\\d", "e\nf", "\\'", "plain"]
    rstore.backfill("doc", spark.createDataFrame(
        [(i, n) for n, i in enumerate(ids)], "key string, n long"),
        id_col="key")
    rstore.delete_many("doc", ["a'b", "\\'"])
    rstore.update("doc", "c\\d", {"n": 10})
    assert _docs(rstore) == {"c\\d": {"n": 10}, "e\nf": {"n": 2},
                             "plain": {"n": 4}}


def test_read_is_one_scan_under_one_filter(spark, big):
    big.create_many("doc", [{"n": 1}, {"n": 2}])
    big.update("doc", "5", {"n": 50})
    big.delete_many("doc", ["6"])
    plan = explain_str(big.table("doc").filter(F.col("n") > 3), "simple")
    lines = plan.splitlines()
    assert sum("FileScan parquet" in s for s in lines) == 1, plan
    assert sum(s.lstrip("+- *(0123456789)").startswith("Filter")
               for s in lines) == 1, plan
    assert "Union" not in plan


def _compiles(spark):
    """The number of codegen classes this JVM has compiled so far."""
    return (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME().getCount())


def test_growing_delete_sets_compile_no_new_code(spark, big):
    """A read's generated code does not depend on how many values its
    delete sets hold, below and above Spark's IN-to-hash-set threshold
    alike, so each further delete reads without a new compile."""
    big.update("doc", "0", {"n": 1000})
    gone = []
    fresh = []
    for i in range(1, 16):
        big.delete("doc", str(i))
        gone.append(str(i))
        before = _compiles(spark)
        assert big.get("doc", "0")["n"] == 1000
        assert big.get("doc", str(i)) is None
        fresh.append(_compiles(spark) - before)
    # the first read of each term shape compiles: 1 id, and past
    # incremental._INSET_MIN ids
    assert sum(1 for n in fresh if n) <= 2, fresh
    assert fresh[1:incremental._INSET_MIN] == [0] * (
        incremental._INSET_MIN - 1), fresh
    assert fresh[incremental._INSET_MIN + 1:] == [0] * (
        len(fresh) - incremental._INSET_MIN - 1), fresh
    ids = {r["id"] for r in big.table("doc").select("id").collect()}
    assert len(ids) == 15000 - len(gone) and not ids & set(gone)


def test_types_match_the_spark_path(spark, tmp_path):
    """Rows written by pyarrow read back with the types and values a Spark
    write of the same docs gives: timestamp, date, decimal,
    array<struct>, dict (a map), binary, a field added by a later create,
    and a recorded int column widened to long by a create."""
    rstore = ResourceStore(spark, str(tmp_path / "store"))
    batches = [
        [{"ts": datetime.datetime(2021, 3, 4, 5, 6, 7, 891011),
          "day": datetime.date(2020, 2, 29),
          "amount": decimal.Decimal("12.50"),
          "items": [Row(sku="a", qty=2), Row(sku="b", qty=None)],
          "attrs": {"colour": "red"}, "blob": bytearray(b"\x00\xff"),
          "n": 1}],
        [{"ts": datetime.datetime(1999, 12, 31, 23, 59, 59), "n": 2,
          "blob": b"abc", "note": "a new field"}],
    ]
    expected = None
    for docs in batches:
        rstore.create_many("doc", docs)
        new = spark.createDataFrame(
            [{**d, "type": "doc", "id": "x", "revision": "x"} for d in docs])
        expected = new if expected is None else expected.unionByName(
            new, allowMissingColumns=True)
    assert "files" in _manifest(rstore)       # written by the delta path
    got = rstore.table("doc")
    assert got.schema.simpleString() == expected.schema.simpleString()

    def rows(df):
        return sorted((tuple(r) for r in df.drop(*SYSTEM).collect()),
                      key=repr)
    assert rows(got) == rows(expected)

    # a recorded int column meets a Python int: the table becomes long
    ints = ResourceStore(spark, str(tmp_path / "ints"))
    ints.backfill("doc", spark.createDataFrame(
        [("a", 1)], "key string, k int"), id_col="key")
    ints.create("doc", {"k": 2 ** 40})
    assert dict(ints.table("doc").dtypes)["k"] == "bigint"
    assert sorted(r["k"] for r in ints.table("doc").collect()) == [1, 2 ** 40]


def test_crash_before_commit_leaves_the_table_and_rerun_succeeds(
        spark, tmp_path, monkeypatch):
    """A delta commit that dies after writing its file and before the state
    file publishes changes nothing readable; the next attempt replaces the
    left-over directory."""
    rstore = ResourceStore(spark, str(tmp_path / "store"),
                           feed_dir=str(tmp_path / "feed"))
    rstore.create_many("doc", [{"n": 1}, {"n": 2}])
    store = rstore._store
    before, v = _docs(rstore), store.version("doc")
    feed = set(os.listdir(tmp_path / "feed"))

    def crash(table, version):
        raise OSError("crash before the commit")

    monkeypatch.setattr(store, "_commit", crash)
    with pytest.raises(OSError, match="crash"):
        rstore.create_many("doc", [{"n": 3}])
    monkeypatch.undo()
    leftover = os.path.join(store._dir("doc"), f"v{v + 1}")
    assert os.listdir(leftover)
    fresh = ResourceStore(spark, str(tmp_path / "store"))
    assert fresh._store.version("doc") == v and _docs(fresh) == before
    assert set(os.listdir(tmp_path / "feed")) == feed

    (rid,) = rstore.create_many("doc", [{"n": 4}])
    assert store.version("doc") == v + 1
    assert [f for f in os.listdir(leftover) if f.endswith(".parquet")] == [
        "part-00000.parquet"]
    assert _docs(ResourceStore(spark, str(tmp_path / "store"))) == {
        **before, rid: {"n": 4}}


def test_pinned_read_survives_compaction_and_gc(spark, tmp_path, monkeypatch):
    """GC keeps every directory a retained version's record references: a
    read pinned at the version before a fold still returns its rows after
    the fold and its GC, and the next commit drops what nothing retained
    references."""
    monkeypatch.setattr(incremental, "COMPACT_AFTER", 2)
    rstore = ResourceStore(spark, str(tmp_path / "store"))
    store = rstore._store
    for n in (1, 2, 3):
        rstore.create_many("doc", [{"n": n}])
    assert _manifest(rstore)["files"] == ["v1", "v2", "v3"]
    pinned = store.read("doc", version=3)
    rstore.create_many("doc", [{"n": 4}])        # 4 file sets: folds
    assert store.version("doc") == 4 and "files" not in _manifest(rstore)
    assert sorted(os.listdir(store._dir("doc"))) == ["v1", "v2", "v3", "v4"]
    assert sorted(r["n"] for r in pinned.collect()) == [1, 2, 3]
    rstore.create_many("doc", [{"n": 5}])
    assert sorted(os.listdir(store._dir("doc"))) == ["v4", "v5"]
    assert sorted(r["n"] for r in rstore.table("doc").collect()) == [
        1, 2, 3, 4, 5]


def test_random_crud_equals_a_model_across_compactions(
        spark, tmp_path, monkeypatch):
    """A seeded random mix of create, update, delete, backfill, migrate and
    put_subresource reads back as a Python model of the data, across at
    least two folds of the table."""
    monkeypatch.setattr(incremental, "COMPACT_AFTER", 3)
    monkeypatch.setattr(incremental, "MAX_LITERALS", 6)
    rstore = ResourceStore(spark, str(tmp_path / "store"))
    store = rstore._store
    rewrites = []
    overwrite = store.overwrite

    def counted(table, df, *args, **kwargs):
        if table == "doc":
            rewrites.append(table)
        return overwrite(table, df, *args, **kwargs)

    monkeypatch.setattr(store, "overwrite", counted)
    r = random.Random(11)
    fields = ["n", "tag"]
    model: dict[str, dict] = {}              # id -> fields
    revs: dict[str, str] = {}                # id -> revision of its update
    subs: dict[str, str] = {}                # id -> its sub's secret
    migrations = [[("add", "extra", "string", "x")],
                  [("retype", "n", "double")]]
    spark_writes = 0                          # backfills and migrations

    def doc():
        return {"n": r.randint(0, 99), "tag": r.choice("abc")}

    def put(rid, d):
        model[rid] = {f: d.get(f) for f in fields}

    for step in range(40):
        op = r.choice(["create", "create", "update", "update", "delete",
                       "delete", "sub", "backfill", "migrate"])
        ids = sorted(model)
        if op == "create" or not ids:
            docs = [doc() for _ in range(r.randint(1, 3))]
            for rid, d in zip(rstore.create_many("doc", docs), docs):
                put(rid, d)
        elif op == "update":
            rid, d = r.choice(ids), doc()
            revs[rid] = rstore.update("doc", rid, d, revision=revs.get(rid))
            put(rid, d)
        elif op == "delete" and len(ids) > 2:
            gone = r.sample(ids, r.randint(1, 2))
            rstore.delete_many("doc", gone)
            for rid in gone:
                del model[rid]
                revs.pop(rid, None)
                subs.pop(rid, None)
        elif op == "sub":
            rid = r.choice(ids)
            subs[rid] = f"s{step}"
            revs[rid] = rstore.put_subresource(
                "doc", rid, "private", {"secret": subs[rid]},
                revision=revs.get(rid))
        elif op == "backfill":
            rows = [(f"b{step}-{i}", r.randint(0, 99)) for i in range(2)]
            rstore.backfill("doc", spark.createDataFrame(
                rows, "key string, n long"), id_col="key")
            spark_writes += 1
            for rid, n in rows:
                put(rid, {"n": n})
        elif op == "migrate" and migrations:
            transforms = migrations.pop(0)
            assert rstore.migrate("doc", 2 - len(migrations), transforms)
            spark_writes += 1
            if transforms[0][0] == "add":
                fields.append("extra")
                for m in model.values():
                    m["extra"] = "x"
        assert _docs(rstore) == model, (step, op)
    assert len(rewrites) - spark_writes >= 2, (rewrites, spark_writes)
    assert dict(rstore.table("doc").dtypes)["n"] == "double"
    table = rstore.table("doc")
    assert table.count() == table.select("id").distinct().count()
    for rid, rev in revs.items():
        assert rstore.get("doc", rid)["revision"] == rev
    assert {rid: rstore.get_subresource("doc", rid, "private")["secret"]
            for rid in subs} == subs
