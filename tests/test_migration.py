"""Resource-type schema versioning + migration lifecycle (SURVEY §1.2,
VERDICT r10 item 3 — the reference's vendored ``[qvarn]
versioned_storage.py`` behavior, Spark-native).

The full chain: documents created under schema v0 → ``migrate`` (add a
field with default + rename a field) as one atomic snapshot rewrite →
dependent derived views resync through the EXISTING version-barrier
machinery (bumped handler version + ``resync_changed``, T7/T8) →
``search()`` on the new field answers. Plus the safety contract:
idempotent transforms (crash-replay safe), chained versions only,
additive ingest without handler changes.
"""

import pytest
from pyspark.sql import functions as F

from qvarn_mr_spark.catalog import Catalog
from qvarn_mr_spark.operators import (
    IncrementalEngine,
    ParquetStateStore,
    ViewEngine,
)
from qvarn_mr_spark.operators.incremental import notifications
from qvarn_mr_spark.operators.mapreduce import map_expr, reduce_agg
from qvarn_mr_spark.query import search
from qvarn_mr_spark.sources import ResourceStore
from qvarn_mr_spark.sources.migration import (
    MigrationError,
    apply_transforms,
)


class StoreCatalog(Catalog):
    def __init__(self, sp, rstore, types):
        super().__init__(sp)
        self.rstore, self.types = rstore, types

    def get(self, name):
        if name in self.types:
            return self.rstore.table(name)
        return super().get(name)


def test_migration_lifecycle_with_dependent_view(spark, tmp_path):
    rstore = ResourceStore(spark, str(tmp_path / "store"))
    ids = rstore.create_many("doc", [
        {"name": "Alpha", "n": 3},
        {"name": "Beta", "n": 5},
    ])
    assert rstore.schema_version("doc") == 0

    # a derived view over the v0 schema: per-name char counts
    cat = StoreCatalog(spark, rstore, {"doc"})
    config = {
        "doc__lens": {"doc": map_expr(key=F.col("name"), value=F.col("n"),
                                      version=1)},
        "name_totals": {"doc__lens": reduce_agg(
            {"total": lambda c: F.sum(c)}, version=1)},
    }
    eng = ViewEngine(cat, config, id_cols={"doc": "id"})
    inc = IncrementalEngine(eng, ParquetStateStore(
        spark, str(tmp_path / "state")))
    inc.resync_all()                  # bootstrap records handler versions
    assert {r["_mr_key"]: r["total"]
            for r in inc.read("name_totals").collect()} == {
                "Alpha": 3, "Beta": 5}

    # ---- migrate v0 → v1: add a defaulted field + rename name→title --
    assert rstore.migrate("doc", 1, [
        ("add", "stars", "long", 0),
        ("rename", "name", "title"),
    ]) is True
    assert rstore.schema_version("doc") == 1
    rows = {r["id"]: r for r in rstore.table("doc").collect()}
    assert all(r["stars"] == 0 for r in rows.values())
    assert rows[ids[0]]["title"] == "Alpha"
    assert "name" not in rstore.table("doc").columns

    # search() answers on the NEW field (P1 exact-ci over the migrated
    # snapshot), and new creates carry the new schema
    got = search(rstore.table("doc"), id_col="id", title="alpha").collect()
    assert [r["id"] for r in got] == [ids[0]]
    new_id = rstore.create("doc", {"title": "Gamma", "n": 7, "stars": 4})
    assert rstore.get("doc", new_id)["stars"] == 4

    # ---- dependent views cascade via the EXISTING T7/T8 machinery:
    # bump the map handler to read the renamed field, resync_changed
    # rebuilds the view chain (and only it) under the version barrier --
    config["doc__lens"] = {"doc": map_expr(
        key=F.col("title"), value=F.col("n"), version=2)}
    config["name_totals"] = {"doc__lens": reduce_agg(
        {"total": lambda c: F.sum(c)}, version=2)}
    changed = inc.resync_changed()
    assert set(changed) == {"doc__lens", "name_totals"}
    assert {r["_mr_key"]: r["total"]
            for r in inc.read("name_totals").collect()} == {
                "Alpha": 3, "Beta": 5, "Gamma": 7}

    # post-migration CDC stays incremental against the new schema
    rstore.update("doc", new_id, {"title": "Gamma", "n": 9, "stars": 4})
    inc.apply_changes(notifications(spark, [("doc", "updated", new_id)]))
    assert {r["_mr_key"]: r["total"]
            for r in inc.read("name_totals").collect()} == {
                "Alpha": 3, "Beta": 5, "Gamma": 9}


def test_migration_guards_and_idempotence(spark, tmp_path):
    rstore = ResourceStore(spark, str(tmp_path / "store"))
    rstore.create_many("doc", [{"name": "x", "n": 1}])

    # versions step by one
    with pytest.raises(MigrationError, match="step by 1"):
        rstore.migrate("doc", 2, [("add", "f", "long")])

    step = [("add", "stars", "long", 0), ("rename", "name", "title"),
            ("retype", "n", "double"), ("drop", "ghost")]
    assert rstore.migrate("doc", 1, step) is True
    # re-running the same migration is a recorded no-op (crash replay
    # AFTER the metadata bump)
    assert rstore.migrate("doc", 1, step) is False

    # crash replay BEFORE the metadata bump: applying the transforms to
    # already-migrated data yields the identical frame (idempotent)
    once = rstore.table("doc")
    twice = apply_transforms(once, step)
    assert twice.schema == once.schema
    assert twice.collect() == once.collect()

    # real contract violations still raise
    with pytest.raises(MigrationError, match="neither column"):
        apply_transforms(once, [("rename", "gone", "also_gone")])
    with pytest.raises(MigrationError, match="target already exists"):
        apply_transforms(once.withColumn("name", F.lit("x")),
                         [("rename", "name", "title")])
    with pytest.raises(MigrationError, match="no column"):
        apply_transforms(once, [("retype", "gone", "long")])
    with pytest.raises(MigrationError, match="unknown transform"):
        apply_transforms(once, [("alter", "n")])

    # retype actually took effect
    assert dict(once.dtypes)["n"] == "double"


def test_crashed_migration_reruns_from_the_old_snapshot(
        spark, tmp_path, monkeypatch):
    """A migration that crashes after its table rewrite commits publishes
    neither the rewrite nor the schema version, so rerunning a step that
    cannot be applied twice (rename ``name``, then add a new ``name``)
    migrates from the old snapshot."""
    root = str(tmp_path / "store")
    rstore = ResourceStore(spark, root)
    rid = rstore.create("doc", {"name": "Alpha", "n": 3})
    step = [("rename", "name", "title"), ("add", "name", "string")]
    overwrite = rstore._store.overwrite

    def commit_then_crash(table, df, *args, **kwargs):
        overwrite(table, df, *args, **kwargs)
        raise RuntimeError("crash after the table commit")

    monkeypatch.setattr(rstore._store, "overwrite", commit_then_crash)
    with pytest.raises(RuntimeError, match="crash"):
        rstore.migrate("doc", 1, step)
    monkeypatch.undo()

    assert rstore.migrate("doc", 1, step) is True
    fresh = ResourceStore(spark, root)
    assert fresh.schema_version("doc") == 1
    assert sorted(fresh.table("doc").columns) == sorted(
        ["id", "type", "revision", "title", "n", "name"])
    row = fresh.get("doc", rid)
    assert (row["title"], row["name"], row["n"]) == ("Alpha", None, 3)


def test_additive_migration_needs_no_handler_change(spark, tmp_path):
    """A purely ADDITIVE migration leaves existing views untouched and
    valid: handlers that never read the new column keep their version,
    resync_changed() finds nothing to do, and CDC keeps flowing."""
    rstore = ResourceStore(spark, str(tmp_path / "store"))
    ids = rstore.create_many("doc", [{"name": "a"}, {"name": "b"}])
    cat = StoreCatalog(spark, rstore, {"doc"})
    config = {"doc__names": {"doc": map_expr(key=F.col("name"),
                                             version=1)}}
    eng = ViewEngine(cat, config, id_cols={"doc": "id"})
    inc = IncrementalEngine(eng, ParquetStateStore(
        spark, str(tmp_path / "state")))
    inc.resync_all()                  # bootstrap records handler versions

    rstore.migrate("doc", 1, [("add", "lang", "string", "en")])
    assert inc.resync_changed() == []            # nothing version-changed
    nid = rstore.create("doc", {"name": "c", "lang": "fi"})
    inc.apply_changes(notifications(spark, [("doc", "created", nid)]))
    keys = {r["_mr_key"] for r in inc.read("doc__names").collect()}
    assert keys == {"a", "b", "c"}


def test_backfill_bulk_ingest(spark, tmp_path):
    """The distributed bulk path: a whole DataFrame lands as resources
    in one snapshot write (ids from id_col, type/revision stamped, NO
    per-id notifications), then trickle CRUD and migration compose on
    top of it."""
    rstore = ResourceStore(spark, str(tmp_path / "store"),
                           feed_dir=str(tmp_path / "feed"))
    src = spark.createDataFrame(
        [(i, f"text {i}", i * 10) for i in range(20)],
        "doc_id long, text string, n long")
    rstore.backfill("doc", src.select(
        F.col("doc_id").alias("rid"), "doc_id", "text", "n"),
        id_col="rid")
    t = rstore.table("doc")
    assert t.count() == 20
    assert {"id", "type", "revision", "doc_id", "text", "n"} <= \
        set(t.columns)
    assert rstore.get("doc", "7")["n"] == 70
    import os
    assert os.listdir(str(tmp_path / "feed")) == []   # no notifications

    # trickle CRUD composes on top
    rstore.update("doc", "7", {"doc_id": 7, "text": "edited", "n": 71})
    assert rstore.get("doc", "7")["n"] == 71
    assert len(os.listdir(str(tmp_path / "feed"))) == 1

    # and migration applies to the backfilled snapshot
    rstore.migrate("doc", 1, [("rename", "n", "value")])
    assert rstore.get("doc", "7")["value"] == 71


def test_backfill_rejects_colliding_ids(spark, tmp_path):
    """r12 (ADVICE r11): caller-supplied backfill ids are checked —
    duplicates within the frame and collisions against the existing
    table both raise BEFORE anything is committed; check_ids=False
    opts out for upstream-proven re-ingest."""
    rstore = ResourceStore(spark, str(tmp_path / "store"),
                           feed_dir=str(tmp_path / "feed"))
    dup = spark.createDataFrame([("a", 1), ("a", 2), ("b", 3)],
                                "rid string, n long")
    with pytest.raises(ValueError, match="duplicate id"):
        rstore.backfill("doc", dup, id_col="rid")
    assert not rstore._store.exists("doc")        # nothing committed

    ok = spark.createDataFrame([("a", 1), ("b", 2)],
                               "rid string, n long")
    rstore.backfill("doc", ok, id_col="rid")
    assert rstore.table("doc").count() == 2

    clash = spark.createDataFrame([("b", 9), ("c", 3)],
                                  "rid string, n long")
    with pytest.raises(ValueError, match="already exists"):
        rstore.backfill("doc", clash, id_col="rid")
    assert rstore.table("doc").count() == 2       # table unchanged

    # the escape hatch still appends (caller owns uniqueness)
    fresh = spark.createDataFrame([("c", 3)], "rid string, n long")
    rstore.backfill("doc", fresh, id_col="rid", check_ids=False)
    assert rstore.table("doc").count() == 3


def test_subresource_table_migration_lifecycle(spark, tmp_path):
    """r12 (VERDICT r11 missing #1): side tables migrate through the
    same verb via the path form. put_subresource under v0 → migrate
    the sub prototype (rename+retype) under its OWN version chain →
    a dependent view reading the sub field resyncs via T7/T8 →
    search() answers on the migrated sub table. Matches the
    reference's versioned storage migrating every prototype table
    ([qvarn] versioned_storage.py)."""
    rstore = ResourceStore(spark, str(tmp_path / "store"))
    ids = rstore.create_many("person", [{"name": "Ann"},
                                        {"name": "Bob"}])
    rstore.put_subresource("person", ids[0], "private",
                           {"addr": "Main St 1", "zipcode": "00100"})
    rstore.put_subresource("person", ids[1], "private",
                           {"addr": "Side Rd 2", "zipcode": "00200"})
    assert rstore.schema_version("person/private") == 0

    # dependent view over the v0 sub schema: zipcode per person
    class SubCatalog(Catalog):
        def get(self, name):
            if name == "person__private":
                return rstore.subresource_table("person", "private")
            return super().get(name)

    config = {"zip_of": {"person__private": map_expr(
        key=F.col("id"), value=F.col("zipcode"), version=1)}}
    eng = ViewEngine(SubCatalog(spark), config,
                     id_cols={"person__private": "id"})
    inc = IncrementalEngine(eng, ParquetStateStore(
        spark, str(tmp_path / "state")))
    inc.resync_all()
    assert {r["_mr_key"]: r["_mr_value"]
            for r in inc.read("zip_of").collect()} == {
                ids[0]: "00100", ids[1]: "00200"}

    # migrate the SUB prototype: rename + retype; parent chain untouched
    assert rstore.migrate("person/private", 1, [
        ("rename", "zipcode", "postal_code"),
        ("retype", "postal_code", "long"),
    ]) is True
    assert rstore.schema_version("person/private") == 1
    assert rstore.schema_version("person") == 0       # independent chain
    got = rstore.get_subresource("person", ids[0], "private")
    assert got["postal_code"] == 100 and "zipcode" not in got

    # re-run = recorded no-op (idempotent crash replay)
    assert rstore.migrate("person/private", 1, [
        ("rename", "zipcode", "postal_code"),
        ("retype", "postal_code", "long")]) is False

    # dependent view cascades through the EXISTING machinery
    config["zip_of"] = {"person__private": map_expr(
        key=F.col("id"), value=F.col("postal_code").cast("string"),
        version=2)}
    assert inc.resync_changed() == ["zip_of"]
    assert {r["_mr_key"]: r["_mr_value"]
            for r in inc.read("zip_of").collect()} == {
                ids[0]: "100", ids[1]: "200"}

    # search() answers on the migrated sub table (P3 range over long)
    hits = search(rstore.subresource_table("person", "private"),
                  id_col="id", postal_code__ge=150).collect()
    assert [r["id"] for r in hits] == [ids[1]]

    # and sub CRUD keeps working on the new schema
    rstore.put_subresource("person", ids[0], "private",
                           {"addr": "Moved 3", "postal_code": 300})
    assert rstore.get_subresource(
        "person", ids[0], "private")["postal_code"] == 300


def test_file_table_and_migration_guards(spark, tmp_path):
    """File (blob) side tables migrate via the same path form; guards:
    unknown side table raises, the parent key 'id' is immutable,
    rename-to-existing collides, and an EMPTY side table migrates
    cleanly (schema-only rewrite)."""
    rstore = ResourceStore(spark, str(tmp_path / "store"))
    ids = rstore.create_many("person", [{"name": "Ann"}])
    rstore.put_file("person", ids[0], "photo", b"\x89PNG...",
                    "image/png")

    # metadata columns may evolve around the fixed blob contract
    assert rstore.migrate("person/photo", 1, [
        ("add", "width", "long"),
        ("add", "alt_text", "string", ""),
    ]) is True
    assert rstore.migrate("person/photo", 2, [
        ("rename", "alt_text", "caption"),
    ]) is True
    body, ctype = rstore.get_file("person", ids[0], "photo")
    assert body == b"\x89PNG..." and ctype == "image/png"
    t = rstore.file_table("person", "photo")
    assert {"id", "content_type", "body", "width", "caption"} <= \
        set(t.columns)

    with pytest.raises(MigrationError, match="no subresource or file"):
        rstore.migrate("person/nope", 1, [("add", "x", "long")])
    # the accessor contract's columns are immutable
    with pytest.raises(MigrationError, match="protected"):
        rstore.migrate("person/photo", 3, [("rename", "id", "rid")])
    with pytest.raises(MigrationError, match="protected"):
        rstore.migrate("person/photo", 3,
                       [("drop", "content_type")])
    with pytest.raises(MigrationError, match="target already exists"):
        rstore.migrate("person/photo", 3, [("rename", "caption", "body")])

    # empty side table: delete the only row's parent... simpler — a
    # fresh sub table written empty still rewrites without error
    rstore.put_subresource("person", ids[0], "private", {"n": 1})
    empty = rstore.subresource_table("person", "private").filter(
        F.lit(False))
    rstore._store.overwrite("person__sub__private", empty)
    assert rstore.migrate("person/private", 1,
                          [("rename", "n", "m")]) is True
    migrated = rstore.subresource_table("person", "private")
    assert set(migrated.columns) == {"m", "id"} and migrated.count() == 0


def test_migrate_rewrite_plan_is_narrow(spark, tmp_path):
    """r12 (VERDICT r11 #6): the migration rewrite is ONE narrow
    projection over the stored snapshot — no Exchange (shuffle) in the
    plan, no Python boundary. At 100 TB the rewrite streams each input
    split to one output file; anything with a shuffle here would be a
    design bug."""
    from qvarn_mr_spark.plans import explain_str
    from qvarn_mr_spark.sources.migration import apply_transforms

    rstore = ResourceStore(spark, str(tmp_path / "store"))
    rstore.create_many("doc", [{"name": "x", "n": 1},
                               {"name": "y", "n": 2}])
    migrated = apply_transforms(rstore.table("doc"), [
        ("add", "stars", "long", 0),
        ("rename", "name", "title"),
        ("retype", "n", "double"),
        ("drop", "ghost")])
    txt = explain_str(migrated, "formatted")
    assert "Exchange" not in txt, txt
    assert "Project" in txt or "Scan" in txt


def test_main_table_system_columns_protected(spark, tmp_path):
    """r12 review: the accessor contract's system columns are immutable
    on MAIN tables too — id/type/revision feed get/update/delete and
    backfill's collision probe."""
    rstore = ResourceStore(spark, str(tmp_path / "store"))
    rstore.create_many("doc", [{"name": "x"}])
    for col in ("id", "type", "revision"):
        with pytest.raises(MigrationError, match="protected"):
            rstore.migrate("doc", 1, [("drop", col)])
        with pytest.raises(MigrationError, match="protected"):
            rstore.migrate("doc", 1, [("rename", col, "other")])
    # ordinary columns still migrate
    assert rstore.migrate("doc", 1, [("rename", "name", "title")])


def test_file_detection_survives_dunder_parent_type(spark, tmp_path):
    """r12 review: file-ness is decided by exact table-name comparison
    — a parent type containing '__' must not dodge (or false-trigger)
    the blob-contract protection."""
    rstore = ResourceStore(spark, str(tmp_path / "store"))
    ids = rstore.create_many("audit__log", [{"name": "x"}])
    rstore.put_file("audit__log", ids[0], "blob", b"\x00\x01",
                    "application/octet-stream")
    with pytest.raises(MigrationError, match="protected"):
        rstore.migrate("audit__log/blob", 1, [("drop", "body")])
    # and a SUB table named 'file' is NOT treated as a blob table
    rstore.put_subresource("audit__log", ids[0], "file", {"n": 1})
    assert rstore.migrate("audit__log/file", 1,
                          [("rename", "n", "m")]) is True
