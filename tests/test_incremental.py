"""Incremental (CDC) lifecycle conformance — SURVEY §2.7 T2-T5, A8.

The golden sequence from the reference (tests/scripts/test_worker.py:98-116):
sum of values 1,2,3 = 6; update 1→2 and 3→5 → 9; delete the 5 → 4;
delete everything → reduce row disappears (empty-group elimination,
tests/test_processor.py:153-157).
"""

import pytest
from pyspark.sql import Row, functions as F

from qvarn_mr_spark.catalog import Catalog
from qvarn_mr_spark.operators import (
    BucketedParquetStateStore,
    IncrementalEngine,
    ParquetStateStore,
    ViewEngine,
    map_expr,
    map_item,
    reduce_agg,
)
from qvarn_mr_spark.operators.incremental import notifications

#: The engine columns of every stored map row (a map's ``fields`` add more).
MAP_COLUMNS = ["_mr_key", "_mr_value", "_mr_source_id", "_mr_source_type",
               "_mr_version"]


@pytest.fixture(params=["plain", "bucketed"])
def setup(spark, tmp_path, request):
    """The store kind, optionally suffixed ``-frame`` to apply with
    broadcast key-set frames (see ``BOTH_FORMS``)."""
    kind, _, form = request.param.partition("-")
    if form == "frame":
        request.getfixturevalue("frame_key_sets")
    cat = Catalog(spark)

    def set_source(rows):
        cat.register("source", spark.createDataFrame(
            rows, "id string, type string, revision string, key long, value long"))

    set_source([("1", "source", "a", 1, 1),
                ("2", "source", "a", 1, 2),
                ("3", "source", "a", 1, 3)])
    eng = ViewEngine(cat, {
        "source__map": {"source": map_item("key", "value")},
        "sum_target": {"source__map": reduce_agg(F.sum)},
    })
    if kind == "bucketed":
        store = BucketedParquetStateStore(spark, str(tmp_path / "state"),
                                          buckets=8)
    else:
        store = ParquetStateStore(spark, str(tmp_path / "state"))
    inc = IncrementalEngine(eng, store)
    return spark, cat, inc, set_source

#: Run a ``setup`` test on both stores under both key-set forms; the
#: literal form keeps the store's own test id
BOTH_FORMS = pytest.mark.parametrize(
    "setup", ["plain", "bucketed", "plain-frame", "bucketed-frame"],
    indirect=True)


def read_sums(inc):
    return {r["_mr_key"]: r["_mr_value"] for r in inc.read("sum_target").collect()}


def test_lifecycle_sum(setup):
    spark, cat, inc, set_source = setup

    inc.apply_changes(notifications(spark, [
        ("source", "created", "1"),
        ("source", "created", "2"),
        ("source", "created", "3")]))
    assert read_sums(inc) == {"1": 6}

    # update 1→2 and 3→5 → 9
    set_source([("1", "source", "b", 1, 2),
                ("2", "source", "a", 1, 2),
                ("3", "source", "b", 1, 5)])
    inc.apply_changes(notifications(spark, [
        ("source", "updated", "1"),
        ("source", "updated", "3")]))
    assert read_sums(inc) == {"1": 9}

    # delete the 5 → 4
    set_source([("1", "source", "b", 1, 2),
                ("2", "source", "a", 1, 2)])
    inc.apply_changes(notifications(spark, [("source", "deleted", "3")]))
    assert read_sums(inc) == {"1": 4}
    # deleted ids leave no rows behind: the batch commits atomically,
    # so nothing of a deleted id outlives it (T3)
    assert {r["_mr_source_id"] for r in
            inc.read("source__map").collect()} == {"1", "2"}

    # delete everything → empty-group elimination (A8)
    set_source([])
    inc.apply_changes(notifications(spark, [
        ("source", "deleted", "1"), ("source", "deleted", "2")]))
    assert read_sums(inc) == {}


def test_key_change_moves_group(setup):
    # an update that CHANGES the key must recompute both old and new groups
    spark, cat, inc, set_source = setup
    inc.apply_changes(notifications(spark, [
        ("source", "created", "1"),
        ("source", "created", "2"),
        ("source", "created", "3")]))
    set_source([("1", "source", "b", 2, 1),   # key 1 → 2
                ("2", "source", "a", 1, 2),
                ("3", "source", "a", 1, 3)])
    inc.apply_changes(notifications(spark, [("source", "updated", "1")]))
    assert read_sums(inc) == {"1": 5, "2": 1}


def test_resync_bootstrap_equals_incremental(setup):
    spark, cat, inc, set_source = setup
    inc.resync_all()
    assert read_sums(inc) == {"1": 6}
    # resync_changed is a no-op when versions match
    assert inc.resync_changed() == []


def test_resync_changed_on_version_bump(setup):
    spark, cat, inc, set_source = setup
    inc.resync_all()
    # bump reduce handler version → only that target resyncs
    inc.engine.config["sum_target"]["source__map"] = reduce_agg(F.sum, version=2)
    changed = inc.resync_changed()
    assert changed == ["sum_target"]
    assert read_sums(inc) == {"1": 6}


@pytest.mark.sweep
def test_resync_interleaved_live_changes_converge(setup):
    """Worker interleave (reference worker.py:66-71): live notifications
    arriving between resync chunks are applied mid-backfill, and the final
    state equals a full recompute off the final source."""
    spark, cat, inc, set_source = setup
    inc.resync_all()
    assert read_sums(inc) == {"1": 6}

    # bump the reduce handler → chunked reduce resync with live interleave
    inc.engine.config["sum_target"]["source__map"] = reduce_agg(F.sum, version=2)
    live = [[("source", "updated", "2")], [("source", "deleted", "3")]]
    states = [[("1", "source", "a", 1, 1),
               ("2", "source", "b", 1, 7),
               ("3", "source", "a", 1, 3)],
              [("1", "source", "a", 1, 1),
               ("2", "source", "b", 1, 7)]]

    def drain():
        if live:
            set_source(states.pop(0))
            inc.apply_changes(notifications(spark, live.pop(0)))

    changed = inc.resync_interleaved(drain=drain, chunks=2)
    assert changed == ["sum_target"]
    assert live == []                      # both live batches were drained
    assert read_sums(inc) == {"1": 8}      # == full recompute of final source


@pytest.mark.sweep
def test_resync_interleaved_map_chunks_and_drift(setup):
    """Chunked MAP resync: each chunk is a hash-slice of current source ids
    through the normal notification path; rows whose source vanished with
    no delete notification are cleaned up by the final stale-delete batch,
    so the end state equals a full recompute."""
    spark, cat, inc, set_source = setup
    inc.resync_all()
    # source drifts while the map handler version is bumped: id 3 vanished
    # WITHOUT a delete notification, id 4 appeared
    set_source([("1", "source", "a", 1, 1),
                ("2", "source", "a", 1, 2),
                ("4", "source", "a", 2, 10)])
    inc.engine.config["source__map"]["source"] = map_item(
        "key", "value", version=2)
    drains = []
    changed = inc.resync_interleaved(drain=lambda: drains.append(1), chunks=3)
    # the consumer closure includes the reduce: its inputs were re-mapped
    assert changed == ["source__map", "sum_target"]
    assert len(drains) >= 3                # one drain per chunk at least
    assert read_sums(inc) == {"1": 3, "2": 10}


@pytest.mark.sweep
@BOTH_FORMS
def test_version_barrier_postpones_half_synced_keys(setup):
    """Reference conformance (test_processor.py:160-232): while a map
    handler upgrade is mid-backfill, a key whose live map rows mix handler
    versions keeps its OLD reduce value — the reduce is postponed until
    every row of the key is re-mapped. Observed through a chunked resync:
    at every chunk boundary the reduce shows either the complete old value
    or the complete new value, never a mix."""
    from pyspark.sql import functions as F2
    from qvarn_mr_spark.operators import map_expr

    spark, cat, inc, set_source = setup
    # one key, several rows — rows hash into different resync chunks
    set_source([(str(i), "source", "a", 1, i) for i in range(1, 7)])
    inc.resync_all()
    old_val = 1 + 2 + 3 + 4 + 5 + 6
    assert read_sums(inc) == {"1": old_val}

    # handler upgrade: value doubles
    inc.engine.config["source__map"]["source"] = map_expr(
        "key", F2.col("value") * 2, version=2)
    new_val = old_val * 2
    seen = []

    def drain():
        seen.append(read_sums(inc).get("1"))

    inc.resync_interleaved(drain=drain, chunks=4)
    assert read_sums(inc) == {"1": new_val}
    assert set(seen) <= {old_val, new_val}, seen   # never a mixed value
    assert old_val in seen                          # postponement observed


@BOTH_FORMS
def test_version_barrier_holds_a_half_synced_key_until_resync(setup):
    """Fast sibling of the sweep above: with the map handler version
    bumped in the config but not yet resynced, an update re-maps one row
    of a two-row key under the new version, so the key's live rows mix
    versions and it keeps its old reduce value. ``resync_changed()``
    re-maps the other row and the key shows the new value."""
    spark, cat, inc, set_source = setup
    set_source([("1", "source", "a", 1, 1), ("2", "source", "a", 1, 2)])
    inc.resync_all()
    assert read_sums(inc) == {"1": 3}

    inc.engine.config["source__map"]["source"] = map_item(
        "key", "value", version=2)
    set_source([("1", "source", "b", 1, 5), ("2", "source", "a", 1, 2)])
    inc.apply_changes(notifications(spark, [("source", "updated", "1")]))
    assert read_sums(inc) == {"1": 3}

    assert inc.resync_changed() == ["source__map", "sum_target"]
    assert read_sums(inc) == {"1": 7}


def test_multiple_changes_same_id_in_batch(setup):
    # created then deleted within one batch → final state wins
    spark, cat, inc, set_source = setup
    set_source([("1", "source", "a", 1, 1),
                ("2", "source", "a", 1, 2)])
    inc.apply_changes(notifications(spark, [
        ("source", "created", "1"),
        ("source", "created", "2"),
        ("source", "created", "3"),
        ("source", "deleted", "3")]))
    assert read_sums(inc) == {"1": 3}


@BOTH_FORMS
def test_dead_letter_replay_converges(setup):
    """T6/T11 lossless path: a notification that precedes its resource's
    visibility is dead-lettered, then replayed once the source catches up —
    the view converges to the full-recompute answer (reference drops after
    3 retries, processor.py:282-304; we keep and replay)."""
    spark, cat, inc, set_source = setup
    inc.apply_changes(notifications(spark, [
        ("source", "created", "1"),
        ("source", "created", "2"),
        ("source", "created", "3"),
        ("source", "created", "4"),      # not yet visible in the source
        ("source", "created", "ghost")]))  # never appears
    assert read_sums(inc) == {"1": 6}
    dl = {r["resource_id"]
          for r in inc.dead_letters("source__map").collect()}
    assert dl == {"4", "ghost"}

    # nothing to replay yet: both ids still missing
    assert inc.replay_dead_letters("source__map") == 0

    # the source catches up with id 4
    set_source([("1", "source", "a", 1, 1),
                ("2", "source", "a", 1, 2),
                ("3", "source", "a", 1, 3),
                ("4", "source", "a", 1, 10)])
    assert inc.replay_dead_letters("source__map") == 1
    assert read_sums(inc) == {"1": 16}
    dl = {r["resource_id"]
          for r in inc.dead_letters("source__map").collect()}
    assert dl == {"ghost"}          # still-missing entry stays queued


@BOTH_FORMS
def test_dead_letter_probe_keeps_rows_a_where_map_drops(setup):
    """A map with ``where=`` drops a row that exists; an upsert of that
    row is no dead letter. Only the id missing from the source is
    dead-lettered, and the view equals a full recompute."""
    spark, cat, inc, set_source = setup
    inc.engine.config["source__map"]["source"] = map_item(
        "key", "value", where="value > 1")
    set_source([("1", "source", "a", 1, 1), ("2", "source", "a", 1, 2)])
    inc.apply_changes(notifications(spark, [
        ("source", "created", "1"), ("source", "created", "2"),
        ("source", "created", "ghost")]))
    assert {r["resource_id"]
            for r in inc.dead_letters("source__map").collect()} == {"ghost"}
    want = inc.engine.recompute_all()["sum_target"]
    assert read_sums(inc) == {r["_mr_key"]: r["_mr_value"]
                              for r in want.collect()} == {"1": 2}


def test_dead_letters_of_every_source_commit_once(spark, tmp_path,
                                                 key_sets):
    """A map target with two sources, one batch in which each source has
    an upserted id that is missing: both ids are dead-lettered under
    their own source type by ONE commit of the dead-letter table, and no
    hand-off column reaches the stored map table."""
    cat = Catalog(spark)
    for src in ("a", "b"):
        cat.register(src, spark.createDataFrame(
            [(f"{src}1", 1, 1)], "id string, key long, value long"))
    eng = ViewEngine(cat, {
        "m": {"a": map_item("key", "value"), "b": map_item("key", "value")},
        "sums": {"m": reduce_agg(F.sum)},
    })
    inc = IncrementalEngine(eng, ParquetStateStore(spark, str(tmp_path / "s")))
    inc.apply_changes(notifications(spark, [
        ("a", "created", "a1"), ("b", "created", "b1"),
        ("a", "created", "a-early")]))
    v0 = inc.store.version("m__dead_letter")
    assert v0 is not None

    inc.apply_changes(notifications(spark, [
        ("a", "created", "a-ghost"), ("b", "updated", "b-ghost"),
        ("b", "updated", "b1")]))
    assert inc.store.version("m__dead_letter") == v0 + 1
    assert {(r["resource_type"], r["resource_id"])
            for r in inc.dead_letters("m").collect()} == {
        ("a", "a-early"), ("a", "a-ghost"), ("b", "b-ghost")}
    assert inc.read("m").columns == eng.map_table("m").columns
    assert {r["_mr_key"]: r["_mr_value"]
            for r in inc.read("sums").collect()} == {"1": 2}


@pytest.mark.parametrize("store_cls", [ParquetStateStore,
                                       BucketedParquetStateStore])
def test_stored_map_rows_carry_only_engine_columns(spark, tmp_path,
                                                   store_cls):
    """A stored map row holds its key, value, source id, source type and
    handler version, plus the fields its map declares, and nothing else:
    after a rebuild and after an apply that creates, updates and deletes."""
    cat = Catalog(spark)

    def set_source(src, rows):
        cat.register(src, spark.createDataFrame(
            rows, "id string, key long, value long"))

    set_source("a", [("a1", 1, 1), ("a2", 2, 5)])
    set_source("b", [("b1", 1, 2), ("b2", 2, 3)])
    eng = ViewEngine(cat, {
        "m": {"a": map_item("key", "value")},
        "mf": {"a": map_expr(key="key", value="value",
                             fields={"twice": F.col("value") * 2}),
               "b": map_item("key", "value")},
        "sums": {"m": reduce_agg(F.sum)},
    })
    inc = IncrementalEngine(eng, store_cls(spark, str(tmp_path / "s")))
    want = {"m": sorted(MAP_COLUMNS), "mf": sorted(MAP_COLUMNS + ["twice"])}

    def stored():
        return {t: sorted(inc.read(t).columns) for t in want}

    inc.resync_all()
    assert stored() == want
    set_source("a", [("a1", 1, 7), ("a2", 2, 5), ("a3", 3, 1)])
    set_source("b", [("b1", 1, 2)])
    inc.apply_changes(notifications(spark, [
        ("a", "updated", "a1"), ("a", "created", "a3"),
        ("b", "deleted", "b2")]))
    assert stored() == want
    assert {t: sorted(eng.map_table(t).columns) for t in want} == want
    assert {r["_mr_key"]: r["_mr_value"]
            for r in inc.read("sums").collect()} == {"1": 7, "2": 5, "3": 1}


def test_seqless_change_batch_rejected(setup):
    # F.last-without-order would be nondeterministic: require seq
    spark, cat, inc, set_source = setup
    seqless = spark.createDataFrame(
        [("source", "created", "1")],
        "resource_type string, resource_change string, resource_id string")
    with pytest.raises(ValueError, match="seq"):
        inc.apply_changes(seqless)


def test_store_versioning(spark, tmp_path):
    store = ParquetStateStore(spark, str(tmp_path / "s"))
    df1 = spark.createDataFrame([Row(a=1)])
    store.overwrite("t", df1)
    assert store.version("t") == 1
    store.overwrite("t", spark.createDataFrame([Row(a=2)]))
    assert store.version("t") == 2
    assert [r["a"] for r in store.read("t").collect()] == [2]


def test_open_transaction_is_its_own_threads(spark, tmp_path):
    """While one thread holds a transaction open, another thread reads
    only published versions, and its own transaction publishes on its
    own; the open transaction then raises and publishes nothing."""
    import threading

    store = ParquetStateStore(spark, str(tmp_path / "s"))
    staged, read = threading.Event(), threading.Event()
    seen = {}

    def writer():
        try:
            with store.transaction():
                store.overwrite("t", spark.createDataFrame([Row(a=1)]))
                staged.set()
                read.wait(60)
                raise RuntimeError("abort")
        except RuntimeError:
            pass

    def reader():
        staged.wait(60)
        try:
            seen["version"] = store.version("t")
            seen["exists"] = store.exists("t")
            with store.transaction():
                store.set_handler_version("r", "s", 2)
            seen["published"] = store.committed()["handlers"]
        finally:
            read.set()

    threads = [threading.Thread(target=writer), threading.Thread(target=reader)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(120)
    assert seen == {"version": None, "exists": False,
                    "published": {"r\x00s": 2}}
    assert store.committed()["tables"] == {} and store.version("t") is None
    with pytest.raises(KeyError):
        store.read("t")


def test_incremental_join_view_lifecycle(spark, tmp_path):
    """The flagship entity-join view maintained incrementally: create both
    sides, update one, delete one — each CDC batch recomputes only the dirty
    key groups (reference join view e2e, tests/test_mapreduce.py:115-195)."""
    from qvarn_mr_spark.operators import reduce_join

    cat = Catalog(spark)

    def set_tables(orgs, reports):
        cat.register("orgs", spark.createDataFrame(
            orgs, "id string, type string, revision string, country string"))
        cat.register("reports", spark.createDataFrame(
            reports, "id string, type string, revision string, org string, seq long"))

    set_tables([("o1", "org", "r", "fi")],
               [("r1", "report", "r", "o1", 1)])
    eng = ViewEngine(cat, {
        "m": {"orgs": map_item("id"), "reports": map_item("org")},
        "v": {"m": reduce_join(
            {"orgs": {"country": "country"}, "reports": {"report_id": "id"}},
            order_by={"reports": "seq"})},
    })
    store = ParquetStateStore(spark, str(tmp_path / "state"))
    inc = IncrementalEngine(eng, store)

    inc.apply_changes(notifications(spark, [
        ("orgs", "created", "o1"), ("reports", "created", "r1")]))
    got = {r["_mr_key"]: (r["country"], r["report_id"])
           for r in inc.read("v").collect()}
    assert got == {"o1": ("fi", "r1")}

    # second report arrives → last-writer (highest seq) wins
    set_tables([("o1", "org", "r", "fi")],
               [("r1", "report", "r", "o1", 1),
                ("r2", "report", "r", "o1", 2)])
    inc.apply_changes(notifications(spark, [("reports", "created", "r2")]))
    got = {r["_mr_key"]: (r["country"], r["report_id"])
           for r in inc.read("v").collect()}
    assert got == {"o1": ("fi", "r2")}

    # newest report deleted → falls back to r1
    set_tables([("o1", "org", "r", "fi")],
               [("r1", "report", "r", "o1", 1)])
    inc.apply_changes(notifications(spark, [("reports", "deleted", "r2")]))
    got = {r["_mr_key"]: (r["country"], r["report_id"])
           for r in inc.read("v").collect()}
    assert got == {"o1": ("fi", "r1")}

    # org deleted → group survives on the remaining report (outer semantics)
    set_tables([], [("r1", "report", "r", "o1", 1)])
    inc.apply_changes(notifications(spark, [("orgs", "deleted", "o1")]))
    got = {r["_mr_key"]: (r["country"], r["report_id"])
           for r in inc.read("v").collect()}
    assert got == {"o1": (None, "r1")}


# -- bucketed store: O(dirty-bucket) commits ---------------------------------

def _bucket_files(store, table):
    """{bucket: {relpath: sha256}} for every bucket the manifest references."""
    import hashlib
    import json
    import os
    tdir = os.path.join(store.root, table)
    v = store.version(table)
    with open(os.path.join(tdir, f"v{v}", "_MANIFEST.json")) as f:
        manifest = json.load(f)["buckets"]
    out = {}
    for b, vers in manifest.items():
        files = {}
        # owner CHAIN (r11): a bucket may be composed of one rewrite dir
        # plus append dirs; pre-chain manifests held a single int
        for ver in (vers if isinstance(vers, list) else [vers]):
            bdir = os.path.join(tdir, f"v{ver}", f"_bucket={b}")
            for name in sorted(os.listdir(bdir)):
                if name.endswith(".parquet"):
                    with open(os.path.join(bdir, name), "rb") as fh:
                        files[os.path.join(f"v{ver}", f"_bucket={b}",
                                           name)] = \
                            hashlib.sha256(fh.read()).hexdigest()
        out[b] = files
    return out


def test_bucketed_store_rewrites_only_dirty_buckets(spark, tmp_path):
    """A small dirty batch must leave untouched buckets' parquet files
    physically identical (same paths, same bytes) — the commit is O(dirty
    buckets), the demonstrable form of Delta/Iceberg MERGE cost."""
    cat = Catalog(spark)
    root = str(tmp_path / "state")

    def set_source(rows):
        cat.register("source", spark.createDataFrame(
            rows, "id string, type string, revision string, key long, value long"))

    rows = [(str(i), "source", "a", i % 20, i) for i in range(40)]
    set_source(rows)
    eng = ViewEngine(cat, {
        "source__map": {"source": map_item("key", "value")},
        "sum_target": {"source__map": reduce_agg(F.sum)},
    })
    store = BucketedParquetStateStore(spark, root, buckets=8)
    inc = IncrementalEngine(eng, store)
    inc.apply_changes(notifications(
        spark, [("source", "created", str(i)) for i in range(40)]))

    before = _bucket_files(store, "source__map")
    assert len(before) > 1                    # keys actually spread out

    # touch ONE resource (key 7) — only its bucket may be rewritten
    rows[7] = ("7", "source", "b", 7, 999)
    set_source(rows)
    inc.apply_changes(notifications(spark, [("source", "updated", "7")]))

    after = _bucket_files(store, "source__map")
    dirty = F.pmod(F.hash(F.lit("7")), F.lit(8))
    dirty_b = str(spark.range(1).select(dirty).collect()[0][0])
    changed = {b for b in before if before[b] != after.get(b)}
    assert changed == {dirty_b}
    for b in before:
        if b != dirty_b:                      # identical paths AND bytes
            assert after[b] == before[b]

    # and the derived view is still right: key 7 now sums to 999
    got = {r["_mr_key"]: r["_mr_value"]
           for r in inc.read("sum_target").collect()}
    want = {}
    for _id, _t, _r, k, v in rows:
        want[str(k)] = want.get(str(k), 0) + v
    assert got == want


def test_map_version_bump_refreshes_downstream_reduce(setup):
    """A map-handler upgrade must transitively resync its consumers: the
    reference re-walks every id through the notification path (re-reducing
    dirty keys); the one-shot overwrite expands the consumer closure
    instead. Without it the reduce view silently keeps pre-upgrade
    values."""
    spark, cat, inc, set_source = setup
    inc.resync_all()
    assert read_sums(inc) == {"1": 6}
    # handler change: the map now doubles values
    inc.engine.config["source__map"]["source"] = map_item(
        "key", F.col("value") * 2, version=2)
    changed = inc.resync_changed()
    assert changed == ["source__map", "sum_target"]
    assert read_sums(inc) == {"1": 12}


def test_snapshot_is_all_or_none_across_tables(setup):
    """r13 (VERDICT r12 #8): a snapshot opened MID-apply_changes —
    after the map target committed but before the reduce target did —
    must expose the PREVIOUS batch across both tables (none of the
    in-flight batch); a snapshot opened after the batch exposes all of
    it. Direct per-table reads at the same moment WOULD mix levels
    (map post-batch, reduce pre-batch) — the inconsistency snapshot()
    exists to remove."""
    spark, cat, inc, set_source = setup

    inc.apply_changes(notifications(spark, [
        ("source", "created", "1"),
        ("source", "created", "2"),
        ("source", "created", "3")]))
    assert read_sums(inc) == {"1": 6}

    # second batch: value 3 -> 5; pause right after the FIRST commit
    set_source([("1", "source", "a", 1, 1),
                ("2", "source", "a", 1, 2),
                ("3", "source", "b", 1, 5)])
    mid = {}
    orig = inc.store.overwrite

    def hooked(table, df, **kw):
        orig(table, df, **kw)
        if table == "source__map" and not mid:
            snap = inc.snapshot()
            mid["map"] = {(r["_mr_key"], r["_mr_value"])
                          for r in snap.read("source__map")
                          .select("_mr_key", "_mr_value").collect()}
            mid["sum"] = {r["_mr_key"]: r["_mr_value"]
                          for r in snap.read("sum_target").collect()}
            # the direct (pointer-chasing) read DOES see the half state
            mid["direct_map"] = {
                (r["_mr_key"], r["_mr_value"])
                for r in inc.read("source__map")
                .select("_mr_key", "_mr_value").collect()}

    inc.store.overwrite = hooked
    try:
        inc.apply_changes(notifications(spark, [
            ("source", "updated", "3")]))
    finally:
        inc.store.overwrite = orig

    # mid-batch snapshot: the whole PREVIOUS state, both tables
    assert mid["map"] == {("1", 1), ("1", 2), ("1", 3)}
    assert mid["sum"] == {"1": 6}
    # while the unpinned read already observed the half-applied batch
    assert ("1", 5) in mid["direct_map"]
    # post-batch snapshot: the whole NEW state, both tables
    snap = inc.snapshot()
    assert {(r["_mr_key"], r["_mr_value"]) for r in
            snap.read("source__map").collect()} \
        == {("1", 1), ("1", 2), ("1", 5)}
    assert {r["_mr_key"]: r["_mr_value"]
            for r in snap.read("sum_target").collect()} == {"1": 8}
    # the pinned frames survive the NEXT batch (retain window)
    held = inc.snapshot()
    set_source([("1", "source", "a", 1, 1),
                ("2", "source", "a", 1, 9),
                ("3", "source", "b", 1, 5)])
    inc.apply_changes(notifications(spark, [("source", "updated", "2")]))
    assert {r["_mr_key"]: r["_mr_value"]
            for r in held.read("sum_target").collect()} == {"1": 8}
    assert read_sums(inc) == {"1": 15}


def test_resync_publishes_one_epoch(setup):
    """r13 self-review: resync_all/resync_changed publish ONE epoch
    after the last target — a snapshot opened between two rebuilds
    (map new, reduce not yet) must still resolve to the whole
    pre-rebuild state, not pin a half-applied handler upgrade as
    consistent."""
    spark, cat, inc, set_source = setup
    inc.apply_changes(notifications(spark, [
        ("source", "created", "1"),
        ("source", "created", "2"),
        ("source", "created", "3")]))
    assert read_sums(inc) == {"1": 6}

    set_source([("1", "source", "a", 1, 10),
                ("2", "source", "a", 1, 20),
                ("3", "source", "a", 1, 30)])
    mid = {}
    orig = inc.store.overwrite

    def hooked(table, df, **kw):
        orig(table, df, **kw)
        if table == "source__map" and not mid:
            snap = inc.snapshot()
            mid["map"] = {(r["_mr_key"], r["_mr_value"]) for r in
                          snap.read("source__map")
                          .select("_mr_key", "_mr_value").collect()}
            mid["sum"] = {r["_mr_key"]: r["_mr_value"]
                          for r in snap.read("sum_target").collect()}

    inc.store.overwrite = hooked
    try:
        inc.resync_all()
    finally:
        inc.store.overwrite = orig
    # mid-rebuild snapshot: the whole PRE-resync state, both tables
    assert mid["map"] == {("1", 1), ("1", 2), ("1", 3)}
    assert mid["sum"] == {"1": 6}
    # post-rebuild snapshot: the whole NEW state
    snap = inc.snapshot()
    assert {r["_mr_value"] for r in snap.read("source__map")
            .select("_mr_value").collect()} == {10, 20, 30}
    assert {r["_mr_key"]: r["_mr_value"]
            for r in snap.read("sum_target").collect()} == {"1": 60}


# -- schema records: a snapshot opens without a Spark job ---------------------

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")


def _jobs(spark, fn):
    """``(n, fn())``: the number of Spark jobs ``fn`` launched, counted
    under a job group of its own."""
    import uuid
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    saved = [sc.getLocalProperty(p) for p in _GROUP_PROPS]
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for prop, value in zip(_GROUP_PROPS, saved):
            sc.setLocalProperty(prop, value)
    # the status tracker learns of jobs through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_opening_a_snapshot_launches_no_spark_job(setup):
    """Every snapshot open takes its schema from the version's record, so
    it launches no Spark job: published versions of key and non-key
    tables, versions staged inside a transaction, and an older version
    pinned by ``EngineSnapshot``. A plain inference read of the same
    directory does launch one (the control), and a search runs exactly
    the one job that answers it."""
    import os

    from qvarn_mr_spark.query import search

    spark, cat, inc, set_source = setup
    store = inc.store
    inc.resync_all()
    store.overwrite("plain", spark.createDataFrame(
        [("x", 1)], "id string, n long"))
    snap = inc.snapshot()
    set_source([("1", "source", "a", 1, 1),
                ("2", "source", "a", 1, 2),
                ("3", "source", "b", 1, 5)])
    inc.apply_changes(notifications(spark, [("source", "updated", "3")]))

    n, frames = _jobs(spark, lambda: [
        store.read("source__map"), store.read("sum_target"),
        store.read("plain"), snap.read("sum_target")])
    assert n == 0
    assert {r["_mr_key"]: r["_mr_value"]
            for r in frames[1].collect()} == {"1": 8}
    assert {r["_mr_key"]: r["_mr_value"]
            for r in frames[3].collect()} == {"1": 6}

    with store.transaction():
        store.overwrite("plain", spark.createDataFrame(
            [("y", 2)], "id string, n long"))
        n, staged = _jobs(spark, lambda: store.read("plain"))
        assert n == 0
        assert [tuple(r) for r in staged.collect()] == [("y", 2)]

    path = os.path.join(store._dir("plain"), f"v{store.version('plain')}")
    n, _ = _jobs(spark, lambda: spark.read.parquet(path))
    assert n >= 1

    n, rows = _jobs(spark, lambda: search(
        inc.read("sum_target"), _mr_key="1").collect())
    assert n == 1 and [r["_mr_value"] for r in rows] == [8]


def test_each_version_reads_with_its_own_schema(spark, tmp_path):
    """A table whose schema grows between versions reads each version
    with that version's columns: a read pinned before the change sees
    the old ones, the current read the new ones, and both equal a
    schema-merging inference read of the version's file sets. A version
    directory without a schema record still reads, by inference."""
    import os

    from qvarn_mr_spark.sources import ResourceStore

    rstore = ResourceStore(spark, str(tmp_path / "r"))
    store = rstore._store
    rstore.create_many("person", [{"name": "a"}])
    old_v = store.version("person")
    rstore.create_many("person", [{"name": "b", "age": 7}])

    def rows(df):
        return sorted(tuple(r[c] for c in ("id", "name", "age")
                            if c in df.columns) for r in df.collect())

    old, new = store.read("person", version=old_v), store.read("person")
    assert "age" not in old.columns and "age" in new.columns
    assert sorted(r[1:] for r in rows(new)) == [("a", None), ("b", 7)]
    for v, df in ((old_v, old), (store.version("person"), new)):
        inferred = spark.read.option("mergeSchema", "true").parquet(*[
            os.path.join(store._dir("person"), f)
            for f in store._load_manifest("person", v)["files"]])
        assert df.schema == inferred.schema
        assert rows(df) == rows(inferred)

    os.remove(store._manifest_path("person", old_v))
    assert rows(store.read("person", version=old_v)) == rows(old)


# -- a batch's bookkeeping is batch-sized -------------------------------------

def test_empty_batch_publishes_nothing(setup):
    """An empty notification frame changes no map row, so it commits no
    table version: the published state stays byte-for-byte the same."""
    spark, cat, inc, set_source = setup
    inc.resync_all()
    before = inc.store.committed()
    inc.apply_changes(notifications(spark, []))
    assert inc.store.committed() == before
    assert read_sums(inc) == {"1": 6}


def test_small_apply_job_budget(spark, tmp_path, key_sets):
    """One mixed create/update/delete batch on an algebraic (merge)
    view whose handler versions match the stored ones: the change batch
    is deduplicated and collected once, the reduce skips the
    version-barrier scan, and merges and recomputes in one reduce. With
    literal key sets the apply is 7 jobs: the batch's aggregate and its
    collect, one collect of the map delta, the map write, and the
    reduce's shuffle, prior-value broadcast and write (every key-set
    broadcast of the frame form is a job of its own). The apply stays
    within its form's job budget, and the view equals a full
    recompute (``tools/apply_jobs.py`` lists the jobs)."""
    from tools.apply_jobs import scenario

    inc, eng, batch = scenario(spark, str(tmp_path / "s"))
    n, _ = _jobs(spark, lambda: inc.apply_changes(batch))
    assert n <= {"literal": 7, "frame": 19}[key_sets], n
    want = {r["_mr_key"]: (r["s"], r["n"])
            for r in eng.recompute_all()["v"].collect()}
    assert {r["_mr_key"]: (r["s"], r["n"])
            for r in inc.read("v").collect()} == want


# -- key sets: literal filters and broadcast frames ---------------------------

@pytest.mark.parametrize("n", [3, 15])
def test_key_set_filter_forms_agree(spark, n):
    """A key set filters alike as literals and as a broadcast frame, below
    and above the IN-to-hash-set threshold: a long column takes long
    literals, a string key keeps its ``'`` and ``\\``, a null key in the
    set matches nothing, and an anti filter keeps null-keyed rows, as a
    left anti-join does."""
    from pyspark.sql import types as T

    from qvarn_mr_spark.operators.incremental import _isin

    longs = [2 ** 40 + i for i in range(n)]
    strs = ["a'b", "c\\d", "\\'"] + [f"s{i}" for i in range(n - 3)]
    df = spark.createDataFrame(
        [(x, s) for x, s in zip(longs, strs)]
        + [(7, "other"), (None, None)], "x long, s string")
    for col, keys in (("x", longs[::2] + [None]), ("s", strs[::2] + [None])):
        frame = spark.createDataFrame(
            [(k,) for k in keys],
            T.StructType([T.StructField("k", df.schema[col].dataType)]))
        want_in = {r[col] for r in df.collect()} & set(keys) - {None}
        for form in (keys, frame):
            got = [r[col] for r in _isin(df, col, form).collect()]
            assert sorted(got) == sorted(want_in), (col, form)
            got = [r[col] for r in _isin(df, col, form, anti=True).collect()]
            assert len(got) == n + 2 - len(want_in) and None in got, got
            assert not set(got) & want_in


def _compiles(spark):
    """The number of codegen classes this JVM has compiled so far."""
    return (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME().getCount())


def test_literal_keys_with_quotes_long_ids_and_a_null_key(spark, tmp_path,
                                                           key_sets):
    """Keys a literal filter could get wrong, in both key-set forms: map
    keys holding ``'`` and ``\\``, a source keyed by long ids past the int
    range, and a map row with a null key, whose map and reduce rows
    survive batches that do not touch it. The views equal a full
    recompute after every batch."""
    big = 2 ** 40
    rows = {big + 1: ("a'b", 1), big + 2: ("c\\d", 2), big + 3: (None, 3),
            big + 4: ("a'b", 4)}
    cat = Catalog(spark)

    def apply(batch):
        cat.register("source", spark.createDataFrame(
            [(i, k, v) for i, (k, v) in rows.items()],
            "id long, key string, value long"))
        if batch:
            inc.apply_changes(notifications(spark, batch))
        want = eng.recompute_all()
        for t in ("m", "v"):
            assert sorted(map(tuple, inc.read(t).collect()), key=str) == \
                sorted(map(tuple, want[t].collect()), key=str), t
        return {r["_mr_key"]: r["_mr_value"]
                for r in inc.read("v").collect()}

    eng = ViewEngine(cat, {
        "m": {"source": map_item("key", "value")},
        "v": {"m": reduce_agg(F.sum)},
    })
    inc = IncrementalEngine(eng, ParquetStateStore(spark, str(tmp_path / "s")))
    cat.register("source", spark.createDataFrame(
        [(i, k, v) for i, (k, v) in rows.items()],
        "id long, key string, value long"))
    inc.resync_all()
    assert apply([]) == {"a'b": 5, "c\\d": 2, None: 3}

    rows[big + 1] = ("c\\d", 10)
    rows[big + 5] = ("a'b", 5)
    del rows[big + 2]
    assert apply([("source", "updated", str(big + 1)),
                  ("source", "created", str(big + 5)),
                  ("source", "deleted", str(big + 2))]) == {
        "a'b": 9, "c\\d": 10, None: 3}
    del rows[big + 4]
    assert apply([("source", "deleted", str(big + 4)),
                  ("source", "created", "no-such-id")]) == {
        "a'b": 5, "c\\d": 10, None: 3}
    assert [r["resource_id"] for r in inc.dead_letters("m").collect()] == [
        "no-such-id"]


@pytest.mark.parametrize("kind,ktype", [("plain", "string"),
                                         ("bucketed", "long")])
def test_fan_out_past_the_bound_hands_on_frames(spark, tmp_path,
                                                monkeypatch, kind, ktype):
    """A batch within the literal bound whose map fans out to more keys
    than the bound hands its reduce frame key sets, read from the map's
    delta, and both tables still equal a full recompute, on a bucketed
    store too (which rewrites the buckets the frames hash into)."""
    from qvarn_mr_spark.operators import incremental, map_expr
    from qvarn_mr_spark.operators.mapreduce import MERGE_ADD

    monkeypatch.setattr(incremental, "MAX_LITERALS", 3)
    cat = Catalog(spark)
    k = (lambda c: c) if ktype == "string" else (lambda c: ord(c) * 10**9)

    def set_source(rows):
        cat.register("source", spark.createDataFrame(
            [(i, [k(c) for c in tags], v) for i, tags, v in rows],
            f"id string, tags array<{ktype}>, value long"))

    set_source([("1", "ab", 1), ("2", "c", 2), ("4", "hij", 4)])
    eng = ViewEngine(cat, {
        "m": {"source": map_expr(F.col("tags"), "value", explode_key=True)},
        "v": {"m": reduce_agg(F.sum, merge=MERGE_ADD)},
    })
    root = str(tmp_path / "s")
    store = (BucketedParquetStateStore(spark, root, buckets=8)
             if kind == "bucketed" else ParquetStateStore(spark, root))
    inc = IncrementalEngine(eng, store)
    inc.resync_all()
    handoffs = []
    apply_reduce = inc._apply_reduce

    def spy(target, sources, handoff, held):
        handoffs.append(handoff)
        return apply_reduce(target, sources, handoff, held)

    monkeypatch.setattr(inc, "_apply_reduce", spy)
    set_source([("1", "ade", 1), ("2", "c", 2), ("3", "fg", 3),
                ("4", "hij", 4)])
    inc.apply_changes(notifications(spark, [("source", "updated", "1"),
                                            ("source", "created", "3")]))
    assert [h.literal for h in handoffs] == [False]
    want = eng.recompute_all()
    for table in ("m", "v"):
        assert sorted(map(tuple, inc.read(table).select(
            *want[table].columns).collect())) == sorted(
            map(tuple, want[table].collect())), table
    assert {r["_mr_key"]: r["_mr_value"]
            for r in inc.read("v").collect()} == {
        str(k(c)): v
        for c, v in zip("acdefghij", [1, 2, 1, 1, 3, 3, 4, 4, 4])}


def test_small_applies_compile_no_new_code(spark, tmp_path):
    """A small batch's key sets are literal filters whose generated code
    depends on neither the number nor the values of their keys. Twelve
    batches with fresh long ids and keys, each creating one more id than
    the last and updating the previous batch's ids, compile nothing after
    the first two, except in the step where some key set first outgrows
    the array literal into an ``IN`` hash set: a new filter shape."""
    from qvarn_mr_spark.operators.incremental import _INSET_MIN
    from qvarn_mr_spark.operators.mapreduce import MERGE_ADD

    cat = Catalog(spark)
    rows = {}

    def set_source():
        cat.register("source", spark.createDataFrame(
            [(i, k, v) for i, (k, v) in rows.items()],
            "id long, key long, value long"))

    set_source()
    eng = ViewEngine(cat, {
        "m": {"source": map_item("key", "value")},
        "v": {"m": reduce_agg({"s": F.sum, "n": F.count},
                              merge={"s": MERGE_ADD, "n": MERGE_ADD})},
    })
    inc = IncrementalEngine(eng, ParquetStateStore(spark, str(tmp_path / "s")))
    inc.resync_all()
    quiet, shaped, prev, grown = [], [], [], set()
    for step in range(1, 13):
        new = [10 ** 12 + 1000 * step + j for j in range(step)]
        batch = [("source", "created", str(i)) for i in new] + [
            ("source", "updated", str(i)) for i in prev]
        for i in new:
            rows[i] = (10 ** 11 + i, step)
        for i in prev:       # each updated row moves to a key of its own
            rows[i] = (rows[i][0] + 500, step)
        set_source()
        before = _compiles(spark)
        inc.apply_changes(notifications(spark, batch))
        n = _compiles(spark) - before
        prev = new
        # the sizes of the changed ids and the dirty, gained and lost keys
        sizes = {"changed": 2 * step - 1, "dirty": 3 * step - 2,
                 "gained": 2 * step - 1, "lost": step - 1}
        outgrown = {k for k, size in sizes.items() if size > _INSET_MIN}
        if step > 2:
            (shaped if outgrown - grown else quiet).append(n)
        grown |= outgrown
    assert len(shaped) == 3, shaped          # steps 5, 6 and 12
    assert quiet == [0] * 7, quiet
    assert sum(shaped) <= 20, shaped
    want = {r["_mr_key"]: (r["s"], r["n"])
            for r in eng.recompute_all()["v"].collect()}
    assert {r["_mr_key"]: (r["s"], r["n"])
            for r in inc.read("v").collect()} == want
