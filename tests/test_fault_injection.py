"""Crash-atomicity fault injection for the state stores (VERDICT r10
item 4).

The state-file commit, its transactions and the manifest-closure GC
(operators/incremental.py) are the engine's ACID story; these tests
exercise them UNDER failure, not just on the happy path:

(a) a commit killed after the data write but before it is published
    leaves the previous version fully readable — no torn state;
(b) re-running the killed batch converges to exactly the full-recompute
    answer (a batch is one transaction: it publishes all or nothing),
    also when it moves an id between keys or upgrades a handler;
(c) a reader pinned at manifest k-1 survives a concurrent commit + GC
    (the retained-manifest closure rule);
(d) the documented ``retain`` hazard is real — a reader held across
    more than ``retain`` overwrites hits FileNotFound at action time —
    and raising ``retain`` avoids it (the documented mitigation).
"""

import os

import pytest
from pyspark.sql import functions as F

from qvarn_mr_spark.catalog import Catalog
from qvarn_mr_spark.operators import (
    IncrementalEngine,
    ParquetStateStore,
    ViewEngine,
)
from qvarn_mr_spark.operators.incremental import (
    BucketedParquetStateStore,
    notifications,
)
from qvarn_mr_spark.operators.mapreduce import (
    MERGE_ADD,
    map_item,
    reduce_agg,
)


class Crash(Exception):
    pass


class CrashingStore(BucketedParquetStateStore):
    """Injects a crash at armed points of the commit protocol.

    ``crash_before_commit``: after the version directory (data +
    manifest) is fully written, before the version is staged or
    published — the widest window a real executor/driver death can hit.
    ``crash_tables``: restrict injection to named tables (so an
    engine-level batch can die on ONE view's commit with earlier views
    already written and staged — the messiest real-world state).
    """

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.crash_before_commit = False
        self.crash_tables: set | None = None

    def _commit(self, table, v):
        if self.crash_before_commit and (
                self.crash_tables is None or table in self.crash_tables):
            raise Crash(f"injected before commit of {table} v{v}")
        super()._commit(table, v)


def frame(spark, rows):
    return spark.createDataFrame(rows, "_mr_key string, v long")


def test_killed_commit_leaves_previous_version_readable(spark, tmp_path):
    store = CrashingStore(spark, str(tmp_path / "s"), buckets=2)
    store.overwrite("t", frame(spark, [("a", 1), ("b", 2)]))
    assert store.version("t") == 1

    store.crash_before_commit = True
    with pytest.raises(Crash):
        store.overwrite("t", frame(spark, [("a", 10), ("b", 2), ("c", 3)]))
    # nothing published; the v1 snapshot reads completely and correctly
    assert store.version("t") == 1
    got = {(r["_mr_key"], r["v"]) for r in store.read("t").collect()}
    assert got == {("a", 1), ("b", 2)}

    # retry converges: the orphaned v2 directory is simply overwritten
    store.crash_before_commit = False
    store.overwrite("t", frame(spark, [("a", 10), ("b", 2), ("c", 3)]))
    assert store.version("t") == 2
    got = {(r["_mr_key"], r["v"]) for r in store.read("t").collect()}
    assert got == {("a", 10), ("b", 2), ("c", 3)}


def _sums_engine(spark, tmp_path, merge):
    """src ids 0..8 with key ``id % 3`` and value ``id``, mapped to ``m``
    and summed per key into ``sums``, on a CrashingStore."""
    cat = Catalog(spark)

    def set_source(rows):
        cat.register("src", spark.createDataFrame(
            rows, "id string, key long, value long"))

    set_source([(str(i), i % 3, i) for i in range(9)])
    eng = ViewEngine(cat, {
        "m": {"src": map_item("key", "value")},
        "sums": {"m": reduce_agg({"total": lambda c: F.sum(c)},
                                 merge=merge)},
    }, id_cols={"src": "id"})
    store = CrashingStore(spark, str(tmp_path / "s"), buckets=2)
    return eng, store, IncrementalEngine(eng, store), set_source


def _totals(df):
    return {r["_mr_key"]: r["total"] for r in df.collect()}


def test_killed_batch_replay_converges(spark, tmp_path):
    """Engine level: a CDC batch dies on the REDUCE commit after the map
    table was already written and staged. Re-running the same batch
    must converge to the full-recompute answer — no double counting,
    no lost keys."""
    eng, store, inc, set_source = _sums_engine(spark, tmp_path, None)
    inc.apply_changes(notifications(
        spark, [("src", "created", str(i)) for i in range(9)]))

    def totals():
        return {r["_mr_key"]: r["total"]
                for r in inc.read("sums").collect()}

    assert totals() == {"0": 0 + 3 + 6, "1": 1 + 4 + 7, "2": 2 + 5 + 8}

    # batch 2: update id 4 (key 1: 4 → 40); die on the reduce commit
    rows = [(str(i), i % 3, 40 if i == 4 else i) for i in range(9)]
    set_source(rows)
    batch = notifications(spark, [("src", "updated", "4")])
    store.crash_before_commit = True
    store.crash_tables = {"sums"}
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    with pytest.raises(Crash):
        inc.apply_changes(batch)
    # the dead batch released every frame it cached
    assert persistent().size() == before
    # nothing of the batch published: the reduce still shows the OLD
    # total — a consistent (stale) view, never a torn one
    assert totals()["1"] == 1 + 4 + 7

    # replaying the SAME batch converges
    store.crash_before_commit = False
    inc.apply_changes(batch)
    assert totals() == {"0": 9, "1": 1 + 40 + 7, "2": 15}

    # and equals a from-scratch recompute of the same sources
    want = {r["_mr_key"]: r["total"]
            for r in eng.reduce_table("sums").collect()}
    assert totals() == want


@pytest.mark.parametrize("merge", [None, {"total": MERGE_ADD}],
                         ids=["recompute", "merge"])
def test_key_move_crash_replay_converges(spark, tmp_path, merge):
    """A batch that moves id 4 from key 1 to key 2 dies on the ``sums``
    commit. Neither table may show any of it, and the replay must still
    recompute key 1 — the key the id left, which only the old map row
    records."""
    eng, store, inc, set_source = _sums_engine(spark, tmp_path, merge)
    inc.apply_changes(notifications(
        spark, [("src", "created", str(i)) for i in range(9)]))

    def contents():
        return {t: {tuple(r) for r in inc.read(t).collect()}
                for t in ("m", "sums")}

    before = contents()
    set_source([(str(i), 2 if i == 4 else i % 3, i) for i in range(9)])
    batch = notifications(spark, [("src", "updated", "4")])
    store.crash_before_commit = True
    store.crash_tables = {"sums"}
    with pytest.raises(Crash):
        inc.apply_changes(batch)
    assert contents() == before

    store.crash_before_commit = False
    inc.apply_changes(batch)
    assert _totals(inc.read("sums")) == _totals(eng.reduce_table("sums"))
    assert _totals(inc.read("sums")) == {"0": 9, "1": 1 + 7,
                                         "2": 2 + 4 + 5 + 8}


def test_handler_upgrade_crash_rerun_converges(spark, tmp_path):
    """resync_changed dies on the ``sums`` rebuild after the map's new
    handler was applied. The upgrade must publish nothing — handler
    versions included — so the rerun still sees both targets changed."""
    eng, store, inc, set_source = _sums_engine(spark, tmp_path, None)
    inc.resync_all()
    handlers = store.get_handler_versions()
    eng.config["m"]["src"] = map_item("key", F.col("value") * 2, version=2)
    store.crash_before_commit = True
    store.crash_tables = {"sums"}
    with pytest.raises(Crash):
        inc.resync_changed()
    assert store.get_handler_versions() == handlers

    store.crash_before_commit = False
    assert inc.resync_changed() == ["m", "sums"]
    assert _totals(inc.read("sums")) == _totals(eng.reduce_table("sums"))
    assert _totals(inc.read("sums")) == {"0": 18, "1": 24, "2": 30}


@pytest.mark.parametrize("store_cls",
                         [ParquetStateStore, BucketedParquetStateStore])
def test_transaction_publishes_all_or_nothing(spark, tmp_path, store_cls):
    """Inside ``transaction()`` the writer sees its own commits while the
    committed state — and any other store on the root — keeps the old
    versions; a block that raises leaves the state file byte-identical
    and GCs nothing (``retain=1`` would drop v1 on any publish of v2)."""
    root = str(tmp_path / "s")
    store = store_cls(spark, root, retain=1)
    store.overwrite("a", frame(spark, [("x", 1)]))
    store.overwrite("b", frame(spark, [("y", 1)]))
    store.set_handler_version("a", "src", 1)
    state = os.path.join(root, "_STATE.json")
    with open(state, "rb") as f:
        before = f.read()
    committed = store.committed()

    def rows(s, table):
        return {(r["_mr_key"], r["v"]) for r in s.read(table).collect()}

    with pytest.raises(Crash):
        with store.transaction():
            store.overwrite("a", frame(spark, [("x", 2)]))
            with store.transaction():           # joins the outer block
                store.overwrite("b", frame(spark, [("y", 2)]))
                store.set_handler_version("a", "src", 2)
            assert (store.version("a"), store.version("b")) == (2, 2)
            assert rows(store, "a") == {("x", 2)}
            assert rows(store, "b") == {("y", 2)}
            assert store.committed() == committed
            other = store_cls(spark, root)
            assert (other.version("a"), other.version("b")) == (1, 1)
            assert rows(other, "a") == {("x", 1)}
            assert other.get_handler_versions() == {"a\x00src": 1}
            raise Crash("abort the block")
    with open(state, "rb") as f:
        assert f.read() == before
    assert (store.version("a"), store.version("b")) == (1, 1)
    assert rows(store, "a") == {("x", 1)}
    assert rows(store, "b") == {("y", 1)}
    assert store.get_handler_versions() == {"a\x00src": 1}

    # a block that completes publishes every staged version at once
    with store.transaction():
        store.overwrite("a", frame(spark, [("x", 3)]))
        store.overwrite("b", frame(spark, [("y", 3)]))
    other = store_cls(spark, root)
    assert (other.version("a"), other.version("b")) == (2, 2)
    assert rows(other, "a") == {("x", 3)}
    assert rows(other, "b") == {("y", 3)}


def test_pinned_reader_survives_commit_and_gc(spark, tmp_path):
    """A reader pinned at manifest k-1 must survive a following commit's
    GC even when its buckets resolve to version directories far behind
    k-1 (carried-forward owners) — the manifest-closure rule."""
    store = BucketedParquetStateStore(spark, str(tmp_path / "s"),
                                      buckets=2, retain=2)
    store.overwrite("t", frame(spark, [("a", 1), ("b", 2)]))      # v1
    # dirty-only commits: bucket of "a" rewrites, bucket of "b" keeps
    # pointing at v1's files
    store.overwrite("t", frame(spark, [("a", 10), ("b", 2)]),
                    dirty_keys=frame(spark, [("a", 0)])
                    .select("_mr_key"))                            # v2
    pinned = store.read("t")                                       # at v2
    store.overwrite("t", frame(spark, [("a", 11), ("b", 2)]),
                    dirty_keys=frame(spark, [("a", 0)])
                    .select("_mr_key"))                            # v3 + GC
    # v1 still owns b's bucket in BOTH retained manifests (v2, v3):
    # the closure keeps it alive and the pinned reader answers fully
    got = {(r["_mr_key"], r["v"]) for r in pinned.collect()}
    assert got == {("a", 10), ("b", 2)}
    cur = {(r["_mr_key"], r["v"]) for r in store.read("t").collect()}
    assert cur == {("a", 11), ("b", 2)}


def test_retain_hazard_is_real_and_retain_avoids_it(spark, tmp_path):
    """Pin the documented read hazard (incremental.py ParquetStateStore
    docstring): a lazy snapshot held across more than ``retain``
    overwrites of the same table FAILS at action time — then show the
    documented mitigation (raise ``retain``) makes the same access
    pattern safe."""
    hazard = ParquetStateStore(spark, str(tmp_path / "low"), retain=1)
    hazard.overwrite("t", frame(spark, [("a", 1)]))
    stale = hazard.read("t")                       # pinned at v1
    hazard.overwrite("t", frame(spark, [("a", 2)]))
    hazard.overwrite("t", frame(spark, [("a", 3)]))    # GC drops v1
    with pytest.raises(Exception) as ei:
        stale.collect()
    assert "FileNotFound" in str(ei.value) or \
        "does not exist" in str(ei.value) or "PATH_NOT_FOUND" in str(ei.value)

    safe = ParquetStateStore(spark, str(tmp_path / "high"), retain=3)
    safe.overwrite("t", frame(spark, [("a", 1)]))
    pinned = safe.read("t")
    safe.overwrite("t", frame(spark, [("a", 2)]))
    safe.overwrite("t", frame(spark, [("a", 3)]))
    assert [(r["_mr_key"], r["v"]) for r in pinned.collect()] == [("a", 1)]
