"""Incremental maintenance of extended (deep DAG) configs.

The reference's engine is structurally limited to map→reduce depth (one
notification at a time); the Spark engine applies any acyclic config in
topological order, turning each derived target's dirty keys into a
synthetic notification batch for its consumers. The canonical depth-4
example: per-user order counts, then a histogram of those counts
(count-of-counts) — source → map → reduce → map-over-reduce → reduce.
Every lifecycle step compares the incrementally-maintained histogram to a
from-scratch recompute of the same config.
"""

import os

import pytest
from pyspark.sql import functions as F

from qvarn_mr_spark.catalog import Catalog
from qvarn_mr_spark.operators import (
    BucketedParquetStateStore,
    IncrementalEngine,
    ParquetStateStore,
    ViewEngine,
    map_item,
    reduce_agg,
    reduce_count,
)
from qvarn_mr_spark.operators.incremental import notifications
from qvarn_mr_spark.operators.mapreduce import MERGE_ADD


def _setup(spark, tmp_path):
    cat = Catalog(spark)

    def set_source(rows):
        cat.register("orders", spark.createDataFrame(
            rows, "id string, custkey long"))

    eng = ViewEngine(cat, {
        "orders__map": {"orders": map_item("custkey")},
        "per_user": {"orders__map": reduce_count()},
        # re-key: count value becomes the key (count-of-counts histogram)
        "hist__map": {"per_user": map_item("_mr_value")},
        "hist": {"hist__map": reduce_count()},
    }, id_cols={"orders": "id"}, strict=False)
    inc = IncrementalEngine(eng, ParquetStateStore(spark, str(tmp_path / "s")))
    return cat, eng, inc, set_source


def _hist(inc):
    return {r["_mr_key"]: r["_mr_value"]
            for r in inc.read("hist").collect()}


def _expected(rows):
    per_user = {}
    for _id, custkey in rows:
        per_user[custkey] = per_user.get(custkey, 0) + 1
    hist = {}
    for n in per_user.values():
        hist[str(n)] = hist.get(str(n), 0) + 1
    return hist


def _ancestors(plan: str, line: int) -> list[str]:
    """The operators above line ``line`` of a plan tree string, nearest
    first (a parent sits at a smaller indent than its children)."""
    lines = plan.splitlines()

    def indent(s):
        return len(s) - len(s.lstrip(" :+-"))

    depth, out = indent(lines[line]), []
    for s in reversed(lines[:line]):
        if indent(s) < depth:
            depth = indent(s)
            out.append(s.lstrip(" :+-"))
    return out


def test_derived_change_liveness_is_batch_sized(spark, tmp_path):
    """The synthetic notifications for a derived source check which of
    the batch's keys are still stored: the stored table is semi-joined
    with the batch's keys before anything aggregates it, so no aggregate
    runs over the whole stored upstream table."""
    from qvarn_mr_spark.plans import explain_str

    cat, eng, inc, set_source = _setup(spark, tmp_path)
    set_source([("o1", 1), ("o2", 1), ("o3", 2)])
    inc.resync_all()
    delta = spark.createDataFrame([("1", -1), ("1", 1), ("9", -1)],
                                  "_mr_key string, _mr_weight int")
    changes = inc._derived_changes("per_user", delta)

    plan = explain_str(changes, "simple")
    # the one parquet scan is the stored per_user table's (the delta
    # is an in-memory frame)
    (scan,) = [i for i, s in enumerate(plan.splitlines())
               if "FileScan parquet" in s]
    above = _ancestors(plan, scan)
    semi = next(i for i, s in enumerate(above)
                if s.startswith("BroadcastHashJoin") and "LeftSemi" in s)
    first_agg = next(i for i, s in enumerate(above)
                     if s.startswith("HashAggregate"))
    assert semi < first_agg, plan
    assert sorted((r["resource_type"], r["resource_id"], r["change"])
                  for r in changes.collect()) == [
        ("per_user", "1", "updated"), ("per_user", "9", "deleted")]


@pytest.mark.sweep
def test_deep_dag_lifecycle_matches_recompute(spark, tmp_path, key_sets):
    cat, eng, inc, set_source = _setup(spark, tmp_path)
    rows = [("o1", 1), ("o2", 1), ("o3", 2)]
    set_source(rows)
    inc.apply_changes(notifications(spark, [
        ("orders", "created", "o1"), ("orders", "created", "o2"),
        ("orders", "created", "o3")]))
    # user 1 has 2 orders, user 2 has 1 → hist {2:1, 1:1}
    assert _hist(inc) == _expected(rows) == {"2": 1, "1": 1}

    # create: user 2 gains an order → both users at 2 → hist {2:2}
    rows.append(("o4", 2))
    set_source(rows)
    inc.apply_changes(notifications(spark, [("orders", "created", "o4")]))
    assert _hist(inc) == _expected(rows) == {"2": 2}

    # update moves an order between users (re-key through all 4 levels)
    rows = [r if r[0] != "o2" else ("o2", 3) for r in rows]
    set_source(rows)
    inc.apply_changes(notifications(spark, [("orders", "updated", "o2")]))
    assert _hist(inc) == _expected(rows) == {"1": 2, "2": 1}

    # delete: user 3's only order goes → user disappears from per_user,
    # the synthetic delete must ripple into the histogram
    rows = [r for r in rows if r[0] != "o2"]
    set_source(rows)
    inc.apply_changes(notifications(spark, [("orders", "deleted", "o2")]))
    assert _hist(inc) == _expected(rows) == {"1": 1, "2": 1}

    # drain everything → empty-group elimination cascades to depth 4
    set_source([])
    inc.apply_changes(notifications(spark, [
        ("orders", "deleted", "o1"), ("orders", "deleted", "o3"),
        ("orders", "deleted", "o4")]))
    assert _hist(inc) == {}


#: Intermediate keys whose Python and Spark string forms differ: doubles
#: past 1e7 or below 1e-3 (``1.0E7``), booleans (``true``), and a pandas
#: reduce that stores its keys as longs, not in the map's string form
_ODD_KEYS = {"double": [1e7, 2.5e-4, 3.0], "boolean": [True, False, False],
             "pandas-long": [5, 7, 9]}


@pytest.mark.sweep
@pytest.mark.parametrize("ktype,kind", [
    ("double", "plain"), ("boolean", "plain"), ("pandas-long", "plain"),
    ("pandas-long", "bucketed")])
def test_deep_dag_names_odd_keys_as_spark_does(spark, tmp_path, key_sets,
                                               ktype, kind):
    """A map over a reduce whose keys print differently in Python and in
    Spark: the synthetic notifications name each key as the downstream map
    names its source ids (Spark's string cast), so every step re-maps and
    retracts the right rows, and a bucketed store hashes a reduce's long
    keys as longs, not as the map's strings. After creates, a key move and
    a key's vanishing, every table equals a full recompute and no dead
    letter was written."""
    import pandas as pd

    from qvarn_mr_spark.operators import reduce_pandas

    a, b, c = _ODD_KEYS[ktype]
    cat = Catalog(spark)

    def set_source(rows):
        cat.register("orders", spark.createDataFrame(
            rows, f"id string, k {'long' if ktype == 'pandas-long' else ktype}"))

    def count(key, pdf):
        return pd.DataFrame({"_mr_key": [int(key[0])],
                             "_mr_value": [len(pdf)]})

    eng = ViewEngine(cat, {
        "orders__map": {"orders": map_item("k")},
        "per_user": {"orders__map": (
            reduce_pandas(count, "_mr_key long, _mr_value long")
            if ktype == "pandas-long" else reduce_count())},
        "hist__map": {"per_user": map_item("_mr_value")},
        "hist": {"hist__map": reduce_count()},
    }, id_cols={"orders": "id"}, strict=False)
    root = str(tmp_path / "s")
    inc = IncrementalEngine(eng, (
        BucketedParquetStateStore(spark, root, buckets=8)
        if kind == "bucketed" else ParquetStateStore(spark, root)))

    def check():
        want = eng.recompute_all()
        for table, df in want.items():
            assert sorted(map(tuple, inc.read(table).select(
                *df.columns).collect())) == sorted(
                map(tuple, df.collect())), table

    for rows, batch in (
            ([("o1", a), ("o2", a), ("o3", b)],
             [("orders", "created", "o1"), ("orders", "created", "o2"),
              ("orders", "created", "o3")]),
            ([("o1", a), ("o2", c), ("o3", b)],
             [("orders", "updated", "o2")]),
            ([("o2", c), ("o3", b)], [("orders", "deleted", "o1")])):
        set_source(rows)
        inc.apply_changes(notifications(spark, batch))
        check()
    assert inc.dead_letters("hist__map").count() == 0


@pytest.mark.sweep
def test_deep_dag_untouched_keys_stay_clean(spark, tmp_path):
    """A change to one user must not mark other histogram buckets dirty:
    the synthetic batches carry only the propagated dirty keys."""
    cat, eng, inc, set_source = _setup(spark, tmp_path)
    rows = [(f"o{i}", i) for i in range(20)]          # 20 users, 1 order each
    set_source(rows)
    inc.apply_changes(notifications(
        spark, [("orders", "created", f"o{i}") for i in range(20)]))
    assert _hist(inc) == {"1": 20}

    rows.append(("x", 0))                              # user 0 → 2 orders
    set_source(rows)
    # capture the dirty keys the histogram map commits with
    captured = []
    orig = inc.store.overwrite

    def hooked(table, df, **kw):
        if table == "hist__map":
            keys = kw["dirty_keys"]
            captured.append(set(keys) if isinstance(keys, list) else
                            {r["_mr_key"] for r in keys.collect()})
        orig(table, df, **kw)

    inc.store.overwrite = hooked
    try:
        inc.apply_changes(notifications(spark, [("orders", "created", "x")]))
    finally:
        inc.store.overwrite = orig
    assert _hist(inc) == {"1": 19, "2": 1}
    # the histogram map's dirty set in the last batch covers only the
    # propagated per_user keys (user 0's old count 1 and new count 2) —
    # never all 20 users
    dirty = captured[0]     # the batch's one commit of the map
    assert dirty <= {"1", "2"}
    assert "2" in dirty


def test_shared_upstream_handoff_survives_gc(spark, tmp_path):
    """One map target feeds both a reduce and a map-over-map consumer
    applied after it, so both read the batch's cached delta frame under
    ``retain=2``; the batch's one transaction GCs nothing until every
    target has committed. Every view must equal a recompute after every
    batch; no hand-off key set reaches the state root (no ``__dirty``,
    ``__fresh`` or ``__touched`` table), and every frame the batch cached
    is released."""
    cat = Catalog(spark)

    def set_source(rows):
        cat.register("orders", spark.createDataFrame(
            rows, "id string, custkey long, amount long"))

    eng = ViewEngine(cat, {
        "m": {"orders": map_item("custkey", "amount")},
        "spend": {"m": reduce_agg({"total": lambda c: F.sum(c)},
                                  merge={"total": MERGE_ADD})},
        "size__map": {"m": map_item(
            F.when(F.col("_mr_value") >= 50, "big").otherwise("small"),
            "_mr_value")},
        "sizes": {"size__map": reduce_count()},
    }, id_cols={"orders": "id"}, strict=False)
    root = tmp_path / "s"
    inc = IncrementalEngine(eng, ParquetStateStore(spark, str(root)))
    persistent = spark.sparkContext._jsc.getPersistentRDDs

    def check():
        want = eng.recompute_all()
        for target, expected in want.items():
            cols = expected.columns
            got = sorted(tuple(r) for r in inc.read(target)
                         .select(*cols).collect())
            assert got == sorted(tuple(r) for r in expected
                                 .select(*cols).collect()), target
        assert not [d for d in os.listdir(root)
                    if any(s in d for s in ("__dirty", "__fresh",
                                            "__touched"))]

    rows = {}                       # id -> (custkey, amount); None deletes
    edits = [
        {f"o{i}": (i % 3, 10 * i) for i in range(1, 7)},
        # create, move o2 to another customer, delete o3
        {"o7": (1, 70), "o2": (0, 20), "o3": None},
        # o1 crosses the big/small line, o4 goes, o8 arrives
        {"o1": (1, 90), "o4": None, "o8": (2, 5)},
        # customer 2 loses every order (empty-group elimination)
        {"o5": None, "o8": None, "o7": (0, 15)},
    ]
    for edit in edits:
        batch = []
        for rid, kv in edit.items():
            if kv is None:
                del rows[rid]
                batch.append(("orders", "deleted", rid))
            else:
                batch.append(("orders", "updated" if rid in rows
                              else "created", rid))
                rows[rid] = kv
        set_source([(rid, k, v) for rid, (k, v) in rows.items()])
        before = persistent().size()
        inc.apply_changes(notifications(spark, batch))
        assert persistent().size() == before
        check()
    assert {r["_mr_key"] for r in inc.read("spend").collect()} == {"0", "1"}


def test_deep_dag_resync_bootstrap(spark, tmp_path):
    """resync_all in topological order bootstraps a deep DAG from nothing,
    and the incremental path continues from it seamlessly."""
    cat, eng, inc, set_source = _setup(spark, tmp_path)
    rows = [("a", 1), ("b", 1), ("c", 2), ("d", 3)]
    set_source(rows)
    inc.resync_all()
    assert _hist(inc) == _expected(rows) == {"2": 1, "1": 2}
    rows.append(("e", 3))
    set_source(rows)
    inc.apply_changes(notifications(spark, [("orders", "created", "e")]))
    assert _hist(inc) == _expected(rows) == {"2": 2, "1": 1}


@pytest.mark.sweep
def test_map_resync_prefers_stored_upstream_snapshot(spark, tmp_path):
    """Resync of a map-over-derived target must rebuild from the STORED
    upstream snapshot (like the reduce branch and the incremental path),
    not batch-recompute the upstream from the catalog: when the feed has
    undrained changes, a catalog recompute would transiently jump the
    downstream ahead of its stored parent level."""
    cat, eng, inc, set_source = _setup(spark, tmp_path)
    rows = [("o1", 1), ("o2", 1), ("o3", 2)]
    set_source(rows)
    inc.apply_changes(notifications(spark, [
        ("orders", "created", "o1"), ("orders", "created", "o2"),
        ("orders", "created", "o3")]))

    # the catalog advances but the o9 notification is NOT yet drained:
    # stored per_user (users 1, 2) lags the catalog (users 1, 2, 9)
    set_source(rows + [("o9", 9)])
    inc.resync("hist__map")
    ids = {r["_mr_source_id"] for r in inc.read("hist__map").collect()}
    assert ids == {"1", "2"}, "resync leaked catalog state past the store"

    # after draining, a resync sees the new user through the store
    inc.apply_changes(notifications(spark, [("orders", "created", "o9")]))
    inc.resync("hist__map")
    ids = {r["_mr_source_id"] for r in inc.read("hist__map").collect()}
    assert ids == {"1", "2", "9"}
