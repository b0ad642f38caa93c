"""Algebraic incremental view maintenance — the O(delta) reduce path.

The reference always recomputes a dirty key's WHOLE group
(``processor.py:192-227``); with ``merge=`` declared on the reduce spec,
insert-only dirty keys combine ``merge(old_value, reduce(delta))`` instead.
These tests pin down both halves of the contract:

1. results are identical to full recompute across create/update/delete
   lifecycles (merge engages only where sound — keys that lost rows
   recompute, so min/max never need retraction);
2. an insert-only batch against a large existing group feeds the reduce
   ONLY the delta rows — the group is never rescanned.
"""

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
)
from qvarn_mr_spark.operators.mapreduce import MERGE_ADD, MERGE_MAX, MERGE_MIN
from qvarn_mr_spark.operators.incremental import notifications


@pytest.fixture(params=["plain", "bucketed"])
def mk_store(request):
    def mk(spark, root):
        if request.param == "bucketed":
            return BucketedParquetStateStore(spark, root, buckets=8)
        return ParquetStateStore(spark, root)
    return mk


def _mk(spark, tmp_path, rows, mk_store=None):
    cat = Catalog(spark)

    def set_source(rs):
        cat.register("source", spark.createDataFrame(
            rs, "id string, key long, value long"))

    set_source(rows)
    eng = ViewEngine(cat, {
        "m": {"source": map_item("key", "value")},
        "v": {"m": reduce_agg(
            {"s": lambda c: F.sum(c),
             "n": lambda c: F.count(F.lit(1)),
             "mn": lambda c: F.min(c),
             "mx": lambda c: F.max(c)},
            merge={"s": MERGE_ADD, "n": MERGE_ADD,
                   "mn": MERGE_MIN, "mx": MERGE_MAX})},
    }, id_cols={"source": "id"})
    store = (mk_store(spark, str(tmp_path / "s")) if mk_store
             else ParquetStateStore(spark, str(tmp_path / "s")))
    inc = IncrementalEngine(eng, store)
    return cat, inc, set_source


def _view(inc):
    return {r["_mr_key"]: (r["s"], r["n"], r["mn"], r["mx"])
            for r in inc.read("v").collect()}


def _expected(rows):
    out = {}
    for _id, key, value in rows:
        s, n, mn, mx = out.get(str(key), (0, 0, None, None))
        out[str(key)] = (s + value, n + 1,
                         value if mn is None else min(mn, value),
                         value if mx is None else max(mx, value))
    return out


@pytest.mark.sweep
def test_merge_lifecycle_matches_recompute(spark, tmp_path, mk_store):
    rows = [("1", 1, 10), ("2", 1, 20), ("3", 2, 5)]
    cat, inc, set_source = _mk(spark, tmp_path, rows, mk_store)
    inc.apply_changes(notifications(spark, [
        ("source", "created", "1"), ("source", "created", "2"),
        ("source", "created", "3")]))
    assert _view(inc) == _expected(rows)

    # insert-only growth: existing group and a brand-new group → merge path
    rows += [("4", 1, 7), ("5", 3, 100)]
    set_source(rows)
    inc.apply_changes(notifications(spark, [
        ("source", "created", "4"), ("source", "created", "5")]))
    assert _view(inc) == _expected(rows)

    # update that LOWERS the group max: only sound via recompute fallback
    rows = [r if r[0] != "2" else ("2", 1, 1) for r in rows]
    set_source(rows)
    inc.apply_changes(notifications(spark, [("source", "updated", "2")]))
    assert _view(inc) == _expected(rows)

    # delete the min of group 1 + one more insert in the same batch
    rows = [r for r in rows if r[0] != "2"] + [("6", 2, -3)]
    set_source(rows)
    inc.apply_changes(notifications(spark, [
        ("source", "deleted", "2"), ("source", "created", "6")]))
    assert _view(inc) == _expected(rows)

    # empty-group elimination still holds through the mixed path
    rows = [r for r in rows if r[1] != 2]
    set_source(rows)
    inc.apply_changes(notifications(spark, [
        ("source", "deleted", "3"), ("source", "deleted", "6")]))
    assert _view(inc) == _expected(rows)
    assert "2" not in _view(inc)


def test_insert_only_batch_reduces_only_the_delta(spark, tmp_path):
    """The 100 TB claim, demonstrated: after a 300-row group exists, adding
    one row must feed the reduce aggregate only batch-delta-sized inputs —
    never the stored group."""
    rows = [(str(i), 1, i) for i in range(300)]
    cat, inc, set_source = _mk(spark, tmp_path, rows)
    inc.apply_changes(notifications(
        spark, [("source", "created", str(i)) for i in range(300)]))

    seen = []
    orig = inc.engine.reduce_table

    def spy(target, map_df=None):
        if map_df is not None:
            seen.append(map_df.count())
        return orig(target, map_df)

    inc.engine.reduce_table = spy
    rows.append(("new", 1, 999))
    set_source(rows)
    inc.apply_changes(notifications(spark, [("source", "created", "new")]))
    inc.engine.reduce_table = orig

    assert seen, "reduce was never consulted"
    assert max(seen) <= 1, f"group was rescanned: reduce inputs {seen}"
    assert _view(inc)["1"] == _expected(rows)["1"]


def test_merge_disabled_without_full_coverage(spark, tmp_path):
    """A spec with merges for only SOME aliases must never engage the
    algebraic path (a half-merged row would mix batch-local and whole-group
    values)."""
    cat = Catalog(spark)
    rows = [("1", 1, 10), ("2", 1, 20)]
    cat.register("source", spark.createDataFrame(
        rows, "id string, key long, value long"))
    eng = ViewEngine(cat, {
        "m": {"source": map_item("key", "value")},
        "v": {"m": reduce_agg({"s": lambda c: F.sum(c),
                               "avg": lambda c: F.avg(c)},
                              merge={"s": MERGE_ADD})},
    }, id_cols={"source": "id"})
    inc = IncrementalEngine(eng, ParquetStateStore(spark, str(tmp_path / "s")))
    inc.apply_changes(notifications(spark, [
        ("source", "created", "1"), ("source", "created", "2")]))
    rows.append(("3", 1, 30))
    cat.register("source", spark.createDataFrame(
        rows, "id string, key long, value long"))
    inc.apply_changes(notifications(spark, [("source", "created", "3")]))
    got = {r["_mr_key"]: (r["s"], r["avg"]) for r in inc.read("v").collect()}
    assert got == {"1": (60, 20.0)}


def _chunked(spark, tmp_path):
    """A summing view with a merge, over twelve ids in two keys."""
    cat = Catalog(spark)
    rows = {str(i): (i % 2, i) for i in range(1, 13)}

    def set_source():
        cat.register("source", spark.createDataFrame(
            [(rid, k, v) for rid, (k, v) in rows.items()],
            "id string, key long, value long"))

    set_source()
    eng = ViewEngine(cat, {
        "m": {"source": map_item("key", "value")},
        "v": {"m": reduce_agg(F.sum, merge=MERGE_ADD)},
    }, id_cols={"source": "id"})
    inc = IncrementalEngine(eng, ParquetStateStore(spark, str(tmp_path / "s")))
    inc.resync_all()
    return eng, inc, rows, set_source


def _sums(df):
    return {r["_mr_key"]: r["_mr_value"] for r in df.collect()}


def test_chunked_resync_of_algebraic_reduce_converges(spark, tmp_path,
                                                      key_sets):
    """A reduce-handler bump resyncs an algebraic reduce slice by slice:
    each slice reaches the reduce as its stored map rows, all retracted
    and none inserted, so every slice key recomputes its whole group
    under the new handler instead of merging into the old value. Live
    batches drained between the chunks take the merge path; the end state
    equals a full recompute."""
    eng, inc, rows, set_source = _chunked(spark, tmp_path)
    eng.config["v"]["m"] = reduce_agg(lambda c: F.sum(c) * 10,
                                      merge=MERGE_ADD, version=2)
    live = [{"13": (0, 100)},                  # insert-only
            {"2": (1, 50), "13": None}]         # key move + delete

    def drain():
        if live:
            batch = []
            for rid, kv in live.pop(0).items():
                change = ("deleted" if kv is None
                          else "updated" if rid in rows else "created")
                batch.append(("source", change, rid))
                if kv is None:
                    del rows[rid]
                else:
                    rows[rid] = kv
            set_source()
            inc.apply_changes(notifications(spark, batch))

    assert inc.resync_interleaved(drain=drain, chunks=2) == ["v"]
    assert live == []
    want = _sums(eng.recompute_all()["v"])
    assert want == {"0": 10 * (2 + 4 + 6 + 8 + 10 + 12 - 2),
                    "1": 10 * (1 + 3 + 5 + 7 + 9 + 11 + 50)}
    assert _sums(inc.read("v")) == want


def test_chunked_map_resync_keeps_algebraic_values_whole(spark, tmp_path):
    """A map-handler bump re-maps the ids chunk by chunk, then resyncs the
    algebraic reduce in all-retracted slices: at every drain each key
    shows its complete old or its complete new value, never a mix."""
    from qvarn_mr_spark.operators import map_expr

    eng, inc, _, _ = _chunked(spark, tmp_path)
    old = _sums(inc.read("v"))
    assert old == {"0": 42, "1": 36}
    eng.config["m"]["source"] = map_expr("key", F.col("value") * 2,
                                         version=2)
    new = {k: 2 * v for k, v in old.items()}
    seen = []

    def drain():
        got = _sums(inc.read("v"))
        assert all(got[k] in (old[k], new[k]) for k in old), got
        seen.append(got)

    assert inc.resync_interleaved(drain=drain, chunks=4) == ["m", "v"]
    assert _sums(inc.read("v")) == new == _sums(eng.recompute_all()["v"])
    assert any(got != new for got in seen)     # postponement observed
