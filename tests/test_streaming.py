"""End-to-end streaming loop: ResourceStore CRUD → notification feed →
StreamingMaintainer → incrementally maintained views (SURVEY §2.7 T1/T6).

Mirrors the reference worker's drain-and-exit test mode
(/root/reference/tests/scripts/test_worker.py:87-116): create → process →
assert; update → process → assert; delete → process → assert.
"""

import pytest
from pyspark.sql import functions as F

from qvarn_mr_spark.catalog import Catalog
from qvarn_mr_spark.operators import (
    IncrementalEngine,
    ParquetStateStore,
    ViewEngine,
    map_item,
    reduce_agg,
)
from qvarn_mr_spark.operators.incremental import notifications
from qvarn_mr_spark.sources import ResourceStore, RevisionConflict
from qvarn_mr_spark.streaming import StreamingMaintainer


class StoreCatalog(Catalog):
    """Catalog view over a live ResourceStore — sources resolve to the
    store's current snapshot at access time."""

    def __init__(self, spark, rstore, types):
        super().__init__(spark)
        self.rstore = rstore
        self.types = types

    def get(self, name):
        if name in self.types:
            return self.rstore.table(name)
        return super().get(name)


@pytest.fixture()
def loop(spark, tmp_path):
    rstore = ResourceStore(spark, str(tmp_path / "store"),
                           feed_dir=str(tmp_path / "feed"))
    cat = StoreCatalog(spark, rstore, {"source"})
    eng = ViewEngine(cat, {
        "source__map": {"source": map_item("key", "value")},
        "sums": {"source__map": reduce_agg(F.sum)},
    })
    inc = IncrementalEngine(eng, ParquetStateStore(spark, str(tmp_path / "state")))
    sm = StreamingMaintainer(inc, feed_dir=str(tmp_path / "feed"),
                             checkpoint_dir=str(tmp_path / "ckpt"))
    return rstore, inc, sm


def sums(inc):
    return {r["_mr_key"]: r["_mr_value"] for r in inc.read("sums").collect()}


def test_crud_feed_maintains_view(loop):
    rstore, inc, sm = loop

    ids = rstore.create_many("source", [
        {"key": 1, "value": 1}, {"key": 1, "value": 2}, {"key": 1, "value": 3}])
    sm.run_available()
    assert sums(inc) == {"1": 6}

    # update values 1→2 and 3→5 (reference golden: 6 → 9 → 4)
    rstore.update("source", ids[0], {"key": 1, "value": 2})
    rstore.update("source", ids[2], {"key": 1, "value": 5})
    sm.run_available()
    assert sums(inc) == {"1": 9}

    rstore.delete("source", ids[2])
    sm.run_available()
    assert sums(inc) == {"1": 4}

    # checkpoint = ack: re-running with no new notifications changes nothing
    sm.run_available()
    assert sums(inc) == {"1": 4}


def test_revision_conflict(loop):
    rstore, _, _ = loop
    rid = rstore.create("source", {"key": 1, "value": 1})
    rev = rstore.get("source", rid)["revision"]
    new_rev = rstore.update("source", rid, {"key": 1, "value": 2}, revision=rev)
    assert new_rev != rev
    with pytest.raises(RevisionConflict):
        rstore.update("source", rid, {"key": 1, "value": 3}, revision=rev)
    # revision-less update = last-writer-wins (reference auto-fetch)
    rstore.update("source", rid, {"key": 1, "value": 4})
    assert rstore.get("source", rid)["value"] == 4


def test_feed_seq_keeps_rising_across_store_instances(spark, tmp_path,
                                                      loop):
    """Each write reserves its ``seq`` range in the store's state file, so a
    second store on the same root and feed numbers after the first: one
    drain of create, update (store A) and delete (store B) sees the delete
    last, leaves the view equal to a recompute and dead-letters nothing."""
    rstore, inc, sm = loop
    keep = rstore.create("source", {"key": 1, "value": 5})
    rid = rstore.create("source", {"key": 2, "value": 1})
    rstore.update("source", rid, {"key": 2, "value": 2})
    other = ResourceStore(spark, str(tmp_path / "store"),
                          feed_dir=str(tmp_path / "feed"))
    other.delete("source", rid)
    sm.run_available()

    want = inc.engine.recompute_all()["sums"]
    assert sums(inc) == {r["_mr_key"]: r["_mr_value"]
                         for r in want.collect()} == {"1": 5}
    dead = [r["resource_id"] for r in inc.dead_letters("source__map")
            .collect()]
    assert rid not in dead and keep not in dead


def test_concurrent_updates_with_one_revision_commit_once(loop, tmp_path):
    """The revision check and the commit run under one lock: of eight
    threads updating one id at the same revision, exactly one wins, seven
    get ``RevisionConflict``, and the feed carries one ``updated`` line."""
    import json
    import os
    import sys
    from concurrent.futures import ThreadPoolExecutor

    rstore, _, _ = loop
    rid = rstore.create("source", {"key": 1, "value": 0})
    r0 = rstore.get("source", rid)["revision"]

    def update(i):
        try:
            return rstore.update("source", rid, {"key": 1, "value": i},
                                 revision=r0)
        except RevisionConflict:
            return None

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            futures = [pool.submit(update, i) for i in range(1, 9)]
            results = [f.result(timeout=300) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    won = [r for r in results if r is not None]
    assert len(won) == 1
    row = rstore.get("source", rid)
    assert row["revision"] == won[0]
    assert row["value"] == results.index(won[0]) + 1
    lines = [json.loads(line)
             for f in os.listdir(tmp_path / "feed")
             for line in open(tmp_path / "feed" / f)]
    assert sorted(ln["resource_change"] for ln in lines) == [
        "created", "updated"]
    assert sorted(ln["seq"] for ln in lines) == [1, 2]


def test_subresources(loop):
    rstore, _, _ = loop
    rid = rstore.create("source", {"key": 1, "value": 1})
    rev0 = rstore.get("source", rid)["revision"]
    rstore.put_subresource("source", rid, "private", {"secret": "s3"})
    assert rstore.get_subresource("source", rid, "private")["secret"] == "s3"
    # parent revision bumped, parent fields intact
    parent = rstore.get("source", rid)
    assert parent["revision"] != rev0 and parent["value"] == 1
    # upsert replaces, and the collection joins by parent id
    rstore.put_subresource("source", rid, "private", {"secret": "s4"})
    assert rstore.get_subresource("source", rid, "private")["secret"] == "s4"
    assert rstore.subresource_table("source", "private").count() == 1
    assert rstore.get_subresource("source", rid, "nothere") is None


def test_subresource_put_with_a_none_field(loop):
    """A ``None`` field of a subresource document has no type to infer:
    the put leaves it out, and the field reads back absent or null."""
    rstore, _, _ = loop
    rid = rstore.create("source", {"key": 1, "value": 1})
    rstore.put_subresource("source", rid, "private", {"a": 1, "b": None})
    got = rstore.get_subresource("source", rid, "private")
    assert got["a"] == 1 and got.get("b") is None


def test_rejected_subresource_put_writes_nothing(loop, tmp_path):
    """A subresource put checks the parent before it writes: a stale
    revision (the reference's 409) and a missing parent both raise with
    the sub document, the sub table and the feed left as they were."""
    import os

    rstore, _, _ = loop
    rid = rstore.create("source", {"key": 1, "value": 1})
    rev0 = rstore.get("source", rid)["revision"]
    rstore.put_subresource("source", rid, "private", {"secret": "s1"},
                           revision=rev0)
    feed = set(os.listdir(tmp_path / "feed"))

    with pytest.raises(RevisionConflict):
        rstore.put_subresource("source", rid, "private", {"secret": "s2"},
                               revision=rev0)
    with pytest.raises(KeyError):
        rstore.put_subresource("source", "no-such-id", "private",
                               {"secret": "orphan"})

    assert rstore.get_subresource("source", rid, "private")["secret"] == "s1"
    assert [r["id"] for r in rstore.subresource_table(
        "source", "private").collect()] == [rid]
    assert set(os.listdir(tmp_path / "feed")) == feed


@pytest.mark.parametrize("kind", ["sub", "file"])
def test_side_put_with_failed_parent_commit_writes_nothing(loop, tmp_path,
                                                           monkeypatch, kind):
    """A subresource or file put commits the side table and the parent
    revision bump in one store transaction: when the parent's commit
    fails, the side document, the parent revision and the feed all stay
    as they were."""
    import os

    rstore, _, _ = loop
    rid = rstore.create("source", {"key": 1, "value": 1})

    def put(value):
        if kind == "sub":
            rstore.put_subresource("source", rid, "private",
                                   {"secret": value})
        else:
            rstore.put_file("source", rid, "voice", value.encode(),
                            "text/plain")

    def side():
        if kind == "sub":
            return rstore.get_subresource("source", rid,
                                          "private")["secret"]
        return rstore.get_file("source", rid, "voice")[0].decode()

    put("s1")
    rev = rstore.get("source", rid)["revision"]
    feed = set(os.listdir(tmp_path / "feed"))

    real = rstore._store.commit_delta

    def failing(table, *args, **kwargs):
        if table == "source":
            raise OSError("injected: parent commit failed")
        return real(table, *args, **kwargs)

    monkeypatch.setattr(rstore._store, "commit_delta", failing)
    with pytest.raises(OSError, match="injected"):
        put("s2")

    assert side() == "s1"
    assert rstore.get("source", rid)["revision"] == rev
    assert set(os.listdir(tmp_path / "feed")) == feed


def test_file_subresources_end_to_end(loop, spark):
    """File subresource (reference clients/qvarn.py:120-122,193-200):
    blob + content-type round-trip, parent revision bump + ``updated``
    notification, and the stored blob feeding the multimodal pipeline
    end-to-end (binary column → Arrow-batched REAL WAV decode)."""
    from pyspark.sql import functions as F

    from qvarn_mr_spark.functions import multimodal

    rstore, inc, sm = loop
    rid = rstore.create("source", {"key": 1, "value": 1})
    rev0 = rstore.get("source", rid)["revision"]

    wav = multimodal.synthetic_wav_bytes(n_samples=800, seed=7)
    new_rev = rstore.put_file("source", rid, "voice", wav, "audio/wav",
                              revision=rev0)
    assert new_rev != rev0
    body, ctype = rstore.get_file("source", rid, "voice")
    assert body == wav and ctype == "audio/wav"

    # stale-revision PUT is the reference's 409, and the blob stays intact
    with pytest.raises(RevisionConflict):
        rstore.put_file("source", rid, "voice", b"x", "audio/wav",
                        revision=rev0)
    assert rstore.get_file("source", rid, "voice")[0] == wav

    # upsert replaces; missing lookups return None
    wav2 = multimodal.synthetic_wav_bytes(n_samples=400, seed=9)
    rstore.put_file("source", rid, "voice", wav2, "audio/wav")
    assert rstore.get_file("source", rid, "voice")[0] == wav2
    assert rstore.get_file("source", rid, "photo") is None

    # the file PUT notified `updated` on the parent: the maintained view
    # keeps following (value unchanged -> sum unchanged but resynced)
    sm.run_available()
    assert sums(inc) == {"1": 1}

    # blob collection -> multimodal frame -> REAL stdlib decode features
    media = rstore.file_table("source", "voice").select(
        F.abs(F.hash("id")).cast("long").alias("media_id"),
        F.col("body").alias("payload"),
        F.struct(
            F.lit("audio").alias("kind"), F.lit("wav").alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(16000).alias("sample_rate"),
            F.lit(25).alias("duration_ms")).alias("meta"))
    feats = multimodal.media_signal_features(media).collect()
    assert len(feats) == 1
    vec = feats[0]["feature"]
    assert vec[0] == 0.0                    # kind tag: audio
    assert vec[1] > 0.0                     # RMS of a real sine is positive


def test_dead_letter_on_missing_resource(spark, tmp_path, loop):
    rstore, inc, sm = loop
    rstore.create("source", {"key": 1, "value": 1})
    # a notification for an id that is NOT in the store (not-yet-replicated)
    inc.apply_changes(notifications(spark, [("source", "created", "ghost-id")]))
    dl = inc.read("source__map__dead_letter").collect()
    assert [(r["resource_type"], r["resource_id"]) for r in dl] == \
        [("source", "ghost-id")]


@pytest.mark.sweep
def test_stream_maintains_deep_dag(spark, tmp_path):
    """The streaming loop drives an extended (depth-4) config: CRUD →
    feed → per-user counts → count-of-counts histogram, all maintained by
    synthetic dirty-key propagation inside each micro-batch."""
    from qvarn_mr_spark.operators import map_item, reduce_count

    rstore = ResourceStore(spark, str(tmp_path / "store"),
                           feed_dir=str(tmp_path / "feed"))
    cat = StoreCatalog(spark, rstore, {"orders"})
    eng = ViewEngine(cat, {
        "orders__map": {"orders": map_item("custkey")},
        "per_user": {"orders__map": reduce_count()},
        "hist__map": {"per_user": map_item("_mr_value")},
        "hist": {"hist__map": reduce_count()},
    }, strict=False)
    inc = IncrementalEngine(eng, ParquetStateStore(
        spark, str(tmp_path / "state")))
    sm = StreamingMaintainer(inc, feed_dir=str(tmp_path / "feed"),
                             checkpoint_dir=str(tmp_path / "ckpt"))

    def hist():
        return {r["_mr_key"]: r["_mr_value"]
                for r in inc.read("hist").collect()}

    ids = rstore.create_many("orders", [
        {"custkey": 1}, {"custkey": 1}, {"custkey": 2}])
    sm.run_available()
    assert hist() == {"2": 1, "1": 1}

    rstore.delete("orders", ids[1])     # user 1 drops to one order
    sm.run_available()
    assert hist() == {"1": 2}

    rstore.delete("orders", ids[0])
    rstore.delete("orders", ids[2])
    sm.run_available()
    assert hist() == {}
