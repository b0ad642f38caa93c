"""Maintained IVF/k-means cluster index — streaming ANN upkeep.

VERDICT r9 item 1: the LSH families had O(delta) maintained bucket
views but the trained-k-means/IVF path (the semantic-dedup scale path)
only had warm refit. ``similarity.ivf_index_views`` closes that: the
per-row assignment is a pure Column over PINNED literal centroids, the
cluster→members view is maintained by the IncrementalEngine, and
``probe_ivf_index`` serves ANN queries from index rows. Conformance:
the maintained index must agree with the batch assignment after every
create/update/delete, and the probe must reproduce
``ivf_probe_search`` / ``ivf_probe_search_multi``.
"""

import math

import pytest
from pyspark.sql import functions as F

from qvarn_mr_spark.catalog import Catalog
from qvarn_mr_spark.functions import similarity
from qvarn_mr_spark.operators import (
    IncrementalEngine,
    ParquetStateStore,
    ViewEngine,
)
from qvarn_mr_spark.operators.incremental import notifications

DIM = 8


def vec(seed, flip=0.0):
    """Deterministic non-degenerate DIM-dim vectors."""
    v = [((seed * 31 + d * 7) % 13 - 6) / 6.0 + 0.01 for d in range(DIM)]
    if flip:
        v[0] += flip
    return v


#: Two pinned centroids — the kmeans_fit output contract.
CENTS = [(0, vec(1)), (1, vec(2))]


def _cos(a, b):
    d = 0.0
    for x, y in zip(a, b):
        d += x * y
    na = nb = 0.0
    for x in a:
        na += x * x
    for y in b:
        nb += y * y
    return round(d / (math.sqrt(na) * math.sqrt(nb)), 6)


def py_members(rows, cents=CENTS):
    """Independent Python oracle: nearest centroid by rounded cosine,
    ties to the ascending cluster id; members sorted."""
    out = {}
    for rid, v in rows:
        best = min((-_cos(v, cv), cid) for cid, cv in cents)
        out.setdefault(str(best[1]), []).append(rid)
    return {c: sorted(ids) for c, ids in out.items()}


def df_of(spark, rows):
    return spark.createDataFrame(rows, "id string, embedding array<float>")


def read_members(inc, name="ivf_members"):
    """Cluster → sorted member ids from the NORMALIZED index (one
    (_mr_key, struct(m_id, m_vec)) row per member)."""
    out = {}
    for r in inc.read(name).collect():
        out.setdefault(r["_mr_key"], []).append(r["_mr_value"]["m_id"])
    return {c: sorted(ids) for c, ids in out.items()}


def bootstrap_index(emb, cents, id_col="vec_id", vec_col="embedding"):
    """Batch-bootstrapped normalized index rows — the same shape the
    IncrementalEngine maintains (cluster key string, member struct)."""
    return emb.select(
        similarity.ivf_cluster_col(vec_col, cents).cast("string")
        .alias("_mr_key"),
        similarity.ivf_member_struct(id_col, vec_col).alias("_mr_value"))


def test_ivf_cluster_col_matches_batch_assign(spark, sf_dir):
    """The Column form must reproduce ivf_assign row for row on the
    real embeddings (same rounded cosine, same min_by tiebreak), and
    ivf_route_col's probe lists must nest (prefix property)."""
    from qvarn_mr_spark.catalog import load_tables
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    cents = [(r["vec_id"], list(r["c"])) for r in
             emb.filter(F.col("vec_id") % 100 == 0)
             .select("vec_id",
                     F.col("embedding").cast("array<double>").alias("c"))
             .collect()]
    col = emb.select("vec_id",
                     similarity.ivf_cluster_col("embedding", cents)
                     .alias("cluster_id"),
                     similarity.ivf_route_col("embedding", cents, 1)
                     .alias("r1"),
                     similarity.ivf_route_col("embedding", cents, 3)
                     .alias("r3"))
    batch = {r["vec_id"]: r["cluster_id"] for r in
             similarity.ivf_assign(emb, "vec_id", "embedding",
                                   F.col("vec_id") % 100 == 0).collect()}
    for r in col.collect():
        assert r["cluster_id"] == batch[r["vec_id"]]
        assert r["r1"] == r["r3"][:1]            # routes nest
        assert r["r1"][0] == r["cluster_id"]
        assert len(set(r["r3"])) == 3
    with pytest.raises(ValueError, match="empty"):
        similarity.ivf_cluster_col("embedding", [])


@pytest.mark.sweep
def test_ivf_index_maintains_through_cdc(spark, tmp_path):
    cat = Catalog(spark)
    rows = [("a", vec(1)), ("b", vec(2)), ("c", vec(5))]

    def set_source(rs):
        cat.register("emb", df_of(spark, rs))

    set_source(rows)
    eng = ViewEngine(cat, similarity.ivf_index_views(
        CENTS, "emb", "id", "embedding"), id_cols={"emb": "id"})
    inc = IncrementalEngine(eng, ParquetStateStore(spark,
                                                   str(tmp_path / "s")))
    inc.apply_changes(notifications(
        spark, [("emb", "created", i) for i, _ in rows]))
    assert read_members(inc) == py_members(rows)

    # CDC insert: the new vector lands in exactly one cluster
    rows = rows + [("d", vec(2, flip=0.05))]
    set_source(rows)
    inc.apply_changes(notifications(spark, [("emb", "created", "d")]))
    assert read_members(inc) == py_members(rows)

    # CDC update: "b" flips to (near) centroid 0's side; its old
    # cluster row must be vacated, the new one gains it
    rows = [("a", vec(1)), ("b", vec(1, flip=0.02)), ("c", vec(5)),
            ("d", vec(2, flip=0.05))]
    set_source(rows)
    inc.apply_changes(notifications(spark, [("emb", "updated", "b")]))
    assert read_members(inc) == py_members(rows)

    # CDC delete: "a" leaves its cluster everywhere
    rows = [r for r in rows if r[0] != "a"]
    set_source(rows)
    inc.apply_changes(notifications(spark, [("emb", "deleted", "a")]))
    assert read_members(inc) == py_members(rows)
    assert all("a" not in ms for ms in read_members(inc).values())

    # n_vecs bookkeeping (the algebraic stats view) matches member counts
    members = read_members(inc)
    stats = {r["_mr_key"]: r["n_vecs"]
             for r in inc.read("ivf_members__stats").collect()}
    assert stats == {c: len(ms) for c, ms in members.items()}


@pytest.mark.sweep
def test_probe_ivf_index_matches_batch_probe(spark, sf_dir):
    """On the real embeddings: the maintained-view probe equals the
    batch ivf_probe_search at nprobe=1 and ivf_probe_search_multi at
    nprobe=2; an out-of-corpus query still routes (Column-side) and
    returns k neighbors."""
    from qvarn_mr_spark.catalog import load_tables
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    cents = [(r["vec_id"], list(r["c"])) for r in
             emb.filter(F.col("vec_id") % 100 == 0)
             .select("vec_id",
                     F.col("embedding").cast("array<double>").alias("c"))
             .collect()]
    members = bootstrap_index(emb, cents)
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    got = similarity.probe_ivf_index(queries, members, cents,
                                     "vec_id", "embedding", k=3)
    want = similarity.ivf_probe_search(
        emb, "vec_id", "embedding", F.col("vec_id") % 100 == 0,
        F.col("vec_id") % 25 == 0, k=3)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    got2 = similarity.probe_ivf_index(queries, members, cents,
                                      "vec_id", "embedding", k=3,
                                      nprobe=2)
    want2 = similarity.ivf_probe_search_multi(
        emb, "vec_id", "embedding", F.col("vec_id") % 100 == 0,
        F.col("vec_id") % 25 == 0, k=3, nprobe=2)
    assert got2.exceptAll(want2).count() == 0
    assert want2.exceptAll(got2).count() == 0

    # out-of-corpus query: negative id, vector = a corpus vector + eps
    base = emb.filter(F.col("vec_id") == 7).collect()[0]["embedding"]
    oq = spark.createDataFrame(
        [(-1, [float(x) + 0.001 for x in base])],
        "vec_id long, embedding array<float>")
    hits = similarity.probe_ivf_index(oq, members, cents,
                                      "vec_id", "embedding", k=3).collect()
    assert len(hits) == 3
    assert hits[0]["n_id"] == 7 and hits[0]["cos_sim"] > 0.999


@pytest.mark.sweep
def test_ivf_index_via_streaming_maintainer(spark, tmp_path):
    """End-to-end streaming ANN upkeep: vector CRUD lands in a
    ResourceStore change feed; the StreamingMaintainer drives the IVF
    member view per micro-batch; probing a newly arrived vector
    surfaces its cluster neighbors."""
    from qvarn_mr_spark.sources import ResourceStore
    from qvarn_mr_spark.streaming import StreamingMaintainer

    class StoreCatalog(Catalog):
        def __init__(self, sp, rstore, types):
            super().__init__(sp)
            self.rstore, self.types = rstore, types

        def get(self, name):
            if name in self.types:
                return self.rstore.table(name)
            return super().get(name)

    rstore = ResourceStore(spark, str(tmp_path / "store"),
                           feed_dir=str(tmp_path / "feed"))
    cat = StoreCatalog(spark, rstore, {"emb"})
    eng = ViewEngine(cat, similarity.ivf_index_views(
        CENTS, "emb", "id", "embedding"),
        id_cols={"emb": "id"}, strict=False)
    inc = IncrementalEngine(eng, ParquetStateStore(
        spark, str(tmp_path / "state")))
    sm = StreamingMaintainer(inc, feed_dir=str(tmp_path / "feed"),
                             checkpoint_dir=str(tmp_path / "ckpt"))

    a_id, b_id = rstore.create_many(
        "emb", [{"embedding": vec(1)}, {"embedding": vec(2)}])
    sm.run_available()
    assert set(read_members(inc)) == {"0", "1"}

    # a near-copy of "a" streams in; probing just that vector finds it
    # in cluster 0 and never touches cluster 1's row
    n_id = rstore.create("emb", {"embedding": vec(1, flip=0.02)})
    sm.run_available()
    hits = similarity.probe_ivf_index(
        df_of(spark, [(n_id, vec(1, flip=0.02))]),
        inc.read("ivf_members"), CENTS, "id", "embedding", k=2)
    got = [(r["q_id"], r["n_id"]) for r in hits.collect()]
    assert (n_id, a_id) in got
    assert all(m != b_id for _, m in got)


def test_ivf_index_refit_version_resync(spark, tmp_path):
    """The periodic-refit contract: a warm kmeans refit feeds a NEW
    ivf_index_views fragment with version bumped; resync_changed()
    rebuilds the whole index under the new centroids (T7/T8 — version
    barrier + automatic full resync), after which CDC continues
    incrementally against the new partition."""
    cat = Catalog(spark)
    rows = [("a", vec(1)), ("b", vec(2)), ("c", vec(5)),
            ("d", vec(2, flip=0.05))]

    def set_source(rs):
        cat.register("emb", df_of(spark, rs))

    set_source(rows)
    eng = ViewEngine(cat, similarity.ivf_index_views(
        CENTS, "emb", "id", "embedding"), id_cols={"emb": "id"})
    inc = IncrementalEngine(eng, ParquetStateStore(spark,
                                                   str(tmp_path / "s")))
    inc.apply_changes(notifications(
        spark, [("emb", "created", i) for i, _ in rows]))
    assert read_members(inc) == py_members(rows)

    # refit: new centroid set (here pinned; in production
    # kmeans_fit(init_centroids=old) — the warm start), version 2
    new_cents = [(0, vec(5)), (1, vec(2))]
    eng.config.update(similarity.ivf_index_views(
        new_cents, "emb", "id", "embedding", version=2))
    changed = inc.resync_changed()
    assert changed                                # both views resynced
    assert read_members(inc) == py_members(rows, new_cents)

    # post-refit CDC stays incremental and correct
    rows = rows + [("e", vec(5, flip=0.03))]
    set_source(rows)
    inc.apply_changes(notifications(spark, [("emb", "created", "e")]))
    assert read_members(inc) == py_members(rows, new_cents)


def test_ivf_partitioned_layout_prunes_and_matches(spark, sf_dir,
                                                   tmp_path):
    """write_ivf_partitioned + probe_ivf_partitioned: the probe reads
    ONLY the probed clusters' files (inputFiles-pinned partition
    pruning) and returns exactly the batch ivf_probe_search answer for
    in-corpus queries at nprobe=1."""
    from qvarn_mr_spark.catalog import load_tables
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    cents = [(r["vec_id"], list(r["c"])) for r in
             emb.filter(F.col("vec_id") % 100 == 0)
             .select("vec_id",
                     F.col("embedding").cast("array<double>").alias("c"))
             .collect()]
    path = str(tmp_path / "ivf_corpus")
    similarity.write_ivf_partitioned(emb, path, cents,
                                     "vec_id", "embedding")

    queries = emb.filter(F.col("vec_id") == 30)   # one cluster probed
    got = similarity.probe_ivf_partitioned(spark, path, queries, cents,
                                           "vec_id", "embedding", k=3)
    want = similarity.ivf_probe_search(
        emb, "vec_id", "embedding", F.col("vec_id") % 100 == 0,
        F.col("vec_id") == 30, k=3)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    # pruning: the probe plan carries the literal cluster set as a
    # PARTITION filter (pruned before any file is read, not a post-scan
    # predicate) — inputFiles() can't show this (it reports the
    # relation's full index), the executed plan does
    from qvarn_mr_spark.plans import explain_str
    probed_cluster = similarity.ivf_assign(
        emb, "vec_id", "embedding", F.col("vec_id") % 100 == 0) \
        .filter(F.col("vec_id") == 30).collect()[0]["cluster_id"]
    txt = explain_str(similarity.probe_ivf_partitioned(
        spark, path, queries, cents, "vec_id", "embedding", k=3),
        "formatted")
    import re
    pf = [ln for ln in txt.splitlines() if "PartitionFilters" in ln]
    assert any(re.search(
        rf"cluster_id#\d+ (= {probed_cluster}\b|IN \(.*{probed_cluster})",
        ln) for ln in pf), pf

    # multi-probe over the layout equals the multi-probe batch form
    got2 = similarity.probe_ivf_partitioned(
        spark, path, emb.filter(F.col("vec_id") % 50 == 1), cents,
        "vec_id", "embedding", k=2, nprobe=2)
    want2 = similarity.ivf_probe_search_multi(
        emb, "vec_id", "embedding", F.col("vec_id") % 100 == 0,
        F.col("vec_id") % 50 == 1, k=2, nprobe=2)
    assert got2.exceptAll(want2).count() == 0
    assert want2.exceptAll(got2).count() == 0


@pytest.mark.sweep
def test_ivf_index_randomized_cdc_lifecycle(spark, tmp_path):
    """Seeded randomized CDC mix (create/update/delete in every batch)
    — the maintained IVF members view must equal the independent
    Python nearest-centroid oracle after EVERY batch, across a change
    mix no hand-written scenario covers (same discipline as
    tests/test_ivm_randomized.py; one fixed seed, breadth from
    sequence length)."""
    import random

    rng = random.Random(20260816)
    cat = Catalog(spark)
    state = {}                              # id -> vector
    next_id = [0]

    def sync():
        rows = sorted(state.items()) or [("_none_", vec(0))]
        cat.register("emb", df_of(spark, rows)
                     .filter(F.col("id") != "_none_"))

    cents = [(0, vec(1)), (1, vec(2)), (2, vec(5))]
    eng = inc = None
    for b in range(5):
        batch = []
        for _ in range(7):
            op = rng.choice(["create", "create", "update", "delete"])
            if op == "create" or not state:
                rid = f"v{next_id[0]}"; next_id[0] += 1
                state[rid] = vec(rng.randrange(1, 40),
                                 flip=rng.random() * 0.1)
                batch.append(("emb", "created", rid))
            elif op == "update":
                rid = rng.choice(sorted(state))
                state[rid] = vec(rng.randrange(1, 40),
                                 flip=rng.random() * 0.1)
                batch.append(("emb", "updated", rid))
            else:
                rid = rng.choice(sorted(state))
                del state[rid]
                batch.append(("emb", "deleted", rid))
        sync()
        if eng is None:
            eng = ViewEngine(cat, similarity.ivf_index_views(
                cents, "emb", "id", "embedding"), id_cols={"emb": "id"})
            inc = IncrementalEngine(eng, ParquetStateStore(
                spark, str(tmp_path / "s")))
        inc.apply_changes(notifications(spark, batch))
        assert read_members(inc) == py_members(
            sorted(state.items()), cents), f"diverged at batch {b}"


def test_write_ivf_partitioned_rebalance_invariance(spark, sf_dir,
                                                    tmp_path):
    """r13: the rebalance switch on write_ivf_partitioned is layout
    only — probe answers are identical with and without the clustering
    shuffle, and rebalance=True writes at most one file per non-empty
    cluster here (the tasks x nlist small-file shape collapsed)."""
    import os
    from qvarn_mr_spark.catalog import load_tables
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    cents = [(r["vec_id"], list(r["c"])) for r in
             emb.filter(F.col("vec_id") % 100 == 0)
             .select("vec_id",
                     F.col("embedding").cast("array<double>").alias("c"))
             .collect()]
    queries = emb.filter(F.col("vec_id") % 40 == 3)
    got = {}
    nfiles = {}
    for rb in (False, True):
        path = str(tmp_path / f"ivf_rb_{rb}")
        similarity.write_ivf_partitioned(
            emb.repartition(8), path, cents, "vec_id", "embedding",
            rebalance=rb)
        nfiles[rb] = sum(
            len([f for f in fs if f.endswith(".parquet")])
            for _, _, fs in os.walk(path))
        got[rb] = sorted(map(tuple, similarity.probe_ivf_partitioned(
            spark, path, queries, cents, "vec_id", "embedding",
            k=3).collect()))
    assert got[True] == got[False]
    n_clusters = len(cents)
    assert nfiles[True] <= n_clusters        # ~one file per cluster
    assert nfiles[False] > nfiles[True]      # 8 tasks x clusters before
