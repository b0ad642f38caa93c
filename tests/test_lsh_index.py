"""Maintained LSH dedup index — streaming near-dup detection.

The batch pipeline (minhash_candidates) rescans the corpus; the
maintained view (lsh_index_views + IncrementalEngine) pays O(delta) per
CDC batch and probe_lsh_index answers "what does this new doc collide
with" against bucket rows only. Conformance: the maintained index must
agree with the batch pipeline after every create/update/delete.
"""

import pytest
from pyspark.sql import functions as F

from qvarn_mr_spark.catalog import Catalog
from qvarn_mr_spark.functions import dedup
from qvarn_mr_spark.operators import (
    IncrementalEngine,
    ParquetStateStore,
    ViewEngine,
)
from qvarn_mr_spark.operators.incremental import notifications

BASE = "the quick brown fox jumps over the lazy dog and runs far away"
NEAR = BASE.replace("runs", "walks")
OTHER = ("completely different text about spark dataframes shuffles "
         "broadcast joins and adaptive execution")
THIRD = "short unrelated words nothing shared with any other document here"


def _df(spark, rows):
    return spark.createDataFrame(rows, "id string, text string")


def test_band_keys_col_matches_signatures(spark):
    """The per-row Column form must reproduce minhash_signatures exactly
    (same seeds/slices/band concat) with the band position prefixed."""
    df = _df(spark, [("a", BASE), ("b", NEAR), ("c", OTHER), ("d", "x y")])
    sigs = {r["doc_id"]: [r[f"band_{b}"] for b in range(dedup.MINHASH_BANDS)]
            for r in dedup.minhash_signatures(df, "id", "text").collect()}
    keys = {r["id"]: r["k"] for r in df.select(
        "id", dedup.minhash_band_keys_col("text").alias("k")).collect()}
    # doc "d" is shorter than the shingle width: dropped by the signature
    # pipeline, empty key array here (no catch-all short-doc bucket)
    assert "d" not in sigs and keys["d"] == []
    for did, bands in sigs.items():
        assert keys[did] == [f"{b}|{s}" for b, s in enumerate(bands)]


def _norm_pairs(df, a="a_id", b="b_id"):
    return {(min(r[a], r[b]), max(r[a], r[b]), r["n_bands"])
            for r in df.collect()}


@pytest.mark.sweep
def test_lsh_index_maintains_through_cdc(spark, tmp_path):
    cat = Catalog(spark)
    rows = [("1", BASE), ("2", OTHER), ("3", THIRD)]

    def set_source(rs):
        cat.register("doc", _df(spark, rs))

    set_source(rows)
    eng = ViewEngine(cat, dedup.lsh_index_views("doc", "id", "text"),
                     id_cols={"doc": "id"})
    inc = IncrementalEngine(eng, ParquetStateStore(spark, str(tmp_path / "s")))
    inc.apply_changes(notifications(
        spark, [("doc", "created", i) for i, _ in rows]))

    def probe_all():
        return _norm_pairs(
            dedup.probe_lsh_index(_df(spark, rows), inc.read("lsh_buckets"),
                                  "id", "text"),
            "probe_id", "member_id")

    def batch():
        return _norm_pairs(dedup.minhash_candidates(_df(spark, rows),
                                                    "id", "text"))

    # no near-dups yet: both empty (and agreeing)
    assert probe_all() == batch() == set()

    # CDC insert of a near-dup: probing JUST the delta finds the pair
    rows = rows + [("4", NEAR)]
    set_source(rows)
    inc.apply_changes(notifications(spark, [("doc", "created", "4")]))
    delta_hits = dedup.probe_lsh_index(
        _df(spark, [("4", NEAR)]), inc.read("lsh_buckets"), "id", "text")
    got = {(r["probe_id"], r["member_id"]) for r in delta_hits.collect()}
    assert got == {("4", "1")}
    assert probe_all() == batch()

    # CDC update: doc 2 becomes an exact dup of BASE; old buckets must be
    # vacated (no stale candidates) and all-band collisions appear
    rows = [("1", BASE), ("2", BASE), ("3", THIRD), ("4", NEAR)]
    set_source(rows)
    inc.apply_changes(notifications(spark, [("doc", "updated", "2")]))
    assert probe_all() == batch()
    assert ("1", "2", dedup.MINHASH_BANDS) in probe_all()

    # CDC delete: doc 1 leaves every bucket; its pairs disappear
    rows = [r for r in rows if r[0] != "1"]
    set_source(rows)
    inc.apply_changes(notifications(spark, [("doc", "deleted", "1")]))
    assert probe_all() == batch()
    assert not any("1" in (a, b) for a, b, _ in probe_all())
    members = inc.read("lsh_buckets").select(
        F.col("_mr_value").alias("m")).collect()
    assert all(r["m"] != "1" for r in members)
    # stats view: algebraic per-bucket counts equal the stored row counts
    counts = {}
    for r in inc.read("lsh_buckets").collect():
        counts[r["_mr_key"]] = counts.get(r["_mr_key"], 0) + 1
    stats = {r["_mr_key"]: r["n_docs"]
             for r in inc.read("lsh_buckets__stats").collect()}
    assert stats == counts


def test_lsh_index_via_streaming_maintainer(spark, tmp_path):
    """End-to-end streaming dedup: document CRUD lands in a ResourceStore
    change feed; the StreamingMaintainer drives the LSH index view per
    micro-batch; probing a newly arrived doc surfaces its near-dup."""
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
    cat = StoreCatalog(spark, rstore, {"doc"})
    eng = ViewEngine(cat, dedup.lsh_index_views("doc", "id", "text"),
                     id_cols={"doc": "id"}, strict=False)
    inc = IncrementalEngine(eng, ParquetStateStore(
        spark, str(tmp_path / "state")))
    sm = StreamingMaintainer(inc, feed_dir=str(tmp_path / "feed"),
                             checkpoint_dir=str(tmp_path / "ckpt"))

    base_id, other_id = rstore.create_many(
        "doc", [{"text": BASE}, {"text": OTHER}])
    sm.run_available()
    buckets = inc.read("lsh_buckets")
    assert buckets.count() > 0

    # a near-dup streams in; probing just that doc finds the original
    near_id = rstore.create("doc", {"text": NEAR})
    sm.run_available()
    hits = dedup.probe_lsh_index(
        _df(spark, [(near_id, NEAR)]), inc.read("lsh_buckets"),
        "id", "text")
    got = {(r["probe_id"], r["member_id"]) for r in hits.collect()}
    assert (near_id, base_id) in got
    assert all(m != other_id for _, m in got)


@pytest.mark.sweep
def test_embedding_lsh_index_maintains_through_cdc(spark, tmp_path):
    """Embedding analogue: band keys computed per-row must equal the
    batch signature banding, and the maintained index must track vector
    upserts/deletes — identical vectors always collide on every band."""
    from qvarn_mr_spark.functions import similarity

    def vec(seed, flip=0):
        # deterministic 64-dim vectors; flip>0 perturbs one component
        v = [((seed * 31 + d * 7) % 13 - 6) / 6.0 for d in range(64)]
        if flip:
            v[0] += flip
        return v

    rows = [("a", vec(1)), ("b", vec(2)), ("c", vec(3))]

    def df_of(rs):
        return spark.createDataFrame(
            rs, "id string, embedding array<float>")

    # per-row band keys == banded batch signatures
    sigs = {r["vec_id"]: r["hp_sig"] for r in similarity.
            hyperplane_signatures(df_of(rows), "id", "embedding").collect()}
    keys = {r["id"]: r["k"] for r in df_of(rows).select(
        "id", similarity.embedding_band_keys_col("embedding")
        .alias("k")).collect()}
    for i, s in sigs.items():
        want = [f"{b}|{(s >> (8 * b)) % 256}" for b in range(4)]
        assert keys[i] == want

    cat = Catalog(spark)

    def set_source(rs):
        cat.register("emb", df_of(rs))

    set_source(rows)
    eng = ViewEngine(cat,
                     similarity.embedding_lsh_index_views(
                         "emb", "id", "embedding"),
                     id_cols={"emb": "id"})
    inc = IncrementalEngine(eng, ParquetStateStore(spark, str(tmp_path / "s")))
    inc.apply_changes(notifications(
        spark, [("emb", "created", i) for i, _ in rows]))

    # an exact duplicate of "a" streams in: every band collides, the
    # probe (with exact cosine verify) returns it at cos_sim == 1
    rows = rows + [("d", vec(1))]
    set_source(rows)
    inc.apply_changes(notifications(spark, [("emb", "created", "d")]))
    hits = similarity.probe_embedding_lsh_index(
        df_of([("d", vec(1))]), df_of(rows),
        inc.read("emb_lsh_buckets"), "id", "embedding", threshold=0.9)
    got = {(r["probe_id"], r["member_id"]): r["cos_sim"]
           for r in hits.collect()}
    assert got.get(("d", "a")) == 1.0

    # delete "a": its pairs disappear from the maintained index
    rows = [r for r in rows if r[0] != "a"]
    set_source(rows)
    inc.apply_changes(notifications(spark, [("emb", "deleted", "a")]))
    members = inc.read("emb_lsh_buckets").select(
        F.col("_mr_value").alias("m")).collect()
    assert all(r["m"] != "a" for r in members)


@pytest.mark.sweep
def test_embedding_lsh_index_randomized_differential(spark, tmp_path):
    """Seeded randomized CRUD over an embedding corpus: after EVERY CDC
    batch, probing all live vectors against the MAINTAINED index must
    yield exactly the pair set of the batch ``hyperplane_near_dup``
    rebuilt from scratch — the embedding twin of
    test_ivm_randomized (VERDICT r4 #9). Clustered vectors guarantee
    both genuine near-dups and non-pairs at every step."""
    import random

    from qvarn_mr_spark.functions import similarity

    DIM, PLANES, BANDS, THRESH = 8, 16, 4, 0.8
    rng = random.Random(20260814)
    centers = [[rng.uniform(-1, 1) for _ in range(DIM)] for _ in range(3)]

    def vec():
        c = rng.choice(centers)
        return [x + rng.uniform(-0.05, 0.05) for x in c]

    cat = Catalog(spark)
    state: dict[str, list] = {}
    next_id = [0]

    def df_of():
        rows = [(i, v) for i, v in sorted(state.items())]
        return spark.createDataFrame(rows or [("_none_", [0.0] * DIM)],
                                     "id string, embedding array<double>") \
            .filter(F.col("id") != "_none_")

    eng = None
    inc = None
    saw_pairs = False
    for b in range(5):
        batch = []
        for _ in range(6):
            op = rng.choice(["create", "create", "update", "delete"])
            if op == "create" or not state:
                rid = f"v{next_id[0]}"; next_id[0] += 1
                state[rid] = vec()
                batch.append(("emb", "created", rid))
            elif op == "update":
                rid = rng.choice(sorted(state))
                state[rid] = vec()
                batch.append(("emb", "updated", rid))
            else:
                rid = rng.choice(sorted(state))
                del state[rid]
                batch.append(("emb", "deleted", rid))
        cat.register("emb", df_of())
        if eng is None:
            eng = ViewEngine(cat, similarity.embedding_lsh_index_views(
                "emb", "id", "embedding", planes=PLANES, bands=BANDS,
                dim=DIM), id_cols={"emb": "id"})
            inc = IncrementalEngine(
                eng, ParquetStateStore(spark, str(tmp_path / "s")))
        inc.apply_changes(notifications(spark, batch))

        probed = similarity.probe_embedding_lsh_index(
            df_of(), df_of(), inc.read("emb_lsh_buckets"),
            "id", "embedding", threshold=THRESH,
            planes=PLANES, bands=BANDS, dim=DIM)
        got = {(min(r["probe_id"], r["member_id"]),
                max(r["probe_id"], r["member_id"]), r["cos_sim"])
               for r in probed.collect()}
        want = {(r["a_id"], r["b_id"], r["cos_sim"])
                for r in similarity.hyperplane_near_dup(
                    df_of(), "id", "embedding", threshold=THRESH,
                    planes=PLANES, bands=BANDS, dim=DIM).collect()}
        assert got == want, f"diverged at batch {b}"
        saw_pairs = saw_pairs or bool(want)
    assert saw_pairs, "seed produced no near-dups — test would be vacuous"


def test_merged_index_fragments_do_not_collide():
    """Composing the text and embedding LSH fragments for ONE source
    must yield four distinct views (two normalized member-row indexes,
    two stats reduces) — the stats names are derived from the unique
    index_name, so the merge can never silently drop a view."""
    from qvarn_mr_spark.functions import similarity
    views = {
        **dedup.lsh_index_views("docs", "id", "text",
                                index_name="text_buckets"),
        **similarity.embedding_lsh_index_views(
            "docs", "id", "emb", index_name="emb_buckets"),
    }
    assert len(views) == 4
    assert {"text_buckets", "emb_buckets",
            "text_buckets__stats", "emb_buckets__stats"} == set(views)
    # each stats view consumes ITS OWN index view, not the other's
    (text_src,) = views["text_buckets__stats"].keys()
    (emb_src,) = views["emb_buckets__stats"].keys()
    assert text_src == "text_buckets" and emb_src == "emb_buckets"


def test_lsh_gate_batch_modes(spark):
    """r13 (VERDICT r12 #7): the foreachBatch near-dup gate. NEAR
    shares bands with the indexed BASE doc (drop/flag), a doc whose
    only collisions are its own index entry survives, min_bands
    tightens the gate to the multi-band threshold, and mode='flag'
    keeps every row with a boolean verdict instead of dropping."""
    corpus = _df(spark, [("a", BASE), ("b", OTHER)])
    index = corpus.select(
        F.col("id").alias("_mr_value"),
        F.explode(dedup.minhash_band_keys_col("text")).alias("_mr_key"))
    batch = _df(spark, [("p1", NEAR),      # near-dup of indexed a
                        ("b", OTHER),      # self-collision only: kept
                        ("p2", THIRD)])    # novel: kept

    kept = sorted(r["id"] for r in dedup.lsh_gate_batch(
        batch, index, id_col="id").collect())
    assert kept == ["b", "p2"]

    flagged = {r["id"]: r["lsh_collided"] for r in dedup.lsh_gate_batch(
        batch, index, id_col="id", mode="flag").collect()}
    assert flagged == {"p1": True, "b": False, "p2": False}

    # NEAR vs BASE share some but not all bands: a threshold above the
    # shared count lets the near-dup through
    shared = dedup.probe_lsh_index(
        batch.filter(F.col("id") == "p1"), index, "id", "text"
    ).collect()
    n_shared = shared[0]["n_bands"] if shared else 0
    assert 0 < n_shared <= dedup.MINHASH_BANDS
    kept_hi = sorted(r["id"] for r in dedup.lsh_gate_batch(
        batch, index, id_col="id", min_bands=n_shared + 1).collect())
    assert kept_hi == ["b", "p1", "p2"]

    with pytest.raises(ValueError, match="unknown mode"):
        dedup.lsh_gate_batch(batch, index, id_col="id", mode="zap")
