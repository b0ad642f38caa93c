"""Composed streaming corpus pipeline — the end-to-end artifact a real
curation user wants: an ingest stream runs through

  1. ``corpus_gate_stream``   (stateless quality/length gates + exact
                               first-seen fingerprint dedup, in-stream),
  2. a MAINTAINED text MinHash-LSH index     (``dedup.lsh_index_views``),
  3. a MAINTAINED embedding cosine-LSH index (``similarity.
                                              embedding_lsh_index_views``),

with 2+3 driven by ONE IncrementalEngine over ONE curated-corpus table
(the unique index_name-derived view names exist exactly for this
composition). Each stage is covered on its own elsewhere
(test_stateful_streaming, test_lsh_index); this test pins the
COMPOSITION: CDC batches flow through all three, and after every batch
the maintained indexes agree with batch rebuilds over the same
survivors (stream == batch), through creates AND a curation delete.

Scale shape: the gate is stateless Columns + watermark-boundable fp
state; each index update is O(delta) (changed docs re-map to ≤ n_bands
normalized member rows, pure inserts append) — nothing in the
composition ever rescans the corpus, which is what makes it a 100 TB
ingest design.
"""

import pytest

import glob
import shutil

from pyspark.sql import functions as F

from qvarn_mr_spark.catalog import Catalog
from qvarn_mr_spark.functions import dedup, similarity
from qvarn_mr_spark.functions.pipeline import corpus_gate_stream
from qvarn_mr_spark.operators import (
    IncrementalEngine,
    ParquetStateStore,
    ViewEngine,
)
from qvarn_mr_spark.operators.incremental import notifications

GOOD = ("the cat and the dog is in the house and it was the best "
        "of times for all of the people that it knew")
NEAR = GOOD + " today"                       # near-dup: high shingle overlap
OTHER = ("a man of the people is not a myth and the story was told "
         "for all of the times that it was needed")
THIRD = ("when the rain came down on the town the river rose and the "
         "bridge held for all of the years that it stood")

DIM, PLANES, BANDS, THRESH = 8, 16, 4, 0.8

#: embeddings: d1/d4 share a cluster (cosine ≈ 1 ≥ THRESH); d3/d6 sit in
#: orthogonal clusters (cosine ≈ 0); gated docs get junk vectors that
#: must never reach the index anyway
EMB = {
    "d1": [1.0, 0.05, 0.0, 0.0, 0.0, 0.0, 0.0, 0.02],
    "d2": [9.9, 9.9, 9.9, 9.9, 9.9, 9.9, 9.9, 9.9],
    "d3": [0.0, 1.0, 0.04, 0.0, 0.0, 0.0, 0.01, 0.0],
    "d4": [0.98, 0.06, 0.01, 0.0, 0.0, 0.0, 0.0, 0.01],
    "d5": [9.9, 9.9, 9.9, 9.9, 9.9, 9.9, 9.9, 9.9],
    "d6": [0.0, 0.0, 0.0, 1.0, 0.03, 0.0, 0.0, 0.02],
}


def _norm_pairs(df, a, b):
    return {(min(r[a], r[b]), max(r[a], r[b])) for r in df.collect()}


@pytest.mark.sweep
def test_composed_streaming_corpus_pipeline(spark, tmp_path):
    feed = tmp_path / "feed"
    feed.mkdir()

    def emit(name, rows):
        df = spark.createDataFrame(rows, "doc_id string, text string")
        df.coalesce(1).write.mode("overwrite") \
            .parquet(str(tmp_path / f"tmp_{name}"))
        for i, f in enumerate(glob.glob(
                str(tmp_path / f"tmp_{name}" / "*.parquet"))):
            shutil.move(f, str(feed / f"{name}-{i}.parquet"))

    # ---- stage 1: the streaming gate ---------------------------------
    arrived = []
    ck = str(tmp_path / "ck")

    def run_gate():
        stream = spark.readStream.schema("doc_id string, text string") \
            .parquet(str(feed))
        q = (corpus_gate_stream(stream, min_quality=0.3, min_tokens=5)
             .writeStream.outputMode("append")
             .foreachBatch(lambda b, _: arrived.extend(b.collect()))
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    # ---- stages 2+3: ONE engine, BOTH maintained indexes -------------
    cat = Catalog(spark)
    state: dict[str, str] = {}          # curated corpus: doc_id -> text
    engine = {"inc": None}

    def kept_df():
        rows = [(i, t, EMB[i]) for i, t in sorted(state.items())]
        return spark.createDataFrame(
            rows, "doc_id string, text string, emb array<double>")

    def apply_cdc(batch):
        cat.register("kept", kept_df())
        if engine["inc"] is None:
            views = {
                **dedup.lsh_index_views(
                    "kept", "doc_id", "text",
                    index_name="text_buckets"),
                **similarity.embedding_lsh_index_views(
                    "kept", "doc_id", "emb", planes=PLANES, bands=BANDS,
                    dim=DIM, index_name="emb_buckets"),
            }
            eng = ViewEngine(cat, views, id_cols={"kept": "doc_id"})
            engine["inc"] = IncrementalEngine(
                eng, ParquetStateStore(spark, str(tmp_path / "state")))
        engine["inc"].apply_changes(notifications(spark, batch))

    def ingest_survivors():
        """Drain the gate's output into the curated table + both indexes
        — the glue a production foreachBatch would run."""
        batch = []
        for r in arrived:
            if r["doc_id"] not in state:
                state[r["doc_id"]] = r["text"]
                batch.append(("kept", "created", r["doc_id"]))
        arrived.clear()
        apply_cdc(batch)

    def assert_stream_equals_batch():
        inc = engine["inc"]
        kept = kept_df()
        got_text = _norm_pairs(
            dedup.probe_lsh_index(kept, inc.read("text_buckets"),
                                  "doc_id", "text"),
            "probe_id", "member_id")
        want_text = _norm_pairs(
            dedup.minhash_candidates(kept, "doc_id", "text"),
            "a_id", "b_id")
        assert got_text == want_text
        got_emb = _norm_pairs(
            similarity.probe_embedding_lsh_index(
                kept, kept, inc.read("emb_buckets"), "doc_id", "emb",
                threshold=THRESH, planes=PLANES, bands=BANDS, dim=DIM),
            "probe_id", "member_id")
        want_emb = _norm_pairs(
            similarity.hyperplane_near_dup(
                kept, "doc_id", "emb", threshold=THRESH,
                planes=PLANES, bands=BANDS, dim=DIM),
            "a_id", "b_id")
        assert got_emb == want_emb
        return got_text, got_emb

    # ---- batch 1: seed docs; d2 is junk and must be gated ------------
    emit("b1", [("d1", GOOD), ("d2", "?? !! ?? !! ?? !!"), ("d3", OTHER)])
    run_gate()
    ingest_survivors()
    assert set(state) == {"d1", "d3"}
    t1, e1 = assert_stream_equals_batch()
    assert t1 == e1 == set()             # no near-dups yet, both agree

    # ---- batch 2: near-dup, exact-dup, and a fresh doc ---------------
    # d5 is an exact fp-duplicate of d1 (case/punct-normalized): the
    # GATE's first-seen dedup must drop it before any index sees it.
    emit("b2", [("d4", NEAR), ("d5", GOOD.upper() + "!!"), ("d6", THIRD)])
    run_gate()
    ingest_survivors()
    assert set(state) == {"d1", "d3", "d4", "d6"}
    t2, e2 = assert_stream_equals_batch()
    # the composed answer: d4 is caught as a near-dup of d1 by BOTH the
    # text index and the embedding index (non-vacuous on each path)
    assert ("d1", "d4") in t2
    assert ("d1", "d4") in e2
    # gated docs never leaked into any bucket
    members = engine["inc"].read("text_buckets").select(
        F.col("_mr_value").alias("m")).union(
        engine["inc"].read("emb_buckets").select(
            F.col("_mr_value").alias("m"))).collect()
    assert {r["m"] for r in members}.isdisjoint({"d2", "d5"})

    # ---- curation delete: d1 leaves the corpus via CDC ---------------
    del state["d1"]
    apply_cdc([("kept", "deleted", "d1")])
    t3, e3 = assert_stream_equals_batch()
    assert not any("d1" in p for p in t3 | e3)
    members = engine["inc"].read("text_buckets").select(
        F.col("_mr_value").alias("m")).union(
        engine["inc"].read("emb_buckets").select(
            F.col("_mr_value").alias("m"))).collect()
    assert all(r["m"] != "d1" for r in members)
