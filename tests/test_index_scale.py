"""Scale discipline of the NORMALIZED maintained indexes (VERDICT r10
items 1+2).

The maintained LSH/IVF index views hold one ``(bucket/cluster,
member)`` row per member — never a ``collect_set`` array — and the
bucketed state store commits a pure-insert CDC batch through an APPEND
fast path. These tests pin the two load-bearing claims:

1. **Dirty-batch cost scales with the delta, not the cluster** — a
   planted hot cluster (one cluster ≫ all others) receives small
   insert batches, and the rows physically written per commit equal
   the batch size, not the cluster population.
2. **The probe plan never touches the corpus table** — the IVF index
   rows carry the member vectors, so ``probe_ivf_index`` reads index
   files only, with the probed cluster set pushed into the parquet
   scan as a literal predicate.

Plus the store-level machinery they rest on: append-chain manifests,
chain-length compaction, and GC that respects chain closures.
"""

import pytest

import os

from pyspark.sql import functions as F

from qvarn_mr_spark.catalog import Catalog
from qvarn_mr_spark.functions import similarity
from qvarn_mr_spark.operators import IncrementalEngine, ViewEngine
from qvarn_mr_spark.operators.incremental import (
    BucketedParquetStateStore,
    notifications,
)

DIM = 8


def vec(seed, flip=0.0):
    v = [((seed * 31 + d * 7) % 13 - 6) / 6.0 + 0.01 for d in range(DIM)]
    if flip:
        v[0] += flip
    return v


#: Two pinned centroids; cluster "0" will be planted hot.
CENTS = [(0, vec(1)), (1, vec(2))]


def df_of(spark, rows):
    return spark.createDataFrame(rows, "id string, embedding array<float>")


def hot_rows(n_hot, n_cold, start=0):
    """n_hot vectors near centroid 0, n_cold near centroid 1."""
    rows = [(f"h{start + i}", vec(1, flip=0.001 * (i % 97 + 1)))
            for i in range(n_hot)]
    rows += [(f"c{start + i}", vec(2, flip=0.001 * (i % 97 + 1)))
             for i in range(n_cold)]
    return rows


def read_members(inc, name="ivf_members"):
    out = {}
    for r in inc.read(name).collect():
        out.setdefault(r["_mr_key"], []).append(r["_mr_value"]["m_id"])
    return {c: sorted(ids) for c, ids in out.items()}


def rows_written(spark, store_root, table, version):
    """Rows physically committed in ONE version directory of a table —
    the per-batch write cost the O(delta) claim is about."""
    path = os.path.join(store_root, table, f"v{version}")
    if not any(n.startswith("_bucket=") for n in os.listdir(path)):
        return 0
    return spark.read.parquet(path).count()


@pytest.mark.sweep
def test_hot_cluster_insert_commits_delta_not_cluster(spark, tmp_path):
    """Plant one hot cluster (200 members) vs one cold (5); apply
    insert-only CDC batches of 3 and 12 rows into the HOT cluster. The
    rows written per commit must equal the batch size — hot-cluster-
    population-independent (the append fast path) — and the maintained
    view must stay correct (including the algebraic stats counts)."""
    cat = Catalog(spark)
    state = dict(hot_rows(200, 5))

    def sync():
        cat.register("emb", df_of(spark, sorted(state.items())))

    sync()
    root = str(tmp_path / "s")
    eng = ViewEngine(cat, similarity.ivf_index_views(
        CENTS, "emb", "id", "embedding", index_name="hot_idx"),
        id_cols={"emb": "id"})
    inc = IncrementalEngine(eng, BucketedParquetStateStore(
        spark, root, buckets=4, retain=4))
    inc.resync_all()                                  # v1: full bootstrap
    n_boot = rows_written(spark, root, "hot_idx", 1)
    assert n_boot == 205

    def oracle():
        got = read_members(inc, "hot_idx")
        want = {}
        for rid in state:
            want.setdefault("0" if rid.startswith("h") else "1",
                            []).append(rid)
        return got == {c: sorted(v) for c, v in want.items()}

    # batch A: 3 inserts into the hot cluster → 3 rows committed, not 203
    for rid, v in hot_rows(3, 0, start=1000):
        state[rid] = v
    sync()
    inc.apply_changes(notifications(
        spark, [("emb", "created", f"h{1000 + i}") for i in range(3)]))
    assert rows_written(spark, root, "hot_idx", 2) == 3
    assert oracle()

    # batch B: 12 inserts → 12 rows committed (cost tracks the delta)
    for rid, v in hot_rows(12, 0, start=2000):
        state[rid] = v
    sync()
    inc.apply_changes(notifications(
        spark, [("emb", "created", f"h{2000 + i}") for i in range(12)]))
    assert rows_written(spark, root, "hot_idx", 3) == 12
    assert oracle()

    # stats view tracked algebraically (MERGE_ADD, no group rescan)
    stats = {r["_mr_key"]: r["n_vecs"]
             for r in inc.read("hot_idx__stats").collect()}
    assert stats == {"0": 215, "1": 5}

    # a DELETE falls back to the rewrite path and stays correct
    victim = "h0"
    del state[victim]
    sync()
    inc.apply_changes(notifications(spark, [("emb", "deleted", victim)]))
    assert oracle()
    stats = {r["_mr_key"]: r["n_vecs"]
             for r in inc.read("hot_idx__stats").collect()}
    assert stats == {"0": 214, "1": 5}

    # post-delete inserts re-enter the O(delta) append path
    state["h3000"] = vec(1, flip=0.003)
    sync()
    inc.apply_changes(notifications(spark, [("emb", "created", "h3000")]))
    last = inc.store.version("hot_idx")
    assert rows_written(spark, root, "hot_idx", last) == 1
    assert oracle()

    # and the index schema holds NO array column — no row can grow with
    # cluster size (the r10 collect_set hazard is structurally gone)
    from pyspark.sql.types import ArrayType
    schema = inc.read("hot_idx").schema
    for f in schema.fields:
        if f.name == "_mr_value":
            # the one array is the member's own fixed-dim vector
            assert {sf.name for sf in f.dataType.fields} == {"m_id",
                                                             "m_vec"}
        else:
            assert not isinstance(f.dataType, ArrayType), f.name


def test_probe_plan_reads_index_only_with_pushed_clusters(spark,
                                                          tmp_path):
    """probe_ivf_index against a store-backed index: every input file of
    the probe plan lives under the index table (the corpus parquet is
    never opened), and the probed cluster set is pushed into the scan
    as a literal _mr_key IN predicate (row-group pruning at the scan)."""
    corpus_path = str(tmp_path / "corpus")
    rows = hot_rows(40, 8)
    df_of(spark, rows).write.parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)

    cat = Catalog(spark)
    cat.register("emb", corpus)
    root = str(tmp_path / "s")
    eng = ViewEngine(cat, similarity.ivf_index_views(
        CENTS, "emb", "id", "embedding", index_name="ivf_members"),
        id_cols={"emb": "id"})
    inc = IncrementalEngine(eng, BucketedParquetStateStore(
        spark, root, buckets=4))
    inc.resync_all()

    queries = df_of(spark, [("q1", vec(2, flip=0.01))])
    probe = similarity.probe_ivf_index(
        queries, inc.read("ivf_members"), CENTS, "id", "embedding", k=3)

    files = probe.inputFiles()
    assert files, "probe plan should scan the stored index files"
    idx_root = os.path.join(root, "ivf_members")
    assert all(f.split("://", 1)[-1].startswith(idx_root)
               for f in files), files
    assert not any(corpus_path in f for f in files)

    from qvarn_mr_spark.plans import explain_str
    txt = explain_str(probe, "formatted")
    pushed = [ln for ln in txt.splitlines() if "PushedFilters" in ln]
    assert any("In(_mr_key" in ln or "EqualTo(_mr_key" in ln
               for ln in pushed), pushed

    # and the answer is served correctly from the index rows' vectors:
    # the query routes to the cold cluster and gets k cold neighbors
    got = {(r["q_id"], r["n_id"]) for r in probe.collect()}
    assert len(got) == 3
    assert all(q == "q1" and n.startswith("c") for q, n in got)


def test_append_chains_compact_and_stay_readable(spark, tmp_path):
    """Store-level contract of the append fast path: chains extend on
    pure-insert commits, compact (full bucket rewrite) once
    ``compact_after`` owners accumulate, and reads are correct at every
    step — including after GC drops pre-chain versions."""
    store = BucketedParquetStateStore(
        spark, str(tmp_path / "s"), buckets=1, retain=2, compact_after=3)

    def frame(rows):
        return spark.createDataFrame(rows, "_mr_key string, v long")

    def keys(rows):
        return frame(rows).select("_mr_key")

    all_rows = [("k0", 0), ("k1", 1)]
    store.overwrite("t", frame(all_rows))             # v1: full write
    for step in range(2, 8):
        delta = [(f"k{step}", step)]
        all_rows = all_rows + delta
        store.overwrite("t", frame(all_rows), dirty_keys=keys(delta),
                        inserts=frame(delta))
        got = {(r["_mr_key"], r["v"]) for r in store.read("t").collect()}
        assert got == set(all_rows), f"diverged at v{step}"
    # chains never exceeded compact_after owners
    m = store._load_manifest("t", store.version("t"))
    assert all(len(vers) <= store.compact_after
               for vers in m["buckets"].values())
    # at least one compaction actually happened (chain reset observed):
    # with buckets=1 and 6 appends at compact_after=3, the single
    # bucket's chain must have been rewritten at least once
    assert len(m["buckets"]["0"]) < 7


def test_append_then_update_rewrites_and_stays_correct(spark, tmp_path):
    """A non-insert batch (update/delete) after appends must take the
    rewrite path over the FULL new table — rows living in appended
    files are rewritten or dropped correctly, not resurrected."""
    store = BucketedParquetStateStore(
        spark, str(tmp_path / "s"), buckets=2, retain=3, compact_after=8)

    def frame(rows):
        return spark.createDataFrame(rows, "_mr_key string, v long")

    store.overwrite("t", frame([("a", 1), ("b", 2)]))
    store.overwrite("t", frame([("a", 1), ("b", 2), ("c", 3)]),
                    dirty_keys=frame([("c", 3)]).select("_mr_key"),
                    inserts=frame([("c", 3)]))
    # update "c" (appended above) and delete "a" via plain dirty rewrite
    new = frame([("b", 2), ("c", 33)])
    store.overwrite("t", new,
                    dirty_keys=frame([("a", 0), ("c", 0)])
                    .select("_mr_key"))
    got = {(r["_mr_key"], r["v"]) for r in store.read("t").collect()}
    assert got == {("b", 2), ("c", 33)}


def test_lsh_probe_pushes_delta_keys_into_index_scan(spark, tmp_path):
    """r11: probing a store-backed LSH index pushes the delta's literal
    band keys into the parquet scan (row-group skipping — the
    probe_ivf_index discipline applied to the LSH family), and the
    pushed plan returns exactly the unpushed plan's candidates."""
    from qvarn_mr_spark.catalog import Catalog
    from qvarn_mr_spark.functions import dedup
    from qvarn_mr_spark.operators import IncrementalEngine, ViewEngine
    from qvarn_mr_spark.plans import explain_str

    BASE = ("the quick brown fox jumps over the lazy dog and runs "
            "far away")
    NEAR = BASE.replace("runs", "walks")
    rows = [("1", BASE), ("2", "a completely different document about "
                               "spark shuffles and broadcast joins "
                               "entirely")]
    cat = Catalog(spark)
    cat.register("doc", spark.createDataFrame(
        rows, "id string, text string"))
    eng = ViewEngine(cat, dedup.lsh_index_views("doc", "id", "text"),
                     id_cols={"doc": "id"})
    inc = IncrementalEngine(eng, BucketedParquetStateStore(
        spark, str(tmp_path / "s"), buckets=4))
    inc.resync_all()

    delta = spark.createDataFrame([("9", NEAR)],
                                  "id string, text string")
    pushed = dedup.probe_lsh_index(delta, inc.read("lsh_buckets"),
                                   "id", "text")
    txt = explain_str(pushed, "formatted")
    pf = [ln for ln in txt.splitlines() if "PushedFilters" in ln]
    assert any("In(_mr_key" in ln for ln in pf), pf

    plain = dedup.probe_lsh_index(delta, inc.read("lsh_buckets"),
                                  "id", "text", push_keys=None)
    want = {(r["probe_id"], r["member_id"], r["n_bands"])
            for r in plain.collect()}
    got = {(r["probe_id"], r["member_id"], r["n_bands"])
           for r in pushed.collect()}
    assert got == want and ("9", "1") in {(a, b) for a, b, _ in got}

    # over-bound deltas skip the push (no plan bloat) and still answer
    wide = dedup.probe_lsh_index(delta, inc.read("lsh_buckets"),
                                 "id", "text", push_keys=2)
    got2 = {(r["probe_id"], r["member_id"], r["n_bands"])
            for r in wide.collect()}
    assert got2 == want


def test_probe_ivf_store_prunes_bucket_directories(spark, tmp_path):
    """r11: serving a probe through store.read(table, keys=probed)
    lists ONLY the probed clusters' bucket directories (manifest-level
    file pruning — the maintained-view twin of the partitioned layout's
    PartitionFilters), answers identically to the full-read probe, and
    degrades gracefully on a base store that ignores the hint."""
    from qvarn_mr_spark.operators import ParquetStateStore

    cat = Catalog(spark)
    cat.register("emb", df_of(spark, hot_rows(60, 40)))
    root = str(tmp_path / "s")
    eng = ViewEngine(cat, similarity.ivf_index_views(
        CENTS, "emb", "id", "embedding", index_name="ivf_members"),
        id_cols={"emb": "id"})
    store = BucketedParquetStateStore(spark, root, buckets=8)
    inc = IncrementalEngine(eng, store)
    inc.resync_all()

    queries = df_of(spark, [("q1", vec(2, flip=0.01)),
                            ("q2", vec(2, flip=0.02))])
    pruned = similarity.probe_ivf_store(
        queries, store, "ivf_members", CENTS, "id", "embedding", k=4)
    full = similarity.probe_ivf_index(
        queries, inc.read("ivf_members"), CENTS, "id", "embedding", k=4)
    want = {tuple(r) for r in full.collect()}
    assert {tuple(r) for r in pruned.collect()} == want and want

    # fewer bucket directories listed: the pruned plan's file set is a
    # strict subset of the full read's (both clusters hash to ≤2 of the
    # 8 buckets; the bootstrap wrote rows into more)
    fset = set(inc.read("ivf_members").inputFiles())
    pset = set(pruned.inputFiles())
    assert pset < fset, (len(pset), len(fset))

    # the engine passthrough serves the same pruned read
    via_engine = similarity.probe_ivf_store(
        queries, inc, "ivf_members", CENTS, "id", "embedding", k=4)
    assert {tuple(r) for r in via_engine.collect()} == want

    # a base (non-bucketed) store ignores the hint but still answers
    base = ParquetStateStore(spark, str(tmp_path / "plain"))
    base.overwrite("ivf_members", inc.read("ivf_members"))
    degraded = similarity.probe_ivf_store(
        queries, base, "ivf_members", CENTS, "id", "embedding", k=4)
    assert {tuple(r) for r in degraded.collect()} == want


def test_probe_ranking_is_two_phase_bounded(spark, tmp_path):
    """r12 (VERDICT r11 #1): every ANN probe path ranks candidates in
    TWO phases — local top-k per (q_id, salt-of-n_id) shard, then a
    global top-k over the ≤ salt·k survivors — so no single task ever
    sorts a hot cluster's full membership. Pinned on a planted hot
    cluster: (a) each probe plan's candidate-sized window partitions by
    (q_id, _salt); only the bounded survivor window partitions by q_id
    alone; (b) the output row set equals the naive single-window
    ranking, rank column included."""
    from pyspark.sql import Window

    from qvarn_mr_spark.plans import explain_str

    corpus_rows = hot_rows(200, 5)
    corpus = df_of(spark, corpus_rows)
    cat = Catalog(spark)
    cat.register("emb", corpus)
    root = str(tmp_path / "s")
    store = BucketedParquetStateStore(spark, root, buckets=4)
    inc = IncrementalEngine(
        ViewEngine(cat, similarity.ivf_index_views(
            CENTS, "emb", "id", "embedding", index_name="ivf_members"),
            id_cols={"emb": "id"}),
        store)
    inc.resync_all()

    layout = str(tmp_path / "part")
    similarity.write_ivf_partitioned(corpus, layout, CENTS,
                                     "id", "embedding")
    queries = df_of(spark, [("q1", vec(1, flip=0.01)),
                            ("q2", vec(1, flip=0.02))])  # both → hot

    def naive(scored_k):
        """Single-window reference ranking over a probe's candidates."""
        df, k = scored_k
        w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"),
                                               F.asc("n_id"))
        return {tuple(r) for r in
                df.drop("rn").withColumn(
                    "rn", F.row_number().over(w))
                .filter(F.col("rn") <= k)
                .select("q_id", "n_id", "cos_sim", "rn").collect()}

    probes = {
        "probe_search": similarity.ivf_probe_search(
            corpus, "id", "embedding",
            F.col("id").isin(["h1", "c1"]),
            F.col("id") == "h0", k=5),
        "ivf_index": similarity.probe_ivf_index(
            queries, inc.read("ivf_members"), CENTS,
            "id", "embedding", k=5),
        "ivf_store": similarity.probe_ivf_store(
            queries, store, "ivf_members", CENTS, "id", "embedding",
            k=5),
        "partitioned": similarity.probe_ivf_partitioned(
            spark, layout, queries, CENTS, "id", "embedding", k=5),
        "multi": similarity.ivf_probe_search_multi(
            corpus, "id", "embedding", F.col("id").isin(["h1", "c1"]),
            F.col("id") == "h0", k=5, nprobe=2),
    }
    for name, probe in probes.items():
        txt = explain_str(probe, "formatted")
        salted = [ln for ln in txt.splitlines()
                  if "windowspecdefinition" in ln and "_salt" in ln]
        assert salted, (name, txt[:2000])
        # every probe output row set equals the naive global window's
        got = {tuple(r) for r in
               probe.select("q_id", "n_id", "cos_sim", "rn").collect()}
        assert got == naive((probe.select("q_id", "n_id", "cos_sim"),
                             5)), name
        assert got, name
        # and the hot cluster was actually probed (the fixture bites)
        assert any(n.startswith("h") for _, n, _, _ in got), name


def test_chain_read_schema_pinned_to_manifest(spark, tmp_path):
    """An owner chain mixes files WITH an optional column (the full
    write) and files WITHOUT it (a pure-append insert); reads must not
    depend on which file Spark samples for schema. The manifest's
    committed schema is applied to the whole chain: the column is
    always present and the appended rows read it as null."""
    store = BucketedParquetStateStore(
        spark, str(tmp_path / "s"), buckets=1, retain=4, compact_after=8)

    full = "_mr_key string, v long, note string"
    v1 = spark.createDataFrame([("a", 1, "x"), ("b", 2, "y")], full)
    store.overwrite("t", v1)

    # pure-append commit whose insert files LACK the note column
    ins = spark.createDataFrame([("c", 3)], "_mr_key string, v long")
    v2 = v1.unionByName(ins, allowMissingColumns=True)
    store.overwrite("t", v2, dirty_keys=ins.select("_mr_key"),
                    inserts=ins)

    got = store.read("t")
    assert set(got.columns) == {"_mr_key", "v", "note"}
    rows = {(r["_mr_key"], r["v"], r["note"]) for r in got.collect()}
    # the appended file had no column → deterministic null, never a
    # sampled-file accident
    assert rows == {("a", 1, "x"), ("b", 2, "y"), ("c", 3, None)}


def test_read_keys_on_pre_feature_manifest_and_push_keys_zero(
        spark, tmp_path):
    """r12 (VERDICT r11 #8): probe_lsh_index with push_keys=0 skips the
    literal-IN push entirely and still answers exactly. (Every bucketed
    manifest records its schema, so no read of a manifest without one
    is left to cover.)"""
    from qvarn_mr_spark.functions import dedup
    from qvarn_mr_spark.plans import explain_str

    # push_keys=0: never pushes, plans no literal IN, same answer
    cat = Catalog(spark)
    BASE = ("the quick brown fox jumps over the lazy dog and runs "
            "far away")
    cat.register("doc", spark.createDataFrame(
        [("1", BASE), ("2", "unrelated text about broadcast joins "
                            "and shuffle partitions entirely")],
        "id string, text string"))
    inc = IncrementalEngine(
        ViewEngine(cat, dedup.lsh_index_views("doc", "id", "text"),
                   id_cols={"doc": "id"}),
        BucketedParquetStateStore(spark, str(tmp_path / "l"), buckets=2))
    inc.resync_all()
    d = spark.createDataFrame([("9", BASE.replace("runs", "walks"))],
                              "id string, text string")
    plain = dedup.probe_lsh_index(d, inc.read("lsh_buckets"),
                                  "id", "text", push_keys=None)
    zero = dedup.probe_lsh_index(d, inc.read("lsh_buckets"),
                                 "id", "text", push_keys=0)
    assert "In(_mr_key" not in explain_str(zero, "formatted")
    want = {tuple(r) for r in plain.collect()}
    assert {tuple(r) for r in zero.collect()} == want and want


@pytest.mark.sweep
def test_probe_spanning_compaction_returns_pinned_answer(spark,
                                                         tmp_path):
    """r12 (VERDICT r11 #5): a probe PLAN built against one manifest and
    executed AFTER later commits — including a chain COMPACTION that
    rewrites the probed bucket's files into a new version directory —
    still returns the pinned manifest's answer: the manifest-closure GC
    keeps every retained manifest's files alive, so the serving reader
    never sees a torn index."""
    cat = Catalog(spark)
    state = dict(hot_rows(40, 6))

    def sync():
        cat.register("emb", df_of(spark, sorted(state.items())))

    sync()
    root = str(tmp_path / "s")
    store = BucketedParquetStateStore(spark, root, buckets=2, retain=4,
                                      compact_after=2)
    inc = IncrementalEngine(
        ViewEngine(cat, similarity.ivf_index_views(
            CENTS, "emb", "id", "embedding", index_name="ivf_members"),
            id_cols={"emb": "id"}),
        store)
    inc.resync_all()

    queries = df_of(spark, [("q1", vec(1, flip=0.01))])
    pinned = similarity.probe_ivf_store(
        queries, store, "ivf_members", CENTS, "id", "embedding", k=3)
    want = {tuple(r) for r in pinned.collect()}       # pre-churn answer
    assert want

    # churn: repeated insert-only batches — with compact_after=2 the
    # hot bucket's owner chain compacts (full bucket rewrite) en route
    v_before = store.version("ivf_members")
    for step in range(4):
        rid = f"h{9000 + step}"
        state[rid] = vec(1, flip=0.004 + step * 0.001)
        sync()
        inc.apply_changes(notifications(
            spark, [("emb", "created", rid)]))
    assert store.version("ivf_members") >= v_before + 4
    # compaction really happened: no chain ever exceeds compact_after
    m = store._load_manifest("ivf_members",
                             store.version("ivf_members"))
    assert all(len(vers) <= store.compact_after
               for vers in m["buckets"].values())
    # the pinned plan answers IDENTICALLY across the commits+compaction
    assert {tuple(r) for r in pinned.collect()} == want
    # while a FRESH probe sees the churned corpus (new members rank in)
    fresh = similarity.probe_ivf_store(
        queries, store, "ivf_members", CENTS, "id", "embedding", k=50)
    fresh_ids = {r["n_id"] for r in fresh.collect()}
    assert "h9000" in fresh_ids
