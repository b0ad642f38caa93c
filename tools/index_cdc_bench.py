"""CDC-batch-apply microbench for the NORMALIZED maintained IVF index
(VERDICT r10 item 7): measures what an insert-only CDC batch COSTS
against a planted 100%-hot cluster, across corpus sizes and delta
sizes.

The planted regime is adversarial by construction: two pinned
centroids pointing the SAME direction (the second at 2×), so every
corpus vector ties on rounded cosine and the ascending-id tiebreak
sends ALL of them — and every delta row — into cluster 0. Under the
r10 collect_set representation each batch would re-aggregate that
entire cluster into one row; under the normalized representation +
append fast path the commit writes |delta| rows.

Two sweeps:
- corpus sweep: fixed 16-row delta at sf0.1 / sf0.3 / sf1 → apply
  seconds + rows committed should be ~flat in corpus size;
- delta sweep: 8 / 32 / 128-row deltas at sf0.1 → cost tracks the
  delta (rows committed == delta rows exactly);
- probe-under-churn sweeps: pinned probe wall time while a writer
  thread lands concurrent commits — once with insert-only batches
  (append fast path) and once (r13, VERDICT r12 #5) with an
  update/delete MIX per commit (bucket rewrites, chain compaction
  folds, manifest-closure GC — the expensive maintenance mode), with
  the pinned answer asserted byte-identical throughout and the final
  live membership asserted equal to the mutated catalog.

Writes INDEX_CDC_BENCH.json and prints the SCALE.md markdown rows.
Usage: python tools/index_cdc_bench.py [--runs N]
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from qvarn_mr_spark.catalog import Catalog, load_tables
from qvarn_mr_spark.functions import similarity
from qvarn_mr_spark.operators import IncrementalEngine, ViewEngine
from qvarn_mr_spark.operators.incremental import (
    BucketedParquetStateStore,
    notifications,
)
from qvarn_mr_spark.session import get_spark

SCALE_POINTS = (
    (0.1, "/root/testdata/sf0.1"),
    (0.3, ".scaledata/sf0.3"),
    (1.0, ".scaledata/sf1"),
)

DIM = 64


def fit_alpha(xs, ys):
    lx = [math.log(x) for x in xs]
    ly = [math.log(max(y, 1e-9)) for y in ys]
    n = len(lx)
    mx, my = sum(lx) / n, sum(ly) / n
    den = sum((x - mx) ** 2 for x in lx)
    return sum((x - mx) * (y - my) for x, y in zip(lx, ly)) / den


def measure(spark, d, delta_n, runs, tag):
    """Bootstrap the maintained index over the corpus at ``d`` (one
    resync, untimed), then time apply_changes of a ``delta_n``-row
    insert-only batch into the hot cluster. min-of-``runs`` (each run
    uses fresh ids so every batch is a true insert)."""
    emb = load_tables(spark, d, ["embeddings"])["embeddings"]
    base = emb.select(F.col("vec_id").cast("long").alias("id"),
                      F.col("embedding").cast("array<double>")
                      .alias("embedding"))
    v0 = [float(x) for x in
          base.filter(F.col("id") == 0).collect()[0]["embedding"]]
    # same-direction pair → rounded-cosine tie on EVERY vector →
    # ascending-id tiebreak: cluster 0 holds the whole corpus
    cents = [(0, v0), (1, [2.0 * x for x in v0])]

    root = os.path.join(".scaledata", f"cdc_bench_{tag}")
    import shutil
    shutil.rmtree(root, ignore_errors=True)

    extra = {"rows": []}

    class Cat(Catalog):
        def get(self, name):
            if name != "emb":
                return super().get(name)
            df = base
            if extra["rows"]:
                df = df.unionByName(spark.createDataFrame(
                    extra["rows"], "id long, embedding array<double>"))
            return df

    eng = ViewEngine(Cat(spark), similarity.ivf_index_views(
        cents, "emb", "id", "embedding", index_name="idx"),
        id_cols={"emb": "id"})
    store = BucketedParquetStateStore(spark, root, buckets=16, retain=3)
    inc = IncrementalEngine(eng, store)
    inc.resync_all()

    nxt = [10_000_000]
    attempts, committed = [], None
    for _ in range(runs):
        ids = list(range(nxt[0], nxt[0] + delta_n))
        nxt[0] += delta_n
        extra["rows"] += [(i, [x + (i % 97) * 1e-6 for x in v0])
                          for i in ids]
        batch = notifications(spark, [("emb", "created", str(i))
                                      for i in ids])
        t0 = time.time()
        inc.apply_changes(batch)
        attempts.append(time.time() - t0)
        v = store.version("idx")
        vd = os.path.join(root, "idx", f"v{v}")
        committed = (spark.read.parquet(vd).count()
                     if any(n.startswith("_bucket=")
                            for n in os.listdir(vd)) else 0)
    # sanity: the planted cluster really is 100% hot
    hot = {r["_mr_key"] for r in inc.read("idx")
           .select("_mr_key").distinct().collect()}
    assert hot == {"0"}, hot
    return round(min(attempts), 3), committed


def measure_probe_under_churn(spark, d, delta_n, runs, tag,
                              n_commits=6, mix=False):
    """The serving half (VERDICT r11 #5): bootstrap the maintained
    index, then time probe_ivf_store executions WHILE a writer thread
    lands CDC commits (+ chain compaction at compact_after=3) against
    the same table. The probe plan is pinned at the pre-churn manifest
    (retain covers the churn window — the fault-injection contract),
    so besides wall-time we assert the pinned answer is byte-identical
    on every execution.

    ``mix=False``: insert-only batches (append fast path — the cheap
    maintenance mode). ``mix=True`` (r13, VERDICT r12 #5): each batch
    is half inserts, a quarter UPDATES of live corpus ids and a
    quarter DELETES of (distinct) corpus ids — the expensive mode that
    exercises bucket rewrites, chain compaction folds and
    manifest-closure GC while the reader stays pinned; afterwards the
    live index membership is asserted equal to the mutated catalog."""
    import threading

    emb = load_tables(spark, d, ["embeddings"])["embeddings"]
    base = emb.select(F.col("vec_id").cast("long").alias("id"),
                      F.col("embedding").cast("array<double>")
                      .alias("embedding"))
    v0 = [float(x) for x in
          base.filter(F.col("id") == 0).collect()[0]["embedding"]]
    cents = [(0, v0), (1, [2.0 * x for x in v0])]

    root = os.path.join(".scaledata", f"cdc_probe_{tag}")
    import shutil
    shutil.rmtree(root, ignore_errors=True)

    extra = {"rows": [], "upd": {}, "del": set()}

    class Cat(Catalog):
        def get(self, name):
            if name != "emb":
                return super().get(name)
            df = base
            gone = set(extra["del"]) | set(extra["upd"])
            if gone:
                df = df.filter(~F.col("id").isin(sorted(gone)))
            if extra["upd"]:
                df = df.unionByName(spark.createDataFrame(
                    sorted(extra["upd"].items()),
                    "id long, embedding array<double>"))
            if extra["rows"]:
                df = df.unionByName(spark.createDataFrame(
                    extra["rows"], "id long, embedding array<double>"))
            return df

    eng = ViewEngine(Cat(spark), similarity.ivf_index_views(
        cents, "emb", "id", "embedding", index_name="idx"),
        id_cols={"emb": "id"})
    # retain must cover the whole churn window so the pinned probe's
    # manifest closure stays on disk (the documented reader contract)
    store = BucketedParquetStateStore(spark, root, buckets=16,
                                      retain=n_commits + 2,
                                      compact_after=3)
    inc = IncrementalEngine(eng, store)
    inc.resync_all()
    n_base = base.count()

    # disjoint per-commit update/delete targets drawn from REAL corpus
    # ids (never id 0 — the centroid source): updates from the low end,
    # deletes from the middle of the id range
    upd_n = delta_n // 4 if mix else 0
    del_n = delta_n // 4 if mix else 0
    ins_n = delta_n - upd_n - del_n
    upd_ids, del_ids = [], []
    if mix:
        need = n_commits * (upd_n + del_n)
        pool = [r["id"] for r in base.select("id")
                .filter(F.col("id") != 0).orderBy("id")
                .limit(2 * need).collect()]
        assert len(pool) >= need, (len(pool), need)
        upd_ids = pool[:n_commits * upd_n]
        del_ids = pool[n_commits * upd_n:need]

    queries = spark.createDataFrame(
        [(10_000_000 + i, [x + (1 + i) * 1e-5 for x in v0])
         for i in range(4)], "id long, embedding array<double>")
    probe = similarity.probe_ivf_store(
        queries, store, "idx", cents, "id", "embedding", k=8)
    want = {tuple(r) for r in probe.collect()}        # quiet baseline
    quiet = []
    for _ in range(runs):
        t0 = time.time()
        got = {tuple(r) for r in probe.collect()}
        quiet.append(time.time() - t0)
        assert got == want

    nxt = [20_000_000]

    def churn():
        for c in range(n_commits):
            ids = list(range(nxt[0], nxt[0] + ins_n))
            nxt[0] += ins_n
            extra["rows"] += [(i, [x + (i % 97) * 1e-6 for x in v0])
                              for i in ids]
            events = [("emb", "created", str(i)) for i in ids]
            for i in upd_ids[c * upd_n:(c + 1) * upd_n]:
                extra["upd"][i] = [x + (i % 89) * 1e-6 for x in v0]
                events.append(("emb", "updated", str(i)))
            for i in del_ids[c * del_n:(c + 1) * del_n]:
                extra["del"].add(i)
                events.append(("emb", "deleted", str(i)))
            inc.apply_changes(notifications(spark, events))

    churned, errs = [], []

    def run_churn():
        try:
            churn()
        except Exception as e:          # surface, don't swallow
            errs.append(e)

    w = threading.Thread(target=run_churn)
    w.start()
    # do-while: record at least one probe even if the churn thread
    # outruns the first is_alive() check (fast box / tiny scale) —
    # min(churned) must never see an empty list
    while True:
        t0 = time.time()
        got = {tuple(r) for r in probe.collect()}
        churned.append(time.time() - t0)
        assert got == want, "pinned probe diverged under churn"
        if not w.is_alive():
            break
    w.join()
    if errs:
        raise errs[0]
    # post-churn: the pinned plan still answers (GC closure held)
    assert {tuple(r) for r in probe.collect()} == want
    if mix:
        # conformance: after update/delete churn the index membership
        # equals the mutated catalog — deletes really removed their
        # ids, updates kept theirs
        live_ids = {r["m"] for r in inc.read("idx")
                    .select(F.col("_mr_value.m_id").alias("m"))
                    .collect()}
        want_ids = ({r["id"] for r in base.select("id").collect()}
                    - extra["del"]) | {i for i, _ in extra["rows"]}
        assert live_ids == want_ids, (
            len(live_ids), len(want_ids),
            sorted(live_ids ^ want_ids)[:10])
    return (round(min(quiet), 3), round(min(churned), 3),
            len(churned))


def main():
    runs = 2
    if "--runs" in sys.argv:
        runs = int(sys.argv[sys.argv.index("--runs") + 1])
    spark = get_spark("qvarn-mr-index-cdc-bench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    corpus_sweep = {}
    for sf, d in SCALE_POINTS:
        t, rows = measure(spark, d, 16, runs, f"c{sf}")
        corpus_sweep[str(sf)] = {"apply_s": t, "rows_committed": rows}
        print(f"corpus sf{sf}: delta=16 apply={t}s committed={rows} rows",
              flush=True)

    delta_sweep = {}
    for dn in (8, 32, 128):
        t, rows = measure(spark, SCALE_POINTS[0][1], dn, runs, f"d{dn}")
        delta_sweep[str(dn)] = {"apply_s": t, "rows_committed": rows}
        print(f"delta {dn} @ sf0.1: apply={t}s committed={rows} rows",
              flush=True)

    probe_sweep = {}
    for sf, d in SCALE_POINTS:
        q, c, n = measure_probe_under_churn(spark, d, 16,
                                            max(runs, 2), f"p{sf}")
        probe_sweep[str(sf)] = {"probe_quiet_s": q,
                                "probe_under_churn_s": c,
                                "probes_during_churn": n}
        print(f"probe sf{sf}: quiet={q}s under-churn={c}s "
              f"({n} probes during 6 concurrent commits; pinned answer "
              f"identical throughout)", flush=True)

    mixed_sweep = {}
    for sf, d in SCALE_POINTS:
        q, c, n = measure_probe_under_churn(spark, d, 16,
                                            max(runs, 2), f"m{sf}",
                                            mix=True)
        mixed_sweep[str(sf)] = {"probe_quiet_s": q,
                                "probe_under_churn_s": c,
                                "probes_during_churn": n}
        print(f"probe sf{sf} MIXED churn (8 ins / 4 upd / 4 del per "
              f"commit): quiet={q}s under-churn={c}s ({n} probes "
              f"during 6 concurrent commits incl. delete rewrites "
              f"+ compaction; pinned answer identical throughout, "
              f"live membership == mutated catalog)", flush=True)

    sfs = [float(s) for s in corpus_sweep]
    a_corpus = fit_alpha(sfs, [corpus_sweep[str(s)]["apply_s"]
                               for s in sfs])
    dns = [int(s) for s in delta_sweep]
    a_delta = fit_alpha(dns, [delta_sweep[str(d)]["apply_s"]
                              for d in dns])
    a_probe = fit_alpha(sfs, [probe_sweep[str(s)]["probe_under_churn_s"]
                              for s in sfs])
    a_mixed = fit_alpha(sfs, [mixed_sweep[str(s)]["probe_under_churn_s"]
                              for s in sfs])
    out = {"runs_per_point": runs,
           "regime": "planted 100%-hot cluster; insert-only batches "
                     "plus an update/delete-mix churn sweep",
           "corpus_sweep_fixed_delta_16": corpus_sweep,
           "delta_sweep_at_sf0.1": delta_sweep,
           "probe_under_churn_sweep": probe_sweep,
           "probe_under_mixed_churn_sweep": mixed_sweep,
           "alpha_apply_vs_corpus": round(a_corpus, 3),
           "alpha_apply_vs_delta": round(a_delta, 3),
           "alpha_probe_churn_vs_corpus": round(a_probe, 3),
           "alpha_probe_mixed_churn_vs_corpus": round(a_mixed, 3)}
    with open("INDEX_CDC_BENCH.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: out[k] for k in
                      ("alpha_apply_vs_corpus", "alpha_apply_vs_delta")}))


if __name__ == "__main__":
    main()
