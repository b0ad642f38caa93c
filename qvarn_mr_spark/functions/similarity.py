"""Similarity search over embedding columns (``array<float>``).

The reference has no vector surface at all; this is the LLM-pipeline
extension (SURVEY.md §7 step 7). Design for 100 TB:

- **Brute-force top-k** is the correctness baseline: broadcast the (small)
  query set against the full corpus — a broadcast nested-loop the optimizer
  handles; per-row cost is one fused dot-product expression, JVM-side
  (``zip_with`` + ``aggregate``), no Python boundary.
- **IVF assignment** is the scale path: broadcast the centroid table, assign
  each vector to its nearest centroid in one narrow projection + window; at
  query time only the probed clusters are scanned (cluster id becomes a
  partition/Z-order key on the corpus table).

All arithmetic is done in ``double`` (float arrays are cast up front) with
sequential left-to-right accumulation — the same order DuckDB uses — so the
oracle comparison is stable to 1 ulp and far inside the round(…, 6) guard.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ over two array<double> columns, left-to-right."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity, total over zero-norm inputs: ``try_divide``
    yields NULL for the 0/0 case in BOTH ANSI (Spark 4 default, where a
    plain ``/`` would abort the whole job on one bad embedding row) and
    legacy mode (where ``/`` yields NULL anyway). Argmax/rank consumers
    must treat NULL as "undefined, always loses": the ``min_by`` sites
    filter it out, the window/top-k sites order it last. The Arrow twins
    instead pin zero vectors to norm 1 (score 0.0, deterministically
    loses ties) — both paths agree a zero vector never wins; only its
    emitted-vs-dropped fate differs, and only on contract-violating
    input (see :func:`_unit_rows`)."""
    return F.try_divide(dot(a, b),
                        F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def _as_double(df: DataFrame, vec_col: str) -> Column:
    return F.col(vec_col).cast("array<double>")


def _with_norm(df: DataFrame, vec: str, out: str) -> DataFrame:
    """Attach ``sqrt(dot(v, v))`` once per ROW, before pair expansion
    (r13, guide §1.2 "per-task work"): :func:`cosine` evaluates THREE
    interpreted higher-order dot products per candidate pair — the two
    norm dots depend only on one side each, so hoisting them into the
    pre-join projections cuts the per-pair expression work to one dot
    plus a multiply/divide (~3x less HOF evaluation on every scoring
    join). ``try_divide(dot, na*nb)`` is bit-identical to
    :func:`cosine`: the same doubles flow through the same operations
    in the same order, only computed once instead of per pair."""
    return df.withColumn(out, F.sqrt(dot(F.col(vec), F.col(vec))))


def _cos_pre(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """``round(cosine, 6)`` with both norms precomputed by
    :func:`_with_norm` — the pair-scoring form of :func:`cosine`, same
    NULL-on-zero-norm totality (0/0 -> NULL under ``try_divide``)."""
    return F.round(F.try_divide(dot(a, b), na * nb), 6)


def _py_norm(vec) -> float:
    """Driver-side ``sqrt(dot(v, v))`` of a literal vector: the
    sequential ``acc += x*x`` fold over Python floats (IEEE doubles)
    is bit-identical to the JVM ``aggregate`` fold — the same contract
    :func:`_ivf_score_structs` documents for literal centroid norms."""
    import math
    acc = 0.0
    for x in vec:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def _topk_per_query(scored: DataFrame, k: int, order_col: str = "cos_sim",
                    ascending: bool = False,
                    keys: tuple = ("q_id",)) -> DataFrame:
    """Per-query top-k WITHOUT a single-task candidate sort.

    The naive ``row_number() OVER (PARTITION BY q_id ORDER BY sim)``
    sends every candidate of a query to ONE task — at 100 TB a query
    probing a corpus/nlist-sized cluster sorts tens of millions of rows
    in that task, the serving family's weak point. Two-phase instead
    (``skew.topk_per_key``): local top-k per (q_id, salt-of-n_id) —
    the hot query's candidates spread over ``salt`` tasks — then top-k
    over the ≤ salt·k survivors. Deterministic (salts hash ``n_id``,
    never rand()), so the output row set equals the naive window's
    exactly; every probe oracle is unchanged. Appends ``rn`` 1..k."""
    from qvarn_mr_spark.operators.skew import topk_per_key
    return topk_per_key(scored, list(keys), order_col, k,
                        tiebreak=["n_id"], ascending=ascending)


def _unit_rows(m):
    """Row-normalize a matrix for the Arrow twins, with a zero-norm guard:
    an all-zero vector keeps norm 1, so it scores cosine 0.0 against
    everything and deterministically loses every argmax. Bare division
    would inject a NaN row whose ``np.argmax`` silently returns the first
    column — the JVM cosine yields NaN there too (0/0), so a zero vector
    is an input-contract violation on both paths; the guard keeps the
    Arrow side deterministic instead of argmax-on-NaN.

    Float caveat (shared by every Arrow twin): cosine is computed as
    normalize-then-matmul here but ``dot/(|a|·|b|)`` in the JVM/oracle
    forms — algebraically equal, so a similarity landing EXACTLY on a
    0.5e-6 rounding boundary could round differently between twins. The
    randomized differentials guard this; no boundary case has surfaced."""
    import numpy as np
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    return m / np.where(norms == 0.0, 1.0, norms)


def knn_bruteforce(df: DataFrame, id_col: str, vec_col: str,
                   query_filter: Column, k: int = 3) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``query_filter`` selects the query rows out of ``df``; every query is
    compared against the whole corpus (minus itself). Returns
    ``(q_id, n_id, cos_sim, rn)``, rank 1 = nearest. Ranking uses the
    *rounded* similarity with id tiebreak so it is reproducible across
    engines regardless of last-ulp noise.
    """
    from qvarn_mr_spark.functions.dedup import ensure_min_partitions
    q = _with_norm(df.filter(query_filter).select(
        F.col(id_col).alias("q_id"),
        _as_double(df, vec_col).alias("q_vec")), "q_vec", "_qn")
    # parallelism floor on the corpus side (r13): a single-file corpus
    # otherwise scores every (query, vector) pair in ONE scan task —
    # no-op at scale, where file count alone exceeds the floor
    c = _with_norm(ensure_min_partitions(df).select(
        F.col(id_col).alias("n_id"),
        _as_double(df, vec_col).alias("n_vec")), "n_vec", "_nn")
    scored = (
        F.broadcast(q).crossJoin(c)
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id",
                _cos_pre(F.col("q_vec"), F.col("n_vec"),
                         F.col("_qn"), F.col("_nn")).alias("cos_sim"))
    )
    return _topk_per_query(scored, k)


def hard_negatives(df: DataFrame, id_col: str, vec_col: str,
                   label_col: str, query_filter: Column,
                   k: int = 1) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the ``k`` most-cosine-similar corpus vectors carrying a
    DIFFERENT label — the near-misses a contrastive loss learns the most
    from. Returns ``(q_id, n_id, cos_sim, rn)``, rank 1 = hardest
    negative; ranking uses the rounded similarity with id tiebreak for
    cross-engine reproducibility.

    Scale shape: the query set is the small side (an eval batch / one
    training shard) and broadcasts; the corpus streams once per scan
    task with a fused JVM dot-product per pair. For mining over the FULL
    corpus as queries, route candidates through IVF first
    (:func:`nearest_neighbor_ivf` with the label predicate applied to
    the probed members) — same output on everything the probes reach."""
    from qvarn_mr_spark.functions.dedup import ensure_min_partitions
    q = _with_norm(df.filter(query_filter).select(
        F.col(id_col).alias("q_id"),
        F.col(label_col).alias("q_label"),
        _as_double(df, vec_col).alias("q_vec")), "q_vec", "_qn")
    c = _with_norm(ensure_min_partitions(df).select(
        F.col(id_col).alias("n_id"),
        F.col(label_col).alias("n_label"),
        _as_double(df, vec_col).alias("n_vec")), "n_vec", "_nn")
    scored = (
        F.broadcast(q).crossJoin(c)
        .filter(F.col("q_label") != F.col("n_label"))
        .select("q_id", "n_id",
                _cos_pre(F.col("q_vec"), F.col("n_vec"),
                         F.col("_qn"), F.col("_nn")).alias("cos_sim"))
    )
    return _topk_per_query(scored, k)


def ivf_assign_topn(df: DataFrame, id_col: str, vec_col: str,
                    centroid_filter: Column, nprobe: int = 1) -> DataFrame:
    """IVF routing: each vector's ``nprobe`` nearest centroids by cosine.

    Broadcast centroids × corpus (narrow per-vector scoring, one fused JVM
    dot product per centroid) → windowed top-n. Returns
    ``(vec_id, cluster_id, cos_sim, rn)`` with rn 1..nprobe; rn=1 is the
    vector's home cluster, rn>1 are the probe clusters a search visits to
    recover neighbors that fell across a Voronoi boundary. Ranking uses the
    *rounded* similarity with cluster-id tiebreak (engine-reproducible).
    """
    from qvarn_mr_spark.functions.dedup import ensure_min_partitions
    cent = _with_norm(df.filter(centroid_filter).select(
        F.col(id_col).alias("cluster_id"),
        _as_double(df, vec_col).alias("c_vec")), "c_vec", "_cn")
    v = _with_norm(ensure_min_partitions(df).select(
        F.col(id_col).alias("vec_id"),
        _as_double(df, vec_col).alias("v_vec")), "v_vec", "_vn")
    scored = v.crossJoin(F.broadcast(cent)).select(
        "vec_id", "cluster_id",
        _cos_pre(F.col("v_vec"), F.col("c_vec"),
                 F.col("_vn"), F.col("_cn")).alias("cos_sim"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_sim"),
                                             F.asc("cluster_id"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= nprobe))


def ivf_assign(df: DataFrame, id_col: str, vec_col: str,
               centroid_filter: Column) -> DataFrame:
    """IVF cluster assignment: nearest centroid by cosine.

    ``centroid_filter`` picks the centroid rows out of ``df`` (a real system
    would take k-means centroids; any deterministic representative set gives
    the same plan shape). Broadcast centroids × corpus → argmax. Returns
    ``(vec_id, cluster_id, cos_sim)`` — at scale this column becomes
    the corpus table's partition key, so an ANN probe scans only
    ``nprobe``/``nlist`` of the data.

    The argmax is a ``min_by`` hash aggregate, NOT the topn window:
    partial aggregation collapses the n×nlist scored stream map-side, so
    the shuffle carries one row per vector instead of nlist — and no sort.
    (``min_by`` over ``(-cos_sim, cluster_id)`` = highest similarity,
    smallest cluster id on ties — identical ordering to the window form,
    without assuming cluster ids are numeric.)
    """
    from qvarn_mr_spark.functions.dedup import ensure_min_partitions
    cent = _with_norm(df.filter(centroid_filter).select(
        F.col(id_col).alias("cluster_id"),
        _as_double(df, vec_col).alias("c_vec")), "c_vec", "_cn")
    v = _with_norm(ensure_min_partitions(df).select(
        F.col(id_col).alias("vec_id"),
        _as_double(df, vec_col).alias("v_vec")), "v_vec", "_vn")
    scored = v.crossJoin(F.broadcast(cent)).select(
        "vec_id", "cluster_id",
        _cos_pre(F.col("v_vec"), F.col("c_vec"),
                 F.col("_vn"), F.col("_cn")).alias("cos_sim"))
    # zero-norm guard, in the ORDERING not a pre-agg filter: a NULL
    # score (zero-norm centroid or vector, see cosine()) coalesces to
    # +inf so it loses every ascending comparison — a pre-agg
    # filter(cos_sim IS NOT NULL) pushes below the project into the
    # join condition and re-evaluates the whole interpreted cosine per
    # pair (measured ~1.5× on this family, r13 bench); the post-agg
    # filter below drops all-NULL vectors at one row per vec instead.
    return (scored.groupBy("vec_id")
            .agg(F.min_by(
                F.struct(F.col("cluster_id"), F.col("cos_sim")),
                F.struct(F.coalesce(-F.col("cos_sim"),
                                    F.lit(float("inf"))).alias("neg_sim"),
                         F.col("cluster_id"))).alias("_best"))
            .filter(F.col("_best.cos_sim").isNotNull())
            .select("vec_id", "_best.cluster_id", "_best.cos_sim"))


def ivf_assign_arrow(df: DataFrame, id_col: str, vec_col: str,
                     centroid_filter: Column) -> DataFrame:
    """Arrow/BLAS twin of :func:`ivf_assign` — identical output
    (differentially tested; it shares the plain form's DuckDB oracle),
    computed as one matmul per Arrow batch instead of nlist interpreted
    ``zip_with`` dot products per vector.

    The assignment pass is the CPU-heavy step of every IVF pipeline
    (n×nlist×dim multiply-adds): the JVM expression form evaluates each
    pair as O(dim) interpreted higher-order steps, this twin ships the
    normalized centroid matrix in the UDF closure (nlist-bounded by the
    same contract that lets :func:`ivf_assign` broadcast it) and scores
    a whole batch with one ``B @ C.T`` — measured ~6× faster at sf0.1
    (1.44 s → 0.23 s steady-state, identical 2,000-row output).

    Determinism: similarities round to 6 decimals BEFORE the argmax and
    centroids are pre-sorted by cluster_id, so ``argmax``'s
    first-occurrence rule reproduces the JVM ``min_by``'s
    (−cos_sim, cluster_id) tiebreak exactly. No shuffle at all — the
    argmax happens inside the batch, one output row per vector."""
    import numpy as np
    import pandas as pd

    from qvarn_mr_spark.session import ship_package
    ship_package(df.sparkSession)

    cent = df.filter(centroid_filter).select(
        F.col(id_col).alias("cluster_id"),
        _as_double(df, vec_col).alias("c_vec")).collect()
    cent.sort(key=lambda r: r["cluster_id"])
    c_ids = np.array([r["cluster_id"] for r in cent], dtype=np.int64)
    if cent:
        cm = np.array([r["c_vec"] for r in cent], dtype=np.float64)
        cm = _unit_rows(cm)
    else:
        cm = np.zeros((0, 1))

    out_schema = "vec_id long, cluster_id long, cos_sim double"

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0 or len(c_ids) == 0:
                continue
            ids = pdf["_vid"].to_numpy(dtype=np.int64)
            vm = np.stack(pdf["_vvec"].to_numpy())
            vm = _unit_rows(vm)
            sims = np.round(vm @ cm.T, 6)          # |batch| × nlist
            best = np.argmax(sims, axis=1)         # first max = min id
            yield pd.DataFrame({
                "vec_id": ids,
                "cluster_id": c_ids[best],
                "cos_sim": sims[np.arange(len(ids)), best]})

    v = df.select(F.col(id_col).cast("long").alias("_vid"),
                  _as_double(df, vec_col).alias("_vvec"))
    return v.mapInPandas(assign, out_schema)


def ivf_assign_topn_arrow(df: DataFrame, id_col: str, vec_col: str,
                          centroid_filter: Column,
                          nprobe: int = 1) -> DataFrame:
    """Arrow/BLAS twin of :func:`ivf_assign_topn` — same
    ``(vec_id, cluster_id, cos_sim, rn)`` output (stable argsort over
    rounded similarities with centroids pre-sorted by id reproduces the
    (−cos_sim, cluster_id) window order exactly), one matmul + one
    argsort per batch instead of nlist interpreted dot products per
    vector plus a per-vector window sort. This is the assignment stage
    :func:`nearest_neighbor_ivf` runs with ``arrow_assign=True``."""
    import numpy as np
    import pandas as pd

    from qvarn_mr_spark.session import ship_package
    ship_package(df.sparkSession)

    cent = df.filter(centroid_filter).select(
        F.col(id_col).alias("cluster_id"),
        _as_double(df, vec_col).alias("c_vec")).collect()
    cent.sort(key=lambda r: r["cluster_id"])
    c_ids = np.array([r["cluster_id"] for r in cent], dtype=np.int64)
    if cent:
        cm = np.array([r["c_vec"] for r in cent], dtype=np.float64)
        cm = _unit_rows(cm)
    else:
        cm = np.zeros((0, 1))
    k = min(nprobe, len(c_ids))

    out_schema = "vec_id long, cluster_id long, cos_sim double, rn int"

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0 or k == 0:
                continue
            ids = pdf["_vid"].to_numpy(dtype=np.int64)
            vm = np.stack(pdf["_vvec"].to_numpy())
            vm = _unit_rows(vm)
            sims = np.round(vm @ cm.T, 6)
            # stable sort on -sim: ties keep ascending centroid-id order
            order = np.argsort(-sims, axis=1, kind="stable")[:, :k]
            rows = np.repeat(np.arange(len(ids)), k)
            cols = order.ravel()
            yield pd.DataFrame({
                "vec_id": ids.repeat(k),
                "cluster_id": c_ids[cols],
                "cos_sim": sims[rows, cols],
                "rn": np.tile(np.arange(1, k + 1), len(ids))})

    v = df.select(F.col(id_col).cast("long").alias("_vid"),
                  _as_double(df, vec_col).alias("_vvec"))
    return v.mapInPandas(assign, out_schema)


def nearest_neighbor(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Every vector's single nearest neighbor (cosine) — the embedding
    near-dup primitive: a pair whose similarity exceeds a threshold is a
    candidate duplicate; emitting the argmax instead of thresholded pairs
    keeps the result non-degenerate on corpora with no near-dups.

    Brute-force all-pairs — the *correctness baseline only*: it broadcasts
    the whole corpus and scores n² pairs. The operator a pipeline should
    call at scale is :func:`nearest_neighbor_ivf`, which routes every vector
    through IVF clusters and scores only within-bucket candidates."""
    return knn_bruteforce(df, id_col, vec_col, F.lit(True), k=1)


def nearest_neighbor_ivf(df: DataFrame, id_col: str, vec_col: str,
                         centroid_filter: Column,
                         nprobe: int = 2,
                         arrow_assign: bool = False) -> DataFrame:
    """Every vector's nearest neighbor via IVF routing — the global near-dup
    operator that survives corpus scale.

    Shape (no all-pairs anywhere):

    1. one broadcast-centroid assignment pass scores every vector against
       the nlist centroids and keeps its top-``nprobe`` clusters
       (:func:`ivf_assign_topn`);
    2. rn=1 defines cluster *membership*, rn≤nprobe defines the clusters a
       vector *probes*;
    3. candidates = probes ⋈ members on ``cluster_id`` — a bucketed
       equi-join whose pair volume is Σ_c |c|·|probers(c)| ≈
       nprobe·n²/nlist, tunable via nlist, never the n² cross join;
    4. vectors are fetched back by id (equi shuffle joins — skinny candidate
       rows, vectors move once) and the argmax per query is kept.

    Recall < 1 when a true neighbor lives outside every probed cluster —
    the standard IVF trade; ``nprobe=nlist`` degenerates to exact
    brute-force coverage (tested differentially). Returns
    ``(q_id, n_id, cos_sim, rn)``, rn always 1, same shape as
    :func:`nearest_neighbor`.

    ``arrow_assign=True`` swaps step 1 for
    :func:`ivf_assign_topn_arrow` (one matmul per batch — identical
    assignment, differentially tested); steps 2-4 are unchanged.
    """
    assign_fn = ivf_assign_topn_arrow if arrow_assign else ivf_assign_topn
    assign = assign_fn(df, id_col, vec_col, centroid_filter,
                       nprobe=nprobe)
    probes = assign.select(F.col("vec_id").alias("q_id"), "cluster_id")
    members = assign.filter(F.col("rn") == 1).select(
        F.col("vec_id").alias("n_id"), "cluster_id")
    cand = (probes.join(members, "cluster_id")
            .filter(F.col("q_id") != F.col("n_id"))
            .select("q_id", "n_id"))
    qv = _with_norm(df.select(F.col(id_col).alias("q_id"),
                              _as_double(df, vec_col).alias("q_vec")),
                    "q_vec", "_qn")
    nv = _with_norm(df.select(F.col(id_col).alias("n_id"),
                              _as_double(df, vec_col).alias("n_vec")),
                    "n_vec", "_nn")
    scored = (cand.join(qv, "q_id").join(nv, "n_id")
              .select("q_id", "n_id",
                      _cos_pre(F.col("q_vec"), F.col("n_vec"),
                               F.col("_qn"), F.col("_nn"))
                      .alias("cos_sim")))
    # k=1: a partial-aggregating min_by instead of a per-query window —
    # the map side reduces each candidate partition to one row per query
    # before any shuffle, so no task ever sorts a cluster's full
    # membership (same shape as the Arrow twin's global phase below).
    # NULL cos_sim sorts FIRST in ascending struct comparison — it
    # would WIN the argmax. Coalesce it to +inf in the ORDERING (a
    # pre-agg filter would push into the join condition and double-
    # evaluate the interpreted cosine — r13 bench); all-NULL queries
    # drop at the post-agg filter below, one row each.
    return (scored.groupBy("q_id")
            .agg(F.min_by(F.struct(F.col("n_id"), F.col("cos_sim")),
                          F.struct(F.coalesce(-F.col("cos_sim"),
                                              F.lit(float("inf")))
                                   .alias("neg"),
                                   F.col("n_id"))).alias("_b"))
            .filter(F.col("_b.cos_sim").isNotNull())
            .select("q_id", F.col("_b.n_id"), F.col("_b.cos_sim"),
                    F.lit(1).alias("rn")))


def nearest_neighbor_ivf_arrow(df: DataFrame, id_col: str, vec_col: str,
                               centroid_filter: Column,
                               nprobe: int = 2,
                               max_cluster: int | None = None) -> DataFrame:
    """Fully-Arrow twin of :func:`nearest_neighbor_ivf` — identical
    output (differentially tested), with BOTH heavy stages vectorized:

    1. assignment = :func:`ivf_assign_topn_arrow` (one matmul per batch);
    2. candidate verify = a *cogrouped per-cluster matmul*: probers and
       members of each cluster meet in ``applyInPandas`` over the
       cluster cogroup, score as one ``Q @ M.T``, and emit only each
       query's per-cluster best — the shuffle out of the verify carries
       ≤ nprobe rows per query instead of the whole
       nprobe·n²/nlist candidate pair stream;
    3. the global per-query argmax is a skinny ``min_by`` aggregate over
       those ≤ nprobe rows (argmax is associative under the
       (−cos_sim, n_id) total order, so per-cluster-best-then-global
       equals the flat window exactly).

    Rounding to 6 decimals happens before every comparison, so the
    JVM form's tiebreaks reproduce bit-for-bit. Per-cluster state is
    |cluster|·dim doubles — bounded by n/nlist under balanced
    clustering (the same contract IVF itself relies on; a degenerate
    mega-cluster should raise nlist). ``max_cluster`` enforces that
    contract IN CODE (the explicit skew valve, mirroring
    ``dedup.minhash_candidates``): when set, a skinny membership-count
    aggregate runs first and any cluster larger than the cap aborts with
    a clear message BEFORE the per-cluster matmul could OOM an executor —
    the fix is more centroids (raise nlist) or the pair-stream JVM form
    :func:`nearest_neighbor_ivf`, whose verify never holds a cluster in
    memory. Returns ``(q_id, n_id, cos_sim, rn)``, rn always 1."""
    import numpy as np
    import pandas as pd

    from qvarn_mr_spark.session import ship_package
    ship_package(df.sparkSession)

    assign = ivf_assign_topn_arrow(df, id_col, vec_col, centroid_filter,
                                   nprobe=nprobe)
    if max_cluster is not None:
        over = (assign.filter(F.col("rn") == 1)
                .groupBy("cluster_id")
                .agg(F.count(F.lit(1)).alias("_m"))
                .filter(F.col("_m") > max_cluster)
                .limit(1).collect())
        if over:
            raise ValueError(
                f"IVF cluster {over[0]['cluster_id']} has {over[0]['_m']} "
                f"members > max_cluster={max_cluster}: degenerate "
                "clustering breaks the per-cluster-matmul memory contract "
                "(|cluster|*dim doubles per cogroup). Raise nlist / pick "
                "better-spread centroids, or use the pair-stream "
                "nearest_neighbor_ivf form, which streams candidates "
                "instead of holding a cluster in memory.")
    # distinct attribute names per side: probes and members share the
    # assign lineage, and identically-named keys trip the ambiguous-
    # self-join analyzer once both meet the vector table
    probes = (assign.select(F.col("vec_id").alias("q_id"),
                            F.col("cluster_id").alias("p_cluster"))
              .join(df.select(F.col(id_col).cast("long").alias("q_id"),
                              _as_double(df, vec_col).alias("q_vec")),
                    "q_id"))
    members = (assign.filter(F.col("rn") == 1)
               .select(F.col("vec_id").alias("n_id"),
                       F.col("cluster_id").alias("m_cluster"))
               .join(df.select(F.col(id_col).cast("long").alias("n_id"),
                               _as_double(df, vec_col).alias("n_vec")),
                     "n_id"))

    out_schema = "q_id long, n_id long, cos_sim double"

    def best_per_cluster(key, probe_pdf, member_pdf):
        if len(probe_pdf) == 0 or len(member_pdf) == 0:
            return pd.DataFrame({"q_id": [], "n_id": [], "cos_sim": []})
        q_ids = probe_pdf["q_id"].to_numpy(dtype=np.int64)
        n_ids = member_pdf["n_id"].to_numpy(dtype=np.int64)
        qm = np.stack(probe_pdf["q_vec"].to_numpy())
        nm = np.stack(member_pdf["n_vec"].to_numpy())
        qm = _unit_rows(qm)
        nm = _unit_rows(nm)
        # sort members by id so argmax's first-max rule = smallest-n_id
        # tiebreak, matching the JVM window's (desc sim, asc n_id)
        order = np.argsort(n_ids, kind="stable")
        n_ids, nm = n_ids[order], nm[order]
        sims = np.round(qm @ nm.T, 6)               # |probers| × |members|
        sims[q_ids[:, None] == n_ids[None, :]] = -np.inf   # exclude self
        best = np.argmax(sims, axis=1)
        best_sim = sims[np.arange(len(q_ids)), best]
        keep = best_sim > -np.inf                   # lone-self clusters out
        return pd.DataFrame({"q_id": q_ids[keep],
                             "n_id": n_ids[best][keep],
                             "cos_sim": best_sim[keep]})

    local = (probes.groupBy("p_cluster")
             .cogroup(members.groupBy("m_cluster"))
             .applyInPandas(best_per_cluster, out_schema))
    # _unit_rows keeps cos_sim finite here, but the global argmax shares
    # the JVM form's NULL-wins-min_by hazard — same nulls-out hardening.
    return (local.filter(F.col("cos_sim").isNotNull())
            .groupBy("q_id")
            .agg(F.min_by(F.struct(F.col("n_id"), F.col("cos_sim")),
                          F.struct((-F.col("cos_sim")).alias("neg"),
                                   F.col("n_id"))).alias("_b"))
            .filter(F.col("_b.cos_sim").isNotNull())
            .select("q_id", F.col("_b.n_id"), F.col("_b.cos_sim"),
                    F.lit(1).alias("rn")))


def ivf_probe_search(df: DataFrame, id_col: str, vec_col: str,
                     centroid_filter: Column, query_filter: Column,
                     k: int = 3) -> DataFrame:
    """ANN query path: route each query to its nearest centroid, then rank
    only vectors assigned to that cluster — the scan touches 1/nlist of the
    corpus (the IVF payoff; recall < 1 when the true neighbor lives in a
    different cluster, the standard trade).

    Returns ``(q_id, n_id, cos_sim, rn)`` like :func:`knn_bruteforce` but
    computed against the probed cluster only.
    """
    assign = ivf_assign(df, id_col, vec_col, centroid_filter) \
        .select(F.col("vec_id"), F.col("cluster_id"))
    return _probe_search(df, id_col, vec_col, assign, query_filter, k)


def kmeans_probe_search(df: DataFrame, id_col: str, vec_col: str,
                        init_filter: Column, query_filter: Column,
                        k: int = 3, iters: int = 2) -> DataFrame:
    """ANN serving under Lloyd-trained centroids — the end of the
    train → assign → serve story: :func:`kmeans_fit` learns the
    partition, :func:`kmeans_assign` keys the corpus by it, and this
    routes each query to its fitted cluster and ranks only there. Same
    probe plan as :func:`ivf_probe_search` (broadcast query routing,
    in-cluster scoring, per-query top-k window), but the cluster
    boundaries are trained rather than hash-seeded — at equal nlist the
    trained partition is what raises in-cluster recall."""
    assign = kmeans_assign(df, id_col, vec_col, init_filter, iters) \
        .select(F.col("vec_id"), F.col("cluster_id"))
    return _probe_search(df, id_col, vec_col, assign, query_filter, k)


def _probe_search(df: DataFrame, id_col: str, vec_col: str,
                  assign: DataFrame, query_filter: Column,
                  k: int) -> DataFrame:
    """Shared probe plan: route queries via ``assign``, rank in-cluster."""
    q_assign = (assign.join(df.filter(query_filter).select(
        F.col(id_col).alias("vec_id")), "vec_id", "left_semi")
        .select(F.col("vec_id").alias("q_id"),
                F.col("cluster_id").alias("q_cluster")))
    vecs = _with_norm(df.select(F.col(id_col).alias("n_id"),
                                _as_double(df, vec_col).alias("n_vec")),
                      "n_vec", "_nn")
    cluster_members = assign.select(F.col("vec_id").alias("n_id"),
                                    "cluster_id")
    qv = _with_norm(df.select(F.col(id_col).alias("q_id"),
                              _as_double(df, vec_col).alias("q_vec")),
                    "q_vec", "_qn")
    scored = (F.broadcast(q_assign).join(qv, "q_id")
              .join(cluster_members,
                    F.col("q_cluster") == cluster_members["cluster_id"])
              .join(vecs, "n_id")
              .filter(F.col("q_id") != F.col("n_id"))
              .select("q_id", "n_id",
                      _cos_pre(F.col("q_vec"), F.col("n_vec"),
                               F.col("_qn"), F.col("_nn"))
                      .alias("cos_sim")))
    return _topk_per_query(scored, k)


#: Random-hyperplane LSH defaults: 32 sign bits in 4 bands of 8 — a pair
#: must agree on all 8 bits of some band to become a candidate. Band width
#: sets the random-collision rate (1/2^width per band): 8-bit bands keep
#: the candidate stream at ~bands·n²/256 for uncorrelated vectors —
#: measured 15× fewer candidates than 4-bit bands on the synthetic corpus
#: — while a true near-dup at cosine 0.95 still collides with
#: P ≈ 1 − (1 − (1−θ/π)^8)^4 ≈ 0.9, and exact duplicates always do.
HYPERPLANES = 32
HYPERPLANE_BANDS = 4


def hyperplane_weights(planes: int = HYPERPLANES, dim: int = 64,
                       seed: str = "hp") -> list[list[float]]:
    """Deterministic pseudo-random hyperplane normals, md5-derived.

    Components are uniform in [-1, 1], rounded to 6 decimals so the same
    constants round-trip exactly through a SQL literal — the DuckDB oracle
    regenerates them from this very function (``oracle.py``), so the two
    engines cannot drift. No RNG state: reproducible across runs, sessions
    and engines (the same no-seed-state rule as functions/sampling.py).
    """
    import hashlib
    out = []
    for p in range(planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()
            u = int(h[:8], 16) / 0xFFFFFFFF
            row.append(round(u * 2.0 - 1.0, 6))
        out.append(row)
    return out


def hyperplane_signatures(df: DataFrame, id_col: str, vec_col: str,
                          planes: int = HYPERPLANES, dim: int = 64,
                          seed: str = "hp") -> DataFrame:
    """Cosine-LSH signature: bit p = sign(wₚ·x) over ``planes`` fixed
    random hyperplanes. P(bit agrees) = 1 − θ/π, so vectors at a small
    angle share most bits — the cosine analogue of MinHash-for-Jaccard.

    One narrow projection, JVM-side: each bit is a fused
    ``zip_with``/``aggregate`` dot product against a literal weight array;
    no shuffle, no Python. The dot is rounded to 6 decimals before the
    sign test so the bit is reproducible across engines (same guard as
    every other cross-engine float compare in this package).

    Returns ``(vec_id, hp_sig)`` with the signature packed into a long.
    """
    sig = hyperplane_sig_col(F.col(vec_col).cast("array<double>"),
                             planes, dim, seed)
    return df.select(F.col(id_col).alias("vec_id"), sig.alias("hp_sig"))


def hyperplane_sig_col(vec: Column, planes: int = HYPERPLANES,
                       dim: int = 64, seed: str = "hp") -> Column:
    """The signature of :func:`hyperplane_signatures` as a bare Column
    over an ``array<double>`` — per-row, no corpus shuffle, so one
    vector's signature is computable inside a maintained map view."""
    weights = hyperplane_weights(planes, dim, seed)
    sig = F.lit(0).cast("long")
    for p, row in enumerate(weights):
        # one array literal per plane (not 64 scalar F.lit py4j calls):
        # plan construction for 32 planes drops from ~2k JVM round trips
        # to 32, measured ~3s → sub-second construct at bench time
        w = F.lit(list(row))
        bit = F.when(F.round(dot(vec, w), 6) > 0, F.lit(2 ** p)) \
               .otherwise(F.lit(0)).cast("long")
        sig = sig + bit
    return sig


def embedding_band_keys_col(vec_col: Column | str,
                            planes: int = HYPERPLANES,
                            bands: int = HYPERPLANE_BANDS,
                            dim: int = 64, seed: str = "hp") -> Column:
    """Per-ROW cosine-LSH band-bucket keys (``array<string>``,
    ``"{band_pos}|{band_value}"``) — the embedding analogue of
    ``dedup.minhash_band_keys_col``: the whole signature+banding runs as
    one narrow Column expression, which is what lets the embedding LSH
    index live as a maintained view updated in O(delta) per CDC batch."""
    from qvarn_mr_spark.functions.dedup import expr_let

    v = (F.col(vec_col) if isinstance(vec_col, str) else vec_col) \
        .cast("array<double>")
    band_width = planes // bands

    def bands_from(sig: Column) -> Column:
        return F.array(*[
            F.concat_ws("|", F.lit(str(b)),
                        (F.floor(sig / F.lit(2 ** (band_width * b)))
                         % (2 ** band_width)).cast("long"))
            for b in range(bands)])

    # let-bind twice: the cast vector feeds `planes` dot products, and
    # the packed signature feeds every band's arithmetic — each would
    # otherwise re-evaluate per reference (see dedup.expr_let)
    return expr_let(
        v, lambda vv: expr_let(hyperplane_sig_col(vv, planes, dim, seed),
                               bands_from))


def embedding_lsh_index_views(source: str = "embeddings",
                              id_col: str = "vec_id",
                              vec_col: str = "embedding",
                              planes: int = HYPERPLANES,
                              bands: int = HYPERPLANE_BANDS,
                              dim: int = 64, seed: str = "hp",
                              index_name: str = "emb_lsh_buckets",
                              stats_name: str | None = None) -> dict:
    """ViewEngine config fragment for a MAINTAINED embedding near-dup
    index — same NORMALIZED IVM shape as ``dedup.lsh_index_views``
    (VERDICT r10 item 1): ``index_name`` is a map view with one
    ``(_mr_key = band_bucket, _mr_value = member_id)`` row per (vector,
    band); a CDC delta re-maps only changed vectors (delete-then-insert,
    O(delta)); a pure-insert batch commits via the bucketed store's
    append path. ``{index_name}__stats`` tracks per-bucket member counts
    algebraically (MERGE_ADD) — the hot-bucket observability valve.

    Member VECTORS are deliberately NOT carried in the rows (unlike
    :func:`ivf_index_views`): each vector appears in ``bands`` buckets,
    so inlining it would multiply vector storage by the band count. The
    probe (:func:`probe_embedding_lsh_index`) verifies candidates with
    one id-join into the corpus instead — at scale, point that join at
    an id-bucketed corpus table (``sources.writers.write_bucketed``) so
    it co-locates without a corpus-wide shuffle."""
    from qvarn_mr_spark.operators.mapreduce import (
        MERGE_ADD,
        map_expr,
        reduce_agg,
    )
    keys = embedding_band_keys_col(vec_col, planes, bands, dim, seed)
    sname = stats_name or f"{index_name}__stats"
    return {
        index_name: {source: map_expr(
            key=keys, value=F.col(id_col), explode_key=True)},
        sname: {index_name: reduce_agg(
            {"n_vecs": lambda c: F.count(F.lit(1))},
            merge={"n_vecs": MERGE_ADD})},
    }


def probe_embedding_lsh_index(delta: DataFrame, corpus: DataFrame,
                              index: DataFrame, id_col: str,
                              vec_col: str, threshold: float = 0.9,
                              planes: int = HYPERPLANES,
                              bands: int = HYPERPLANE_BANDS,
                              dim: int = 64, seed: str = "hp",
                              push_keys: int | None = 4096) -> DataFrame:
    """Near-dup hits for a (delta-sized) batch of vectors against a
    maintained embedding LSH index (normalized per-member rows): band
    keys equi-join the index rows to candidates, and each candidate is
    verified EXACTLY against the corpus vectors (cosine ≥ ``threshold``)
    — the same verify-after-bucket contract as the batch
    :func:`hyperplane_near_dup`. Returns ``(probe_id, member_id,
    cos_sim)``; cost O(delta · bucket) + one id-join into the corpus
    (id-bucket the corpus table at scale — see
    :func:`embedding_lsh_index_views`). ``push_keys`` prunes the index
    scan with the delta's literal band keys when they fit the bound —
    ``dedup.probe_lsh_index``'s contract, incl. the eager pinned
    collect at call time."""
    from qvarn_mr_spark.functions.dedup import (
        _push_probe_keys,
        ensure_min_partitions,
    )

    # spread the delta first — same single-file-delta hazard as
    # dedup.probe_lsh_index (the 32-dot-product key expression would
    # otherwise run on one task)
    keys = ensure_min_partitions(delta).select(
        F.col(id_col).alias("probe_id"),
        _as_double(delta, vec_col).alias("_p_vec"),
        F.sqrt(dot(_as_double(delta, vec_col),
                   _as_double(delta, vec_col))).alias("_pn"),
        F.explode(embedding_band_keys_col(vec_col, planes, bands, dim,
                                          seed)).alias("_mr_key"))
    members = index.select(
        "_mr_key", F.col("_mr_value").alias("member_id"))
    members, keys = _push_probe_keys(keys, members, push_keys)
    cand = (keys.join(members, "_mr_key")
            .filter(F.col("probe_id") != F.col("member_id"))
            .dropDuplicates(["probe_id", "member_id"]))
    mv = _with_norm(corpus.select(
        F.col(id_col).alias("member_id"),
        _as_double(corpus, vec_col).alias("_m_vec")), "_m_vec", "_mn")
    return (cand.join(mv, "member_id")
            .select("probe_id", "member_id",
                    _cos_pre(F.col("_p_vec"), F.col("_m_vec"),
                             F.col("_pn"), F.col("_mn"))
                    .alias("cos_sim"))
            .filter(F.col("cos_sim") >= threshold))


def _ivf_score_structs(vv: Column, nv: Column, cents) -> list:
    """One ``struct(ns=-cos_sim, c=cluster_id)`` Column per literal
    centroid — the shared argmin building block of the maintained-IVF
    family. ``ns`` is the NEGATED rounded similarity so struct ordering
    (min = highest sim, ties to the smallest cluster id) reproduces
    :func:`ivf_assign`'s ``min_by`` tiebreak exactly. Each centroid's
    norm is a Python-computed literal: the sequential ``acc += x*x``
    fold is bit-identical to the JVM ``aggregate`` fold the batch form
    runs, so the two paths round identically."""
    import math
    out = []
    for cid, cv in cents:
        acc = 0.0
        for x in cv:
            acc += x * x
        # try_divide + coalesce-to-+inf (r13 self-review — the same
        # hardening as cosine()/the min_by argmax sites): a zero-norm
        # centroid or row vector makes the quotient NULL instead of
        # aborting under ANSI, and +inf makes that struct LOSE every
        # ascending comparison instead of NULL sorting first and
        # winning the argmin
        sim = F.round(F.try_divide(
            dot(vv, F.array(*[F.lit(float(x)) for x in cv])),
            nv * F.lit(math.sqrt(acc))), 6)
        out.append(F.struct(
            F.coalesce(-sim, F.lit(float("inf"))).alias("ns"),
            F.lit(int(cid)).cast("long").alias("c")))
    return out


def _ivf_cents(centroids) -> list:
    cents = sorted((int(c), [float(x) for x in vec])
                   for c, vec in centroids)
    if not cents:
        raise ValueError("maintained IVF: empty centroid list")
    return cents


def ivf_cluster_col(vec_col, centroids, with_sim: bool = False) -> Column:
    """Per-row nearest-centroid assignment as ONE narrow Column over a
    PINNED literal centroid set — the map expression that lets the IVF
    cluster index live as a maintained view updated in O(delta) per CDC
    batch (:func:`ivf_index_views`), exactly as
    ``dedup.minhash_band_keys_col`` does for the LSH index.

    ``centroids`` is ``[(cluster_id, [val, ...]), ...]`` — a
    :func:`kmeans_fit` result (the rounded-literal contract) or any
    k-bounded list; the k·dim values inline into the expression the
    same way :func:`ivf_assign` broadcasts them. Output is the
    cluster_id (long), or ``struct(cluster_id, cos_sim)`` with
    ``with_sim``; similarities round to 6 before the argmax and ties
    break to the ascending cluster id, so the column reproduces
    :func:`ivf_assign` / :func:`kmeans_assign` row for row
    (conformance-pinned in tests/test_ivf_index.py).

    Practical nlist bound (measured, not guessed): the expression
    inlines k·dim literals and evaluates k interpreted dot products
    per row — fine for the DELTA path it exists for, and measured
    workable through nlist ≈ 1k (64/256/1024 centroids → 7.6/19.8/82 s
    over a 6k-row full rescan; task binaries reach ~5 MB at 1k). For
    nlist in the thousands, keep the per-row Column for CDC deltas but
    bootstrap/resync the full corpus through the batch
    :func:`ivf_assign_arrow` (one BLAS matmul per batch, same output
    by the shared tiebreak contract) — the engine only needs the
    Column for the rows a delta touches."""
    from qvarn_mr_spark.functions.dedup import expr_let

    cents = _ivf_cents(centroids)
    v = (F.col(vec_col) if isinstance(vec_col, str) else vec_col) \
        .cast("array<double>")

    def best_from(vv: Column) -> Column:
        def with_norm(nv: Column) -> Column:
            # drop undefined scores (ns = +inf, see _ivf_score_structs)
            # BEFORE the argmin: a zero-norm row vector then assigns to
            # NULL — the Column mirror of the batch argmax paths
            # dropping null-scored candidates (r13 self-review)
            scored = F.filter(
                F.array(*_ivf_score_structs(vv, nv, cents)),
                lambda s: s["ns"] != F.lit(float("inf")))
            best = F.array_min(scored)
            if not with_sim:
                return best["c"]
            return expr_let(best, lambda b: F.when(
                b.isNotNull(), F.struct(
                    b["c"].alias("cluster_id"),
                    (-b["ns"]).alias("cos_sim"))))
        return expr_let(F.sqrt(dot(vv, vv)), with_norm)

    return expr_let(v, best_from)


def ivf_route_col(vec_col, centroids, nprobe: int = 1) -> Column:
    """Multi-probe routing as a Column: the ``nprobe`` nearest centroid
    ids for this row's vector, nearest first (``array_sort`` over the
    same rounded-sim structs, sliced) — :func:`ivf_cluster_col`
    generalized to the probe side, nesting-consistent with
    :func:`ivf_assign_topn` (probe p's routes are a prefix of probe
    p+1's)."""
    from qvarn_mr_spark.functions.dedup import expr_let

    cents = _ivf_cents(centroids)
    v = (F.col(vec_col) if isinstance(vec_col, str) else vec_col) \
        .cast("array<double>")

    def routes_from(vv: Column) -> Column:
        def with_norm(nv: Column) -> Column:
            # undefined scores (ns = +inf) never route: a zero-norm
            # centroid drops out of every probe list and a zero-norm
            # row routes nowhere (empty array) — the batch paths'
            # null-candidate drop, in Column form (r13 self-review)
            ranked = F.filter(
                F.array_sort(F.array(*_ivf_score_structs(vv, nv, cents))),
                lambda s: s["ns"] != F.lit(float("inf")))
            return F.transform(F.slice(ranked, 1, int(nprobe)),
                               lambda s: s["c"])
        return expr_let(F.sqrt(dot(vv, vv)), with_norm)

    return expr_let(v, routes_from)


def ivf_member_struct(id_col: str, vec_col: str) -> Column:
    """The per-member payload of the normalized maintained IVF index:
    ``struct(m_id, m_vec)`` — the member id plus its (double-cast)
    vector. Carrying the vector IN the index row is what closes the
    probe-side fetch scan (VERDICT r10 item 2): each vector lives in
    exactly ONE cluster, so the index is corpus-sized (not multiplied),
    and a probe never joins back to the corpus table."""
    return F.struct(
        F.col(id_col).alias("m_id"),
        F.col(vec_col).cast("array<double>").alias("m_vec"))


def ivf_index_views(centroids, source: str = "embeddings",
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    index_name: str = "ivf_members",
                    stats_name: str | None = None,
                    version: int = 1) -> dict:
    """ViewEngine config fragment for a MAINTAINED IVF/k-means cluster
    index — the trained-ANN sibling of ``dedup.lsh_index_views`` /
    :func:`embedding_lsh_index_views`, in the NORMALIZED representation
    (VERDICT r10 item 1): ``index_name`` is a MAP view holding one row
    per member — ``(_mr_key = cluster_id, _mr_value = struct(m_id,
    m_vec))`` — assigned by :func:`ivf_cluster_col` (one narrow Column,
    no shuffle). There is no ``collect_set`` member array anywhere: no
    row ever exceeds one id + one vector, so a hot cluster holding 10⁷
    members is 10⁷ small rows across many files, never a single
    hundreds-of-MB aggregate row pressing Spark's 2 GB row limits.

    Upkeep is genuinely O(delta): the engine's map path (T2/T3)
    maintains the view by delete-then-insert of ONLY the changed
    members' rows — inserts append, deletes drop rows — and a
    pure-insert CDC batch commits through the bucketed store's append
    fast path (O(|delta|) files, hot-cluster-size-independent; pinned
    by tests/test_index_scale.py). The companion ``{index_name}__stats``
    view keeps per-cluster member counts as an ALGEBRAIC count
    (MERGE_ADD — insert-only deltas merge in O(delta)); it is the
    observability valve for hot clusters, the maintained-view analogue
    of ``dedup.minhash_candidates``' ``max_bucket`` discipline: alert
    or refit when ``max(n_vecs)`` drifts.

    ``centroids`` follows the :func:`kmeans_fit` contract (k-bounded
    literal list, components already rounded): the PERIODIC REFIT is
    ``kmeans_fit(..., init_centroids=old)`` (warm start, 1-2 rounds)
    feeding a NEW fragment with ``version`` bumped — the engine's
    version barrier then drives an automatic full resync (T7/T8),
    atomically swapping every assignment to the new partition while
    the old index keeps serving."""
    from qvarn_mr_spark.operators.mapreduce import (
        MERGE_ADD,
        map_expr,
        reduce_agg,
    )

    keys = ivf_cluster_col(vec_col, centroids)
    sname = stats_name or f"{index_name}__stats"
    return {
        index_name: {source: map_expr(
            key=keys, value=ivf_member_struct(id_col, vec_col),
            version=version)},
        sname: {index_name: reduce_agg(
            {"n_vecs": lambda c: F.count(F.lit(1))},
            merge={"n_vecs": MERGE_ADD}, version=version)},
    }


def probe_ivf_index(delta: DataFrame, index: DataFrame, centroids,
                    id_col: str, vec_col: str, k: int = 3,
                    nprobe: int = 1) -> DataFrame:
    """ANN top-k for a (delta-sized) batch of query vectors against a
    MAINTAINED IVF index (the normalized ``index_name`` table of
    :func:`ivf_index_views`, read via ``IncrementalEngine.read``):
    route each query to its ``nprobe`` nearest pinned centroids
    (:func:`ivf_route_col` — Column-side, so out-of-corpus queries
    route without any assignment join), then join the probed clusters'
    member ROWS and rank. The index rows carry the member vectors
    (:func:`ivf_member_struct`), so there is NO join back to the corpus
    table — the probe plan touches index files only (plan-pinned in
    tests/test_index_scale.py). Cost is O(delta · nprobe/nlist ·
    corpus), never a corpus rescan.

    NOTE the probe is eagerly routed at CALL time: the delta's probed
    cluster ids (≤ min(|delta|·nprobe, nlist) values — bounded by the
    centroid contract) are collected once from a pinned routes frame and
    pushed into the index scan as a literal ``_mr_key IN (...)``
    predicate, so parquet row-group statistics (and a cluster-partitioned
    layout, :func:`write_ivf_partitioned`) prune unprobed members before
    a byte is read.

    Returns ``(q_id, n_id, cos_sim, rn)`` — for in-corpus queries at
    ``nprobe=1`` identical to the batch :func:`ivf_probe_search`
    (same oracle), at higher nprobe to :func:`ivf_probe_search_multi`
    (conformance-pinned in tests/test_ivf_index.py)."""
    keys, probed = _ivf_probe_routes(delta, centroids, id_col, vec_col,
                                     nprobe)
    return _ivf_probe_score(keys, probed, index, k)


def _ivf_probe_routes(delta, centroids, id_col, vec_col, nprobe):
    """Shared probe routing: pin the delta's per-query routes and
    collect the probed cluster-id set (≤ min(|delta|·nprobe, nlist) —
    metadata-sized by the centroid contract). Returns the
    ``(q_id, _q_vec, _mr_key)`` keys frame + the sorted literal set."""
    from qvarn_mr_spark.functions.dedup import ensure_min_partitions
    from qvarn_mr_spark.session import serve_pin

    routes = serve_pin(ensure_min_partitions(delta).select(
        F.col(id_col).alias("q_id"),
        _as_double(delta, vec_col).alias("_q_vec"),
        F.sqrt(dot(_as_double(delta, vec_col),
                   _as_double(delta, vec_col))).alias("_qn"),
        F.explode(ivf_route_col(vec_col, centroids, nprobe))
        .alias("_c")))
    probed = sorted({str(r["_c"]) for r in
                     routes.select("_c").distinct().collect()})
    keys = routes.select(
        "q_id", "_q_vec", "_qn",
        F.col("_c").cast("string").alias("_mr_key"))
    return keys, probed


def _ivf_probe_score(keys: DataFrame, probed: list, index: DataFrame,
                     k: int) -> DataFrame:
    """Shared probe scoring over normalized index rows: filter to the
    probed clusters (literal IN — pushed to the scan), join, exact
    cosine against the index-carried vectors, per-query top-k."""
    m = _with_norm(
        index.filter(F.col("_mr_key").isin(probed))
        .select("_mr_key", F.col("_mr_value.m_id").alias("n_id"),
                F.col("_mr_value.m_vec").alias("_n_vec")),
        "_n_vec", "_nn")
    scored = (F.broadcast(keys).join(m, "_mr_key")
              .filter(F.col("q_id") != F.col("n_id"))
              .select("q_id", "n_id",
                      _cos_pre(F.col("_q_vec"), F.col("_n_vec"),
                               F.col("_qn"), F.col("_nn"))
                      .alias("cos_sim")))
    return _topk_per_query(scored, k)


def probe_ivf_store(delta: DataFrame, store, table: str, centroids,
                    id_col: str, vec_col: str, k: int = 3,
                    nprobe: int = 1) -> DataFrame:
    """:func:`probe_ivf_index` served STRAIGHT from a key-pruning state
    store (r11): the probed cluster set is handed to
    ``store.read(table, keys=probed)`` — a
    ``BucketedParquetStateStore`` (or ``IncrementalEngine``) then lists
    ONLY the bucket directories those clusters hash into, so the probe
    plan never even enumerates the rest of the index's files. This is
    the maintained-view twin of :func:`probe_ivf_partitioned`'s
    PartitionFilters: manifest-level file pruning on top of the pushed
    ``_mr_key IN`` row-group skipping, with zero layout duplication —
    the index the IVM engine maintains IS the serving structure.

    ``store`` is anything exposing ``read(table, keys=...)`` (a
    ``ParquetStateStore`` ignores the hint and degrades to the plain
    scan+filter — same answer, fewer skipped files). Results are
    identical to ``probe_ivf_index(delta, store.read(table), ...)``
    (pinned by test)."""
    keys, probed = _ivf_probe_routes(delta, centroids, id_col, vec_col,
                                     nprobe)
    return _ivf_probe_score(keys, probed, store.read(table, keys=probed),
                            k)


def write_ivf_partitioned(df: DataFrame, path: str, centroids,
                          id_col: str, vec_col: str,
                          mode: str = "overwrite",
                          rebalance: bool | None = None) -> None:
    """Materialize the corpus PHYSICALLY PARTITIONED by its IVF cluster
    — the layout move every IVF docstring in this module points at
    ("at scale this column becomes the corpus table's partition key"):
    one narrow assignment pass (:func:`ivf_cluster_col`, no shuffle
    beyond the write's own partitioning) writes
    ``path/cluster_id=<c>/...``, after which a probe reads ONLY the
    probed clusters' files — partition pruning at the scan, not a
    filter over a full scan. The same bucket-once-join-forever economics
    as ``sources.bucketed``, applied to ANN serving: at 100 TB a
    nprobe=2/nlist=4096 query touches ~0.05% of the data files.

    Pair with :func:`probe_ivf_index` for the MAINTAINED (CDC) member
    view and this layout for the cold corpus; a refit (new centroids,
    see :func:`ivf_index_views`) rewrites the layout the same way a
    version bump resyncs the view."""
    # r13 (guide §6 "small files hurt twice"): REBALANCE on the
    # partition column before the partitioned write — without it every
    # input task opens one file per cluster it holds (tasks × nlist
    # small files; at 100 TB, millions); with it each cluster's rows
    # land together (AQE still splits oversized clusters), so the file
    # count tracks nlist + skew splits and the probe's pruned scan opens
    # O(nprobe) files. Rows/values unchanged — layout only. Measured at
    # sf0.1/local[32] the extra vector-payload Exchange costs MORE than
    # the small files it saves (write 5.8 → 9.2 s, interleaved A/B), so
    # the default follows the input size: tiny corpora skip the shuffle,
    # cluster-scale corpora (or rebalance=True) pay it once. The
    # threshold is partition-count-based, not data-size (cheap, exact
    # enough: small files only matter when many tasks write).
    assigned = df.select(F.col(id_col), F.col(vec_col),
                         ivf_cluster_col(vec_col, centroids)
                         .alias("cluster_id"))
    if rebalance is None:
        # derive the many-write-tasks signal WITHOUT planning the RDD
        # (ADVICE r13: ``.rdd.getNumPartitions()`` under AQE materializes
        # every upstream shuffle stage — the "cheap check" executed the
        # whole input job once, and the write then executed it again —
        # and post-shuffle inputs always reported exactly the session
        # shuffle-partition count, defeating the tiny-corpora skip).
        # ``inputFiles()`` inspects the plan's file index only: a
        # scan-backed corpus reports its real file count (the 100 TB
        # case: thousands of scan tasks → rebalance engages); in-memory
        # or synthetic frames report zero files → skip, matching the
        # measured bench-scale result that the vector-payload Exchange
        # costs more than the small files it saves.
        rebalance = len(df.inputFiles()) >= 32
    if rebalance:
        assigned = assigned.hint("rebalance", "cluster_id")
    assigned.write.mode(mode).partitionBy("cluster_id").parquet(path)


def probe_ivf_partitioned(spark, path: str, queries: DataFrame,
                          centroids, id_col: str, vec_col: str,
                          k: int = 3, nprobe: int = 1) -> DataFrame:
    """ANN top-k against a :func:`write_ivf_partitioned` layout: route
    the (delta-sized) queries Column-side, collect the DISTINCT probed
    cluster set (≤ nlist values — bounded by the centroid contract,
    never by the corpus), and scan the corpus with a LITERAL
    ``cluster_id IN (...)`` predicate, so Spark prunes every unprobed
    partition directory before reading a byte (pinned by an
    ``inputFiles()`` assertion in tests/test_ivf_index.py). Scoring and
    ranking are the shared probe plan; for in-corpus queries at
    nprobe=1 the result equals :func:`ivf_probe_search`.

    NOTE the probe is eagerly routed at CALL time (an ADVICE r10 item,
    now pinned): the routes frame is persisted (``pin``) before the
    ≤nlist-row collect that builds the literal partition predicate, so
    routing executes ONCE — the subsequent join reads the pinned rows
    instead of re-running the k·dim route expression."""
    from qvarn_mr_spark.functions.dedup import ensure_min_partitions
    from qvarn_mr_spark.session import serve_pin

    routes = serve_pin(ensure_min_partitions(queries).select(
        F.col(id_col).alias("q_id"),
        _as_double(queries, vec_col).alias("_q_vec"),
        F.sqrt(dot(_as_double(queries, vec_col),
                   _as_double(queries, vec_col))).alias("_qn"),
        F.explode(ivf_route_col(vec_col, centroids, nprobe))
        .alias("cluster_id")))
    probed = sorted({r["cluster_id"] for r in
                     routes.select("cluster_id").distinct().collect()})
    corpus = _with_norm(
        spark.read.parquet(path)
        .filter(F.col("cluster_id").isin([int(c) for c in probed]))
        .select(F.col(id_col).alias("n_id"),
                F.col(vec_col).cast("array<double>").alias("_n_vec"),
                F.col("cluster_id").cast("long").alias("cluster_id")),
        "_n_vec", "_nn")
    scored = (F.broadcast(routes).join(corpus, "cluster_id")
              .filter(F.col("q_id") != F.col("n_id"))
              .select("q_id", "n_id",
                      _cos_pre(F.col("_q_vec"), F.col("_n_vec"),
                               F.col("_qn"), F.col("_nn"))
                      .alias("cos_sim")))
    return _topk_per_query(scored, k)


def demo_query_vec(dim: int = 64) -> list:
    """Deterministic demo query vector under the rounded-literal
    contract — the same formula builds the Spark literal and the DuckDB
    SQL literal, so the two engines cannot drift."""
    return [round((((i * 7) % 13) - 6) / 6.0, 6) for i in range(dim)]


def hybrid_search(docs: DataFrame, emb: DataFrame, query_terms,
                  query_vec, id_col: str = "doc_id",
                  text_col: str = "text", vec_id_col: str = "vec_id",
                  vec_col: str = "embedding", k: int = 10,
                  rrf_k: int = 60, pool: int = 50) -> DataFrame:
    """Hybrid lexical+vector retrieval with reciprocal-rank fusion —
    the composition a retrieval-backed training pipeline runs (dense
    recall + keyword precision, RRF as the standard score-free fusion;
    Cormack et al.'s 1/(rrf_k + rank)):

    1. LEXICAL leg: documents scored by Σ_t tf(t, d) · idf(t) over the
       ``query_terms`` (same tokenizer and smoothed idf as
       :func:`~qvarn_mr_spark.functions.text.tfidf_top_terms`, rounded
       to 6 before ranking); top ``pool`` kept.
    2. VECTOR leg: cosine against the rounded-literal ``query_vec``
       (the same literal contract as the IVF centroids); top ``pool``.
       Brute force here is the correctness baseline — at scale feed
       this leg from :func:`ivf_probe_search` /
       :func:`probe_ivf_partitioned` instead.
    3. FUSION: rrf = Σ_legs 1/(rrf_k + rank), absent legs contribute
       0; ties break on ascending doc id; top ``k`` returned as
       ``(doc_id, lex_rank, vec_rank, rrf_score, rn)``.

    Scale shape: both legs are corpus-sized ONLY through hash
    aggregates and ``orderBy().limit(pool)`` (TakeOrdered — no global
    sort); ranking windows and the fusion join see pool-bounded frames
    (pool and k are config constants, the same contract as every top-k
    here). Fully deterministic, so the whole table is value-oracled
    (``oracle.hybrid_search_sql``)."""
    terms, qv = _hybrid_query(query_terms, query_vec, "hybrid_search")
    lex = _hybrid_lex_leg(docs, terms, id_col, text_col)
    qlit = F.array(*[F.lit(x) for x in qv])
    # query-literal norm precomputed driver-side (r13): the sequential
    # acc += x*x fold over doubles is bit-identical to the JVM
    # aggregate fold (the _ivf_score_structs contract) — one HOF dot
    # per corpus row saved
    vec = emb.select(
        F.col(vec_id_col).alias("doc_id"),
        F.round(F.try_divide(
            dot(_as_double(emb, vec_col), qlit),
            F.sqrt(dot(_as_double(emb, vec_col),
                       _as_double(emb, vec_col)))
            * F.lit(_py_norm(qv))), 6)
        .alias("cos_sim"))
    return _hybrid_rrf_fuse(lex, vec, k, rrf_k, pool)


def _hybrid_query(query_terms, query_vec, fn: str):
    terms = sorted({str(t).lower() for t in query_terms})
    qv = [round(float(x), 6) for x in query_vec]
    if not terms or not qv:
        raise ValueError(f"{fn}: query_terms and query_vec "
                         "must both be non-empty")
    return terms, qv


def _hybrid_lex_leg(docs: DataFrame, terms: list, id_col: str,
                    text_col: str) -> DataFrame:
    """The shared lexical leg: tf·idf of the query terms per doc —
    one corpus tokenize + hash aggregates, term stats broadcast."""
    from qvarn_mr_spark.functions.dedup import tokens_col

    toks = docs.select(F.col(id_col).alias("doc_id"),
                       F.explode(tokens_col(text_col)).alias("term"))
    tf = (toks.filter(F.col("term").isin(terms))
          .groupBy("doc_id", "term")
          .agg(F.count(F.lit(1)).alias("tf")))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (tf.join(F.broadcast(dfreq), "term")
            .crossJoin(F.broadcast(n))
            .groupBy("doc_id")
            .agg(F.round(F.sum(
                F.col("tf")
                * (F.log((F.col("n_docs") + F.lit(1.0))
                         / (F.col("df_t") + F.lit(1.0))) + F.lit(1.0))),
                6).alias("lex_score")))


def _hybrid_rrf_fuse(lex: DataFrame, vec: DataFrame, k: int,
                     rrf_k: int, pool: int) -> DataFrame:
    """The shared RRF fusion: pool-limit each leg (TakeOrdered — no
    global sort), rank the pool-bounded survivors, full-outer fuse with
    1/(rrf_k + rank) per present leg, top ``k``. Leg-implementation-
    independent by construction: any ``(doc_id, lex_score)`` /
    ``(doc_id, cos_sim)`` frames fuse identically — which is what lets
    :func:`hybrid_search_ivf` swap the brute-force vector leg for a
    probed one without touching the fusion (pinned by test).

    ``pool < k`` is legal: the fusion then sees at most ``2·pool``
    distinct docs and returns ``min(k, |fused|)`` rows — a small pool
    bounds RECALL, never correctness (guard-tested)."""
    if int(pool) < 1 or int(k) < 1:
        raise ValueError(f"hybrid fusion: pool ({pool}) and k ({k}) "
                         "must both be >= 1")
    lex_pool = lex.orderBy(F.desc("lex_score"), F.asc("doc_id")) \
        .limit(int(pool))
    vec_pool = vec.orderBy(F.desc("cos_sim"), F.asc("doc_id")) \
        .limit(int(pool))
    lw = Window.orderBy(F.desc("lex_score"), F.asc("doc_id"))
    vw = Window.orderBy(F.desc("cos_sim"), F.asc("doc_id"))
    lr = lex_pool.select("doc_id", F.row_number().over(lw)
                         .alias("lex_rank"))
    vr = vec_pool.select("doc_id", F.row_number().over(vw)
                         .alias("vec_rank"))

    fused = (lr.join(vr, "doc_id", "full_outer")
             .select("doc_id", "lex_rank", "vec_rank",
                     F.round(
                         F.coalesce(F.lit(1.0)
                                    / (F.lit(float(rrf_k))
                                       + F.col("lex_rank")), F.lit(0.0))
                         + F.coalesce(F.lit(1.0)
                                      / (F.lit(float(rrf_k))
                                         + F.col("vec_rank")),
                                      F.lit(0.0)), 6)
                     .alias("rrf_score")))
    fw = Window.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return (fused.withColumn("rn", F.row_number().over(fw))
            .filter(F.col("rn") <= int(k)))


def hybrid_search_ivf(docs: DataFrame, emb: DataFrame, query_terms,
                      query_vec, centroids, nprobe: int = 1,
                      id_col: str = "doc_id", text_col: str = "text",
                      vec_id_col: str = "vec_id",
                      vec_col: str = "embedding", k: int = 10,
                      rrf_k: int = 60, pool: int = 50) -> DataFrame:
    """:func:`hybrid_search` with the vector leg served by IVF probing
    instead of brute force (VERDICT r10 item 6) — the composition the
    docstring there promises, actually run: the query vector routes to
    its ``nprobe`` nearest pinned centroids (:func:`ivf_route_col` on a
    one-row frame — the same rounded-sim/ascending-id tiebreak contract
    as every IVF path, collected as a ≤nprobe literal), and only
    vectors ASSIGNED to the probed clusters are scored against the
    query literal. The lexical leg and the RRF fusion are byte-for-byte
    the shared :func:`_hybrid_lex_leg` / :func:`_hybrid_rrf_fuse` —
    proving the fusion is leg-implementation-independent (whenever the
    probed pool equals the exact pool, e.g. ``nprobe = nlist``, the
    fused table EQUALS brute-force ``hybrid_search``; pinned in
    tests/test_functions.py).

    Scale shape: the assignment filter (:func:`ivf_cluster_col` ∈
    probed) is exactly the predicate :func:`write_ivf_partitioned`
    turns into partition pruning — on a cluster-partitioned corpus the
    vector leg reads ~nprobe/nlist of the files; everything downstream
    of the legs is pool-bounded. Value-oracled end to end
    (``oracle.hybrid_search_ivf_sql``)."""
    terms, qv = _hybrid_query(query_terms, query_vec,
                              "hybrid_search_ivf")
    lex = _hybrid_lex_leg(docs, terms, id_col, text_col)

    spark = emb.sparkSession
    qdf = spark.createDataFrame([(qv,)], "q array<double>")
    # ≤ nprobe cluster ids — metadata-sized by the centroid contract
    probed = sorted({int(c) for r in qdf.select(
        F.explode(ivf_route_col("q", centroids, nprobe)).alias("c"))
        .collect() for c in [r["c"]]})
    qlit = F.array(*[F.lit(x) for x in qv])
    # same driver-side query-norm hoist as hybrid_search (bit-identical
    # acc fold, one HOF dot per probed row saved)
    vec = (emb.filter(
        ivf_cluster_col(vec_col, centroids).isin(probed))
        .select(F.col(vec_id_col).alias("doc_id"),
                F.round(F.try_divide(
                    dot(_as_double(emb, vec_col), qlit),
                    F.sqrt(dot(_as_double(emb, vec_col),
                               _as_double(emb, vec_col)))
                    * F.lit(_py_norm(qv))), 6)
                .alias("cos_sim")))
    return _hybrid_rrf_fuse(lex, vec, k, rrf_k, pool)


def hyperplane_near_dup(df: DataFrame, id_col: str, vec_col: str,
                        threshold: float = 0.9,
                        planes: int = HYPERPLANES,
                        bands: int = HYPERPLANE_BANDS,
                        dim: int = 64, seed: str = "hp") -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded hyperplane LSH —
    the fully bucketed third route to cosine near-dup (brute force is the
    baseline, IVF the routed path; this one needs no centroid set at all).

    Shape (never n²):

    1. one narrow pass computes every vector's ``planes``-bit signature;
    2. the signature splits into ``bands`` bucket keys; candidates are the
       pairs sharing a (band_pos, band_value) bucket — a distributed
       equi-join on the bucket key, pair volume Σ|bucket|²;
    3. each candidate is verified EXACTLY (cosine against both vectors,
       fetched by id) and kept only at ``cos_sim >= threshold``.

    Precision is exact (step 3); recall is the standard LSH trade —
    a qualifying pair is missed iff every band has a flipped bit, with
    P(miss) = (1 − (1 − θ/π)^(planes/bands))^bands, vanishing as θ → 0;
    identical vectors are always found (tested). Returns
    ``(a_id, b_id, cos_sim)``.
    """
    # spread vectors across tasks BEFORE the signature projection: the
    # planes × dim multiply-add pass is the CPU-heavy step, and a small
    # corpus arriving as one parquet file would otherwise run it on a
    # single task (at cluster scale the scan is already partitioned and
    # this exchange is a cheap narrow-row reshuffle)
    spread = df.select(F.col(id_col).alias("_hp_id"),
                       F.col(vec_col).alias("_hp_vec")).repartition("_hp_id")
    sigs = hyperplane_signatures(spread, "_hp_id", "_hp_vec",
                                 planes, dim, seed)
    # barrier AFTER the signatures too: both sides of the band self-join
    # below consume this subtree; the shuffle boundary makes them read
    # computed (id, long) rows from shuffle files instead of re-running
    # the signature pass per side.
    sigs = sigs.repartition("vec_id")
    band_width = planes // bands
    band_rows = sigs.select(
        "vec_id",
        F.posexplode(F.array(*[
            (F.floor(F.col("hp_sig") / F.lit(2 ** (band_width * b)))
             % (2 ** band_width)).cast("long")
            for b in range(bands)])).alias("band_pos", "bv"))
    a = band_rows.select(F.col("vec_id").alias("a_id"), "band_pos", "bv")
    b = band_rows.select(F.col("vec_id").alias("b_id"), "band_pos", "bv")
    cand = (a.join(b, ["band_pos", "bv"])
            .filter(F.col("a_id") < F.col("b_id"))
            .select("a_id", "b_id").distinct())
    av = _with_norm(df.select(F.col(id_col).alias("a_id"),
                              _as_double(df, vec_col).alias("a_vec")),
                    "a_vec", "_an")
    bv = _with_norm(df.select(F.col(id_col).alias("b_id"),
                              _as_double(df, vec_col).alias("b_vec")),
                    "b_vec", "_bn")
    return (cand.join(av, "a_id").join(bv, "b_id")
            .select("a_id", "b_id",
                    _cos_pre(F.col("a_vec"), F.col("b_vec"),
                             F.col("_an"), F.col("_bn"))
                    .alias("cos_sim"))
            .filter(F.col("cos_sim") >= threshold))


def semantic_dedup(df: DataFrame, id_col: str, vec_col: str,
                   centroid_filter: Column,
                   threshold: float = 0.9) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster the corpus by
    nearest centroid (IVF assignment), then inside each cluster drop
    every vector that has a LOWER-id neighbor with cosine >= threshold
    (the deterministic keep-one-representative rule). Returns the
    surviving ``(vec_id, cluster_id)`` rows.

    Scale shape: the only join is the per-cluster self equi-join on
    ``cluster_id`` — pair volume Σ|cluster|² ~ n²/nlist, bucketed and
    shuffle-partitioned by cluster, never a global cross join. The
    domination rule needs no connected components (unlike the Jaccard
    corpus dedup): "has any better-ranked near-neighbor" is a semi-join,
    so the whole operator is SQL-expressible and exactly oracle-checked.
    """
    assign = ivf_assign(df, id_col, vec_col, centroid_filter) \
        .select("vec_id", "cluster_id")
    v = df.select(F.col(id_col).alias("vec_id"),
                  _as_double(df, vec_col).alias("vec"))
    # the assigned corpus feeds three plan branches (pair left, pair
    # right, survivor anti-join); without a barrier Spark re-scores the
    # centroid assignment for each. Lazy localCheckpoint computes it
    # once at first execution (swap for checkpoint() on a real cluster
    # for executor-loss resilience, same note as dedup.dup_clusters).
    m = _with_norm(assign.join(v, "vec_id"), "vec", "_n") \
        .localCheckpoint(eager=False)
    x = m.select(F.col("vec_id").alias("a_id"),
                 F.col("cluster_id").alias("cl"),
                 F.col("vec").alias("a_vec"),
                 F.col("_n").alias("_an"))
    y = m.select(F.col("vec_id").alias("b_id"),
                 F.col("cluster_id").alias("cl"),
                 F.col("vec").alias("b_vec"),
                 F.col("_n").alias("_bn"))
    dominated = (x.join(y, "cl")
                 .filter(F.col("a_id") > F.col("b_id"))
                 .filter(_cos_pre(F.col("a_vec"), F.col("b_vec"),
                                  F.col("_an"), F.col("_bn"))
                         >= threshold)
                 .select(F.col("a_id").alias("vec_id"))
                 .distinct())
    return m.join(dominated, "vec_id", "left_anti") \
        .select("vec_id", "cluster_id")


def centroid_by_label(df: DataFrame, label_col: str, vec_col: str) -> DataFrame:
    """Mean embedding per label, exploded to ``(label, pos, avg_val)`` rows.

    ``posexplode`` + one hash aggregate on (label, pos) — the standard way to
    aggregate vectors without a Python UDF; at 100 TB the shuffle carries
    (label, pos, partial-sum) after map-side combine, i.e. |labels|·dim rows.
    """
    return (
        df.select(F.col(label_col).alias("label"),
                  F.posexplode(_as_double(df, vec_col)).alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("val"), 6).alias("avg_val"))
    )


def knn_bruteforce_arrow(df: DataFrame, id_col: str, vec_col: str,
                         query_filter: Column, k: int = 3) -> DataFrame:
    """Arrow-vectorized twin of :func:`knn_bruteforce` — identical results
    (differentially tested), computed as one BLAS matmul per Arrow batch
    instead of a per-pair ``zip_with`` fold.

    The query set is small by the same contract that lets
    :func:`knn_bruteforce` broadcast it; here it ships to executors as a
    normalized numpy matrix inside the UDF closure. Each ``mapInPandas``
    batch stacks its corpus vectors into a matrix, scores ALL batch×query
    pairs in one ``C @ Q.T``, and emits only its local top-k rows per
    query — the shuffle then carries ≤ k·|Q| rows per partition into the
    exact global top-k window. This is the hot-path shape for wide
    embedding corpora: per-pair expression evaluation (JVM fold) is
    O(dim) interpreted steps per pair, the matmul is one vectorized BLAS
    call per batch, typically 10-100× less CPU at equal output.

    Determinism: similarities round to 6 decimals BEFORE both the local
    and the global top-k (n_id tiebreak), so partition boundaries cannot
    change the result and the DuckDB oracle of the plain variant applies
    verbatim. Returns ``(q_id, n_id, cos_sim, rn)``.
    """
    import numpy as np
    import pandas as pd

    q_rows = df.filter(query_filter).select(
        F.col(id_col).cast("long"), _as_double(df, vec_col)).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    if q_rows:
        qm = np.array([r[1] for r in q_rows], dtype=np.float64)
        qm = _unit_rows(qm)
    else:                    # empty query set → empty result, not a crash
        qm = np.zeros((0, 1))

    out_schema = "q_id long, n_id long, cos_sim double"

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0 or len(q_ids) == 0:
                continue
            ids = pdf["_nid"].to_numpy(dtype=np.int64)
            cm = np.stack(pdf["_nvec"].to_numpy())
            cm = _unit_rows(cm)
            sims = np.round(cm @ qm.T, 6)          # |batch| × |Q|
            parts = []
            for j, qid in enumerate(q_ids):
                col = sims[:, j]
                mask = ids != qid                  # self-match excluded
                cand_ids, cand_sims = ids[mask], col[mask]
                if len(cand_ids) > k:
                    # local exact top-k: order by (-sim, n_id), same rule
                    # as the global window
                    order = np.lexsort((cand_ids, -cand_sims))[:k]
                else:
                    order = np.lexsort((cand_ids, -cand_sims))
                parts.append(pd.DataFrame({
                    "q_id": qid, "n_id": cand_ids[order],
                    "cos_sim": cand_sims[order]}))
            if parts:
                yield pd.concat(parts, ignore_index=True)

    corpus = df.select(F.col(id_col).cast("long").alias("_nid"),
                       _as_double(df, vec_col).alias("_nvec"))
    local = corpus.mapInPandas(score, out_schema)
    # local already holds <= k rows per (query, input partition); the
    # global phase still two-phases (k*n_partitions rows per query can
    # reach one task at 100k-task scans otherwise)
    return _topk_per_query(local, k)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-domain ANN
# ---------------------------------------------------------------------------

#: subvector count (dim must divide evenly) and centroids per codebook.
#: 16×16 (4-bit codes over 4-dim subspaces) is the toy default sized to
#: the 64-dim testdata; production is typically 16-64 subspaces × 256
#: centroids (8-bit codes).
PQ_M = 16
PQ_K = 16


def pq_train(df: DataFrame, id_col: str, vec_col: str,
             m: int = PQ_M, k: int = PQ_K, sample: int = 2048,
             iters: int = 10, normalize: bool = True):
    """Train PQ codebooks: per-subspace Lloyd k-means over a bounded,
    id-ordered sample. Returns a numpy array of shape ``(m, k, dim/m)``.

    Deterministic end to end: the sample is the ``sample`` lowest ids
    (a TakeOrdered, never a full sort), init is the first ``k`` distinct
    subvectors in id order, iteration count is fixed, and numpy argmin
    breaks ties toward the lower index — retrain reproduces the same
    codebooks bit for bit. Training data is driver-side by design: PQ
    codebooks come from a bounded sample (kilobytes of centroids), not
    the corpus; encode/search below are the distributed parts."""
    import numpy as np

    rows = (df.select(F.col(id_col).cast("long").alias("_id"),
                      _as_double(df, vec_col).alias("_v"))
            .orderBy("_id").limit(sample).collect())
    X = np.array([r["_v"] for r in rows], dtype=np.float64)
    if normalize:
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    n, dim = X.shape
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m
    books = np.zeros((m, k, dsub))
    for j in range(m):
        S = X[:, j * dsub:(j + 1) * dsub]
        seen: set = set()
        init = []
        for row in S:
            t = tuple(np.round(row, 9))
            if t not in seen:
                seen.add(t)
                init.append(row)
            if len(init) == k:
                break
        while len(init) < k:            # degenerate corpora: repeat last
            init.append(init[-1])
        C = np.array(init, dtype=np.float64)
        for _ in range(iters):
            d = ((S[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            assign = d.argmin(1)
            for c in range(k):
                pts = S[assign == c]
                if len(pts):
                    C[c] = pts.mean(0)   # empty cluster keeps its centroid
        books[j] = C
    return books


def pq_encode(df: DataFrame, id_col: str, vec_col: str, codebooks,
              normalize: bool = True) -> DataFrame:
    """Encode every vector into ``m`` codebook indices — ``dim`` floats
    become ``m`` small ints (32× compression at the 8×16 default, 64×
    at production 16×256 on float32).

    ``mapInPandas`` with the kilobyte codebooks in the closure: each
    Arrow batch computes all batch×k subspace distances as one numpy
    broadcast op per subspace — no per-row Python, no shuffle (narrow).
    Returns ``(vec_id, codes array<int>)``."""
    import numpy as np
    import pandas as pd

    books = codebooks
    m, _, dsub = books.shape

    def enc(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            if normalize:
                X = X / np.maximum(
                    np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            # rounded-literal contract (same guard as every cross-engine
            # float compare here): normalized components and subspace
            # distances round to 9 before the argmin, so a committed
            # (rounded) codebook reproduces the codes in plain SQL —
            # what makes embedding_pq_search fully value-oracled
            X = np.round(X, 9)
            codes = np.empty((len(X), m), dtype=np.int32)
            for j in range(m):
                S = X[:, j * dsub:(j + 1) * dsub]
                d = np.round(
                    ((S[:, None, :] - books[j][None]) ** 2).sum(-1), 9)
                codes[:, j] = d.argmin(1)
            yield pd.DataFrame({"vec_id": pdf["_id"].to_numpy(),
                                "codes": codes.tolist()})

    src = df.select(F.col(id_col).cast("long").alias("_id"),
                    _as_double(df, vec_col).alias("_v"))
    return src.mapInPandas(enc, "vec_id long, codes array<int>")


def pq_search(df: DataFrame, id_col: str, vec_col: str,
              query_filter: Column, codebooks, k: int = 3,
              codes: DataFrame | None = None,
              normalize: bool = True) -> DataFrame:
    """Approximate top-k by asymmetric distance (ADC): exact query
    subvector → codebook-entry distances go into per-query lookup
    tables (|Q|·m·K floats, kilobytes); each corpus vector's distance
    is then ``m`` table gathers over its codes — the corpus embeddings
    themselves are never read at query time.

    Same scale shape as :func:`knn_bruteforce_arrow`: queries are
    contract-small (collected + shipped in the closure), scoring is
    vectorized per Arrow batch over the CODES table (m ints per row,
    not dim floats), each batch emits only its local top-k, and the
    global exact top-k window sees ≤ k·|Q| rows per partition. With
    ``normalize=True`` (default) squared-L2 ADC ordering matches the
    cosine ordering of the exact operators (monotone transform).
    Returns ``(q_id, n_id, adc_dist, rn)``; ties break on the rounded
    distance then ``n_id``, so results are partition-invariant."""
    import numpy as np
    import pandas as pd

    books = codebooks
    m, K, dsub = books.shape
    q_rows = (df.filter(query_filter)
              .select(F.col(id_col).cast("long"),
                      _as_double(df, vec_col)).collect())
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    if q_rows:
        Q = np.array([r[1] for r in q_rows], dtype=np.float64)
        if normalize:
            Q = Q / np.maximum(
                np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
        # rounded-literal contract (see pq_encode): normalized query
        # components and LUT entries round to 9, so a committed codebook
        # reproduces every ADC distance in plain SQL (value oracle)
        Q = np.round(Q, 9)
        # luts[q, j, c] = ||Q[q] subspace j - books[j][c]||²
        luts = np.round(np.stack([
            ((Q[:, j * dsub:(j + 1) * dsub][:, None, :]
              - books[j][None]) ** 2).sum(-1)
            for j in range(m)], axis=1), 9)
    else:
        luts = np.zeros((0, m, K))

    codes_df = codes if codes is not None else \
        pq_encode(df, id_col, vec_col, books, normalize)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0 or len(q_ids) == 0:
                continue
            C = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            d = np.zeros((len(C), len(q_ids)))
            for j in range(m):
                d += luts[:, j, C[:, j]].T
            d = np.round(d, 6)
            parts = []
            for qi, qid in enumerate(q_ids):
                col = d[:, qi]
                mask = ids != qid
                cand_ids, cand_d = ids[mask], col[mask]
                order = np.lexsort((cand_ids, cand_d))[:k]
                parts.append(pd.DataFrame({
                    "q_id": qid, "n_id": cand_ids[order],
                    "adc_dist": cand_d[order]}))
            if parts:
                yield pd.concat(parts, ignore_index=True)

    local = codes_df.mapInPandas(score,
                                 "q_id long, n_id long, adc_dist double")
    # per-batch local top-k above; the global rank two-phases like every
    # other serving path (ascending: ADC is a distance)
    return _topk_per_query(local, k, order_col="adc_dist",
                           ascending=True)


def quantize_embeddings(df: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Symmetric int8 scalar quantization: per vector, ``scale`` = max
    |component| and ``qvec[i] = round(x[i] / scale * 127)`` — a 4×
    memory/scan cut for the ANN working set (float32 → int8) at ≤0.8 %
    per-component error, the standard serving compression between raw
    floats and PQ codes. Pure Column expressions (narrow, scan-stage);
    zero vectors quantize to zeros with scale 0."""
    v = _as_double(df, vec_col)
    scale = F.array_max(F.transform(v, lambda x: F.abs(x)))
    q = F.when(scale > 0, F.transform(
        v, lambda x: F.round(x / scale * 127, 0).cast("int"))) \
        .otherwise(F.transform(v, lambda x: F.lit(0)))
    return df.select(F.col(id_col).alias("vec_id"),
                     F.round(scale, 6).alias("scale"),
                     q.alias("qvec"))


def dequantize(qvec: Column, scale: Column) -> Column:
    """Inverse map: ``q * scale / 127`` as array<double> — feed to
    :func:`cosine`/:func:`dot` for compressed-domain scoring."""
    return F.transform(qvec, lambda c: c.cast("double") * scale / 127.0)


# ---------------------------------------------------------------------------
# Lloyd-trained k-means + cluster-density-balanced sampling
# ---------------------------------------------------------------------------

def _kmeans_literal_cent(spark, cents):
    """Centroid list → broadcastable DataFrame (cluster_id, c_vec).

    ``cents`` is ``[(cluster_id, [float, ...]), ...]`` — k·dim values,
    driver-bounded by the same contract as the IVF centroid/PQ codebook
    collects (k is a config constant, never data-sized)."""
    return spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in cents],
        "cluster_id long, c_vec array<double>")


def _kmeans_score(v: DataFrame, cent: DataFrame,
                  keep_vec: bool = False) -> DataFrame:
    """Nearest-centroid assignment against a literal centroid table.

    Same shape and tiebreak as :func:`ivf_assign` (broadcast cross ×
    fused JVM cosine, ``min_by`` over (−cos_sim, cluster_id) — one row
    per vector after map-side combine, no sort). ``keep_vec`` threads the
    vector through the aggregate so the Lloyd mean update needs no second
    join back to the corpus."""
    scored = _with_norm(v, "v_vec", "_vn") \
        .crossJoin(F.broadcast(_with_norm(cent, "c_vec", "_cn"))) \
        .select("vec_id", "cluster_id", "v_vec",
                _cos_pre(F.col("v_vec"), F.col("c_vec"),
                         F.col("_vn"), F.col("_cn")).alias("cos_sim"))
    # same zero-norm guard as ivf_assign — in the ORDERING, not a
    # pre-agg filter (which would push into the join condition and
    # double-evaluate the interpreted cosine: measured ~1.5× across
    # the whole k-means family, r13 bench)
    aggs = [F.min_by(F.struct(F.col("cluster_id"), F.col("cos_sim")),
                     F.struct(F.coalesce(-F.col("cos_sim"),
                                         F.lit(float("inf")))
                              .alias("neg_sim"),
                              F.col("cluster_id"))).alias("_best")]
    if keep_vec:
        aggs.append(F.first("v_vec").alias("v_vec"))
    out = scored.groupBy("vec_id").agg(*aggs) \
        .filter(F.col("_best.cos_sim").isNotNull())
    cols = ["vec_id", "_best.cluster_id", "_best.cos_sim"]
    return out.select(*cols, "v_vec") if keep_vec else out.select(*cols)


def _kmeans_update(assign_with_vec: DataFrame,
                   cent: DataFrame) -> DataFrame:
    """One Lloyd mean update, exploded: ``(cluster_id, pos, val)``.

    ``posexplode`` + hash aggregate on (cluster_id, pos) — identical
    machinery to :func:`centroid_by_label`: after map-side combine the
    shuffle carries k·dim partial sums per partition, not n·dim rows.
    Empty clusters carry their previous centroid forward (left join from
    the current centroid table, k·dim rows, broadcast)."""
    means = (assign_with_vec
             .select("cluster_id", F.posexplode("v_vec").alias("pos", "val"))
             .groupBy("cluster_id", "pos")
             .agg(F.round(F.avg("val"), 6).alias("_new")))
    prev = cent.select("cluster_id",
                       F.posexplode("c_vec").alias("pos", "_prev"))
    return (prev.join(F.broadcast(means), ["cluster_id", "pos"], "left")
            .select("cluster_id", "pos",
                    F.coalesce("_new", "_prev").alias("val")))


def _kmeans_vectors(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    # parallelism floor (r13): a single-file corpus otherwise runs every
    # Lloyd round's n·k·dim scoring pass on ONE scan task; no-op at
    # scale where the file count alone exceeds the floor
    from qvarn_mr_spark.functions.dedup import ensure_min_partitions
    return ensure_min_partitions(df).select(
        F.col(id_col).cast("long").alias("vec_id"),
        _as_double(df, vec_col).alias("v_vec"))


def _kmeans_init(df: DataFrame, id_col: str, vec_col: str,
                 init_filter: Column) -> DataFrame:
    """Iteration-0 centroids: the ``init_filter`` rows, components rounded
    to 6 (so the carry-forward path and the DuckDB twin see identical
    literals from the first iteration on)."""
    return df.filter(init_filter).select(
        F.col(id_col).cast("long").alias("cluster_id"),
        F.transform(_as_double(df, vec_col),
                    lambda x: F.round(x, 6)).alias("c_vec"))


def kmeans_fit(df: DataFrame, id_col: str, vec_col: str,
               init_filter: Column | None = None, iters: int = 2,
               arrow: bool = False,
               init_centroids: list | None = None) -> list:
    """Lloyd's k-means with cosine assignment: ``iters`` full
    assign → mean-update rounds from a deterministic seed set
    (``init_filter`` picks the iteration-0 centroid rows, same convention
    as :func:`ivf_assign`). Returns the fitted centroid list
    ``[(cluster_id, [val, ...]), ...]`` — k·dim driver-bounded.

    Everything data-sized stays distributed: each round is one broadcast
    assignment pass (k-bounded broadcast, ``min_by`` argmax — no sort, no
    window) and one (cluster, pos) hash aggregate whose shuffle carries
    k·dim partial sums per partition. Only the k·dim centroid table is
    collected between rounds, the same driver-size contract as the IVF
    centroid and PQ codebook collects. Determinism: similarities and
    means round to 6 before every argmax/reuse, ties break on ascending
    cluster_id, so the unrolled DuckDB twin reproduces every iteration
    exactly; empty clusters keep their previous centroid on both engines.

    The reference has no vector surface (SURVEY §2: extension); this is
    the training step the IVF family's ``centroid_filter`` contract
    points at ("a real system would take k-means centroids",
    :func:`ivf_assign`).

    ``arrow=True`` scores every round through
    :func:`_kmeans_score_arrow` (one BLAS matmul per batch — the
    assignment is the n·k·dim hot stage of training); output is
    bit-identical (differentially tested) and the mean update stays on
    the JVM.

    ``init_centroids``: WARM START — a previous :func:`kmeans_fit`
    result (``[(cluster_id, [val, ...]), ...]``) used as the
    iteration-0 centroids instead of ``init_filter``'s seed rows. The
    IVM move for the Lloyd fixpoint: when the corpus grows, refitting
    from the previous centroids re-converges in 1-2 rounds instead of
    a full cold schedule. Exactly one of ``init_filter`` /
    ``init_centroids`` must be given; components round to 6 on entry,
    the same literal contract as the cold seed path, so the composed
    DuckDB unroll (pre-delta chain feeding the post-delta chain's c0)
    reproduces the warm trajectory value-for-value."""
    spark = df.sparkSession
    if (init_filter is None) == (init_centroids is None):
        raise ValueError("kmeans_fit: give exactly one of init_filter "
                         "or init_centroids")
    v = _kmeans_vectors(df, id_col, vec_col)
    if init_centroids is not None:
        seed = sorted((int(c), [round(float(x), 6) for x in vec])
                      for c, vec in init_centroids)
        if not seed:
            raise ValueError("kmeans_fit: init_centroids is empty")
        cent = _kmeans_literal_cent(spark, seed)
    else:
        cent = _kmeans_init(df, id_col, vec_col, init_filter)
    cents = None
    for _ in range(iters):
        if arrow:
            if cents is None:                     # k·dim, bounded
                cents = sorted((r["cluster_id"], list(r["c_vec"]))
                               for r in cent.collect())
            assign = _kmeans_score_arrow(v, cents, keep_vec=True)
        else:
            assign = _kmeans_score(v, cent, keep_vec=True)
        upd = _kmeans_update(assign, cent)
        rows = upd.collect()                      # k·dim, bounded
        by_cluster = {}
        for r in rows:
            by_cluster.setdefault(r["cluster_id"], {})[r["pos"]] = r["val"]
        cents = sorted(
            (cid, [vals[p] for p in sorted(vals)])
            for cid, vals in by_cluster.items())
        cent = _kmeans_literal_cent(spark, cents)
    if cents is None:                             # iters == 0: seeds as-is
        cents = sorted((r["cluster_id"], list(r["c_vec"]))
                       for r in cent.collect())
    return cents


def kmeans_centroids(df: DataFrame, id_col: str, vec_col: str,
                     init_filter: Column | None = None, iters: int = 2,
                     init_centroids: list | None = None) -> DataFrame:
    """Fitted centroids after ``iters`` Lloyd rounds, exploded to
    ``(cluster_id, pos, val)`` rows (the :func:`centroid_by_label` output
    convention). The last round's mean update is returned lazily; earlier
    rounds collect only the k·dim centroid table (see :func:`kmeans_fit`,
    which also documents the ``init_centroids`` warm-start contract)."""
    spark = df.sparkSession
    if (init_filter is None) == (init_centroids is None):
        # same exactly-one contract as kmeans_fit; checked here too so
        # the iters<=0 fast path can't reach df.filter(None)
        raise ValueError("kmeans_centroids: give exactly one of "
                         "init_filter or init_centroids")
    v = _kmeans_vectors(df, id_col, vec_col)
    if iters <= 0:
        if init_centroids is not None:
            seed = sorted((int(c), [round(float(x), 6) for x in vec])
                          for c, vec in init_centroids)
            return _kmeans_literal_cent(spark, seed).select(
                "cluster_id", F.posexplode("c_vec").alias("pos", "val"))
        return _kmeans_init(df, id_col, vec_col, init_filter).select(
            "cluster_id", F.posexplode("c_vec").alias("pos", "val"))
    cents = kmeans_fit(df, id_col, vec_col, init_filter, iters - 1,
                       init_centroids=init_centroids)
    cent = _kmeans_literal_cent(spark, cents)
    return _kmeans_update(_kmeans_score(v, cent, keep_vec=True), cent)


def kmeans_assign(df: DataFrame, id_col: str, vec_col: str,
                  init_filter: Column, iters: int = 2,
                  arrow: bool = False) -> DataFrame:
    """Corpus assignment under the fully-fitted centroids:
    ``(vec_id, cluster_id, cos_sim)`` — the trained-centroid twin of
    :func:`ivf_assign`, same broadcast + ``min_by`` plan, so at scale the
    output column becomes the corpus partition key exactly as there.
    ``arrow=True`` trains AND serves through the BLAS scorer,
    bit-identical to the JVM form (shares its DuckDB oracle)."""
    spark = df.sparkSession
    cents = kmeans_fit(df, id_col, vec_col, init_filter, iters, arrow=arrow)
    v = _kmeans_vectors(df, id_col, vec_col)
    if arrow:
        return _kmeans_score_arrow(v, cents)
    return _kmeans_score(v, _kmeans_literal_cent(spark, cents))


def cluster_density_sample(df: DataFrame, id_col: str, vec_col: str,
                           init_filter: Column, cap: int,
                           iters: int = 2,
                           salt: str = "density") -> DataFrame:
    """Cluster-density-balanced sampling: k-means-assign the corpus, then
    keep each row with probability ``min(1, cap / |its cluster|)`` by
    consistent hash — dense regions are downsampled toward ``cap`` rows
    per cluster, sparse clusters survive whole. The standard
    curation move for de-biasing a crawl toward web boilerplate clusters
    (the density/balanced-sampling stage of cluster-based corpus
    pruning), built from parts this engine already proves: trained
    assignment (:func:`kmeans_assign`) + retry-stable hash membership
    (``sampling.hash_unit`` — re-running never flips a kept row).

    Scale: the per-cluster size table is k rows → broadcast join back;
    the only corpus-sized shuffle is the assignment argmax. Returns
    ``(vec_id, cluster_id, cluster_n, keep_frac)`` for the survivors."""
    from qvarn_mr_spark.functions.sampling import hash_unit
    assign = kmeans_assign(df, id_col, vec_col, init_filter, iters)
    sizes = assign.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_n"))
    frac = F.least(F.lit(1.0),
                   F.lit(float(cap)) / F.col("cluster_n").cast("double"))
    return (assign.join(F.broadcast(sizes), "cluster_id")
            .withColumn("keep_frac", F.round(frac, 6))
            .filter(hash_unit("vec_id", salt) < frac)
            .select("vec_id", "cluster_id", "cluster_n", "keep_frac"))


def _kmeans_score_arrow(v: DataFrame, cents,
                        keep_vec: bool = False) -> DataFrame:
    """Arrow/BLAS twin of :func:`_kmeans_score` — identical output
    (differentially tested; the Arrow fit shares the JVM form's DuckDB
    oracles verbatim), one ``B @ C.T`` matmul per Arrow batch instead of
    k interpreted ``zip_with`` dot products per vector.

    Same determinism recipe as :func:`ivf_assign_arrow`: similarities
    round to 6 BEFORE the argmax and the literal centroids are sorted by
    cluster_id, so numpy's first-max rule reproduces ``min_by``'s
    (−cos_sim, cluster_id) tiebreak exactly. No shuffle — the argmax
    happens inside the batch."""
    import numpy as np
    import pandas as pd

    from qvarn_mr_spark.session import ship_package
    ship_package(v.sparkSession)

    cents = sorted(cents)
    c_ids = np.array([c for c, _ in cents], dtype=np.int64)
    if cents:
        cm = _unit_rows(np.array([vec for _, vec in cents],
                                 dtype=np.float64))
    else:
        cm = np.zeros((0, 1))

    schema = "vec_id long, cluster_id long, cos_sim double"
    if keep_vec:
        schema += ", v_vec array<double>"

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0 or len(c_ids) == 0:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            vm = _unit_rows(np.stack(pdf["v_vec"].to_numpy()))
            sims = np.round(vm @ cm.T, 6)
            best = np.argmax(sims, axis=1)
            out = {"vec_id": ids, "cluster_id": c_ids[best],
                   "cos_sim": sims[np.arange(len(ids)), best]}
            if keep_vec:
                out["v_vec"] = pdf["v_vec"]
            yield pd.DataFrame(out)

    return v.mapInPandas(assign, schema)


def topk_recall(exact: DataFrame, approx: DataFrame, k: int,
                query_col: str = "q_id", neighbor_col: str = "n_id",
                digits: int | None = 6) -> DataFrame:
    """Recall@k accounting: how much of the EXACT top-k does an
    approximate search path (IVF probe, LSH probe, PQ/ADC, k-means
    probe) actually return, per query — the operational question every
    ANN deployment tunes nprobe/bands against, answered ON the engine
    instead of guessed. Both inputs are the standard
    ``(q_id, n_id, ...)`` neighbor tables this module's search
    operators emit (exact: :func:`knn_bruteforce`; approx: any of the
    probe paths).

    ``recall = |approx ∩ exact| / min(k, n_exact)`` per query (the
    min handles corpora smaller than k). Queries the approximate path
    returned nothing for (e.g. the probed cluster was empty) report
    recall 0 rather than vanishing.

    Scale shape: both sides are (|queries| · k)-sized — tiny relative
    to the corpus the searches scanned — and every join/aggregate keys
    on q_id; the expensive work happened in the searches themselves.

    Returns ``(q_id, n_exact, n_approx, n_hit, recall)``."""
    e = exact.select(F.col(query_col).alias("q_id"),
                     F.col(neighbor_col).alias("n_id")).distinct()
    a = approx.select(F.col(query_col).alias("q_id"),
                      F.col(neighbor_col).alias("n_id")).distinct()
    ec = e.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_exact"))
    ac = a.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_approx"))
    h = (e.join(a, ["q_id", "n_id"])
         .groupBy("q_id").agg(F.count(F.lit(1)).alias("n_hit")))
    out = (ec.join(ac, "q_id", "left").join(h, "q_id", "left")
           .select("q_id", "n_exact",
                   F.coalesce("n_approx", F.lit(0)).alias("n_approx"),
                   F.coalesce("n_hit", F.lit(0)).alias("n_hit")))
    # clamp: if the exact input carries more than k rows per query
    # (caller broke the top-k contract), n_hit can reach n_exact > k
    # while the denominator stays at k — cap recall at 1.0 rather than
    # report an impossible value
    rec = F.least(
        F.col("n_hit")
        / F.least(F.lit(int(k)), F.col("n_exact")).cast("double"),
        F.lit(1.0))
    if digits is not None:
        rec = F.round(rec, digits)
    return out.withColumn("recall", rec)


def ivf_probe_search_multi(df: DataFrame, id_col: str, vec_col: str,
                           centroid_filter: Column, query_filter: Column,
                           k: int = 3, nprobe: int = 2) -> DataFrame:
    """Multi-probe IVF search: route each query to its ``nprobe``
    nearest centroids (:func:`ivf_assign_topn`) and rank over the UNION
    of those clusters' members — the standard recall dial of an IVF
    deployment (:func:`ivf_probe_search` is the ``nprobe=1`` special
    case; recall rises toward 1.0 as nprobe approaches nlist, scan cost
    rises with it).

    Scale shape: the corpus is scored once per visited cluster member —
    ~``nprobe/nlist`` of the corpus per query — with the (small) query
    routing table broadcast; no pairwise all-to-all anywhere.

    Returns ``(q_id, n_id, cos_sim, rn)`` with rn 1..k."""
    cand = _multi_probe_candidates(df, id_col, vec_col, centroid_filter,
                                   query_filter, nprobe)
    return _topk_per_query(cand, k).select("q_id", "n_id", "cos_sim", "rn")


def _multi_probe_candidates(df: DataFrame, id_col: str, vec_col: str,
                            centroid_filter: Column, query_filter: Column,
                            nprobe: int) -> DataFrame:
    """Shared candidate generator: every (query, member-of-a-visited-
    cluster) pair scored once, tagged with ``q_rn`` = the probe rank of
    the member's home cluster for that query — so a grid of nprobe
    values re-ranks this ONE table instead of re-scanning the corpus
    (``q_rn <= p`` is exactly "visited under nprobe=p``, because
    top-n routing is nested by construction)."""
    assign = ivf_assign(df, id_col, vec_col, centroid_filter) \
        .select("vec_id", "cluster_id")
    topn = ivf_assign_topn(df, id_col, vec_col, centroid_filter,
                           nprobe=nprobe)
    queries = df.filter(query_filter) \
        .select(F.col(id_col).alias("vec_id"))
    q_routes = (topn.join(queries, "vec_id", "left_semi")
                .select(F.col("vec_id").alias("q_id"),
                        F.col("cluster_id").alias("q_cluster"),
                        F.col("rn").alias("q_rn")))
    qv = _with_norm(df.select(F.col(id_col).alias("q_id"),
                              _as_double(df, vec_col).alias("q_vec")),
                    "q_vec", "_qn")
    vecs = _with_norm(df.select(F.col(id_col).alias("n_id"),
                                _as_double(df, vec_col).alias("n_vec")),
                      "n_vec", "_nn")
    members = assign.select(F.col("vec_id").alias("n_id"), "cluster_id")
    return (F.broadcast(q_routes).join(qv, "q_id")
            .join(members, F.col("q_cluster") == F.col("cluster_id"))
            .join(vecs, "n_id")
            .filter(F.col("q_id") != F.col("n_id"))
            .select("q_id", "n_id", "q_rn",
                    _cos_pre(F.col("q_vec"), F.col("n_vec"),
                             F.col("_qn"), F.col("_nn"))
                    .alias("cos_sim")))


def tune_nprobe(df: DataFrame, id_col: str, vec_col: str,
                centroid_filter: Column, query_filter: Column,
                k: int = 3, nprobes=(1, 2, 4),
                digits: int = 6) -> DataFrame:
    """Recall-driven ANN tuning: sweep an nprobe grid and report, per
    grid point, the mean recall@k of multi-probe IVF search against the
    exact brute-force answer over the SAME bounded query sample, plus
    the candidate count (the scan-cost side of the trade) — the
    DoReMi/mixture-search grid pattern applied to ANN serving, answered
    ON the engine instead of guessed.

    ONE corpus pass regardless of grid size: candidates are scored once
    at max(nprobes) (:func:`_multi_probe_candidates`), then each grid
    point re-ranks the (queries x visited-members) table under
    ``q_rn <= p`` — nested routing makes the slice exactly what
    ``nprobe=p`` would have scanned. The exact side is one
    :func:`knn_bruteforce` over the same query sample. Everything
    downstream keys on (nprobe, q_id); the output is a |grid|-row
    table.

    Recall is monotone non-decreasing in nprobe by construction (the
    candidate sets are nested) — pinned by test. Deterministic end to
    end (rounded sims, total-order tie-breaks), so the full trajectory
    is value-oracled (oracle.tune_nprobe_sql).

    Returns ``(nprobe, n_queries, mean_recall, n_candidates)`` —
    ``n_candidates`` = total scored pairs at that nprobe, the cost
    denominator a deployment reads next to the recall."""
    from qvarn_mr_spark.session import pin

    spark = df.sparkSession
    probes = sorted({int(p) for p in nprobes})
    if not probes or probes[0] < 1:
        raise ValueError(f"tune_nprobe: invalid nprobe grid {nprobes!r}")
    exact = pin(knn_bruteforce(df, id_col, vec_col, query_filter, k)
                .select("q_id", "n_id"))
    cand = pin(_multi_probe_candidates(df, id_col, vec_col,
                                       centroid_filter, query_filter,
                                       probes[-1]))
    grid = spark.createDataFrame([(p,) for p in probes], "nprobe int")
    gc = cand.join(F.broadcast(grid), F.col("q_rn") <= F.col("nprobe"))
    topk = _topk_per_query(gc, k, keys=("nprobe", "q_id"))
    hits = (topk.join(exact, ["q_id", "n_id"])
            .groupBy("nprobe", "q_id")
            .agg(F.count(F.lit(1)).alias("n_hit")))
    ec = exact.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_exact"))
    per_q = (ec.crossJoin(F.broadcast(grid))
             .join(hits, ["nprobe", "q_id"], "left")
             .select("nprobe",
                     (F.coalesce(F.col("n_hit"), F.lit(0))
                      / F.least(F.lit(int(k)), F.col("n_exact"))
                      .cast("double")).alias("rec")))
    ncand = gc.groupBy("nprobe").agg(
        F.count(F.lit(1)).alias("n_candidates"))
    return (per_q.groupBy("nprobe")
            .agg(F.count(F.lit(1)).alias("n_queries"),
                 F.round(F.avg("rec"), digits).alias("mean_recall"))
            .join(ncand, "nprobe", "left")
            .select("nprobe", "n_queries", "mean_recall",
                    F.coalesce(F.col("n_candidates"), F.lit(0))
                    .alias("n_candidates")))
