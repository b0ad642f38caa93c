"""The composed training-data preparation pipeline.

Everything a corpus pass needs, in the order a production pipeline runs
it, as ONE call over the documents table:

1. **profile** — language guess, token count, quality score (all JVM
   Column expressions from :mod:`qvarn_mr_spark.functions.text`);
2. **filter** — drop documents below a quality floor / outside a token
   band / not in the allowed language set (plain pushdown-able filters —
   they run before anything expensive);
3. **dedup** — exact + MinHash-LSH near-dup collapse onto canonical docs
   (:func:`qvarn_mr_spark.functions.dedup.dedup_corpus`);
4. **split** — consistent-hash train/val/test assignment
   (:func:`qvarn_mr_spark.functions.sampling.assign_split` — no RNG,
   stable under retries and corpus growth).

Output: one row per SURVIVING document with its profile columns, the
canonical/duplicate mapping, and the split label. Dropped rows are
accounted for in the companion :func:`corpus_stats` summary rather than
silently vanishing — at 100 TB, "how much did each gate remove" is the
first question every pipeline owner asks.

Scale shape: steps 1-2 are narrow (no shuffle); step 3 shuffles the
filtered survivors only (filters run first by construction); step 4 is
narrow again. Nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from qvarn_mr_spark.functions.dedup import dedup_corpus, ensure_min_partitions
from qvarn_mr_spark.functions.sampling import assign_split
from qvarn_mr_spark.functions.text import profile_frame


def _gate_flow(df: DataFrame, id_col: str, text_col: str,
               min_quality: float, min_tokens: int, max_tokens: int,
               languages: list[str] | None,
               max_dup_word_frac: float | None,
               max_top_word_frac: float | None,
               decontaminate_against: DataFrame | None,
               decontam_k: int,
               strip_lines_min_frac: float | None,
               line_delimiter: str,
               classifier_weights: dict | None,
               classifier_threshold: float,
               c4_min_words: int | None,
               c4_min_terminal_frac: float,
               gopher_min_words: int | None,
               gopher_min_stopwords: int,
               perplexity_keep_buckets: int | None,
               perplexity_n_buckets: int,
               perplexity_method: str,
               dsir_target: DataFrame | None,
               dsir_k: int | None, dsir_frac: float | None,
               salt: str) -> tuple:
    """The shared front half of :func:`corpus_prepare` /
    :func:`corpus_funnel`: profile → heuristic gates → [c4] → [gopher]
    → [classifier] →
    [perplexity] → [decontaminate] → [DSIR select]. Returns
    ``(kept, stages)`` where
    ``kept`` carries ``(doc_id, _text, lang, n_tokens, quality)`` for
    every surviving document and ``stages`` is the ordered
    ``[(stage_name, survivors_df), ...]`` audit trail."""
    stages = [("input", df)]
    if strip_lines_min_frac is not None:
        from qvarn_mr_spark.functions.quality import line_dedup
        df = line_dedup(df, id_col, text_col, min_chars=2,
                        delimiter=line_delimiter,
                        min_doc_frac=strip_lines_min_frac) \
            .withColumnRenamed("doc_id", id_col) \
            .withColumnRenamed("text", text_col) \
            .drop("n_lines", "n_removed")
        stages.append(("line_strip", df))
    rep_gates = (max_dup_word_frac is not None
                 or max_top_word_frac is not None)
    # staged profile (profile_frame), NOT the per-column helpers: inlining
    # lang_guess + quality_score into one select blows Janino's 64 KB
    # method limit, silently dropping the whole projection out of codegen
    # (measured ~8x slower at sf0.1); the staged form is bit-identical
    profiled = profile_frame(
        ensure_min_partitions(
            df.select(F.col(id_col).alias("doc_id"),
                      F.col(text_col).alias("text"))),
        "text", ("doc_id",), keep_text=True
    ).select("doc_id", "_text",
             F.col("lang_guess").alias("lang"),
             "n_tokens", "quality")
    if rep_gates:
        from qvarn_mr_spark.functions.quality import repetition_signals
        sig = repetition_signals("_text")
        profiled = profiled.withColumns({
            "_dup_word_frac": sig["dup_word_frac"],
            "_top_word_frac": sig["top_word_frac"]})
    # materialize the profile ONCE, and BEFORE the gates: the dedup
    # subtree scans the survivors many times (fingerprint, keeper
    # semi-join, shingles, minhash) and the final join reads them again;
    # and filtering first would let Catalyst substitute the quality/token
    # predicates below the repartition Exchange, re-running the heavy
    # text expressions inside the (possibly single-split) scan stage.
    # After the checkpoint the gates are cheap column comparisons. Swap
    # for reliable checkpoint() on a real cluster, same as dup_clusters.
    profiled = profiled.localCheckpoint(eager=True)
    kept = profiled.filter(
        (F.col("quality") >= min_quality)
        & (F.col("n_tokens") >= min_tokens)
        & (F.col("n_tokens") <= max_tokens))
    if languages is not None:
        kept = kept.filter(F.col("lang").isin(list(languages)))
    if max_dup_word_frac is not None:
        kept = kept.filter(F.col("_dup_word_frac") <= max_dup_word_frac)
    if max_top_word_frac is not None:
        kept = kept.filter(F.col("_top_word_frac") <= max_top_word_frac)
    if rep_gates:
        kept = kept.drop("_dup_word_frac", "_top_word_frac")
    stages.append(("gates", kept))
    if c4_min_words is not None:
        from qvarn_mr_spark.functions.quality import c4_filter
        # word ceiling TIED to the token band (ADVICE r10): profile
        # n_tokens and c4 n_words are the same whitespace count, so
        # max_words=max_tokens is a no-op AFTER the band (oracle CTEs
        # unchanged) while keeping an upper bound engaged for callers
        # who raise max_tokens; corpus_gate_stream's c4 stage does the
        # same — the lockstep the stream==batch conformance pins
        kept = c4_filter(kept, text_col="_text",
                         min_words=c4_min_words, max_words=max_tokens,
                         min_terminal_frac=c4_min_terminal_frac)
        stages.append(("c4", kept))
    if gopher_min_words is not None:
        from qvarn_mr_spark.functions.quality import gopher_filter
        # same band-tied ceiling as the stream's gopher stage
        kept = gopher_filter(kept, text_col="_text",
                             min_words=gopher_min_words,
                             max_words=max_tokens,
                             min_stopwords=gopher_min_stopwords)
        stages.append(("gopher", kept))
    if classifier_weights is not None:
        from qvarn_mr_spark.functions.classifier import score_expr
        kept = kept.filter(score_expr(classifier_weights,
                                      text_col="_text")
                           >= classifier_threshold)
        stages.append(("classifier", kept))
    if perplexity_keep_buckets is not None:
        from qvarn_mr_spark.functions.quality import perplexity_buckets
        pb = perplexity_buckets(
            kept.select("doc_id", F.col("_text").alias("text"), "lang"),
            "doc_id", "text", by="lang",
            n_buckets=perplexity_n_buckets, method=perplexity_method)
        # the LM is fitted on the survivors themselves (the corpus the
        # gate protects), buckets split per PROFILED language; the keep
        # set is corpus-sized, so the join back is a plain semi-join
        kept = kept.join(
            pb.filter(F.col("bucket") <= perplexity_keep_buckets)
              .select("doc_id"), "doc_id")
        stages.append(("perplexity", kept))
    if decontaminate_against is not None:
        from qvarn_mr_spark.functions.quality import contamination
        hits = contamination(
            kept.select("doc_id", F.col("_text").alias("text")),
            decontaminate_against.select(
                F.col(id_col).alias("doc_id"),
                F.col(text_col).alias("text")),
            "doc_id", "text", k=decontam_k)
        kept = kept.join(hits.select("doc_id"), "doc_id", "left_anti")
        stages.append(("decontaminated", kept))
    if dsir_target is not None:
        if dsir_k is None and dsir_frac is None:
            raise ValueError("dsir_target requires dsir_k or dsir_frac")
        import math

        from qvarn_mr_spark.functions.sampling import dsir_resample
        k = (int(dsir_k) if dsir_k is not None
             else max(1, math.ceil(float(dsir_frac) * kept.count())))
        pick = dsir_resample(
            kept.select("doc_id", F.col("_text").alias("text")),
            dsir_target.select(F.col(id_col).alias("doc_id"),
                               F.col(text_col).alias("text")),
            k=k, salt=f"{salt}-dsir")
        # pick is k rows — the join back is a broadcast semi-join, narrow
        kept = kept.join(F.broadcast(pick.select("doc_id")), "doc_id")
        stages.append(("dsir", kept))
    return kept, stages


def corpus_prepare(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   min_quality: float = 0.3,
                   min_tokens: int = 5, max_tokens: int = 100_000,
                   languages: list[str] | None = None,
                   max_dup_word_frac: float | None = None,
                   max_top_word_frac: float | None = None,
                   decontaminate_against: DataFrame | None = None,
                   decontam_k: int = 4,
                   strip_lines_min_frac: float | None = None,
                   line_delimiter: str = "\n",
                   classifier_weights: dict | None = None,
                   classifier_threshold: float = 0.5,
                   c4_min_words: int | None = None,
                   c4_min_terminal_frac: float = 0.0,
                   gopher_min_words: int | None = None,
                   gopher_min_stopwords: int = 2,
                   perplexity_keep_buckets: int | None = None,
                   perplexity_n_buckets: int = 3,
                   perplexity_method: str = "ntile",
                   dsir_target: DataFrame | None = None,
                   dsir_k: int | None = None,
                   dsir_frac: float | None = None,
                   jaccard_threshold: float = 0.5,
                   split_weights: dict[str, float] | None = None,
                   salt: str = "corpus") -> DataFrame:
    """Profile → filter → [repetition gates] → [decontaminate] →
    [DSIR select] → dedup → split. Returns one row per surviving
    (canonical, in-band, in-language) document:

    ``(doc_id, lang, n_tokens, quality, split, n_duplicates)`` —
    ``n_duplicates`` counts the near/exact duplicates this document
    absorbed (0 for unique docs), so downsampling-by-duplication-count
    stays expressible downstream.

    Optional gates (default off — output unchanged when unset):

    - ``max_dup_word_frac`` / ``max_top_word_frac`` — Gopher-style
      repetition ceilings (:func:`qvarn_mr_spark.functions.quality.
      repetition_signals`), computed in the same narrow profile stage;
    - ``decontaminate_against`` — an eval/benchmark DataFrame (same
      id/text columns); docs sharing any word ``decontam_k``-gram with it
      are dropped BEFORE the dedup shuffle (anti-join on the hit list,
      :func:`qvarn_mr_spark.functions.quality.contamination`);
    - ``strip_lines_min_frac`` — CCNet-style boilerplate stripping
      (:func:`qvarn_mr_spark.functions.quality.line_dedup`): before
      anything else, remove every ``line_delimiter``-split segment whose
      normalized form appears in at least that fraction of documents —
      so headers/footers neither pollute the quality profile nor glue
      unrelated documents together in the dedup pass;
    - ``classifier_weights`` — a fitted model from
      :func:`qvarn_mr_spark.functions.classifier.train_logreg`: rows
      scoring below ``classifier_threshold`` are dropped in the SAME
      narrow gate stage as the heuristic filters (the score is a pure
      Column over the profiled text — no extra pass);
    - ``c4_min_words`` (+ ``c4_min_terminal_frac``) — the C4 page rules
      (:func:`qvarn_mr_spark.functions.quality.c4_filter`): word-count
      floor, lorem-ipsum / curly-brace / policy-phrase / blocklist
      markers, and the per-line terminal-punctuation floor — a second
      narrow scan-stage gate between the heuristics and the classifier;
    - ``dsir_target`` (+ ``dsir_k`` or ``dsir_frac``) — DSIR importance
      resampling (:func:`qvarn_mr_spark.functions.sampling.
      dsir_resample`, Xie et al. 2023): keep only the ``dsir_k`` (or
      ``ceil(dsir_frac · |survivors|)``) gated documents whose
      hashed-ngram bags look most like the target corpus, BEFORE the
      dedup shuffle — so dedup pays for target-matched survivors only.
      Selection is deterministic (hash-Gumbel top-k) and the k-row pick
      joins back as a broadcast semi-join.

    Per-stage drop accounting lives in :func:`corpus_funnel` — same
    arguments, returns the how-much-did-each-gate-remove table.
    """
    if split_weights is None:
        split_weights = {"train": 0.98, "val": 0.01, "test": 0.01}
    kept, _ = _gate_flow(
        df, id_col, text_col, min_quality, min_tokens, max_tokens,
        languages, max_dup_word_frac, max_top_word_frac,
        decontaminate_against, decontam_k, strip_lines_min_frac,
        line_delimiter, classifier_weights, classifier_threshold,
        c4_min_words, c4_min_terminal_frac, gopher_min_words,
        gopher_min_stopwords,
        perplexity_keep_buckets, perplexity_n_buckets, perplexity_method,
        dsir_target, dsir_k, dsir_frac, salt)

    clusters = dedup_corpus(kept.select("doc_id", F.col("_text").alias("text")),
                            "doc_id", "text",
                            jaccard_threshold=jaccard_threshold)
    # clusters is consumed twice (sizes + canonical) and is skinny
    # (3 columns, one row per survivor) — pin it rather than re-deriving
    # the fingerprint join under each consumer
    clusters = clusters.localCheckpoint(eager=True)
    sizes = (clusters.groupBy("canonical_id")
             .agg((F.count(F.lit(1)) - 1).alias("n_duplicates")))
    canonical = (clusters.filter(F.col("is_canonical"))
                 .select("doc_id").join(sizes,
                                        F.col("doc_id")
                                        == F.col("canonical_id"))
                 .select("doc_id", "n_duplicates"))
    out = kept.join(canonical, "doc_id").drop("_text")
    return assign_split(out, "doc_id", split_weights, salt=salt)


def corpus_funnel(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text",
                  min_quality: float = 0.3,
                  min_tokens: int = 5, max_tokens: int = 100_000,
                  languages: list[str] | None = None,
                  max_dup_word_frac: float | None = None,
                  max_top_word_frac: float | None = None,
                  decontaminate_against: DataFrame | None = None,
                  decontam_k: int = 4,
                  strip_lines_min_frac: float | None = None,
                  line_delimiter: str = "\n",
                  classifier_weights: dict | None = None,
                  classifier_threshold: float = 0.5,
                  c4_min_words: int | None = None,
                  c4_min_terminal_frac: float = 0.0,
                  gopher_min_words: int | None = None,
                  gopher_min_stopwords: int = 2,
                  perplexity_keep_buckets: int | None = None,
                  perplexity_n_buckets: int = 3,
                  perplexity_method: str = "ntile",
                  dsir_target: DataFrame | None = None,
                  dsir_k: int | None = None,
                  dsir_frac: float | None = None,
                  jaccard_threshold: float = 0.5,
                  salt: str = "corpus") -> DataFrame:
    """The gate-accounting companion of :func:`corpus_prepare` (same
    arguments): per pipeline stage, how many documents SURVIVED it —
    the "how much did each gate remove" table every pipeline owner asks
    for first at 100 TB. Stages present only when their gate is on::

        input → [line_strip] → gates → [c4] → [gopher] → [classifier]
              → [perplexity] → [decontaminated] → [dsir] → canonical

    Returns ``(stage_idx, stage, n_docs)``, one row per stage,
    ``stage_idx`` preserving funnel order. Each count is a one-row
    aggregate over that stage's surviving frame — an audit job that
    shares the profile checkpoint with the main pass, so only the
    post-gate stages (decontaminate, DSIR, dedup) re-execute their own
    subtrees."""
    from functools import reduce

    kept, stages = _gate_flow(
        df, id_col, text_col, min_quality, min_tokens, max_tokens,
        languages, max_dup_word_frac, max_top_word_frac,
        decontaminate_against, decontam_k, strip_lines_min_frac,
        line_delimiter, classifier_weights, classifier_threshold,
        c4_min_words, c4_min_terminal_frac, gopher_min_words,
        gopher_min_stopwords,
        perplexity_keep_buckets, perplexity_n_buckets, perplexity_method,
        dsir_target, dsir_k, dsir_frac, salt)
    canonical = dedup_corpus(
        kept.select("doc_id", F.col("_text").alias("text")),
        "doc_id", "text", jaccard_threshold=jaccard_threshold) \
        .filter(F.col("is_canonical"))
    stages = stages + [("canonical", canonical)]
    counts = [
        s.agg(F.count(F.lit(1)).alias("n_docs"))
         .select(F.lit(i).alias("stage_idx"), F.lit(name).alias("stage"),
                 "n_docs")
        for i, (name, s) in enumerate(stages)]
    return reduce(DataFrame.unionByName, counts)


def corpus_gate_stream(stream: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       min_quality: float = 0.3,
                       min_tokens: int = 5, max_tokens: int = 100_000,
                       languages: list[str] | None = None,
                       c4_min_words: int | None = None,
                       c4_min_terminal_frac: float = 0.0,
                       gopher_min_words: int | None = None,
                       gopher_min_stopwords: int = 2,
                       classifier_weights: dict | None = None,
                       classifier_threshold: float = 0.5,
                       surprisal_lm: dict | None = None,
                       max_mean_nll: float | None = None,
                       watermark: str | None = None,
                       ts_col: str | None = None,
                       lsh_index: DataFrame | None = None,
                       lsh_n_hashes: int | None = None,
                       lsh_n_bands: int | None = None) -> DataFrame:
    """Streaming twin of :func:`corpus_prepare`'s gate + exact-dedup
    stages: an ingest stream of documents is profiled (the SAME staged
    ``profile_frame`` expressions — stateless Columns, so they apply to
    a stream unchanged), gated on quality / token band / language /
    [C4] / [Gopher] / [classifier score] (every gate a stateless
    Column, same stage order as the batch ``_gate_flow``), and
    first-seen-deduplicated on the profile's normalized fingerprint —
    ``dropDuplicates`` state holds ONE entry per distinct fp, or is
    event-time-TTL'd via ``dropDuplicatesWithinWatermark`` when
    ``watermark``/``ts_col`` are given (the bounded-memory form an
    unbounded ingest needs).

    Near-dup gating against the MAINTAINED LSH index (r13, VERDICT r12
    #7): pass ``lsh_index`` (the normalized ``(_mr_key = band_bucket,
    _mr_value = doc_id)`` table of :func:`qvarn_mr_spark.functions.
    dedup.lsh_index_views`, read via ``IncrementalEngine.read``) and
    every surviving doc is probed against it — a doc ANY of whose band
    keys lands in a bucket holding a DIFFERENT doc is dropped. The
    stream form is one stream-static LEFT ANTI equi-join per band
    (``lsh_n_bands`` of them, default 4): append-mode-safe, zero
    streaming state, no watermark needed, and each join is an ordinary
    distributed hash/merge join — the per-doc "any band collides"
    disjunction is expressed as the conjunction of per-band anti-joins
    instead of a stream-side aggregation (which append mode would
    reject) or an ``array_contains`` theta-join (which would force a
    nested-loop broadcast of the index). Cost: the index scans once per
    band per micro-batch; for delta-bounded probing with literal
    key pushdown (one index touch, ``IN``-pruned row groups) use the
    foreachBatch twin :func:`qvarn_mr_spark.functions.dedup.
    lsh_gate_batch` inside the sink instead — same survivor set,
    pytest-pinned. Docs the index can't key (no shingles → empty band
    array) pass through ungated, the ADVICE-r10 rule: a gate only
    drops what a rule rejected.

    This operator remains the stateless+fingerprint front half
    otherwise; the exact-fp dedup runs BEFORE the probe so only
    first-seen docs pay the index joins.

    Returns surviving rows ``(doc_id, text, lang, n_tokens, quality,
    fp[, ts])`` — stream==batch conformance is pytest-pinned against
    the batch gates + first-seen exact dedup."""
    cols = [F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")]
    if ts_col is not None:
        cols.append(F.col(ts_col).alias("ts"))
    prof = profile_frame(stream.select(*cols), "text",
                         ("doc_id", "ts") if ts_col is not None
                         else ("doc_id",), keep_text=True)
    gated = prof.filter(
        (F.col("quality") >= min_quality)
        & F.col("n_tokens").between(min_tokens, max_tokens))
    if languages:
        gated = gated.filter(F.col("lang_guess").isin(list(languages)))
    if c4_min_words is not None:
        # the C4 rules are stateless Column expressions — they apply to
        # a stream unchanged, same as the profile gates above
        from qvarn_mr_spark.functions.quality import c4_filter
        # word ceiling tied to the token band (ADVICE r10) — identical
        # counts, so a no-op post-band, but the cap stays engaged when
        # a caller raises max_tokens; lockstep with _gate_flow's stage
        gated = c4_filter(gated, text_col="_text",
                          min_words=c4_min_words, max_words=max_tokens,
                          min_terminal_frac=c4_min_terminal_frac)
    if gopher_min_words is not None:
        # gopher_signals are stateless Columns too — same defaults and
        # ordering as the batch pipeline's gopher stage (_gate_flow),
        # band-tied ceiling for the same reason
        from qvarn_mr_spark.functions.quality import gopher_filter
        gated = gopher_filter(gated, text_col="_text",
                              min_words=gopher_min_words,
                              max_words=max_tokens,
                              min_stopwords=gopher_min_stopwords)
    if classifier_weights is not None:
        # the fitted logreg is a pure sigmoid Column over the profiled
        # text (functions/classifier.py) — stateless, so it streams
        # unchanged; same stage order as _gate_flow (after gopher,
        # before the fingerprint dedup)
        from qvarn_mr_spark.functions.classifier import score_expr
        gated = gated.filter(
            score_expr(classifier_weights, text_col="_text")
            >= classifier_threshold)
    if (surprisal_lm is None) != (max_mean_nll is None):
        raise ValueError("corpus_gate_stream: surprisal_lm and "
                         "max_mean_nll go together")
    if surprisal_lm is not None:
        # perplexity gate under a PINNED exported LM
        # (text.export_unigram_lm → unigram_surprisal_stream): a
        # stateless Arrow-batched scorer against the closure-shipped
        # model — the CCNet move, streamable with no LM join and no
        # aggregation state. The profile's n_tokens steps aside so the
        # scorer's own token count can't collide with it.
        from qvarn_mr_spark.functions.dedup import tokens_col
        from qvarn_mr_spark.functions.text import unigram_surprisal_stream
        gated = gated.withColumnRenamed("n_tokens", "_gate_nt")
        # docs whose WORD tokenization is empty (punctuation/symbol-only
        # text that still passed the whitespace-token band) cannot be
        # perplexity-scored — they pass through UNSCORED rather than
        # silently vanishing in the scorer's explode (ADVICE r10): a
        # gate must only drop what a rule rejected
        unscorable = gated.filter(F.size(tokens_col("_text")) == 0)
        scored = unigram_surprisal_stream(
            gated.filter(F.size(tokens_col("_text")) > 0),
            surprisal_lm, "doc_id", "_text",
            keep=tuple(c for c in gated.columns if c != "doc_id"))
        gated = (scored.filter(F.col("mean_nll") <= float(max_mean_nll))
                 .drop("n_tokens", "mean_nll")
                 .unionByName(unscorable)
                 .withColumnRenamed("_gate_nt", "n_tokens"))
    out = gated.select(
        "doc_id", F.col("_text").alias("text"),
        F.col("lang_guess").alias("lang"), "n_tokens", "quality", "fp",
        *(["ts"] if ts_col is not None else []))
    if watermark is not None:
        if ts_col is None:
            raise ValueError("watermark requires ts_col")
        deduped = (out.withWatermark("ts", watermark)
                   .dropDuplicatesWithinWatermark(["fp"]))
    else:
        deduped = out.dropDuplicates(["fp"])
    if lsh_index is None:
        return deduped
    from qvarn_mr_spark.functions.dedup import (
        MINHASH_BANDS,
        MINHASH_N,
        minhash_band_keys_col,
    )
    n_hashes = MINHASH_N if lsh_n_hashes is None else int(lsh_n_hashes)
    n_bands = MINHASH_BANDS if lsh_n_bands is None else int(lsh_n_bands)
    gated = deduped.withColumn(
        "_lsh_keys", minhash_band_keys_col("text", n_hashes, n_bands))
    for b in range(n_bands):
        # fresh alias per band: the same index frame joins n_bands
        # times and left-anti output carries no right-side columns,
        # but distinct aliases keep every join's resolution unambiguous
        idx = lsh_index.select(
            F.col("_mr_key").alias(f"_ik{b}"),
            F.col("_mr_value").alias(f"_im{b}"))
        gated = gated.join(
            idx,
            (F.get(F.col("_lsh_keys"), b) == F.col(f"_ik{b}"))
            & (F.col(f"_im{b}") != F.col("doc_id")),
            "left_anti")
    return gated.drop("_lsh_keys")


def corpus_stats(df: DataFrame, prepared: DataFrame,
                 id_col: str = "doc_id") -> DataFrame:
    """Gate accounting: how many input docs survived, per split, plus how
    many were absorbed as duplicates. One small aggregate over each side
    (the prepared side is already canonical-only)."""
    total = df.select(F.count(F.lit(1)).alias("n_input"))
    per_split = (prepared.groupBy("split")
                 .agg(F.count(F.lit(1)).alias("n_docs"),
                      F.sum("n_duplicates").alias("n_absorbed"),
                      F.sum("n_tokens").alias("n_tokens")))
    return per_split.crossJoin(total).select(
        "split", "n_docs", "n_absorbed", "n_tokens", "n_input")


def export_training_shards(df: DataFrame, path: str,
                           id_col: str = "doc_id",
                           text_col: str = "text", window: int = 512,
                           shards: int = 8,
                           split_weights: dict[str, float] | None = None,
                           salt: str = "corpus") -> DataFrame:
    """The last mile: documents → packed training sequences on disk.

    Per split (consistent-hash assignment — no sequence ever crosses a
    split boundary): compute the ``window``-token packing table
    (:func:`qvarn_mr_spark.functions.packing.pack_sequences`, the
    scalable two-phase cumsum), assign every document's starting pack to
    one of ``shards`` hash shards, and write parquet partitioned by
    ``(split, shard)`` — the layout a distributed trainer reads with one
    directory glob per worker. Everything is deterministic (hash splits,
    id-ordered packing), so re-export reproduces byte-identical
    assignments.

    Returns the export manifest: ``(split, shard, n_docs, n_tokens,
    n_packs)`` per written partition."""
    from qvarn_mr_spark.functions.packing import pack_sequences
    from qvarn_mr_spark.functions.sampling import assign_split

    if split_weights is None:
        split_weights = {"train": 0.98, "val": 0.01, "test": 0.01}
    assigned = assign_split(
        df.select(F.col(id_col).alias("doc_id"),
                  F.col(text_col).alias("text")),
        "doc_id", split_weights, salt=salt)
    for split in sorted(split_weights):
        docs = assigned.filter(F.col("split") == split).drop("split")
        packed = pack_sequences(docs, "doc_id", "text", window=window)
        out = (packed.join(docs, "doc_id")
               .withColumn("shard",
                           F.pmod(F.xxhash64(F.lit(salt), "pack_first"),
                                  F.lit(shards)).cast("int"))
               .withColumn("split", F.lit(split)))
        (out.select("split", "shard", "doc_id", "text", "n_tokens",
                    "start_offset", "pack_first", "pack_last")
         .write.mode("overwrite" if split == sorted(split_weights)[0]
                     else "append")
         .partitionBy("split", "shard").parquet(path))
    spark = df.sparkSession
    written = spark.read.parquet(path)
    return (written.groupBy("split", "shard")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("n_tokens"),
                 F.count_distinct("pack_first").alias("n_packs"))
            .orderBy("split", "shard"))
