"""Deduplication operators for large-scale training-data pipelines.

The reference engine has no dedup surface (its per-key newest-wins dedup,
``/root/reference/qvarnmr/processor.py:181-189``, is bookkeeping, not content
dedup). These are the content-dedup operators a 100 TB corpus pipeline needs,
each expressed as DataFrame transformations whose physical plan scales:

- **exact dedup**          — hash-groupBy on a normalized fingerprint: one
                             shuffle on the hash, trivially parallel.
- **n-gram Jaccard**       — shingle → explode → self-equi-join on shingle →
                             pair aggregation. The join key (shingle) is the
                             high-cardinality dimension, so the shuffle spreads
                             evenly; frequent-shingle skew is handled by AQE
                             skew-join splitting (enabled in session.py).
- **MinHash + LSH banding**— the scale path: per-doc signature (one groupBy),
                             band → bucket self-join. Candidate generation cost
                             is O(#bucket-collisions), not O(n²).
- **SimHash**              — per-doc 16-bit signature via per-bit majority
                             vote: explode tokens → one groupBy(doc) with 16
                             conditional sums — a single shuffle.

Everything is built from JVM-side ``pyspark.sql.functions`` (no Python UDFs):
the hash primitive is ``md5`` (hex string), deterministic and reproducible in
any SQL engine, which is what makes the DuckDB oracles in
``qvarn_mr_spark/oracle.py`` possible. Shared constants below are imported by
the oracle builders so both sides stay in lockstep.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from qvarn_mr_spark.session import pin

#: Tokenization: lowercase, split on runs of non-alphanumerics, drop empties.
TOKEN_RE = "[^a-z0-9]+"
#: Word-shingle width for Jaccard / MinHash.
SHINGLE_K = 3
#: Number of MinHash hash functions and LSH band layout (bands of ROWS each).
MINHASH_N = 8
MINHASH_BANDS = 4
MINHASH_ROWS = MINHASH_N // MINHASH_BANDS
#: SimHash signature width (bits) — 4 hex chars of md5.
SIMHASH_BITS = 16
#: Bands for SimHash LSH pairing: 4 bands x 4 bits over the 16-bit signature.
#: Pigeonhole: two signatures with hamming distance ≤ SIMHASH_BANDS-1 agree
#: on at least one whole band, so banded candidate generation is EXACT for
#: distance ≤ 3 (the verify-after filter only removes false positives).
SIMHASH_BANDS = 4
HEX_DIGITS = "0123456789abcdef"


def _size_bytes(v: str) -> int:
    """Parse a Spark byte-size conf value ("134217728b", "128MB", "1g")."""
    s = v.strip().lower()
    for suf, mult in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                      ("tb", 1 << 40), ("k", 1 << 10), ("m", 1 << 20),
                      ("g", 1 << 30), ("t", 1 << 40), ("b", 1)):
        if s.endswith(suf):
            return int(float(s[: -len(suf)])) * mult
    return int(s)


def ensure_min_partitions(df: DataFrame) -> DataFrame:
    """Spread a narrow file-backed input across the session's shuffle
    parallelism.

    A small corpus arriving as one parquet file would otherwise run every
    downstream per-row computation — tokenize, shingle, md5 — on a single
    task, serializing the whole candidate pipeline. The guard estimates
    the scan's split count from ``inputFiles()`` plus (where the files
    are locally stat-able) ``spark.sql.files.maxPartitionBytes`` — never
    touching ``df.rdd``, whose Python-RDD conversion forces an extra
    plan compilation on every dedup entry path. No-op whenever the
    estimate reaches ``spark.sql.shuffle.partitions`` (the 100 TB case:
    file count alone exceeds it) and for non-file sources (in-memory
    test frames, post-shuffle intermediates — those already carry their
    upstream parallelism), so this never adds a corpus-wide shuffle at
    scale."""
    spark = df.sparkSession
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    files = df.inputFiles()
    if not files or len(files) >= target:
        return df
    splits = len(files)
    try:
        import os
        from urllib.parse import unquote, urlparse
        mpb = _size_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes"))
        local = [urlparse(f) for f in files]
        if all(u.scheme in ("file", "") for u in local):
            # Spark splits large files at maxPartitionBytes: count those
            # splits so a few-huge-files corpus is recognized as already
            # parallel instead of paying a pointless full shuffle
            splits = sum(
                max(1, -(-os.path.getsize(unquote(u.path)) // mpb))
                for u in local)
    except OSError:
        pass  # sizes not visible — fall back to the file count
    if splits < target:
        return df.repartition(target)
    return df


def tokens_col(col: Column | str) -> Column:
    """Array of normalized word tokens (no empties)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), TOKEN_RE), lambda x: x != "")


def shingles_col(col: Column | str, k: int = SHINGLE_K) -> Column:
    """Array of word ``k``-shingles (space-joined k-grams). Documents shorter
    than ``k`` tokens produce an empty array.

    Built by ``zip_with``-folding ``k`` shifted slices of the token array
    (positions ``1..m``, ``2..m+1``, …) rather than
    ``transform(sequence(1, m), i -> concat_ws(slice(t, i, k)))``: the
    per-index ``slice`` copies an array per element and the whole
    higher-order expression evaluates interpreted, measured 5× slower at
    sf0.1 (3.4 s vs 0.7 s for the exploded shingle stream). The shifted
    slices are k whole-array copies total instead of one per shingle, and
    the fold stays inside codegen'd projection — same output, same order.
    """
    t = tokens_col(col)
    m = F.greatest(F.size(t) - (k - 1), F.lit(0))
    grams = F.slice(t, 1, m)
    for j in range(1, k):
        grams = F.zip_with(grams, F.slice(t, j + 1, m),
                           lambda x, y: F.concat(x, F.lit(" "), y))
    return grams
    # NOTE on expr_let: binding the token array here cuts a RAW
    # explode-of-shingles pass 4× (the k shifted slices re-tokenize per
    # reference), but every production consumer reads shingles through
    # shingle_table's exchange — computed once, shuffle-reused — so the
    # win never reaches them (dedup_jaccard measured unchanged). Kept
    # inline to avoid gratuitous lambda nesting; expr_let remains right
    # for the per-row band-key Columns, which have no exchange to hide
    # behind.


def shingle_table(df: DataFrame, id_col: str, text_col: str,
                  k: int = SHINGLE_K) -> DataFrame:
    """Distinct ``(id, shingle)`` pairs — the dedup working set.

    Deliberately ``explode().distinct()`` rather than the narrow
    ``array_distinct``-before-explode: downstream consumers (per-doc counts
    + both sides of the shingle self-join) all read this subtree, and the
    distinct's Exchange becomes a ReusedExchange — the expensive
    tokenize/shingle projection runs ONCE and is served from shuffle files.
    The shuffle-free variant recomputes it per consumer and measured ~2×
    slower end-to-end at sf0.1."""
    return (
        df.select(F.col(id_col).alias("doc_id"),
                  F.explode(shingles_col(text_col, k)).alias("shingle"))
        .distinct()
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact (after text normalization) duplicate groups.

    Returns ``(fp, n_dups, keeper_id)`` — md5 fingerprint of the normalized
    text, group size, and the smallest id as the canonical survivor. One
    hash-aggregate; at 100 TB the shuffle carries (fp, id) pairs only.
    """
    from qvarn_mr_spark.functions.text import fingerprint

    return (
        df.select(F.col(id_col).alias("doc_id"),
                  fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_dups"),
             F.min("doc_id").alias("keeper_id"))
    )


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        k: int = SHINGLE_K, min_common: int = 2,
                        max_df: int | None = None) -> DataFrame:
    """Candidate near-duplicate pairs by word-``k``-gram Jaccard similarity.

    Self-equi-join of the shingle table on ``shingle`` (a < b), then one
    aggregation per pair; per-doc shingle counts join back (broadcast — the
    count table is |docs| rows, tiny next to the pair stream). Returns
    ``(a_id, b_id, n_common, jaccard)`` for pairs sharing ≥ ``min_common``
    shingles.

    Scale: cost is Σ_shingle df(s)² — bounded by shingle frequency, not n².
    ``max_df`` caps that quadratic term: shingles occurring in more than
    ``max_df`` documents (boilerplate/stopword shingles — the classic
    frequency cutoff from shingling literature) are dropped BEFORE the
    self-join, so no shingle contributes more than max_df² pairs. Jaccard
    is then over the *filtered* shingle sets — the per-doc counts exclude
    dropped shingles too, keeping the measure internally consistent.
    Boilerplate shingles carry no dedup signal (they match everything), so
    the cutoff removes noise pairs as well as cost; MinHash below remains
    the preferred O(n·sig) route at extreme scale.
    """
    sh = shingle_table(df, id_col, text_col, k)
    # persist: four consumers read this subtree (both self-join sides +
    # both count tables). Catalyst's ReusedExchange shared it while the
    # count joins were hint-broadcast; with AQE choosing the strategy at
    # runtime the stages canonicalize differently and the reuse is lost —
    # an explicit MEMORY_AND_DISK persist pins one computation at any
    # scale (spills gracefully; LRU-evicted when cold).
    sh = pin(sh)
    if max_df is not None:
        # keep-list via groupBy over the same shingle-table subtree: its
        # Exchange is reused (the distinct already shuffled on shingle),
        # and the semi-join prunes before the quadratic expansion
        keep = (sh.groupBy("shingle")
                .agg(F.count(F.lit(1)).alias("_df"))
                .filter(F.col("_df") <= max_df)
                .select("shingle"))
        sh = sh.join(keep, "shingle", "left_semi")
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("a_id"), "shingle")
    b = sh.select(F.col("doc_id").alias("b_id"), "shingle")
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    ca = counts.select(F.col("doc_id").alias("a_id"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("b_id"), F.col("n_sh").alias("n_b"))
    # No broadcast hint on the per-doc count tables: they are |docs| rows —
    # corpus-cardinality, a driver/executor OOM if forcibly broadcast at
    # 100 TB. The skinny (doc_id, n_sh) equi-join shuffles cheaply; AQE
    # still picks broadcast at runtime when the side is actually small.
    return (
        pairs.join(ca, "a_id").join(cb, "b_id")
        .select(
            "a_id", "b_id", "n_common",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
            ).alias("jaccard"),
        )
    )


def _minhash_seed(s: int) -> str:
    """Seed string for digest ``s`` — single letters a..z for the first 26
    (bit-compatible with the fixed pre-parameterization scheme, which only
    ever used 'a'/'b'), then an unambiguous multi-char form."""
    return chr(ord("a") + s) if s < 26 else f"z{s}"


def _minhash_cols(n_hashes: int = MINHASH_N) -> list[Column]:
    """Hash function i = 8-hex-char slice i%4 of ``md5(seed_{i//4} ||
    shingle)`` — min over hex strings is a valid MinHash (uniform
    order-preserving 32-bit hash), bit-reproducible in any engine with
    md5. Slicing four independent hashes out of each digest means
    ``n_hashes/4`` md5 evaluations per shingle instead of ``n_hashes``
    (codegen CSE shares the digest across the four min-aggregates) —
    measured ~4x less hashing work at sf0.1 with identical LSH behavior."""
    cols = []
    for i in range(n_hashes):
        seed = _minhash_seed(i // 4)
        digest = F.md5(F.concat(F.lit(f"{seed}|"), F.col("shingle")))
        cols.append(F.min(F.substring(digest, 1 + 8 * (i % 4), 8))
                    .alias(f"h{i}"))
    return cols


#: Modulus of the linear MinHash family — Mersenne prime 2^31−1 (the
#: same prime family Spark MLlib's MinHashLSH uses). The base value is
#: reduced mod p first, so ``a·v + b`` < 2^62: inside signed-64
#: arithmetic on BOTH engines (Spark ANSI overflow-safe), and with
#: a ∈ [1, p−1] the permutation wraps ~a times across the value range —
#: a 61-bit modulus with 64-bit-safe (i.e. small) multipliers would
#: wrap at most once, leaving every permutation nearly monotonic in v
#: and the per-document mins correlated across hash functions (measured:
#: 5.7× candidate inflation). Full-range a needs the small prime.
MINHASH_P31 = (1 << 31) - 1


def _linear_hash_params(i: int) -> tuple[int, int]:
    """(aᵢ, bᵢ) for linear MinHash permutation ``i``, derived from md5 of
    fixed tags — the oracle builder calls THIS function, so the two
    engines cannot drift. ``a`` uniform in [1, p−1], ``b`` in [0, p−1]:
    the textbook universal family over the 31-bit Mersenne prime."""
    import hashlib
    a = int(hashlib.md5(f"mha|{i}".encode()).hexdigest()[:15], 16) \
        % (MINHASH_P31 - 1) + 1
    b = int(hashlib.md5(f"mhb|{i}".encode()).hexdigest()[:15], 16) \
        % MINHASH_P31
    return a, b


def _minhash_base_col() -> Column:
    """32-bit base hash per shingle — first 8 md5 hex chars as an int.

    The point of the linear family: ONE digest per shingle regardless of
    signature width, where the md5-slice family needs ``n_hashes/4``
    digests. At 128 hashes that is 32× less hashing per (doc, shingle)
    row, and the min-aggregates run over longs instead of strings —
    measured 17.5 s → 3.4 s for the full prod-width candidate query at
    sf0.1. Spark decodes with ``conv`` (hex→decimal); the DuckDB twin
    uses the portable strpos-per-nibble decode of the same 8 chars."""
    return F.conv(F.substring(
        F.md5(F.concat(F.lit("mhbase|"), F.col("shingle"))), 1, 8),
        16, 10).cast("long")


def _minhash_cols_linear(n_hashes: int) -> list[Column]:
    """Min-aggregates of the linear permutations ``(aᵢ·v + bᵢ) mod
    (2^31−1)`` over the staged base-hash column ``_mhv`` — the classic
    universal-family MinHash (one strong base hash + cheap independent
    linear permutations), bit-reproducible in any engine with 64-bit
    integer arithmetic."""
    # r13 (guide §7.3 driver-side planning cost): each aggregate parses
    # as ONE JVM expression string instead of 6 py4j Column round trips
    # (~770 for 128 hashes) — measured 2.9 s → 0.3 s of construct at
    # prod width, same Remainder/Multiply/Add tree, bit-identical.
    return [
        F.expr(f"min(({a}L * _mhv + {b}L) % {MINHASH_P31}L) AS h{i}")
        for i, (a, b) in ((i, _linear_hash_params(i))
                          for i in range(n_hashes))]


def minhash_raw_signatures(df: DataFrame, id_col: str, text_col: str,
                           n_hashes: int = MINHASH_N,
                           hash_family: str = "md5slice",
                           shingles: DataFrame | None = None) -> DataFrame:
    """The UNBANDED ``(doc_id, h0..h{n-1})`` MinHash signature table —
    the banding-independent half of :func:`minhash_signatures`, split
    out (r13) so a grid sweep over band counts (:func:`tune_lsh_bands`)
    computes the n_hashes min-aggregates ONCE and re-bands the result
    per grid point instead of re-running the whole signature pass.

    ``shingles``: a caller-supplied (doc_id, shingle) table — composed
    pipelines (dedup_corpus) pin ONE shingle table and feed both the
    signature path and the Jaccard-verify path from it, saving a full
    tokenize+shingle+distinct corpus pass."""
    sh = (shingles if shingles is not None
          else shingle_table(df, id_col, text_col))
    if hash_family == "linear":
        # staged projection: the base digest is ONE named column the 128
        # min-aggregates reference — never re-inlined per aggregate
        staged = sh.select("doc_id", _minhash_base_col().alias("_mhv"))
        return staged.groupBy("doc_id").agg(*_minhash_cols_linear(n_hashes))
    if hash_family == "md5slice":
        return sh.groupBy("doc_id").agg(*_minhash_cols(n_hashes))
    raise ValueError(f"unknown hash_family={hash_family!r} "
                     "(md5slice | linear)")


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       n_hashes: int = MINHASH_N,
                       n_bands: int = MINHASH_BANDS,
                       hash_family: str = "md5slice",
                       shingles: DataFrame | None = None,
                       raw_sigs: DataFrame | None = None) -> DataFrame:
    """Per-document MinHash signature, banded for LSH.

    Returns ``(doc_id, band_0 … band_{B-1})`` where each band is the
    concatenation of ``n_hashes // n_bands`` adjacent minhashes. One
    groupBy(doc_id) — a single shuffle of (doc_id, shingle-hash) pairs.

    ``n_hashes``/``n_bands`` default to the toy 8/4 layout for oracle
    stability; production corpora typically run 128 hashes in 32 bands
    (r=4 → candidate threshold ~ (1/32)^(1/4) ≈ 0.42 Jaccard).

    ``hash_family`` picks the per-shingle hash scheme: ``"md5slice"``
    (default, original) spends one md5 per 4 hashes; ``"linear"`` spends
    ONE md5 per shingle total and derives every permutation as
    ``(aᵢ·v + bᵢ) mod (2^31−1)`` (:func:`_minhash_cols_linear`) — the
    production choice at 128 hashes (signatures 12 s → 3.8 s
    steady-state at sf0.1, long mins instead of string mins). Both families have width-parameterized
    DuckDB twins built from the same constant helpers.
    """
    if n_hashes % n_bands:
        raise ValueError(f"n_hashes={n_hashes} not divisible by "
                         f"n_bands={n_bands}")
    rows = n_hashes // n_bands
    sig = (raw_sigs if raw_sigs is not None
           else minhash_raw_signatures(df, id_col, text_col, n_hashes,
                                       hash_family, shingles))
    # one parsed expression per band (r13, guide §7.3): same concat_ws
    # tree as the Column form, ~6x fewer py4j round trips at 32 bands
    bands = [
        F.expr("concat_ws('|', "
               + ", ".join(f"h{b * rows + r}" for r in range(rows))
               + f") AS band_{b}")
        for b in range(n_bands)
    ]
    return sig.select("doc_id", *bands)


def minhash_candidates(df: DataFrame, id_col: str, text_col: str,
                       n_hashes: int = MINHASH_N,
                       n_bands: int = MINHASH_BANDS,
                       max_bucket: int | None = None,
                       hash_family: str = "md5slice",
                       shingles: DataFrame | None = None,
                       raw_sigs: DataFrame | None = None) -> DataFrame:
    """LSH candidate pairs: documents agreeing on ≥1 band.

    Melt signatures to (doc_id, band_pos, sig) and self-equi-join on the
    bucket key ``(band_pos, sig)`` — the LSH trick: only same-bucket rows
    ever pair, so candidate generation is O(bucket collisions), never
    O(n²). The join STREAMS a bucket's m(m-1)/2 pairs into the downstream
    pair aggregation as ordinary rows; nothing ever materializes a
    bucket's whole pair set inside one row (the earlier ``collect_list``
    + in-row nested-``transform`` expansion did exactly that — a
    degenerate bucket of a million near-identical template docs would
    build 5·10¹¹ structs in a single task's single row). The melted table
    is persisted so the signature subtree (tokenize → shingle → md5 mins)
    computes once and serves both join sides — same rationale as the
    shingle-table persist in :func:`ngram_jaccard_pairs`.

    ``max_bucket`` is the explicit skew valve: buckets larger than it are
    dropped whole BEFORE the join (a left-semi against the
    bucket-size keep-list, whose aggregation reuses the melted persist).
    A bucket that large is near-certainly an exact-dup template cluster —
    run :func:`exact_dedup` first (as :func:`dedup_corpus` does) and the
    survivors' buckets stay small; the cap is a guarantee, not the
    primary defense. ``None`` (default) keeps every bucket: output is
    exactly the classic banded-LSH candidate set, matching the DuckDB
    oracle (``oracle.minhash_candidates_sql``) which uses this same
    self-join shape. Returns ``(a_id, b_id, n_bands)``.
    """
    sigs = minhash_signatures(df, id_col, text_col, n_hashes, n_bands,
                              hash_family=hash_family, shingles=shingles,
                              raw_sigs=raw_sigs)
    melted = sigs.select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"band_{b}")
                               for b in range(n_bands)]))
        .alias("band_pos", "sig"),
    )
    melted = pin(melted)
    if max_bucket is not None:
        keep = (melted.groupBy("band_pos", "sig")
                .agg(F.count(F.lit(1)).alias("_m"))
                .filter(F.col("_m") <= max_bucket)
                .select("band_pos", "sig"))
        melted = melted.join(keep, ["band_pos", "sig"], "left_semi")
    a = melted.select("band_pos", "sig", F.col("doc_id").alias("a_id"))
    b = melted.select("band_pos", "sig", F.col("doc_id").alias("b_id"))
    return (a.join(b, ["band_pos", "sig"])
            .filter(F.col("a_id") < F.col("b_id"))
            .groupBy("a_id", "b_id")
            .agg(F.count(F.lit(1)).alias("n_bands")))


def simhash(df: DataFrame, id_col: str, text_col: str,
            bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-document ``bits``-bit SimHash over the distinct token set.

    Classic Charikar sketch: each token votes ±1 on every bit of its hash;
    the signature bit is the sign of the vote sum. Near-duplicate documents
    differ in few bits (compare with hamming distance downstream).

    Token hash = first ``bits/4`` hex chars of md5, decoded nibble-by-nibble
    with ``locate`` (portable across engines — the DuckDB oracle uses
    ``strpos`` identically). Distinct tokens per doc make the result
    order-independent. One explode + one groupBy(doc) with ``bits``
    conditional sums — a single shuffle, JVM-side throughout.

    ``bits`` defaults to the toy 16 for oracle stability; production runs
    64 (the md5 digest supplies up to 64 bits here; the signature is a
    single long, assembled with shift/or so bit 63 is valid as the sign
    bit).
    """
    if bits % 4 or not 4 <= bits <= 64:
        raise ValueError(f"bits={bits} must be a multiple of 4 in [4, 64]")
    n_nib = bits // 4
    toks = (
        df.select(F.col(id_col).alias("doc_id"),
                  F.explode(tokens_col(text_col)).alias("tok"))
        .distinct()
        .withColumn("h4", F.substring(F.md5(F.col("tok")), 1, n_nib))
    )
    # nibble value of hex char j+1 (1-indexed) of h4, decoded by position in
    # the digit string — portable to any SQL engine (DuckDB strpos), unlike
    # conv()
    nib = [
        F.expr(f"locate(substring(h4, {j + 1}, 1), '{HEX_DIGITS}') - 1")
        for j in range(n_nib)
    ]
    toks = toks.select(
        "doc_id",
        *[nib[j].alias(f"nib{j}") for j in range(n_nib)],
    )
    # bit b lives in nibble b//4 (hex char order = most-significant first),
    # at position b%4 counting from the LSB of that nibble
    # r13 (guide §7.3 driver-side planning cost): 64 bit-vote aggregates
    # and the 64-term shift/or fold each parse as ONE JVM expression
    # string instead of ~10 py4j Column calls per bit — same floor/%
    # arithmetic and CASE/shiftleft tree, bit-identical output; measured
    # ~5.3 s → ~1 s construct for the prod-width candidate query.
    bit_votes = [
        F.expr(f"sum((floor(nib{n_nib - 1 - b // 4} / {2 ** (b % 4)})"
               f" % 2) * 2 - 1) AS v{b}")  # LSB-first bit order
        for b in range(bits)]
    votes = toks.groupBy("doc_id").agg(*bit_votes)
    # shift/or assembly (not a sum of 2^b literals): identical for bits
    # < 64, and keeps bit 63 representable when bits == 64
    terms = " | ".join(
        f"(CASE WHEN v{b} >= 0 THEN shiftleft(CAST(1 AS BIGINT), {b})"
        f" ELSE CAST(0 AS BIGINT) END)" for b in range(bits))
    return votes.select(
        "doc_id", F.expr(f"CAST(({terms}) AS BIGINT) AS simhash"))


def simhash_candidates(df: DataFrame, id_col: str, text_col: str,
                       max_hamming: int = 3,
                       bits: int = SIMHASH_BITS,
                       n_bands: int = SIMHASH_BANDS) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance — banded-bits LSH.

    The signature alone doesn't finish the dedup job; this operator turns it
    into pairs without ever going n²: split each 16-bit signature into
    ``n_bands`` equal-width bands, bucket documents by (band_pos, band
    value), expand pairs inside each bucket (sorted ``collect_list`` →
    nested ``transform`` → ``explode`` — safe HERE because the expansion
    runs over distinct signatures, bounded by 2^bits, never over doc
    ids), then verify each candidate's exact hamming distance
    (``bit_count(xor)``) and keep ``≤ max_hamming``.

    For ``max_hamming ≤ n_bands - 1`` (default 3) the result is EXACT:
    by pigeonhole a pair within that distance shares an untouched band, so
    it lands in a common bucket — banding loses nothing, it only prunes the
    pair space. Returns ``(a_id, b_id, hamming)``.

    Scale shape: the bucket pair expansion runs over *distinct signatures*
    (≤ 2^bits values — template-heavy corpora collapse thousands of
    docs onto one signature, so this is orders of magnitude smaller than the
    doc count), and the doc-level pairs come from distributed equi-joins on
    the signature: within-signature groups (hamming 0) via a self-join,
    cross-signature pairs via joining the signature-pair list back twice.
    Nothing ever expands m² doc pairs inside a single bucket row.
    """
    if bits % n_bands:
        raise ValueError(f"bits={bits} not divisible by n_bands={n_bands}")
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"banded generation is only exact for max_hamming <= "
            f"n_bands-1 ({n_bands - 1}); got {max_hamming}")
    band_width = bits // n_bands
    sigs = simhash(df, id_col, text_col, bits)

    distinct_sigs = sigs.select("simhash").distinct()
    # shiftrightunsigned + mask (not floor-div/mod): identical for the
    # non-negative default signatures, and stays correct when bits == 64
    # sets the sign bit
    mask = F.lit((1 << band_width) - 1).cast("long")
    bands = distinct_sigs.select(
        "simhash",
        F.posexplode(F.array(*[
            F.shiftrightunsigned(F.col("simhash"), band_width * b)
            .bitwiseAND(mask).cast("long")
            for b in range(n_bands)])).alias("band_pos", "bv"))
    buckets = (bands.groupBy("band_pos", "bv")
               .agg(F.sort_array(F.collect_list("simhash")).alias("ss"))
               .filter(F.size("ss") > 1))
    sig_pairs = (buckets.select(F.explode(F.flatten(F.transform(
        F.col("ss"),
        lambda x, i: F.transform(
            F.slice(F.col("ss"), i + 2, F.size(F.col("ss"))),
            lambda y: F.struct(
                x.alias("sig_a"), y.alias("sig_b"),
                F.bit_count(x.bitwiseXOR(y))
                .cast("long").alias("hamming")))))).alias("p"))
        .select("p.sig_a", "p.sig_b", "p.hamming")
        .filter(F.col("hamming") <= max_hamming)
        .distinct())

    # hamming 0: all doc pairs within one signature group
    sa = sigs.select(F.col("doc_id").alias("a_id"), "simhash")
    sb = sigs.select(F.col("doc_id").alias("b_id"), "simhash")
    within = (sa.join(sb, "simhash")
              .filter(F.col("a_id") < F.col("b_id"))
              .select("a_id", "b_id", F.lit(0).cast("long").alias("hamming")))

    # hamming ≥ 1: expand each surviving signature pair to its doc pairs
    da = sigs.select(F.col("doc_id").alias("id_a"),
                     F.col("simhash").alias("sig_a"))
    db = sigs.select(F.col("doc_id").alias("id_b"),
                     F.col("simhash").alias("sig_b"))
    cross = (sig_pairs.join(da, "sig_a").join(db, "sig_b")
             .select(F.least("id_a", "id_b").alias("a_id"),
                     F.greatest("id_a", "id_b").alias("b_id"),
                     "hamming"))
    return within.unionByName(cross)


def dup_clusters(pairs: DataFrame, a: str = "a_id", b: str = "b_id",
                 max_iter: int = 12,
                 init_labels: DataFrame | None = None,
                 init_label_col: str = "cluster_id") -> DataFrame:
    """Connected components over a duplicate-pair edge list: every node gets
    ``cluster_id`` = the smallest node id in its component. Completes the
    dedup pipeline: candidate PAIRS (from :func:`minhash_candidates` /
    :func:`ngram_jaccard_pairs`) → duplicate GROUPS (keep min id per
    cluster, drop the rest).

    Distributed min-label propagation with pointer-doubling: each round a
    node takes the min label among itself and its neighbors, where the edge
    set is augmented with the current (node → label) links — the
    label-compression trick from the alternating large-star/small-star CC
    algorithm (Kiveris et al., "Connected Components in MapReduce"), giving
    O(log n) rounds instead of O(diameter). Near-dup components are
    near-cliques, so in practice this converges in 2-3 rounds.

    Scale shape per round: one equi-join (labels onto edge endpoints) + one
    groupBy(min) — both shuffle on node id, evenly distributed.
    ``localCheckpoint`` truncates the growing lineage each round (swap for
    reliable ``checkpoint()`` on a real cluster). Convergence is detected
    with a LIMIT-1 existence probe, not a full count. The fixpoint is
    iterative, but its result is value-oracled anyway: DuckDB's recursive
    CTE computes the same transitive closure (oracle.dup_clusters_sql).

    ``init_labels``: WARM START for a GROWING pair list — a
    ``(node, cluster_id)`` frame, typically the previous run's output
    (column renameable via ``init_label_col``). Known nodes start from
    their previous component minimum, new nodes from their own id; a
    near-converged start collapses the usual O(log n) rounds to the
    1-2 it takes the delta's merges to propagate. ADDITIONS ONLY: the
    label pointers keep previously-merged nodes connected, so the
    result equals the cold fixpoint exactly when every previous merge
    is still justified by the current edge set (the monotone regime of
    corpus dedup — documents arrive, candidate pairs accumulate);
    after edge DELETIONS run cold, min-label CC is not decremental.
    Same IVM-for-fixpoint-state move as ``pagerank(init_ranks=)``."""
    # materialize the pair list ONCE, before the symmetric union: its
    # lineage is typically the whole candidate-generation pipeline
    # (shingle→minhash→LSH), which would otherwise re-execute once per
    # union branch and once per fixpoint round (measured 11 s → 6 s for
    # the full sf0.1 pipeline)
    pairs = pairs.select(F.col(a).alias("u"), F.col(b).alias("v")) \
                 .localCheckpoint(eager=True)
    # (r13 note: a pre-partitioned+sorted pin of sym plus a 3-way split
    # of the pointer-doubling join — static edge branch against the pin,
    # node-sized forward branch, join-free backward branch — measured
    # 3.3x SLOWER end-to-end at sf0.1: the extra per-round stages and
    # barriers dominate the saved edge-side exchange at bench scale, so
    # the single-union single-join form below stays.)
    sym = pin(pairs.unionByName(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))))
    labels = (sym.select(F.col("u").alias("node")).distinct()
              .withColumn("label", F.col("node")))
    if init_labels is not None:
        labels = (labels.join(
            init_labels.select(F.col("node"),
                               F.col(init_label_col).alias("_l0")),
            "node", "left")
            .select("node", F.coalesce(F.col("_l0"), F.col("node"))
                    .alias("label")))
    for _ in range(max_iter):
        # pointer doubling: treat (node -> label) as extra edges both ways
        edges = sym.unionByName(
            labels.select(F.col("node").alias("u"),
                          F.col("label").alias("v"))
        ).unionByName(
            labels.select(F.col("label").alias("u"),
                          F.col("node").alias("v"))
        )
        # r14 (guide §2.4, the LPA self-vote move): the node's OWN label
        # rides the vote stream as a self row instead of being
        # re-attached by a node-sized left join after the aggregate —
        # min over {pointer-doubled neighbor labels} ∪ {own label} IS
        # least(old, min_nbr), and the self row carries the old label
        # through the aggregate so the changed-flag needs no second
        # labels read. Groups whose u is a label-only endpoint (the
        # (label -> node) doubling rows can introduce u values outside
        # the node set) carry no self row and are dropped by the _has
        # filter — exactly the rows the old inner-side-of-left-join
        # discarded. One labels-sized shuffle join per round removed.
        votes = (edges.join(labels.select(F.col("node").alias("v"),
                                          F.col("label").alias("vlabel")),
                            "v")
                 .select("u", "vlabel", F.lit(False).alias("_self"))
                 .unionByName(labels.select(
                     F.col("node").alias("u"),
                     F.col("label").alias("vlabel"),
                     F.lit(True).alias("_self"))))
        # carry a changed-flag INTO the checkpoint: the convergence probe
        # then reads the already-materialized partitions with an
        # early-exit limit(1) instead of costing a join job per round
        flagged = (votes.groupBy("u")
                   .agg(F.min("vlabel").alias("_new"),
                        F.max(F.when(F.col("_self"), F.col("vlabel")))
                        .alias("_old"),
                        F.max("_self").alias("_has"))
                   .filter(F.col("_has"))
                   .select(F.col("u").alias("node"), "_new",
                           (F.col("_new") != F.col("_old")).alias("_chg"))
                   .localCheckpoint(eager=True))
        stable = flagged.filter(F.col("_chg")).limit(1).isEmpty()
        labels = flagged.select("node", F.col("_new").alias("label"))
        if stable:
            break
    return labels.select(F.col("node"), F.col("label").alias("cluster_id"))


def cluster_keepers(clusters: DataFrame, scores: DataFrame,
                    id_col: str = "node", cluster_col: str = "cluster_id",
                    scores_id_col: str | None = None,
                    score_col: str = "quality") -> DataFrame:
    """Quality-aware survivor selection for duplicate clusters: keep each
    cluster's HIGHEST-QUALITY member instead of the structural
    smallest-id canonical — what production dedup actually does (near-dup
    groups often mix a clean original with truncated/boilerplate copies;
    min-id keeps an arbitrary one, this keeps the best one).

    ``clusters``: ``(id, cluster)`` membership (e.g. :func:`dup_clusters`
    output, or exact-dup fingerprint groups); ``scores``: ``(id, score)``
    (e.g. ``text.quality_score``). Returns ``(cluster_id, keeper_id,
    best_score, n_members)``. The keeper is ``max`` over the
    ``(score, id)`` struct — lexicographic tuple order, ties toward the
    larger id: a total order, so the selection is deterministic, and the
    same construct exists verbatim in DuckDB (``max((s, id))``), which
    is what makes the value oracle possible (its ``arg_max``/``max_by``
    don't take composite sort keys).

    Scale: one skinny equi-join on id + one map-side-combined aggregate
    on the cluster key; nothing corpus-sized is held anywhere."""
    sid = scores_id_col or id_col
    # NULL score ≡ -inf: the row still counts as a member but can only
    # win when every member is unscored — a defined total order on both
    # engines (engine-native NULL-inside-struct ordering differs between
    # Spark and DuckDB, so it must never reach the max)
    joined = (clusters.select(F.col(id_col).alias("_id"),
                              F.col(cluster_col).alias("cluster_id"))
              .join(scores.select(F.col(sid).alias("_id"),
                                  F.coalesce(
                                      F.col(score_col).cast("double"),
                                      F.lit(float("-inf"))).alias("_s")),
                    "_id"))
    return (joined.groupBy("cluster_id")
            .agg(F.max(F.struct(F.col("_s").alias("s"),
                                F.col("_id").alias("i"))).alias("_best"),
                 F.count(F.lit(1)).alias("n_members"))
            .select("cluster_id",
                    F.col("_best.i").alias("keeper_id"),
                    F.round(F.col("_best.s"), 6).alias("best_score"),
                    "n_members"))


def dedup_corpus(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text",
                 jaccard_threshold: float = 0.5,
                 max_df: int | None = None) -> DataFrame:
    """End-to-end corpus deduplication — the single composed call a
    training-data pipeline makes, instead of wiring the primitives by hand:

    1. **exact** — fingerprint groupBy collapses byte-identical (after
       normalization) docs onto the smallest id (:func:`exact_dedup`
       semantics). Running this FIRST also protects the LSH buckets from
       the m² blow-up of massive identical clusters (the skew note on
       :func:`minhash_candidates`).
    2. **near-dup candidates** — MinHash-LSH banding over the exact
       survivors only (:func:`minhash_candidates`).
    3. **verify** — exact shingle-Jaccard computed for candidate pairs
       only (the intersection join expands each pair by its shingle count,
       never the corpus), kept at ``jaccard >= jaccard_threshold``.
    4. **cluster** — connected components over the verified edge list
       (:func:`dup_clusters`), canonical = smallest id in the component.

    Returns one row per input doc: ``(doc_id, canonical_id,
    is_canonical)`` — ``filter(is_canonical)`` is the deduplicated corpus,
    the rest maps every dropped doc to its surviving representative.
    The fixpoint inside is iterative, but the composed result is
    value-oracled via a DuckDB recursive-CTE closure
    (oracle.dedup_corpus_sql); semantics are pytest-verified against a
    hand-built duplicate corpus.
    """
    from qvarn_mr_spark.functions.text import fingerprint

    df = ensure_min_partitions(df)
    fp = df.select(F.col(id_col).alias("doc_id"),
                   fingerprint(F.col(text_col)).alias("fp"))
    exact = fp.groupBy("fp").agg(F.min("doc_id").alias("keeper_id"))
    doc2keeper = fp.join(exact, "fp").select("doc_id", "keeper_id")
    keepers = df.join(
        doc2keeper.filter(F.col("doc_id") == F.col("keeper_id"))
        .select(F.col("doc_id").alias("_keep_id")),
        F.col(id_col) == F.col("_keep_id"), "left_semi")

    # ONE pinned shingle table feeds both the LSH signature path and the
    # Jaccard-verify path below — previously each built its own
    # identical subtree, i.e. two tokenize+shingle+distinct corpus
    # passes per dedup call
    sh = pin(shingle_table(keepers, id_col, text_col))
    cand = minhash_candidates(keepers, id_col, text_col, shingles=sh) \
        .select("a_id", "b_id")
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa = sh.select(F.col("doc_id").alias("a_id"), "shingle")
    sb = sh.select(F.col("doc_id").alias("b_id"), "shingle")
    inter = (cand.join(sa, "a_id").join(sb, ["b_id", "shingle"])
             .groupBy("a_id", "b_id")
             .agg(F.count(F.lit(1)).alias("n_common")))
    ca = counts.select(F.col("doc_id").alias("a_id"),
                       F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("b_id"),
                       F.col("n_sh").alias("n_b"))
    # corpus-cardinality sides: no broadcast hint (see ngram_jaccard_pairs)
    edges = (inter.join(ca, "a_id")
             .join(cb, "b_id")
             .filter(F.col("n_common")
                     / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
                     >= jaccard_threshold)
             .select("a_id", "b_id"))

    clusters = dup_clusters(edges)   # (node, cluster_id), keepers only
    keeper_canon = doc2keeper.join(
        clusters, doc2keeper["keeper_id"] == clusters["node"], "left") \
        .select("doc_id",
                F.coalesce(F.col("cluster_id"), F.col("keeper_id"))
                .alias("canonical_id"))
    return keeper_canon.select(
        "doc_id", "canonical_id",
        (F.col("doc_id") == F.col("canonical_id")).alias("is_canonical"))


def substring_dedup(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", k: int = 8,
                    min_count: int = 2) -> DataFrame:
    """Exact substring deduplication (the Lee et al. "Deduplicating
    Training Data" operator, k-gram-seeded): remove every token covered
    by a ``k``-token gram whose VERBATIM occurrence count across the
    whole corpus is ≥ ``min_count`` — any duplicated span of length ≥ k
    is covered by such grams at every offset, so duplicated spans vanish
    while unique text survives. Returns ``(doc_id, text, n_tokens,
    n_removed)`` with the surviving tokens of the NORMALIZED text
    (lowercased, punctuation-split) rejoined in order.

    Scale shape: positional k-grams explode once (|tokens| rows, no
    distinct); the duplicated-gram set comes from one hash aggregate on
    the gram; covered positions join back per doc and the token array is
    filtered in place by index — like line_dedup, no reassembly shuffle,
    no pairwise comparisons anywhere (cost is linear in corpus tokens +
    Σ duplicated-gram occurrences)."""
    # materialize the token array ONCE behind a projection boundary: the
    # gram transform below references it per position inside a lambda,
    # and inlined (un-staged) that re-ran the whole lower/split/filter
    # tokenize per gram — a ~|tokens|× blowup measured 10.9 s → 1.6 s at
    # sf0.1. CollapseProject keeps the stage (non-cheap expr referenced
    # more than once, SPARK-36718 — same staging as text.profile_frame).
    base = df.select(F.col(id_col).alias("doc_id"),
                     tokens_col(text_col).alias("_t"))
    t = F.col("_t")
    # shuffle key = 16-hex md5 prefix of the gram, not the gram text:
    # the positional explode is |corpus tokens| rows and the gram string
    # is ~5k bytes wide — the fixed 16-byte key roughly halves both
    # shuffles (count agg + dup join). md5 keeps the DuckDB oracle in
    # lockstep; a 64-bit prefix collision needs ~2^32 distinct grams.
    grams = base.select(
        "doc_id",
        F.explode(F.when(
            F.size(t) >= k,
            F.transform(
                F.sequence(F.lit(0), F.size(t) - k),
                lambda i: F.struct(
                    i.alias("start"),
                    F.substring(F.md5(
                        F.concat_ws(" ", F.slice(t, i + 1, k))), 1, 16)
                    .alias("g"))))
            .otherwise(F.array().cast(
                "array<struct<start:int,g:string>>"))).alias("s"))
    grams = grams.select("doc_id", "s.start", "s.g")
    dup = (grams.groupBy("g")
           .agg(F.count(F.lit(1)).alias("_n"))
           .filter(F.col("_n") >= min_count)
           .select("g"))
    covered = (grams.join(dup, "g")
               .select("doc_id",
                       F.explode(F.sequence(
                           F.col("start"),
                           F.col("start") + (k - 1))).alias("pos")))
    bad = covered.groupBy("doc_id").agg(
        F.array_sort(F.collect_set("pos")).alias("_bad"))
    badc = F.coalesce(F.col("_bad"), F.array().cast("array<int>"))
    kept = F.filter(t, lambda x, i: ~F.array_contains(badc, i))
    return (base.join(bad, "doc_id", "left")
            .select("doc_id",
                    F.concat_ws(" ", kept).alias("text"),
                    F.size(t).cast("long").alias("n_tokens"),
                    (F.size(t) - F.size(kept)).cast("long")
                    .alias("n_removed")))


def expr_let(bound: Column, body) -> Column:
    """Expression-level let-binding: evaluate ``bound`` ONCE per row and
    hand it to ``body`` as a lambda variable (a ``transform`` over a
    one-element array). Lambda-variable references are cheap bound reads,
    so an expensive subtree referenced many times inside a pure Column
    expression costs one evaluation instead of one per reference — the
    Column-level analogue of the projection staging in
    ``text.profile_frame`` (usable where no projection boundary exists,
    e.g. inside a map-handler key expression)."""
    return F.get(F.transform(F.array(bound), body), 0)


def band_bucket_key(pos, sig) -> Column:
    """The LSH bucket-key string ``"{band_pos}|{sig}"`` from a band
    position and a pre-joined signature column (the ``band_{b}`` columns
    of :func:`minhash_signatures`) — THE format
    :func:`minhash_band_keys_col` emits and every maintained index /
    probe joins on. Corpus-side index builders that bootstrap from the
    batch signature pipeline derive their ``_mr_key`` through this one
    helper so the format cannot drift from the per-row Column form
    (their equality is pytest-pinned)."""
    pos = F.col(pos) if isinstance(pos, str) else pos
    sig = F.col(sig) if isinstance(sig, str) else sig
    return F.concat_ws("|", pos, sig)


def minhash_band_keys_col(text_col: Column | str,
                          n_hashes: int = MINHASH_N,
                          n_bands: int = MINHASH_BANDS) -> Column:
    """Per-ROW LSH band-bucket keys as one ``array<string>`` Column — the
    Column-expression twin of :func:`minhash_signatures` (same seeds,
    digest slices, and band concatenation; equality is pytest-pinned), so
    a single document's bucket keys are computable without the corpus
    shuffle. This is what lets the LSH index live as a *maintained view*:
    a CDC delta maps each changed doc to its keys in a narrow projection.

    Key format ``"{band_pos}|h|h"``; documents shorter than the shingle
    width produce an empty array (mirroring the signature pipeline, which
    drops them — and avoiding a catch-all bucket of short docs)."""
    if n_hashes % n_bands:
        raise ValueError(f"n_hashes={n_hashes} not divisible by "
                         f"n_bands={n_bands}")
    rows = n_hashes // n_bands
    n_seeds = (n_hashes + 3) // 4

    def keys_from(sh: Column) -> Column:
        # let-bind the per-seed md5 digest arrays too: each digest array
        # is sliced by four band hashes, and without the binding every
        # slice re-hashed the whole shingle set (measured 11.6 s → 2.4 s
        # for the corpus key explode at sf0.1)
        def digest(seed: str) -> Column:
            return F.transform(
                sh, lambda s: F.md5(F.concat(F.lit(f"{seed}|"), s)))

        digs = F.array(*[digest(_minhash_seed(j)) for j in range(n_seeds)])

        def bands_from(ds: Column) -> Column:
            def h(i: int) -> Column:
                off = 1 + 8 * (i % 4)
                return F.array_min(F.transform(
                    F.get(ds, i // 4), lambda d: F.substring(d, off, 8)))

            return F.array(*[
                F.concat_ws("|", F.lit(str(b)),
                            *[h(b * rows + r) for r in range(rows)])
                for b in range(n_bands)
            ])

        return F.when(F.size(sh) > 0, expr_let(digs, bands_from)) \
                .otherwise(F.array().cast("array<string>"))

    return expr_let(F.array_distinct(shingles_col(text_col)), keys_from)


def lsh_index_views(source: str = "documents", id_col: str = "doc_id",
                    text_col: str = "text", n_hashes: int = MINHASH_N,
                    n_bands: int = MINHASH_BANDS,
                    index_name: str = "lsh_buckets",
                    stats_name: str | None = None) -> dict:
    """ViewEngine config fragment for a MAINTAINED LSH dedup index in
    the NORMALIZED representation (VERDICT r10 item 1): ``index_name``
    is a MAP view holding one ``(_mr_key = band_bucket, _mr_value =
    doc_id)`` row per (document, band) — never a ``collect_set`` member
    array, so no bucket's row can grow with bucket size and a hot
    bucket never funnels into one reducer task or a 2 GB row.

    Driven by the incremental engine, a CDC delta costs O(delta):
    changed docs re-map to ≤ ``n_bands`` rows each (delete-then-insert,
    T2), deletes drop the doc's rows (T3), and a pure-insert
    batch commits through the bucketed store's append fast path —
    commit cost scales with the delta, not with any bucket's
    population (tests/test_index_scale.py). The companion
    ``{index_name}__stats`` view maintains per-bucket member counts
    algebraically (count + MERGE_ADD) — the maintained-index
    observability valve, same discipline as the batch pipeline's
    ``max_bucket`` cap (monitor ``max(n_docs)``, refit bands when a
    catch-all bucket emerges). The batch equivalent
    (:func:`minhash_candidates`) rescans the corpus; this is the
    streaming-dedup shape for a 100 TB corpus with a trickle of
    updates. View names are derived from the (necessarily unique)
    ``index_name``, so fragments over the same source merge without
    colliding."""
    from qvarn_mr_spark.operators.mapreduce import (
        MERGE_ADD,
        map_expr,
        reduce_agg,
    )
    keys = minhash_band_keys_col(text_col, n_hashes, n_bands)
    sname = stats_name or f"{index_name}__stats"
    return {
        index_name: {source: map_expr(
            key=keys, value=F.col(id_col), explode_key=True)},
        sname: {index_name: reduce_agg(
            {"n_docs": lambda c: F.count(F.lit(1))},
            merge={"n_docs": MERGE_ADD})},
    }


def probe_lsh_index(delta: DataFrame, index: DataFrame, id_col: str,
                    text_col: str, n_hashes: int = MINHASH_N,
                    n_bands: int = MINHASH_BANDS,
                    push_keys: int | None = 4096) -> DataFrame:
    """Near-dup candidates for a (delta-sized) batch of documents against
    a maintained LSH index (the normalized ``index_name`` table of
    :func:`lsh_index_views`, read via ``IncrementalEngine.read``).

    The delta's band keys equi-join the per-member index rows into
    ``(probe_id, member_id, n_bands)`` pairs (self-pairs dropped,
    ``n_bands`` = shared buckets) — a join, never an array explode, so
    a hot bucket parallelizes across tasks instead of unpacking inside
    one. Cost is O(delta · bucket size) — the corpus is touched only
    through the bucket rows the delta hashes into, never rescanned.
    Probing the full corpus reproduces the batch
    :func:`minhash_candidates` pair set (each pair seen from both sides).

    ``push_keys``: when the delta's distinct band-key count is at most
    this bound, the probe EAGERLY collects the keys (pinned frame, one
    delta-sized job at call time — the :func:`~qvarn_mr_spark.functions.
    similarity.probe_ivf_index` discipline) and pushes them into the
    index scan as a literal ``_mr_key IN`` predicate, so parquet
    row-group statistics skip unprobed buckets' files instead of
    scanning the whole index per probe batch. ``None`` disables (plan
    stays fully lazy; the join alone still touches only matching rows
    after the scan)."""
    # spread the delta first: it often arrives as ONE file/partition, and
    # the per-row key expression (nested higher-order functions, runs
    # interpreted) would otherwise serialize on a single task
    keys = ensure_min_partitions(delta).select(
        F.col(id_col).alias("probe_id"),
        F.explode(minhash_band_keys_col(text_col, n_hashes, n_bands))
        .alias("_mr_key"))
    members = index.select(
        "_mr_key", F.col("_mr_value").alias("member_id"))
    members, keys = _push_probe_keys(keys, members, push_keys)
    return (keys.join(members, "_mr_key")
            .filter(F.col("probe_id") != F.col("member_id"))
            .groupBy("probe_id", "member_id")
            .agg(F.count(F.lit(1)).alias("n_bands")))


def _push_probe_keys(keys: DataFrame, members: DataFrame,
                     push_keys: int | None):
    """Shared probe-pruning step: collect the (delta-bounded) distinct
    probe keys and push them into the index side as a literal IN
    predicate — but only when they fit ``push_keys`` (an oversized
    literal list bloats the plan past what row-group skipping buys).
    Returns the possibly-filtered ``(members, keys)`` pair; ``keys``
    comes back pinned when the collect ran, so routing never executes
    twice."""
    if push_keys is None:
        return members, keys
    from qvarn_mr_spark.session import serve_pin
    keys = serve_pin(keys)
    probed = [r["_mr_key"] for r in
              keys.select("_mr_key").distinct()
              .limit(int(push_keys) + 1).collect()]
    if len(probed) <= int(push_keys):
        members = members.filter(F.col("_mr_key").isin(probed))
    return members, keys


def lsh_gate_batch(batch: DataFrame, index: DataFrame,
                   id_col: str = "doc_id", text_col: str = "text",
                   n_hashes: int = MINHASH_N,
                   n_bands: int = MINHASH_BANDS,
                   min_bands: int = 1, mode: str = "drop",
                   push_keys: int | None = 4096) -> DataFrame:
    """Near-dup gate for ONE (micro-)batch of documents against a
    maintained LSH index (r13, VERDICT r12 #7): probe the normalized
    index with :func:`probe_lsh_index` — O(delta · bucket size), with
    the delta's band keys pushed into the index scan as a literal
    ``IN`` when they fit ``push_keys`` — then drop (``mode="drop"``)
    or mark (``mode="flag"``, boolean ``lsh_collided`` column) every
    batch doc that shares at least ``min_bands`` band buckets with a
    DIFFERENT indexed doc. This is the foreachBatch twin of
    ``corpus_gate_stream(lsh_index=…)``'s per-band anti-join chain:
    identical survivor set at ``min_bands=1`` (pytest-pinned), but one
    index touch per batch instead of one per band, plus the pruned
    scan — the shape to run inside a streaming sink at corpus scale.
    ``min_bands > 1`` tightens the gate to the multi-band collision
    threshold (not expressible in the stateless stream form)."""
    if mode not in ("drop", "flag"):
        raise ValueError(f"lsh_gate_batch: unknown mode {mode!r}")
    cands = probe_lsh_index(batch, index, id_col, text_col,
                            n_hashes, n_bands, push_keys)
    collided = (cands.filter(F.col("n_bands") >= int(min_bands))
                .select(F.col("probe_id").alias(id_col)).distinct())
    if mode == "drop":
        return batch.join(collided, id_col, "left_anti")
    return (batch.join(
                collided.withColumn("lsh_collided", F.lit(True)),
                id_col, "left")
            .withColumn("lsh_collided",
                        F.coalesce(F.col("lsh_collided"), F.lit(False))))


def tune_lsh_bands(df: DataFrame, id_col: str, text_col: str,
                   n_hashes: int = 128, bands_grid=(8, 16, 32),
                   threshold: float = 0.4, min_common: int = 2,
                   hash_family: str = "linear",
                   digits: int = 6,
                   max_pairs: int | None = 50_000_000) -> DataFrame:
    """Recall/precision-driven LSH banding tuner — the MinHash sibling
    of :func:`~qvarn_mr_spark.functions.similarity.tune_nprobe`: sweep
    a bands grid and report, per grid point, how much of the EXACT
    near-dup pair set (word-k-gram Jaccard >= ``threshold``, the
    ground truth :func:`ngram_jaccard_pairs` computes) the banded
    candidates recover, and at what candidate volume — the
    bands-vs-cost dial of a production dedup pass answered ON the
    engine.

    One shingle pass for everything: the pinned shingle table feeds
    the ground truth AND every grid point's signatures (the
    ``shingles=`` hook :func:`dedup_corpus` uses). Each grid point is
    one banded self-join over the shared signature subtree; when every
    band width divides the next (e.g. 8/16/32 bands over 128 hashes),
    the candidate sets are NESTED — agreeing on a width-16 band implies
    agreeing on both width-8 halves — so recall and candidate count are
    monotone in n_bands by construction (pinned by test).

    Deterministic end to end (md5 shingles, linear-family permutations,
    integer counts), so the whole table is value-oracled
    (``oracle.tune_lsh_bands_sql``). Returns one row per grid point:
    ``(n_bands, band_width, n_candidates, n_true, prec, recall)`` —
    ``n_true`` = candidates that are real near-dups, ``prec`` NULL when
    a grid point yields no candidates, ``recall`` NULL when the corpus
    has no true pairs at this threshold.

    ``max_pairs`` is the explicit scale valve (same role as
    :func:`~qvarn_mr_spark.operators.graph.triangle_count`'s
    ``max_wedges``): the tuner's GROUND TRUTH is the exact
    Σ_shingle df(s)·(df(s)-1)/2 self-join of
    :func:`ngram_jaccard_pairs` — sample-sized by intent, quadratic in
    any hot shingle's document frequency. The valve computes that pair
    count up front from the shingle-df table (one bounded aggregate)
    and refuses past the cap rather than silently launching a
    corpus-sized quadratic job; tune on a sample
    (``df.sample(...)``/``df.limit(...)``) or raise the cap."""
    grid = sorted({int(b) for b in bands_grid})
    if not grid or grid[0] < 1:
        raise ValueError(f"tune_lsh_bands: invalid bands grid "
                         f"{bands_grid!r}")
    for b in grid:
        if n_hashes % b != 0:
            raise ValueError(f"tune_lsh_bands: n_bands={b} does not "
                             f"divide n_hashes={n_hashes}")
    sh = pin(shingle_table(df, id_col, text_col))
    if max_pairs is not None:
        n_pairs = (sh.groupBy("shingle")
                   .agg(F.count(F.lit(1)).alias("_df"))
                   .agg(F.coalesce(
                       F.sum(F.col("_df") * (F.col("_df") - 1) / 2),
                       F.lit(0.0)).alias("p"))
                   .collect()[0]["p"])
        if n_pairs > max_pairs:
            raise ValueError(
                f"tune_lsh_bands: the exact ground-truth join would "
                f"expand {int(n_pairs)} shingle-pairs, exceeding "
                f"max_pairs={max_pairs}; tune on a sample "
                f"(df.sample(fraction=...) or df.limit(n)) — banding "
                f"recall/precision is a corpus-level property a sample "
                f"estimates well — or raise the cap.")
    truth = pin(ngram_jaccard_pairs(df, id_col, text_col,
                                    min_common=min_common)
                .filter(F.col("jaccard") >= float(threshold))
                .select("a_id", "b_id"))
    n_truth = truth.count()                       # one scalar, bounded
    # ONE signature pass for the whole grid (r13): the n_hashes
    # min-aggregates are band-count-independent — each grid point only
    # re-concatenates the pinned raw signature table into its own band
    # layout (previously every grid point re-ran tokenize→hash→min over
    # the shingle table: |grid|−1 redundant corpus aggregations)
    raw = pin(minhash_raw_signatures(df, id_col, text_col,
                                     n_hashes=n_hashes,
                                     hash_family=hash_family,
                                     shingles=sh))
    out = None
    for b in grid:
        cand = minhash_candidates(df, id_col, text_col,
                                  n_hashes=n_hashes, n_bands=b,
                                  hash_family=hash_family,
                                  shingles=sh,
                                  raw_sigs=raw).select("a_id", "b_id")
        cand = pin(cand)
        nc = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
        nt = (cand.join(truth, ["a_id", "b_id"], "left_semi")
              .agg(F.count(F.lit(1)).alias("n_true")))
        row = (nc.crossJoin(nt).select(
            F.lit(b).alias("n_bands"),
            F.lit(n_hashes // b).alias("band_width"),
            "n_candidates", "n_true",
            F.when(F.col("n_candidates") > 0,
                   F.round(F.col("n_true")
                           / F.col("n_candidates").cast("double"),
                           digits)).alias("prec"),
            (F.round(F.col("n_true") / F.lit(float(n_truth)), digits)
             if n_truth > 0 else F.lit(None).cast("double"))
            .alias("recall")))
        out = row if out is None else out.unionByName(row)
    return out
