"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard
(BASELINE.json north star — training-data pipeline ops).

Scale design (the 100 TB story):
- *Exact*: hash-groupBy on a fingerprint — one shuffle keyed by a 128-bit
  digest, no text comparison, arbitrary-size corpora.
- *MinHash+LSH*: per-doc signatures are one explode + one groupBy (map-side
  partial mins); banding turns O(n²) candidate generation into equality
  self-joins on (band, bucket) — each bucket is tiny, so the join output is
  near-linear.  Signatures are md5-derived ints so results are engine- and
  partitioning-independent (and DuckDB-reproducible for the oracle gate).
- *SimHash*: 32 conditional sums in ONE groupBy pass (no per-bit shuffle).
- *n-gram Jaccard*: exact verification applied only to bounded candidate
  sets (LSH buckets or key-blocked pairs), never all-pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import normalize, tokens
from ..ckpt import ckpt

N_SEEDS = 16  # minhash permutations
N_BANDS = 4  # LSH bands (rows per band = N_SEEDS // N_BANDS)
ROWS_PER_BAND = N_SEEDS // N_BANDS


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def h32(col: Column | str, seed: int) -> Column:
    """Seeded 32-bit hash: first 8 md5 hex chars of 'seed:value' as bigint.

    md5-based (not xxhash64) so any SQL engine reproduces it exactly —
    the portability requirement for the oracle gate.
    """
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), _c(col))), 1, 8), 16, 10
    ).cast("bigint")


# Universal-hash permutation family for MinHash: h_s(x) = (a_s·h(x) + b_s) mod P
# with ONE md5 base hash per shingle instead of one md5 per (shingle, seed) —
# 16× less hashing in the scan stage.  a_s is 28-bit so a·h < 2^60 (no BIGINT
# overflow); constants are md5-derived so the oracle regenerates them.
MINHASH_PRIME = 4294967311  # smallest prime > 2^32


def _perm_constants(n_seeds: int) -> list[tuple[int, int]]:
    import hashlib

    out = []
    for s in range(n_seeds):
        a = int(hashlib.md5(f"a{s}".encode()).hexdigest()[:7], 16) | 1
        b = int(hashlib.md5(f"b{s}".encode()).hexdigest()[:8], 16)
        out.append((a, b))
    return out


PERMS = _perm_constants(N_SEEDS)


def base_hash(col: Column | str) -> Column:
    """Unseeded 32-bit md5 hash (bigint)."""
    return F.conv(F.substring(F.md5(_c(col)), 1, 8), 16, 10).cast("bigint")


def perm_hash(h: Column, seed: int) -> Column:
    """The seed-th universal-hash permutation of a base hash."""
    a, b = PERMS[seed]
    return (h * F.lit(a) + F.lit(b)) % F.lit(MINHASH_PRIME)


def ngrams_from_tokens(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles from an ALREADY-MATERIALIZED token array.

    ``toks`` must be a plain column reference (not the tokenization
    expression): the expression appears once per ``element_at`` inside the
    transform lambda, and Spark re-evaluates it each time — inlining the
    regex tokenizer here was measured 5× slower at sf0.1.  Hot paths
    project ``tokens(text)`` first (see ``_shingles``).
    """
    n_grams = F.size(toks) - (n - 1)
    # guard: sequence(1, 0) DESCENDS in Spark — short docs must yield [].
    idx = F.when(n_grams >= 1, F.sequence(F.lit(1), n_grams)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(n)]
        ),
    )
    return F.array_distinct(grams)


def word_ngrams(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles of the normalized text (distinct).

    Convenience single-expression form.  In hot paths prefer projecting
    ``tokens(col)`` to a column first and calling ``ngrams_from_tokens``
    on the reference (see that function's perf note).
    """
    return ngrams_from_tokens(tokens(col), n)


def _shingles(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, shingle) pairs with the token array materialized once per doc."""
    return df.select(
        F.col(id_col), tokens(text_col).alias("_toks")
    ).select(
        F.col(id_col),
        F.explode(ngrams_from_tokens(F.col("_toks"))).alias("shingle"),
    )


def exact_dedup(
    df: DataFrame, id_col: str, text_col: str, parallelism: int | None = None
) -> DataFrame:
    """Exact duplicate groups by md5 fingerprint of normalized text.

    Returns (fingerprint, rep_id, dup_count): representative = min id.
    One shuffle on the digest; never compares full texts.
    ``parallelism``: spread the md5+normalize work when the source scan
    yields too few partitions (single-row-group local files); at 100 TB the
    scan is already wide and this stays None (see minhash_signature).
    """
    if parallelism:
        df = df.repartition(parallelism)
    return (
        df.select(F.col(id_col), F.md5(normalize(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count("*").cast("bigint").alias("dup_count"),
        )
    )


def minhash_signature(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_seeds: int = N_SEEDS,
    parallelism: int | None = None,
) -> DataFrame:
    """MinHash signature: (id, mh0..mh{n-1}).

    One explode of distinct shingles + ONE md5 per shingle (the n_seeds
    permutations are cheap affine maps of that base hash), then ONE groupBy
    computing every per-seed min — map-side combine keeps the shuffle at
    |docs|·n_seeds values regardless of corpus size.

    Round 11: REVERTED to this (r9) form from round 10's zero-shuffle
    16-fold ``array_min`` variant.  The fold's per-row HOF cost beat the
    map-side-combined shuffle it removed: interleaved A/B at sf0.1 put
    the explode form ahead on d2/d13/x53/st20 (the driver's r10 bench
    showed the same direction: d3 0.85x, st20 0.60x with the fold), and
    unlike the explode shape its per-row CPU grows with document length
    where AQE cannot rebalance it (the phash/simhash cliff, ADVICE r10).
    Values are bit-identical either way (min over the same
    distinct-shingle set, same integer arithmetic).

    ``parallelism``: repartition the input first.  Set it when the source is
    a small file count (a single parquet file reads as one partition and the
    CPU-heavy hashing would run on one core); leave None when the input is
    already well-partitioned (100 TB scans are).
    """
    if parallelism:
        df = df.repartition(parallelism)
    sh = _shingles(df, id_col, text_col).withColumn("h", base_hash("shingle"))
    aggs = [
        F.min(perm_hash(F.col("h"), s)).alias(f"mh{s}") for s in range(n_seeds)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_buckets(
    sig: DataFrame,
    id_col: str,
    n_bands: int = N_BANDS,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """Band the signature: (id, band, bucket) — bucket = md5 of the band's
    minhash slice.  stack() unpivots without a join or shuffle."""
    band_exprs = []
    for b in range(n_bands):
        cols = [f"mh{b * rows_per_band + r}" for r in range(rows_per_band)]
        key = F.md5(F.concat_ws("-", *[F.col(c).cast("string") for c in cols]))
        band_exprs.append(F.struct(F.lit(b).alias("band"), key.alias("bucket")))
    return sig.select(
        F.col(id_col), F.explode(F.array(*band_exprs)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def bucket_sizes(buckets: DataFrame) -> DataFrame:
    """Per-(band, bucket) membership counts: (band, bucket, n_ids)."""
    return buckets.groupBy("band", "bucket").agg(
        F.count("*").cast("bigint").alias("n_ids")
    )


def oversized_buckets(buckets: DataFrame, max_bucket_size: int) -> DataFrame:
    """The (band, bucket, n_ids) rows a capped candidate join will skip.

    Callers MUST surface this (report/metric/sink) — the cap is skew
    protection, not silent truncation."""
    return bucket_sizes(buckets).where(F.col("n_ids") > max_bucket_size)


def candidate_pairs(
    buckets: DataFrame, id_col: str, max_bucket_size: int | None = None
) -> DataFrame:
    """LSH candidate pairs: ids sharing any (band, bucket), id_a < id_b,
    distinct across bands.  Equality self-join — shuffle on bucket key.

    ``max_bucket_size``: skew guard for real corpora.  A degenerate bucket
    (boilerplate shingles, empty docs, adversarial spam) of size m emits
    m·(m−1)/2 pairs — one hot bucket can dominate the whole job at 100 TB.
    With the cap set, buckets larger than ``max_bucket_size`` are excluded
    from pair generation (they are near-certain non-discriminative
    collisions, the standard LSH treatment); use :func:`oversized_buckets`
    to account for what was dropped.  The filter runs BEFORE the self-join
    — one extra aggregate on the already-shuffled bucket key, which AQE
    folds into the same exchange — so the quadratic blow-up never happens.
    """
    # localCheckpoint (round 10; LAZY since round 11 so the first
    # downstream action materializes it instead of a dedicated
    # construction-time job): every path below references ``buckets`` at
    # least twice (self-join sides; three times with the cap), and
    # callers re-reference the pair table across separate actions —
    # the leaf makes the corpus-wide shingle hashing run once and keeps
    # every downstream plan constant-size.  The banded table is
    # ~n_bands rows × ~50 B per doc — the standard materialized-LSH-index
    # shape at any scale.  (d14 measured 1.31x with the checkpoint in
    # the driver's r10 bench.)
    buckets = buckets.transform(ckpt)
    if max_bucket_size is not None:
        keep = bucket_sizes(buckets).where(
            F.col("n_ids") <= max_bucket_size
        ).select("band", "bucket")
        buckets = buckets.join(keep, ["band", "bucket"])
    a = buckets.select(
        F.col("band"), F.col("bucket"), F.col(id_col).alias("id_a")
    )
    b = buckets.select(
        F.col("band"), F.col("bucket"), F.col(id_col).alias("id_b")
    )
    # Broadcast adjudication (round-9 t14-class audit): the planner may
    # auto-broadcast one side of this self-join at small SF.  That is
    # CORRECT here, unlike t14's count tables: the banded table is a
    # fixed ~4 rows × ~50 B per corpus document, so Catalyst's
    # scan-ratio estimate tracks the true size within a small per-doc
    # constant in BOTH directions (long docs → estimate overshoots,
    # safe; degenerate short docs → undershoot bounded ~10×, tens of MB
    # at the 10 MB threshold) — there is no axis along which the
    # estimate stays "tiny" while the table grows unboundedly, which is
    # the defining divergence of the t14 class (row counts multiplied by
    # an explode the estimator cannot see).  At real corpus scale the
    # estimate crosses the threshold with the data and the join becomes
    # the canonical (band, bucket) shuffle on its own.
    # The sweep's broadcast audit (tests/plan_audits.py) whitelists it.
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard(col_a: Column, col_b: Column) -> Column:
    """Exact Jaccard over two (distinct-element) arrays."""
    inter = F.size(F.array_intersect(col_a, col_b))
    union = F.size(F.array_union(col_a, col_b))
    return F.when(union == 0, F.lit(0.0)).otherwise(
        inter.cast("double") / union.cast("double")
    )


def verified_pairs(docs: DataFrame) -> DataFrame:
    """The verified near-dup edge list of a ``documents`` frame:
    (id_a, id_b) with id_a < id_b and word-3-gram Jaccard ≥ 0.5.

    MinHash signatures → LSH candidates → exact Jaccard on the candidates
    only: the edge builder every near-dup graph query shares.  The
    signature's input parallelism is the session's default (see
    minhash_signature)."""
    grams = docs.select("doc_id", tokens("text").alias("_toks")).select(
        "doc_id", ngrams_from_tokens(F.col("_toks")).alias("grams")
    )
    sig = minhash_signature(
        docs,
        "doc_id",
        "text",
        parallelism=docs.sparkSession.sparkContext.defaultParallelism,
    )
    cand = candidate_pairs(lsh_buckets(sig, "doc_id"), "doc_id")
    ga = grams.select(F.col("doc_id").alias("id_a"), F.col("grams").alias("grams_a"))
    gb = grams.select(F.col("doc_id").alias("id_b"), F.col("grams").alias("grams_b"))
    return (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .where(jaccard(F.col("grams_a"), F.col("grams_b")) >= 0.5)
        .select("id_a", "id_b")
    )


def simhash32(
    df: DataFrame, id_col: str, text_col: str, parallelism: int | None = None
) -> DataFrame:
    """32-bit SimHash from md5-derived shingle hashes.

    For each bit: sum(+1 if set else −1) over the doc's shingles; bit set
    in the output iff the sum is positive.  All 32 sums ride ONE groupBy
    with map-side partial aggregation.

    Round 11: REVERTED to explode+groupBy from round 10's 32-fold
    ``F.aggregate`` form.  The fold removed a cheap map-side-combined
    shuffle but paid 32 interpreted HOF passes per doc — measured 0.67x
    on d5 at sf0.1 (driver bench), the exact cliff the phash stub's
    round-10 note recorded for dense shingle sets.  Values are
    bit-identical either way (±1 sums over the same distinct-shingle
    set).  ``parallelism``: see minhash_signature.
    """
    if parallelism:
        df = df.repartition(parallelism)
    sh = _shingles(df, id_col, text_col).withColumn("h", h32("shingle", 0))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(32)
    ]
    sums = sh.groupBy(id_col).agg(*aggs)
    sim = None
    for i in range(32):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(2**i).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sim = bit if sim is None else sim + bit
    return sums.select(F.col(id_col), sim.alias("simhash"))


def hamming32(a: Column, b: Column) -> Column:
    """Hamming distance between two 32-bit hashes stored as bigint."""
    return F.bit_count(a.bitwiseXOR(b))
